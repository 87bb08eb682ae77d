package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The driver-side Lloyd path (Similarity.lloydDriver, gated by
  * spark.graft.kmeans.driverMaxRows) must be BIT-IDENTICAL to the
  * distributed loop it replaces on small corpora — seeds, truncating-DIV
  * means (negatives included: Catalyst IntegralDivide truncates toward
  * zero), (dist², cell_id) tie-breaks, and empty-cell disappearance. The
  * oracle gate re-checks end to end; this spec pins the arithmetic at the
  * operator level for both the IVF trainer and the PQ codebook trainer. */
class KmeansParitySpec extends SparkSuite {

  // deterministic synthetic corpus with NEGATIVE coordinates (negative
  // per-cell sums exercise the truncation-direction edge) and sparse,
  // segmented ids (the seed-bucket edge the hash seeding exists for)
  private def corpus(n: Int, dims: Int) = {
    val s = sqlc
    import s.implicits._
    (0 until n).map { i =>
      val id = (i.toLong * 7919L + 13L) % 100000L + (i % 3) * 10000000L
      val vec = (0 until dims).map { d =>
        ((id * 31L + d * 17L) % 2000L - 1000L) / 997.0
      }
      (id, vec)
    }.toDF("vec_id", "embedding")
  }

  private def collectSorted(df: org.apache.spark.sql.DataFrame) =
    df.select("cell_id", "cv", "cn2").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toList, r.getLong(2)))
      .sortBy(_._1).toList

  test("kmeansCentroids: driver path == distributed path, negatives included") {
    val df = corpus(400, 16)
    val s = sqlc
    s.conf.set(Similarity.DriverMaxRowsKey, "131072")
    val driver = collectSorted(
      Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 8, iters = 3))
    s.conf.set(Similarity.DriverMaxRowsKey, "0") // force distributed
    val dist = collectSorted(
      Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 8, iters = 3))
    s.conf.unset(Similarity.DriverMaxRowsKey)
    assert(driver.nonEmpty)
    assert(driver === dist)
  }

  test("trainCodebooks: driver path == distributed path per subspace") {
    val df = corpus(300, 16)
    val s = sqlc
    def sorted(cb: org.apache.spark.sql.DataFrame) =
      cb.select("sub_id", "cell_id", "cv", "cn2").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toList,
          r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toList
    s.conf.set(Similarity.DriverMaxRowsKey, "131072")
    val driver = sorted(Pq.trainCodebooks(df, "vec_id", "embedding",
      numSubspaces = 4, cellsPerSub = 8, iters = 3))
    s.conf.set(Similarity.DriverMaxRowsKey, "0")
    val dist = sorted(Pq.trainCodebooks(df, "vec_id", "embedding",
      numSubspaces = 4, cellsPerSub = 8, iters = 3))
    s.conf.unset(Similarity.DriverMaxRowsKey)
    assert(driver.nonEmpty)
    assert(driver === dist)
  }

  test("driver gate: corpus past driverMaxRows falls back (same result)") {
    val df = corpus(200, 8)
    val s = sqlc
    s.conf.set(Similarity.DriverMaxRowsKey, "50") // 200 rows > 50 → distributed
    val a = collectSorted(
      Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 4, iters = 2))
    s.conf.set(Similarity.DriverMaxRowsKey, "131072")
    val b = collectSorted(
      Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 4, iters = 2))
    s.conf.unset(Similarity.DriverMaxRowsKey)
    assert(a === b)
  }

  test("driver gate: a null vector sends both trainers to the distributed loop") {
    val s = sqlc
    import s.implicits._
    // first row null: the driver gate read probe(0)'s vector unguarded
    val df = corpus(200, 8).as[(Long, Seq[Double])].collect().toSeq
      .zipWithIndex.map { case ((id, v), i) => (id, if (i == 0) null else v) }
      .toDF("vec_id", "embedding")
    def both[T](train: => T): (T, T) = {
      s.conf.set(Similarity.DriverMaxRowsKey, "131072")
      try {
        val driver = train
        s.conf.set(Similarity.DriverMaxRowsKey, "0")
        (driver, train)
      } finally s.conf.unset(Similarity.DriverMaxRowsKey)
    }
    val (kd, kdist) = both(collectSorted(
      Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 4, iters = 2)))
    assert(kd.nonEmpty)
    assert(kd === kdist)
    // the distributed PQ loop reads its dims from a null row and rejects
    // the corpus; the driver gate must now fail the same way, not NPE
    def codebooks = intercept[RuntimeException](
      Pq.trainCodebooks(df, "vec_id", "embedding",
        numSubspaces = 2, cellsPerSub = 4, iters = 2)) match {
      case e: org.apache.spark.SparkThrowable => e.getCondition
      case e => e.toString
    }
    val (cd, cdist) = both(codebooks)
    assert(cd === "ROW_VALUE_IS_NULL")
    assert(cd === cdist)
  }
}
