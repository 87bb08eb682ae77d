package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.SparkEntry
import graft.operators.Staging

/** Closed loop, one client: passes over a fixed list of the engine's
  * dedup and similarity queries on a seeded documents table. Each query's
  * last result is left for the DuckDB oracle check. */
final class CurationBatch(ctx: Ctx) extends Workload(ctx) {
  private val queries = p.strs("queries")
  require(queries.forall(SparkEntry.queries.contains), "unknown query in workloads.json")

  private var tablesDir: Path = _
  private var outDir: Path = _
  private var docRows = 0L
  private val passMs = mutable.ArrayBuffer[Double]()
  private val queryMs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private val failures = mutable.Buffer[String]()
  private var pass = 0
  private var measuredS = 0.0

  private def rows(): Seq[(Long, String, String, String)] = {
    val docs = Gen.corpus(p, ctx.seed)
    docs.foreach(d => digest.update(s"${d._1}\t${d._2}\t${d._3}\t${d._4}\n".getBytes(UTF_8)))
    docs
  }

  def generateOnly(d: Path): Unit = {
    val docs = rows()
    Files.write(ctx.dir(d.toString).resolve("documents.tsv"),
      docs.map(x => s"${x._1}\t${x._2}\t${x._3}\t${x._4}\n").mkString.getBytes(UTF_8))
  }

  def setup(d: Path): Unit = {
    import spark.implicits._
    digest.reset()
    tablesDir = ctx.dir(d.resolve("tables").toString)
    outDir = ctx.dir(d.resolve("results").toString)
    val docs = rows()
    docs.map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(tablesDir.resolve("documents.parquet").toString)
    docRows = docs.size
  }

  private def runPass(k: Int, measured: Boolean): Unit = {
    val traced = measured && ctx.traced(k)
    val req = s"pass-$k"
    val a = Clock.now
    var total = 0.0
    val timed = mutable.Buffer[(String, Double, Double)]()
    queries.foreach { q =>
      val t0 = Clock.now
      try ctx.inGroup(s"$req:$q", traced) {
        SparkEntry.queries(q)(spark, tablesDir.toString)
          .write.mode("overwrite").parquet(outDir.resolve(q).toString)
      } catch { case e: Exception => failures += s"$q: ${e.getMessage}" }
      val t1 = Clock.now
      total += t1 - t0
      timed += ((q, t0, t1))
      if (measured) queryMs.getOrElseUpdate(q, mutable.ArrayBuffer()) += t1 - t0
      // released outside the timer, as the engine's own bench does, so each
      // pass recomputes instead of reading the previous pass's staged frames
      Staging.releaseAll(spark, blocking = true)
      spark.catalog.clearCache()
    }
    if (measured) {
      passMs += total
      ctx.unitMs(traced) += total
      if (ctx.trace) {
        val z = Clock.now
        ctx.pending += (() => {
          val top = ctx.spans.add("operators.pass", a, z, 0, req)
          val ids = timed.map { case (q, t0, t1) => (q, t0, t1, ctx.spans.add(s"operators.$q", t0, t1, top, q)) }
          if (traced) ctx.unitLayers += ids.map { case (q, t0, t1, id) => ctx.jobLayer(s"$req:$q", t0, t1, id) }
            .reduce((x, y) => (x.keySet ++ y.keySet).map(k => k -> (x.getOrElse(k, 0.0) + y.getOrElse(k, 0.0))).toMap)
        })
      }
    }
  }

  def warmup(): Unit = pass = ctx.closedLoop(0, p.double("warm_seconds"), 1)(runPass(_, measured = false))

  def measure(): Unit = {
    val a = System.nanoTime()
    pass = ctx.closedLoop(pass, ctx.seconds, 2)(runPass(_, measured = true))
    measuredS = (System.nanoTime() - a) / 1e9
  }

  def check(): Check = {
    val oracle = queries.map(q => q -> Json.str(SparkEntry.oracleSql(q)))
    Files.writeString(outDir.resolve("oracle_sql.json"), Json.obj(oracle))
    Check(queries.size.toLong, failures.size.toLong, failures.toSeq)
  }

  /** The DuckDB oracle check runs outside the JVM, on these directories. */
  def oracleDirs: (Path, Path) = (tablesDir, outDir)

  /** Throughput: documents × queries of every measured pass over the
    * measured wall time, which includes the releases between queries. */
  def e2e: Map[String, Double] =
    Map("throughput_rps" -> passMs.size * docRows * queries.size / measuredS,
      "latency_p50_s" -> Stats.median(passMs.toSeq) / 1000)

  def layers: Map[String, Double] = {
    val secs = passMs.map(_ / 1000).toSeq
    val tail = Stats.tail(secs.map(_ -> 1L))
    Map("batch_p50_s" -> Stats.median(secs), "batch_flat_ratio" -> Stats.flatRatio(secs),
      "latency_tail_s" -> tail.map(_._2).getOrElse(Double.NaN),
      "latency_tail_pct" -> tail.map(_._1).getOrElse(Double.NaN),
      "latency_samples" -> secs.size.toDouble,
      "gen.records" -> docRows.toDouble) ++
      queryMs.map { case (q, ms) => s"operators.${q.takeWhile(_ != '_')}_ms" -> Stats.median(ms.toSeq) }
  }
}
