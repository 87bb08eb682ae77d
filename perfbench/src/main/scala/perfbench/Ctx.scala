package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run shares across its workload code. */
final class Ctx(val spark: SparkSession, val p: Params, val seed: Long,
    val seconds: Double, val trace: Boolean, val work: Path) {
  val sc = spark.sparkContext
  val spans = new Spans
  val stats = new JobStats
  /** Per traced unit: the per-layer values measured for it. */
  val unitLayers = mutable.ArrayBuffer[Map[String, Double]]()
  /** Unit wall times in ms, by whether the unit was traced. */
  val unitMs = mutable.Map(true -> mutable.ArrayBuffer[Double](), false -> mutable.ArrayBuffer[Double]())
  /** Span and layer bookkeeping deferred until the listener bus is drained. */
  val pending = mutable.ArrayBuffer[() => Unit]()

  /** Traced runs trace every second unit, so the untraced ones in between
    * measure the tracing overhead in the same run. */
  def traced(i: Long): Boolean = trace && i % 2 == 1

  def group(unit: String, traced: Boolean): String =
    (if (traced) JobStats.Traced else JobStats.Untraced) + unit

  private val groupKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  /** Run `f` with the unit's job group, restoring the thread's previous
    * group (a streaming query sets its own). */
  def inGroup[A](unit: String, traced: Boolean)(f: => A): A = {
    val prev = groupKeys.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(group(unit, traced), unit, interruptOnCancel = false)
    try f finally prev.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** Closed loop of whole units inside a window of `secs`: another unit
    * starts only while the last one's duration says it will end in the
    * window, and at least `min` run. Returns the next unit number. */
  def closedLoop(first: Int, secs: Double, min: Int)(unit: Int => Unit): Int = {
    val end = System.nanoTime() + (secs * 1e9).toLong
    var i = first; var last = 0L
    while (i - first < min || System.nanoTime() + last <= end) {
      val a = System.nanoTime(); unit(i); last = System.nanoTime() - a; i += 1
    }
    i
  }

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** Spark's work for one traced unit's job group, with its jobs recorded
    * as child spans of `parent` clipped to the unit's window [lo, hi]. */
  def jobLayer(unit: String, lo: Double, hi: Double, parent: Int): Map[String, Double] =
    stats.group(group(unit, traced = true)) match {
      case None => Map("spark.driver_gap_ms" -> (hi - lo))
      case Some(g) => g.synchronized {
        val jobs = g.jobSpans.map { case (id, a, b) =>
          // Spark stamps job events in whole milliseconds: allow that
          // rounding, never more, when placing a job inside its unit
          val (a1, b1) = (if (a < lo && lo - a <= 1.0) lo else a, if (b > hi && b - hi <= 1.0) hi else b)
          spans.add(s"spark.job.$id", a1, b1, parent, unit)
          (a1, b1)
        }
        Map(
          "spark.jobs" -> g.jobs.toDouble, "spark.stages" -> g.stages.toDouble,
          "spark.tasks" -> g.tasks.toDouble,
          "spark.driver_gap_ms" -> ((hi - lo) - Spans.covered(jobs.toSeq, lo, hi)),
          "spark.task_wait_ms" -> g.waitMs.toDouble,
          "spark.executor_cpu_ms" -> g.cpuNs / 1e6, "spark.executor_run_ms" -> g.runMs.toDouble,
          "spark.max_task_ms" -> g.maxTaskMs.toDouble,
          "spark.shuffle_read_bytes" -> g.shufRead.toDouble,
          "spark.shuffle_write_bytes" -> g.shufWrite.toDouble,
          "spark.spill_bytes" -> g.spill.toDouble, "spark.input_rows" -> g.inputRows.toDouble,
          "spark.exchanges" -> g.execIds.toSeq.map(e => Option(stats.exchanges.get(e)).map(_.toInt).getOrElse(0)).sum.toDouble)
      }
    }

  /** Time `f` as a top-level traced span of its own job group — the
    * isolated read-only layer calls a traced run makes after measuring. */
  def isolated[A](name: String, req: String)(f: => A): (A, Double) = {
    val unit = s"$name:$req"
    val a = Clock.now
    val out = inGroup(unit, traced = true)(f)
    val b = Clock.now
    org.apache.spark.sql.GraftBridge.drainListeners(spark)
    val id = spans.add(name, a, b, 0, req)
    jobLayer(unit, a, b, id)
    (out, b - a)
  }
}

object Phases {
  /** SinkPipeline's phase order (its phase map does not keep order). */
  val Batch = Seq("count", "quality", "dedup", "write", "metrics", "quality_counts",
    "sightings", "release", "unpersist")
  /** KeyedParquetTable.applyBatch's sub-phase order, folded into the batch
    * phases as `write_<name>`. */
  val Apply = Seq("collect", "merge_plan", "merge_write", "meta", "unpersist")

  private def order(m: Map[String, Long], known: Seq[String]): Seq[(String, Long)] =
    known.flatMap(k => m.get(k).map(k -> _)) ++ (m -- known).toSeq.sortBy(_._1)

  /** Lay a processBatch phase map under `proc` (spanning [t0, t1]); the
    * store's sub-phases go under the `write` phase span. */
  def lay(spans: Spans, m: Map[String, Long], t0: Double, proc: Int, req: String): Unit = {
    val top = order(m.filterNot(_._1.startsWith("write_")), Batch)
    val ids = spans.lay(top, t0, proc, req, "streaming.")
    ids.get("write").foreach { w =>
      val ws = spans.all.find(_.id == w).get
      val sub = order(m.collect { case (k, v) if k.startsWith("write_") => k.stripPrefix("write_") -> v }, Apply)
      spans.lay(sub, ws.start, w, req, "sink.")
    }
  }

  def layer(m: Map[String, Long]): Map[String, Double] = {
    def g(k: String) = m.getOrElse(k, 0L).toDouble
    Map("streaming.count_ms" -> g("count"), "streaming.quality_ms" -> g("quality"),
      "streaming.dedup_ms" -> g("dedup"), "streaming.sightings_ms" -> g("sightings"),
      "streaming.write_ms" -> g("write"), "streaming.unpersist_ms" -> g("unpersist"),
      "sink.collect_ms" -> g("write_collect"), "sink.merge_plan_ms" -> g("write_merge_plan"),
      "sink.merge_write_ms" -> g("write_merge_write"), "sink.meta_ms" -> g("write_meta"))
  }
}
