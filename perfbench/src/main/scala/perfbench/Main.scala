package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload. Prints one line
  * `PERFBENCH_RESULT {json}` on stdout; `run.py` turns it into the
  * benchmark's result line.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  * --params workloads.json --work DIR --out DIR [--smoke] [--gen-only DIR]
  * [--set NAME=VALUE ...] (override workload parameters) */
object Main {
  /** Set-ups per run; setup_s is their median. */
  val SetupRepeats = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.zip(argv.drop(1)).collect {
      case (k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val smoke = argv.contains("--smoke")
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val overrides = argv.zip(argv.drop(1)).collect { case ("--set", kv) =>
      val (k, v) = kv.splitAt(kv.indexOf('=')); k -> v.drop(1)
    }.toMap
    val params = Params.load(Paths.get(args("params")), workload, smoke, overrides)
    val work = Files.createDirectories(Paths.get(args("work")))
    val nproc = Runtime.getRuntime.availableProcessors()
    mark("jvm")

    val spark = SparkSession.builder().master(s"local[$nproc]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    mark("session")
    try run(spark, workload, params, seed, seconds, trace, smoke, work, Paths.get(args("out")),
      args.get("gen-only"), nproc)
    finally spark.stop()
  }

  /** Seconds since JVM start at each stage of the run, for the run record. */
  private val timeline = scala.collection.mutable.LinkedHashMap[String, Double]()
  private def mark(stage: String): Unit = timeline(stage) =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  private def loadavg: String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split(' ').take(3).mkString(" ")
    catch { case _: Exception => "" }

  private def peakRssMb: Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    catch { case _: Exception => Double.NaN }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** A fixed job on the same session, as a probe of host contention. */
  private def canaryMs(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 4000000L, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(id % 7)").collect()
    (System.nanoTime() - t0) / 1e6
  }

  private def run(spark: SparkSession, workload: String, params: Params, seed: Long,
      seconds: Double, trace: Boolean, smoke: Boolean, work: Path, out: Path,
      genOnly: Option[String], nproc: Int): Unit = {
    val ctx = new Ctx(spark, params, seed, seconds, trace, work)
    val w = Workload(workload, ctx)
    genOnly.foreach { d =>
      w.generateOnly(Paths.get(d))
      println("PERFBENCH_DIGEST " + Gen.hex(w.digest))
      return
    }
    val load0 = loadavg
    if (trace) spark.sparkContext.addSparkListener(ctx.stats)
    canaryMs(spark) // first run pays JIT and codegen
    val canary = canaryMs(spark)

    val setupS = (1 to SetupRepeats).map { i =>
      val d = work.resolve(s"setup-$i")
      val t0 = System.nanoTime()
      w.setup(d)
      val s = (System.nanoTime() - t0) / 1e9
      if (i < SetupRepeats) { w.discard(); Workload.deleteTree(d) }
      s
    }
    val digest = Gen.hex(w.digest)
    mark("setup")
    val w0 = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9
    mark("warmup")

    val gc0 = gcMs
    val m0 = System.nanoTime()
    try w.measure() finally w.finish()
    val measureS = (System.nanoTime() - m0) / 1e9
    val gc = gcMs - gc0
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val rss = peakRssMb
    mark("measure")

    org.apache.spark.sql.GraftBridge.drainListeners(spark)
    w.traceUnits()
    val isolated = if (trace) w.isolatedCalls() else Map.empty[String, Double]
    val check = w.check()
    mark("check")
    val load1 = loadavg

    val units = ctx.unitMs(true).size + ctx.unitMs(false).size
    val e2e = w.e2e ++ Map("setup_s" -> Stats.median(setupS), "peak_rss_mb" -> rss)
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val keys = ctx.unitLayers.flatMap(_.keys).toSet
        val perUnit = keys.map(k => k -> Stats.median(ctx.unitLayers.map(_.getOrElse(k, 0.0)).toSeq)).toMap
        val overhead = Stats.median(ctx.unitMs(true).toSeq) / Stats.median(ctx.unitMs(false).toSeq) - 1
        perUnit ++ w.layers ++ isolated ++ Map(
          "jvm.gc_ms" -> gc.toDouble / math.max(1, units), "jvm.heap_used_mb" -> heapMb,
          "spark.canary_ms" -> canary, "trace.overhead_frac" -> overhead,
          "failed_frac" -> check.failed.toDouble / math.max(1L, check.attempted))
      }

    Files.createDirectories(out)
    val tag = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    if (trace) {
      val spans = ctx.spans.all
      Files.write(out.resolve(s"spans-$tag.jsonl"),
        spans.map(s => Spans.toJson(s, spans)).asJava)
    }
    val oracle = w match {
      case c: CurationBatch =>
        val (t, r) = c.oracleDirs
        Seq("oracle_tables" -> Json.str(t.toString), "oracle_results" -> Json.str(r.toString))
      case _ => Nil
    }
    def nums(m: Map[String, Double]) = Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "seconds" -> Json.num(seconds),
      "trace" -> trace.toString, "smoke" -> smoke.toString, "nproc" -> nproc.toString,
      "loadavg_before" -> Json.str(load0), "loadavg_after" -> Json.str(load1),
      "canary_ms" -> Json.num(canary), "setup_runs_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "warmup_s" -> Json.num(warmupS), "measure_s" -> Json.num(measureS), "units" -> units.toString,
      "input_sha256" -> Json.str(digest),
      "timeline_s" -> Json.obj(timeline.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "attempted" -> check.attempted.toString, "failed" -> check.failed.toString,
      "notes" -> check.notes.map(Json.str).mkString("[", ",", "]"),
      "unit_ms" -> (ctx.unitMs(false) ++ ctx.unitMs(true)).map(Json.num).mkString("[", ",", "]"),
      "unit_detail" -> w.unitDetail.mkString("[", ",", "]"),
      "end_to_end" -> nums(e2e), "per_layer" -> nums(layers)) ++ oracle)
    println("PERFBENCH_RESULT " + record)
  }
}
