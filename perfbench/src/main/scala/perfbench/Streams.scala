package perfbench

import java.nio.file.{Path, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.mapping.SinkConfig
import graft.sink.SinkTable
import graft.streaming.SinkPipeline

/** A Structured Streaming query over a directory of generated JSON-lines
  * files, one file per micro-batch, feeding one SinkPipeline through
  * foreachBatch under the default trigger. Records per batch: its input files, processBatch timing and
  * phases; trigger start and duration come from the query's progress. */
final class StreamRunner(ctx: Ctx, cfg: SinkConfig.Config, tables: Map[String, SinkTable],
    dir: Path) {
  val in: Path = ctx.dir(dir.resolve("in").toString)
  val storeRoot: Path = dir.resolve("store")
  val pipe = new SinkPipeline(cfg, tables, storeRoot.toString)

  case class Batch(id: Long, t0: Long, t1: Long, measured: Boolean, traced: Boolean,
      phases: Map[String, Long], bucketsTouched: Long, bytesWritten: Long) {
    /** Input file names, from the file source's log in the checkpoint. */
    def files: Seq[String] = sourceLog.getOrElse(id, Nil)
  }
  case class Trigger(startMs: Double, triggerMs: Double, rows: Long) {
    def commit: Double = startMs + triggerMs
  }

  val batches = new ConcurrentHashMap[Long, Batch]()
  val triggers = new ConcurrentHashMap[Long, Trigger]()
  /** Batches whose processBatch starts at or after this nanoTime are
    * measured (and may be traced). */
  @volatile var measureFromNs: Long = Long.MaxValue
  @volatile var committed = 0L
  private val lock = new Object

  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        triggers.put(p.batchId, Trigger(Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.get("triggerExecution").toDouble, p.numInputRows))
    }
  }

  private var query: StreamingQuery = _

  def start(): Unit = {
    ctx.spark.streams.addListener(listener)
    val src = ctx.spark.readStream.schema(Schemas.KafkaJson).option("maxFilesPerTrigger", "1")
    query = Schemas.kafkaFrame(src.json(in.toString)).writeStream
      .foreachBatch { (batch: DataFrame, id: Long) => onBatch(batch, id) }
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .start()
  }

  private def onBatch(batch: DataFrame, id: Long): Unit = {
    val t0 = System.nanoTime()
    val measured = t0 >= measureFromNs
    val traced = measured && ctx.traced(id)
    val before = if (traced) StoreFs.snapshot(storeRoot) else null
    ctx.inGroup(s"batch-$id", traced)(pipe.processBatch(batch, id))
    val t1 = System.nanoTime()
    // sized now: a later batch's vacuum removes the versions this one wrote
    val (touched, written) =
      if (!traced) (0L, 0L)
      else {
        val after = StoreFs.snapshot(storeRoot)
        (StoreFs.bucketsTouched(before, after, storeRoot), StoreFs.bytesWritten(before, after))
      }
    batches.put(id, Batch(id, t0, t1, measured, traced, pipe.lastBatchPhaseMs, touched, written))
    lock.synchronized { committed += 1; lock.notifyAll() }
  }

  /** Block until `n` batches have finished processBatch, or the deadline. */
  def awaitBatches(n: Long, deadlineNs: Long): Boolean = lock.synchronized {
    while (committed < n && System.nanoTime() < deadlineNs)
      lock.wait(math.max(1L, (deadlineNs - System.nanoTime()) / 1000000L).min(100L))
    committed >= n
  }

  /** Process every file written so far, then stop the query and wait for
    * its last progress events. */
  def drainAndStop(): Unit = if (query != null) {
    try query.processAllAvailable()
    finally {
      query.stop()
      org.apache.spark.sql.GraftBridge.drainListeners(ctx.spark)
      ctx.spark.streams.removeListener(listener)
      query = null
    }
  }

  def stop(): Unit = if (query != null) {
    query.stop(); ctx.spark.streams.removeListener(listener); query = null
  }

  /** Batch id → input file names, read from the checkpoint's file-source
    * log (plain files and compacted ones: one JSON entry per file). */
  private lazy val sourceLog: Map[Long, Seq[String]] = {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val logDir = dir.resolve("checkpoint").resolve("sources").resolve("0")
    val ls = java.nio.file.Files.list(logDir)
    val entries = try ls.iterator().asScala.toList.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => java.nio.file.Files.readAllLines(f).asScala.filter(_.startsWith("{")))
      .map(json.readTree) finally ls.close()
    entries.map(e => e.get("batchId").asLong() ->
        Paths.get(new java.net.URI(e.get("path").asText())).getFileName.toString)
      .groupBy(_._1).map { case (b, fs) => b -> fs.map(_._2).distinct }
  }

  def measured: Seq[Batch] =
    batches.values.asScala.toSeq.filter(_.measured).sortBy(_.id)

  /** Spans of every measured batch, and the per-layer values and Spark
    * job spans of the traced ones; call after [[drainAndStop]]. `inBytes`
    * maps an input file name to its size. */
  def traceBatches(inBytes: String => Long): Unit = measured.foreach { b =>
    val unit = s"batch-${b.id}"
    val (a, z) = (Clock.ms(b.t0), Clock.ms(b.t1))
    val tr = Option(triggers.get(b.id))
    ctx.unitMs(b.traced) += tr.map(_.triggerMs).getOrElse(z - a)
    if (ctx.trace) {
      // the trigger span wraps processBatch; Spark stamps it in whole ms
      val (ts, te) = tr.map(t => (math.min(t.startMs, a), math.max(t.commit, z))).getOrElse((a, z))
      val top = ctx.spans.add("streaming.trigger", ts, te, 0, unit)
      val proc = ctx.spans.add("streaming.processBatch", a, z, top, unit)
      Phases.lay(ctx.spans, b.phases, a, proc, unit)
      if (b.traced)
        ctx.unitLayers += (Phases.layer(b.phases) ++
          Map("streaming.engine_gap_ms" -> ((te - ts) - (z - a)),
            "streaming.records_in" -> tr.map(_.rows.toDouble).getOrElse(0.0)) ++
          StoreFs.unitLayer(b.bucketsTouched, b.bytesWritten, b.files.map(inBytes).sum) ++
          ctx.jobLayer(unit, a, z, proc))
    }
  }

  /** id, input files, trigger start, trigger ms and records of each
    * measured batch. */
  def detail: Seq[String] = measured.flatMap { b =>
    Option(triggers.get(b.id)).map(t =>
      f"""{"batch":${b.id},"files":${b.files.map(Json.str).mkString("[", ",", "]")},"start_ms":${t.startMs}%.0f,"trigger_ms":${t.triggerMs}%.0f,"records":${t.rows},"process_ms":${(b.t1 - b.t0) / 1e6}%.0f}""")
  }

  private def measuredTriggers: Seq[Trigger] = measured.flatMap(b => Option(triggers.get(b.id)))

  /** Records committed by the measured batches over the wall time from the
    * first one's trigger start to the last one's commit. */
  def drainRps: Double = {
    val ts = measuredTriggers
    ts.map(_.rows).sum / ((ts.map(_.commit).max - ts.map(_.startMs).min) / 1000)
  }

  /** Batch wall times in seconds, trigger start to offset commit. */
  def batchSeconds: Seq[Double] = measuredTriggers.map(_.triggerMs / 1000)
}
