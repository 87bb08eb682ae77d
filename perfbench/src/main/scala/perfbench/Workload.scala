package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.mapping.SinkConfig
import graft.streaming.SinkPipeline

/** Outcome of a workload's output checks. */
final case class Check(attempted: Long, failed: Long, notes: Seq[String])

/** One benchmark workload. The harness calls [[setup]] several times
  * (each on a fresh directory; all but the last are [[discard]]ed), then
  * [[warmup]], [[measure]], [[finish]] and [[check]]. */
abstract class Workload(val ctx: Ctx) {
  def setup(dir: Path): Unit
  def discard(): Unit = ()
  def warmup(): Unit
  def measure(): Unit
  def finish(): Unit = ()
  def check(): Check
  /** End-to-end values: throughput_rps, latency_p50_s. */
  def e2e: Map[String, Double]
  /** Run-level per-layer values (the per-unit ones are in ctx.unitLayers). */
  def layers: Map[String, Double]
  /** Spans and per-layer values of the traced units, once the listener
    * bus is drained. */
  def traceUnits(): Unit = ctx.pending.foreach(_.apply())
  /** Read-only calls into single layers on a traced unit's input, made
    * after measuring; per-layer values by name. */
  def isolatedCalls(): Map[String, Double] = Map.empty
  /** Per-unit detail for the run record, as JSON objects. */
  def unitDetail: Seq[String] = Nil
  /** SHA-256 of every generated input byte. */
  val digest: MessageDigest = MessageDigest.getInstance("SHA-256")
  /** Generate every input of the run at once, for the determinism check. */
  def generateOnly(dir: Path): Unit

  protected val spark: org.apache.spark.sql.SparkSession = ctx.spark
  protected def p = ctx.p

  protected def readJson(paths: Seq[String]): DataFrame =
    Schemas.kafkaFrame(spark.read.schema(Schemas.KafkaJson).json(paths: _*))

  protected def counter(pipe: SinkPipeline, name: String): Long =
    pipe.recordCount.get(name).map(_.value.longValue).getOrElse(0L)

  /** Reconcile the pipeline's counters with the records it was given:
    * for every binding, its topic's records = written + failed +
    * dedup-dropped + quality-dropped; records with no binding are
    * unknown-topic failures. Returns the number of records unaccounted for. */
  protected def reconcile(pipe: SinkPipeline, cfg: SinkConfig.Config,
      in: Map[String, Long], notes: mutable.Buffer[String]): Long = {
    var bad = 0L
    cfg.bindings.foreach { b =>
      val pre = s"${b.topic}.${b.qualifiedTable}."
      val slice = in.getOrElse(b.topic, 0L)
      val total = counter(pipe, pre + "recordCount") // written + failed
      val qKept = counter(pipe, pre + "qualityKeptCount")
      val qDrop = counter(pipe, pre + "qualityDroppedCount")
      val dKept = counter(pipe, pre + "dedupKeptCount")
      val dDrop = counter(pipe, pre + "dedupDroppedCount")
      val sum = total + dDrop + qDrop
      if (sum != slice) {
        bad += math.abs(sum - slice)
        notes += s"${b.topic}->${b.qualifiedTable}: in $slice != written+failed $total + dedup-dropped $dDrop + quality-dropped $qDrop"
      }
      if (b.qualityDsirParams.isDefined && qKept + qDrop != slice) {
        bad += math.abs(qKept + qDrop - slice)
        notes += s"${b.topic}: quality kept $qKept + dropped $qDrop != in $slice"
      }
      if (b.dedupEnabled && dKept != total) {
        bad += math.abs(dKept - total)
        notes += s"${b.topic}: dedup kept $dKept != written+failed $total"
      }
    }
    val unknown = in.filterNot { case (t, _) => cfg.topics.contains(t) }.values.sum
    val seen = pipe.failedWithUnknownTopic.value.longValue
    if (seen != unknown) {
      bad += math.abs(seen - unknown)
      notes += s"unknown-topic records $seen != $unknown"
    }
    bad
  }

  protected def storeLayers(storeRoot: Path): Map[String, Double] = {
    val (bytes, files, versions) = StoreFs.tableState(storeRoot)
    Map("sink.state_bytes" -> bytes.toDouble, "sink.state_files" -> files.toDouble,
      "sink.versions_live" -> versions.toDouble,
      "sink.dedup_state_bytes" -> StoreFs.du(storeRoot.resolve("_dedup"))._1.toDouble)
  }
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "gated_stream" => new GatedStream(ctx)
    case "curation_batch" => new CurationBatch(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Best-effort recursive delete of a run's scratch directory. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => try Files.deleteIfExists(f) catch { case _: Exception => () })
      finally s.close()
    }
}
