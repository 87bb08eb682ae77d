package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, concat_ws}
import org.apache.spark.sql.types.{LongType, StringType}

import graft.mapping.SinkConfig
import graft.operators.{RecordMapper, Sampling}
import graft.streaming.StreamingDedup

/** Closed loop, one client: fixed-size micro-batches, one file per
  * trigger, through the DSIR quality gate and near-dup dedup. The client
  * keeps one file queued behind the batch in flight, so the stream never
  * waits for input and never has more than one batch of backlog. */
final class GatedStream(ctx: Ctx) extends Workload(ctx) {
  private val table = Schemas.table("corpus", "docs", Seq("doc_key"), "doc_key" -> LongType,
    "text" -> StringType)
  private val tables = Map(table.qualified -> table)
  require(p.bindings == Map("docs" -> Seq("corpus.docs")), "bindings differ from workloads.json")
  private val batchRecords = p.int("batch_records")

  private var docs: Gen.Docs = _
  private var cfg: SinkConfig.Config = _
  private var histDir: String = _
  private var runner: StreamRunner = _
  private var written = 0
  private var given = 0L
  private val sizes = mutable.Map[String, Long]()

  private def fileName(k: Int) = f"f-$k%06d.json"

  private def nextFile(): Unit = {
    val rs = docs.nextFile(batchRecords)
    val name = fileName(written)
    sizes(name) = Gen.writeFile(runner.in, name, rs, digest)
    written += 1; given += rs.size
  }

  def generateOnly(d: Path): Unit = {
    docs = new Gen.Docs(p, ctx.seed)
    val dir = ctx.dir(d.toString)
    val (target, raw) = Gen.histogramCorpora(p, ctx.seed)
    val corpora = (target ++ raw).mkString("\n").getBytes("UTF-8")
    digest.update(corpora)
    java.nio.file.Files.write(dir.resolve("histogram.txt"), corpora)
    (0 to 20).foreach(k => Gen.writeFile(dir, fileName(k), docs.nextFile(batchRecords), digest))
  }

  def setup(d: Path): Unit = {
    digest.reset(); written = 0; given = 0L; sizes.clear()
    docs = new Gen.Docs(p, ctx.seed)
    val (target, raw) = Gen.histogramCorpora(p, ctx.seed)
    digest.update((target ++ raw).mkString("\n").getBytes("UTF-8"))
    import spark.implicits._
    histDir = d.resolve("histogram").toString
    Sampling.dsirHistogram(target.toDF("text"), raw.toDF("text"), "text")
      .write.mode("overwrite").parquet(histDir)
    cfg = SinkConfig.parse(Map(
      "topic.docs.corpus.docs.mapping" -> "doc_key=key, text=value",
      "topic.docs.corpus.docs.quality" -> s"dsir:${p.int("quality_threshold")}:$histDir",
      "topic.docs.corpus.docs.dedup" -> p.str("dedup")))
    runner = new StreamRunner(ctx, cfg, tables, d)
  }

  override def discard(): Unit = runner.stop()

  def warmup(): Unit = {
    runner.start()
    drive(p.double("warm_seconds"), 1)
    runner.measureFromNs = System.nanoTime()
  }

  def measure(): Unit = {
    drive(ctx.seconds, 2)
    runner.drainAndStop()
  }

  /** As ctx.closedLoop, with one file queued behind the batch in flight: a
    * file is sent only while the last batch's duration says it will be
    * committed inside the window. Returns when every sent file is. */
  private def drive(secs: Double, min: Int): Unit = {
    val end = System.nanoTime() + (secs * 1e9).toLong
    var sent = 0
    var open = true
    while (open || runner.committed < written) {
      val outstanding = written - runner.committed
      val lastNs = Option(runner.batches.get(runner.committed - 1)).map(b => b.t1 - b.t0).getOrElse(0L)
      open = open && (sent < min || System.nanoTime() + (outstanding + 1) * lastNs <= end)
      if (open && outstanding < 2) { nextFile(); sent += 1 }
      else require(runner.awaitBatches(runner.committed + 1, System.nanoTime() + 120000000000L),
        "a batch never committed")
    }
  }

  override def finish(): Unit = if (runner != null) runner.stop()

  private def count(n: String) = counter(runner.pipe, s"docs.corpus.docs.$n")

  /** The state the quality gate and near-dup dedup must leave, key →
    * text, computed from the generated records alone. Out-of-domain text
    * never passes the gate; in-domain text always does. Dedup then takes
    * the records that passed in the order the engine does — by batch (the
    * file source may read queued files out of generation order), then
    * (partition, offset) — and drops each one that shares a band with any
    * record before it, kept or dropped. */
  private def reference(batchOf: Int => Long): Map[String, String] = {
    val (numHashes, rowsPerBand) = p.str("dedup") match {
      case GatedStream.Near(k, r) => (k.toInt, r.toInt)
      case other => throw new IllegalArgumentException(s"dedup '$other' is not near:<k>x<r>")
    }
    val seen = mutable.HashSet[(Int, Long)]()
    docs.all.filter(_.inDomain).sortBy(d => (batchOf(d.file), d.partition, d.offset)).flatMap { d =>
      val bands = GatedStream.bands(d.text, numHashes, 3, rowsPerBand)
      val kept = !bands.exists(seen)
      seen ++= bands
      if (kept) Some(d.key.toString -> d.text) else None
    }.toMap
  }

  def check(): Check = {
    val notes = mutable.Buffer[String]()
    val unaccounted = reconcile(runner.pipe, cfg, Map("docs" -> given), notes)
    val state = State.collect(runner.pipe.store(spark, cfg.bindings.head).state(), table)
      .map { case (k, cells) => k -> cells(1) }
    val batchOf = runner.batches.values.asScala.flatMap(b => b.files.map(_ -> b.id)).toMap
    val unread = (0 until written).map(fileName).filterNot(batchOf.contains)
    if (unread.nonEmpty) notes += s"no batch read ${unread.mkString(", ")}"
    val want = reference(k => batchOf.getOrElse(fileName(k), Long.MaxValue))
    val wrong = (state.keySet ++ want.keySet).toSeq.filter(k => state.get(k) != want.get(k))
    if (State.digest(state) != State.digest(want)) {
      def show(ks: Seq[String]) = ks.map(_.toLong).sorted.take(5).map(k => docs.all(k.toInt)).map(d =>
        s"key ${d.key} (file ${d.file}, ${if (d.fresh) "fresh" else s"from ${d.root}"}" +
          s"${if (d.inDomain) "" else ", out-of-domain"})").mkString(", ")
      val (extra, missing) = wrong.partition(state.contains)
      notes += s"state has ${state.size} rows, the reference ${want.size}; " +
        s"${missing.size} missing: ${show(missing)}; ${extra.size} extra or different: ${show(extra)}"
    }
    val writtenRows = count("recordCount") - count("failedRecordCount")
    if (state.size != writtenRows) notes += s"state has ${state.size} rows, the sink wrote $writtenRows"
    Check(given, unaccounted + unread.size * batchRecords + wrong.size +
      math.abs(state.size - writtenRows) + count("failedRecordCount"), notes.toSeq)
  }

  def e2e: Map[String, Double] =
    Map("throughput_rps" -> runner.drainRps, "latency_p50_s" -> Stats.median(runner.batchSeconds))

  def layers: Map[String, Double] = {
    val batches = runner.batchSeconds
    val tail = Stats.tail(batches.map(_ -> 1L))
    def ratio(a: Long, b: Long) = if (a + b == 0) 0.0 else a.toDouble / (a + b)
    Map("batch_p50_s" -> Stats.median(batches), "batch_flat_ratio" -> Stats.flatRatio(batches),
      "latency_tail_s" -> tail.map(_._2).getOrElse(Double.NaN),
      "latency_tail_pct" -> tail.map(_._1).getOrElse(Double.NaN),
      "latency_samples" -> batches.size.toDouble,
      "gen.records" -> (runner.measured.size.toLong * batchRecords).toDouble,
      "streaming.quality_kept_ratio" -> ratio(count("qualityKeptCount"), count("qualityDroppedCount")),
      "streaming.dedup_kept_ratio" -> ratio(count("dedupKeptCount"), count("dedupDroppedCount")),
      "streaming.unknown_topic_records" -> runner.pipe.failedWithUnknownTopic.value.toDouble,
      "streaming.failed_records" -> count("failedRecordCount").toDouble) ++
      storeLayers(runner.storeRoot)
  }

  override def unitDetail: Seq[String] = runner.detail

  override def traceUnits(): Unit = runner.traceBatches(n => sizes.getOrElse(n, 0L))

  /** The mapping, banding and scoring layers alone, on one traced batch. */
  override def isolatedCalls(): Map[String, Double] = {
    val b = runner.measured.find(_.traced).getOrElse(return Map.empty)
    val req = s"batch-${b.id}"
    val input = readJson(b.files.map(f => runner.in.resolve(f).toString))
    val (_, mapMs) = ctx.isolated("operators.map", req) {
      RecordMapper.compile(cfg.bindings.head, table, input, captureErrors = true)
        .write.format("noop").mode("overwrite").save()
    }
    val (rows, bandMs) = ctx.isolated("operators.band", req) {
      StreamingDedup.bandRows(input.filter(col("value").isNotNull)
          .select("partition", "offset", "value"), "value", Seq("partition", "offset"),
        numHashes = 16, rowsPerBand = 4).count()
    }
    val (_, scoreMs) = ctx.isolated("operators.quality_score", req) {
      Sampling.dsirScore(input.filter(col("value").isNotNull)
          .select(concat_ws("/", col("partition"), col("offset")).as("id"), col("value").as("text")),
        spark.read.parquet(histDir), "text", "id")
        .write.format("noop").mode("overwrite").save()
    }
    Map("operators.map_ms" -> mapMs, "operators.band_ms" -> bandMs,
      "operators.band_rows" -> rows.toDouble, "operators.quality_score_ms" -> scoreMs)
  }
}

object GatedStream {
  private val Near = """near:(\d+)x(\d+)""".r
  private val Prime = 2147483647L

  /** MinHash LSH bands (band id, band hash) of a text, as the engine's
    * `near` dedup documents them, written out again so the check does not
    * call the code it checks: whitespace tokens; token hash
    * (h·31 + code point) mod p; a hash per run of `shingleN` tokens,
    * (h·131 + token hash) mod p; `numHashes` affine min-hashes
    * a_j = 1000003 + 2·j·4391, b_j = 7919·(j+1) mod p; band hash
    * (h·131 + min) mod p over each band's `rowsPerBand` mins. */
  def bands(text: String, numHashes: Int, shingleN: Int, rowsPerBand: Int): Seq[(Int, Long)] = {
    val toks = text.trim.split("\\s+").filter(_.nonEmpty)
      .map(_.codePoints().toArray.foldLeft(0L)((h, c) => (h * 31 + c) % Prime))
    if (toks.length < shingleN) return Nil
    val shingles = toks.sliding(shingleN).map(_.reduceLeft((h, t) => (h * 131 + t) % Prime)).toArray
    val mins = (0 until numHashes).map { j =>
      val (a, b) = (1000003L + 2L * j * 4391L, 7919L * (j + 1) % Prime)
      shingles.map(x => (a * x + b) % Prime).min
    }
    mins.grouped(rowsPerBand).zipWithIndex.map { case (ms, band) =>
      band -> ms.foldLeft(0L)((h, m) => (h * 131 + m) % Prime)
    }.toSeq
  }
}
