package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join,
  LogicalPlan, Window => WindowNode}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.multimodal.{MediaDedup, Multimodal}
import graft.operators._
import graft.sources.KafkaLike
import graft.streaming.EventTimeOps

/**
 * Plan contracts of the query inventory and its operators: the shapes a
 * change must not silently lose (keyed windows, hinted broadcasts, native
 * expressions, job-free construction). Plans are built on the small
 * testdata scales; checks that need volume construct it in place.
 */
class PlanHygieneSpec extends SparkSuite {

  private val testdata = "/root/testdata"
  private val tiny = s"$testdata/sf0.001"

  /** Optimized-plan windows with no partition spec: the whole input sorts
    * in one task. (A plan-STRING check for "windowspecdefinition()" can
    * never fire — the printed form always carries order/frame args.) */
  private def unkeyedWindows(df: DataFrame): Seq[WindowNode] =
    df.queryExecution.optimizedPlan.collect {
      case w: WindowNode if w.partitionSpec.isEmpty => w
    }

  private def hasWindow(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[WindowNode])

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def occurrences(plan: String, what: String): Int =
    plan.sliding(what.length).count(_ == what)

  /** Runs `body` with the given session confs, restoring each one's
    * previous value (or unset state) afterwards. */
  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val s = sqlc
    val before = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Explicit `broadcast()` hints only: with auto-broadcast on, every side
    * at these scales broadcasts and a lost hint could not show. */
  private def hintsOnly[T](body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  /** Query jobs (those carrying a SQL execution id; a parquet schema read
    * fires a job without one) started while `body` runs. The listener bus
    * is drained on both sides, so no earlier job leaks in. */
  private def queryJobsDuring[T](body: => T): (T, Int) = {
    val s = sqlc
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.sql.execution.id") != null)
          jobs.incrementAndGet()
    }
    GraftBridge.drainListeners(s)
    s.sparkContext.addSparkListener(l)
    try {
      val out = body
      GraftBridge.drainListeners(s)
      (out, jobs.get)
    } finally s.sparkContext.removeSparkListener(l)
  }

  private def docs() =
    sqlc.read.parquet(s"$tiny/documents.parquet").select("doc_id", "text")

  private def events() =
    KafkaLike.events(sqlc, tiny).select(col("event_id"), col("user_id"),
      col("event_type"), IntMath.idiv(col("ts"), lit(1000000L)).as("ts_ms"),
      floor(col("value") * 100).cast(LongType).as("cents"))

  private def query(name: String, dir: String = tiny): DataFrame =
    SparkEntry.queries(name)(sqlc, dir)

  // ------------------------------------------------ the whole inventory

  private case class Built(unkeyedWindow: Boolean, buildJobs: Int)

  /** Every declared query built once at sf0.001 under the default staging
    * conf, staged frames released between queries. */
  private lazy val inventory: Map[String, Either[Throwable, Built]] = {
    val s = sqlc
    Staging.releaseAll(s)
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val built =
        try {
          val (df, jobs) = queryJobsDuring(fn(s, tiny))
          Right(Built(unkeyedWindows(df).nonEmpty, jobs))
        } catch { case e: Throwable => Left(e) }
        finally Staging.releaseAll(s)
      name -> built
    }.toMap
  }

  private def built: Map[String, Built] =
    inventory.collect { case (n, Right(b)) => n -> b }

  /** Queries whose construction runs query jobs at sf0.001 under the
    * default staging (66 of them). */
  private val DriverIterative = Set(
    "q37_embedding_neardup", "q47_minhash_estimate", "q53_ann_ivf_trained",
    "q54_dedup_clusters", "q59_ann_ivf_topk_trained", "q64_pack_plan",
    "q65_pack_occupancy", "q67_budget_select", "q68_canonical_pick",
    "q70_epoch_shuffle", "q73_canonical_corpus", "q87_bm25_topk",
    "q88_semantic_dedup", "q89_collocations", "q91_naive_bayes",
    "q93_pq_encode", "q94_pq_adc_topk", "q95_vocab_drift",
    "q97_confusion_matrix", "q98_ann_recall", "q99_bigram_lm",
    "q100_bpe_encode", "q104_hard_negatives", "q106_rrf_fusion",
    "q110_contrastive_pairs", "q112_global_quantiles", "q128_mi_terms",
    "q132_dedup_rate", "q133_decayed_counts", "q145_mmr_rerank",
    "q152_status_enrich", "q153_cluster_examples", "q156_auc",
    "q157_ks_stat", "q158_drift_report", "q159_cusum", "q162_temporal_split",
    "q167_assoc_rules", "q169_pq_error", "q174_target_rate_bins",
    "q181_attribution", "q185_global_rank", "q188_churn_labels",
    "q193_qq_compare", "q194_range_plan", "q199_gain_table",
    "q200_curation_manifest", "q203_rank_sum_test",
    "q208_weighted_quantiles", "q211_avg_precision", "q212_spearman",
    "q219_woe_iv", "q221_autocorr", "q222_pareto_front",
    "q223_zorder_layout", "q225_quantile_normalize", "q232_sort_key_advisor",
    "q241_ensemble_clusters", "q245_range_diff",
    "q250_partition_completeness", "q251_pruning_report",
    "q284_image_dedup_manifest", "q289_comoment_matrix",
    "q290_power_iteration", "q316_cc_large_small_star",
    "q317_distill_linear_gate")

  test("every declared query builds at sf0.001 under the default staging") {
    assert(sqlc.conf.getOption(Staging.ConfKey).isEmpty,
      "a spec left the staging mode set")
    val failed = inventory.collect { case (n, Left(e)) => s"$n: $e" }
    assert(failed.isEmpty, failed.toSeq.sorted.mkString("\n"))
  }

  test("unpartitioned windows: exactly the bounded-by-construction allowlist") {
    // windows over ≤ nBins / ≤ topK aggregate rows; a new name means a
    // full-data single-task sort slipped into the inventory
    val bounded = Set(
      "q121_zipf_fit", // top-k vocab ranks (≤ topK rows)
      "q136_log_hist_quantiles", // ≤64 log-histogram buckets
      "q151_sketch_percentile", // sketch buckets
      "q154_sketch_merge", // merged sketch buckets
      "q183_vocab_coverage", // cumulative share over top-k vocab
      "q199_gain_table", // ≤ nBins decile rows
      "q250_partition_completeness") // ≤ #days partition rows
    assert(built.filter(_._2.unkeyedWindow).keySet == bounded)
  }

  test("driver-iterative queries: exactly the ones that run jobs while building") {
    // A query whose construction runs no query job is one static Catalyst
    // plan (SQL-expressible through the registered functions); one that
    // runs jobs iterates on the driver (k-means/IVF/PQ training, power
    // iteration, boundary collects) and is Scala-API-only. A new name
    // here means an operator gained a driver-side loop.
    val iterative = built.filter(_._2.buildJobs > 0).keySet
    assert(iterative == DriverIterative,
      s"gained: ${(iterative -- DriverIterative).toSeq.sorted}; " +
        s"lost: ${(DriverIterative -- iterative).toSeq.sorted}")
  }

  // ------------------------------------------------ named query shapes

  test("q78 bands through ONE native expression, no interpreted lambdas") {
    // the composed higher-order-lambda form cost 27 s against 0.8 s for
    // the bit-identical batch twin q25; the native MinhashBandsExpr 0.52 s
    val plan = query("q78_stream_banding").queryExecution.optimizedPlan.toString
    assert(occurrences(plan, "graft_minhash_bands") == 1, plan)
    assert(!plan.contains("lambdafunction"), plan)
  }

  test("q32 recomputes its exploded shingle stage; only compact stages cache") {
    // the shingle frame is BIGGER than its parquet input: caching it cost
    // 2-4x the recompute CPU at sf1 (Staging scaladoc). The band table is
    // a compact stage and may cache.
    val plan = query("q32_jaccard_pairs").queryExecution.optimizedPlan
    // the shingle stage: (doc_id, h) rows produced through a Generate
    def exploded(p: LogicalPlan): Boolean =
      p.exists(_.isInstanceOf[Generate]) &&
        p.output.map(_.name).toSet == Set("doc_id", "h")
    val cached = plan.collect { case r: InMemoryRelation => r }
    assert(cached.nonEmpty, "the band table is no longer staged")
    assert(!cached.exists(r => exploded(r.cacheBuilder.logicalPlan)),
      plan.toString)
    assert(plan.exists(_.isInstanceOf[Generate]), plan.toString)
  }

  test("q306 broadcasts the DSIR histogram into the scoring join by hint") {
    hintsOnly {
      val plan = physical(query("q306_dsir_weights"))
      assert(plan.contains("BroadcastHashJoin"), plan)
    }
  }

  test("q312 shuffles keyed only and verifies in two semi-join phases") {
    // hash pre-filter, then content verify: k-gram strings materialize at
    // candidate positions only, never corpus-wide
    val plan = physical(query("q312_exact_dup_spans"))
    assert(!plan.contains("SinglePartition"), plan)
    assert(occurrences(plan, "LeftSemi") >= 2, plan)
  }

  test("TPC-H shapes: hinted dims broadcast, EXISTS semi-joins, filters push down") {
    hintsOnly {
      def bhj(q: String) = occurrences(physical(query(q)), "BroadcastHashJoin")
      assert(bhj("q233_tpch_q3") >= 1) // filtered customers
      assert(bhj("q234_tpch_q5") >= 4) // customer, supplier, nation, region
      assert(bhj("q247_tpch_q18") >= 1) // customers
      assert(bhj("q263_tpch_q19") >= 1) // the 3-brand part dim
      // the one-row average rides a broadcast nested-loop cross join
      assert(physical(query("q248_tpch_q22")).contains("BroadcastNestedLoopJoin"))
      assert(physical(query("q253_tpch_q4")).contains("LeftSemi"))
      val q6 = physical(query("q254_tpch_q6"))
      assert(q6.contains("PushedFilters:") &&
        q6.contains("IsNotNull(l_shipdate)"), q6)
    }
    // Q13 stays a LEFT outer join, so zero-order customers would count
    assert(physical(query("q246_tpch_q13")).contains("LeftOuter"))
  }

  // ------------------------------------------------ operator plan shapes

  test("window-bearing operators partition every window by a key") {
    val d = docs()
    val ev = events()
    def src(n: Long) = concat(lit("s"), pmod(col("doc_id"), lit(n)))
    val tokens = d.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    val users = ev.groupBy("user_id")
      .agg(count(lit(1)).as("x"), sum("cents").as("y"))
    val scd = ev.select("user_id", "event_type", "ts_ms", "event_id")
    val dim = Snapshot.scd2(scd.filter(col("ts_ms") < 1705363200000L),
      "user_id", "event_type", "ts_ms", "event_id")
    val ops: Seq[(String, DataFrame)] = Seq(
      "distinctiveTerms" -> TextAnalysis.distinctiveTerms(d, "text", "doc_id", 3),
      "packPlan" -> Packing.packPlan(d, "text", "doc_id", 2048),
      "bm25TopK" -> Retrieval.bm25TopK(d, "text", "doc_id",
        Seq(0 -> Seq("spark", "hash"), 1 -> Seq("window", "sort")), k = 10),
      "naiveBayesClassify" -> TextAnalysis.naiveBayesClassify(
        d.filter(col("doc_id") % 2 === 0)
          .withColumn("lang", TextAnalysis.langId(col("text"))),
        d.filter(col("doc_id") % 2 === 1), "text", "doc_id", "lang"),
      "stratifiedSplit" -> Sampling.stratifiedSplit(
        d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang")),
        "lang", "doc_id", Seq("train" -> 80, "val" -> 10, "test" -> 10)),
      "globalQuantiles" -> Stats.globalQuantiles(ev, "cents", Seq(1, 50, 99)),
      "ntileBuckets" -> Stats.ntileBuckets(
        d.withColumn("n_chars", length(col("text")))
          .withColumn("cls", pmod(col("doc_id"), lit(7L))),
        "cls", "n_chars", "doc_id", 10),
      "rollingAgg" -> EventTimeOps.rollingAgg(ev.withColumn("one", lit(1L)),
        "user_id", "ts_ms", "one", 3600000L),
      "transitionMatrix" -> EventTimeOps.transitionMatrix(ev, "user_id",
        "ts_ms", "event_id", "event_type"),
      "groupBudgetSelect" -> Packing.groupBudgetSelect(
        tokens.withColumn("source", src(10))
          .withColumn("score", pmod(col("doc_id"), lit(100L))),
        "source", "score", "doc_id", "n_tokens", budgetTokens = 5000L),
      "statusIntervals" -> EventTimeOps.statusIntervals(ev, "user_id",
        "ts_ms", "event_id", "event_type"),
      "interarrivalStats" -> EventTimeOps.interarrivalStats(ev, "user_id",
        "ts_ms", "event_id", "event_type"),
      "gapfillForwardFill" -> EventTimeOps.gapfillForwardFill(ev, "user_id",
        "ts_ms", "event_id", "cents", stepMs = 3600000L),
      "percentileRank" -> Stats.percentileRank(
        d.withColumn("source", src(8)).withColumn("n", length(col("text"))),
        "source", "n", "doc_id"),
      "rocAucReport" -> Stats.rocAucReport(ev, "event_type", "cents"),
      "ksStatistic" -> Stats.ksStatistic(ev, "event_type", "cents",
        "purchase", "view"),
      "cusumReport" -> EventTimeOps.cusumReport(ev, "user_id", "ts_ms",
        "event_id", "cents"),
      "behaviorEntropy" -> EventTimeOps.behaviorEntropy(ev, "user_id",
        "ts_ms", "event_id", "event_type"),
      "globalRank" -> Stats.globalRank(ev.select("event_id", "cents"),
        "cents", "event_id"),
      "qqCompare" -> Stats.qqCompare(ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "view"), "cents",
        Seq(10, 25, 50, 75, 90)),
      "weightedGlobalQuantiles" -> Stats.weightedGlobalQuantiles(
        d.select(length(col("text")).as("n_chars"),
          TextAnalysis.tokenCount(col("text")).as("w")).filter(col("w") > 0),
        "n_chars", "w", Seq(50, 90, 99)),
      "rankSumTest" -> Stats.rankSumTest(ev.select("event_type", "cents"),
        "event_type", "cents"),
      "spearmanReport" -> Stats.spearmanReport(ev.select("cents", "event_id"),
        "cents", "event_id"),
      "averagePrecisionReport" -> Stats.averagePrecisionReport(
        ev.select("event_type", "cents"), "event_type", "cents"),
      "giniReport" -> Stats.giniReport(
        sqlc.read.parquet(s"$tiny/orders.parquet")
          .select(col("o_orderpriority").as("cls"),
            floor(col("o_totalprice")).cast(LongType).as("x")), "cls", "x"),
      "paretoFrontier" -> Stats.paretoFrontier(users, "x", "y"),
      "quantileNormalize" -> Stats.quantileNormalize(
        sqlc.read.parquet(s"$tiny/customer.parquet")
          .select(floor(col("c_acctbal") * 100).cast(LongType).as("v")),
        sqlc.read.parquet(s"$tiny/orders.parquet")
          .select(floor(col("o_totalprice") * 100).cast(LongType).as("v")), "v"),
      "latenessAudit" -> EventTimeOps.latenessAudit(
        ev.select(col("user_id"),
          ((col("event_id") + (col("event_id") % 10L) * 5L) * 100000L +
            col("event_id")).as("arr"), col("ts_ms")),
        "user_id", "arr", "ts_ms", Seq(0L, 60000L, 3600000L)),
      "rateLimitAudit" -> EventTimeOps.rateLimitAudit(
        ev.select("event_type", "event_id", "ts_ms"), "event_type", "ts_ms",
        "event_id", limit = 10, windowMs = 86400000L),
      "scd2" -> dim,
      "scd2Merge" -> Snapshot.scd2Merge(dim,
        scd.filter(col("ts_ms") >= 1705363200000L),
        "user_id", "event_type", "ts_ms", "event_id"))
    val unkeyed = ops.collect { case (n, df) if unkeyedWindows(df).nonEmpty => n }
    assert(unkeyed.isEmpty, s"unpartitioned windows in: $unkeyed")
    // the check must see windows at all: each of these plans carries one
    val windowless = ops.collect { case (n, df) if !hasWindow(df) => n }
    assert(windowless.isEmpty, s"no window at all in: $windowless")
  }

  test("binning, rule audit and chunking stay map-only or single-pass") {
    val ev = events()
    // bin boundaries are literals: no window operator at all
    assert(!hasWindow(Stats.binTargetRates(ev, "cents", "event_type",
      "purchase", nBins = 10)))
    assert(!hasWindow(Stats.woeIvReport(ev, "cents", "event_type", "purchase")))
    val ra = Quality.ruleAudit(sqlc.read.parquet(s"$tiny/lineitem.parquet"), Seq(
      "qty_le_25" -> (col("l_quantity") <= 25),
      "price_pos" -> (col("l_extendedprice") > 0)))
    assert(!ra.queryExecution.optimizedPlan.exists {
      case _: WindowNode | _: Join => true
      case _ => false
    }, "ruleAudit must stay one aggregate pass")
    val chunks = TextAnalysis.chunkDocs(docs(), "text", "doc_id", 64, 16)
    assert(!physical(chunks).contains("Exchange"), "chunkDocs must not shuffle")
  }

  test("hinted broadcasts hold with auto-broadcast off") {
    val d = docs()
    val ev = events()
    hintsOnly {
      def broadcasts(df: DataFrame) = {
        val p = physical(df)
        p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange")
      }
      // the eval shingle set, so the corpus side never shuffles to meet it
      assert(broadcasts(Dedup.contamination(d.filter(col("doc_id") % 7 =!= 0),
        d.filter(col("doc_id") % 7 === 0), "text", "doc_id")))
      // two-stage prefix scans: per-bucket offsets onto a keyed window
      assert(broadcasts(Packing.packPlan(d, "text", "doc_id", 2048)))
      val scored = d.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .withColumn("score", col("doc_id") % 100L)
      assert(broadcasts(Packing.budgetSelect(scored, "score", "doc_id",
        "n_tokens", budgetTokens = 10000L)))
      assert(broadcasts(Sampling.epochShuffle(d.select("doc_id"), "doc_id",
        epoch = 1)))
      // the dense sketch ships to the target side: an equality join
      val cents = ev.select("event_id", "cents")
      assert(physical(Stats.logHistPercentileScore(cents, "cents", cents,
        "cents")).contains("BroadcastHashJoin"))
    }
  }

  test("as-of join partitions its window by (key, time slice)") {
    // one hot key carrying 90% of both sides must spread across slices
    val base = sqlc.range(10000L)
    val k = when(col("id") % 10L === 0L, col("id") % 97L + 1L)
      .otherwise(lit(0L)).as("k")
    val l = base.filter(col("id") % 2 === 0)
      .select(k, col("id").as("t"), (col("id") * 3L).as("lv"))
    val r = base.filter(col("id") % 2 === 1)
      .select(k, col("id").as("t"), (col("id") + 7L).as("v"))
    val windows = AsofJoin.asofJoin(l, r, "k", "t", Seq("v"))
      .queryExecution.optimizedPlan.collect { case w: WindowNode => w }
    assert(windows.exists(_.partitionSpec.exists(_.references.exists(
      _.name == "__tb"))), windows.map(_.partitionSpec).mkString("\n"))
  }

  test("phash band candidates stay an equi-join") {
    // a nested-loop or cartesian join here is corpus² whatever the banding
    val ev = KafkaLike.events(sqlc, tiny)
    val id = col("event_id")
    val imgs = ev.filter(id % 53L === 0L).select(id)
      .withColumn("payload", Multimodal.bmpEncode(lit(16L),
        transform(sequence(lit(0L), lit(255L)), i =>
          (lit(8L) + ((id % 97L) * 37L + i * 11L) % 240L +
            (id * 3L + i) % 2L) * 65793L)))
    val plan = physical(
      MediaDedup.phashCandidatePairs(imgs, "event_id", "payload", lit(2)))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("videoSignature is one native container scan, no per-frame demux") {
    // the composed form re-parsed the whole container per frame
    // (O(frames × bytes)); the native expression is one scan
    val plan = KafkaLike.events(sqlc, tiny)
      .filter(col("event_id") % 47L === 0L)
      .select(MediaDedup.videoSignature(Multimodal.synthClip(lit(16L), lit(64),
        col("event_id") % 31L, col("event_id")), lit(2)).as("sig"))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_avi_signature") &&
      !plan.contains("graft_avi_frame"), plan)
  }

  // ------------------------------------------------ staging and results

  test("staging: persist builds run no job; staging modes agree") {
    val s = sqlc
    val d = docs()
    def pairs = Dedup.ngramJaccardPairs(d, "text", "doc_id")
    def spans = Dedup.spanDedup(d, "text", "doc_id")
    try {
      withConf(Staging.ConfKey -> "persist") {
        // a map-only staged frame, then a shuffle-bearing one (the band
        // table): CacheManager only marks the level, nothing runs
        assert(queryJobsDuring(spans)._2 == 0)
        val (p, jobs) = queryJobsDuring(pairs)
        assert(jobs == 0)
        val (nPairs, nSpans) = (p.count(), spans.count())
        assert(nPairs > 0)
        withConf(Staging.ConfKey -> "local") {
          assert(pairs.count() == nPairs)
          assert(spans.count() == nSpans)
        }
      }
    } finally Staging.releaseAll(s)
  }

  test("capped band candidates: a dup-dense bucket emits the n-1 star") {
    // 2,000 byte-identical docs share ONE bucket per band: uncapped that
    // is n²/2 pairs; the cap's star is (bucket min, other), linear
    val oneDoc = (1 to 40).map(i => s"w$i").mkString(" ")
    val dense = sqlc.range(2000L).select(col("id").as("doc_id"),
      lit(oneDoc).as("text"))
    val bands = Dedup.minhashBands(Dedup.minhashSignatures(dense, "text", "doc_id"))
    assert(Dedup.minhashCandidates(bands, maxBucketSize = 64).count() == 1999L)
    // the star keeps the near-dedup survivor set (cap forced tiny so
    // ordinary buckets take the star path too)
    val d = docs()
    val b = Dedup.minhashBands(Dedup.minhashSignatures(d, "text", "doc_id"))
    def keep(cap: Int) = Dedup.applyNearDedup(d,
      Dedup.minhashCandidates(b, maxBucketSize = cap), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keep(0) == keep(2))
  }

  test("nearDupClusters: rounds follow diameter; a star and a chain resolve") {
    // a 2k-doc star (one template matching many docs) converges in ~2
    // rounds; the 8-link chain is the adversarial diameter case
    val ids = sqlc.range(5000L).select(col("id").as("doc_id"))
    val star = sqlc.range(1L, 2000L).select(lit(0L).as("doc_a"), col("id").as("doc_b"))
    val chain = sqlc.range(3000L, 3008L)
      .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
    val moved = Dedup.nearDupClusters(ids, star.unionByName(chain), "doc_id")
      .filter(col("cluster_id") =!= col("doc_id"))
      .groupBy("cluster_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(moved == Map(0L -> 1999L, 3000L -> 8L))
  }

  test("embedding near-dup presets keep their recall floors against brute force") {
    // sf0.1 has no natural pairs above cos ≈ 0.7, so near-dups are planted:
    // a perturbed copy of every 4th vector (±30% per-coordinate sinus
    // noise → cos ≈ 0.95-0.99). Truth is brute-forced, so the planted
    // pairs' actual cosines are what recall is measured against.
    val e = sqlc.read.parquet(s"$testdata/sf0.1/embeddings.parquet")
      .select("vec_id", "embedding")
    val emb = e.unionByName(e.filter(col("vec_id") % 4 === 0).select(
      (col("vec_id") + 10000000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> x * cast(1.0d + 0.3d * " +
        "sin(cast(vec_id AS DOUBLE) * 13.0d + cast(i AS DOUBLE)) AS FLOAT))")
        .as("embedding")))
    val qv = emb.select(col("vec_id").as("vid"),
      Similarity.quantize(col("embedding")).as("qv"))
      .withColumn("n2", Similarity.norm2Q(col("qv"))).cache()
    try {
      val a = qv.alias("a")
      val b = qv.alias("b")
      val truth = a.join(b, col("a.vid") < col("b.vid"))
        .select(col("a.vid").as("item_a"), col("b.vid").as("item_b"),
          (Similarity.dotQ(col("a.qv"), col("b.qv")) /
            sqrt(col("a.n2") * col("b.n2"))).as("cosd"))
        .filter(col("cosd") >= 0.4).cache()
      def recallPct(p: Dedup.NearDupPreset, atCos: Double): Double = {
        val got = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
          numTables = p.numTables, planesPerTable = p.planesPerTable)
          .select("item_a", "item_b")
        val t = truth.filter(col("cosd") >= atCos)
        val n = t.count()
        assert(n > 0, s"no truth pairs at cos >= $atCos")
        t.join(got, Seq("item_a", "item_b"), "left_semi").count() * 100.0 / n
      }
      try {
        // the floors documented on Dedup.NearDupPreset
        assert(recallPct(Dedup.NearDupPreset.Strict95, 0.9) >= 70.0)
        assert(recallPct(Dedup.NearDupPreset.Broad40, 0.4) >= 40.0)
      } finally truth.unpersist()
    } finally qv.unpersist()
  }

  test("AQE splits a skewed sort-merge join partition (skew=true)") {
    // the engine-native counterpart of SkewJoin.saltedJoin. The keyed
    // aggregate above the join requires its hash distribution, so AQE
    // skips the split unless forced. `v` rides along so the hot side's
    // shuffle is not a run of one compressed constant.
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true") {
      val fact = sqlc.range(200000L)
        .select(when(col("id") % 10L < 8L, 7L).otherwise(col("id")).as("fk"),
          col("id").as("v"))
      val dim = sqlc.range(20000L)
        .select(col("id").as("dk"), (col("id") * 3L).as("attr"))
      val j = fact.join(dim, col("fk") === col("dk"))
        .groupBy("fk").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      // drive j's OWN QueryExecution: count() would plan a separate query
      // and leave j's adaptive plan unfinalized, skew unmarked
      j.collect()
      assert(physical(j).contains("skew=true"), physical(j))
    }
  }

  test("KMV distinct estimate stays within 15% of the exact count") {
    // the mix31 uniformizer is what makes the k-th minimum honest
    val viewers = KafkaLike.events(sqlc, s"$testdata/sf0.1")
      .filter(col("event_type") === "view")
    val h = viewers.select(Stats.mix31r(col("user_id"), rounds = 3).as("h"))
    val est = Stats.kmvOverlapReport(Stats.kmvSketch(h, "h", 128),
      Stats.kmvSketch(h, "h", 128), 128).head().getLong(0)
    val exact = viewers.select("user_id").distinct().count()
    assert(exact > 128, "the sketch must be full for the estimate to count")
    assert(math.abs(est - exact) * 100 <= exact * 15, s"est $est vs exact $exact")
  }

  test("pruning report: each sort order full-scans the other dimension, z-order prunes both") {
    // (layout, predicate) -> (files in the layout, files the scan touches)
    val pr = query("q251_pruning_report", s"$testdata/sf0.01").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(pr.values.forall(_._1 == 16L), pr)
    assert(pr(("sort_x", "p_supp_band"))._2 == 16L)
    assert(pr(("sort_y", "p_part_band"))._2 == 16L)
    assert(pr(("zorder", "p_part_band"))._2 < 16L)
    assert(pr(("zorder", "p_supp_band"))._2 < 16L)
  }
}
