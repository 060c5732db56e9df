package graft

import graft.plans.AsOfJoinExec
import graft.queries.StreamingQueries
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: every oracle would stay green if a
  * config/optimizer flip silently replaced a broadcast join with a
  * sort-merge, planned a cartesian product, or stopped planning the
  * custom as-of exec — but the 100×-scale story would be dead. These
  * specs fail loudly on plan shape, not results.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** Streaming entries execute a replay on call (their returned frame
    * is the materialized result, not the plan under test).
    */
  private val streamingEntries = StreamingQueries.queries.keySet

  /** Pre-AQE physical plan: assertable deterministically; AQE only
    * re-plans *away* from shapes asserted here on runtime stats.
    */
  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan

  test("q3_join_agg plans three broadcast hash joins (all dims broadcast, fact streams)") {
    // orders ⋈ customer ⋈ nation ⋈ region: every dim side broadcast —
    // a sort-merge flip on any of the three is a scale regression.
    val n = plan("q3_join_agg").collect { case b: BroadcastHashJoinExec => b }.size
    assert(n == 3, s"expected 3 BroadcastHashJoin, found $n")
  }

  test("no registered batch query plans a cartesian product") {
    (SparkEntry.queries.keySet -- streamingEntries).toSeq.sorted.foreach { name =>
      val cart = plan(name).collect { case c: CartesianProductExec => c }
      assert(cart.isEmpty, s"$name plans CartesianProduct")
    }
  }

  test("broadcast nested-loop joins only where all-pairs is the contract") {
    // knn_brute is the deliberate brute-force ANN baseline: a non-equi
    // self-join (vec_id !=) over a broadcast query side; the composed
    // multimodal_feature_knn scores the same brute-force shape over
    // extracted features, knn_int8 is the same contract in the
    // quantized domain, and knn_int8_rerank's stage 1 IS that int8
    // scan (its stage-2 joins are equi-joins). Nothing else may fall
    // back to a nested-loop join.
    // text_bpe_train, events_resample_ffill, events_rfm, and
    // q22_share_of_total crossJoin a BROADCAST 1-row model-state
    // relation (top pair / day range / corpus horizon / grand total) —
    // a conditionless broadcast join is planned as BNLJ by definition
    // and is O(N·1); the guard is against all-PAIRS fallbacks, not
    // scalar fan-out.
    // knn_ivf_recall's ground-truth stage IS knn_brute (recall is
    // measured against the exact all-pairs top-K by definition)
    // knn_pq_adc scans the PQ-coded corpus per broadcast query — the
    // same declared brute-force contract as knn_int8, over an 8-int
    // row instead of 64 floats
    // knn_matryoshka/_rerank scan per broadcast query over the 16-lane
    // prefix — the declared brute contract in the truncated domain
    // lineitem_zorder_spans and orders_month_spine join the same 1-row
    // relation class (min/max bounds broadcast back over the scan /
    // into the spine clip)
    // text_heavy_hitters joins the same 1-row class (the total token
    // count N broadcast into the candidate-verify filter)
    // docs_manifest_prune / docs_wap_publish join the same 1-row
    // class (predicate bounds / published-table stats broadcast over
    // the ≤ files manifest rows resp. the 2 audit rows)
    val allowed = Set("knn_brute", "multimodal_feature_knn", "knn_int8",
      "knn_int8_rerank", "knn_ivf_recall", "knn_pq_adc", "knn_pq_rerank",
      "knn_ivfpq_rerank", "knn_matryoshka", "knn_matryoshka_rerank",
      "knn_matryoshka_recall",
      "text_bpe_train", "text_heavy_hitters",
      "events_resample_ffill", "events_rfm", "q22_share_of_total",
      "lineitem_zorder_spans", "orders_month_spine",
      "docs_manifest_prune", "docs_wap_publish")
    (SparkEntry.queries.keySet -- streamingEntries -- allowed).toSeq.sorted.foreach { name =>
      val bnlj = plan(name).collect { case b: BroadcastNestedLoopJoinExec => b }
      assert(bnlj.isEmpty, s"$name plans BroadcastNestedLoopJoin")
    }
    assert(plan("knn_brute").collect { case b: BroadcastNestedLoopJoinExec => b }.nonEmpty,
      "knn_brute should broadcast the query side of its all-pairs join")
  }

  test("text_bm25 broadcasts the DF table; events_scd2 rides ONE exchange") {
    // DF join flipping to sort-merge would shuffle the posting lists
    // by token; the scd2 windows + change-filter must reuse one
    // user_id partitioning (Filter preserves partitioning AND order).
    assert(plan("text_bm25").collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "BM25 document-frequency join must be broadcast")
    // exchanges exist only in the EXECUTED plan (EnsureRequirements),
    // and AQE must be off to see the physical tree pre-materialization
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ex = SparkEntry.queries("events_scd2")(spark, sf)
        .queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
      assert(ex.size == 1,
        s"events_scd2 expected exactly 1 shuffle, found ${ex.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("multimodal_caption_match broadcasts the caption histograms into the block join") {
    // the source-block join must keep the (tiny, caption-count-sized)
    // histogram side broadcast — a sort-merge flip would shuffle the
    // image features by source
    assert(plan("multimodal_caption_match")
      .collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "caption block join must be a broadcast hash join")
  }

  test("events_range_join decomposes the non-equi range predicate into a broadcast equi-join") {
    // the whole point of the covering-bucket rewrite: the naive
    // `lo <= value < hi` join is a BNLJ (banned by the suite-wide
    // guard above); the rewritten plan must be a broadcast HASH join
    // on the bucket key with the exact bounds as a residual filter
    assert(plan("events_range_join")
      .collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "range join must plan as a broadcast hash equi-join on the covering bucket")
  }

  test("text_lm_score broadcasts the vocabulary into the scoring join") {
    // The top-K bigram vocabulary is tiny by construction; if the
    // scoring join ever degrades to sort-merge, the full bigram
    // explode shuffles by bigram string — the exact cost the
    // broadcast exists to avoid at 100 TB.
    val n = plan("text_lm_score").collect { case b: BroadcastHashJoinExec => b }.size
    assert(n >= 1, "vocabulary join must be a broadcast hash join")
  }

  test("events_asof_join plans the custom AsOfJoinExec (no pair blow-up)") {
    assert(plan("events_asof_join").collect { case a: AsOfJoinExec => a }.nonEmpty,
      "AsOfJoinExec missing — as-of fell back to a composed plan")
  }

  test("text_curation_pipeline dedups via pre-shuffle arg-min, not a window over full rows") {
    // Keep-lowest-doc_id must stay a min_by aggregation: partial
    // (arg-min) reduction BEFORE the single exchange, whose input
    // carries only (digest, manifest) — never the text. A WindowExec
    // means the shuffle-full-rows-then-sort-per-key shape re-crept in.
    // (Spark plans the min_by as SortAggregate — the struct buffer
    // fails UnsafeRow.isMutable, so local narrow-row sorts are
    // expected; the guards are the window, the exchange count, the
    // partial mode, and the exchange's input width.)
    // Exchanges are inserted by EnsureRequirements, so this asserts on
    // the *executed* plan — with AQE off, because AdaptiveSparkPlanExec
    // hides the physical tree until materialization.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("text_curation_pipeline")(spark, sf)
        .queryExecution.executedPlan
      val windows = p.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(windows.isEmpty, "text_curation_pipeline plans a WindowExec")
      val exchanges = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size == 1,
        s"expected exactly 1 shuffle (on the content digest), found ${exchanges.size}")
      val ex = exchanges.head
      val partials = ex.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.nonEmpty &&
            a.aggregateExpressions.forall(_.mode ==
              org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
      }
      assert(partials.nonEmpty,
        "no partial aggregate below the exchange — arg-min reduction happens post-shuffle")
      assert(!ex.child.output.exists(_.name == "text"),
        s"text column crosses the exchange: ${ex.child.output.map(_.name)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("multimodal decode stages plan ZERO shuffles (payloads never leave the scan stage)") {
    // meta/decode/resize/frames/audio are pure scan → mapPartitions →
    // project pipelines; an exchange anywhere means payload bytes are
    // crossing the network — the defining multimodal scale regression.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Seq("multimodal_meta", "multimodal_image_meta", "multimodal_resize",
        "multimodal_frames", "multimodal_audio_meta").foreach { name =>
        val p = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
        val exchanges = p.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
        assert(exchanges.isEmpty, s"$name plans a shuffle: payload crosses an exchange")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("text_contamination broadcasts the eval grams; corpus text never crosses an exchange") {
    // The benchmark side is MB-scale by contract, so it must reach the
    // corpus join as a broadcast — a sort-merge flip here shuffles the
    // entire corpus' exploded n-grams. The only shuffles allowed are
    // on the SMALL side (eval-gram distinct) or narrow per-doc aggs;
    // none may carry the text or the exploded corpus gram column wider
    // than (g, doc_id, n_grams).
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("text_contamination")(spark, sf)
        .queryExecution.executedPlan
      assert(p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
        "eval grams not broadcast — corpus-side shuffle join planned")
      p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.foreach { ex =>
        assert(!ex.child.output.exists(_.name == "text"),
          s"text column crosses an exchange: ${ex.child.output.map(_.name)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("text_mixture_sample plans zero shuffles (pure map over the scan)") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("text_mixture_sample")(spark, sf)
        .queryExecution.executedPlan
      val exchanges = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, "mixture sampling must not shuffle")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("text_pack_sequences shuffles one narrow projection (secondary-sort shape)") {
    // One exchange on the bucket key, carrying only (doc_id, bucket,
    // n_tokens) — the text must stay in the scan stage; the sort below
    // mapPartitions must be partition-local, not global.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("text_pack_sequences")(spark, sf)
        .queryExecution.executedPlan
      val exchanges = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size == 1,
        s"expected exactly 1 shuffle (on bucket), found ${exchanges.size}")
      val ex = exchanges.head
      assert(!ex.child.output.exists(_.name == "text"),
        s"text column crosses the exchange: ${ex.child.output.map(_.name)}")
      assert(ex.child.output.size <= 3,
        s"exchange input wider than (doc_id, bucket, n_tokens): ${ex.child.output.map(_.name)}")
      val globalSorts = p.collect {
        case s: org.apache.spark.sql.execution.SortExec if s.global => s
      }
      assert(globalSorts.isEmpty, "text_pack_sequences plans a GLOBAL sort")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q16_null_aware_anti plans broadcast NULL-AWARE anti joins, not nested loops") {
    // NOT IN over a nullable subquery column must become the
    // null-aware variant of the broadcast anti join (a plain LeftAnti
    // would return wrong rows under three-valued logic; a BNLJ
    // fallback would be the all-pairs scale regression).
    val joins = plan("q16_null_aware_anti").collect { case b: BroadcastHashJoinExec => b }
    assert(joins.size == 2, s"expected 2 broadcast anti joins, found ${joins.size}")
    assert(joins.forall(_.isNullAwareAntiJoin),
      "NOT IN did not plan as a null-aware anti join")
  }

  test("events_salted_join keeps the replicated dim on the broadcast side") {
    // The ×8 salt replication must not push the dim over the broadcast
    // threshold into a sort-merge join — that would shuffle the fact
    // on (user_id, salt), paying the exact cost the salt exists to
    // spread, not create.
    val n = plan("events_salted_join").collect { case b: BroadcastHashJoinExec => b }.size
    assert(n == 1, s"expected the salted dim join to broadcast, found $n BHJ")
  }

  test("docs_partitioned_scan prunes partitions at plan time") {
    // The source predicate must land in the scan's PartitionFilters
    // (directory pruning), not its data filters — at 100 TB this is
    // the difference between opening 2 and 2000 partitions.
    val scans = plan("docs_partitioned_scan").collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no FileSourceScanExec in the plan")
    assert(scans.head.partitionFilters.nonEmpty,
      "source predicate did not become a partition filter")
  }

  /** Runtime bloom-filter injection (InjectRuntimeFilter): a selective
    * dim-side filter becomes a `might_contain(bloom_filter_agg(...))`
    * predicate on the FACT scan, pruning rows before the shuffle join.
    * At cluster scale this fires on defaults (application side
    * > 10 GB); locally only the application-side size threshold is
    * lowered — the creation-side bound and the rule itself are stock.
    */
  test("runtime bloom filter prunes the fact side of a shuffled fact-dim join") {
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    val prevApp = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val prevBc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = Tables.lineitem(spark, sf)
      val ord = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val plan = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("o_orderpriority")).count()
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        "expected an injected runtime bloom filter on the fact scan")
    } finally {
      conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", prevApp)
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("events_kmv_overlap selects k-mins via bounded partial agg, never a sort") {
    // The r13 verdict's one plan-shape defect: k-min selection through
    // row_number over a 10-value event_type window was a full
    // sort-shuffle onto a low-cardinality key — contradicting the
    // entry's own "sketches are O(k) per type" claim. The fix is the
    // KMinHashes typed aggregator (TopKByScore's shape); this pin
    // fails loudly if any sort or window re-creeps into the plan, and
    // asserts both aggregation stages actually run in Partial mode
    // below their exchange (map-side k-min heaps, O(k) per partition
    // per group on the wire).
    val p = plan("events_kmv_overlap")
    assert(p.collect {
      case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty,
      "events_kmv_overlap plans a SortExec")
    assert(p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
      "events_kmv_overlap plans a WindowExec")
    val partials = p.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if a.aggregateExpressions.nonEmpty &&
          a.aggregateExpressions.forall(_.mode ==
            org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
    }
    assert(partials.size == 2,
      s"expected 2 partial k-min aggregation stages (build + union), found ${partials.size}")
  }

  test("batch taxi entries share the streaming functions without a watermark in their plans") {
    // taxi_total_count, taxi_sliding_count and taxi_ride_duration ARE
    // TaxiPipelines' streaming functions applied to the batch rides
    // frame; their withWatermark must be gone from the batch plan
    Seq("taxi_total_count", "taxi_sliding_count", "taxi_ride_duration").foreach { name =>
      val wm = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => w
      }
      assert(wm.isEmpty, s"$name plans an EventTimeWatermark")
    }
  }
}
