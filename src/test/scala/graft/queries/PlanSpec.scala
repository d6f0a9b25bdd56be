package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.zeek.SharedSpark

/** Physical-plan assertions: the optimizations we rely on for 100 TB
  * scale must actually appear in the executed plans — broadcast joins for
  * dimension tables (no fact-table shuffle), parquet filter pushdown, and
  * partial (map-side) aggregation. Plan regressions fail here before they
  * show up as bench regressions. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val sf = "/root/testdata/sf0.001"

  // the returned text includes the plans of any Lineage.cut segments the
  // query materialized while being built — shapes that execute inside a
  // cut are invisible in the final plan (it sees only the checkpoint
  // scan) but must stay pinned
  private def plan(name: String): String = {
    graft.operators.Lineage.recordPlans = true
    graft.operators.Lineage.clearRecordedPlans()
    try {
      val top = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      (graft.operators.Lineage.recordedPlans :+ top).mkString("\n--- cut ---\n")
    } finally graft.operators.Lineage.recordPlans = false
  }

  // q03/q05 assert only that the TRUE dimension side is broadcast — the
  // SF-linear sides (date-filtered orders⋈customer, ASIA customers) carry
  // no hint, so stats/AQE may legitimately pick a shuffle join for them at
  // scale. Pinning !SortMergeJoin here would freeze the wrong plan.
  test("q03: filtered customer dimension is broadcast") {
    val p = plan("q03_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q05: join chain broadcasts region/nation dimensions") {
    val p = plan("q05_local_supplier")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q06: filters pushed to parquet scan") {
    val p = plan("q06_revenue_forecast")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") || p.contains("PushedFilters: [Is"),
      "expected pushed filters in scan:\n" + p.take(2000))
    // column pruning: only the needed columns in ReadSchema
    assert(!p.contains("l_orderkey"), "unneeded column not pruned:\n" + p.take(2000))
  }

  test("q01: partial aggregation before the shuffle") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("HashAggregate"), p.take(1000))
    // partial + final pair ⇒ map-side combine happens before exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q08: rank filter pushes a partial WindowGroupLimit below the shuffle") {
    // rn <= 3 must prune to ≤3 rows per key map-side (WindowGroupLimit
    // partial + final pair) — without it every order row crosses the
    // window shuffle and the rank filter only runs after the full
    // per-key sort. This is the optimization that keeps q08's shuffle
    // bounded by 3×|keys| instead of |orders| at 100×.
    val p = plan("q08_window_topn")
    assert(p.contains("WindowGroupLimit"),
      "rank-limit pushdown missing:\n" + p.take(3000))
  }

  test("q15: top-k uses TakeOrderedAndProject, not a global sort") {
    val p = plan("q15_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(1000))
  }

  test("q55: full outer join aggregates the big side before joining") {
    val p = plan("q55_full_outer")
    // the orders side is pre-aggregated to one row per custkey, so the
    // full outer join's inputs are both dimension-sized
    assert(p.contains("FullOuter") || p.contains("full_outer"), p.take(2000))
    assert(p.contains("HashAggregate"), p.take(2000))
  }

  test("q47: json scan prunes to props column only") {
    val p = plan("q47_json_funcs")
    assert(!p.contains("user_id"), "unneeded column not pruned:\n" + p.take(2000))
  }

  test("d06: minhash band shuffle carries bare ids — no text, no signatures") {
    val q = graft.SparkEntry.queries("d06_minhash_neardups")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // the bucket aggregation (the primitive-buffer collect_longs since
    // round 17) must see only the doc id: text joins back in at the
    // (tiny) pair stage, and the signature's job is done once the band
    // key is computed — shipping it ×bands through the shuffle would be
    // ~65× the volume for a column nothing reads
    val bucketAgg = p.linesIterator.filter(_.contains("collect_longs")).mkString("\n")
    assert(bucketAgg.nonEmpty, "bucket aggregation not found:\n" + p.take(2000))
    assert(!bucketAgg.contains("text"), "band buckets should not carry text:\n" + bucketAgg)
    assert(!bucketAgg.contains("sig"), "band buckets should not carry signatures:\n" + bucketAgg)
  }

  test("d06: candidate pair set broadcasts onto the text join-back") {
    val q = graft.SparkEntry.queries("d06_minhash_neardups")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // the corpus must stream map-side through BroadcastHashJoins — a
    // SortMergeJoin here means the whole corpus shuffled for a tiny pair set
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "corpus shuffled for the join-back:\n" + p.take(2000))
  }

  test("d13: stratified sample sorts within shards, not globally") {
    val q = graft.SparkEntry.queries("d13_stratified_sample")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // the row_number window partitions by source → per-shard sort; the
    // only global ordering is the final (post-filter, tiny) ORDER BY
    assert(p.contains("Window"), p.take(2000))
  }

  test("q66: interval join is a bucket equi-join, not a broadcast nested loop") {
    val p = plan("q66_range_join")
    // Spark's default plan for a pure range predicate is a nested-loop
    // join (quadratic per pair of partitions at scale); the bucketed
    // formulation must plan as an equi-join on the bucket key with the
    // BETWEEN as a residual condition
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range join fell back to nested loop:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p.take(2000))
  }

  test("d12: vocab top-200 is TakeOrderedAndProject, not a global window sort") {
    val q = graft.SparkEntry.queries("d12_vocab")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // orderBy().limit() plans per-partition bounded heaps + one tiny merge;
    // a row_number window over the whole term table would be a single-task
    // global sort at corpus scale
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("e02: brute-force knn broadcasts the query side, corpus never shuffles before scoring") {
    val q = graft.SparkEntry.queries("e02_knn_brute")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query set should broadcast:\n" + p.take(2000))
  }

  test("zeek scan reports statistics: small zeek table auto-broadcasts") {
    val dir = graft.zeek.ZeekFixtures.tempDir()
    val f = graft.zeek.ZeekFixtures.write(dir, "conn.log", graft.zeek.ZeekFixtures.connContent)
    val zeek = spark.read.format("zeek").load(f)
    val orders = graft.queries.Tables.orders(spark, sf)
    val p = orders.join(zeek, orders("o_orderkey") === zeek("id_orig_p"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "small zeek side (stats-reported) should broadcast:\n" + p.take(2000))
  }

  test("d17: pii redaction is a map-only scan — no hash shuffle") {
    // the only exchange allowed is the final ORDER BY's range partition
    // (driver-compare determinism), never a hash shuffle of the corpus
    val p = plan("d17_pii_redact")
    assert(!p.contains("Exchange hashpartitioning"),
      "regex redaction must not shuffle (pure per-row work):\n" + p.take(2000))
  }

  test("d18: paragraph dedup shuffles exactly twice (content window + doc regroup)") {
    val p = plan("d18_paragraph_dedup")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2,
      s"expected the para-keyed window shuffle + the doc_id regroup, found $exchanges:\n" + p.take(3000))
  }

  test("e14: sq8 scoring broadcasts queries; the corpus never shuffles before ranking") {
    val p = plan("e14_ann_sq8")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side must broadcast:\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin"), "corpus shuffled before scoring:\n" + p.take(2000))
  }

  test("d19: bloom prefilter runs map-side BEFORE the confirm join") {
    val q = graft.SparkEntry.queries("d19_bloom_decontaminate")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // the might_contain filter must appear (it prunes the corpus shingle
    // stream before any join); no nested-loop join may appear anywhere
    assert(p.contains("might_contain"), "bloom probe missing:\n" + p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("d21: the unigram vocab joins broadcast — the token stream never shuffles for them") {
    val p = plan("d21_unigram_logprob")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "token stream shuffled for the vocab join:\n" + p.take(2000))
  }

  test("d20: shuffle-shard plans one hash exchange on the shard id") {
    val q = graft.SparkEntry.queries("d20_shuffle_shard")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly one hash exchange, got $exchanges:\n" + p.take(2000))
  }

  test("d24: bm25 joins query terms and df broadcast; no nested-loop join") {
    val p = plan("d24_bm25")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") || p.contains("BuildRight, Cross"),
      "unexpected nested loop:\n" + p.take(2000))
  }

  test("d26: the 128-bucket model broadcasts — the token stream never shuffles for it") {
    val p = plan("d26_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("d07b: md5-simhash vote aggregate is partial (map-side combinable)") {
    val p = plan("d07b_simhash_md5")
    // partial + final HashAggregate pair for the (id, bit) votes
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("d27: prefix join is all hash equi-joins — no nested loop, no cartesian") {
    val p = plan("d27_setsim_prefix_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q77: triangle wedges close via equi-joins — no nested loop, no cartesian") {
    val p = plan("q77_triangle_count")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the wedge join has a non-equi residual (dst ordering) but must
    // still key on the shared vertex: no pure nested-loop join anywhere
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q79: z-order stats are one partial+final aggregate, no join") {
    val p = plan("q79_zorder_layout")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("q80: funnel steps join on user_id — no nested loop") {
    val p = plan("q80_funnel")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q81: ten decay lags share ONE window operator and one sort") {
    val p = plan("q81_decayed_sum")
    assert("Window ".r.findAllIn(p).size == 1, "lags must share a window:\n" + p.take(3000))
  }

  test("d29: incremental candidates join on the band key, no nested loop") {
    val p = plan("d29_incremental_neardups")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("d30: resample windows are partitioned by shard, not global") {
    val qe = graft.SparkEntry.queries("d30_systematic_resample")(spark, sf).queryExecution
    val windows = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "global (unpartitioned) window is a single-task scale-killer:\n" + w))
  }

  test("d31: chunking is map-only — no hash shuffle before the final sort") {
    val p = plan("d31_chunk_overlap")
    assert(!p.contains("hashpartitioning"),
      "the chunk generator must not shuffle (map-only transform + final range sort):\n" + p)
    assert(p.contains("Generate"), p.take(2000))
  }

  test("q84: cdc merge shuffles changes on the key once; no nested loop") {
    val p = plan("q84_cdc_merge")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("Window"), p.take(2000))
  }

  test("q93: scd2 history is one key window — no join, single shuffle") {
    val p = plan("q93_scd2")
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("q94: interval merge's island group-by reuses the window exchange") {
    val p = plan("q94_interval_merge")
    // one shuffle for the user_id window; the (user_id, island) aggregate
    // is clustered by a superset and must NOT re-exchange (the final
    // orderBy adds its range exchange on top)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("q95: skyline never shuffles the table; refinement is broadcast") {
    val p = plan("q95_skyline")
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
    assert(p.contains("Broadcast"), p.take(3000))
  }

  test("q96: TWA's aggregate reuses the lead-window's user_id exchange") {
    val p = plan("q96_time_weighted_avg")
    // window partitionBy(user_id) and groupBy(user_id) share one shuffle;
    // only the final orderBy adds its range exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("q97: cohort sizes broadcast onto the retention matrix") {
    val p = plan("q97_cohort_retention")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(3000))
  }

  test("zeek scan: count(*) reads no column of the one scan") {
    val dir = graft.zeek.ZeekFixtures.tempDir()
    val f = graft.zeek.ZeekFixtures.write(dir, "conn.log", graft.zeek.ZeekFixtures.connContent)
    val df = spark.read.format("zeek").load(f).groupBy().count()
    // COUNT(*) prunes every column: the one scan hands back zero-column
    // batches that only carry a row count
    val scans = df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan.description
    }
    assert(scans == Seq("ZeekScan files=1 required=[] pushed=[]"), scans)
    assert(df.collect().head.getLong(0) == 3L)
    // a grouped count reads its key
    val grouped = spark.read.format("zeek").load(f).groupBy("proto").count()
    val gp = grouped.queryExecution.executedPlan.toString
    assert(gp.contains("required=[proto]"), "grouped count prunes to the key:\n" + gp.take(2000))
  }

  test("q110: basket stats broadcast; only the order self-join and pair agg shuffle") {
    val p = plan("q110_market_basket")
    // item counts and the 1-row total must broadcast onto the pair set
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q111: record linkage joins on the blocking key — no all-pairs nested loop") {
    val p = plan("q111_record_linkage")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "fuzzy match must stay inside blocks (equi-join on blk):\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p.take(2000))
    // the probe side is a bounded ~20k-row slice (ONE scan split at any
    // SF) and the catalog broadcasts, so without a spread every
    // Jaro-Winkler pair evaluation serializes onto one core (16.9 s of
    // a 17.2 s wall at sf0.1) — the kernel-input spread must be in the
    // plan below the block join
    assert(p.contains("RoundRobinPartitioning"),
      "JW probe side lost its kernel-input spread:\n" + p.take(2000))
  }

  test("q107/q108: native as-of exec in the executed plan, no window, no union") {
    for (name <- Seq("q107_asof_exec", "q108_asof_fwd_exec")) {
      val p = plan(name)
      assert(p.contains("AsofJoin"), s"$name missing native exec:\n" + p.take(2000))
      assert(!p.contains("Window"), s"$name planned a window:\n" + p.take(2000))
    }
  }

  test("e07b: quantized LSH pairs join on buckets — never an all-pairs nested loop") {
    val p = plan("e07b_neardups_lsh_quantized")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), "bucket equi-join expected:\n" + p.take(2000))
  }

  test("q119: BFS frontier expansion is equi-joins only — no nested loop") {
    val p = plan("q119_bfs_distances")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("e21: semantic dedup pairs join inside clusters — no all-pairs cartesian") {
    val p = plan("e21_semdedup")
    assert(!p.contains("CartesianProduct"), "all-pairs crept in:\n" + p.take(2000))
  }

  test("d44: apportionment broadcasts onto the corpus; one partitioned window") {
    val p = plan("d44_mixing_manifest")
    assert(p.contains("BroadcastHashJoin"), "quota table should broadcast:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    import org.apache.spark.sql.functions._
    // At 100 TB a selective dim filter should reach the fact scan as a
    // runtime bloom filter (InjectRuntimeFilter) so the shuffle join
    // never materializes the non-matching fact rows. The scan-size
    // threshold is lowered because the test fact table is tiny; the rule
    // and plan shape are exactly what a full-size run gets.
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val prevT = spark.conf.get(key)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(key, "0")
      val li = Tables.lineitem(spark, sf)
      val ord = Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        "expected an injected runtime bloom filter:\n" + p.take(3000))
      assert(j.collect().nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set(key, prevT)
    }
  }

  test("d46: boilerplate keys broadcast into the anti join — paragraphs never shuffle for the prune") {
    val p = plan("d46_boilerplate_prune")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "expected a broadcast anti join on pkey:\n" + p.take(3000))
  }

  test("d47: tercile buckets are rank arithmetic over the range shuffle — no window, no limit funnel") {
    val p = plan("d47_ppl_buckets")
    assert(!p.contains("Window"), "bucketing must not use a global window:\n" + p.take(3000))
    // the old n/3 cut funnelled a third of the corpus into one task via
    // orderBy().limit(k); GlobalRank ordinals replaced it (r6 verdict)
    assert(!p.contains("TakeOrderedAndProject"),
      "limit(n/3) funnel crept back in:\n" + p.take(3000))
  }

  test("q114: RFM quintiles never plan a global ntile window") {
    val p = plan("q114_rfm")
    assert(!p.contains("Window"),
      "ntile must come from GlobalRank ordinals, not a single-task window:\n" + p.take(3000))
  }

  test("q124: median time cut has no global window and no limit(n/2) funnel") {
    val p = plan("q124_drift_chi2")
    assert(!p.contains("Window"), p.take(3000))
    assert(!p.contains("TakeOrderedAndProject"),
      "limit(n/2) funnel crept back in:\n" + p.take(3000))
  }

  test("e25: probe table broadcasts onto the hashed corpus via a bucket equi-join") {
    val p = plan("e25_lsh_radius_sweep")
    // the corpus-sized candidate join must be a broadcast hash join on
    // bucket (the 2×9-row literal radius×mask expansion may nested-loop —
    // that side never touches the corpus)
    assert(p.linesIterator.exists(l => l.contains("BroadcastHashJoin [bucket")),
      "expected a bucket-keyed broadcast join:\n" + p.take(3000))
  }

  test("e13b: query ADC tables and the pool broadcast — the corpus never shuffles for scoring") {
    val p = plan("e13b_ann_ivfpq_quantized")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "corpus shuffled for a bounded-side join:\n" + p.take(3000))
  }

  test("q127: weighted relaxation is equi-joins and partial min aggregates — no nested loop") {
    val p = plan("q127_weighted_paths")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("q126: lagged pairs come from equi-joins — never a window over the whole series") {
    val p = plan("q126_autocorr")
    assert(!p.contains("Window"), "autocorr must not use a global window:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q128: k-core peel is aggregates and semi-joins — no window, no nested loop") {
    val p = plan("q128_kcore")
    assert(!p.contains("Window"), "peeling must not use windows:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the mid-peel localCheckpoint hides early rounds from q128's final
    // plan; assert the semi-join shape on an uncheckpointed peel
    import spark.implicits._
    val sym = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("s", "t")
    val pp = graft.operators.KCore.peel(sym, k = 2, rounds = 3, checkpointEvery = 10)
      .queryExecution.executedPlan.toString
    assert(pp.contains("LeftSemi"), "expected alive-set semi joins:\n" + pp.take(3000))
    assert(!pp.contains("Window") && !pp.contains("CartesianProduct"), pp.take(3000))
  }

  test("e28: kNN graph candidates come from a bucket equi-join; top-k windows partition on the probe id") {
    val p = plan("e28_knn_graph")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the ×9 mask expansion may broadcast-nested-loop (9 literal rows);
    // the corpus-sized candidate join must be keyed on bucket
    assert(p.contains("Join [bucket") || p.linesIterator.exists(l =>
        l.contains("HashJoin [bucket") || l.contains("Join bucket")),
      "expected a bucket-keyed candidate join:\n" + p.take(3000))
    assert(p.contains("windowspecdefinition(vec_id"),
      "top-k window must partition on vec_id:\n" + p.take(3000))
  }

  test("e30: triplet argmax windows partition on the anchor — no cartesian, no global sort") {
    val p = plan("e30_triplet_mining")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("windowspecdefinition(vec_id"), p.take(3000))
  }

  test("d53: PMI pair generation is map-only explodes; stats sides broadcast") {
    val p = plan("d53_cooccurrence_pmi")
    assert(p.contains("Generate explode"), "expected explode-based pair generation:\n" + p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "PMI joins must broadcast (unigram counts + scalar totals):\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q130: seasonal baselines broadcast back onto the events — no shuffle join, no window") {
    val p = plan("q130_seasonal_anomaly")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), "baseline map must broadcast:\n" + p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q131: weekly actives come from a map-only forward explode — no window") {
    val p = plan("q131_stickiness")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("Generate explode"), "expected the ×7 day projection:\n" + p.take(3000))
  }

  test("q133: link prediction wedges are equi-joins; top-k is a TakeOrdered, no cartesian") {
    val p = plan("q133_link_prediction")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"),
      "top-50 must not be a global sort:\n" + p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("d54: a-priori frequent sets broadcast into the candidate joins") {
    val p = plan("d54_frequent_itemsets")
    // frequent items and frequent pairs are tiny by construction and
    // must broadcast (item prune join + two sub-pair semi joins)
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.linesIterator.count(_.contains("LeftSemi")) >= 2,
      "expected both sub-pair a-priori semi joins:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q135: personalized pagerank rounds are equi-joins and partial aggregates") {
    val p = plan("q135_ppr")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("d58: span windows partition on the doc; df shuffle carries md5 keys, not text") {
    val p = plan("d58_dup_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p.take(3000))
    // every window is per-document — a global island merge would be the
    // d12 single-task mistake
    for (l <- p.linesIterator if l.contains("windowspecdefinition"))
      assert(l.contains("windowspecdefinition(doc_id"), "unpartitioned window:\n" + l)
  }

  test("d59: chunk-id windows partition on the doc") {
    val p = plan("d59_cdc_chunks")
    for (l <- p.linesIterator if l.contains("windowspecdefinition"))
      assert(l.contains("windowspecdefinition(doc_id"), "unpartitioned window:\n" + l)
  }

  test("d60: the profile is one multi-distinct aggregate — no join, no window") {
    val p = plan("d60_column_profile")
    assert(!p.contains("Join"), "profile should be a single aggregate:\n" + p.take(3000))
    assert(!p.contains("windowspecdefinition"), p.take(3000))
    assert(p.contains("Expand"), "multi-distinct should plan one Expand:\n" + p.take(3000))
  }

  test("d61: phrase vocabulary broadcasts onto the postings — tokens never sort-merge") {
    val p = plan("d61_phrase_search")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "token postings shuffled for a 3-row phrase table:\n" + p.take(3000))
  }

  test("q136: CUSUM windows partition on event_type; totals broadcast") {
    val p = plan("q136_cusum_changepoint")
    for (l <- p.linesIterator if l.contains("windowspecdefinition"))
      assert(l.contains("windowspecdefinition(event_type"), "unpartitioned window:\n" + l)
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q137: reach expansion is equi-joins — no cartesian, no window") {
    val p = plan("q137_neighborhood_function")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(3000))
    assert(!p.contains("windowspecdefinition"), p.take(3000))
  }

  test("e34: kth-neighbor window partitions on the probe id; bucket equi-join feeds it") {
    val p = plan("e34_knn_outliers")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("windowspecdefinition(vec_id"), p.take(3000))
  }

  test("e36: centroid table and probe set broadcast; no cartesian product") {
    val p = plan("e36_ivf_nprobe_sweep")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q138: hyperball register merges are equi-joins + partial aggregates — no window, no cartesian") {
    val p = plan("q138_hyperball")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(3000))
    assert(!p.contains("windowspecdefinition"), p.take(3000))
  }

  test("d63: vocab membership is a broadcast join; the token stream never sort-merges") {
    val p = plan("d63_vocab_coverage")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("d65/q140/q141: profile scalars broadcast — no cartesian beyond the 1-row stats join") {
    for (q <- Seq("d65_skew_profile", "q140_degree_profile", "q141_assortativity")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n" + p.take(3000))
    }
  }

  test("d67: the only window runs over the epoch table, never per row") {
    val p = plan("d67_heaps_curve")
    // first-occurrence is an aggregate; the cumulative window sits on the
    // ~n_docs/50-row epoch join — acceptable as dimension-sized (d44 rule)
    assert(p.contains("HashAggregate"), p.take(3000))
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("e37: codebook broadcasts; encode argmin windows partition per (vector, subspace)") {
    val p = plan("e37_pq_distortion")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("windowspecdefinition(vec_id"), p.take(3000))
  }

  test("e38: mutual-NN is an equi-join of two rk=1 streams — no cartesian") {
    val p = plan("e38_mutual_nn")
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q139: snapshot read is the history window + a map-only interval filter — no join") {
    val p = plan("q139_scd2_snapshot")
    assert(!p.contains("Join"), p.take(3000))
    assert(p.contains("windowspecdefinition(o_orderkey"), p.take(3000))
  }

  test("q142: correlated EXISTS/NOT-EXISTS decorrelate to semi/anti joins") {
    val p = plan("q142_late_supplier_blame")
    assert(p.contains("LeftSemi") || p.contains("ExistenceJoin"), p.take(3000))
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("e39: hubness is one in-degree aggregate + a broadcast of the extremes") {
    val p = plan("e39_hubness")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("HashAggregate"), p.take(3000))
  }

  test("q123: journey windows reuse the user-hash exchange — exactly one shuffle") {
    val p = plan("q123_attribution")
    // (user_id) hash output satisfies the (user_id, grp) window's
    // clustering requirement, so all three window groups run off ONE
    // exchange; the only other exchange is the 5-row final aggregate's
    val exchanges = p.linesIterator.count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"expected <= 2 hash exchanges, got $exchanges:\n" + p.take(3000))
  }

  test("q143: modularity terms are equi-joins + aggregates; only the 1-row m broadcasts") {
    val p = plan("q143_modularity")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the edge-count scalar rides a broadcast nested loop (1-row side),
    // never a shuffled join
    assert(p.contains("HashAggregate"), p.take(3000))
  }

  test("e40: two-hop expansion is an id-keyed self-join; top-k windows per node") {
    val p = plan("e40_nn_descent")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("windowspecdefinition(vec_id"), "per-node window missing:\n" + p.take(3000))
    // no global (unpartitioned) sort: every Sort is either inside a
    // partitioned window or the final presentation orderBy
    assert(!p.contains("windowspecdefinition()"), p.take(3000))
    // one vec_id exchange serves candidate dedup AND the top-k window:
    // the distinct aggregates on (vec_id, neighbor_id) over the vec_id
    // repartition (subset clustering satisfies it) with no exchange of
    // its own. The only pair-key exchanges allowed are the two sides of
    // the is_new probe join — a third would be the dedup re-shuffling
    // on the pair key again.
    val pairKeyExchanges =
      "hashpartitioning\\(vec_id#\\d+L, neighbor_id#".r.findAllIn(p).size
    assert(pairKeyExchanges <= 2,
      s"candidate dedup re-shuffled on the pair key ($pairKeyExchanges):\n" + p.take(3000))
  }

  test("e41: offsets broadcast into the cell equi-join; no inequality adjacency join") {
    val p = plan("e41_grid_density")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "offset table should broadcast:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // adjacency is an equi-join on the shifted (gx, gy) key
    assert(p.contains("Exchange hashpartitioning(gx"), p.take(3000))
  }

  test("q144: wedge closure is an equi-join on the canonical edge key — no cartesian") {
    val p = plan("q144_local_clustering")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("HashAggregate"), p.take(3000))
  }

  test("e42: probes broadcast into the exact scan; per-probe top-3 windows") {
    val p = plan("e42_graph_recall")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "probe set should broadcast:\n" + p.take(3000))
    assert(p.contains("windowspecdefinition(vec_id"), p.take(3000))
  }

  test("e43: both candidate stages bucket-equi-join; top-k windows per node") {
    val p = plan("e43_incremental_knn")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("windowspecdefinition(vec_id"), p.take(3000))
    // the ×9 multiprobe masks broadcast; the bucket match is an equi-join
    assert(p.contains("Exchange hashpartitioning(bucket") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("e44: repair probes only the affected set; no cartesian, per-node windows") {
    val p = plan("e44_knn_deletion")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("windowspecdefinition(vec_id"), p.take(3000))
  }

  test("q147: the sweep-line cumsum has NO window anywhere — prefix sum is two-phase") {
    val p = plan("q147_concurrency")
    assert(!p.contains("Window"), "global-window cumsum crept back in:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q149: as-of lookup is an equi-join on the key; history window partitions per key") {
    val p = plan("q149_scd2_lookup")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("windowspecdefinition(o_orderkey"), p.take(3000))
    // the interval predicate must ride the equi-join as a residual,
    // not degrade the join to a nested loop over keys
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), p.take(3000))
  }

  test("d70/e46: one aggregate shuffle each; totals ride a 1-row broadcast") {
    Seq("d70_filter_agreement", "e46_embedding_space_health").foreach { q =>
      val p = plan(q)
      assert(p.contains("HashAggregate"), s"$q:\n" + p.take(2000))
      assert(!p.contains("SortMergeJoin"), s"$q joined the big side:\n" + p.take(3000))
    }
  }

  test("q29/q54: one range exchange serves window + aggregate + ordered output") {
    // the q08/q09 single-shuffle shape: RangePartitioning on the window
    // key satisfies the window's clustering, the per-key aggregate's
    // distribution AND the final ORDER BY's ordering — a plan with any
    // hash exchange (or a second range exchange) pays a full extra pass
    // over the fact table at 100×
    for (name <- Seq("q29_sessionize", "q54_first_last_window")) {
      val p = plan(name)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name re-shuffled after the range partition:\n" + p.take(3000))
      val ranges = p.linesIterator.count(_.contains("Exchange rangepartitioning"))
      assert(ranges == 1, s"$name: expected exactly 1 range exchange, got $ranges:\n" + p.take(3000))
    }
  }

  test("d68: the only window partitions per source — never a global sort") {
    val p = plan("d68_source_quota")
    assert(p.contains("windowspecdefinition(source"), p.take(3000))
    // a global Window would show an empty partition spec
    assert(!p.contains("windowspecdefinition(pri"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }
}
