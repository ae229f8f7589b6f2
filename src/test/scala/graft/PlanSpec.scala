package graft

import org.apache.spark.sql.execution.SimpleMode

/** Physical-plan regression guards: the properties that make these operators
  * scale are asserted, not assumed (DESIGN.md "Relational core"). If a future
  * refactor silently turns a broadcast join into a shuffle or drops parquet
  * pushdown, these fail.
  */
class PlanSpec extends SparkSpec {

  private def planOf(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sfDir)
    df.queryExecution.explainString(SimpleMode) + "\n" +
      df.queryExecution.executedPlan.toString
  }

  test("q02: predicates are pushed into the parquet scan; scan is pruned") {
    val p = planOf("q02_filter_predicates")
    assert(p.contains("EqualTo(l_returnflag,R)") && p.contains("PushedFilters: [IsNotNull("), p)
    assert(!p.contains("l_extendedprice"), "scan should prune unreferenced columns")
  }

  test("q08: dimension join is a broadcast-hash join, not a shuffle") {
    val p = planOf("q08_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q11: latest-row window plans a partial WindowGroupLimit below the shuffle") {
    val p = planOf("q11_latest_row_window")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), p)
  }

  test("q16: top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = planOf("q16_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q05: aggregation is partial (map-side combine) before the exchange") {
    val p = planOf("q05_groupby_agg")
    assert(p.contains("partial_sum") || p.contains("Partial"), p)
  }

  test("q227: the Gram matrix reduces map-side — the shuffle carries dim² cells, not dim²·n products") {
    val p = planOf("q227_gram_matrix")
    assert(p.contains("partial_sum"), p)
  }

  test("q44/q45: existence joins broadcast the filter side and push its predicate to the scan") {
    val semi = planOf("q44_join_semi")
    assert(semi.contains("LeftSemi") && semi.contains("BroadcastHashJoin"), semi)
    assert(semi.contains("GreaterThan(l_quantity,45.0)"), "filter must reach the parquet scan")
    val anti = planOf("q45_join_anti")
    assert(anti.contains("LeftAnti") && anti.contains("BroadcastHashJoin"), anti)
    assert(anti.contains("EqualTo(o_orderpriority,1-URGENT)"), anti)
  }

  test("q58: exact percentiles aggregate partially map-side (no raw-row shuffle)") {
    val p = planOf("q58_quantiles")
    assert(p.contains("partial_percentile"), p)
  }

  test("q66: exact profiling never plans an Expand (the multi-distinct row-replication)") {
    val p = planOf("q66_profile")
    assert(!p.contains("Expand"), p)
  }

  test("q83: the deterministic sample is a scan-stage filter, no shuffle at all") {
    val p = planOf("q83_hash_sample")
    assert(!p.contains("Exchange"), "sampling must not shuffle:\n" + p)
  }

  test("q87: z-score stats re-join is broadcast — fact rows never shuffle") {
    val p = planOf("q87_zscore_outliers")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q90: vocab top-N plans as TakeOrderedAndProject over a partial agg") {
    val p = planOf("q90_vocab_topn")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count") || p.contains("Partial"), p)
  }

  test("q28/q118: both as-of joins cost exactly ONE shuffle (the union+window form)") {
    for (q <- Seq("q28_asof_join", "q118_asof_forward")) {
      val p = planOf(q)
      val uniqueExchanges = "Exchange hashpartitioning\\([^)]*\\)".r
        .findAllIn(p).toSet
      assert(uniqueExchanges.size == 1, s"$q should shuffle once, saw $uniqueExchanges")
    }
  }

  test("q105: top-k per group plans a partial WindowGroupLimit below the shuffle") {
    val p = planOf("q105_topk_per_group")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), p)
  }

  test("q93: full outer joins sort-merge (neither side can broadcast)") {
    val p = planOf("q93_full_outer")
    assert(p.contains("FullOuter") && p.contains("SortMergeJoin"), p)
  }

  test("q94: tiny-dim cross join plans a broadcast nested loop, not a shuffle product") {
    val p = planOf("q94_cross_join")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q92: min-max scaling is one exchange (the window's own partitioning)") {
    val p = planOf("q92_minmax_scale")
    assert("Exchange".r.findAllIn(p
      .replace("ReusedExchange", "")).size <= 2, // logical+executed dump each show the plan once
      "scaling should shuffle once:\n" + p)
  }

  test("q138: bloom pre-filter runs codegen'd on the probe scan side, below the join") {
    val p = planOf("q138_bloom_semi")
    assert(p.contains("might_contain"), p)
    // the might_contain filter must sit under the join, next to the lineitem
    // scan — i.e. appear in a Filter node, not only in the join condition
    assert(p.linesIterator.exists(l => l.contains("Filter") && l.contains("might_contain")),
      "bloom filter should be a probe-side Filter:\n" + p)
  }

  test("q139: the df side joins back as a broadcast (token aggregate never reshuffles tf)") {
    val p = planOf("q139_tfidf")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q155: the SHUFFLE_HASH hint is obeyed (hash join, no sort, no broadcast)") {
    val p = planOf("q155_join_hints")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("q147: every FK audit is a broadcast anti join — facts never shuffle") {
    val p = planOf("q147_referential_audit")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), "audit should broadcast dim key sets:\n" + p)
  }

  test("q193: the operator form routes through RangeJoinRule — bin equi-join, no nested loop") {
    val p = planOf("q193_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "binnedIntervalJoin must never plan a nested loop:\n" + p)
    // the rule's fingerprints: the derived bin attributes on both sides
    assert(p.contains("__graft_bin_pt") && p.contains("__graft_bin_iv"),
      "q193 must carry RangeJoinRule's bin columns (operator routed through the rule):\n" + p)
  }

  test("q161/q163: banded similarity queries contain NO theta/cross join over the corpus") {
    // q162 wires the same generator as q161 but its CC loop materializes
    // eagerly (checkpointed plans show LogicalRDD), so the assertion there
    // would be vacuous — the generator plan IS the q161 plan.
    for (q <- Seq("q161_embed_neardup_banded", "q163_label_agreement_banded")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop theta join:\n$p")
    }
  }

  test("q163: the corpus-sized query side is NOT broadcast (id-keyed shuffle join instead)") {
    val p = planOf("q163_label_agreement_banded")
    // the only acceptable broadcast in this plan is none at all — every join
    // side is corpus-sized (AQE may still pick a broadcast at tiny test SF,
    // so assert on the *logical* intent: no explicit broadcast hint survives)
    val logical = SparkEntry.queries("q163_label_agreement_banded")(spark, sfDir)
      .queryExecution.logical.toString
    assert(!logical.contains("UnresolvedHint BROADCAST") && !logical.contains("ResolvedHint (strategy=broadcast)"),
      "q163 must not hint-broadcast the corpus:\n" + logical)
  }

  test("q146/q164: PageRank iteration shuffles key on tagged LONG vertex ids, not strings") {
    for (q <- Seq("q146_pagerank", "q164_pagerank_dangling")) {
      val p = planOf(q)
      val keyed = "hashpartitioning\\((src|dst|node)#\\d+L".r.findAllIn(p).toList
      assert(keyed.nonEmpty, s"$q: expected long-keyed exchanges, plan:\n$p")
      assert(!p.contains("hashpartitioning(concat"),
        s"$q: string-concat keys must not reach an exchange:\n$p")
    }
  }

  test("q171: triangle count is equi-joins only — no cartesian, no theta join") {
    val p = planOf("q171_triangle_count")
    assert(!p.contains("CartesianProduct"), p)
    // the only BNLJs allowed are the two 1-row stats crossJoins (planOf
    // concatenates two plan dumps, so each appears twice)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 4, p)
  }

  test("q170: CDC apply is ONE aggregation with map-side partial max_by, no window sort") {
    val p = planOf("q170_cdc_apply")
    assert(p.contains("partial_max_by") || (p.contains("max_by") && p.contains("Partial")), p)
    assert(!p.contains("Window"), "changelog apply must not plan a window sort:\n" + p)
  }

  test("q174: sorted-neighborhood generates candidates inside the block window (no self-join)") {
    val p = planOf("q174_sorted_neighborhood")
    assert(p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "candidate band must come from lead(), not a join:\n" + p)
  }

  test("q209: quota cap is ONE group-keyed window with a partial group limit, no join") {
    val p = planOf("q209_source_quota")
    // rank-limit pushdown: WindowGroupLimit prunes each partition to the
    // quota BEFORE the exchange, so at 100 TB the shuffle carries at most
    // n rows per (group, input-partition), not the corpus
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("Join"), "quota must not plan any join:\n" + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "one group-keyed exchange only (plan dumped twice):\n" + p)
  }

  test("q210: JL projection is a zero-shuffle scan-side computation") {
    val p = planOf("q210_jl_projection")
    // the only exchange is par()'s round-robin input-split spreader (the
    // single-parquet-file local-mode pattern); the operator itself must add
    // no keyed shuffle, join, or window
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Exchange rangepartitioning"),
      "projection must not shuffle on any key:\n" + p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("q208: the kNN vote aggregates with map-side partials over the neighbor pairs") {
    val p = planOf("q208_knn_classify")
    // the brute producer's |Q|-broadcast is allowlisted in PlanAuditSpec;
    // here pin the vote: count and argmax both plan partial aggregation
    assert(p.contains("Partial"), p)
    assert(p.contains("BroadcastNestedLoopJoin"),
      "exact producer is the designed |Q|-bounded broadcast (q38 regime):\n" + p)
  }

  test("AQE splits a skewed sort-merge join at runtime (the no-salt alternative to saltedJoin)") {
    // The skew family has two tools (RelOps.saltedJoin scaladoc): manual
    // salting rewrites the PLAN (works everywhere, costs a replicated side),
    // while AQE's OptimizeSkewedJoin rewrites the SCHEDULE at runtime from
    // actual map-output sizes (needs a shuffle join + statistics, costs
    // nothing when there's no skew). This pins the AQE path: one hot key
    // carrying ~95% of the left side, thresholds scaled to test-sized data,
    // and the final adaptive plan must show the skewed-partition split.
    import org.apache.spark.sql.functions._
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // test-sized analogs of the 256MB/64MB production thresholds
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force the shuffle join
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val hot = spark.range(40000).select(
        when(col("id") < 38000, lit(0L)).otherwise(col("id") % 2000).as("k"),
        lpad(col("id").cast("string"), 64, "x").as("payload"))
      val dim = spark.range(2000).select(col("id").as("k"),
        concat(lit("d"), col("id")).as("tag"))
      val joined = hot.join(dim, "k")
      // collect() (not count()) so the inspected queryExecution is the one
      // that actually ran — AQE finalizes the plan per execution
      assert(joined.collect().length === 40000)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("skew=true") || p.contains("skewed"),
        "OptimizeSkewedJoin should have split the hot partition:\n" + p)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q259: the corpus-prep chain plans FUSED — quality in the scan stage, broadcast probes, no cartesian") {
    // assert on the un-checkpointed form (replay mode `none`): the shipped
    // query checkpoints the dedup boundary, which (by design) hides the
    // upstream fragment from the final physical plan
    val key = graft.ops.Replay.ModeKey
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "none")
    val (pq, pd, pp) = try {
      val st = SparkEntry.corpusPrepStages(spark, sfDir)
      (st.quality.queryExecution.executedPlan.toString,
        st.decon.queryExecution.executedPlan.toString,
        st.packed.queryExecution.executedPlan.toString)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(!pp.contains("CartesianProduct") && !pp.contains("BroadcastNestedLoopJoin"),
      "no stage may go quadratic:\n" + pp)
    // benchmark-gram membership is a broadcast join in the decon fragment —
    // the corpus side never shuffles for the membership probe
    assert(pd.contains("BroadcastHashJoin"), pd)
    // the quality stage is a codegen'd Filter directly over the parquet
    // scan (the only Exchange in the fragment is par()'s round-robin
    // parallelism split ABOVE it): top-down, no Exchange line may sit
    // between the quality Filter and its FileScan
    val lines = pq.linesIterator.toVector
    val fi = lines.indexWhere(l => l.contains("Filter") && l.contains("100000"))
    assert(fi >= 0, "gopher word-count bound must appear in a Filter:\n" + pq)
    val si = lines.indexWhere(_.contains("FileScan parquet"), fi)
    assert(si > fi, "the quality filter must sit directly on the parquet scan:\n" + pq)
    assert(!lines.slice(fi + 1, si).exists(_.contains("Exchange")),
      "no shuffle between the documents scan and the quality predicate:\n" + pq)
  }

  test("q261: unigram segmentation is a zero-shuffle projection (model rides the plan)") {
    val df = SparkEntry.queries("q261_unigram_segment")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "segmentation must not join a word table:\n" + plan)
    // the ONLY exchange permitted is par()'s round-robin parallelism
    // split (single parquet file = single split locally); the segmenting
    // projection itself adds none
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toVector
    assert(exchanges.size <= 1 && exchanges.forall(_.contains("RoundRobinPartitioning")),
      "segmentation added a shuffle:\n" + plan)
    assert(plan.contains("unigram_segment"), plan)
  }
}
