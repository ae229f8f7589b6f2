package graft

import org.apache.spark.sql.functions._

/** Round-3 operators: accuracy bounds for the sketch-based queries (which
  * have no SQL oracle by nature), boundary semantics for native session
  * windows, and the streaming dedup actually deduplicating.
  */
class Round3Spec extends SparkSpec {
  import spark.implicits._

  test("q69: histogram percentiles EQUAL rank-ceil(p·n) order statistics (exact, not approx)") {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("f"), col("l_quantity").cast("long").as("v"))
    // brute order statistic per group: sort values, pick rank ceil(p*n)
    val byGroup = li.collect().groupBy(_.getString(0))
      .map { case (k, rows) => k -> rows.map(_.getLong(1)).sorted }
    val got = SparkEntry.queries("q69_approx_quantiles")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet === byGroup.keySet)
    def rank(vs: Array[Long], p: Double): Long = vs(math.ceil(p * vs.length).toInt - 1)
    for ((k, vs) <- byGroup) {
      assert(got(k)._1 === rank(vs, 0.25), s"$k p25")
      assert(got(k)._2 === rank(vs, 0.5), s"$k p50")
      assert(got(k)._3 === rank(vs, 0.9), s"$k p90")
    }
  }

  test("q70: md5-HLL mergeability is EXACT (union-then-estimate ≡ direct coarse registers) and the m=16 error envelope holds") {
    import graft.sketch.DetHll
    val li = Tables.lineitem(spark, sfDir)
    // the algebraic pin: element-wise-max union of fine (flag,status)
    // registers equals registers computed directly at flag level — the
    // property that lets a 100 TB rollup skip the fact re-scan, with NO
    // approximation in the merge itself
    val fine = DetHll.registers(li, Seq("l_returnflag", "l_linestatus"), col("l_orderkey"))
    val unioned = DetHll.union(fine, Seq("l_returnflag"))
      .select("l_returnflag", "reg", "max_rho")
    val direct = DetHll.registers(li, Seq("l_returnflag"), col("l_orderkey"))
      .select("l_returnflag", "reg", "max_rho")
    assert(unioned.exceptAll(direct).isEmpty && direct.exceptAll(unioned).isEmpty)
    // m=16 ⇒ ~26% standard error; the estimate must land inside a 2.5σ
    // envelope of exact (this is the accuracy the tiny demonstrator buys)
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = SparkEntry.queries("q70_hll_union")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet === exact.keySet)
    for ((k, e) <- est)
      assert(math.abs(e - exact(k)).toDouble / exact(k) < 0.65, s"$k: est $e vs exact ${exact(k)}")
  }

  test("session_window boundary: a gap of exactly `gap` MERGES; only > gap breaks") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(min: Int) = new java.sql.Timestamp(ts0.getTime + min * 60000L)
    // gaps: 29min (merge), exactly 30min (merge — window [59,89) starts at
    // the previous session's end and Spark coalesces touching windows),
    // 31min (break)
    val ev = Seq((1L, t(0)), (1L, t(29)), (1L, t(59)), (1L, t(90)))
      .toDF("user_id", "ts")
    val out = graft.streaming.Sessionize.sessionWindows(ev, "user_id", "ts", gapMinutes = 30)
      .orderBy("session_start")
      .collect().map(r => (r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    assert(out.length === 2, out.mkString(";"))
    assert(out(0) === ((t(0), t(89), 3L)))   // 0,29,59 merge; end = 59 + 30
    assert(out(1) === ((t(90), t(120), 1L))) // 31-min gap broke
  }

  test("streaming dropDuplicatesWithinWatermark removes in-horizon duplicates") {
    import org.apache.spark.sql.types._
    val dir = SparkSpec.scratchDir("graft_sdd")
    val ts0 = 1700000000000000L // µs
    Seq(
      (1L, ts0 + 1000000L, 10L, "click", 1.0, "{}"),
      (1L, ts0 + 1000000L, 10L, "click", 1.0, "{}"),   // exact duplicate
      (2L, ts0 + 2000000L, 10L, "view", 2.0, "{}"),
      (2L, ts0 + 9000000L, 11L, "view", 2.5, "{}"),    // same id, later ts — still a dup by id
      (3L, ts0 + 3000000L, 12L, "click", 3.0, "{}"))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", (col("ts_us") * 1000).cast("long")).drop("ts_us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val raw = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val out = graft.streaming.EventIngest.streamDedupCountsOverParquet(
        spark, s"$dir/events.parq*", raw, tsExpr = "timestamp_micros(ts div 1000)",
        watermark = "1 hour", idCols = Seq("event_id"),
        name = s"sdd_${java.util.UUID.randomUUID().toString.replace("-", "")}")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("click" -> 2L, "view" -> 1L))
  }

  test("TypedAggs.WeightedMean: exact integer partials, float only at finish") {
    import graft.typed.TypedAggs
    import org.apache.spark.sql.Encoders
    val ds = Seq(
      TypedAggs.Weighted("a", 2L, 1050L),  // 10.50 × 2
      TypedAggs.Weighted("a", 3L, 200L),   //  2.00 × 3
      TypedAggs.Weighted("b", 1L, 999L))
      .toDS().repartition(3) // partial merge across partitions must not change the answer
    val out = ds.groupByKey(_.key)(Encoders.STRING)
      .agg(TypedAggs.WeightedMean.toColumn.name("w"))
      .collect().toMap
    assert(out("a") === (2 * 1050L + 3 * 200L).toDouble / 100.0 / 5.0)
    assert(out("b") === 9.99)
  }

  test("q77: merge-healed snapshot is row-identical to the source") {
    import graft.io.Warehouse
    val wh = new Warehouse(spark, SparkSpec.scratchDir("graft_m3"))
    val o = Tables.orders(spark, sfDir)
    val split = lit("1997-01-01").cast("timestamp")
    wh.write("snap", o.withColumn("o_totalprice",
      when(col("o_orderdate") >= split, lit(-1.0)).otherwise(col("o_totalprice"))))
    wh.merge("snap", o.filter(col("o_orderdate") >= split), Seq("o_orderkey"))
    assert(wh.read("snap").exceptAll(o).isEmpty && o.exceptAll(wh.read("snap")).isEmpty)
  }

  test("q151: largest-remainder quotas sum EXACTLY to the target, every source gets ≥ base") {
    val rows = SparkEntry.queries("q151_mixture_quota")(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("quota")).sum === 10000L)
    assert(rows.forall(r => r.getAs[Long]("extra") == 0L || r.getAs[Long]("extra") == 1L))
    assert(rows.forall(r => r.getAs[Long]("quota") >= r.getAs[Long]("base")))
  }

  test("q138/q147: bloom semi join and FK audit agree on the same membership question") {
    // lineitems whose order is URGENT (q138) + lineitems with NO order at all
    // (q147's first check) partition differently, but the audit's total row
    // count must equal lineitem's cardinality — cross-query consistency
    val audit = SparkEntry.queries("q147_referential_audit")(spark, sfDir)
      .filter(col("check") === "lineitem_orphan_order").head()
    assert(audit.getAs[Long]("n_rows") === Tables.lineitem(spark, sfDir).count())
    assert(audit.getAs[Long]("n_violations") === 0L)
  }
}
