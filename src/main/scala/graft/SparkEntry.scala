package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.RelOps
import graft.text.TextOps
import graft.dedup.Dedup
import graft.sim.Similarity

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2 (+ the large-scale training-data extensions), each with a
  * DuckDB oracle where the semantics are ANSI-SQL-expressible.
  *
  * Alias discipline: every computed column is aliased identically in the
  * Spark plan and the oracle SQL (the driver's compare is by column name).
  * Numeric outputs are normalized to BIGINT / DECIMAL / passthrough DOUBLE so
  * the hash compare never sees engine-specific float accumulation or integer
  * width differences.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. TPC-H-Q1-shaped
    * pricing summary — scan → codegen'd expressions → partial+final hash agg.
    */
  def entry(spark: SparkSession): DataFrame =
    q05_groupby_agg(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------------
  // §2.2 projections / filters
  // ------------------------------------------------------------------

  /** P1 — explicit projection + rename (hts_transforms.py:60-67). */
  private def q01_scan_project(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey").as("cust_id"),
      col("c_name").as("name"),
      col("c_mktsegment").as("segment"))

  /** P4/P5/F7 — predicate filters (vls_transforms.py:56-75). */
  private def q02_filter_predicates(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R" && col("l_quantity") > 30)
      .select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("line_no"),
        col("l_quantity").cast("long").as("qty"))

  // ------------------------------------------------------------------
  // §2.4 aggregations / dedup
  // ------------------------------------------------------------------

  /** A4 — SELECT DISTINCT dedup (covid_transforms.py:43-47). */
  private def q03_dedup_distinct(s: SparkSession, dir: String): DataFrame =
    RelOps.dedupAll(Tables.lineitem(s, dir).select(
      col("l_returnflag").as("returnflag"),
      col("l_linestatus").as("linestatus"),
      col("l_quantity").cast("long").as("qty")))

  /** A1 — entity-collapse dedup, MAX of every non-key column
    * (mmd_transforms.py:74-96). */
  private def q04_collapse_max(s: SparkSession, dir: String): DataFrame =
    RelOps.collapseByMax(
      Tables.lineitem(s, dir).select(
        col("l_orderkey"),
        col("l_quantity").cast("long").as("max_qty"),
        col("l_shipdate").cast("date").as("max_ship"),
        col("l_returnflag").as("max_flag")),
      keys = Seq("l_orderkey"))

  /** Headline grouped aggregation (pricing-summary shape): partial+final hash
    * agg, exact DECIMAL money math so results are engine-portable. */
  private def q05_groupby_agg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag").as("returnflag"), col("l_linestatus").as("linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        count(lit(1)).as("cnt"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))

  /** A3 — conditional-count pivot to one row (hts_transforms.py:216-225). */
  private def q06_conditional_counts(s: SparkSession, dir: String): DataFrame =
    RelOps.conditionalCounts(Tables.lineitem(s, dir), col("l_returnflag"),
      Seq("R" -> "n_returned", "A" -> "n_accepted", "N" -> "n_none"))

  /** F2 — map-driven CASE normalization (hts_transforms.py:104-117). */
  private def q07_case_normalize(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      RelOps.caseNormalize(col("o_orderpriority"),
        Seq("1-URGENT" -> "Critical", "2-HIGH" -> "Critical",
            "3-MEDIUM" -> "Normal", "4-NOT SPECIFIED" -> "Unknown"),
        default = Some("Low")).as("priority_class"))

  // ------------------------------------------------------------------
  // §2.3 joins
  // ------------------------------------------------------------------

  /** J1 — fact ⋈ broadcast dimension (covid_transforms.py:58-67). */
  private def q08_join_broadcast(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    RelOps.enrichJoin(o, c, o("o_custkey") === c("c_custkey"), "inner")
      .select(
        col("o_orderkey"),
        col("o_totalprice").as("total_price"),
        col("c_name").as("cust_name"),
        col("c_mktsegment").as("segment"))
  }

  /** J4 — large ⟕ large (vls_transforms.py:132-148). */
  private def q09_join_left(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    RelOps.factJoin(c, o, c("c_custkey") === o("o_custkey"), "left")
      .select(col("c_custkey"), col("c_name").as("cust_name"),
        col("o_orderkey"), col("o_orderstatus").as("status"))
  }

  /** A2 — greatest-per-group (vls_transforms.py:84-97). */
  private def q10_latest_per_group(s: SparkSession, dir: String): DataFrame =
    RelOps.latestPerGroupAgg(Tables.events(s, dir), Seq("user_id"), col("ts"), "last_ts")

  /** J3+A2 fused — latest full row per group via window row_number
    * (idiomatic replacement for vls_transforms.py:84-117; SURVEY §2.5). */
  private def q11_latest_row_window(s: SparkSession, dir: String): DataFrame =
    RelOps.latestRowPerGroup(Tables.events(s, dir), Seq("user_id"),
        col("ts"), tiebreak = Seq(col("event_id").desc))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))

  // ------------------------------------------------------------------
  // §2.8 scalar functions
  // ------------------------------------------------------------------

  /** F3 — BQ DATE_DIFF boundary semantics, day/month/year
    * (mmd_transforms.py:102-104). */
  private def q12_datediff(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("line_no"),
        RelOps.boundaryDiffDays(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")).as("d_days"),
        RelOps.boundaryDiffMonths(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")).as("d_months"),
        RelOps.boundaryDiffYears(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")).as("d_years"))
  }

  /** F4 — EXTRACT year/quarter/month/day (hts_transforms.py:85-90). */
  private def q13_extract_parts(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("y"),
      quarter(col("o_orderdate")).cast("long").as("q"),
      month(col("o_orderdate")).cast("long").as("m"),
      dayofmonth(col("o_orderdate")).cast("long").as("d"))

  /** F5 — FORMAT_DATETIME %Y / %B (mmd_transforms.py:218-222). */
  private def q14_format_date(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy").as("y_str"),
      date_format(col("o_orderdate"), "MMMM").as("month_name"))

  /** §2.7 — UNION DISTINCT (parquet_solution.py:76-78). */
  private def q15_union_distinct(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val pick = (p: String) => o.filter(col("o_orderpriority") === p)
      .select(col("o_orderkey"), col("o_orderpriority").as("priority"))
    RelOps.unionDistinct(Seq(pick("1-URGENT"), pick("2-HIGH")))
  }

  /** §2.6 — deterministic top-k (TakeOrderedAndProject, no global sort). */
  private def q16_topk(s: SparkSession, dir: String): DataFrame =
    RelOps.topK(Tables.orders(s, dir), 100, col("o_totalprice").desc, col("o_orderkey").asc)
      .select(col("o_orderkey"), col("o_totalprice").as("total_price"))

  /** S4+F1 — stringify-everything ingest then explicit re-typing
    * (parquet_solution.py:75 + mmd_transforms.py:52-72). */
  private def q17_stringify_retype(s: SparkSession, dir: String): DataFrame = {
    val str = RelOps.stringifyAll(Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_shipdate")))
    RelOps.castColumns(str, Map(
      "l_orderkey" -> LongType, "l_linenumber" -> LongType, "l_quantity" -> DoubleType))
      .select(col("l_orderkey"), col("l_linenumber").as("line_no"),
        col("l_quantity").as("qty_back"), col("l_shipdate").cast(DateType).as("ship_back"))
  }

  /** F8 — string/sentinel decode to DECIMAL (vls_transforms.py:187-190). */
  private def q18_sentinel_decode(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_linenumber").cast("long").as("line_no"),
      when(col("l_returnflag") === "N", lit(0).cast(DecimalType(18, 2)))
        .otherwise(col("l_quantity").cast("long").cast(DecimalType(18, 2))).cast("double").as("load_qty"))

  /** F2 — null imputation after outer join (covid_transforms.py:96-110 null →
    * "Unknown"). */
  private def q19_null_impute(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    RelOps.factJoin(c, o, c("c_custkey") === o("o_custkey"), "left")
      .select(col("c_mktsegment").as("segment"),
        when(col("o_orderstatus").isNull, "Unknown").otherwise(col("o_orderstatus")).as("status_filled"))
      .groupBy("segment", "status_filled").agg(count(lit(1)).as("cnt"))
  }

  /** Three-way join + grouped DECIMAL revenue — the full enrichment-chain
    * shape (J1 ∘ J1 ∘ A): broadcast dim, shuffle fact once. */
  private def q20_multi_join(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(18, 4)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** §2.4 headroom — ROLLUP grouping sets. */
  private def q21_rollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag").as("returnflag"), col("l_linestatus").as("linestatus"))
      .agg(count(lit(1)).as("cnt"))

  /** §2.5 headroom — running windows (row_number + running DECIMAL sum). */
  private def q22_window_running(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir).select(
      col("user_id"), col("event_id"),
      row_number().over(w).cast("long").as("rn"),
      sum(col("value").cast(DecimalType(18, 6))).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double").as("running_value"))
  }

  /** Exact COUNT(DISTINCT) — multi-distinct aggregate (§2.4 headroom). */
  private def q23_count_distinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).groupBy(col("l_returnflag").as("returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("cnt"))

  /** JSON field extraction from the events props payload (ST3's from_json
    * analog in batch; cloud_function/main.py:28-31). */
  private def q24_json_extract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))

  /** §2.4 headroom — CUBE grouping sets. */
  private def q27_cube(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag").as("returnflag"), col("l_linestatus").as("linestatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity").cast("long")).as("sum_qty"))

  /** As-of join (composed from built-ins — one shuffle; RelOps.asOfJoin):
    * each purchase event looks up the user's latest click at-or-before it.
    * Oracle: DuckDB's native ASOF LEFT JOIN. */
  private def q28_asof_join(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_event"))
    RelOps.asOfJoin(purchases, clicks, key = "user_id",
        leftTime = "ts", rightTime = "ts", rightVals = Seq("click_event"))
      .select(col("event_id"), col("user_id"), col("ts"), col("asof_click_event").as("click_id"))
  }

  /** Range (interval) join as a binned equi-join (RelOps.rangeJoinBinned);
    * oracle is DuckDB's plain BETWEEN join. */
  private def q29_range_join(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = Seq((1L, 10L, "light"), (11L, 30L, "medium"), (31L, 50L, "heavy"))
      .toDF("lo", "hi", "band")
    RelOps.rangeJoinBinned(
        Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber").cast("long").as("line_no"),
          col("l_quantity").cast("long").as("qty")),
        "qty", bands, "lo", "hi", binWidth = 16)
      .select(col("l_orderkey"), col("line_no"), col("qty"), col("band"))
  }

  /** §2.4 headroom — distinct-count sketch beside the exact count, ENGINE-
    * EXACT (r7 verdict #5): [[RelOps.distinctCountsDet]] pairs the exact
    * distinct with the deterministic md5-HLL estimate (DetHll, q70's
    * machinery), so the sketch VALUE itself is hash-proven — converting
    * this slot from rows-only to oracle-checked. The library-sketch forms
    * (HLL++ `approx_count_distinct`, mergeable Datasketches
    * `hll_sketch_agg`) remain first-class in [[RelOps.distinctCounts]],
    * differentially pinned against the exact count in SketchPropertySpec —
    * their values are engine-specific by construction, which is exactly
    * why the oracle-checked slot now runs the deterministic form. */
  private def q26_sketch_distinct(s: SparkSession, dir: String): DataFrame =
    RelOps.distinctCountsDet(Tables.lineitem(s, dir), Seq("l_returnflag"), "l_partkey")

  /** Per-day per-type event counts (A3 generalized to grouped pivot). */
  private def q25_pivot_counts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))

  // ------------------------------------------------------------------
  // Training-data extensions: text analysis / dedup / similarity
  // ------------------------------------------------------------------

  /** Text surface statistics: lengths, token counts, punctuation. */
  private def q30_text_stats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextOps.charLen(col("text")).as("char_len"),
      TextOps.tokenCount(col("text")).as("token_count"),
      TextOps.punctCount(col("text")).as("punct_count"))

  /** Language-ID heuristic (stopword-hit argmax). */
  private def q31_lang_id(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))

  /** Quality-score bucketing (length/punct/word-shape filters). */
  private def q32_quality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), TextOps.qualityBucket(col("text")).as("quality"))

  /** Content fingerprint (md5) — engine-portable exact-dedup key. */
  private def q33_fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), TextOps.fingerprintMd5(col("text")).as("content_hash"))

  /** Exact dedup groups over the content hash. */
  private def q34_dedup_exact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDupGroups(Tables.documents(s, dir), col("doc_id"), col("text"))

  /** Exact token-set Jaccard near-dup pairs (integer-arithmetic threshold) —
    * correctness baseline for the MinHash path. */
  private def q35_jaccard_pairs(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairsExact(Tables.documents(s, dir), "doc_id", "text", thresh10 = 8)

  /** Locally a table is one parquet file = one input split; CPU-heavy
    * per-row ops (signatures, vector math) need the row-level parallelism a
    * real lake gets from thousands of splits. Cheap scans skip this (the
    * shuffle would cost more than it buys).
    */
  private[graft] def par(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism)

  /** Materialize a deterministic synthetic FIXTURE to a per-JVM temp parquet
    * once, then read it back on every subsequent call. Fixture synthesis
    * (e.g. q187's per-id MJPEG-AVI encode UDF) is test-data generation, not
    * the operator under test — every other query reads pre-generated parquet
    * from the testdata dir, and regenerating the payload per bench round
    * made q187's samples hostage to ambient machine load (BENCH_r07 reported
    * a 24.6 s median over [24.6, 27.0, 1.02] for a query whose steady state
    * is 1.0 s). Keyed by (label, dir) so different scale factors never share
    * a fixture; safe across SparkSessions in one JVM (the path outlives the
    * session that wrote it). */
  private val fixtureCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def cachedFixture(s: SparkSession, key: String, build: => DataFrame): DataFrame = {
    val path = fixtureCache.computeIfAbsent(key, _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_fixture").toString
      build.write.mode("overwrite").parquet(p)
      p
    })
    s.read.parquet(path)
  }

  /** Shared (doc_id, text) parquet fixture for the streaming queries,
    * written once per (dir, file count) per JVM. q247 uses files = 1
    * (guarantees its drain is ONE micro-batch, the property its min-id
    * oracle form needs); q253 uses files = 8 (its complete-mode count is
    * batching-independent by spec, and a single file would pin the
    * in-stream tokenCount to one input split — the q247 lesson). */
  private def docsStreamFixture(s: SparkSession, dir: String, files: Int): String =
    fixtureCache.computeIfAbsent(s"docs${files}f:$dir", _ => {
      val p = java.nio.file.Files.createTempDirectory(s"graft_docs${files}f").toString
      Tables.documents(s, dir).select("doc_id", "text")
        .repartition(files).write.mode("overwrite").parquet(p)
      p
    })

  /** Per-JVM VERSIONED-table fixture: the base table is committed ONCE per
    * (kind, dir) and every evaluation CLONEs it before mutating —
    * [[graft.io.Versioned.cloneTable]] is O(manifest), zero data bytes.
    * This is the production shape (a lake table is committed once in its
    * life; the recurring operations are the mutations) and the honest
    * bench shape: r8's phase profile attributed 0.5–1.2 s of
    * q201/q203/q205 to per-round fixture RE-commits — test-data setup, not
    * the DV/MOR/MV machinery under test (the q187 lesson applied to the
    * versioned family). Clones reference the base's data files absolutely;
    * DVs, appends, and purge rewrites land under the clone's own dirs, so
    * the base stays pristine for the next evaluation — which doubles as a
    * standing exercise of clone isolation on every bench round. */
  private val versionedFixtureRoots =
    new java.util.concurrent.ConcurrentHashMap[String, (String, org.apache.spark.sql.types.StructType)]()
  private val versionedCloneSeq = new java.util.concurrent.atomic.AtomicLong()
  private[graft] def clonedVersionedFixture(s: SparkSession, dir: String, kind: String,
      statsCol: Option[String] = None)(base: => DataFrame): (graft.io.Versioned, String) = {
    val b = base
    val (root, cachedSchema) = versionedFixtureRoots.computeIfAbsent(s"$kind:$dir", _ => {
      val p = java.nio.file.Files.createTempDirectory(s"graft_fx_$kind").toString
      // NOTE (r14): committing the base as 8 files (to parallelize the
      // delete scans / MOR reads) was tried and MEASURED WORSE at sf0.1
      // (q201 +0.35 s, q205 +0.40 s vs a +0.2 drift control): per-file
      // overhead — footer stat reads, more DV sidecar files per delete,
      // more tiny tasks per op — beats the extra cores at this table size.
      // Kept single-file; a real lake table arrives already multi-file.
      new graft.io.Versioned(s, p).commit("base", b, statsCol = statsCol)
      (p, b.schema)
    })
    // `kind` is a registry key, not a namespace: a second caller reusing an
    // existing kind with a DIFFERENT base frame would silently clone the
    // first caller's data (r9 advisor). Schema equality is the cheap
    // invariant that catches the projection-drift case without a data pass.
    require(cachedSchema == b.schema,
      s"clonedVersionedFixture: kind '$kind' is cached with schema " +
        s"${cachedSchema.simpleString} but this caller's base has " +
        s"${b.schema.simpleString} — pick a distinct kind per base projection")
    val vt = new graft.io.Versioned(s, root)
    val t = s"${kind}_${versionedCloneSeq.incrementAndGet()}"
    vt.cloneTable("base", t)
    (vt, t)
  }

  /** MinHash+LSH near-dup pairs (the 100 TB-scale dedup path; no SQL oracle —
    * hash-family specific). */
  private def q36_minhash_lsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDupPairs(par(s, Tables.documents(s, dir)), "doc_id", "text", thresh10 = 8)

  /** SimHash near-dup pairs via pigeonhole banding (no SQL oracle). */
  private def q37_simhash_neardup(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(par(s, Tables.documents(s, dir)), "doc_id", "text", maxDist = 3)

  /** Brute-force cosine ANN top-k (exact baseline). Output is (ids, rank)
    * only: cosine VALUES differ from DuckDB's float32 list_cosine_similarity
    * at ~1e-7, but the induced ranking is stable (top-5 gaps ~1e-2), so the
    * oracle checks the ranking — the thing ANN is actually for. */
  private def q38_ann_brute(s: SparkSession, dir: String): DataFrame = {
    val emb = par(s, Tables.embeddings(s, dir))
    val queries = emb.filter(col("label") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    Similarity.bruteForceTopK(queries, emb.select("vec_id", "embedding"), k = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** LSH-bucketed ANN (the scale path; recall<1 ⇒ no SQL oracle). */
  private def q39_ann_lsh(s: SparkSession, dir: String): DataFrame = {
    val emb = par(s, Tables.embeddings(s, dir))
    val queries = emb.filter(col("label") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    Similarity.lshBucketTopK(queries, emb.select("vec_id", "embedding"), k = 5)
  }

  /** IVF ANN with sampled centroids (density-adaptive scale path; recall<1 ⇒
    * no SQL oracle). */
  private def q43_ann_ivf(s: SparkSession, dir: String): DataFrame = {
    val emb = par(s, Tables.embeddings(s, dir))
    val queries = emb.filter(col("label") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    Similarity.ivfTopK(queries, emb.select("vec_id", "embedding"), k = 5,
      knownCount = Tables.rowCount(s, dir, "embeddings"))
  }

  /** IVF-PQ quantized ANN ([[graft.sim.Similarity.pqTopK]]) — the
    * compressed-index scale path past q43's IVF: the corpus is stored as
    * m=8 sub-codes + a norm (≈16 bytes/row vs 256 for raw float vectors),
    * candidates are ranked by codegen'd ADC table lookups with only codes
    * crossing the probe join, and the exact re-rank touches true vectors
    * solely through a broadcast semi-join on the shortlist. Recall < 1 ⇒
    * rows-only; exact twin q38_ann_brute, recall bound in PqSpec.
    */
  private def q199_ann_ivfpq(s: SparkSession, dir: String): DataFrame = {
    val emb = par(s, Tables.embeddings(s, dir))
    val queries = emb.filter(col("label") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    Similarity.pqTopK(queries, emb.select("vec_id", "embedding"), k = 5,
      knownCount = Tables.rowCount(s, dir, "embeddings"))
  }

  /** Order-sensitive rolling fingerprint at CHARACTER granularity
    * ([[TextOps.fingerprintRollingChars]], Rabin-Karp Horner fold) —
    * hash-exact (r7 verdict #5): the oracle replays the polynomial over a
    * recursive power table, so the order-sensitivity contract is proven,
    * not just spot-checked. The xxhash64 token fold stays the 100 TB fast
    * path (TextOpsSpec pins the two differentially); q215 covers the
    * token-level md5-polynomial granularity. */
  private def q40_fingerprint_rolling(s: SparkSession, dir: String): DataFrame =
    par(s, Tables.documents(s, dir)).select(col("doc_id"), TextOps.fingerprintRollingChars(col("text")).as("fp"))

  /** Embedding-cosine near-duplicate pairs. ID pairs only in the output (same
    * float32-vs-double rationale as q38); 0.45 sits ≥2e-3 from any pair's
    * cosine in the synthetic data, so the engines agree on membership. */
  private def q41_embed_neardup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(par(s, Tables.embeddings(s, dir)), "vec_id", "embedding", thresh = 0.45)
      .select(col("id_a"), col("id_b"))

  /** q41's WIRED SCALE FORM — auto-planned near-dup search
    * (Similarity.cosineNearDupPairsBanded, tables=nbits=0): planBanding
    * sizes an LSH banding from (n, thresh, recall target) when geometry
    * allows — nbits = ⌈log₂ n⌉+1 so buckets grow with the corpus, candidate
    * join an equi-join on (table, bucket) carrying ids only — and on THIS
    * corpus (isotropic: every pair cosine < 0.61 at threshold 0.45, p ≈
    * 0.65, where any banding is ~dense) it logs the infeasibility and takes
    * the exact blocked all-pairs kernel instead, the route that replaced
    * r6's fixed (64, 4) banding measured super-linear (38.5 s at sf1).
    * Neither route plans a theta join over vector pairs (PlanSpec pins
    * this). Same oracle as q41: the fallback is exact by construction, so
    * the answers are identical — brute q41 stays on oracle-duty. */
  private def q161_embed_neardup_banded(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairsBanded(par(s, Tables.embeddings(s, dir)), "vec_id", "embedding",
        thresh = 0.45, knownCount = Tables.rowCount(s, dir, "embeddings"))
      .select(col("id_a"), col("id_b"))

  /** EXACT shingle-set Jaccard pairs via prefix filtering — scalable exact
    * set-similarity join (no cross join); the oracle brute-forces the same
    * answer, proving the prefix filter loses nothing. */
  private def q42_ngram_jaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.shingleJaccardPairsPrefix(par(s, Tables.documents(s, dir)), "doc_id", "text", thresh10 = 7)

  /** Multimodal plumbing (binary payload + typed metadata + per-partition
    * batched feature extraction). The codec stays a STUB (no media libs in
    * the sandbox) but r7 made the stub md5-derived instead of xxhash64, so
    * the fake features have a CLOSED-FORM oracle: the DuckDB SQL
    * (generated by [[q50OracleSql]]) recomputes every feature, the norm
    * chain and the kind dispatch verbatim — this query is hash-exact now,
    * not rows-only. Real-format payloads still take the real decoders
    * (q166/q183-q188 prove that path); this corpus is text-payload synthetic
    * media, all stub-routed. */
  private def q50_media_features(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    import graft.functions.VectorExprs
    val media = Multimodal.syntheticMediaFromDocs(par(s, Tables.documents(s, dir)), "doc_id", "text")
    // scalar projection only: the driver's rows-only compare sorts columns in
    // pandas, which cannot sort an array column — keep the feature VECTOR
    // inside the plan and emit dim/first/norm scalars
    Multimodal.extractFeatures(media).select(
      col("media_id"), col("kind"),
      size(col("features")).cast("long").as("feature_dim"),
      element_at(col("features"), 1).cast("double").as("f0"),
      sqrt(VectorExprs.dot_product(col("features"), col("features"))).as("feature_norm"))
  }

  /** §2.3 headroom — semi join (EXISTS): orders having any high-quantity
    * line. Right side contributes no columns and never multiplies rows. */
  private def q44_join_semi(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir).filter(col("l_quantity") > 45)
    RelOps.semiJoin(o, li, o("o_orderkey") === li("l_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice").as("total_price"))
  }

  /** §2.3 headroom — anti join (NOT EXISTS): customers with no URGENT order
    * (predicate chosen so the result is non-empty at every scale factor). */
  private def q45_join_anti(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
    RelOps.antiJoin(c, o, c("c_custkey") === o("o_custkey"))
      .select(col("c_custkey"), col("c_name").as("cust_name"))
  }

  /** Skew-resistant salted equi-join (RelOps.saltedJoin): same answer as the
    * plain join — the oracle IS the plain join — with the hot key spread
    * over `salts` reducers. */
  private def q46_salted_join(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("okey"), col("l_quantity"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    // salts sized to the executor count that needs de-hotspotting, not
    // higher — each salt replicates the other side once
    RelOps.saltedJoin(li, o, "okey", salts = 4)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
  }

  /** §2.4 headroom — explicit GROUPING SETS (beyond rollup/cube): per-flag
    * and per-status marginals in one pass over the fact table. */
  private def q47_grouping_sets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        // grouping columns must be passed UNALIASED: groupingSets matches the
        // set expressions against the grouping columns structurally, and an
        // alias breaks the match (the column then reads as null everywhere)
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity").cast("long")).as("sum_qty"))
      .select(col("l_returnflag").as("returnflag"), col("l_linestatus").as("linestatus"),
        col("cnt"), col("sum_qty"))

  /** §2.5 headroom — lag/lead/dense_rank windows over the event stream. */
  private def q48_lag_lead(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val wv = Window.partitionBy(col("user_id")).orderBy(col("value").desc)
    Tables.events(s, dir).select(
      col("user_id"), col("event_id"),
      lag(col("event_type"), 1).over(w).as("prev_type"),
      lead(col("event_type"), 1).over(w).as("next_type"),
      dense_rank().over(wv).cast("long").as("value_rank"))
  }

  /** Gap-based sessionization in BATCH (Sessionize.batch) — the exact twin of
    * the streaming flatMapGroupsWithState operator, oracled in plain SQL. */
  private def q49_sessionize_batch(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Sessionize.batch(Tables.events(s, dir), "user_id", "ts",
        gapMinutes = 30, tiebreak = Seq(col("event_id")))
      .select(col("user_id"), col("session_idx"), col("session_start"),
        col("session_end"), col("n_events"))

  /** A3 generalized — WIDE pivot (one column per event type) via
    * groupBy().pivot() with explicit values (no extra distinct-scan job). */
  private def q52_pivot_wide(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
  }

  /** BPE-ish subword piece count (TextOps.bpeishTokenCount) — RE2-compatible
    * alternation, so DuckDB computes the identical count. */
  private def q53_token_bpe(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextOps.bpeishTokenCount(col("text")).as("n_pieces"))

  /** Ordered string aggregation per group (collect → sort → join): the
    * deterministic form of collect_list — scalar output, so it stays
    * engine-comparable (and driver-sortable) where an array column wouldn't. */
  private def q54_collect_sorted(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(array_join(array_sort(collect_list(col("event_type"))), ",").as("types_sorted"),
        count(lit(1)).as("n_events"))

  /** Generator / flatten — posexplode of the token array (one row per token
    * with its position); the lateral-view shape every text pipeline needs. */
  private def q55_explode_pos(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"),
        posexplode(col("toks")).as(Seq("pos", "token")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))

  /** F5/F6 headroom — date arithmetic: day/month offsets (with end-of-month
    * clamping), last_day, month truncation. */
  private def q56_date_arith(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      date_add(col("o_orderdate"), 30).as("due_date"),
      add_months(col("o_orderdate"), 3).as("review_date"),
      last_day(col("o_orderdate")).as("month_end"),
      trunc(col("o_orderdate"), "month").as("month_start"))

  /** String-function family over the customer dim (upper/lower/substring/
    * concat_ws/replace/lpad — the normalization toolkit of §2.8). */
  private def q57_string_funcs(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey"),
      upper(col("c_name")).as("name_upper"),
      lower(col("c_mktsegment")).as("segment_lower"),
      substring(col("c_name"), 1, 10).as("name_prefix"),
      concat_ws("|", col("c_mktsegment"), col("c_name")).as("seg_name"),
      regexp_replace(col("c_name"), " ", "").as("name_nospace"),
      lpad(col("c_custkey").cast("string"), 12, "0").as("key_padded"))

  /** Exact interpolated percentiles per group (sort-based `percentile`, not
    * the approximate sketch — the approximate twin is q26's territory). */
  private def q58_quantiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(
        percentile(col("l_quantity").cast("long"), lit(0.25)).as("p25"),
        percentile(col("l_quantity").cast("long"), lit(0.5)).as("p50"),
        percentile(col("l_quantity").cast("long"), lit(0.9)).as("p90"))

  /** Multimodal frame sampling (Multimodal.sampleFrames): one row per sampled
    * frame timestamp for video rows — pure plan (posexplode over a sequence),
    * no decode; ORACLED via the synthetic metadata formula. */
  private def q59_frame_sample(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.syntheticMediaFromDocs(Tables.documents(s, dir), "doc_id", "text")
    Multimodal.sampleFrames(media, everyMs = 2000L)
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("frame_ts_ms").cast("long").as("frame_ts_ms"))
  }

  /** Event-time tumbling windows + watermark in a BOUNDED stream
    * (Trigger.AvailableNow): the oracle is the batch date_trunc answer —
    * windowed streaming and batch agree. */
  private def q60_stream_windows(s: SparkSession, dir: String): DataFrame = {
    val tsType = Tables.eventsRawTsType(s, dir)
    graft.streaming.EventIngest.streamWindowedCountsOverParquet(
      s, s"$dir/events.parq*", Tables.eventsRawSchema(tsType),
      // watermarks require TIMESTAMP (instant) — the helper casts the window
      // start back to NTZ for engine comparison; session TZ is UTC so the
      // wall-clock value is unchanged
      tsExpr = Tables.eventsTsInstantExpr(tsType),
      windowLen = "1 hour", watermark = "1 minute",
      name = s"q60_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}")
  }

  /** Array-function family over the token arrays (distinct/contains/
    * position/element_at) — scalar outputs so the comparison stays exact. */
  private def q61_array_funcs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens(col("text")))
      .filter(size(col("toks")) > 0)
      .select(
        col("doc_id"),
        size(array_distinct(col("toks"))).cast("long").as("n_uniq"),
        array_contains(col("toks"), "the").as("has_the"),
        element_at(col("toks"), 1).as("first_tok"),
        element_at(col("toks"), -1).as("last_tok"),
        array_position(col("toks"), "the").cast("long").as("the_pos"))

  /** Engine-portable moment statistics (RelOps.momentStats): variance/stddev/
    * correlation derived from exact BIGINT sufficient statistics, float math
    * confined to one final formula mirrored in the oracle — bit-reproducible
    * where streaming stddev/corr aggregates are accumulation-order-dependent. */
  private def q62_moment_stats(s: SparkSession, dir: String): DataFrame =
    RelOps.momentStats(
      Tables.lineitem(s, dir).select(
        col("l_returnflag").as("returnflag"),
        col("l_quantity").cast("long").as("x"),
        col("l_linenumber").cast("long").as("y")),
      groupKeys = Seq("returnflag"), x = col("x"), y = col("y"))

  /** §2.7 headroom — INTERSECT / EXCEPT (distinct set semantics): customer
    * keys present in both halves of a split vs only the first half. */
  private def q63_intersect_except(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    val high = o.filter(col("o_orderpriority") === "2-HIGH").select(col("o_custkey"))
    urgent.intersect(high).withColumn("relation", lit("both"))
      .unionByName(urgent.except(high).withColumn("relation", lit("urgent_only")))
      .select(col("o_custkey").as("custkey"), col("relation"))
  }

  /** Fill-down / observation carry-forward (RelOps.fillDown): each event sees
    * the user's latest purchase value at-or-before it. */
  private def q64_fill_down(s: SparkSession, dir: String): DataFrame =
    RelOps.fillDown(Tables.events(s, dir),
        keys = Seq("user_id"), order = Seq(col("ts").asc, col("event_id").asc),
        value = when(col("event_type") === "purchase", col("value")),
        as = "last_purchase_value")
      .select(col("user_id"), col("event_id"), col("last_purchase_value"))

  /** F1 with ANSI softening — try_cast: malformed numerics parse to NULL
    * instead of throwing (Spark 4 defaults ANSI on; the stringify ingest path
    * manufactures junk). Junk injected deterministically every 7th key. */
  private def q65_try_cast(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_linenumber").cast("long").as("line_no"),
      expr("""try_cast(concat(cast(cast(l_quantity as bigint) as string),
                case when l_orderkey % 7 = 0 then 'x' else '' end) as bigint)""").as("qty_parsed"))

  /** Column profiling (RelOps.profileColumns): null/distinct/min/max per
    * column in ONE scan — the systematic form of the reference's eyeball
    * BI checks. */
  private def q66_profile(s: SparkSession, dir: String): DataFrame =
    RelOps.profileColumns(Tables.lineitem(s, dir),
      Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"))

  /** ST1/ST3 — bounded streaming drain (Trigger.AvailableNow) over the events
    * parquet, aggregated in-stream; the oracle is the BATCH answer, proving
    * stream/batch agreement. */
  private def q51_stream_counts(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsRawSchema(Tables.eventsRawTsType(s, dir))
    // glob (not a bare file path): the file stream source requires a
    // directory basePath and resolves the pattern beneath it
    graft.streaming.EventIngest.streamCountsOverParquet(
      s, s"$dir/events.parq*", raw, s"q51_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}")
  }

  /** Co-located (BUCKETED) join — the 100 TB answer to repeated fact-fact
    * joins: both sides written bucketed on the join key
    * (Warehouse.writeBucketed), so the join needs NO shuffle exchange
    * (asserted in ScaleOpsSpec/PlanSpec). The oracle is the plain join —
    * clustering changes the physical plan, never the answer. */
  private def q67_bucketed_join(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Warehouse
    val uid = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = new Warehouse(s, java.nio.file.Files.createTempDirectory("graft_bkt").toString)
    val liT = s"li_bkt_$uid"; val oT = s"o_bkt_$uid"
    wh.writeBucketed(liT, Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_quantity")),
      buckets = 8, Seq("l_orderkey"))
    wh.writeBucketed(oT, Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
      buckets = 8, Seq("o_orderkey"))
    val li = wh.readTable(liT); val o = wh.readTable(oT)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
  }

  /** Partition-PRUNED scan — orders written partitioned by year
    * (Warehouse.writePartitioned, dynamic overwrite), then read with a
    * partition predicate: only the matching directory is scanned
    * (PartitionFilters — asserted in PlanSpec), the O(delta)-not-O(history)
    * read/write pattern a daily 100 TB warehouse needs. */
  private def q68_partition_prune(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Warehouse
    val wh = new Warehouse(s, java.nio.file.Files.createTempDirectory("graft_part").toString)
    wh.writePartitioned("orders_by_year",
      Tables.orders(s, dir).withColumn("o_year", year(col("o_orderdate"))), Seq("o_year"))
    s.read.parquet(wh.path("orders_by_year"))
      .filter(col("o_year") === 1995)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
  }

  /** HISTOGRAM-EXACT percentiles (sketch.HistogramQuantiles) — the
    * mergeable single-fact-pass scale path for DISCRETE measures: one
    * partial-aggregated (group, value) histogram, running sum over the
    * O(distinct values) rows, rank = ceil(p·n). Same single-pass/mergeable
    * shape the KLL sketch buys for continuous domains (q58's doc covers
    * that regime), but all-integer here — so r7 converts this query from
    * rows-only to a hash-exact DuckDB oracle mirroring rank semantics
    * verbatim. (Historical name kept for artifact continuity; r1-r6 ran an
    * approx_percentile sketch in this slot.) */
  private def q69_approx_quantiles(s: SparkSession, dir: String): DataFrame =
    graft.sketch.HistogramQuantiles.discPercentiles(
      Tables.lineitem(s, dir).select(col("l_returnflag").as("returnflag"),
        col("l_quantity").cast("long").as("qty")),
      "returnflag", col("qty"), Seq(("p25", 0.25), ("p50", 0.5), ("p90", 0.9)))

  /** MERGEABLE distinct-count sketches — the DETERMINISTIC md5-HLL
    * (sketch.DetHll, m = 16): per-(flag,status) register vectors unioned
    * (element-wise max) up to flag level without re-scanning the fact
    * table. At 100 TB this is the pattern: store registers per fine cell
    * once, answer any coarser rollup by union. r7 swaps the Datasketches
    * builtin (still demonstrated by q26) for the engine-portable form: the
    * registers, the union AND the harmonic-mean estimate are closed-form
    * md5/integer functions with ONE mirrored double division, so the
    * estimate itself is DuckDB-oracle-checked hash-exactly; Round3Spec pins
    * the mergeability algebra (union-then-estimate ≡ direct flag-level
    * registers) and the m=16 error envelope vs exact. */
  private def q70_hll_union(s: SparkSession, dir: String): DataFrame = {
    import graft.sketch.DetHll
    val fine = DetHll.registers(Tables.lineitem(s, dir),
      Seq("l_returnflag", "l_linestatus"), col("l_orderkey"))
    val flagRegs = DetHll.union(fine, Seq("l_returnflag"))
    DetHll.estimate(flagRegs, Seq("l_returnflag"), outCol = "approx_orders")
      .withColumnRenamed("l_returnflag", "returnflag")
  }

  /** NATIVE session windows (Sessionize.sessionWindows): break detection and
    * aggregation fused in one `session_window` grouping — one shuffle, no
    * two-pass window, streaming-ready. Oracled by the gaps-and-islands SQL
    * with the operator's exact boundary semantics (merge iff gap <= 30 min;
    * session_end = last_ts + gap). */
  private def q71_session_window(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Sessionize.sessionWindows(
        Tables.events(s, dir), "user_id", "ts", gapMinutes = 30)
      .select(col("user_id"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n_events"))

  /** STREAMING dedup (`dropDuplicatesWithinWatermark`) over a bounded drain —
    * state-bounded exactly-once per event_id within the watermark horizon;
    * horizon here exceeds the dataset span, so the batch COUNT(DISTINCT)
    * oracle is exact. */
  private def q72_stream_dedup(s: SparkSession, dir: String): DataFrame = {
    val tsType = Tables.eventsRawTsType(s, dir)
    graft.streaming.EventIngest.streamDedupCountsOverParquet(
      s, s"$dir/events.parq*", Tables.eventsRawSchema(tsType),
      tsExpr = Tables.eventsTsInstantExpr(tsType),
      watermark = "3650 days", idCols = Seq("event_id"),
      name = s"q72_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}")
  }

  /** TYPED aggregation (Dataset[T] + custom `Aggregator`,
    * TypedAggs.WeightedMean): quantity-weighted mean price per flag from
    * exact integer partials — §2.9 headroom, oracled because the only float
    * op is the final division, mirrored verbatim in the SQL. */
  private def q73_typed_agg(s: SparkSession, dir: String): DataFrame = {
    import graft.typed.TypedAggs
    import org.apache.spark.sql.Encoders
    val ds = Tables.lineitem(s, dir).select(
        col("l_returnflag").as("key"),
        col("l_quantity").cast("long").as("qty"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .as[TypedAggs.Weighted](Encoders.product[TypedAggs.Weighted])
    ds.groupByKey(_.key)(Encoders.STRING)
      .agg(TypedAggs.WeightedMean.toColumn.name("wavg_price"))
      .toDF("returnflag", "wavg_price")
  }

  /** Math-function family (§2.8 headroom): abs/sign, integer-division
    * floor/ceil (kept in exact BIGINT arithmetic — no decimal-division
    * rounding to disagree on), IEEE-exact sqrt, modulo. */
  private def q74_math_funcs(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .withColumn("cents", (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      .select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("line_no"),
        abs(col("l_quantity").cast("long") - 25).as("abs_dev"),
        expr("cents div 100000").as("price_kfloor"),
        expr("(cents + 99999) div 100000").as("price_kceil"),
        sqrt(col("l_quantity").cast("long").cast("double")).as("qty_sqrt"),
        (col("l_orderkey") % 7).as("key_mod7"),
        signum(col("l_quantity").cast("double") - 25.0).cast("long").as("dev_sign"))

  /** Conditional-expression family (§2.8 headroom): coalesce/nullif/nvl/
    * greatest/least — the forms the reference spells as CASE (F2). greatest/
    * least SELECT one of their inputs (no arithmetic), so doubles pass
    * through bit-exact. */
  private def q75_conditional_funcs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      coalesce(nullif(col("o_orderpriority"), lit("4-NOT SPECIFIED")), lit("UNSPECIFIED"))
        .as("priority_clean"),
      greatest(col("o_totalprice"), lit(100000.0)).as("price_floor"),
      least(col("o_totalprice"), lit(100000.0)).as("price_cap"),
      nvl(col("o_orderstatus"), lit("?")).as("status_nn"),
      when(col("o_totalprice") > 200000.0, lit("big")).otherwise(lit("small")).as("size_class"))

  /** Regex-function family over documents (extract/count/replace/rlike) —
    * RE2-compatible patterns only (plain classes/alternations, no
    * lookaround), so the DuckDB oracle computes the identical answer. */
  private def q76_regex_funcs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      regexp_extract(col("text"), "([A-Za-z]+)", 1).as("first_word"),
      regexp_count(col("text"), lit("[0-9]+")).cast("long").as("n_numruns"),
      regexp_replace(col("text"), "[0-9]+", "#").as("masked"),
      col("text").rlike("data").as("has_data"))

  /** INCREMENTAL upsert as an oracled query: a snapshot with stale rows for
    * the post-split window is healed by Warehouse.merge with the correct
    * delta — the final table must equal the full source (the oracle
    * aggregates the source directly). This is the O(delta) daily-run
    * alternative to the reference's whole-table WRITE_TRUNCATE rebuild. */
  private def q77_incremental_merge(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Warehouse
    val wh = new Warehouse(s, java.nio.file.Files.createTempDirectory("graft_mrg").toString)
    val o = Tables.orders(s, dir)
    val split = lit("1997-01-01").cast("timestamp")
    wh.write("orders_snap", o.withColumn("o_totalprice",
      when(col("o_orderdate") >= split, lit(-1.0)).otherwise(col("o_totalprice"))))
    wh.merge("orders_snap", o.filter(col("o_orderdate") >= split), Seq("o_orderkey"))
    wh.read("orders_snap")
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
  }

  /** Map-function family (§2.8 headroom): construct/lookup/concat/cardinality
    * — scalar outputs so the comparison stays exact (driver cannot sort map
    * columns). */
  private def q78_map_funcs(s: SparkSession, dir: String): DataFrame = {
    val m = map(lit("status"), col("o_orderstatus"), lit("priority"), col("o_orderpriority"))
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      element_at(m, "status").as("m_status"),
      map_contains_key(m, "priority").as("has_priority"),
      size(m).cast("long").as("m_size"),
      element_at(map_concat(m, map(lit("source"), lit("orders"))), "source").as("m_source"))
  }

  /** UNPIVOT / melt (the inverse of q52's wide pivot): measures to rows —
    * the long-form reshape feeding per-metric dashboards. */
  private def q79_unpivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
        count(lit(1)).as("cnt"),
        max(col("l_quantity").cast("long")).as("max_qty"))
      .unpivot(Array(col("returnflag")),
        Array(col("sum_qty"), col("cnt"), col("max_qty")), "measure", "value")

  /** RANGE window frames (value-based, not row-count): events within 10
    * value-units at or below each event's own value, per user — the frame
    * kind q22's running totals (ROWS) don't exercise. RANGE includes all
    * ORDER BY peers, so the answer is deterministic under ties. */
  private def q80_range_frame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("vfloor"))
      .rangeBetween(-10, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("vfloor", floor(col("value")).cast("long"))
      .select(col("user_id"), col("event_id"), col("vfloor"),
        count(lit(1)).over(w).as("n_near"),
        sum(col("vfloor")).over(w).as("sum_near"))
  }

  /** Gopher-style REPETITION filters (training-corpus quality rule: a doc
    * whose tokens/bigrams are mostly copies of each other is template or
    * looping output): exact duplicate-token and duplicate-bigram fractions.
    * All counting is integer; each fraction is ONE final IEEE division —
    * oracle-exact. Shuffle-free: pure per-row expressions inside the scan.
    */
  private def q81_repetition(s: SparkSession, dir: String): DataFrame =
    par(s, Tables.documents(s, dir))
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("bg", TextOps.bigramsFromTokens(col("toks")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        size(array_distinct(col("toks"))).cast("long").as("n_uniq_tok"),
        size(col("bg")).cast("long").as("n_bigram"),
        size(array_distinct(col("bg"))).cast("long").as("n_uniq_bigram"))
      .withColumn("dup_tok_frac",
        when(col("n_tok") > 0,
          (col("n_tok") - col("n_uniq_tok")).cast("double") / col("n_tok").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("dup_bigram_frac",
        when(col("n_bigram") > 0,
          (col("n_bigram") - col("n_uniq_bigram")).cast("double") / col("n_bigram").cast("double"))
          .otherwise(lit(0.0)))

  /** PII redaction (the pre-training scrub pass): mask emails and phone-like
    * digit runs, count what was masked. The corpus has no natural PII, so a
    * deterministic synthetic email+phone derived from doc_id is appended
    * first — the redaction regexes then have real work to do and the oracle
    * still checks exactly. RE2-safe patterns (plain classes, no lookaround);
    * DuckDB needs the 'g' flag to match Spark's replace-all default.
    */
  private def q82_pii_mask(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9_.]+@[A-Za-z0-9_.-]+"
    val phoneRe = "[+][0-9][0-9-]{5,}"
    par(s, Tables.documents(s, dir))
      .withColumn("aug", concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 7, "0")))
      .select(col("doc_id"),
        regexp_count(col("aug"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("aug"), lit(phoneRe)).cast("long").as("n_phones"),
        regexp_replace(regexp_replace(col("aug"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").as("masked"))
  }

  /** DETERMINISTIC stratified sampling (RelOps.hashSampleFilter): keep 50%
    * of URGENT orders, 10% of the rest, membership a pure function of the
    * key — so the held-out split is stable across re-ingests and
    * re-partitionings (df.sample() is neither). Codegen'd md5 filter inside
    * the scan: no shuffle, no RNG state, trivially parallel at 100 TB.
    */
  private def q83_hash_sample(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(when(col("o_orderpriority") === "1-URGENT",
          RelOps.hashSampleFilter(col("o_orderkey"), 0.5))
        .otherwise(RelOps.hashSampleFilter(col("o_orderkey"), 0.1)))
      .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
        col("o_totalprice").as("total_price"))

  /** DATE-SPINE gap fill: per-user daily activity series with explicit
    * zero-rows for silent days (`sequence` + `explode` of the per-user
    * [min,max] day range, left-joined back onto the daily counts). The
    * time-series densification every dashboard/forecast feed needs; the
    * spine is generated from a per-user aggregate (O(users) rows), not a
    * driver-side calendar loop.
    */
  private def q84_date_spine(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"), coalesce(col("n"), lit(0L)).as("n_events"))
  }

  /** Edit-distance fuzzy canonicalization (entity resolution's core scalar):
    * inputs deterministically corrupted with a key-dependent suffix, then
    * snapped to the nearest canonical label by `levenshtein` (ties and the
    * argmin spelled as an explicit comparison chain mirrored verbatim in the
    * oracle). Per-row codegen'd expressions — shuffle-free.
    */
  private def q85_levenshtein(s: SparkSession, dir: String): DataFrame = {
    val dirty = concat(col("p_type"), expr("repeat('x', cast(p_partkey % 3 as int))"))
    val dEcon = levenshtein(col("dirty"), lit("ECONOMY")).cast("long")
    val dStd  = levenshtein(col("dirty"), lit("STANDARD")).cast("long")
    val dProm = levenshtein(col("dirty"), lit("PROMO")).cast("long")
    Tables.part(s, dir)
      .withColumn("dirty", dirty)
      .select(col("p_partkey"), col("dirty"),
        dEcon.as("d_economy"), dStd.as("d_standard"), dProm.as("d_promo"),
        when(dEcon <= dStd && dEcon <= dProm, "ECONOMY")
          .when(dStd <= dProm, "STANDARD")
          .otherwise("PROMO").as("canonical"))
  }

  /** The full RANKING-window battery (rank / dense_rank / ntile /
    * percent_rank / cume_dist) per customer — §2.5 headroom beyond
    * q11/q48's row_number/lag. Total order inside each partition
    * (price desc, key asc) makes every rank deterministic; percent_rank and
    * cume_dist are exact rationals of BIGINTs, so the one IEEE division per
    * value is engine-identical.
    */
  private def q86_rank_battery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir).select(
      col("o_custkey").as("custkey"), col("o_orderkey"),
      rank().over(w).cast("long").as("rnk"),
      dense_rank().over(w).cast("long").as("drnk"),
      ntile(4).over(w).cast("long").as("quartile"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cdist"))
  }

  /** Per-row Z-SCORE anomaly flags from exact integer sufficient statistics
    * (RelOps.zscore): the O(groups) stats aggregate is broadcast back onto
    * the fact scan — facts never shuffle, the pattern that survives 100 TB.
    * Float math is one final formula mirrored verbatim in the oracle.
    */
  private def q87_zscore_outliers(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_linenumber").cast("long").as("line_no"),
      col("l_returnflag").as("returnflag"), col("l_quantity").cast("long").as("qty"))
    RelOps.zscore(base, "returnflag", col("qty"), "z")
      .select(col("l_orderkey"), col("line_no"), col("returnflag"), col("qty"),
        col("z"), (abs(col("z")) > 2.0).as("is_outlier"))
  }

  /** Transitive NEAR-DUP CLUSTERS: the verified exact-Jaccard pairs (q42's
    * operator) become edges; Clusters.connectedComponents collapses each
    * group of mutual near-dups to its minimum doc_id — A≈B≈C dedups to one
    * keeper even when A,C don't match directly. Oracle = recursive CTE over
    * the identical pair set. Singleton docs keep themselves.
    */
  private def q88_dup_clusters(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Clusters
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.shingleJaccardPairsPrefix(par(s, docs), "doc_id", "text", thresh10 = 7)
    Clusters.connectedComponents(docs, "doc_id", pairs, "id_a", "id_b")
  }

  /** Sliding-window CHUNKING for context-window packing (chunk 128 tokens,
    * stride 96): one row per (doc, chunk) with exact token offsets —
    * the reshape that turns a document corpus into fixed-size training
    * examples. Offsets derive from a counted token stream, so the op is a
    * generate-per-row explode: no shuffle, scales with input splits.
    */
  private def q89_chunk_windows(s: SparkSession, dir: String): DataFrame =
    par(s, Tables.documents(s, dir))
      .withColumn("n_tok", TextOps.tokenCount(col("text")))
      .select(col("doc_id"), col("n_tok"),
        explode(TextOps.chunkStarts(col("n_tok"), 96)).as("tok_start"))
      .select(col("doc_id"),
        expr("tok_start div 96").as("chunk_idx"),
        col("tok_start"),
        least(col("tok_start") + 128L, col("n_tok")).as("tok_end"))

  /** VOCABULARY induction: global top-N token counts with a total-order
    * tie-break (count desc, token asc) so the cut is deterministic — the
    * first step of tokenizer training. explode → partial-agg count →
    * TakeOrderedAndProject (Spark's top-K operator: no global sort at scale).
    */
  private def q90_vocab_topn(s: SparkSession, dir: String): DataFrame =
    par(s, Tables.documents(s, dir))
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .filter(col("token").rlike("^[a-z]+$"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(200)

  /** STREAM–STREAM join (EventIngest.streamStreamJoinOverParquet): clicks
    * joined to the same user's purchases within 30 minutes, both sides
    * watermarked so join state is bounded — the streaming attribution join.
    * Oracle = the equivalent batch self-join.
    */
  private def q91_stream_join(s: SparkSession, dir: String): DataFrame = {
    val tsType = Tables.eventsRawTsType(s, dir)
    graft.streaming.EventIngest.streamStreamJoinOverParquet(
      s, s"$dir/events.parq*", Tables.eventsRawSchema(tsType),
      tsExpr = Tables.eventsTsInstantExpr(tsType),
      leftType = "click", rightType = "purchase", maxDelay = "30 minutes",
      name = s"q91_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}")
  }

  /** MIN-MAX feature scaling within each priority class
    * (RelOps.minMaxScale): whole-partition window, min/max select existing
    * doubles (no float accumulation), one mirrored subtraction+division.
    */
  private def q92_minmax_scale(s: SparkSession, dir: String): DataFrame =
    RelOps.minMaxScale(
      Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_orderpriority").as("priority"), col("o_totalprice")),
      "priority", col("o_totalprice"), "price_scaled")
      .select(col("o_orderkey"), col("priority"),
        col("o_totalprice").as("total_price"), col("price_scaled"))

  /** FULL OUTER join (§2.3 headroom — the one outer-join shape q09/q44/q45
    * don't cover): a filtered dimension slice against per-customer urgent
    * counts, with unmatched rows surviving from BOTH sides and coalesced
    * keys/flags making the provenance explicit. Spark plans this as a
    * sort-merge join (full outer cannot broadcast either side — both sides'
    * unmatched rows must be emitted, and only the stream side of a
    * broadcast join can do that).
    */
  private def q93_full_outer(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("ckey"), col("c_name"))
    val o = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_urgent"))
    c.join(o, col("ckey") === col("o_custkey"), "full_outer")
      .select(coalesce(col("ckey"), col("o_custkey")).as("custkey"),
        col("c_name").as("cust_name"),
        coalesce(col("n_urgent"), lit(0L)).as("n_urgent"),
        col("ckey").isNotNull.as("in_dim"),
        col("o_custkey").isNotNull.as("in_fact"))
  }

  /** CROSS join (explicit Cartesian, §2.3 headroom): the tiny-dims product
    * that seeds enumeration patterns (calendar × category scaffolds). Kept
    * to dimension tables on purpose — at scale a cross join is only ever
    * sane when one side fits in a broadcast (Spark plans
    * BroadcastNestedLoopJoin here).
    */
  private def q94_cross_join(s: SparkSession, dir: String): DataFrame =
    Tables.region(s, dir).select(col("r_regionkey"), col("r_name"))
      .crossJoin(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name")))
      .select(col("r_regionkey"), col("n_nationkey"),
        concat_ws("/", col("r_name"), col("n_name")).as("pair_label"))

  /** SLIDING (hopping) event-time windows over the stream — 1-hour windows
    * every 15 minutes, so each event lands in 4 overlapping windows; the
    * tumbling twin is q60. Oracle: batch expansion of each event into its 4
    * epoch-aligned window starts.
    */
  private def q95_sliding_windows(s: SparkSession, dir: String): DataFrame = {
    val tsType = Tables.eventsRawTsType(s, dir)
    graft.streaming.EventIngest.streamWindowedCountsOverParquet(
      s, s"$dir/events.parq*", Tables.eventsRawSchema(tsType),
      tsExpr = Tables.eventsTsInstantExpr(tsType),
      windowLen = "1 hour", watermark = "1 minute",
      name = s"q95_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}",
      slide = Some("15 minutes"))
  }

  /** Exact per-group MODE with a deterministic tie-break (most frequent
    * event type per user; ties go to the lexicographically smallest) — in
    * ONE aggregation pass via struct ordering: min(struct(-count, type))
    * picks highest count then smallest type, with no second window shuffle.
    * (Spark's builtin `mode` is tie-nondeterministic, so it can't be
    * oracle-checked; this form can.)
    */
  private def q96_mode(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(min(struct((-col("cnt")).as("neg"), col("event_type").as("et"))).as("m"),
        sum(col("cnt")).as("n_events"))
      .select(col("user_id"), col("m.et").as("mode_type"),
        (-col("m.neg")).as("mode_count"), col("n_events"))

  /** Schema-ful JSON round-trip (to_json → from_json with a NESTED struct
    * schema → field extraction) — the structured half of §2.8's JSON surface
    * (q24 covers schemaless get_json_object). The parse is a codegen'd
    * expression against a static schema: no inference pass, which is what
    * keeps it viable inside a 100 TB scan stage.
    */
  private def q97_json_struct(s: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("meta", StructType(Seq(
        StructField("t", StringType), StructField("u", LongType))))))
    Tables.events(s, dir)
      .withColumn("packed", to_json(struct(
        col("event_id").as("id"),
        struct(col("event_type").as("t"), col("user_id").as("u")).as("meta"))))
      .withColumn("parsed", from_json(col("packed"), schema))
      .select(col("event_id"),
        col("parsed.id").as("id_back"),
        col("parsed.meta.t").as("type_back"),
        col("parsed.meta.u").as("user_back"))
  }

  /** CSV source/sink round-trip (S1 headroom — the reference's loader keeps
    * CSV-only options around): explicit-schema header CSV write + read back,
    * then an aggregate the oracle computes from the original parquet — the
    * round-trip must be lossless (dates ISO, doubles shortest-repr exact).
    */
  private def q98_csv_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"), col("o_totalprice"))
      .write.mode("overwrite").option("header", "true").csv(tmp)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_orderpriority", StringType),
      StructField("o_orderdate", DateType), StructField("o_totalprice", DoubleType)))
    s.read.schema(schema).option("header", "true").csv(tmp)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
        min(col("o_orderdate")).as("first_date"),
        max(col("o_orderdate")).as("last_date"))
  }

  /** JSON-lines source/sink round-trip (S7's wire format as a bulk lake
    * format): explicit-schema read back — same losslessness bar as q98.
    */
  private def q99_json_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"), col("o_totalprice"))
      .write.mode("overwrite").json(tmp)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_orderpriority", StringType),
      StructField("o_orderdate", DateType), StructField("o_totalprice", DoubleType)))
    s.read.schema(schema).json(tmp)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
  }

  /** first_value / last_value / nth_value with explicit ROWS frames (§2.5
    * headroom beyond q48/q64/q80): per-user first/last/second event types
    * under a (ts, event_id) total order — running frame for first/second,
    * whole-partition frame for last.
    */
  private def q100_value_windows(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val running = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, dir).select(
      col("user_id"), col("event_id"),
      first(col("event_type")).over(running).as("first_type"),
      last(col("event_type")).over(whole).as("last_type"),
      nth_value(col("event_type"), 2).over(running).as("second_type"))
  }

  /** SCHEMA-EVOLUTION union (`unionByName(allowMissingColumns = true)`):
    * two extract generations with different column sets combine by NAME,
    * absent columns null-filled — the ingest op that keeps a pipeline alive
    * across upstream schema changes (the reference's pandas `concat` at
    * parquet_solution.py:76 does this positionally and silently; by-name is
    * the survivable form). Oracle: DuckDB UNION ALL BY NAME.
    */
  private def q101_union_evolve(s: SparkSession, dir: String): DataFrame = {
    val gen1 = Tables.orders(s, dir).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderpriority").as("priority"))
    val gen2 = Tables.orders(s, dir).filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
        col("o_totalprice").as("total_price"))
    gen1.unionByName(gen2, allowMissingColumns = true)
      .select(col("o_orderkey"), col("priority"), col("total_price"))
  }

  /** SCHEMA-EVOLUTION parquet read (`mergeSchema`): two physical batches
    * written with different schemas under one dataset dir read back as the
    * union schema, old-batch rows null-filled — the lake-side dual of q101
    * (evolution absorbed at the scan, no rewrite of historical files; at
    * 100 TB rewriting history for a new column is not an option). Oracle:
    * the same union expressed over the source table.
    */
  private def q102_merge_schema(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_evo").toString
    Tables.orders(s, dir).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$tmp/batch=1")
    Tables.orders(s, dir).filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$tmp/batch=2")
    s.read.option("mergeSchema", "true").parquet(s"$tmp/batch=1", s"$tmp/batch=2")
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("n_legacy_rows"),
        sum(coalesce(col("o_totalprice"), lit(0.0)).cast("decimal(18,2)"))
          .cast("double").as("sum_price_new"))
  }

  /** CDC-style SNAPSHOT DIFF: today's extract vs yesterday's, keyed full
    * outer join + per-row md5 content hash → added/removed/changed/unchanged
    * counts — the change-detection pass that turns the reference's daily
    * WRITE_TRUNCATE rebuild into an O(delta) incremental feed (pairs with
    * Warehouse.merge). The "yesterday" snapshot is derived deterministically
    * (drop every 101st key, perturb every 97th price) so the oracle can
    * rebuild it. Hash input uses DECIMAL-stringified money (double→varchar
    * formatting differs across engines; decimal doesn't).
    */
  private def q103_snapshot_diff(s: SparkSession, dir: String): DataFrame = {
    def rowHash(price: Column, prio: Column): Column =
      md5(concat_ws("|", price.cast("decimal(18,2)").cast("string"), prio))
    val today = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k_new"),
        rowHash(col("o_totalprice"), col("o_orderpriority")).as("h_new"))
    val yesterday = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 101 =!= 0)
      .select(col("o_orderkey").as("k_old"),
        rowHash(when(col("o_orderkey") % 97 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")), col("o_orderpriority")).as("h_old"))
    today.join(yesterday, col("k_new") === col("k_old"), "full_outer")
      .select(when(col("k_old").isNull, "added")
        .when(col("k_new").isNull, "removed")
        .when(col("h_new") =!= col("h_old"), "changed")
        .otherwise("unchanged").as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n_rows"))
  }

  /** INCREMENTAL aggregation via mergeable sufficient statistics: the first
    * half-year's exact (n, Σx, Σx²) partials are "yesterday's" state table;
    * the second half's partials MERGE into them by addition — no rescan of
    * history — and the final variance derives from the merged sums. The
    * oracle computes the same stats over the full table in one pass: merged
    * must equal monolithic EXACTLY (integer sums are associative — this is
    * the property float accumulators lack, and why the state table stores
    * integers). The 100 TB pattern: keep per-day partials, answer any window
    * by summing O(days) tiny rows.
    */
  private def q104_incremental_stats(s: SparkSession, dir: String): DataFrame = {
    def partials(df: DataFrame): DataFrame =
      df.groupBy(col("l_returnflag").as("returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sx"),
          sum(col("l_quantity").cast("long") * col("l_quantity").cast("long")).as("sxx"))
    val li = Tables.lineitem(s, dir)
    val split = lit("1995-01-01").cast("date")
    val merged = partials(li.filter(col("l_shipdate") < split))
      .unionByName(partials(li.filter(col("l_shipdate") >= split)))
      .groupBy(col("returnflag"))
      .agg(sum(col("n")).as("n"), sum(col("sx")).as("sx"), sum(col("sxx")).as("sxx"))
    merged.select(col("returnflag"), col("n"),
      ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") /
        (col("n") * (col("n") - 1)).cast("double")).as("var_qty"))
  }

  /** TOP-K PER GROUP (k=3 priciest orders per customer): the window-rank
    * filter Spark compiles to a partial WindowGroupLimit BELOW the shuffle —
    * each map task forwards at most k rows per key, so the exchange carries
    * O(groups·k), not O(rows). q11 proves the k=1 case; this is the general
    * k (asserted in PlanSpec).
    */
  private def q105_topk_per_group(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey").as("custkey"), col("rnk").cast("long").as("rnk"),
        col("o_orderkey"), col("o_totalprice").as("total_price"))
  }

  /** ORC source/sink round-trip — the third columnar lake format next to
    * parquet (native) and CSV/JSON-lines (q98/q99); same losslessness bar.
    */
  private def q106_orc_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc").toString
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"), col("o_totalprice"))
      .write.mode("overwrite").orc(tmp)
    s.read.orc(tmp)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
        min(col("o_orderdate")).as("first_date"))
  }

  /** NULL-SAFE equality join (`<=>` — SQL's IS NOT DISTINCT FROM): a
    * priority dimension containing an explicit NULL row matches fact rows
    * whose priority was nullified — the join shape that keeps "unknown"
    * buckets joined instead of silently dropped (a plain equi-join loses
    * every NULL key). The dimension stays broadcast-able.
    */
  private def q107_nullsafe_join(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = Seq(("1-URGENT", "now"), ("2-HIGH", "soon"), ("3-MEDIUM", "later"),
      ("5-LOW", "whenever"), (null.asInstanceOf[String], "unknown"))
      .toDF("d_priority", "sla")
    val facts = Tables.orders(s, dir)
      .select(col("o_orderkey"),
        nullif(col("o_orderpriority"), lit("4-NOT SPECIFIED")).as("priority"))
    facts.join(broadcast(dim), col("priority") <=> col("d_priority"), "inner")
      .groupBy(col("sla")).agg(count(lit(1)).as("n_orders"))
  }

  /** Cluster-aware KEEP-BEST dedup policy: q88's transitive near-dup
    * clusters joined back to the corpus, each cluster keeping its LONGEST
    * member (ties → smallest doc_id) rather than blindly the minimum id —
    * the policy form real corpus dedup uses (keep the richest copy, drop
    * the rest). The keeper argmax is one aggregation via struct ordering
    * (max(struct(n_chars, -doc_id))) — no second window pass.
    */
  private def q108_dedup_keep_best(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Clusters
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.shingleJaccardPairsPrefix(par(s, docs), "doc_id", "text", thresh10 = 7)
    Clusters.connectedComponents(docs, "doc_id", pairs, "id_a", "id_b")
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("negid"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("m.negid")).as("keeper_id"),
        col("m.n_chars").as("keeper_chars"), col("n_members"))
  }

  /** Composed CORPUS QUALITY FILTER (the C4-style cleaning pass): ordered
    * rules — minimum length, bigram-repetition ceiling, language — emit a
    * verdict per document (first failing rule, else "keep"). All thresholds
    * compare exact integers; the language rule reuses the q31 classifier —
    * one shuffle-free scan pass over the corpus.
    */
  private def q109_quality_filter(s: SparkSession, dir: String): DataFrame =
    par(s, Tables.documents(s, dir))
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("bg", TextOps.bigramsFromTokens(col("toks")))
      .select(col("doc_id"),
        when(size(col("toks")) < 5, "too_short")
          .when((size(col("bg")) - size(array_distinct(col("bg")))).cast("long") * 10 >
            size(col("bg")).cast("long") * 3, "too_repetitive")
          .when(TextOps.langId(col("text")) =!= "en", "non_english")
          .otherwise("keep").as("verdict"))

  /** Typed Dataset[T] LAMBDA pipeline (case-class Encoder + typed
    * filter/map) — the §2.9 API surface q73's Aggregator doesn't show.
    * Deliberately thin: typed lambdas deserialize every row and are opaque
    * to Catalyst (no pushdown through the closure, no codegen inside it),
    * so the library keeps them for genuinely imperative row logic and does
    * everything else as columns; this query exists to prove the surface and
    * pin its semantics, with the heavy lifting (the aggregate) back in
    * DataFrame land where it partial-aggs map-side.
    */
  private def q110_typed_lambda(s: SparkSession, dir: String): DataFrame = {
    import graft.typed.TypedAggs.Line
    import org.apache.spark.sql.Encoders
    Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("okey"), col("l_linenumber").cast("long").as("lineNo"),
        col("l_quantity").cast("long").as("qty"), col("l_returnflag").as("flag"))
      .as[Line](Encoders.product[Line])
      .filter((l: Line) => l.qty > 30 && l.flag != "N")
      .map((l: Line) => l.copy(qty = l.qty - 30))(Encoders.product[Line])
      .groupBy(col("flag").as("returnflag"))
      .agg(count(lit(1)).as("n_lines"), sum(col("qty")).as("excess_qty"))
  }

  /** FUNNEL conversion (first click → first subsequent purchase): the
    * event-sequence analytics the warehouse's BI layer asks of event data.
    * Two tiny per-user aggregates and one summary row; the only join is
    * per-user firsts against purchases (shuffle keyed on user both times —
    * AQE reuses the layout). All outputs are exact counts.
    */
  private def q111_funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val firstClick = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
    val conv = firstClick
      .join(ev.filter(col("event_type") === "purchase").select(col("user_id"), col("ts").as("p_ts")),
        Seq("user_id"), "left")
      .filter(col("p_ts").isNull || col("p_ts") >= col("c_ts"))
      .groupBy(col("user_id"), col("c_ts"))
      .agg(min(when(col("p_ts") >= col("c_ts"), col("p_ts"))).as("first_p_ts"))
    conv.agg(
      count(lit(1)).as("n_clickers"),
      sum(when(col("first_p_ts").isNotNull, 1L).otherwise(0L)).as("n_converted"),
      sum(when(col("first_p_ts") <= col("c_ts") + expr("INTERVAL 1 DAY"), 1L).otherwise(0L))
        .as("n_converted_1d"))
  }

  /** COHORT RETENTION matrix: users bucketed by first-active ISO week, then
    * (cohort_week, week_offset) → active-user counts — the other staple BI
    * reshape over event data. Weeks align via date_trunc so the offset is an
    * exact integer division of whole days; one distinct pass + one
    * broadcast-able cohort join.
    */
  private def q112_cohort(s: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.events(s, dir)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
      .distinct()
    val cohort = weekly.groupBy(col("user_id")).agg(min(col("wk")).as("c_wk"))
    weekly.join(cohort, Seq("user_id"))
      .groupBy(col("c_wk").as("cohort_week"),
        expr("datediff(wk, c_wk) div 7").as("week_offset"))
      .agg(count(lit(1)).as("n_active_users"))
  }

  /** CONTEXT-WINDOW PACKING: documents assigned to fixed token-budget bins
    * (4096 tokens) by running-sum position — the reshape that turns a
    * filtered corpus into training-batch shards. Packing is per SHARD
    * (doc_id mod 8) with a window ordered inside each shard: the global
    * single-partition window a naive cumsum needs would serialize 100 TB
    * through one task, so the shard key IS the scale design, not a demo
    * convenience. Bin = floor(preceding-token-sum / budget): exact integer
    * math end to end.
    */
  private def q113_pack_bins(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    par(s, Tables.documents(s, dir))
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
        TextOps.tokenCount(col("text")).as("n_tok"))
      .withColumn("toks_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tok"),
        expr("toks_before div 4096").as("bin"))
  }

  /** Three-way train/val/test SPLIT LABELING (RelOps.hashSplit 80/10/10):
    * the labeling form of q83's sampling — every document gets exactly one
    * split, stable across re-ingestion/re-partitioning because membership
    * is a pure function of the key. Codegen'd md5 CASE inside the scan.
    */
  private def q114_split_labels(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        RelOps.hashSplit(col("doc_id"),
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))).as("split"))

  /** TEXT NORMALIZATION pipeline (lowercase → strip non-alphanumerics →
    * collapse whitespace → trim): the canonicalization pass upstream of
    * exact dedup and vocab induction, as one codegen'd expression chain —
    * RE2-safe patterns so the oracle is bit-identical.
    */
  private def q115_normalize(s: SparkSession, dir: String): DataFrame = {
    val norm = TextOps.normalizeAscii(col("text"))
    par(s, Tables.documents(s, dir))
      .select(col("doc_id"), norm.as("norm_text"),
        (length(col("text")) - length(norm)).cast("long").as("n_chars_removed"))
  }

  /** KEY-SKEW diagnostics: per-key frequency profile (distinct keys, max and
    * mean rows per key, the hottest key with a deterministic tie-break) —
    * the measurement that decides whether a join needs salting (q46) BEFORE
    * it burns a cluster-hour. One partial-agg count pass + an O(keys)
    * summary.
    */
  private def q116_key_skew(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_keys"),
        max(col("n")).as("max_rows_per_key"),
        sum(col("n")).as("n_rows"),
        (-min(struct((-col("n")).as("neg"), col("l_orderkey").as("k"))).getField("neg"))
          .as("hot_rows"),
        min(struct((-col("n")).as("neg"), col("l_orderkey").as("k"))).getField("k")
          .as("hot_key"))
      .withColumn("mean_rows_per_key",
        col("n_rows").cast("double") / col("n_keys").cast("double"))

  /** Plain-TEXT source/sink round-trip (`spark.read.text` — the line-stream
    * format raw corpus drops arrive in before they ever become parquet):
    * documents written one-per-line, read back as a `value` line stream,
    * reduced to corpus-level invariants the oracle computes from the
    * original table. Line identity is lexical (the corpus has no
    * newlines), so counts, distinct-line count and total token count must
    * survive the trip exactly.
    */
  private def q117_text_lines(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_txt").toString
    Tables.documents(s, dir).select(col("text")).write.mode("overwrite").text(tmp)
    s.read.text(tmp)
      .agg(count(lit(1)).as("n_lines"),
        countDistinct(col("value")).as("n_distinct_lines"),
        sum(TextOps.tokenCount(col("value"))).as("n_tokens"),
        sum(length(col("value")).cast("long")).as("n_chars"))
  }

  /** FORWARD as-of join (RelOps.asOfJoinForward): each click finds the
    * user's NEXT purchase at-or-after it — q28's mirror; oracle is DuckDB's
    * native ASOF with a <= condition. Same one-shuffle cost as a plain
    * join.
    */
  private def q118_asof_forward(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_event"))
    RelOps.asOfJoinForward(clicks, purchases, key = "user_id",
        leftTime = "ts", rightTime = "ts", rightVals = Seq("purchase_event"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asofnext_purchase_event").as("next_purchase_id"))
  }

  /** Exact DISCRETE percentiles (the value-at-rank form, vs q58's
    * interpolating continuous form): rank = ⌈p·n⌉ computed in exact integer
    * arithmetic, value picked by a row_number window — no floats anywhere,
    * and the oracle mirrors the same rank construction (engines disagree on
    * quantile_disc's rank convention, so the construction IS the
    * definition).
    */
  private def q119_percentile_disc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byVal = Window.partitionBy(col("returnflag")).orderBy(col("qty").asc)
    val grp = Window.partitionBy(col("returnflag"))
    Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("returnflag"), col("l_quantity").cast("long").as("qty"))
      .withColumn("rn", row_number().over(byVal))
      .withColumn("n", count(lit(1)).over(grp))
      .groupBy(col("returnflag"))
      .agg(max(when(col("rn") === expr("(n + 3) div 4"), col("qty"))).as("p25_disc"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("qty"))).as("p50_disc"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("qty"))).as("p90_disc"))
  }

  /** INTERVAL-OVERLAP pair COUNTS per day — by SWEEP LINE, not by pair
    * enumeration (the r4 super-linear fix): the requested statistic is a
    * count, and counting overlaps never requires materializing them. Each
    * unordered overlapping pair is counted exactly once, at the interval
    * that starts LATER in (lo, user) order: pairs(i) = (# starts ≤ mine) −
    * 1 − (# ends strictly before my start) — two running sums over one
    * day-partitioned event stream (2 rows per interval). hi == lo_i ties
    * count as overlap, so end events sort AFTER start events at equal
    * timestamps. Work per day is O(n log n) sort instead of the former
    * same-day self-join's O(n²) pairs — the former plan measured 27× for
    * 10× data; this one is the aggregate-to-domain shape. The oracle still
    * enumerates pairs in DuckDB (fine at oracle scale), so the hash pins
    * the sweep-line algebra exactly.
    */
  private def q120_interval_overlap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iv = Tables.events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
    val events = iv.select(col("day"), col("lo").as("t"), lit(0).as("kind"), col("user_id"))
      .unionAll(iv.select(col("day"), col("hi").as("t"), lit(1).as("kind"), col("user_id")))
    // (t, kind, user) is unique per day: the running sums' peer groups are
    // single rows, so the default RANGE frame is exact
    val w = Window.partitionBy(col("day")).orderBy(col("t"), col("kind"), col("user_id"))
    events
      .withColumn("starts_so_far", sum(when(col("kind") === 0, 1L).otherwise(0L)).over(w))
      .withColumn("ends_before", sum(when(col("kind") === 1, 1L).otherwise(0L)).over(w))
      .filter(col("kind") === 0)
      .select(col("day"), (col("starts_so_far") - 1L - col("ends_before")).as("p"))
      .groupBy(col("day"))
      .agg(sum(col("p")).as("n_overlapping_pairs"))
  }

  /** explode_outer — generator with LEFT-JOIN semantics: documents too short
    * to shingle (under 3 tokens) survive as a null-shingle row instead of
    * vanishing (q55's plain explode drops them) — the difference between
    * "no shingles" and "document lost" in a corpus audit.
    */
  private def q121_explode_outer(s: SparkSession, dir: String): DataFrame =
    par(s, Tables.documents(s, dir))
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("sh", TextOps.shinglesFromTokens(col("toks"), 3))
      .select(col("doc_id"), explode_outer(col("sh")).as("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(col("shingle")).as("n_shingles"),
        sum(when(col("shingle").isNull, 1L).otherwise(0L)).as("n_null_rows"))

  /** GAPS-AND-ISLANDS over an integer key space (the okey − row_number
    * grouping trick): contiguous runs of present orderkeys collapse to
    * (island_start, island_end, n_keys) ranges — the completeness audit
    * that finds what a feed DROPPED, in one window pass + one aggregate
    * (never a self-join against the expected range). The unpartitioned
    * window is a single reducer over the DISTINCT KEYS (not the fact rows);
    * at key counts where even that breaks, shard with repartitionByRange
    * (contiguity-preserving) and stitch islands that touch shard edges —
    * documented here, not needed at any tested scale.
    */
  private def q122_islands(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("okey"))
    Tables.orders(s, dir).select(col("o_orderkey").as("okey")).distinct()
      .withColumn("grp", col("okey") - row_number().over(w))
      .groupBy(col("grp"))
      .agg(min(col("okey")).as("island_start"), max(col("okey")).as("island_end"),
        count(lit(1)).as("n_keys"))
      .drop("grp")
  }

  /** RATIO-TO-REPORT (percent of total): each priority's revenue share via
    * an unpartitioned whole-table window over the aggregated groups —
    * O(groups) rows through the final window, exact decimal sums underneath,
    * one mirrored division at the end.
    */
  private def q123_ratio_to_report(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .withColumn("revenue", col("rev").cast("double"))
      .withColumn("share", col("rev").cast("double") / sum(col("rev")).over(w).cast("double"))
      .drop("rev")
  }

  /** CUMULATIVE DISTINCT users by day — windowed COUNT(DISTINCT) doesn't
    * exist in any engine's window frame, so the scalable form is the
    * first-seen trick: mark each user's first day (row_number = 1), count
    * first-seens per day, running-sum over days. Two narrow shuffles
    * (user, then day) instead of a quadratic distinct-per-prefix.
    */
  private def q124_cumulative_users(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstDay = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_new_users"))
    val allDays = Tables.events(s, dir)
      .select(to_date(col("ts")).as("day")).distinct()
    val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    allDays.join(firstDay, Seq("day"), "left")
      .withColumn("n_new_users", coalesce(col("n_new_users"), lit(0L)))
      .withColumn("n_users_cum", sum(col("n_new_users")).over(w))
  }

  /** IN-SESSION funnel (q49's sessionizer composed with q111's funnel):
    * conversion measured WITHIN a 30-minute session — a purchase only
    * counts if it follows the session's first click — the attribution
    * granularity BI actually asks for. Per-event session assignment
    * (Sessionize.batchAssign) + one whole-session window + one summary row.
    */
  private def q125_session_funnel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = graft.streaming.Sessionize.batchAssign(
      Tables.events(s, dir), "user_id", "ts", gapMinutes = 30, tiebreak = Seq(col("event_id")))
    val w = Window.partitionBy(col("user_id"), col("session_idx"))
    val sess = assigned
      .withColumn("c_first", min(when(col("event_type") === "click", col("ts"))).over(w))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(max(col("c_first")).as("c_ts"),
        max(when(col("event_type") === "purchase" && col("ts") >= col("c_first"), 1L)
          .otherwise(0L)).as("converted"))
    sess.agg(count(lit(1)).as("n_sessions"),
      sum(when(col("c_ts").isNotNull, 1L).otherwise(0L)).as("n_with_click"),
      sum(col("converted")).as("n_converted"))
  }

  /** EQUI-DEPTH deciles per group (`ntile(10)` under a total order):
    * decile boundaries + populations — the histogram form that adapts to
    * the distribution, complementing q119's value-at-rank and q58's
    * interpolated percentiles. Partitioned by returnflag so the sort is
    * per-group, not a single global reducer.
    */
  private def q126_deciles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("returnflag"))
      .orderBy(col("qty").asc, col("l_orderkey").asc, col("line_no").asc)
    Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("returnflag"), col("l_orderkey"),
        col("l_linenumber").cast("long").as("line_no"),
        col("l_quantity").cast("long").as("qty"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("returnflag"), col("decile"))
      .agg(min(col("qty")).as("lo_qty"), max(col("qty")).as("hi_qty"),
        count(lit(1)).as("n_rows"))
  }

  /** WEIGHTED deterministic sampling: keep probability proportional to a
    * per-row weight (here document length — the "sample long documents
    * more" mixing knob): keep iff h16(key) · max_weight < 65536 · weight,
    * ALL integer arithmetic with h16 a Knuth multiplicative hash — md5 hex
    * has no portable hex→int across engines, whereas exact BIGINT
    * multiply/mod is identical everywhere. Same reproducibility contract
    * as q83; the global max is a 1-row aggregate broadcast back onto the
    * scan (an empty-partition global window would shuffle EVERY row to one
    * task just to compute a scalar — the PlanAudit anti-pattern), so the
    * filter still pipelines in the scan stage.
    */
  private def q127_weighted_sample(s: SparkSession, dir: String): DataFrame = {
    val h16 = (col("doc_id") * 2654435761L) % 65536L
    val docs = par(s, Tables.documents(s, dir))
    docs.crossJoin(broadcast(docs.agg(max(col("n_chars")).as("max_chars"))))
      .filter(h16 * col("max_chars") < lit(65536L) * col("n_chars"))
      .select(col("doc_id"), col("n_chars"))
  }

  /** BALANCED per-group subset (equal allocation): at most N=50 documents
    * per language, chosen by hash order — deterministic, and unbiased
    * within each group because the md5 order is unrelated to any document
    * property. The eval-set construction op; the per-group WindowGroupLimit
    * keeps the shuffle at O(groups·N).
    */
  private def q128_balanced_sample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")).asc, col("doc_id").asc)
    Tables.documents(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 50)
      .select(col("lang"), col("rn").cast("long").as("rn"), col("doc_id"))
  }

  /** GROUPED top-N: the 20 most frequent tokens PER LANGUAGE (q90's global
    * vocab, grouped) — window rank over aggregated counts, so the group
    * limit prunes map-side over O(lang × vocab) count rows, never raw
    * tokens.
    */
  private def q129_vocab_by_lang(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = par(s, Tables.documents(s, dir))
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("token").asc)
    counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 20)
      .select(col("lang"), col("rnk").cast("long").as("rnk"), col("token"), col("n"))
  }

  /** Top BIGRAM collocations with a total-order tie-break — the phrase-table
    * seed (and the corpus-level view of q81's per-doc repetition): explode
    * the bigram stream, partial-agg count, TakeOrderedAndProject the top 50.
    */
  private def q130_bigram_top(s: SparkSession, dir: String): DataFrame =
    par(s, Tables.documents(s, dir))
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(explode(TextOps.bigramsFromTokens(col("toks"))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(50)

  /** CORPUS COMPOSITION report: per (source, lang) — document count, token
    * mass, exact mean length — the data-mixing dashboard that decides
    * sampling weights (q127). One scan, one narrow shuffle on the tiny
    * (source, lang) key space.
    */
  private def q131_corpus_composition(s: SparkSession, dir: String): DataFrame =
    par(s, Tables.documents(s, dir))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text"))).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .withColumn("mean_chars", col("n_chars").cast("double") / col("n_docs").cast("double"))

  /** SPLIT-BALANCE audit: quality-bucket × split crosstab (q114's labels ×
    * q32's buckets) — checks the held-out splits are compositionally
    * representative, the thing hash splitting promises and this query
    * actually measures.
    */
  private def q132_split_balance(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        RelOps.hashSplit(col("doc_id"),
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))).as("split"),
        TextOps.qualityBucket(col("text")).as("quality"))
      .groupBy(col("split"), col("quality"))
      .agg(count(lit(1)).as("n_docs"))

  /** DECONTAMINATION — the eval-leak guard every training pipeline needs:
    * flag training documents sharing word 5-grams with a held-out benchmark
    * set (here: doc_id % 10 == 0). The benchmark's distinct gram set is
    * small by construction (benchmarks are), so it BROADCASTS — the training
    * corpus is scanned once and never shuffles for the membership probe;
    * only the (sparse) per-doc hit counts aggregate.
    */
  private def q133_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val grams = par(s, Tables.documents(s, dir))
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"),
        explode(array_distinct(TextOps.shinglesFromTokens(col("toks"), 5))).as("gram"))
    val benchGrams = grams.filter(col("doc_id") % 10 === 0).select("gram").distinct()
    val train = grams.filter(col("doc_id") % 10 =!= 0)
    val hits = train.join(broadcast(benchGrams), Seq("gram"), "inner")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    train.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_hits"), lit(0L)) * 2 >= col("n_grams"), "contaminated")
          .otherwise("clean").as("status"))
  }

  /** TIME-RANGE rolling window — per-user trailing-7-day event count and
    * value sum (RANGE frame over event-time µs, peer-inclusive so ties are
    * deterministic in any engine). One shuffle on user_id; the frame is
    * evaluated in a single sorted pass per partition. Money discipline:
    * per-value DECIMAL cast → exact windowed sum → one final double.
    */
  private def q134_rolling_window(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sevenDaysUs = 7L * 86400L * 1000000L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"))
      .rangeBetween(-(sevenDaysUs - 1), Window.currentRow)
    Tables.events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("roll_cnt", count(lit(1)).over(w).cast("long"))
      .withColumn("roll_sum",
        sum(col("value").cast(DecimalType(18, 4))).over(w).cast("double"))
      .select(col("event_id"), col("user_id"), col("roll_cnt"), col("roll_sum"))
  }

  /** SOURCE-OVERLAP matrix — pairwise vocabulary Jaccard between corpus
    * sources, the data-mixing diagnostic that says which snapshots are
    * near-copies before any row-level dedup runs. The corpus collapses to
    * distinct (source, token) rows FIRST — O(sources × vocab), not O(corpus)
    * — so the pairwise join touches vocabularies, never documents. Exact
    * integer intersections; one final IEEE division.
    */
  private def q135_source_overlap(s: SparkSession, dir: String): DataFrame = {
    val st = par(s, Tables.documents(s, dir))
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
      .distinct()
    val sizes = st.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = st.as("a").join(st.as("b"),
        col("a.token") === col("b.token") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("inter"))
    val pairs = sizes.as("sa").select(col("source").as("source_a"), col("n").as("n_a"))
      .crossJoin(sizes.as("sb").select(col("source").as("source_b"), col("n").as("n_b")))
      .filter(col("source_a") < col("source_b"))
    pairs.join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("inter"), lit(0L)).as("inter"),
        (col("n_a") + col("n_b") - coalesce(col("inter"), lit(0L))).as("uni"),
        (coalesce(col("inter"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("inter"), lit(0L))).cast("double")).as("jaccard"))
  }

  /** EQUI-WIDTH HISTOGRAM of a money column — 20 bins over exact cents.
    * The (min, max) support is a 1-row broadcast back onto the scan; bin
    * assignment is pure integer arithmetic (`div`), so the histogram is
    * bit-identical in any engine. Two scans of one column beat a shuffle of
    * the table, and at 100 TB the second scan prunes to that column alone.
    */
  private def q136_histogram(s: SparkSession, dir: String): DataFrame = {
    val cents = Tables.lineitem(s, dir)
      .select((col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    val support = cents.agg(min("cents").as("lo"), max("cents").as("hi"))
    cents.crossJoin(broadcast(support))
      .select(expr("(cents - lo) * 20 div (hi - lo + 1)").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
  }

  /** SEMANTIC DEDUP, end to end: embedding-cosine near-dup pairs (q41's
    * exact threshold) → connected components → keep the minimum vec_id per
    * cluster. Output is the per-vector verdict (cluster root + keep flag) —
    * the row-level filter a dedup stage applies. Singletons keep themselves;
    * the iterative CC only ever shuffles the (sparse) edge list.
    */
  private def q137_semantic_dedup(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Clusters
    val vecs = par(s, Tables.embeddings(s, dir))
    val pairs = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", thresh = 0.45)
    Clusters.connectedComponents(vecs, "vec_id", pairs, "id_a", "id_b")
      .select(col("vec_id"), col("cluster_id"),
        when(col("vec_id") === col("cluster_id"), lit("keep")).otherwise(lit("drop")).as("verdict"))
  }

  /** q137's WIRED SCALE FORM — the composed semantic-dedup pipeline with the
    * auto-planned pair generator (q161's — LSH banding when geometry
    * separates, the exact blocked kernel here) instead of the O(n²) theta
    * join: pairs → connected components → keep min-id per cluster. Same
    * oracle as q137 (an exact or recall-1 pair set ⇒ identical edge set ⇒
    * identical components); the brute q137 is retired to oracle-duty. */
  private def q162_semantic_dedup_banded(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Clusters
    val vecs = par(s, Tables.embeddings(s, dir))
    val pairs = Similarity.cosineNearDupPairsBanded(vecs, "vec_id", "embedding", thresh = 0.45,
      knownCount = Tables.rowCount(s, dir, "embeddings"))
    Clusters.connectedComponents(vecs, "vec_id", pairs, "id_a", "id_b")
      .select(col("vec_id"), col("cluster_id"),
        when(col("vec_id") === col("cluster_id"), lit("keep")).otherwise(lit("drop")).as("verdict"))
  }

  /** BLOOM-PREFILTERED SEMI JOIN — large probe ⋉ filtered build. One pass
    * over the build side folds its keys into a broadcast bloom; the probe is
    * thinned *before* its shuffle by the codegen'd `might_contain`, and the
    * exact semi join afterwards removes false positives, so the result is
    * identical to a plain `IN` subquery. At 100 TB the bloom (a few MB) stands
    * in for shuffling the ~¾ of lineitem that can't match an URGENT order.
    */
  private def q138_bloom_semi(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.BloomPrefilter
    val li = Tables.lineitem(s, dir)
    val urgent = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
    BloomPrefilter.semiJoin(li, "l_orderkey", urgent, "o_orderkey",
        expectedKeys = 1 << 18, fpp = 0.01)
      .select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("line_no"),
        col("l_quantity").cast("long").as("qty"))
  }

  /** TF-IDF TERM IMPORTANCE — top-3 terms per document. One tokenize pass
    * feeds both term frequency (per doc) and document frequency (per term);
    * the score is integer-scaled `tf·1e6 ÷ df` so ranking is bit-identical in
    * any engine (no float log). The df side is a token-level aggregate — tiny
    * next to the corpus — and comes back as a broadcast join; the final top-k
    * is a per-doc window (WindowGroupLimit prunes it before the sort at
    * scale).
    */
  private def q139_tfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = par(s, Tables.documents(s, dir))
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tok.distinct().groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token").asc)
    tf.join(broadcast(df), "token")
      .withColumn("score", expr("tf * 1000000 div df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("score"), col("rank").cast("long").as("rank"))
  }

  /** RECORD LINKAGE — blocked fuzzy entity matching, the EXHAUSTIVE
    * correctness baseline of the linkage family (dedup.Linkage doc): exact
    * all-pairs inside each nation block, additive match score from cheap
    * exact predicates plus an edit-distance test. All components are
    * integers (money compared in exact DECIMAL cents), so the score is
    * engine-portable. The self-join is SALTED through Linkage.blockedPairs
    * (the q46 skew pattern — task size bounded by block²/fanout, no
    * single-partition hot block), but pair VOLUME is Σ block² by
    * definition: score ≥ 4 requires name_pts = 3, i.e. edit distance ≤ 3,
    * and with this corpus's 9-char shared name prefix no signature scheme
    * (PassJoin-style segment filters) can thin candidates — so the
    * operator is retired from the headline bench to oracle/differential
    * duty, exactly like the N² similarity twins; the DEFAULT linkage shape
    * a deployment runs is the sorted-neighborhood q174/q177 (O(n·w)).
    */
  private def q140_record_linkage(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(
      col("c_custkey").as("id"), col("c_name").as("name"),
      col("c_nationkey").cast("long").as("nation"),
      (col("c_acctbal").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"),
      col("c_mktsegment").as("segment"))
    // The edit-distance test runs once per candidate pair — graft's
    // codegen'd bounded_levenshtein (prefix/suffix trim + banded DP,
    // StringExprs) keeps it off the flame graph; Spark's builtin 3-arg
    // levenshtein measured ~1.4µs/call here (~6s of the query at sf0.1).
    val trimmedLev = graft.functions.StringExprs.bounded_levenshtein(
      col("a.name"), col("b.name"), 3)
    graft.dedup.Linkage.blockedPairs(c, "nation", "id", saltFanout = 8)
      .select(
        col("block").as("nation"),
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        when(trimmedLev >= 0, lit(3L)).otherwise(lit(0L)).as("name_pts"),
        when(col("a.segment") === col("b.segment"), lit(2L)).otherwise(lit(0L)).as("seg_pts"),
        when(abs(col("a.cents") - col("b.cents")) <= 10000L, lit(1L)).otherwise(lit(0L)).as("bal_pts"))
      .withColumn("score", col("name_pts") + col("seg_pts") + col("bal_pts"))
      .filter(col("score") >= 4)
  }

  /** Z-ORDER CLUSTERING KEY — bit-interleave two dimensions into one sort
    * key, then range-bucket on it. Each z-bucket covers a bounded rectangle
    * in (custkey, orderday) space — the min/max output *is* the data-skipping
    * index a z-ordered write layout gives a lake: a scan filtered on either
    * dimension prunes most buckets. The interleave is pure integer bit
    * arithmetic (codegen'd, no shuffle); bucketing is fixed-width on z, so
    * the whole layout computation is embarrassingly parallel — no global
    * sort, unlike ntile.
    */
  private def q141_zorder(s: SparkSession, dir: String): DataFrame = {
    val bits = 10
    val x = "(o_custkey % 1024)"
    val y = "(datediff(o_orderdate, date'1970-01-01') % 1024)"
    val z = (0 until bits).map { i =>
      s"((($x >> $i) & 1) * ${1L << (2 * i)}) + ((($y >> $i) & 1) * ${1L << (2 * i + 1)})"
    }.mkString(" + ")
    Tables.orders(s, dir)
      .select(expr(x).cast("long").as("x"), expr(y).cast("long").as("y"),
        expr(z).cast("long").as("z"))
      .groupBy(expr(s"z * 16 div ${1L << (2 * bits)}").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min("x").as("x_lo"), max("x").as("x_hi"),
        min("y").as("y_lo"), max("y").as("y_hi"))
  }

  /** INT8 SCALAR QUANTIZATION of embeddings — the memory-side half of a
    * vector index: per-dimension (min,max) support over the corpus, then each
    * float maps to ⌊(v−lo)·255/(hi−lo)⌋. The per-dim stats table is ~dims
    * rows — broadcast back over the exploded corpus — and every arithmetic
    * step is IEEE-deterministic double math, so codes are bit-identical
    * across engines. Output is per-vector code stats (scalar-only contract).
    * At 100 TB this shrinks a float32 index 4× with one extra scan.
    */
  private def q142_quantize(s: SparkSession, dir: String): DataFrame = {
    val dims = par(s, Tables.embeddings(s, dir))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("v").cast("double").as("v"))
    val support = dims.groupBy("dim").agg(min("v").as("lo"), max("v").as("hi"))
    dims.join(broadcast(support), "dim")
      .select(col("vec_id"),
        least(floor((col("v") - col("lo")) * 255d / (col("hi") - col("lo"))), lit(255d))
          .cast("long").as("code"))
      .groupBy("vec_id")
      .agg(sum("code").as("code_sum"), min("code").as("code_min"),
        max("code").as("code_max"), count(lit(1)).as("n_dims"))
  }

  /** TOKENIZER VOCAB COVERAGE — per-document out-of-vocabulary rate against
    * the corpus top-200 vocabulary (q90's deterministic tie-break). The vocab
    * is a token-level aggregate (tiny) broadcast back over the token stream;
    * the rate is integer per-mille so the comparison never sees a float. The
    * training-data use: route high-OOV documents to tokenizer retraining or
    * drop them before they waste context window.
    */
  private def q143_vocab_coverage(s: SparkSession, dir: String): DataFrame = {
    val tok = par(s, Tables.documents(s, dir))
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(200).select("token")
    tok.join(broadcast(vocab).withColumn("in_vocab", lit(1L)), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(coalesce(col("in_vocab"), lit(0L))).as("n_in"))
      .withColumn("oov_permille", expr("(n_tok - n_in) * 1000 div n_tok"))
  }

  /** ARBITRARY STATEFUL STREAMING (Spark 4 `transformWithState`): running
    * per-user (count, exact-cents sum) kept in RocksDB-backed ValueState,
    * drained with AvailableNow. The batch groupBy is the oracle — the
    * stateful stream must converge to exactly the batch answer. See
    * [[graft.streaming.Stateful]] for the processor.
    */
  private def q144_stateful_stream(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsRawSchema(Tables.eventsRawTsType(s, dir))
    graft.streaming.Stateful.runningUserAggOverParquet(
      s, s"$dir/events.parq*", raw,
      centsExpr = "cast(cast(value as decimal(18,4)) * 10000 as long)",
      name = s"q144_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}")
  }

  /** CROSS-DOCUMENT CHUNK DEDUP — the paragraph-dedup analog for a corpus
    * whose texts have no paragraph marks: each document is cut into
    * non-overlapping 10-token chunks, and a chunk-level aggregate counts how
    * many distinct documents share each chunk. The per-doc output (total
    * chunks, shared chunks, per-mille) is the signal a pipeline uses to strip
    * boilerplate that exact whole-doc dedup (q34) can't see. The join key at
    * scale would be the chunk's 128-bit hash; joining on the text itself is
    * the same result and keeps the oracle trivially portable.
    */
  private def q145_chunk_dedup(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val chunks = par(s, Tables.documents(s, dir))
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 10) // guards sequence(0, -1), which DESCENDS
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, int(size(toks) div 10) - 1)," +
          " i -> array_join(slice(toks, i*10+1, 10), ' '))")).as("chunk"))
    val shared = chunks.groupBy("chunk")
      .agg(countDistinct(col("doc_id")).as("nd"))
    chunks.join(shared, "chunk")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_permille", expr("n_dup * 1000 div n_chunks"))
  }

  /** PAGERANK (2 unrolled iterations, integer micro-units) over the
    * customer→supplier purchase graph. Rank mass moves along distinct
    * (customer, supplier) edges; each hop is contribution = rank ÷ out-degree
    * (integer), then rank' = 0.15 + 0.85·Σ in integer micro-units — so every
    * iteration is a join + aggregate with *no float anywhere*, and the result
    * is bit-identical in any engine. Dangling mass (suppliers are sinks) is
    * deliberately dropped — documented simplification, deterministic. The
    * Spark shape is the scale shape: edges partition by src for the
    * contribution join, by dst for the sum; ranks are the only small side.
    */
  private def q146_pagerank(s: SparkSession, dir: String): DataFrame =
    pagerankCore(s, dir, dangling = false)

  /** Shared PageRank core on TAGGED-LONG vertex ids: customer c → 2c,
    * supplier s → 2s+1. Every per-iteration shuffle (contribution join,
    * in-sum aggregate) keys on a fixed 8-byte long instead of a
    * variable-width concat string — half the shuffle width and a radix-
    * sortable key (r3 nit); the display string is reconstituted only in the
    * final projection, once per node. `dangling=true` adds the textbook
    * dangling-mass redistribution: sink nodes (suppliers — no out-edges)
    * leak their rank in the simplified form; the textbook form re-injects
    * each iteration's sink mass as an equal integer share `dm div N`, so
    * total mass is conserved up to integer-division remainders. dm and N
    * are 1-row aggregates broadcast back onto the rank update — O(1) extra
    * data moved, two extra tiny jobs per iteration, still float-free and
    * bit-identical in any engine.
    */
  private def pagerankCore(s: SparkSession, dir: String, dangling: Boolean): DataFrame = {
    val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
    // lazy localCheckpoints: edges is referenced by deg/nodes/both steps
    // (and nodes by every step's left join) — without the cut the
    // li ⋈ orders + distinct subtree re-executes per reference, and the
    // dangling step references the previous rank twice (contrib + sink
    // mass), squaring the replay across step(step(r0))
    val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("src"),
        (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
      .distinct()
      .localCheckpoint(false)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val nNodes = nodes.agg(count(lit(1)).as("n_nodes"))
    def step(rank: DataFrame): DataFrame = {
      val contrib = edges.join(rank, edges("src") === rank("node"))
        .join(deg, "src")
        .select(col("dst"), expr("r div deg").as("c"))
      val insum = contrib.groupBy("dst").agg(sum("c").as("insum"))
      val base = nodes.join(insum, nodes("node") === insum("dst"), "left")
      if (!dangling)
        base.select(col("node"),
          (lit(150000L) + expr("85 * coalesce(insum, 0L) div 100")).as("r"))
      else {
        val dm = rank.join(deg, rank("node") === deg("src"), "left_anti")
          .agg(coalesce(sum("r"), lit(0L)).as("dm"))
        base.crossJoin(broadcast(dm)).crossJoin(broadcast(nNodes))
          .select(col("node"),
            (lit(150000L) + expr("85 * (coalesce(insum, 0L) + dm div n_nodes) div 100")).as("r"))
      }
    }
    val r0 = nodes.select(col("node"), lit(1000000L).as("r"))
    step(step(r0).localCheckpoint(false)).select(
      when(col("node") % 2 === 0, concat(lit("c"), expr("node div 2")))
        .otherwise(concat(lit("s"), expr("(node - 1) div 2"))).as("node"),
      col("r").as("rank_ppm"))
  }

  /** Textbook-PageRank variant of q146: same tagged-long core with
    * dangling-mass redistribution enabled (q146 deliberately drops sink
    * mass as a documented simplification; this is the standard-formulation
    * twin, oracle-checked). */
  private def q164_pagerank_dangling(s: SparkSession, dir: String): DataFrame =
    pagerankCore(s, dir, dangling = true)

  /** VERSIONED-TABLE TIME TRAVEL end-to-end (io.Versioned): commit the even
    * orders as v1, append the odd orders as v2, then read BOTH snapshots —
    * v1 via time travel after v2 landed, latest via the pinned manifest.
    * The oracle recomputes each snapshot's aggregate straight from `orders`,
    * so a manifest bug (dropped file, leaked file, torn append) breaks the
    * hash. Money stays exact DECIMAL cents. */
  private def q165_versioned_timetravel(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val vt = new Versioned(s, java.nio.file.Files.createTempDirectory("graft_vt").toString)
    val o = Tables.orders(s, dir)
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
    vt.commit("orders_v", o.filter(col("o_orderkey") % 2 === 0))
    vt.commitAppend("orders_v", o.filter(col("o_orderkey") % 2 =!= 0))
    def snap(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"), sum(cents).as("sum_cents"))
        .select(lit(name).as("snapshot"), col("n_rows"), col("sum_cents"))
    snap(vt.readVersion("orders_v", 1L), "v1")
      .unionAll(snap(vt.read("orders_v"), "latest"))
  }

  /** REAL IMAGE DECODE, oracle-proven: genuine binary-PPM payloads whose
    * pixels are a closed-form function of doc_id; the engine DECODES the
    * bytes (header grammar, raster stride) and emits exact per-channel
    * sums, while DuckDB recomputes the same sums from the closed form
    * without ever seeing a byte — only a correct decoder can match. */
  private def q166_image_decode(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.syntheticPpmFromIds(par(s, Tables.documents(s, dir)), "doc_id")
    Multimodal.imageChannelStats(media)
      .select(col("media_id").as("doc_id"), col("n_pixels"),
        col("sum_r"), col("sum_g"), col("sum_b"))
  }

  /** REAL AUDIO DECODE, oracle-proven: genuine RIFF/WAV PCM16 payloads
    * (chunked header, little-endian samples); engine decodes and emits
    * exact (n, Σs², zero crossings); same closed-form oracle idea as q166. */
  private def q167_audio_decode(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.syntheticWavFromIds(par(s, Tables.documents(s, dir)), "doc_id")
    Multimodal.audioStats(media)
      .select(col("media_id").as("doc_id"), col("n_samples"),
        col("sum_sq"), col("zero_crossings"))
  }

  /** REAL PNG DECODE, oracle-proven (r4 "Next round" #6): genuine PNG
    * payloads — zlib-compressed scanlines (JDK Inflater, no native lib),
    * a DIFFERENT filter type on every row (None/Sub/Up/Average/Paeth
    * cycling), CRC-verified chunks — holding the SAME closed-form pixel
    * oracle as q166: DuckDB recomputes the channel sums from the closed
    * form without ever seeing a byte, so only a correct inflate + filter
    * inversion matches. Shrinks the multimodal stub surface to the
    * genuinely-native formats (JPEG/H.264). */
  private def q183_png_decode(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.syntheticPngFromIds(par(s, Tables.documents(s, dir)), "doc_id")
    Multimodal.imageChannelStats(media)
      .select(col("media_id").as("doc_id"), col("n_pixels"),
        col("sum_r"), col("sum_g"), col("sum_b"))
  }

  /** REAL BASELINE-JPEG DECODE, oracle-proven: genuine sequential-DCT JPEG
    * payloads (marker segments, canonical Huffman entropy coding with byte
    * stuffing, zigzag, dequant, IDCT — multimodal.Jpeg, pure JVM, no
    * javax.imageio). JPEG is lossy, but each synthetic image is four
    * UNIFORM 8×8 blocks, and a uniform block survives the pipeline
    * bit-exactly (DC-only spectrum; DC = 8·(v−128) integer; IDCT divides
    * by 8 — exact in binary floating point), so DuckDB recomputes the
    * channel sums from the closed form without seeing a byte. The AC /
    * full-DCT path is bounded by JpegSpec round-trips. With q166 (PPM),
    * q183 (PNG) and q167 (WAV), the multimodal stub now covers video only. */
  private def q184_jpeg_decode(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.syntheticJpegFromIds(par(s, Tables.documents(s, dir)), "doc_id")
    Multimodal.imageChannelStats(media)
      .select(col("media_id").as("doc_id"), col("n_pixels"),
        col("sum_r"), col("sum_g"), col("sum_b"))
  }

  /** REAL ANIMATED-GIF FRAME SAMPLING, oracle-proven: genuine GIF89a
    * payloads — variable-width LZW, all frames INTERLACED, graphic-control
    * delays, looping application extension (multimodal.Gif, pure JVM) —
    * decoded into per-frame statistics: presentation timestamp accumulated
    * from GCE delays plus channel sums and a POSITION-WEIGHTED red sum.
    * Plain sums are row-permutation-invariant, so the weighted sum is what
    * makes the four-pass deinterlace oracle-visible; the timestamps make
    * the frame-timing decode (the video frame-sample semantics) checkable
    * too. DuckDB recomputes everything from the closed forms without
    * seeing a byte. With q166/q183/q184/q167, the codec stub now covers
    * only native-library video (H.264). */
  private def q185_gif_frames(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.syntheticGifFromIds(par(s, Tables.documents(s, dir)), "doc_id")
    Multimodal.gifFrameStats(media)
      .select(col("media_id").as("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("frame_ts_ms"), col("n_pixels"),
        col("sum_r"), col("sum_g"), col("sum_b"), col("wsum_r"))
  }

  /** REAL VIDEO DECODE, oracle-proven: genuine MJPEG AVI payloads — RIFF
    * chunk tree, `hdrl`/`strl` headers, `movi` frame chunks, `idx1` index
    * (multimodal.Avi) — where every frame is a baseline JPEG decoded by
    * multimodal.Jpeg. Frame pixels use q184's uniform-8×8-block exactness
    * contract so the lossy per-frame codec still has a closed form, and
    * frame TIMESTAMPS come from the stream header's scale/rate rational
    * (rates divide 1000 ⇒ exact integer ms), so DuckDB recomputes
    * per-frame position-weighted channel sums AND presentation times
    * without seeing a byte. The multimodal stub is now only
    * inter-frame-compressed video (H.264). */
  private def q187_video_frames(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    // fixture (the synthetic AVI payloads) materialized once per JVM — the
    // timed path is the operator under test: parquet scan + RIFF walk +
    // per-frame baseline-JPEG decode (see cachedFixture)
    val media = cachedFixture(s, s"avi:$dir",
      Multimodal.syntheticAviFromIds(par(s, Tables.documents(s, dir)), "doc_id"))
    Multimodal.videoFrameStats(media)
      .select(col("media_id").as("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("frame_ts_ms"), col("n_pixels"),
        col("sum_r"), col("sum_g"), col("sum_b"), col("wsum_r"))
  }

  /** VERSIONED ROW-LEVEL CHANGE FEED end-to-end (io.Versioned
    * .changesBetween): commit a snapshot, upsert through mergeByKey
    * (updates bump every ≡0 mod 3 key's cents by 7; inserts add a negative
    * twin for every ≡0 mod 5 key), then diff v1→v2 by KEY. The snapshot
    * diff classifies insert/update and — crucially — does NOT deliver the
    * rows mergeByKey rewrote into new files unchanged (the over-delivery
    * readDelta must refuse across a merge boundary; q176's strict check is
    * the refusal, this is the fix). The oracle recomputes the exact change
    * set from the key arithmetic; a spurious row from any rewritten file
    * breaks the hash. */
  private def q189_versioned_changes(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val vt = new Versioned(s, java.nio.file.Files.createTempDirectory("graft_cdc").toString)
    val base = Tables.orders(s, dir).select(col("o_orderkey"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    vt.commit("orders_cdc", base) // v1
    val updates = base.filter(col("o_orderkey") % 3 === 0)
      .withColumn("cents", col("cents") + 7)
    val inserts = base.filter(col("o_orderkey") % 5 === 0)
      .select((-col("o_orderkey") - 1).as("o_orderkey"), col("cents"))
    vt.mergeByKey("orders_cdc", updates.unionByName(inserts), "o_orderkey") // v2
    vt.changesBetween("orders_cdc", 1L, 2L, "o_orderkey")
      .select(col("o_orderkey"), col("change_type"), col("cents"))
  }

  /** VERSIONED POINT LOOKUP with parquet-BLOOM file skipping end-to-end:
    * commit orders hash-distributed over 8 files (every file spans the full
    * key range, so the manifest min/max prune keeps all 8 — the regime
    * where range stats are useless), then readPoint the min and max keys.
    * Stage wrote parquet bloom pages for the key column; readPoint consults
    * them footer-only and opens ~1 file per probe instead of 8 (no false
    * negatives, so results stay exact — VersionedSpec pins the actual file
    * counts; this query pins the end-to-end result). */
  private def q191_versioned_point(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val vt = new Versioned(s, java.nio.file.Files.createTempDirectory("graft_pt").toString)
    val base = Tables.orders(s, dir).select(col("o_orderkey"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .repartition(8)
    vt.commit("orders_pt", base, statsCol = Some("o_orderkey"))
    val bounds = base.agg(min("o_orderkey"), max("o_orderkey")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    vt.readPoint("orders_pt", "o_orderkey", lo).select(lit("lo").as("probe"), col("o_orderkey"), col("cents"))
      .unionAll(vt.readPoint("orders_pt", "o_orderkey", hi)
        .select(lit("hi").as("probe"), col("o_orderkey"), col("cents")))
  }

  /** UNICODE TEXT CLEANING, oracle-proven cross-engine: synthesize dirty
    * strings with closed-form zero-width pollution (ZWSP × id mod 4, BOM on
    * id mod 5 = 0) and decomposed combining sequences (acute × id mod 3
    * after an 'e'), then clean with TextOps.cleanText — zero-width strip +
    * codegen'd NFC canonical composition (custom Expression; Spark has no
    * normalization builtin and a UDF would break whole-stage codegen).
    * DuckDB recomputes with its own independent UAX #15 implementation
    * (`nfc_normalize`), so the cleaned STRING itself is hash-compared —
    * composition, strip order (a zero-width between base and mark blocks
    * composition), and codepoint counts must all agree exactly. The ingest
    * normalization every dedup pipeline needs: visually identical text
    * becomes byte-identical BEFORE hashing. */
  private def q190_unicode_clean(s: SparkSession, dir: String): DataFrame = {
    val zwsp = "\u200B"; val acute = "\u0301"; val bom = "\uFEFF"
    val dirty = concat(lit("ab"),
      expr(s"repeat('$zwsp', cast(doc_id % 4 as int))"),
      lit("e"),
      expr(s"repeat('$acute', cast(doc_id % 3 as int))"),
      lit("c"),
      when(col("doc_id") % 5 === 0, lit(bom)).otherwise(lit("")))
    par(s, Tables.documents(s, dir))
      .select(col("doc_id"), dirty.as("dirty"))
      .select(col("doc_id"),
        length(col("dirty")).cast("long").as("chars_before"),
        TextOps.cleanText(col("dirty")).as("clean"))
      .select(col("doc_id"), col("chars_before"),
        length(col("clean")).cast("long").as("chars_after"), col("clean"))
  }

  /** REAL G.711 COMPANDED-AUDIO DECODE, oracle-proven: genuine RIFF/WAVE
    * payloads with format code 7 (μ-law, even ids) or 6 (A-law, odd ids),
    * one code byte per sample, expanded to linear 16-bit by the public
    * ITU-T G.711 math (multimodal.Codecs). DuckDB recomputes the expansion
    * arithmetically from the closed-form code bytes — complement vs XOR
    * 0x55, segment shifts, the 0x84 μ-law bias, and the two formats'
    * OPPOSITE sign conventions all have to be right for Σ linear and
    * Σ linear² to match. The reported `fmt` name comes from the decoded
    * header, not the generator. */
  private def q188_audio_g711(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.syntheticG711FromIds(par(s, Tables.documents(s, dir)), "doc_id")
    Multimodal.audioLinearStats(media)
      .select(col("media_id").as("doc_id"), col("fmt"),
        col("n_samples"), col("sum_lin"), col("sum_sq"))
  }

  /** CROSS-FORMAT EXACT IMAGE DEDUP, oracle-proven: the same 8×8 picture
    * (pixels a closed form of doc_id mod 41) arrives as binary PPM, PNG, or
    * single-frame GIF depending on doc_id mod 3. The operator digests the
    * DECODED raster (Multimodal.decodedPixelDigest) and clusters on the
    * digest — a byte-level digest would split every pixel cluster three
    * ways and break the oracle's cluster sizes, so the query proves
    * decode-NORMALIZATION across three real containers, the "same image,
    * different encoding" dedup a multimodal training pipeline needs. Only
    * (id, digest) shuffles; the window partitions by digest (≈41 groups ×
    * many rows — no single-partition window). */
  private def q186_image_dedup(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    import org.apache.spark.sql.expressions.Window
    val media = Multimodal.syntheticMixedFormatImages(par(s, Tables.documents(s, dir)), "doc_id")
    val w = Window.partitionBy("pixel_digest")
    Multimodal.decodedPixelDigest(media)
      .select(col("media_id").as("doc_id"),
        min("media_id").over(w).as("cluster_id"),
        count(lit(1)).over(w).as("cluster_size"))
  }

  /** OVERLAPPING-WINDOW SUBSTRING DEDUP — the unaligned complement of q145:
    * a 10-token window at EVERY position (not every 10th), so boilerplate
    * shared at arbitrary offsets is caught (the exact-substring-dedup idea
    * from the public training-data-dedup literature, expressed relationally).
    * Output per doc: window count, windows shared with ≥1 other doc,
    * per-mille. Like q145, the join key at scale would be the window's
    * 128-bit hash; the text key keeps the oracle portable and the counts
    * identical. ~10× q145's row volume by construction (windows ≈ tokens),
    * still one groupBy + one join, both partial-agg friendly. */
  private def q168_window_dedup(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val wins = par(s, Tables.documents(s, dir))
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 10)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 10), i -> array_join(slice(toks, i+1, 10), ' '))")).as("win"))
    val shared = wins.groupBy("win").agg(countDistinct(col("doc_id")).as("nd"))
    wins.join(shared, "win")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_permille", expr("n_shared * 1000 div n_windows"))
  }

  /** EXACTLY-ONCE STREAMING APPEND into a versioned table (VersionedSink):
    * drain the event stream via foreachBatch → Versioned.commitAppendTxn,
    * then REPLAY an already-committed batchId with the full dataset — the
    * manifest's per-appId txn watermark must reject it as a no-op. The
    * oracle is the plain batch aggregate over `events`; if the replay had
    * landed (the at-least-once hole foreachBatch leaves open), every count
    * would double and the hash would break. */
  private def q169_stream_versioned(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsRawSchema(Tables.eventsRawTsType(s, dir))
    val vt = new graft.io.Versioned(
      s, java.nio.file.Files.createTempDirectory("graft_vsink").toString)
    val chk = java.nio.file.Files.createTempDirectory("graft_vsink_chk").toString
    val glob = s"$dir/events.parq*"
    val appId = "q169_ingest"
    graft.streaming.VersionedSink.appendStream(
      s, glob, raw, vt, "events_v", chk, appId = appId)
    // replay batch 0 with the WHOLE dataset — watermark must absorb it
    vt.commitAppendTxn("events_v",
      s.read.schema(raw).parquet(s"$dir/events.parquet"), appId, 0L)
    vt.read("events_v")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
  }

  /** CDC CHANGELOG APPLY (ops.Cdc): base snapshot = even order keys; the
    * changelog inserts the odd keys (seq 1), re-prices every %3 key (seq 2),
    * re-prices %9 keys again (seq 3 — proving LAST-writer-wins, not
    * first), and deletes every %5 key (seq 4). One max_by hash aggregation,
    * no window/sort — the oracle recomputes the surviving row set
    * relationally. */
  private def q170_cdc_apply(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey").as("key"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    def entries(pred: Column, seq: Long, op: String, c: Column): DataFrame =
      o.filter(pred).select(col("key"), lit(seq).as("seq"), lit(op).as("op"), c.as("cents"))
    val log = entries(col("key") % 2 =!= 0, 1L, "I", col("cents"))
      .unionByName(entries(col("key") % 3 === 0, 2L, "U", col("cents") + 7L))
      .unionByName(entries(col("key") % 9 === 0, 3L, "U", col("cents") + 20L))
      .unionByName(entries(col("key") % 5 === 0, 4L, "D", lit(0L)))
    graft.ops.Cdc.applyChangelog(
      o.filter(col("key") % 2 === 0), log, "key", "seq", "op", Seq("cents"))
  }

  /** EXACT TRIANGLE COUNT (graph.Graphs) over the co-purchase graph: parts
    * are vertices, an edge joins two parts appearing in the same order. The
    * degree-ordered orientation keeps wedge volume O(m^1.5) with every step
    * an equi-join (no theta join, nothing O(V) broadcast); the oracle is the
    * canonical a<b<c three-way self-join. */
  private def q171_triangle_count(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val e = li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("src"), col("y.pk").as("dst"))
    graft.graph.Graphs.triangleCount(e)
  }

  /** EXACT HEAVY HITTERS — suppliers carrying > 1/110 of all lineitems:
    * one hash aggregation plus a one-row total cross-joined in as the
    * threshold (integer-arithmetic compare, no float). The relational twin
    * of the q173 sketch. */
  private def q172_heavy_hitters(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val tot = li.agg(count(lit(1)).as("n_total"))
    li.groupBy(col("l_suppkey").cast("long").as("suppkey"))
      .agg(count(lit(1)).as("n_li"))
      .crossJoin(tot)
      .filter(col("n_li") * 110 > col("n_total"))
      .select(col("suppkey"), col("n_li"))
  }

  /** SPACE-SAVING HEAVY HITTERS (sketch.SpaceSaving) — the single-pass
    * bounded-memory form: per-partition summaries merged on one row per
    * partition, O(partitions × capacity) shuffle independent of row count.
    * Emits only keys whose GUARANTEED lower bound clears the threshold; at
    * sf0.01 the supplier cardinality (100) is under the capacity (256), so
    * the sketch never evicts, bounds collapse to exact counts, and the
    * query hash-matches the SAME oracle as the exact q172 — the no-eviction
    * regime is oracle-proven, the eviction regime is bound-tested in
    * SketchSpec. */
  private def q173_spacesaving(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val tot = li.agg(count(lit(1)).as("n_total"))
    val summary = graft.sketch.SpaceSaving.sketch(
      li.select(col("l_suppkey").cast("long")).as[Long], 256)
    summary.toDF("hh").select(explode(col("hh")).as("e"))
      .select(col("e._1").as("suppkey"), col("e._2").as("n_li"), col("e._3").as("lo"))
      .crossJoin(tot)
      .filter(col("lo") * 110 > col("n_total"))
      .select(col("suppkey"), col("n_li"))
  }

  /** SORTED-NEIGHBORHOOD LINKAGE — the DEFAULT linkage shape
    * (dedup.Linkage.neighborhoodPairs; q140's exhaustive blocking is its
    * differential twin): sort each nation block by name, compare each
    * record to its next `w`=3 neighbors only, keep pairs within edit
    * distance 1. lead() inside the block window generates the candidate
    * band — one shuffle (the window's own); candidates are O(n·w), never
    * O(n²); the codegen'd bounded_levenshtein verifies.
    * At scale the block key is the knob (finer blocks, same plan). */
  private def sortedNeighborhoodPairs(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(
      col("c_custkey").as("id"), col("c_nationkey").cast("long").as("nation"),
      col("c_name").as("name"))
    val lev = graft.functions.StringExprs.bounded_levenshtein(
      col("a.name"), col("b.name"), 1)
    graft.dedup.Linkage.neighborhoodPairs(c, "nation", Seq("name", "id"), window = 3)
      .select(col("block").as("nation"), col("a.id").as("id_a"),
        col("b.id").as("id_b"), lev.cast("long").as("dist"))
      .filter(col("dist") >= 0)
  }

  private def q174_sorted_neighborhood(s: SparkSession, dir: String): DataFrame =
    sortedNeighborhoodPairs(s, dir)

  /** END-TO-END ENTITY RESOLUTION to GOLDEN RECORDS — the full composed
    * pipeline every master-data system runs: candidate pairs (q174's
    * sorted-neighborhood band), transitive closure over matches
    * (Clusters.connectedComponents — A~B, B~C ⇒ one entity even when A,C
    * never compared), then ONE golden row per entity: min id as the
    * surviving key, highest-balance member as the attribute donor
    * (max_by struct argmax, one aggregation). Every stage is the scale
    * shape it composes from: banded candidates O(n·w), min-label CC, one
    * hash agg. Oracle: the same closure via a recursive CTE in DuckDB. */
  private def q177_golden_record(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Clusters
    val c = Tables.customer(s, dir).select(
      col("c_custkey").as("id"),
      (col("c_acctbal").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"),
      col("c_mktsegment").as("segment"))
    val pairs = sortedNeighborhoodPairs(s, dir)
    val cc = Clusters.connectedComponents(
      c.select(col("id")), "id", pairs, "id_a", "id_b")
    c.join(cc, "id")
      .groupBy(col("cluster_id").as("entity_id"))
      .agg(count(lit(1)).as("n_members"),
        max_by(struct(col("cents"), col("segment"), col("id")),
          struct(col("cents"), col("id"))).as("donor"))
      .select(col("entity_id"), col("n_members"),
        col("donor.cents").as("golden_cents"), col("donor.segment").as("golden_segment"))
  }

  /** INTERVAL-CONCURRENCY SWEEP LINE — peak simultaneously-open orders per
    * month (each order open [o_orderdate, +30d)). The scale move: ±1 events
    * are AGGREGATED PER DATE FIRST, shrinking the stream from O(orders) to
    * O(distinct dates) — a domain-bounded ~2.5k rows at ANY scale factor —
    * so the subsequent global-order running sum is a legitimate
    * single-partition window over a provably tiny set (the "aggregate to
    * the domain, then window" pattern; a raw global window over orders
    * would be the classic single-task bottleneck). */
  private def q178_concurrency_sweep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
    val deltas = o.select(col("o_orderdate").as("d"), lit(1L).as("delta"))
      .unionAll(o.select(date_add(col("o_orderdate"), 30).as("d"), lit(-1L).as("delta")))
      .groupBy(col("d")).agg(sum(col("delta")).as("net"))
    val running = deltas.withColumn("open",
      sum(col("net")).over(Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    running.groupBy(date_format(col("d"), "yyyy-MM").as("month"))
      .agg(max(col("open")).as("peak_open"))
  }

  /** STREAM–STATIC BROADCAST JOIN — the stateless streaming enrichment
    * shape (every event joined to a static dimension, re-broadcast per
    * micro-batch, nothing buffered): drained events keyed `user_id % 25`
    * against the `nation` dim, then batch-aggregated per dim row. The
    * oracle is the identical batch join — streaming enrichment must not
    * drop, duplicate, or mis-key a single row. */
  private def q179_stream_static(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsRawSchema(Tables.eventsRawTsType(s, dir))
    val dim = Tables.nation(s, dir)
      .select(col("n_nationkey").cast("long").as("nkey"), col("n_name"))
    val enriched = graft.streaming.EventIngest.streamStaticEnrichOverParquet(
      s, s"$dir/events.parq*", raw, dim, "user_id % 25", "nkey",
      Seq("n_name", "event_type"),
      s"q179_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}")
    enriched.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"))
  }

  /** WINSORIZED ROBUST STATISTICS — clamp each group's money values to its
    * own [p05, p95] (rank-based DISCRETE percentiles, q119's exact integer
    * trick) and report the robust mean plus the clamp count. The outlier
    * treatment every metrics pipeline applies before averaging; all math is
    * exact integer (cents, rank arithmetic, integer-div mean) so the oracle
    * hash-matches. Two window passes over the group partition + one join
    * of the O(groups) percentile table back (broadcast). */
  private def q180_winsorize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byVal = Window.partitionBy(col("returnflag")).orderBy(col("cents").asc)
    val grp = Window.partitionBy(col("returnflag"))
    val ranked = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("returnflag"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(byVal))
      .withColumn("n", count(lit(1)).over(grp))
    val pct = ranked.groupBy(col("returnflag"))
      .agg(max(when(col("rn") === expr("(n + 19) div 20"), col("cents"))).as("p05"),
        max(when(col("rn") === expr("(19 * n + 19) div 20"), col("cents"))).as("p95"))
    ranked.join(broadcast(pct), "returnflag")
      .withColumn("w", least(greatest(col("cents"), col("p05")), col("p95")))
      .groupBy(col("returnflag"))
      .agg(max(col("p05")).as("p05"), max(col("p95")).as("p95"),
        expr("sum(w) div count(1)").as("robust_mean_cents"),
        sum(when(col("cents") < col("p05") || col("cents") > col("p95"), 1L)
          .otherwise(0L)).as("n_clamped"),
        count(lit(1)).as("n_rows"))
  }

  /** DETERMINISTIC CORPUS SHUFFLE + SHARDING — the data-loader contract for
    * training: every doc gets a seeded pseudo-random position
    * (md5(doc_id:seed)) and a shard (first hex nibble → 16 shards); the
    * permutation is a pure function of (key, seed), so it is identical
    * across re-runs, partitionings, and engines — which is what makes a
    * training run reproducible. Per shard: size, token mass, and the first
    * three docs in shuffle order (rank-pivoted to columns — deterministic
    * where collect_list is not). */
  private def q181_corpus_shuffle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = md5(concat(col("doc_id").cast("string"), lit(":42")))
    val docs = par(s, Tables.documents(s, dir))
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("toks"),
        key.as("k"))
      .withColumn("shard", substring(col("k"), 1, 1))
    val w = Window.partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
    docs.withColumn("rn", row_number().over(w))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("total_tokens"),
        max(when(col("rn") === 1, col("doc_id"))).as("head1"),
        max(when(col("rn") === 2, col("doc_id"))).as("head2"),
        max(when(col("rn") === 3, col("doc_id"))).as("head3"))
  }

  /** GLOBAL TOKEN-BUDGET TRIM WITHOUT A GLOBAL SORT — "take the best docs
    * until half the corpus' tokens": docs are bucketed by their integer
    * quality score (token density, per-mille), bucket token masses roll up
    * into an O(score-domain) running total (a provably tiny window), and
    * each doc's keep/drop is decided by carried-in bucket mass + a window
    * cumsum PARTITIONED BY BUCKET — every window here is either
    * domain-bounded or partition-parallel; the naive form (one cumsum over
    * the whole corpus ordered by score) is a single-task global sort. Keep
    * rule: cumulative tokens in (score desc, doc_id) order ≤ budget. */
  private def q182_token_budget(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = par(s, Tables.documents(s, dir))
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("toks"),
        length(col("text")).cast("long").as("chars"))
      .withColumn("score", expr("toks * 1000 div greatest(chars, 1)"))
    val budget = docs.agg((sum(col("toks")) / 2).cast("long").as("budget"))
    // O(score-domain) rollup: tokens carried in from strictly-better buckets
    val buckets = docs.groupBy(col("score")).agg(sum(col("toks")).as("btoks"))
      .withColumn("carried", coalesce(sum(col("btoks")).over(
        Window.orderBy(col("score").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("score"), col("carried"))
    val within = Window.partitionBy(col("score")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.join(broadcast(buckets), "score")
      .withColumn("cum", col("carried") + sum(col("toks")).over(within))
      .crossJoin(broadcast(budget))
      .filter(col("cum") <= col("budget"))
      .select(col("doc_id"), col("score"), col("toks"))
  }

  /** VERSIONED MERGE + DATA-SKIPPING READS end-to-end: commit orders
    * range-partitioned with footer min/max stats in the manifest, MERGE a
    * re-pricing confined to keys ≤ 3000 (only the files overlapping that
    * range are rewritten — VersionedSpec pins the file accounting), then
    * answer three slices: the whole table, the merged region via
    * readPruned, and an untouched region via readPruned. The oracle
    * recomputes all three relationally — a pruning bug that skips a live
    * file or a merge bug that drops/duplicates a row breaks the hash. */
  private def q175_versioned_merge(s: SparkSession, dir: String): DataFrame = {
    val vt = new graft.io.Versioned(
      s, java.nio.file.Files.createTempDirectory("graft_vm").toString)
    val o = Tables.orders(s, dir).select(col("o_orderkey").as("key"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    vt.commit("orders_m", o.repartitionByRange(8, col("key")), statsCol = Some("key"))
    vt.mergeByKey("orders_m",
      o.filter(col("key") <= 3000).withColumn("cents", col("cents") + 55L), "key")
    def slice(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .select(lit(name).as("slice"), col("n_rows"), col("sum_cents"))
    slice("all", vt.read("orders_m"))
      .unionAll(slice("hot", vt.readPruned("orders_m", "key", 0L, 3000L)))
      .unionAll(slice("cold", vt.readPruned("orders_m", "key", 30000L, 40000L)))
  }

  /** INCREMENTAL CONSUMPTION from a versioned table (readDelta): three
    * commits partition `orders` by key mod 3; a downstream consumer drains
    * each version increment separately. The oracle recomputes every
    * increment relationally — a manifest diff that leaks a carried-over
    * file (duplicated rows) or drops an appended one breaks the hash. This
    * is the no-message-bus incremental-ELT path: poll latestVersion, drain
    * the delta, never re-read history. */
  private def q176_versioned_delta(s: SparkSession, dir: String): DataFrame = {
    val vt = new graft.io.Versioned(
      s, java.nio.file.Files.createTempDirectory("graft_vd").toString)
    val o = Tables.orders(s, dir).select(col("o_orderkey").as("key"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    vt.commit("orders_d", o.filter(col("key") % 3 === 0))
    vt.commitAppend("orders_d", o.filter(col("key") % 3 === 1))
    vt.commitAppend("orders_d", o.filter(col("key") % 3 === 2))
    def drained(fromV: Long, toV: Long): DataFrame =
      vt.readDelta("orders_d", fromV, toV)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .select(lit(s"v$fromV..v$toV").as("increment"), col("n_rows"), col("sum_cents"))
    drained(0L, 1L).unionAll(drained(1L, 2L)).unionAll(drained(2L, 3L))
      .unionAll(drained(1L, 3L))
  }

  /** REFERENTIAL-INTEGRITY AUDIT — the ingestion gate a warehouse load runs
    * before publishing: every FK edge is one broadcast-anti-join count (the
    * dimension key set broadcasts; facts never shuffle), unioned into a
    * one-row-per-check report. Zero violations is the expected steady state —
    * the query exists to prove it cheaply every load.
    */
  private def q147_referential_audit(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir); val su = Tables.supplier(s, dir)
    def check(name: String, fact: DataFrame, factKey: String,
              dim: DataFrame, dimKey: String): DataFrame = {
      val total = fact.agg(count(lit(1)).as("n_rows"))
      val orphans = fact.join(broadcast(dim.select(col(dimKey))),
          fact(factKey) === col(dimKey), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      total.crossJoin(orphans).select(lit(name).as("check"),
        col("n_rows"), col("n_violations"))
    }
    check("lineitem_orphan_order", li, "l_orderkey", o, "o_orderkey")
      .unionAll(check("lineitem_orphan_supplier", li, "l_suppkey", su, "s_suppkey"))
      .unionAll(check("order_orphan_customer", o, "o_custkey", c, "c_custkey"))
      .unionAll(check("customer_without_order", c, "c_custkey", o, "o_custkey"))
  }

  /** KEY-CARDINALITY AUDIT — is a candidate key actually unique? For each
    * proposed key the rows-per-key distribution comes back as a histogram
    * (rows_per_key → n_keys): a unique key shows one row (1, n); any other
    * row is a duplication diagnosis with its multiplicity. Two aggregations
    * deep but each output is O(distinct multiplicities) — tiny at any scale.
    */
  private def q148_key_cardinality(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    def audit(name: String, keys: Seq[String]): DataFrame =
      li.groupBy(keys.map(col): _*).agg(count(lit(1)).as("rows_per_key"))
        .groupBy("rows_per_key").agg(count(lit(1)).as("n_keys"))
        .select(lit(name).as("candidate_key"), col("rows_per_key"), col("n_keys"))
    audit("l_orderkey", Seq("l_orderkey"))
      .unionAll(audit("l_orderkey+l_linenumber", Seq("l_orderkey", "l_linenumber")))
  }

  /** EVENT TRANSITION MATRIX — first-order Markov structure of user
    * behavior: per user, each event's successor type via lead() inside the
    * user partition (one shuffle, the window's own), then global
    * (from → to) counts with an integer per-mille share within each
    * from-type. End-of-sequence transitions are kept as to='(end)' so rows
    * per from-type sum to that type's event count.
    */
  private def q149_transition_matrix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, dir)
      .withColumn("to_type", coalesce(lead(col("event_type"), 1).over(w), lit("(end)")))
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    trans.withColumn("permille", expr("n * 1000 div sum(n) over (partition by from_type)"))
  }

  /** PERIOD-OVER-PERIOD — monthly revenue per market segment with the
    * previous month's value and an integer per-mille delta. Money stays
    * exact DECIMAL cents through the aggregation; the window is over the
    * (tiny) aggregated (segment × month) grid, so the lag costs nothing.
    */
  private def q150_period_change(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir); val c = Tables.customer(s, dir)
    val monthly = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("long").as("ym"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")).as("cents"))
    val w = Window.partitionBy("segment").orderBy("ym")
    monthly.withColumn("prev_cents", lag(col("cents"), 1).over(w))
      .withColumn("delta_permille",
        expr("case when prev_cents is not null and prev_cents != 0 " +
          "then (cents - prev_cents) * 1000 div prev_cents end"))
  }

  /** MIXTURE APPORTIONMENT — turn data-driven source weights into exact
    * integer sampling quotas that sum to the target (largest-remainder
    * method): base_i = ⌊N·w_i⌋, then the N−Σbase leftover seats go to the
    * largest scaled remainders (deterministic tie-break on source). This is
    * the step between "mixture weights" in a training config and "how many
    * documents to actually draw per source"; all integer arithmetic, and the
    * whole computation runs on the O(sources) aggregate — the corpus is
    * touched once for the counts.
    */
  private def q151_mixture_quota(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = lit(10000L)
    val counts = Tables.documents(s, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum("n_docs").as("total"))
    val based = counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        expr("10000 * n_docs div total").as("base"),
        (n * col("n_docs") - expr("10000 * n_docs div total") * col("total")).as("rem"))
    val w = Window.orderBy(col("rem").desc, col("source").asc)
    val deficit = n - sum(col("base")).over(Window.partitionBy())
    based
      .withColumn("seat_rank", row_number().over(w).cast("long"))
      .withColumn("extra", when(col("seat_rank") <= deficit, 1L).otherwise(0L))
      .withColumn("quota", col("base") + col("extra"))
      .select("source", "n_docs", "base", "extra", "quota")
  }

  /** BPE MERGE INDUCTION (one round): the 20 most frequent adjacent
    * character pairs across the corpus — the statistic a byte-pair-encoding
    * trainer computes every merge round. Pairs come from substr(word, i, 2)
    * over exploded words (weighted by occurrence), so the whole round is
    * explode → substr → count → top-k, all codegen'd; the top-k is
    * TakeOrderedAndProject, never a global sort. Iterating rounds = re-run
    * with the previous merges applied to the token stream.
    */
  private def q152_bpe_merge(s: SparkSession, dir: String): DataFrame = {
    val words = par(s, Tables.documents(s, dir))
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
    words
      .select(explode(expr(
        "transform(sequence(1, int(length(w)) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(20)
  }

  /** LABEL-NOISE SCREENING — kNN label agreement: for every vector, do its 5
    * nearest neighbors (exact cosine) share its label? Per-label output:
    * cohort size, mean agreement (integer per-mille), and the count of
    * suspect rows (≤1 agreeing neighbor) — the shortlist a data-cleaning
    * pass re-annotates. Reuses the q38 brute-force kernel (codegen'd cosine,
    * per-query window top-k); the label lookup is a broadcast of the
    * O(corpus) id→label pairs.
    */
  private def q153_label_agreement(s: SparkSession, dir: String): DataFrame = {
    val emb = par(s, Tables.embeddings(s, dir))
    val queries = emb.select(col("vec_id").as("query_id"),
      col("embedding").as("query_vec"), col("label").cast("long").as("qlab"))
    val nn = Similarity.bruteForceTopK(
        queries.select("query_id", "query_vec"), emb.select("vec_id", "embedding"), k = 5)
      .join(broadcast(emb.select(col("vec_id").as("neighbor_id"),
        col("label").cast("long").as("nlab"))), "neighbor_id")
      .join(broadcast(queries.select("query_id", "qlab")), "query_id")
    val per = nn.groupBy("query_id", "qlab")
      .agg(sum(when(col("nlab") === col("qlab"), 1L).otherwise(0L)).as("n_agree"))
    per.groupBy(col("qlab").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(n_agree) * 1000 div (count(*) * 5)").as("agree_permille"),
        sum(when(col("n_agree") <= 1, 1L).otherwise(0L)).as("n_suspect"))
  }

  /** q153's WIRED SCALE FORM — all-corpus kNN via the auto-planned search
    * (Similarity.lshBucketTopK, tables=nbits=0, broadcastQueries=false):
    * planBanding sizes an LSH banding at the stated design cosine when
    * geometry separates; on THIS corpus (isotropic at designCosine 0.45) it
    * logs the infeasibility and takes the exact blocked top-k kernel — block
    * -pair cogroups with per-block top-5 then a per-query merge window,
    * never |Q|×|C| rows and never a broadcast of the corpus-sized query
    * side (the r3 scale flaw), replacing r6's fixed (64, 4) banding
    * measured super-linear (66.9 s at sf1). The fallback reproduces exact
    * 5-NN including tie-breaks, so the per-label aggregate is identical to
    * brute q153 and shares its oracle; brute q153 stays on oracle-duty. */
  private def q163_label_agreement_banded(s: SparkSession, dir: String): DataFrame = {
    val emb = par(s, Tables.embeddings(s, dir))
    val queries = emb.select(col("vec_id").as("query_id"),
      col("embedding").as("query_vec"), col("label").cast("long").as("qlab"))
    val nn = Similarity.lshBucketTopK(
        queries.select("query_id", "query_vec"), emb.select("vec_id", "embedding"), k = 5,
        tables = 0, nbits = 0, broadcastQueries = false, designCosine = 0.45,
        knownCount = Tables.rowCount(s, dir, "embeddings"))
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("label").cast("long").as("nlab")), "neighbor_id")
      .join(queries.select("query_id", "qlab"), "query_id")
    val per = nn.groupBy("query_id", "qlab")
      .agg(sum(when(col("nlab") === col("qlab"), 1L).otherwise(0L)).as("n_agree"))
    per.groupBy(col("qlab").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(n_agree) * 1000 div (count(*) * 5)").as("agree_permille"),
        sum(when(col("n_agree") <= 1, 1L).otherwise(0L)).as("n_suspect"))
  }

  /** SCD TYPE-2 HISTORY BUILD — turn two snapshots of a dimension into
    * versioned validity intervals: unchanged keys keep one open row, changed
    * keys get their old version closed at the change date and a new open
    * version, keys new to today's snapshot open at the change date. One
    * full-outer join on the key (money compared as exact DECIMAL cents),
    * then each interval row is a projection — no window, no second shuffle.
    * Snapshots are derived deterministically the same way q103's CDC diff
    * does it.
    */
  private def q154_scd2(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
    val today = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k_new"), cents.as("c_new"))
    val yesterday = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 101 =!= 0)
      .select(col("o_orderkey").as("k_old"),
        when(col("o_orderkey") % 97 === 0, cents + 100L).otherwise(cents).as("c_old"))
    val j = today.join(yesterday, col("k_new") === col("k_old"), "full_outer")
    val d0 = lit("2024-06-01").cast("date"); val d1 = lit("2024-06-02").cast("date")
    // open rows carry the SCD2 high-date sentinel, not NULL — interval
    // predicates (`BETWEEN valid_from AND valid_to`) then need no null arm
    val dInf = lit("9999-12-31").cast("date")
    val changed = j.filter(col("k_old").isNotNull && col("k_new").isNotNull &&
      col("c_old") =!= col("c_new"))
    changed.select(col("k_new").as("key"), lit(1L).as("version"),
        col("c_old").as("cents"), d0.as("valid_from"), d1.as("valid_to"))
      .unionAll(changed.select(col("k_new"), lit(2L), col("c_new"), d1, dInf))
      .unionAll(j.filter(col("k_old").isNull).select(col("k_new"), lit(1L),
        col("c_new"), d1, dInf))
      .unionAll(j.filter(col("k_old").isNotNull && col("k_new").isNotNull &&
          col("c_old") === col("c_new"))
        .select(col("k_new"), lit(1L), col("c_new"), d0, dInf))
  }

  /** JOIN-STRATEGY HINTS — the explicit override lane for when the planner's
    * estimate is wrong at 100 TB (stale stats, exploding UDF selectivity):
    * the same logical join as q08 but pinned to a SHUFFLE_HASH build on the
    * dimension side (no sort, unlike merge join; no driver collect, unlike
    * broadcast — the right call when the "small" side fits an executor but
    * not the driver). Results are identical to the unhinted plan by
    * construction; PlanSpec asserts the physical operator actually obeyed.
    */
  private def q155_join_hints(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir).hint("shuffle_hash")
    o.join(c, o("o_custkey") === c("c_custkey"), "inner")
      .select(col("o_orderkey"), col("o_totalprice").as("total_price"),
        col("c_name").as("cust_name"), col("c_mktsegment").as("segment"))
  }

  /** TIMER-DRIVEN STREAMING SESSIONIZATION — the full arbitrary-state
    * surface (ValueState + event-time timers): sessions closed by a
    * follow-on event emit in-batch; the per-user open tail closes when the
    * watermark passes last-event + gap (30 min gap, 1 h watermark delay).
    * For a bounded drain the emitted set is exactly computable: every
    * non-final session, plus final sessions whose timer deadline (integer ms)
    * the final watermark passed. See [[graft.streaming.Stateful.SessionizeTimers]].
    */
  private def q156_timer_sessions(s: SparkSession, dir: String): DataFrame = {
    val tsType = Tables.eventsRawTsType(s, dir)
    graft.streaming.Stateful.timerSessionsOverParquet(
      s, s"$dir/events.parq*", Tables.eventsRawSchema(tsType),
      tsUsExpr = Tables.eventsTsMicrosExpr(tsType),
      gapUs = 1800L * 1000000L, delay = "1 hour",
      name = s"q156_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}")
  }

  /** CORRUPT-RECORD QUARANTINE — PERMISSIVE ingestion of a feed with
    * deterministic breakage (every o_orderkey ≡ 0 mod 13 ships malformed
    * JSON): bad lines land whole in `_corrupt_record` instead of failing the
    * job or silently vanishing; the report splits good/quarantined counts
    * and aggregates only the good rows. The oracle re-derives the same
    * numbers relationally from `orders` — the ingestion path must agree with
    * ground truth exactly. At 100 TB this is the difference between one bad
    * producer poisoning a load and a quarantine table you re-process later.
    */
  private def q157_corrupt_quarantine(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_quarantine").toString
    Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .select(when(col("k") % 13 === 0,
          concat(lit("{\"k\":"), col("k"), lit(",INVALID")))  // truncated JSON
        .otherwise(concat(lit("{\"k\":"), col("k"), lit(",\"cents\":"), col("cents"), lit("}")))
        .as("value"))
      .write.mode("overwrite").text(tmp)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("cents", LongType),
      StructField("_corrupt_record", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(tmp)
      .agg(
        sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_quarantined"),
        sum(when(col("_corrupt_record").isNull, col("cents")).otherwise(0L)).as("good_cents"))
  }

  /** HIGHER-ORDER FUNCTION battery over per-order quantity sequences —
    * `transform`, `filter`, `exists`, `forall`, and a fold (`aggregate`),
    * all on integer data so every engine agrees bit-for-bit. HOF lambdas are
    * interpreted, not codegen'd (HashAlgs doc): fine here because they run
    * over O(orders) short arrays, NOT the raw scan — the collect_list shrank
    * the data first. The 100 TB rule of thumb: HOFs after aggregation, hot
    * kernels as custom expressions.
    */
  private def q158_hof_battery(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_quantity").cast("long"))).as("qtys"))
      .select(
        col("l_orderkey"),
        size(col("qtys")).cast("long").as("n"),
        expr("aggregate(qtys, 0L, (acc, x) -> acc + x)").as("fold_sum"),
        expr("size(filter(qtys, x -> x >= 25))").cast("long").as("n_ge25"),
        expr("exists(qtys, x -> x = 50)").as("has_50"),
        expr("forall(qtys, x -> x > 0)").as("all_positive"),
        expr("aggregate(transform(qtys, x -> x * x), 0L, (acc, x) -> acc + x)").as("sum_sq"))
  }

  /** MAPSTATE CATEGORICAL COUNTERS — per-user event-type counts kept as one
    * RocksDB map entry per type (the third arbitrary-state primitive next to
    * q144's ValueState and q156's timers); converges to the batch
    * groupBy(user, type) count = the oracle.
    */
  private def q159_mapstate_counts(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsRawSchema(Tables.eventsRawTsType(s, dir))
    graft.streaming.Stateful.typeCountsOverParquet(
      s, s"$dir/events.parq*", raw,
      name = s"q159_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}")
  }

  /** POINT-IN-TIME (temporal) LOOKUP — enrich facts against the SCD2
    * dimension version that was valid on the fact's own date: equi-join on
    * the key plus `valid_from <= d < valid_to` — exactly one version matches
    * per fact because q154's intervals partition time (the open row's
    * 9999-12-31 sentinel means no null arm in the predicate). The join
    * shuffles on the key alone; the interval test rides along as the join
    * residual. Probe dates straddle the change date so both versions of
    * changed keys are exercised.
    */
  private def q160_scd2_lookup(s: SparkSession, dir: String): DataFrame = {
    val dim = q154_scd2(s, dir) // key, version, cents, valid_from, valid_to
    val facts = Tables.orders(s, dir).select(
      col("o_orderkey").as("key"),
      when(col("o_orderkey") % 2 === 0, lit("2024-06-01"))
        .otherwise(lit("2024-06-03")).cast("date").as("as_of"))
    facts.join(dim, Seq("key"))
      .filter(col("valid_from") <= col("as_of") && col("as_of") < col("valid_to"))
      .select(col("key"), col("as_of"), col("version"), col("cents"))
  }

  /** BACKWARD AS-OF JOIN ([[graft.ops.Temporal.asofJoinBackward]]) — each
    * purchase is enriched with the latest prior-or-simultaneous view/click
    * signal of the same user (quotes pre-deduped to one row per (user, ts)
    * by max(value), the as-of well-definedness contract). The operator is a
    * single union + per-user window — ONE shuffle on user_id, no range
    * theta-join — while the oracle recomputes it with DuckDB's native ASOF
    * LEFT JOIN: two entirely independent formulations of the inclusive
    * backward-match semantics, hash-compared row-for-row including the
    * matched row's own timestamp and the no-prior-quote null arm.
    */
  private def q192_asof_join(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val trades = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("trade_id"), col("user_id"),
        col("ts"), col("value").as("trade_val"))
    val quotes = ev.filter(col("event_type").isin("view", "click"))
      .groupBy(col("user_id"), col("ts").as("quote_ts"))
      .agg(max(col("value")).as("last_quote"))
    graft.ops.Temporal.asofJoinBackward(
      trades, quotes, keys = Seq("user_id"),
      leftTime = "ts", rightTime = "quote_ts",
      payloadCols = Seq("quote_ts", "last_quote"))
  }

  /** BINNED INTERVAL JOIN ([[graft.ops.Temporal.binnedIntervalJoin]]) —
    * promotion windows derived from a 1-in-97 sample of orders (length =
    * key mod 30 days) collect the lineitem shipments that fall inside them,
    * then aggregate per window. Since r7 the operator ROUTES THROUGH
    * [[graft.plans.RangeJoinRule]] (the band→bin rewrite applied eagerly to
    * its own theta plan), so q193 and the user-written-theta q196 exercise
    * the same single implementation; PlanSpec asserts the bin equi-join and
    * the absence of any nested loop here. The join is an EQUI-join on
    * 30-day calendar bins with the exact BETWEEN as residual (expansion ≤ 2
    * rows per interval); the oracle IS the theta-join (`d BETWEEN s AND e`)
    * that this plan refuses to execute as a nested loop. Dates travel as
    * epoch days (exact long arithmetic) and return as dates at the end.
    */
  private def q193_interval_join(s: SparkSession, dir: String): DataFrame = {
    val epoch = to_date(lit("1970-01-01"))
    val iv = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("ik"),
        datediff(col("o_orderdate"), epoch).cast("long").as("sd"))
      .withColumn("ed", col("sd") + pmod(col("ik"), lit(30L)))
    val pts = Tables.lineitem(s, dir)
      .select(datediff(col("l_shipdate"), epoch).cast("long").as("pd"),
        col("l_quantity").cast("long").as("qty"))
    graft.ops.Temporal.binnedIntervalJoin(pts, "pd", iv, "sd", "ed", binWidth = 30L)
      .groupBy(col("ik"), col("sd"), col("ed"))
      .agg(count(lit(1)).as("n_ship"), sum(col("qty")).as("sum_qty"))
      .select(col("ik"),
        date_add(epoch, col("sd").cast("int")).as("win_start"),
        date_add(epoch, col("ed").cast("int")).as("win_end"),
        col("n_ship"), col("sum_qty"))
  }

  /** SEQUENCE PACKING (concat-and-chunk, the GPT-style training-data
    * loader): documents concatenate in doc_id order into one token stream
    * cut every L=512 tokens; each doc reports the packs it lands in
    * (first/last/count) and its offset inside its first pack. All of it is
    * pure arithmetic on the EXCLUSIVE PREFIX SUM of token counts — and the
    * prefix sum is computed hierarchically, never as one global-order
    * window: docs bucket into ≤1025 id-range chunks (width from max id, a
    * 1-row scalar), per-chunk sums roll up in an O(chunks) window, and each
    * doc adds a chunk-partitioned within-window — the same
    * domain-bounded-or-partition-parallel window discipline as q182. At
    * 100 TB the chunk width grows with the corpus, so the rollup stays
    * ~1k rows no matter how many documents exist. Zero-token docs are
    * excluded (they occupy no stream position — both engines agree by
    * construction). The oracle recomputes with DuckDB's global-order
    * window, which is exactly the single-task plan this implementation
    * refuses to run.
    */
  private def q195_seq_pack(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = 512L
    val docs = par(s, Tables.documents(s, dir))
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("nt"))
      .filter(col("nt") > 0)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val chunkW = math.max(maxId / 1024L, 1L)
    val chunked = docs.withColumn("chunk", expr(s"doc_id div $chunkW"))
    val carried = chunked.groupBy(col("chunk")).agg(sum(col("nt")).as("ctoks"))
      .withColumn("carried", coalesce(sum(col("ctoks")).over(
        Window.orderBy(col("chunk"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("chunk"), col("carried"))
    val within = Window.partitionBy(col("chunk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    chunked.join(broadcast(carried), "chunk")
      .withColumn("cb", col("carried") + coalesce(sum(col("nt")).over(within), lit(0L)))
      .select(col("doc_id"), col("nt").as("n_tokens"),
        expr(s"cb div $L").as("pack_first"),
        expr(s"(cb + nt - 1) div $L").as("pack_last"),
        expr(s"(cb + nt - 1) div $L - cb div $L + 1").as("n_packs"),
        expr(s"cb % $L").as("pack_off"))
  }

  /** RANGE-JOIN OPTIMIZER RULE end-to-end ([[graft.plans.RangeJoinRule]]):
    * the SAME interval-join semantics as q193, but the plan is written the
    * way a user naturally writes it — a plain theta-join
    * `sd <= pd AND pd <= ed` — and the Catalyst rule (injected via
    * `SparkSessionExtensions` / `extraOptimizations`, conf-gated bin width)
    * rewrites it into the binned equi-join AUTOMATICALLY. Vanilla Spark
    * plans this condition as a BroadcastNestedLoopJoin — O(|lineitem| ×
    * |windows|) comparisons; the rewrite makes it a shuffle-on-bin
    * equi-join with the band as residual (RangeJoinRuleSpec pins the plan
    * shape and the guard set). Runs on an isolated `newSession()` so the
    * conf gate never leaks into sibling queries' plans. The oracle is the
    * theta-join itself in DuckDB. Different sample (1-in-89) and width
    * (45 d) than q193, so the two queries cannot mask each other.
    */
  private def q196_range_join_rule(s0: SparkSession, dir: String): DataFrame = {
    val s = s0.newSession()
    graft.plans.RangeJoinRule.install(s, binWidth = 45L)
    val epoch = to_date(lit("1970-01-01"))
    val iv = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 89 === 0)
      .select(col("o_orderkey").as("ik"),
        datediff(col("o_orderdate"), epoch).cast("long").as("sd"))
      .withColumn("ed", col("sd") + pmod(col("ik"), lit(45L)))
    val pts = Tables.lineitem(s, dir)
      .select(datediff(col("l_shipdate"), epoch).cast("long").as("pd"),
        col("l_quantity").cast("long").as("qty"))
    pts.join(iv, col("sd") <= col("pd") && col("pd") <= col("ed"))
      .groupBy(col("ik"), col("sd"), col("ed"))
      .agg(count(lit(1)).as("n_ship"), sum(col("qty")).as("sum_qty"))
      .select(col("ik"),
        date_add(epoch, col("sd").cast("int")).as("win_start"),
        date_add(epoch, col("ed").cast("int")).as("win_end"),
        col("n_ship"), col("sum_qty"))
  }

  /** BM25 RETRIEVAL ([[graft.text.Retrieval.bm25TopK]]) — the lexical
    * ranking half of a hybrid-retrieval stack, run corpus-side: four query
    * term-bags are derived from the corpus itself (top-32 df tokens via
    * TakeOrderedAndProject — no global sort — grouped by token length mod
    * 4), and every document is scored against each query with the
    * engine-portable [[graft.text.Retrieval.RationalIdf]] mode, whose
    * score is ALL long arithmetic — so DuckDB reproduces it bit-for-bit,
    * ranks included. The posting fact is pruned to query terms by a
    * broadcast join before anything wide happens; RetrievalSpec pins both
    * idf modes against an independent scalar reference.
    */
  private def q197_bm25_topk(s: SparkSession, dir: String): DataFrame = {
    val docs = par(s, Tables.documents(s, dir))
    val qterms = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token").asc).limit(32)
      .select(pmod(length(col("token")), lit(4)).cast("long").as("query_id"),
        col("token"))
    graft.text.Retrieval.bm25TopK(docs, "doc_id", "text",
      qterms, "query_id", "token", k = 10, mode = graft.text.Retrieval.RationalIdf)
  }

  /** N-GRAM LM PERPLEXITY GATE ([[graft.text.LangModel]]) — the
    * CCNet-style corpus quality filter: a bigram LM with count-threshold
    * vocabulary (minCount=100 ⇒ the model is heavy-hitter bounded at any
    * corpus scale) and add-one smoothing is trained on the deterministic
    * 80% hash-split of documents, then every held-out document is scored
    * under it. Exact [[graft.text.LangModel.scorePpm]] mode: each bigram
    * contributes floor(1e6·(c12+1)/(c1+V)) in long arithmetic, so DuckDB
    * reproduces scores bit-for-bit; the true ln-perplexity mode is pinned
    * by LangModelSpec's scalar differential. No positional window anywhere:
    * bigrams come off the token array as a codegen'd transform, and OOV
    * mapping happens per-pair-side (commutes with adjacency).
    */
  private def q198_lm_perplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = par(s, Tables.documents(s, dir))
    val isTrain = RelOps.hashSampleFilter(col("doc_id"), 0.8)
    val lm = graft.text.LangModel.trainBigram(
      docs.filter(isTrain), "doc_id", "text", minCount = 100L)
    graft.text.LangModel.scorePpm(docs.filter(!isTrain), "doc_id", "text", lm)
  }

  /** Z-ORDER CLUSTERED LAYOUT + MULTI-COLUMN BOX SKIPPING
    * ([[graft.io.Versioned.commitZOrdered]] → `readPrunedBox`): lineitem is
    * committed range-partitioned on the Morton interleave of
    * (l_partkey, l_suppkey) with per-file min/max for BOTH columns in the
    * manifest, then a 2-D box is answered through the pruned reader —
    * ZOrderSpec measures the datum (a 1/64-volume box opens 1 of 64 files
    * vs 8 for either single-column sort); the oracle recomputes the box
    * relationally, so a prune that drops a live file breaks the hash.
    */
  private def q200_zorder_box(s: SparkSession, dir: String): DataFrame = {
    val vt = new graft.io.Versioned(
      s, java.nio.file.Files.createTempDirectory("graft_zo").toString)
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    vt.commitZOrdered("li_z", li, Seq("l_partkey", "l_suppkey"), numFiles = 16)
    vt.readPrunedBox("li_z", Seq(("l_partkey", 20L, 149L), ("l_suppkey", 2L, 7L)))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
  }

  /** DELETION VECTORS end-to-end ([[graft.io.Versioned.deleteWhere]] →
    * [[graft.io.Versioned.purgeDeletes]]): lineitem is committed once, two
    * OVERLAPPING merge-on-read deletes land as position sidecars (zero data
    * files rewritten — the second delete's anti-join against the first's
    * vectors pins the no-double-delete path), then PURGE physically applies
    * them. Three oracle-compared snapshots: v1 time-travels to the
    * pre-delete image (deletes are version-addressed, not destructive),
    * `mor` reads through the vectors, `purged` reads the rewrite — the
    * oracle recomputes all three relationally, so a vector that drops the
    * wrong position, resurrects on purge, or leaks into v1 breaks the hash. */
  private def q201_delete_vectors(s: SparkSession, dir: String): DataFrame = {
    val (vt, t) = clonedVersionedFixture(s, dir, "li4")(Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"), col("l_linestatus")))
    vt.deleteWhere(t, col("l_returnflag") === "R")
    vt.deleteWhere(t, col("l_quantity") >= 45)
    def snap(df: DataFrame, name: String): DataFrame =
      df.groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .select(lit(name).as("snapshot"), col("l_linestatus"),
          col("n_rows"), col("sum_qty"), col("n_orders"))
    val v1 = snap(vt.readVersion(t, 1L), "v1")
    val mor = snap(vt.read(t), "mor")
    vt.purgeDeletes(t)
    v1.unionAll(mor).unionAll(snap(vt.read(t), "purged"))
  }

  /** HASHED LINEAR QUALITY CLASSIFIER ([[graft.text.HashedClassifier]]):
    * fastText-shape scoring — unigram+bigram features, hashed weights,
    * linear sum — as pure codegen'd array expressions (zero shuffle, no
    * UDF). The md5-surrogate weights make the score integer-exact, so the
    * oracle recomputes feature extraction AND scoring relationally: a
    * tokenization drift, a bigram off-by-one, or a hash-fold mismatch all
    * break the hash. */
  private def q204_hashed_classifier(s: SparkSession, dir: String): DataFrame = {
    import graft.text.HashedClassifier
    par(s, Tables.documents(s, dir)).select(
      col("doc_id"),
      size(HashedClassifier.features(col("text"))).cast("long").as("n_feats"),
      HashedClassifier.score(col("text")).as("score"))
      .withColumn("accepted", col("score") > 0L)
  }

  /** MERGE-ON-READ UPDATE + DELETE composed
    * ([[graft.io.Versioned.updateWhere]] → [[graft.io.Versioned.deleteWhere]]):
    * an UPDATE lands as one atomic commit pairing a deletion vector for the
    * old positions with an append of the rewritten rows (O(matched), zero
    * file rewrites), then a delete stacks a second vector on top — the read
    * resolves both plus the appended rows. The oracle recomputes the final
    * state relationally (CASE for the update, WHERE for the delete), so a
    * position pair that drifts between the vector and the append, or an
    * update leaking onto deleted rows, breaks the hash. */
  private def q203_mor_update(s: SparkSession, dir: String): DataFrame = {
    val (vt, t) = clonedVersionedFixture(s, dir, "li4")(Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"), col("l_linestatus")))
    vt.updateWhere(t, col("l_quantity") >= 45,
      Map("l_quantity" -> (col("l_quantity") - 40)))
    vt.deleteWhere(t, col("l_returnflag") === "R")
    vt.read(t)
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
  }

  /** MATERIALIZED-VIEW AUTO-REWRITE ([[graft.plans.MvRewriteRule]]): a
    * rollup MV is registered over a lineitem projection, then a DIFFERENT
    * query — coarser grouping, filter on a grouping column — is written
    * against the BASE table and the optimizer rewrites it to re-aggregate
    * the MV. The builder `require`s the optimized plan scans the MV and
    * not the base (a silent bail would still pass the oracle — the access
    * path is the point), while the oracle recomputes from the base
    * relationally, so a wrong rollup algebra breaks the hash. */
  private def q202_mv_rewrite(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.MvRewriteRule
    val baseDir = java.nio.file.Files.createTempDirectory("graft_mvq_base").toString
    val mvDir = java.nio.file.Files.createTempDirectory("graft_mvq_mv").toString
    Tables.lineitem(s, dir)
      .select(col("l_quantity").cast("long").as("qty"),
        col("l_returnflag").as("flag"), col("l_linestatus").as("status"))
      .write.mode("overwrite").parquet(baseDir)
    val base = s.read.parquet(baseDir)
    MvRewriteRule.install(s)
    MvRewriteRule.create(s, "q202_li_rollup", base, mvDir,
      groupCols = Seq("flag", "status"), aggCols = Seq("qty"))
    val q = base.filter(col("flag") =!= "R").groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"),
        min(col("qty")).as("min_qty"), max(col("qty")).as("max_qty"))
    val scanned = q.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    require(scanned.exists(_.endsWith(mvDir)) && !scanned.exists(_.endsWith(baseDir)),
      s"q202: the MV rewrite did not fire — scans $scanned")
    q
  }

  /** THE FULL MV LIFECYCLE composed — create, go stale, refresh
    * incrementally, serve again ([[graft.plans.MvRewriteRule]] +
    * [[graft.io.Versioned]] + [[graft.ops.Incremental]]): an MV is built
    * over a versioned table's v1 snapshot, the base then evolves through an
    * APPEND and a key-pruned MERGE; because the rewrite's match key is the
    * snapshot's exact file set, the stale MV silently stops firing (the
    * builder proves it: the interim query scans the base). The refresh
    * applies the row-level change feed to the OLD rollup — O(changes), no
    * base rescan — re-registers against the new snapshot, and the same
    * query rewrites onto the refreshed MV (proven again). The oracle
    * recomputes the final aggregate relationally from the evolution
    * definition, so a wrong delta application breaks the hash. */
  private def q205_mv_incremental_rewrite(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.MvRewriteRule
    import graft.ops.Incremental
    val mvDir1 = java.nio.file.Files.createTempDirectory("graft_mvi_v1").toString
    val mvDir2 = java.nio.file.Files.createTempDirectory("graft_mvi_v2").toString
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"), col("o_orderpriority").as("grp"), cents.as("v"))
    val (vt, t) = clonedVersionedFixture(s, dir, "ordkv", statsCol = Some("k"))(base)
    MvRewriteRule.install(s)
    val mvName = "q205_rollup"
    MvRewriteRule.create(s, mvName, vt.readVersion(t, 1L), mvDir1,
      groupCols = Seq("grp"), aggCols = Seq("v"))

    def scansOf(df: DataFrame): Seq[String] = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    def query(): DataFrame = vt.read(t).groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_cents"))

    require(scansOf(query()).exists(_.endsWith(mvDir1)), "q205: v1 rewrite must fire")
    // evolve: append late rows, then a key-pruned copy-on-write merge
    vt.commitAppend(t,
      base.filter(col("k") % 10 === 7)
        .select((col("k") + 10000000L).as("k"), col("grp"), (col("v") + 5L).as("v")),
      statsCol = Some("k"))
    val v3 = vt.mergeByKey(t,
      vt.read(t).filter(col("k") % 10 === 3)
        .withColumn("v", col("v") + 1000L), "k")
    // staleness guard: the old registration matches v1's files only
    require(!scansOf(query()).exists(_.endsWith(mvDir1)),
      "q205: a stale MV must never answer a fresh query")
    // incremental refresh: old rollup + change feed → new rollup
    val old = s.read.parquet(mvDir1)
      .select(col("grp"), col("__cnt").as("n_rows"), col("__sum_v").as("sum_val"))
    Incremental.applyCountSumDeltas(old, vt.changesWithImages(t, 1L, v3, "k"), "grp", "v")
      .select(col("grp"), col("n_rows").as("__cnt"), col("sum_val").as("__sum_v"))
      .write.mode("overwrite").parquet(mvDir2)
    MvRewriteRule.registerExisting(s, mvName, vt.read(t), mvDir2,
      groupCols = Seq("grp"), countStar = "__cnt", sums = Map("v" -> "__sum_v"))
    val q = query()
    require(scansOf(q).exists(_.endsWith(mvDir2)),
      "q205: the refreshed MV must serve the rewritten query")
    q
  }

  /** RESTORE + SHALLOW CLONE composed ([[graft.io.Versioned.restore]],
    * [[graft.io.Versioned.cloneTable]]): lineitem is committed, a
    * deletion-vector delete lands (v2), a SHALLOW CLONE pins v2 by
    * absolute file reference — zero bytes copied, and the clone must read
    * THROUGH the source's deletion vectors — then the source is polluted
    * with a junk append and RESTOREd back to v2 (zero bytes moved, junk
    * files de-referenced, the DV re-referenced). Restored source and clone
    * must both equal the relational `WHERE flag <> 'R'` recomputation: a
    * restore that loses the DV, or a clone whose DV join key drifts under
    * absolute paths, breaks the hash. */
  private def q206_restore_clone(s: SparkSession, dir: String): DataFrame = {
    val vt = new graft.io.Versioned(
      s, java.nio.file.Files.createTempDirectory("graft_rc").toString)
    val base = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"), col("l_linestatus"))
    vt.commit("src", base)
    vt.deleteWhere("src", col("l_returnflag") === "R") // v2: merge-on-read
    vt.cloneTable("src", "snap")                       // pins v2, zero-copy
    vt.commitAppend("src",                             // v3: junk to undo
      base.limit(500).withColumn("l_quantity", col("l_quantity") + 1000))
    vt.restore("src", 2L)                              // v4 ≡ v2
    def agg(df: DataFrame, tag: String) = df.groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .withColumn("src", lit(tag))
    agg(vt.read("src"), "restored").unionAll(agg(vt.read("snap"), "clone"))
  }

  /** EXACT DUPLICATED-SPAN DEDUP ([[graft.dedup.SpanDedup.dedupSpans]],
    * Lee et al. 2021): every 8-word window is fingerprinted, windows whose
    * fingerprint repeats anywhere in the corpus are duplicated spans, and
    * covered tokens are stripped from the text. The oracle recomputes the
    * whole thing relationally in DuckDB — same tokenizer, same md5
    * surrogate — down to the cleaned text STRING, so a 1-based/0-based
    * slip, an off-by-one in coverage expansion, or a token dropped from
    * the wrong position all break the hash. */
  private def q207_span_dedup(s: SparkSession, dir: String): DataFrame =
    graft.dedup.SpanDedup.dedupSpans(
      par(s, Tables.documents(s, dir)), "doc_id", "text", w = 8)

  /** k-NN LABEL CLASSIFICATION ([[graft.sim.Similarity.knnClassify]]):
    * label-0 vectors treated as unlabeled queries, classified by majority
    * vote of their 5 nearest labeled neighbors (exact cosine ranking —
    * swap [[graft.sim.Similarity.pqTopK]] in as the neighbor producer at
    * scale, the vote is producer-agnostic). Oracle mirrors the ranking
    * (order-only, like q38) and the vote with its smallest-label tiebreak.
    */
  private def q208_knn_classify(s: SparkSession, dir: String): DataFrame = {
    val emb = par(s, Tables.embeddings(s, dir))
    val queries = emb.filter(col("label") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val labeled = emb.filter(col("label") =!= 0)
    val nn = Similarity.bruteForceTopK(queries, labeled.select("vec_id", "embedding"), k = 5)
    Similarity.knnClassify(nn,
      labeled.select(col("vec_id").as("neighbor_id"), col("label")))
  }

  /** PER-SOURCE QUOTA CAP ([[graft.ops.RelOps.groupQuota]]): at most 10
    * documents per source, selected by deterministic md5(doc_id) order —
    * the C4/RefinedWeb "cap each domain's share" curation step, exactly
    * reproducible in the oracle because membership is a pure function of
    * the key. */
  private def q209_source_quota(s: SparkSession, dir: String): DataFrame =
    RelOps.groupQuota(
      Tables.documents(s, dir).select("doc_id", "source"), "source", "doc_id", n = 10)

  /** QUANTIZED SPARSE JL RANDOM PROJECTION
    * ([[graft.sim.Similarity.jlProjectQuantized]]): 64-dim embeddings down
    * to 16 integer dims via the closed-form ±1/0 matrix — all-integer
    * arithmetic, so unlike the float ANN family this dimensionality
    * reducer is HASH-EXACT against the oracle. */
  private def q210_jl_projection(s: SparkSession, dir: String): DataFrame =
    Similarity.jlProjectQuantized(
      par(s, Tables.embeddings(s, dir)), "vec_id", "embedding", outDims = 16)

  /** TIME-SERIES LINEAR INTERPOLATION over calendar gaps — the third gap
    * policy next to q64's LOCF and q84's zero-fill: each user's missing
    * days get pv + (nv − pv)·(d − pd)/(nd − pd) between the bracketing
    * observations. Exact-comparison discipline: daily sums are integer
    * cents, the numerator product is exact integer arithmetic, and the
    * single double division + addition are mirrored verbatim in the oracle
    * (deterministic IEEE ops, the q92 convention). Two windows over the
    * same user partitioning = ONE shuffle; the spine explode is
    * domain-bounded (calendar days, not rows) at any SF.
    */
  private def q211_interpolate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), col("ts").cast("date").as("day"))
      .agg(sum(expr("cast(cast(value as decimal(18,4)) * 10000 as long)")).as("cents"))
    val spine = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"), explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
    val wPrev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("pd", last(when(col("cents").isNotNull, col("day")), ignoreNulls = true).over(wPrev))
      .withColumn("pv", last(col("cents"), ignoreNulls = true).over(wPrev))
      .withColumn("nd", first(when(col("cents").isNotNull, col("day")), ignoreNulls = true).over(wNext))
      .withColumn("nv", first(col("cents"), ignoreNulls = true).over(wNext))
      .select(col("user_id"), col("day"),
        when(col("cents").isNotNull, col("cents").cast("double"))
          .otherwise(col("pv") +
            (col("nv") - col("pv")) * datediff(col("day"), col("pd")) /
              datediff(col("nd"), col("pd")))
          .as("cents_filled"),
        col("cents").isNotNull.as("observed"))
  }

  /** DETERMINISTIC MinHash-LSH near-dup pairs
    * ([[Dedup.minhashDetNearDupPairs]]) — the hash-PROVEN form of the LSH
    * pipeline: md5-affine signatures, banding, bucket join and exact
    * verify all mirror verbatim in the DuckDB oracle, so the CANDIDATE
    * GENERATION itself (which pairs the banding surfaces, and in how many
    * bands) is cross-engine-checked — the property q36's xxhash64 fast
    * path can only pin differentially. */
  private def q212_minhash_det(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashDetNearDupPairs(par(s, Tables.documents(s, dir)),
      "doc_id", "text", thresh10 = 8)

  /** DETERMINISTIC 56-bit SimHash near-dup pairs
    * ([[Dedup.simhashDetNearDupPairs]]): md5-derived bit votes + pigeonhole
    * banding + exact Hamming verify, all integer → hash-exact oracle (the
    * provable twin of q37). */
  private def q213_simhash_det(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashDetNearDupPairs(par(s, Tables.documents(s, dir)),
      "doc_id", "text", maxDist = 3)

  /** Quantized nearest-centroid corpus sharding
    * ([[Similarity.centroidShardQuantized]]): the IVF/k-means assignment
    * step with deterministic seeds and exact integer distances — shard
    * membership is engine-exact, so the layout pass a 100 TB ANN pipeline
    * runs before index build gets a hash-exact oracle. */
  private def q214_centroid_shard(s: SparkSession, dir: String): DataFrame =
    Similarity.centroidShardQuantized(
      par(s, Tables.embeddings(s, dir)), "vec_id", "embedding", k = 8)

  /** Deterministic ORDER-SENSITIVE rolling fingerprint
    * ([[Dedup.fingerprintRollingDet]]) — the hash-proven twin of q40's
    * xxhash64 fold: polynomial rolling hash whose order sensitivity the
    * DuckDB oracle reproduces via a recursive B-power table. */
  private def q215_fingerprint_det(s: SparkSession, dir: String): DataFrame =
    par(s, Tables.documents(s, dir))
      .select(col("doc_id"), Dedup.fingerprintRollingDet(col("text")).as("fp"))

  /** WINNOWING fingerprint selection ([[Dedup.winnowFingerprintsDet]],
    * Schleimer et al. SIGMOD 2003): min-hash-per-window k-gram sampling
    * with the rightmost tie-break — the localized-overlap fingerprint
    * (MOSS) next to q40/q215's whole-document digests. Deterministic
    * md5 hashes, integer window minima → the oracle reproduces hash,
    * window minimum AND tie-break bit-for-bit. */
  private def q216_winnow_fingerprints(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowFingerprintsDet(par(s, Tables.documents(s, dir)), "doc_id", "text")
      .select(col("id").as("doc_id"), col("pos"), col("fp"))

  /** Distributed quantized K-MEANS ([[Similarity.kmeansQuantized]], k = 8,
    * 2 full Lloyd rounds): integer quantization + integer floor-div M-step
    * make EVERY iteration engine-exact — the oracle unrolls both rounds and
    * checks memberships, inertia AND the learned centroids (centroid_l1).
    * This is the clustering pass SemDeDup/IVF training runs at 100 TB. */
  private def q217_kmeans_quantized(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansQuantized(par(s, Tables.embeddings(s, dir)),
      "vec_id", "embedding", k = 8, iters = 2)

  /** SEMDEDUP ([[Similarity.semDedupQuantized]], k = 8, τ = 0.45):
    * cluster-then-dedup semantic deduplication (Abbas et al. 2303.09540) —
    * centroid shards, within-shard cosine-≥ τ pairs as an all-integer
    * cross-multiplied predicate, connected components, keep the min-id
    * representative. The oracle replays shards, edges AND the recursive
    * component walk, so the kept set itself is hash-proven. */
  private def q218_semdedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedupQuantized(par(s, Tables.embeddings(s, dir)),
      "vec_id", "embedding", k = 8)

  /** BPE MERGE LEARNING ([[graft.text.Bpe.learnMerges]], nMerges = 256 —
    * r7 verdict #2) — the tokenizer-training loop (Sennrich et al. ACL
    * 2016) at TOKENIZER scale: ONE corpus-scale Spark job (the word count),
    * then the delta-maintained driver loop — jobs ≪ merges, where r7 ran
    * one aggregation + argmax job per merge (capped at 64). The oracle
    * unrolls all 256 iterations, so the learned merge TABLE — order, pairs,
    * weights, AND the early-stop point where this corpus's 31-word vocab
    * exhausts its adjacent pairs — is hash-proven cross-engine. */
  private def q219_bpe_learn(s: SparkSession, dir: String): DataFrame =
    graft.text.Bpe.learnMerges(par(s, Tables.documents(s, dir)), "text", nMerges = 256)

  /** BPE TOKENIZATION end-to-end ([[graft.text.Bpe.applyMerges]]): train 8
    * merges on the corpus, then segment every document's words by replaying
    * them in rank order — the tokenize pass a training pipeline runs over
    * 100 TB (train on a sample/vocab once, segment everywhere; the apply
    * side is a zero-shuffle scan). Output: per-doc subword token and type
    * counts, hash-proven through BOTH the training and the segmentation. */
  private def q220_bpe_segment(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Bpe
    val docs = par(s, Tables.documents(s, dir))
    val merges = Bpe.learnMerges(docs, "text", nMerges = 8)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    docs.select(col("doc_id"), explode(graft.text.TextOps.tokens(col("text"))).as("w"))
      .select(col("doc_id"), explode(Bpe.applyMerges(col("w"), merges)).as("sub"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_subwords"),
        countDistinct(col("sub")).as("n_subword_types"))
  }

  /** MMR DIVERSIFIED RE-RANK ([[Similarity.mmrRerankQuantized]], c = 16,
    * k = 5, λ = 1/2, Carbonell & Goldstein SIGIR 1998): top-c relevance
    * candidates per query, then 5 greedy selections maximizing
    * rel − max-sim-to-selected — the redundancy-free top-k a RAG pipeline
    * serves. Sign-preserving scaled-squared-cosine integer scores; the
    * oracle unrolls every selection step, so the DIVERSIFIED ranking
    * itself is hash-proven. Queries = every 20th vector. */
  private def q221_mmr_rerank(s: SparkSession, dir: String): DataFrame = {
    val emb = par(s, Tables.embeddings(s, dir))
    Similarity.mmrRerankQuantized(
      emb.filter(col("vec_id") % 20 === 0), emb,
      "vec_id", "embedding", "vec_id", "embedding", c = 16, k = 5)
  }

  /** INTEGER-MASS PAGERANK ([[graft.graph.Graphs.pagerankInt]], 3 rounds,
    * total mass 10¹²) over the part co-purchase graph (q171's edges,
    * symmetrized+distinct): damping and teleport as floor divisions make
    * the full power iteration engine-exact — the oracle unrolls all three
    * message-passing rounds. Complements the INLINE q146/q164 pair (2
    * unrolled rounds over the directed bipartite customer→supplier graph,
    * incl. the dangling-mass variant): this is the reusable LIBRARY form —
    * arbitrary round count, persisted symmetrized edge list, undirected
    * similarity-graph semantics (no dangling by construction) — the shape
    * you point at a near-dup or co-occurrence graph. */
  private def q222_pagerank(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val e = li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("src"), col("y.pk").as("dst"))
    graft.graph.Graphs.pagerankInt(e, iters = 3)
  }

  /** SEMDEDUP with the PAPER's representative rule ([[Similarity
    * .semDedupQuantized]] `keepFarthest = true`, Abbas et al. §3): each
    * duplicate group keeps the member FARTHEST from its shard centroid —
    * the diversity-preserving choice — decided by integer sqdist with
    * min-id ties, so the kept set stays hash-proven. q218's min-id policy
    * is the simpler baseline; both share shards/edges/components. */
  private def q226_semdedup_far(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedupQuantized(par(s, Tables.embeddings(s, dir)),
      "vec_id", "embedding", k = 8, keepFarthest = true)

  /** DETERMINISTIC HYPERPLANE-LSH ANN ([[Similarity.lshDetTopK]], 4×8-bit
    * tables, k = 5) — the hash-PROVEN twin of q39: closed-form integer
    * hyperplanes, integer sign buckets, exact integer re-rank. The
    * APPROXIMATION ITSELF (which candidates each table surfaces) is
    * oracle-checked, the property q39's xxhash64-seeded float path can
    * only bound. Same query set as q38/q39 (label = 0). */
  private def q223_ann_lsh_det(s: SparkSession, dir: String): DataFrame = {
    val emb = par(s, Tables.embeddings(s, dir))
    Similarity.lshDetTopK(
      emb.filter(col("label") === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec")),
      emb.select("vec_id", "embedding"), k = 5)
  }

  /** DETERMINISTIC IVF ANN ([[Similarity.ivfDetTopK]], nlist = 8 trained
    * with 1 Lloyd round, nprobe = 2, k = 5) — the hash-PROVEN twin of q43:
    * integer k-means training (q217's chain), exact cell assignment,
    * deterministic probing, exact in-cell re-rank. The oracle replays the
    * ENTIRE index — train, layout, probe, search. */
  private def q224_ann_ivf_det(s: SparkSession, dir: String): DataFrame = {
    val emb = par(s, Tables.embeddings(s, dir))
    Similarity.ivfDetTopK(
      emb.filter(col("label") === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec")),
      emb.select("vec_id", "embedding"), k = 5, nlist = 8, iters = 1, nprobe = 2)
  }

  /** DETERMINISTIC PQ ANN ([[Similarity.pqDetTopK]], m = 4 subspaces,
    * ksub = 8 codes, 1 Lloyd round, k = 5) — the hash-PROVEN twin of
    * q199, completing the proven-twin matrix: codebook training, argmin
    * encoding, the per-query ADC tables and the Σ-ADC scan are ALL
    * integer-exact and replayed by the oracle. */
  private def q225_ann_pq_det(s: SparkSession, dir: String): DataFrame = {
    val emb = par(s, Tables.embeddings(s, dir))
    // |Q| bounded to a FIXED id range (vec_id < 3000), not a fraction of
    // the corpus: PQ-without-IVF is by definition an exhaustive ADC scan —
    // Θ(|Q|·n) — so a corpus-proportional query set grows the work
    // quadratically (measured 332 s at sf1 in the r8 sweep when |Q| scaled
    // with n). The det twin pins the TRAIN/ENCODE/ADC algebra, which a
    // fixed query set does just as well; the cell-gated deployment path is
    // q199. Same |Q|-bounded contract as q221's c ≤ 1024.
    Similarity.pqDetTopK(
      emb.filter(col("label") === 0 && col("vec_id") < 3000)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec")),
      emb.select("vec_id", "embedding"), k = 5, m = 4, ksub = 8, iters = 1)
  }

  /** INCREMENTAL MATERIALIZED-VIEW MAINTENANCE end-to-end
    * ([[graft.io.Versioned.changesWithImages]] →
    * [[graft.ops.Incremental.applyCountSumDeltas]]): commit orders as v1,
    * materialize the per-group COUNT/SUM view from v1, then commit a v2
    * that DELETES every ≡0 mod 11 key, UPDATES every surviving ≡0 mod 3
    * key (+7 cents — and every ≡0 mod 21 key also MIGRATES to the next
    * group, the case that breaks after-image-only feeds), and INSERTS a
    * negated twin for every ≡0 mod 5 key. The query refreshes the view
    * purely from the before/after change feed — O(changes)+O(groups), the
    * base table is never rescanned — while the oracle recomputes the v2
    * aggregate from scratch: any sign error, missed migration arm, or
    * dropped zero-count group breaks the hash.
    */
  private def q194_incremental_view(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Versioned
    val vt = new Versioned(s, java.nio.file.Files.createTempDirectory("graft_ivm").toString)
    val base = Tables.orders(s, dir).select(col("o_orderkey").as("k"),
      pmod(col("o_orderkey"), lit(7L)).as("grp"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    vt.commit("orders_ivm", base) // v1
    val survivors = base.filter(col("k") % 11 =!= 0)
      .withColumn("cents", when(col("k") % 3 === 0, col("cents") + 7).otherwise(col("cents")))
      .withColumn("grp", when(col("k") % 21 === 0, pmod(col("grp") + 1, lit(7L)))
        .otherwise(col("grp")))
    val inserts = base.filter(col("k") % 5 === 0)
      .select((-col("k") - 1).as("k"), pmod(-col("k") - 1, lit(7L)).as("grp"), col("cents"))
    vt.commit("orders_ivm", survivors.unionByName(inserts)) // v2 (overwrite)
    val view1 = vt.readVersion("orders_ivm", 1L)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_val"))
    graft.ops.Incremental.applyCountSumDeltas(
        view1, vt.changesWithImages("orders_ivm", 1L, 2L, "k"), "grp", "cents")
      .select(col("grp"), col("n_rows"), col("sum_val").as("sum_cents"))
  }

  /** Integer GRAM MATRIX ([[graft.sim.LinAlg.gramUpperQuantized]]):
    * G = XᵀX over the quantized embedding corpus, upper triangle — the
    * first pass of whitening/PCA/drift monitoring. One scan, map-side
    * partial sums, a dim²-cell shuffle regardless of corpus size; the
    * all-integer reduction is order-independent, so the matrix is
    * hash-exact. */
  private def q227_gram_matrix(s: SparkSession, dir: String): DataFrame =
    graft.sim.LinAlg.gramUpperQuantized(par(s, Tables.embeddings(s, dir)), "embedding")

  /** Exact integer COVARIANCE numerators ([[graft.sim.LinAlg
    * .covarianceUpperQuantized]]): n·Σxy − Σx·Σy per dim pair — the
    * covariance matrix with the single float division deferred forever,
    * so the full matrix is engine-exact (the q211 integer-cents
    * discipline applied to second moments). Same scan/shuffle shape as
    * q227 plus a broadcast-joined column-sum table. */
  private def q228_covariance(s: SparkSession, dir: String): DataFrame =
    graft.sim.LinAlg.covarianceUpperQuantized(par(s, Tables.embeddings(s, dir)), "embedding")

  /** TOP PRINCIPAL COMPONENT + corpus projection ([[graft.sim.LinAlg
    * .pcaProjectQuantized]], 3 power rounds): distributed integer Gram →
    * driver-side all-integer power iteration (w = G·v;
    * v ← (w·1024) div max|w|, truncation-toward-zero div) → zero-shuffle
    * projection of every vector onto the learned direction. The oracle
    * rebuilds G, unrolls all 3 rounds and reprojects — the EIGENVECTOR
    * and every projection are hash-proven. */
  private def q229_pca_project(s: SparkSession, dir: String): DataFrame =
    graft.sim.LinAlg.pcaProjectQuantized(par(s, Tables.embeddings(s, dir)),
      "vec_id", "embedding", iters = 3)

  /** BOUNDED K-CORE PEEL ([[graft.graph.Graphs.kcorePeel]], k = 80,
    * 3 rounds) over the part co-purchase graph (q171/q222's edges):
    * iteratively drop vertices with induced degree < k — the
    * dense-substructure filter (spam/bot rings, boilerplate hubs in a
    * near-dup graph). Membership is a pure integer degree threshold, so
    * the surviving set and its induced degrees are hash-exact; the
    * oracle replays all 3 peels. */
  private def q230_kcore(s: SparkSession, dir: String): DataFrame =
    graft.graph.Graphs.kcorePeel(copurchaseEdges(s, dir), k = 80, rounds = 3)

  /** SYNCHRONOUS LABEL PROPAGATION ([[graft.graph.Graphs.labelPropagate]],
    * 2 rounds, Raghavan et al. 2007) over the co-purchase graph:
    * communities by most-frequent-neighbor-label with min-label ties — no
    * RNG, no visit order, so the assignment after any fixed round count
    * is engine-exact and the oracle replays both rounds. The
    * community-detection complement to the q88/q177 connected components
    * (which merge everything touching; LPA splits dense regions). */
  private def q231_label_prop(s: SparkSession, dir: String): DataFrame =
    graft.graph.Graphs.labelPropagate(copurchaseEdges(s, dir), rounds = 2)

  /** TRAIN/TEST LEAKAGE AUDIT ([[Similarity.splitLeakageAudit]], k = 8
    * shards, τ = 0.45, 80/20 md5 split): semantic near-dup pairs whose
    * endpoints fall in DIFFERENT splits — the eval-integrity check every
    * training pipeline should run before trusting a held-out metric. The
    * pair machinery is q218's engine-exact integer predicate; the split is
    * the q114 md5 bucket rule; the id-sum digest pins the exact pair set,
    * so cross-split contamination is hash-proven, not sampled. */
  private def q232_split_leakage(s: SparkSession, dir: String): DataFrame = {
    val emb = par(s, Tables.embeddings(s, dir))
    val splits = emb.select(col("vec_id"),
      RelOps.hashSplit(col("vec_id"), Seq(("train", 0.8), ("test", 0.2))).as("split"))
    Similarity.splitLeakageAudit(emb, "vec_id", "embedding",
      splits, "vec_id", "split", k = 8)
  }

  /** EMBEDDING DRIFT MONITOR ([[graft.sim.LinAlg.meanShiftQuantized]]):
    * per-dimension integer mean-shift numerator n_B·Σ_A − n_A·Σ_B between
    * the label-0 cohort and the rest — the per-ingest-batch distribution
    * check that catches an upstream embedding-model or source-mix change
    * before it poisons an index. One scan, dim-cell shuffle, hash-exact. */
  private def q233_drift_shift(s: SparkSession, dir: String): DataFrame =
    graft.sim.LinAlg.meanShiftQuantized(par(s, Tables.embeddings(s, dir)),
      "embedding", col("label") === 0)

  /** HILBERT-CURVE LAYOUT ([[graft.functions.ZOrder.withHilbertIndex2D]],
    * 10-bit buckets, q141's exact dimensions and rollup): the
    * locality-superior space-filling curve next to q141's Z-order —
    * consecutive Hilbert indexes are always grid-adjacent (no cross-plane
    * Z-jumps), so range-partitioned files get tighter per-file bounding
    * boxes (HilbertSpec proves the adjacency invariant and the box-width
    * win on this very layout). Pure integer bit arithmetic, unrolled per
    * level in both engines → hash-exact. */
  private def q234_hilbert_layout(s: SparkSession, dir: String): DataFrame = {
    val bits = 10
    val base = Tables.orders(s, dir).select(
      (col("o_custkey") % 1024).cast("long").as("x"),
      (datediff(col("o_orderdate"), lit(java.sql.Date.valueOf("1970-01-01"))) % 1024)
        .cast("long").as("y"))
    graft.functions.ZOrder.withHilbertIndex2D(base, col("x"), col("y"), bits, "h")
      .groupBy(expr(s"h * 16 div ${1L << (2 * bits)}").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min("x").as("x_lo"), max("x").as("x_hi"),
        min("y").as("y_lo"), max("y").as("y_hi"))
  }

  /** COUNT-MIN SKETCH ([[graft.sketch.CountMin]], depth 4 × width 64,
    * Cormode & Muthukrishnan 2005) over event user traffic — the
    * MERGEABLE frequency sketch next to the exact SpaceSaving pair
    * (q172/q173): per-shard cell grids add cell-wise, so a 100 TB fleet
    * sketches locally and merges ≤ depth·width integers. The md5-affine
    * hash family makes the SKETCH ITSELF hash-exact (cells, estimates,
    * and each key's one-sided overcount est − exact ≥ 0 all replayed by
    * the oracle) — no seeded-murmur sketch can be cross-engine-checked
    * like this. */
  private def q235_countmin(s: SparkSession, dir: String): DataFrame = {
    import graft.sketch.CountMin
    val ev = Tables.events(s, dir).select(col("user_id"))
    val cells = CountMin.sketch(ev, "user_id", depth = 4, width = 64)
    val est = CountMin.estimates(ev.distinct(), "user_id", cells, depth = 4, width = 64)
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
    est.join(exact, "user_id")
      .select(col("user_id"), col("est"), col("n_exact"),
        (col("est") - col("n_exact")).as("overcount"))
  }

  /** ROBUST MAD OUTLIERS ([[RelOps.withMadFlag]], c = 3) on lineitem
    * prices per return flag — the heavy-tail-safe anomaly screen next to
    * q87's z-scores: medians are exact lower order statistics (the q119
    * rank discipline), the flag is the pure integer compare
    * |cents − med| > 3·mad, and the per-group rollup digests which mass
    * was flagged — all integer, hash-exact. Two window passes on ONE
    * group-key exchange. */
  private def q236_mad_outliers(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_returnflag").as("returnflag"),
      (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    RelOps.withMadFlag(li, "returnflag", col("cents"), c = 3L)
      .groupBy("returnflag")
      .agg(count(lit(1)).as("n"), max("med").as("med_cents"), max("mad").as("mad_cents"),
        sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"),
        coalesce(sum(when(col("is_out"), col("cents"))), lit(0L)).as("sum_outlier_cents"))
  }

  /** DSIR IMPORTANCE SCORING ([[graft.text.Importance.dsirScores]], Xie
    * et al. NeurIPS 2023; target = English docs, 256 hash buckets): every
    * document scored by Σ c_f·(log₂ p_target(f) − log₂ p_raw(f)) over
    * md5-hashed unigram features — the in-domain data selector that needs
    * only a target SAMPLE, no labels. Floor-log2 as len(bin(x)) − 1
    * keeps the whole scorer integer, so scores are hash-exact. Counts
    * shuffle ≤ buckets cells; the corpus itself never shuffles. */
  private def q237_dsir_scores(s: SparkSession, dir: String): DataFrame =
    graft.text.Importance.dsirScores(par(s, Tables.documents(s, dir)),
      "doc_id", "text", col("lang") === "en")

  /** RENDEZVOUS (HRW) SHARDING ([[graft.text.Importance
    * .withRendezvousOwner]], k = 8, Thaler & Ravishankar 1998): each doc
    * owned by the worker with the lexicographically largest
    * md5(key:worker) — the consistent-assignment scheme where adding a
    * worker moves only ~1/(k+1) of keys (ImportanceSpec measures the
    * property exactly) vs a full reshuffle for hash-mod-k. Zero-shuffle
    * per-row assignment; per-shard rollup digests the exact membership. */
  private def q238_rendezvous_shard(s: SparkSession, dir: String): DataFrame =
    graft.text.Importance.withRendezvousOwner(
        par(s, Tables.documents(s, dir)).select(col("doc_id")), "doc_id", k = 8)
      .groupBy("owner")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))

  /** MULTI-SOURCE BFS LAYERS ([[graft.graph.Graphs.bfsLayers]], seeds =
    * parts ≡ 0 mod 100, 3 rounds) over the co-purchase graph — the
    * blast-radius primitive: how far does a set of known-bad nodes reach
    * through a similarity graph in ≤ 3 hops? Integer hop minima,
    * replayed round by round by the oracle. */
  private def q239_bfs_layers(s: SparkSession, dir: String): DataFrame = {
    val seeds = Tables.part(s, dir).select(col("p_partkey"))
      .filter(col("p_partkey") % 100 === 0)
    graft.graph.Graphs.bfsLayers(copurchaseEdges(s, dir), seeds, "p_partkey", rounds = 3)
  }

  /** Per-segment OLS TREND ([[RelOps.olsTrendPair]]): is order value
    * drifting over time, per market segment? x = order date centered at a
    * fixed pivot (day 9300 ≈ mid-range), y = total price in integer
    * thousands — the caller-side coarsening that keeps the exact integer
    * rational n·Σxy − Σx·Σy / n·Σx² − (Σx)² inside int64 (envelope
    * documented on the operator). Slope sign/magnitude compare without
    * ever dividing — the trend monitor as one tiny-output aggregation. */
  private def q240_trend_ols(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).join(
      Tables.customer(s, dir).select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("segment")), "o_custkey")
    RelOps.olsTrendPair(
      o.select(col("segment"),
        (datediff(col("o_orderdate"), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("long") - 9300L).as("x"),
        call_function("div",
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long"),
          lit(100000L)).as("y")),
      "segment", col("x"), col("y"))
  }

  /** CUSUM CHANGE-POINT detection ([[RelOps.cusumMax]], Page 1954) on
    * each user's event-value series ordered by (ts, event_id): the
    * integer statistic max|n·S_i − i·S_n| bows out where the series mean
    * shifts; the argmax locates the change (ties → earliest). The
    * per-stream drift detector a monitoring pipeline runs per key — one
    * window exchange per group, integer-exact including the located
    * index. */
  private def q241_cusum(s: SparkSession, dir: String): DataFrame =
    RelOps.cusumMax(
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        (col("value").cast(DecimalType(18, 4)) * 10000).cast("long").as("v")),
      "user_id", col("ts"), col("event_id"), col("v"))

  /** TOP-2 PCA by integer deflation ([[graft.sim.LinAlg
    * .pca2ProjectQuantized]], 3 power rounds per component, shift 24):
    * component 1 as q229, then the exact integer rejection
    * r = q·‖v₁‖² − v₁·(qᵀv₁) (downshifted to re-fit int64), and the same
    * power iteration on the residual Gram — the 2-D embedding map of a
    * corpus with BOTH directions and projections hash-proven. */
  private def q242_pca2_project(s: SparkSession, dir: String): DataFrame =
    graft.sim.LinAlg.pca2ProjectQuantized(par(s, Tables.embeddings(s, dir)),
      "vec_id", "embedding", iters = 3)

  /** JOIN-SIZE ESTIMATION by count-min inner product ([[graft.sketch
    * .CountMin.joinSizeEstimate]], AGMS '96 / Cormode-Muthukrishnan '05;
    * depth 4 × width 64): sketch lineitem and orders on the order key,
    * estimate |lineitem ⋈ orders| as the min-over-rows inner product,
    * and report it next to the exact size — the one-sided (est ≥ true)
    * cardinality primitive a distributed optimizer consults before
    * choosing broadcast vs shuffle. Deterministic md5-affine cells ⇒ the
    * estimate itself is hash-exact. */
  private def q243_joinsize_sketch(s: SparkSession, dir: String): DataFrame = {
    import graft.sketch.CountMin
    // par(): the sketch build is md5-per-key CPU work and each table is one
    // parquet file = one input split locally — without the repartition the
    // whole hash pass ran on ONE core (measured: the md5 WAS the query)
    val a = CountMin.sketch(par(s, Tables.lineitem(s, dir).select(col("l_orderkey").as("k"))),
      "k", depth = 4, width = 64)
    val b = CountMin.sketch(par(s, Tables.orders(s, dir).select(col("o_orderkey").as("k"))),
      "k", depth = 4, width = 64)
    val exact = Tables.lineitem(s, dir).select(col("l_orderkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("true_join_size"))
    CountMin.joinSizeEstimate(a, b).crossJoin(exact)
      .select(col("est_join_size"), col("true_join_size"),
        (col("est_join_size") - col("true_join_size")).as("overestimate"))
  }

  /** PER-SHARD LABEL IMPURITY ([[Similarity.centroidShardQuantized]]'s
    * assignment + integer Gini): for each q214 centroid shard,
    * gini_num = n² − Σ_label c² (the Gini impurity times n², exact
    * integer) and the majority label with min-label ties — the cluster-
    * purity diagnostic that tells a semi-supervised curation pass which
    * shards are label-coherent enough to propagate from. */
  private def q244_shard_purity(s: SparkSession, dir: String): DataFrame = {
    val emb = par(s, Tables.embeddings(s, dir))
    val q = emb.select(col("vec_id").cast("long").as("__vid"),
      expr("transform(embedding, x -> cast(round(cast(x as double) * 1024) as bigint))").as("__qv"))
    val cents = q.orderBy(col("__vid").asc).limit(8)
      .select(col("__vid").as("centroid_id"), col("__qv").as("__cv"))
    val assign = q.crossJoin(broadcast(cents))
      .withColumn("__d", graft.functions.VectorExprs.quantized_sqdist(col("__qv"), col("__cv")))
      .groupBy(col("__vid"))
      .agg(min(struct(col("__d"), col("centroid_id"))).as("m"))
      .select(col("__vid"), col("m.centroid_id").as("centroid_id"))
    val counts = assign
      .join(emb.select(col("vec_id").as("__vid"), col("label").cast("long").as("label")), "__vid")
      .groupBy(col("centroid_id"), col("label"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("centroid_id"))
      .agg(sum(col("c")).as("n"),
        (sum(col("c")) * sum(col("c")) - sum(col("c") * col("c"))).as("gini_num"),
        max(struct(col("c"), (-col("label")).as("neg"))).as("m"))
      .select(col("centroid_id"), col("n"), col("gini_num"),
        (-col("m.neg")).as("majority_label"), col("m.c").as("majority_n"))
  }

  /** REAL H.264 DECODE, oracle-proven (r7 verdict #8 — the last codec
    * boundary, moved to the entropy layer): genuine baseline-profile
    * Annex B streams ([[graft.multimodal.H264]]) — NAL framing, emulation
    * prevention (payload bytes 0x00-0x03 occur by construction), Exp-Golomb
    * SPS/PPS/IDR-slice headers, I_PCM macroblock decode, 4:2:0 chroma,
    * JFIF color conversion — per-frame channel sums plus the
    * position-weighted red sum that pins MACROBLOCK RASTER PLACEMENT.
    * Uniform-gray MBs keep every pixel exact (R=G=B=Y at flat chroma), so
    * DuckDB recomputes everything from the closed form without seeing a
    * byte. What stays out — CAVLC/CABAC residual decoding — throws loudly
    * and is recorded in DESIGN.md's r8 decision record. Fixture cached
    * like q187's (generation is test data, the decode is the operator). */
  private def q245_h264_frames(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = cachedFixture(s, s"h264:$dir",
      Multimodal.syntheticH264FromIds(par(s, Tables.documents(s, dir)), "doc_id"))
    Multimodal.videoFrameStats(media)
      .select(col("media_id").as("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("frame_ts_ms"), col("n_pixels"),
        col("sum_r"), col("sum_g"), col("sum_b"), col("wsum_r"))
  }

  /** DATA-MIXTURE SAMPLING to a token budget ([[RelOps.mixtureSample]]) —
    * the source-mixing recipe step (Pile weights / DoReMi mixtures): five
    * targeted sources at weights 50:8:4:2:1 against a 3000-token budget, so
    * src0's target EXCEEDS its supply (rate clamps at 1 — kept whole) while
    * the tail sources down-sample to single-digit percentages and the 15
    * untargeted sources drop entirely. Membership is the all-integer
    * md5-threshold h16·avail·Σw < budget·w·65536 — no float anywhere — so
    * the per-source rollup (kept docs and tokens) is hash-exact. */
  private def q246_mixture_sample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val targets = Seq("src0" -> 50L, "src1" -> 8L, "src2" -> 4L, "src3" -> 2L, "src4" -> 1L)
    RelOps.mixtureSample(docs, "source", TextOps.tokenCount(col("text")),
        col("doc_id"), targets, totalBudget = 3000L)
      .groupBy(col("source"))
      .agg(max(col("__avail")).as("avail_tokens"),
        count(lit(1)).as("kept_docs"),
        sum(TextOps.tokenCount(col("text"))).as("kept_tokens"))
  }

  /** STREAMING NEAR-DUP INGEST GATE ([[graft.streaming.NearDupGate]]):
    * every drained document tagged against the incrementally-maintained
    * MinHash band index — one long of RocksDB state per occupied bucket,
    * min-id keeper semantics (order-free, so the bounded drain is
    * engine-exact: the oracle recomputes keepers as GROUP BY min over the
    * q212 md5-affine banding). Output: per doc, how many of its 8 bands
    * already held a smaller-id near-dup, and the candidate verdict. The
    * cross-batch property — batch N gated against batches 1..N−1's index
    * via a stable checkpoint — is NearDupGateSpec's two-drain test. */
  private def q247_stream_neardup_gate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    // single-file fixture: one micro-batch, so the drained output equals
    // the batch closed form regardless of file-source batching
    val fixture = docsStreamFixture(s, dir, files = 1)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    graft.streaming.NearDupGate.gateOverParquet(s, fixture, schema,
      name = s"q247_gate_${java.util.UUID.randomUUID().toString.replace("-", "")}")
  }

  /** EXACT quantiles over an unbounded integer domain WITHOUT a global
    * sort ([[graft.sketch.RefineSelect]]): iterative bucket-refinement
    * selection — O(log_B range) passes, each ONE narrow scan combined
    * map-side into ≤ B bucket counts, vs q58's full row sort and q119's
    * bounded-domain histogram. Measure: extended price in integer cents
    * (floor(x*100) — floor of an IEEE product is engine-exact, where a
    * bare double→int cast rounds in some engines and truncates in
    * others). The oracle replays rank = ceil(p·n), value = rank-th
    * smallest via one window. */
  private def q248_refine_quantiles(s: SparkSession, dir: String): DataFrame =
    graft.sketch.RefineSelect.quantilesDF(s, Tables.lineitem(s, dir),
      floor(col("l_extendedprice") * lit(100)).cast("long"),
      Seq("p50_cents" -> 0.5, "p90_cents" -> 0.9, "p99_cents" -> 0.99))

  /** PER-GROUP exact quantiles over an unbounded value domain
    * (RefineSelect.selectRanksByGroup) — the fourth quadrant of the
    * family: q58 sorts, q119 histograms a bounded domain with unbounded
    * groups, q248 refines one global domain, THIS refines per group with
    * a bounded group count. All groups advance in the same passes: each
    * pass is one broadcast-joined, map-side-combined scan regardless of
    * how many groups remain unresolved. */
  private def q249_group_quantiles(s: SparkSession, dir: String): DataFrame =
    graft.sketch.RefineSelect.groupQuantilesDF(s, Tables.lineitem(s, dir),
      "l_returnflag",
      floor(col("l_extendedprice") * lit(100)).cast("long"),
      Seq("p25_cents" -> 0.25, "p50_cents" -> 0.5, "p90_cents" -> 0.9))
      .withColumnRenamed("l_returnflag", "returnflag")

  /** EXACT equi-depth range binning (RefineSelect.exactRangeBounds +
    * binOf): the skew-proof alternative to repartitionByRange's reservoir
    * sample for balanced 100 TB writes — cut points are true order
    * statistics, so per-bin counts deviate from n/k only by ties AT a
    * bound. Output: per-bin row count and value range, the balance
    * evidence itself. */
  private def q250_balanced_range_bins(s: SparkSession, dir: String): DataFrame = {
    import graft.sketch.RefineSelect
    val cents = floor(col("l_extendedprice") * lit(100)).cast("long")
    val li = Tables.lineitem(s, dir)
    val bounds = RefineSelect.exactRangeBounds(li, cents, numBins = 8)
    li.select(cents.as("v"))
      .groupBy(RefineSelect.binOf(col("v"), bounds).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min("v").as("min_cents"), max("v").as("max_cents"))
  }

  /** TOKEN-MASS corpus percentiles (RefineSelect weighted): the smallest
    * document length L such that ceil(p·totalTokens) of the corpus's
    * TOKENS live in documents of ≤ L tokens — the statistic sequence-
    * packing and shard-sizing decisions actually need (a row-count median
    * says where the documents are; the token-mass median says where the
    * DATA is). Same refinement passes, bucket counts become bucket token
    * sums. */
  private def q251_tokenmass_quantiles(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokenCount(col("text"))
    graft.sketch.RefineSelect.quantilesDF(s, Tables.documents(s, dir),
      toks, Seq("p50_len" -> 0.5, "p90_len" -> 0.9), weight = toks)
  }

  /** DISTRIBUTION DRIFT MONITOR ([[graft.sketch.Drift.binnedDrift]]):
    * token-length drift of the odd-id half of the corpus against the
    * even-id half — exact equi-depth bins from the REFERENCE side
    * (RefineSelect bounds), per-bin counts both sides, and the
    * integer-scaled total-variation term |n_ref·N_cur − n_cur·N_ref| —
    * all-integer, so the monitor a PSI would approximate is hash-exact
    * here. */
  private def q252_dist_drift(s: SparkSession, dir: String): DataFrame =
    graft.sketch.Drift.binnedDrift(Tables.documents(s, dir),
      col("doc_id") % 2 === 0, TextOps.tokenCount(col("text")), numBins = 8)

  /** The drift monitor IN the ingest stream
    * ([[graft.sketch.Drift.driftOverParquet]]): reference bins and counts
    * frozen from the even-id snapshot, the odd-id half arrives as a
    * parquet stream, and each micro-batch maintains only k bin counts of
    * streaming state (complete mode = "distribution so far"). A bounded
    * drain over the same rows is row-identical to the batch monitor, so
    * q253's oracle IS q252's — the q51/q60 streaming-equals-batch
    * pattern applied to data-quality gating. */
  private def q253_stream_drift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    // 8 files: the in-stream tokenCount parallelizes across input splits
    // (complete-mode counting is batching-independent, spec-proven)
    val fixture = docsStreamFixture(s, dir, files = 8)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    graft.sketch.Drift.driftOverParquet(s,
      refDf = Tables.documents(s, dir).where(col("doc_id") % 2 === 0),
      refValue = TextOps.tokenCount(col("text")),
      parquetGlob = fixture, schema = schema,
      streamValue = TextOps.tokenCount(col("text")),
      streamFilter = col("doc_id") % 2 === 1,
      numBins = 8,
      name = s"q253_drift_${java.util.UUID.randomUUID().toString.replace("-", "")}")
  }

  /** ASYMMETRIC CONTAINMENT dedup, exact baseline
    * ([[Dedup.containmentPairsExact]], C(A,B) = |A∩B|/|A| ≥ 0.8 over
    * 3-gram shingle sets): the boilerplate/quotation relation Jaccard
    * can't see — a short doc fully quoted inside a long one scores J ≈
    * |A|/|B| (arbitrarily low) but C = 1. O(n²) size-prefiltered pairs:
    * CORRECTNESS BASELINE, bench-excluded like q35; the benched scale
    * path is q255 (identical output, indexed candidates). */
  private def q254_containment_pairs(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairsExact(Tables.documents(s, dir), "doc_id", "text", thresh10 = 8)

  /** [[Dedup.containmentPairsIndexed]] — same exact containment relation
    * as q254, candidates from the rare-shingle inverted-index join (df
    * pass → df-ascending prefix → equi-join; no cross join). SAME ORACLE
    * as q254: the scale path must reproduce the baseline bit-for-bit,
    * which is the whole claim of exact prefix filtering. */
  private def q255_containment_indexed(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairsIndexed(par(s, Tables.documents(s, dir)), "doc_id", "text", thresh10 = 8)

  /** The GOPHER RULE BATTERY ([[graft.text.TextOps.gopherFlags]], Rae et
    * al. 2021 §A1.1): seven named integer/rational quality rules + the
    * composite verdict, one codegen'd projection, zero shuffles. Stop
    * list localized to the synthetic corpus's function words {the, a}
    * (the paper's English eight is the default; the corpus vocabulary
    * contains only these two of them, which would pin the stopword rule
    * false everywhere — the lexicon is deployment config, the rule shape
    * is what the oracle checks). */
  private def q256_gopher_rules(s: SparkSession, dir: String): DataFrame =
    TextOps.gopherFlags(Tables.documents(s, dir), "text", stopWords = Seq("the", "a"))
      .select(col("doc_id"), col("ok_word_count"), col("ok_mean_word_len"),
        col("ok_symbol_ratio"), col("ok_bullet_lines"), col("ok_ellipsis_lines"),
        col("ok_alpha_words"), col("ok_stopwords"), col("gopher_pass"))

  /** The GOPHER REPETITION BATTERY ([[graft.text.TextOps
    * .gopherRepetitionFlags]], Rae et al. 2021 §A1.1 second half — r9
    * verdict next-round #6): the 13 repetition filters (duplicate
    * line/paragraph occurrence and character fractions, top 2-4-gram
    * character share, duplicated 5-10-gram positional character coverage)
    * plus the composite, computed by one codegen'd per-document kernel —
    * a zero-shuffle projection, scan-speed at 100 TB. The oracle
    * recomputes every statistic relationally (window counts for duplicate
    * groups, a (count DESC, chars DESC, gram ASC) window for the top
    * gram, and a DISTINCT positional-coverage union for duplicated
    * n-grams), so all 13 flags and the verdict are hash-proven. Completes
    * q256 into the paper's full production quality gate. */
  private def q258_gopher_repetition(s: SparkSession, dir: String): DataFrame =
    TextOps.gopherRepetitionFlags(Tables.documents(s, dir), "text")
      .select((col("doc_id") +: gopherRepetitionFlagCols.map(col)) :+ col("repetition_pass"): _*)

  private val gopherRepetitionFlagCols = Seq(
    "ok_dup_lines", "ok_dup_paras", "ok_dup_line_chars", "ok_dup_para_chars",
    "ok_top2_chars", "ok_top3_chars", "ok_top4_chars",
    "ok_dup5_chars", "ok_dup6_chars", "ok_dup7_chars", "ok_dup8_chars",
    "ok_dup9_chars", "ok_dup10_chars")

  /** BATCHED DISTRIBUTED BPE ([[graft.text.Bpe.learnMergesDistributed]],
    * nMerges = 256 — r9 verdict "what's missing" #1): the cluster-resident
    * trainer, whose r9 contract capped at 64 merges (one aggregation +
    * argmax job PER merge), now accepts per round a greedy prefix of the
    * top pair counts that is PROVABLY sequential BPE's next run of choices
    * (symbol-disjointness + a minted-pair count cap — see the trainer's
    * scaladoc for the argument), so a tokenizer-range merge budget costs
    * O(rounds) jobs. SAME ORACLE TEXT as q219: the batched path must
    * reproduce the sequential merge table — order, pairs, weights, and
    * this corpus's early-exhaustion point — bit-for-bit. */
  private def q257_bpe_distributed(s: SparkSession, dir: String): DataFrame =
    graft.text.Bpe.learnMergesDistributed(par(s, Tables.documents(s, dir)), "text", nMerges = 256)

  /** The CORPUS-PREP PIPELINE END-TO-END (r9 verdict next-round #7) — the
    * brief's "LLM training-data pipeline" story told once, as ONE fused
    * dataflow over `documents`:
    *
    *   1. QUALITY: [[graft.text.TextOps.gopherFlags]] `gopher_pass` —
    *      a zero-shuffle codegen'd predicate INSIDE the scan projection;
    *   2. DECONTAMINATE: drop the held-out benchmark (doc_id ≡ 0 mod 10)
    *      and every training doc sharing ≥ half its distinct word 5-grams
    *      with it — the benchmark gram set BROADCASTS (benchmarks are
    *      small by construction), one left join + ONE per-doc aggregate
    *      computes n_grams and n_hits together (q133 ran two);
    *   3. DEDUP: asymmetric containment ([[graft.dedup.Dedup
    *      .containmentPairsIndexed]], τ = 0.8) — drop any doc contained
    *      in a STRICTLY larger survivor, or in an equal-size survivor of
    *      smaller id (mutual near-copies keep min id, deterministic);
    *   4. MIXTURE SAMPLE: [[graft.ops.RelOps.mixtureSample]] to the q246
    *      source weights under a 3000-token budget — a broadcast join +
    *      codegen'd integer predicate, the corpus never shuffles;
    *   5. TOKEN-BUDGET PACKING: q113's per-shard running-sum bins
    *      (4096-token context windows, shard = doc_id mod 8).
    *
    * Stage boundaries carry (doc_id, source, text) or bare ids — the only
    * shuffles are the per-doc gram aggregate, the containment index joins,
    * and the final 8-shard pack window. Stages 1-2 FUSE into the scan
    * pass (quality is a codegen'd predicate below any exchange; the gram
    * probe broadcasts); the decontaminated survivor set is then
    * checkpointed ONCE at the dedup boundary, because the containment
    * index consumes its input several times (re-deriving the quality
    * chain per consumer measured 3× slower). PlanSpec asserts both
    * halves (scan-fused quality, broadcast probes, no cartesian). The
    * oracle replays all five stages in one SQL chain — stage
    * cardinalities at sf0.01: 500 → 234 → 208 → 201 → 12 packed rows,
    * every stage live. */
  private def q259_corpus_prep(s: SparkSession, dir: String): DataFrame =
    corpusPrepStages(s, dir, checkpointDedupBoundary = true).packed

  /** q259's stages, exposed so PlanSpec can assert the fused shape of the
    * PRE-boundary fragment (the localCheckpoint at the dedup boundary
    * hides its upstream from the final physical plan by design). */
  private[graft] case class CorpusPrepStages(
      quality: DataFrame, decon: DataFrame, packed: DataFrame)
  private[graft] def corpusPrepStages(s: SparkSession, dir: String,
      checkpointDedupBoundary: Boolean): CorpusPrepStages = {
    import org.apache.spark.sql.expressions.Window
    val docs = par(s, Tables.documents(s, dir))
    val qualityRaw = TextOps.gopherFlags(docs, "text", stopWords = Seq("the", "a"))
      .filter(col("gopher_pass"))
      .select("doc_id", "source", "text")
    // quality survivors feed BOTH the gram explode and the decon join —
    // materialize once (same rationale as the dedup boundary below); the
    // conjunction re-evaluates every gopher rule's tokenization per
    // consumer otherwise
    val quality =
      if (checkpointDedupBoundary) qualityRaw.localCheckpoint(eager = false) else qualityRaw
    val benchGrams = docs.filter(col("doc_id") % 10 === 0)
      .select(explode(Dedup.shingleSet(col("text"), 5)).as("gram"))
      .distinct()
    val cleanIds = quality.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), explode(Dedup.shingleSet(col("text"), 5)).as("gram"))
      .join(broadcast(benchGrams.withColumn("__b", lit(true))), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("__b")).as("n_hits"))
      .filter(col("n_hits") * 2 < col("n_grams"))
      .select("doc_id")
    // the containment index derefs its input once per internal stage (df
    // pass, prefix, index, verify a/b) — checkpoint the decontaminated
    // survivors ONCE at this boundary instead of re-running the
    // scan+quality+gram-aggregate chain per deref (measured 6.2 → ~2 s at
    // sf0.1). This is the chain's one deliberate materialization; at
    // 100 TB it is the filtered corpus (already a fraction of the input)
    // landing on the shuffle tier once, which a multi-consumer exchange
    // would do anyway.
    val deconRaw = quality.join(cleanIds, "doc_id")
    val decon =
      if (checkpointDedupBoundary) deconRaw.localCheckpoint(eager = false) else deconRaw
    val sizes = decon.select(col("doc_id"), size(Dedup.shingleSet(col("text"), 3)).cast("long").as("n"))
    val dropIds = Dedup.containmentPairsIndexed(decon, "doc_id", "text", thresh10 = 8)
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .filter(col("n_b") > col("n_a") || (col("n_b") === col("n_a") && col("id_b") < col("id_a")))
      .select(col("id_a").as("doc_id")).distinct()
    val deduped = decon.join(dropIds, Seq("doc_id"), "left_anti")
    val sampled = RelOps.mixtureSample(deduped, "source",
      TextOps.tokenCount(col("text")), col("doc_id"),
      targets = Seq("src0" -> 50L, "src1" -> 8L, "src2" -> 4L, "src3" -> 2L, "src4" -> 1L),
      totalBudget = 3000L)
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val packed = sampled
      .select(col("doc_id"), col("source"), (col("doc_id") % 8).as("shard"),
        TextOps.tokenCount(col("text")).as("n_tok"))
      .withColumn("toks_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("shard"), col("n_tok"),
        expr("toks_before div 4096").as("bin"))
    CorpusPrepStages(qualityRaw, deconRaw, packed)
  }

  /** The part co-purchase edge list (parts sharing an order), the shared
    * input of q171/q222/q230/q231. */
  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("src"), col("y.pk").as("dst"))
  }

  /** UNIGRAM-LM TOKENIZER TRAINING ([[graft.text.Unigram]] — Kudo 2018,
    * the SentencePiece-unigram family next to q219's BPE): seed substring
    * vocabulary (all single code points + top multis by weighted
    * occurrence count) then 3 hard-EM rounds — Viterbi recount under Q16
    * fixed-point log-probabilities, add-one smoothed. ONE corpus-scale
    * job (the distinct-word count), EM on the Heaps-bounded word table.
    * The oracle replays seeding and every round with BRUTE-FORCE
    * segmentation — all 2^(n−1) cut masks per word ranked by
    * (Σ splg DESC, pieces ASC, mask ASC) — so the hash proves the DP
    * itself, piece by piece, count by count. */
  private def q260_unigram_vocab(s: SparkSession, dir: String): DataFrame = {
    val model = graft.text.Unigram.train(par(s, Tables.documents(s, dir)), "text",
      maxPieceLen = 5, maxVocab = 128, emRounds = 3)
    graft.text.Unigram.vocabDf(s, model)
  }

  /** CORPUS TOKENIZATION under the trained unigram model
    * ([[graft.functions.UnigramExprs.unigram_segment]]): a ZERO-SHUFFLE
    * projection — the model rides the plan to the executors and each
    * document segments in place (per-task word memo, Heaps-bounded), so
    * tokenizing 100 TB is exactly one scan. `seg` pins the full piece
    * sequence of every document in the hash; `n_pieces` is the token
    * count a budget/packing stage consumes. */
  private def q261_unigram_segment(s: SparkSession, dir: String): DataFrame = {
    val docs = par(s, Tables.documents(s, dir))
    val model = graft.text.Unigram.train(docs, "text",
      maxPieceLen = 5, maxVocab = 128, emRounds = 3)
    docs.select(col("doc_id"),
        graft.functions.UnigramExprs.unigram_segment(col("text"), model).as("u"))
      .select(col("doc_id"), col("u.n_pieces").as("n_pieces"), col("u.seg").as("seg"))
  }

  /** UNIGRAM VOCABULARY PRUNING ([[graft.text.Unigram.pruneTable]] — the
    * SentencePiece OUTER loop's signature step, hard-EM form): after the
    * q260 EM rounds, every multi-code-point piece is scored by the corpus
    * likelihood it would sacrifice if removed — Σ freq · (best Viterbi
    * score − best score with the piece EXCLUDED), probed only for words
    * whose best path uses the piece (all others contribute exactly 0) —
    * and the 48 least-important pieces are marked pruned (importance ASC,
    * piece ASC; singles are the segmentability floor and always survive).
    * The oracle re-derives every importance from the brute-force mask
    * table: alt = max score over the masks NOT containing the piece. */
  private def q262_unigram_prune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = graft.text.Unigram.wordWeights(par(s, Tables.documents(s, dir)), "text")
    val model = graft.text.Unigram.trainFromWords(words,
      maxPieceLen = 5, maxVocab = 128, emRounds = 3)
    graft.text.Unigram.pruneTable(words, model, nPrune = 48)
      .toSeq.toDF("piece", "cnt", "loss", "kept")
  }

  /** KNESER–NEY BIGRAM PERPLEXITY ([[graft.text.LangModel.trainKneserNey]]
    * → [[graft.text.LangModel.scoreKnQ16]]) — the smoothing the CCNet
    * filter's KenLM actually uses, next to q198's add-one baseline:
    * absolute discount d = 3/4 with add-one-floored continuation backoff,
    * every probability an exact rational, per-doc score Σ of Q16
    * fixed-point negative log2s via the codegen'd
    * [[graft.functions.LogExprs.flog2_q16]] kernel. Same 80% hash-split
    * and minCount=100 vocabulary as q198, so the two scorers are directly
    * comparable rows. Training is one pass (pairs is the sufficient
    * statistic; contexts/continuations/totals derive from it); scoring's
    * one big shuffle is the (w1,w2) facts⋈pairs join; KnSpec proves
    * Σ_w2 P(w2|w1) = 1 exactly in BigInt rationals on the trained frames. */
  private def q263_kneser_ney(s: SparkSession, dir: String): DataFrame = {
    val docs = par(s, Tables.documents(s, dir))
    val isTrain = RelOps.hashSampleFilter(col("doc_id"), 0.8)
    val lm = graft.text.LangModel.trainKneserNey(
      docs.filter(isTrain), "doc_id", "text", minCount = 100L)
    graft.text.LangModel.scoreKnQ16(docs.filter(!isTrain), "doc_id", "text", lm)
  }

  /** CCNET PERPLEXITY BUCKETS (Wenzek et al. 2020 §4.3, the head/middle/
    * tail split CCNet publishes its corpus in): q263's Kneser–Ney scores
    * cut into RANK THIRDS per language — rank by (mean_nlg2_q16, doc_id),
    * bucket = head/middle/tail — all-integer, so the oracle reproduces
    * every boundary doc exactly (CCNet cuts on perplexity value; rank
    * thirds are the same split with a deterministic tie policy). Plan
    * shape: scoring as q263, then one shuffle on lang for the per-language
    * rank window. At extreme per-language cardinality the variant is
    * value-cuts (two exact tercile scores per lang, broadcast back); the
    * rank window keeps exact per-doc reproducibility and languages
    * partition the sort. */
  private def q266_ccnet_buckets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = par(s, Tables.documents(s, dir))
    val isTrain = RelOps.hashSampleFilter(col("doc_id"), 0.8)
    val lm = graft.text.LangModel.trainKneserNey(
      docs.filter(isTrain), "doc_id", "text", minCount = 100L)
    val scored = graft.text.LangModel
      .scoreKnQ16(docs.filter(!isTrain), "doc_id", "text", lm)
    val w = Window.partitionBy("lang").orderBy(col("mean_nlg2_q16"), col("doc_id"))
    scored.join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("mean_nlg2_q16"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
      .select(col("doc_id"), col("lang"), col("mean_nlg2_q16"),
        when(col("rn") * 3 <= col("n"), "head")
          .when(col("rn") * 3 <= col("n") * 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Deterministic structured-page fixture for q268: `documents.text` is
    * a flat word stream (no newlines, no punctuation), so C4's line rules
    * would be vacuously constant on it. Following q166's synthetic-payload
    * precedent (PPM bytes from ids), each doc is re-laid-out as a page
    * whose STRUCTURE is a pure function of (doc_id, text): lines of
    * 3 + doc_id%8 words, terminal punctuation cycling '.', '!', none, '?'
    * by (line + doc_id) % 4, plus injected pathologies — a lorem-ipsum
    * line every 13th doc, a JS-warning line every 17th, a brace line
    * every 19th, and a short punctuated line every 7th — so every C4 rule
    * fires on a deterministic, oracle-reproducible subset. */
  private def c4PageFixture(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"),
      (pmod(col("doc_id"), lit(8L)) + 3L).as("__k"))
    .withColumn("__nl", expr("(size(__toks) + __k - 1) div __k"))
    .withColumn("__lines", when(col("__nl") > 0L,
        transform(sequence(lit(0L), col("__nl") - 1L), i =>
          concat(
            array_join(slice(col("__toks"),
              (i * col("__k") + 1L).cast("int"), col("__k").cast("int")), " "),
            element_at(array(lit("."), lit("!"), lit(""), lit("?")),
              (pmod(i + col("doc_id"), lit(4L)) + 1L).cast("int")))))
      .otherwise(array().cast("array<string>")))
    .withColumn("__extras", filter(array(
        when(pmod(col("doc_id"), lit(13L)) === 0L,
          lit("Lorem ipsum dolor sit amet.")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(17L)) === 0L,
          lit("please enable javascript to continue browsing.")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(19L)) === 0L,
          lit("body { display: none }")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7L)) === 0L,
          lit("too short here.")).otherwise(lit(""))),
      x => length(x) > 0))
    .select(col("doc_id"),
      array_join(concat(col("__lines"), col("__extras")), "\n").as("page"))

  /** C4 CLEANING RULES ([[TextOps.c4Flags]], Raffel et al. 2020 §2.2) —
    * the line + page filter battery C4 was built with, run over the
    * deterministic structured-page fixture: line retention (terminal
    * punctuation, ≥ 5 words, no "javascript"), page verdicts (≥ 3
    * sentences after filtering, no "lorem ipsum", no brace), and
    * `clean_md5` pinning the exact retained-line output. Every rule
    * fires on a doc_id-determined subset (line width 3..10 words makes
    * the 5-word rule split the corpus; the punctuation cycle drops every
    * 4th line; injections hit the lorem/JS/brace rules). */
  private def q268_c4_rules(s: SparkSession, dir: String): DataFrame =
    TextOps.c4Flags(c4PageFixture(par(s, Tables.documents(s, dir))), "page")
      .select(col("doc_id"), col("n_lines"), col("n_kept"), col("n_sentences"),
        col("has_lorem"), col("has_brace"), col("c4_pass"), col("clean_md5"))

  /** C4 THREE-SENTENCE-SPAN DEDUP (Raffel et al. 2020 §2.2, the corpus-
    * level step after [[TextOps.c4Flags]]'s local rules: "we discard all
    * but one of any three-sentence span occurring more than once") over
    * the q268 structured pages. Sentences = terminal-punctuation-
    * delimited segments of the newline-flattened page; spans = sliding
    * windows of 3; the RETAINED occurrence of each duplicated span is the
    * (doc_id, position)-smallest, every other occurrence counts as
    * removed. One shuffle — the hash-by-span-content exchange every
    * exact-dedup pass pays — then a per-doc aggregate. Summary row per
    * page: (n_sentences, n_spans, n_removed), all integers, hash-exact. */
  private def q269_c4_span_dedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sents = c4PageFixture(par(s, Tables.documents(s, dir)))
      .select(col("doc_id"),
        transform(
          regexp_extract_all(regexp_replace(col("page"), "\n", " "),
            lit("[^.!?]+[.!?]"), lit(0)),
          x => trim(x)).as("sents"))
    val spans = sents.filter(size(col("sents")) >= 3)
      .select(col("doc_id"), col("sents"),
        explode(sequence(lit(1), size(col("sents")) - 2)).as("si"))
      .select(col("doc_id"), col("si").cast("long").as("si"),
        array_join(slice(col("sents"), col("si"), lit(3)), " ").as("span"))
    val wCnt = Window.partitionBy("span")
    val wRn = Window.partitionBy("span").orderBy(col("doc_id"), col("si"))
    val perDoc = spans
      .withColumn("cnt", count(lit(1)).over(wCnt))
      .withColumn("rn", row_number().over(wRn))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("cnt") > 1L && col("rn") > 1, 1)).as("n_removed"))
    sents.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("sents")).cast("long").as("n_sentences"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** STREAMING C4 GATE — the q268 battery run as a Structured Streaming
    * drain (parquet file source over the 8-file docs fixture, AvailableNow,
    * append-mode memory sink): [[c4PageFixture]] and [[TextOps.c4Flags]]
    * are stateless projections, so the stream form is row-identical to
    * the batch form BY CONSTRUCTION and q270 shares q268's oracle — the
    * q252/q253 streaming-equals-batch discipline applied to the quality
    * gate (the shape a production ingest runs: filter at the door, not in
    * a nightly batch). */
  private def q270_stream_c4_gate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val fixture = docsStreamFixture(s, dir, files = 8)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val name = s"q270_c4_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val src = s.readStream.schema(schema).parquet(fixture)
    val q = TextOps.c4Flags(c4PageFixture(src), "page")
      .select(col("doc_id"), col("n_lines"), col("n_kept"), col("n_sentences"),
        col("has_lorem"), col("has_brace"), col("c4_pass"), col("clean_md5"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name)
  }

  /** FINEWEB-STYLE PREP CHAIN — the round-10 stages composed end-to-end,
    * the way a production corpus actually flows (q259 composes the
    * Gopher-era stages; this is its successor built from the newer
    * operators): (1) the C4 page gate over the structured pages
    * ([[TextOps.c4Flags]]); (2) Kneser–Ney perplexity on the held-out 80%
    * split ([[graft.text.LangModel.scoreKnQ16]]), keeping the head+middle
    * CCNet buckets per language — ranks computed over the C4-surviving
    * held-out set (filter first, THEN rank: bucket membership is relative
    * to the pool that reaches the stage); (3) exact duplicated-window
    * strip via the suffix ranks ([[graft.dedup.SuffixRanks]]), dropping
    * docs with ≥ 20% duplicated 8-token positions; (4) a per-(lang,
    * source) corpus-composition summary. Every stage is individually
    * oracle-proven (q268/q263/q266/q267); the chain's oracle re-assembles
    * their CTE families with disjoint names, so the COMPOSITION —
    * filter-order, pool definitions, join keys — is what this query's
    * hash pins. `kept` is localCheckpointed: it feeds both the survivor
    * semi-join and the final join (the replay rule). */
  /** Shared q272/q277 head — the kept-set derivation. The c4 gate and the
    * KN train chain are INDEPENDENT until the `kept` join, and they load
    * opposite sides of the machine: the c4 page battery is executor-bound
    * HOF compute while the KN trainer's lazy checkpoints spend their time
    * in single-threaded driver planning — so running both as
    * [[graft.ops.Overlap]] arms overlaps almost perfectly instead of
    * paying the two latencies in sequence (r14; measured phases: c4
    * ≈1.9 s executor vs KN build+train+0.16 ≈1.3 s driver at sf0.1).
    * Rows are unchanged: the c4 side just materializes behind a checkpoint
    * before the same left-semi join. A failed arm cancels its sibling's
    * in-flight jobs. */
  private def finewebKept(s: SparkSession, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (c4pass, lm) = graft.ops.Overlap.both(s, "fineweb")(
      "fineweb: c4 gate" -> { () =>
        // SELECT-then-checkpoint-then-FILTER, not filter-then-checkpoint:
        // a filter on the derived c4_pass collapses into the battery and
        // re-inlines the page-fixture expression per predicate reference
        // (measured 1.94 s vs 0.27 s for the projection shape at sf0.1 —
        // the guide §4.4 duplication, HOF-battery edition). The checkpoint
        // holds two columns; the filter runs above the boundary.
        val c4 = TextOps.c4Flags(c4PageFixture(docs), "page")
          .select(col("doc_id"), col("c4_pass"))
          .localCheckpoint(false)
        c4.count()
        c4.filter(col("c4_pass")).select("doc_id")
      },
      "fineweb: KN train" -> { () =>
        val lm = graft.text.LangModel.trainKneserNey(
          docs.filter(RelOps.hashSampleFilter(col("doc_id"), 0.8)),
          "doc_id", "text", minCount = 100L)
        lm.pairs.count() // materialize the sufficient statistic's checkpoint
        lm
      })
    val isTrain = RelOps.hashSampleFilter(col("doc_id"), 0.8)
    val scored = graft.text.LangModel
      .scoreKnQ16(docs.filter(!isTrain), "doc_id", "text", lm)
    val w = Window.partitionBy("lang").orderBy(col("mean_nlg2_q16"), col("doc_id"))
    scored
      .join(c4pass, Seq("doc_id"), "left_semi")
      .join(docs.select("doc_id", "lang", "source"), "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
      .filter(col("rn") * 3 <= col("n") * 2)
      .select("doc_id", "lang", "source")
      .localCheckpoint(false)
  }

  private def q272_fineweb_prep(s: SparkSession, dir: String): DataFrame = {
    val docs = par(s, Tables.documents(s, dir))
    val kept = finewebKept(s, docs)
    val survivors = docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
    val dupStats = graft.dedup.SuffixRanks
      .dupWindowStats(survivors, "doc_id", "text", depth = 8)
    kept.join(dupStats, "doc_id")
      .filter(col("n_dup") * 5 < col("n_pos"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_pos").as("n_positions"),
        sum("n_dup").as("n_dup_positions"))
  }

  /** PERCEPTUAL IMAGE NEAR-DUP DEDUP (r10 verdict #2 — the missing
    * first-class LLM-pipeline operator): dHash over DECODED pixels,
    * Hamming-banded candidate grouping, exact bit_count verify — the
    * aHash/dHash family a LAION-style pipeline runs. Input: the near-dup
    * fixture ([[Multimodal.syntheticNearDupImages]]) — class k = doc mod 41
    * picks a base picture, variant (doc div 41) mod 4 applies ≤3 one-bit
    * edits, container cycles PPM/PNG/GIF — so near-dup variants have
    * DIFFERENT rasters AND different exact digests in different formats,
    * and only decode → gray → block-mean → dHash → banded Hamming
    * clustering reproduces the oracle (which restates the closed-form hash
    * and the mod-41 clusters relationally, never seeing a byte).
    *
    * 100 TB shape: decode+hash is a mapPartitions SCAN (17 bytes out per
    * image); clustering happens on the DISTINCT-hash table (≤164 rows here;
    * Heaps-bounded in the wild) via 4×16-bit band grouping — pigeonhole
    * guarantees any pair within Hamming 3 shares a band — so image count
    * never enters a pairwise join. One-hop min-rep assignment suffices
    * because near-dup classes are cliques at the threshold (fixture
    * measured: within ≤3, cross ≥8); transitive chains would compose with
    * Clusters.connectedComponents instead. */
  private def q275_image_neardup(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.syntheticNearDupImages(par(s, Tables.documents(s, dir)), "doc_id")
    // `hashes` is consumed twice (the distinct-hash groupBy AND the final
    // map-back join) — checkpoint HERE so the image decode+hash scan runs
    // once; distinctH is checkpointed too since it feeds three branches.
    val hashes = Multimodal.perceptualHashes(media)
      .select(col("media_id"), col("dhash")).localCheckpoint(false)
    val distinctH = hashes.groupBy("dhash")
      .agg(min("media_id").as("rep"), count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val bands = distinctH.select(col("dhash"), explode(expr(
      "transform(sequence(0, 3), b -> struct(b AS band, shiftrightunsigned(dhash, b*16) & 65535 AS bv))")).as("bb"))
      .select(col("dhash"), col("bb.band").as("band"), col("bb.bv").as("bv"))
    val edges = bands.select(col("dhash").as("ha"), col("band"), col("bv"))
      .join(bands.select(col("dhash").as("hb"), col("band"), col("bv")), Seq("band", "bv"))
      .filter(col("ha") < col("hb"))
      .select("ha", "hb").distinct()
      .filter(expr("bit_count(ha ^ hb) <= 3"))
    val sym = edges
      .union(edges.select(col("hb").as("ha"), col("ha").as("hb")))
      .union(distinctH.select(col("dhash").as("ha"), col("dhash").as("hb")))
    val clusters = sym
      .join(distinctH.select(col("dhash").as("hb"), col("rep").as("nrep"),
        col("cnt").as("ncnt")), "hb")
      .groupBy("ha")
      .agg(min("nrep").as("cluster_id"), sum("ncnt").as("cluster_size"))
    hashes.join(clusters, hashes("dhash") === clusters("ha"))
      .select(col("media_id").as("doc_id"),
        expr("shiftrightunsigned(dhash, 32)").as("dhash_hi"),
        expr("dhash & 4294967295").as("dhash_lo"),
        col("cluster_id"), col("cluster_size"))
  }

  /** DCT SPECTRAL-HASH NEAR-DUP (r11 verdict #3 — the pHash family member
    * dHash can't cover): decode → 32×32 block-mean gray → integer Q10 DCT
    * → low-frequency SIGN bits ([[graft.multimodal.Multimodal
    * .dctSignHash64]]) → banded Hamming clustering. Input: the
    * crop/rescale fixture — class k = doc mod 41 synthesizes a picture as
    * the inverse DCT of 63 class-keyed ±1 coefficients; variants render
    * it at 64×64, as a 2× UPSCALE, and as a 3-px-border CROP, containers
    * cycling PPM/PNG. The crop re-mixes every block mean (dHash moves
    * 3–16 bits, >3 for 40/41 classes — gradient hashing breaks these
    * clusters; MultimodalSpec pins it) while the low-frequency spectrum
    * holds (spectral hash moves ≤3, cross-class ≥10 — threshold 3
    * separates exactly). The oracle re-derives grids, forward DCT, sign
    * bits, and clusters from the closed form + the same 256 Q10 literals,
    * never seeing a byte or this code. Scale shape identical to q275:
    * decode+hash is a scan (17 bytes out per image), clustering runs on
    * the ≤2-per-class DISTINCT-hash table. */
  private def q284_image_phash_neardup(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.syntheticCropRescaleImages(par(s, Tables.documents(s, dir)), "doc_id")
    // hashes feeds the distinct-hash groupBy AND the final map-back join:
    // checkpoint so decode+DCT runs once (the q275 advisor lesson)
    val hashes = Multimodal.spectralHashes(media)
      .select(col("media_id"), col("phash")).localCheckpoint(false)
    hashes.join(phashClusters(hashes), col("phash") === col("ha"))
      .select(col("media_id").as("doc_id"),
        expr("shiftrightunsigned(phash, 32)").as("phash_hi"),
        expr("phash & 4294967295").as("phash_lo"),
        col("cluster_id"), col("cluster_size"))
  }

  /** The q284/q290 cluster index: banded Hamming (4×16-bit bands,
    * threshold 3), one-hop min-rep over the DISTINCT-hash table of
    * `hashes` (media_id, phash). Returns (ha, cluster_id, cluster_size). */
  private def phashClusters(hashes: DataFrame): DataFrame = {
    val distinctH = hashes.groupBy("phash")
      .agg(min("media_id").as("rep"), count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val bands = distinctH.select(col("phash"), explode(expr(
      "transform(sequence(0, 3), b -> struct(b AS band, shiftrightunsigned(phash, b*16) & 65535 AS bv))")).as("bb"))
      .select(col("phash"), col("bb.band").as("band"), col("bb.bv").as("bv"))
    val edges = bands.select(col("phash").as("ha"), col("band"), col("bv"))
      .join(bands.select(col("phash").as("hb"), col("band"), col("bv")), Seq("band", "bv"))
      .filter(col("ha") < col("hb"))
      .select("ha", "hb").distinct()
      .filter(expr("bit_count(ha ^ hb) <= 3"))
    val sym = edges
      .union(edges.select(col("hb").as("ha"), col("ha").as("hb")))
      .union(distinctH.select(col("phash").as("ha"), col("phash").as("hb")))
    sym
      .join(distinctH.select(col("phash").as("hb"), col("rep").as("nrep"),
        col("cnt").as("ncnt")), "hb")
      .groupBy("ha")
      .agg(min("nrep").as("cluster_id"), sum("ncnt").as("cluster_size"))
  }

  /** Parquet (media_id, bytes) stream fixture for the image gate — the
    * crop/rescale payloads written once per (dir) per JVM, 8 files. */
  private def imageStreamFixture(s: SparkSession, dir: String): String =
    fixtureCache.computeIfAbsent(s"cropimg:$dir", _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_cropimg").toString
      graft.multimodal.Multimodal
        .syntheticCropRescaleImages(par(s, Tables.documents(s, dir)), "doc_id")
        .select("media_id", "bytes").repartition(8).write.mode("overwrite").parquet(p)
      p
    })

  /** STREAMING IMAGE NEAR-DUP GATE (r11 verdict #8 — the q280/q283
    * train-offline/serve-online pattern on q284): the distinct-hash
    * cluster index is built batch-side from the same payload fixture,
    * then a STREAM of raw image bytes is decoded+hashed by the SAME
    * codegen'd projection ([[graft.functions.MediaExprs.spectral_hashes]]
    * — a plain expression, so the batch operator runs on the stream
    * unchanged) and resolved with a stateless stream-static equi-join.
    * AvailableNow into an append memory sink ⇒ row-identical to q284 by
    * construction — the oracle is shared verbatim. */
  private def q290_stream_image_gate(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    val fixture = imageStreamFixture(s, dir)
    val batchHashes = Multimodal.spectralHashes(s.read.parquet(fixture))
      .select(col("media_id"), col("phash")).localCheckpoint(false)
    val clusters = phashClusters(batchHashes).localCheckpoint(false)
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("bytes", BinaryType)))
    val name = s"q290_ig_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = Multimodal.spectralHashes(s.readStream.schema(schema).parquet(fixture))
      .join(clusters, col("phash") === col("ha"))
      .select(col("media_id").as("doc_id"),
        expr("shiftrightunsigned(phash, 32)").as("phash_hi"),
        expr("phash & 4294967295").as("phash_lo"),
        col("cluster_id"), col("cluster_size"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name)
  }

  /** VIDEO NEAR-DUP (r11 verdict #4 — clip-level, composing q187/q245's
    * frame extraction with q275's perceptual kernels): per-frame dHash
    * fingerprints ([[graft.multimodal.Multimodal.videoFrameHashes]]),
    * clips grouped by DISTINCT fingerprint-set signature, signatures
    * paired through an inverted fingerprint index, near-dup iff ≥4 shared
    * frame fingerprints, one-hop min-rep clusters mapped back per clip.
    * Input: the clip fixture — class k is a 6-frame sequence; variants
    * are the original GIF, the SAME pictures RE-ENCODED as H.264 I_PCM
    * (identical fingerprint set — re-encode invariance shows up as
    * signature identity), and a TRIMMED GIF missing frame 0 (5 of 6
    * fingerprints shared). Cross-class clips share 0 fingerprints
    * (injective closed-form frame hashes), so threshold 4 separates
    * exactly and clusters ARE the classes — which the oracle restates
    * relationally, never decoding a byte. Scale shape: decode+hash is a
    * scan (20 bytes/frame out); ALL pairwise work runs on the distinct-
    * signature table (≤2 per class), never on clip count. */
  private def q285_video_neardup(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = cachedFixture(s, s"clips:$dir",
      Multimodal.syntheticNearDupClips(par(s, Tables.documents(s, dir)), "doc_id"))
    val fh = Multimodal.videoFrameHashes(media).localCheckpoint(false)
    val sigs = fh.select(col("media_id"), col("fhash")).distinct()
      .groupBy("media_id").agg(sort_array(collect_set(col("fhash"))).as("sig"))
    val distinctSig = sigs.groupBy("sig")
      .agg(min("media_id").as("rep"), count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val sfp = distinctSig.select(col("rep"), explode(col("sig")).as("fhash"))
    val edges = sfp.select(col("rep").as("ra"), col("fhash"))
      .join(sfp.select(col("rep").as("rb"), col("fhash")), "fhash")
      .filter(col("ra") < col("rb"))
      .groupBy("ra", "rb").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 4)
      .select("ra", "rb")
    val sym = edges
      .union(edges.select(col("rb").as("ra"), col("ra").as("rb")))
      .union(distinctSig.select(col("rep").as("ra"), col("rep").as("rb")))
    val clusters = sym
      .join(distinctSig.select(col("rep").as("rb"), col("rep").as("nrep"),
        col("cnt").as("ncnt")), "rb")
      .groupBy("ra")
      .agg(min("nrep").as("cluster_id"), sum("ncnt").as("cluster_size"))
    val perClip = fh.groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        min_by(col("fhash"), col("frame_idx")).as("f0hash"))
    perClip.join(sigs, "media_id")
      .join(distinctSig.select(col("sig"), col("rep")), "sig")
      .join(clusters, col("rep") === col("ra"))
      .select(col("media_id").as("doc_id"), col("n_frames"),
        expr("shiftrightunsigned(f0hash, 32)").as("f0hash_hi"),
        expr("f0hash & 4294967295").as("f0hash_lo"),
        col("cluster_id"), col("cluster_size"))
  }

  /** AUDIO FINGERPRINT NEAR-DUP (r11 verdict #5): spectral-flux sign
    * fingerprints over decoded PCM ([[graft.multimodal.Multimodal
    * .audioFp64]] — integer band energies through the Q10 DCT rows,
    * bit = energy rose/fell per band), banded Hamming clustering on the
    * DISTINCT-fingerprint table (threshold 3, the q275 machinery). Input:
    * the audio fixture — class k is a 288-sample composition; variants
    * are the PCM16 original, a G.711 μ-LAW RE-ENCODE (companding noise
    * sits under the fixture's ≥2.25× energy margins — fingerprint
    * IDENTICAL, though every byte differs), and a HALF-VOLUME master with
    * a 2-band outro remix (≤2 bits moved — the nonzero-distance pair the
    * banding exists for). The `fmt` column pins that v=1 really decoded
    * through the μ-law expand (format code 7). Oracle: fingerprints from
    * the closed form (energy-comparison signs ARE amp-comparison signs by
    * the margin construction), clusters by class — never a byte. */
  private def q286_audio_neardup(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = cachedFixture(s, s"audio_nd:$dir",
      Multimodal.syntheticNearDupAudio(par(s, Tables.documents(s, dir)), "doc_id"))
    val fps = Multimodal.audioFingerprints(media)
      .select(col("media_id"), col("fmt"), col("afp")).localCheckpoint(false)
    val clusters = phashClusters(fps.select(col("media_id"), col("afp").as("phash")))
    fps.join(clusters, fps("afp") === clusters("ha"))
      .select(col("media_id").as("doc_id"), col("fmt"),
        expr("shiftrightunsigned(afp, 32)").as("afp_hi"),
        expr("afp & 4294967295").as("afp_lo"),
        col("cluster_id"), col("cluster_size"))
  }

  /** Parquet (media_id, bytes) stream fixture for the audio gate. */
  private def audioStreamFixture(s: SparkSession, dir: String): String =
    fixtureCache.computeIfAbsent(s"audiond:$dir", _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_audiond").toString
      graft.multimodal.Multimodal
        .syntheticNearDupAudio(par(s, Tables.documents(s, dir)), "doc_id")
        .select("media_id", "bytes").repartition(8).write.mode("overwrite").parquet(p)
      p
    })

  /** STREAMING AUDIO NEAR-DUP GATE — q286 as the q290 pattern: the
    * fingerprint cluster index builds batch-side, a STREAM of raw WAV
    * payloads is decoded+fingerprinted by the SAME typed-mapPartitions
    * operator and resolved with a stateless stream-static equi-join.
    * AvailableNow, append memory sink ⇒ row-identical to q286 by
    * construction — oracle shared verbatim. */
  private def q291_stream_audio_gate(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    val fixture = audioStreamFixture(s, dir)
    val batch = Multimodal.audioFingerprints(s.read.parquet(fixture))
      .select(col("media_id"), col("afp")).localCheckpoint(false)
    val clusters = phashClusters(batch.select(col("media_id"), col("afp").as("phash")))
      .localCheckpoint(false)
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("bytes", BinaryType)))
    val name = s"q291_ag_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = Multimodal.audioFingerprints(s.readStream.schema(schema).parquet(fixture))
      .join(clusters, col("afp") === col("ha"))
      .select(col("media_id").as("doc_id"), col("fmt"),
        expr("shiftrightunsigned(afp, 32)").as("afp_hi"),
        expr("afp & 4294967295").as("afp_lo"),
        col("cluster_id"), col("cluster_size"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name)
  }

  /** BYTE-LEVEL BPE TRAINING (r11 verdict #6 — the production GPT-family
    * alphabet): [[graft.text.Bpe.learnMergesBytes]] over an ACCENTED
    * corpus (every vowel swapped for a 2-byte Latin-1 code point), so
    * multi-byte characters start split across byte symbols and must EARN
    * their fusion through ordinary merges — the byte-fallback property
    * that lets the vocabulary segment anything with no unk. Same train
    * chain as q219 with the byte-mapped v0; the oracle re-derives the
    * GPT-2 byte→unicode alphabet from its published range rules and
    * replays the merges. */
  private def q287_bpe_bytes_learn(s: SparkSession, dir: String): DataFrame = {
    val docs = par(s, Tables.documents(s, dir))
      .withColumn("text", translate(col("text"), "aeiou", "àéîöü"))
    graft.text.Bpe.learnMergesBytes(docs, "text", nMerges = 48)
  }

  /** BYTE-LEVEL BPE SEGMENTATION (q220's shape over the byte alphabet):
    * train 8 byte merges on the accented corpus, then segment every word
    * through the codegen'd [[graft.functions.StringExprs.byte_alphabet]]
    * kernel + the rank-order merge replay — the zero-shuffle scan a
    * byte-level tokenizer runs over 100 TB. Hash-proven through training,
    * the alphabet map, and the segmentation. */
  private def q288_bpe_bytes_segment(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Bpe
    val docs = par(s, Tables.documents(s, dir))
      .withColumn("text", translate(col("text"), "aeiou", "àéîöü"))
    val merges = Bpe.learnMergesBytes(docs, "text", nMerges = 8)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    docs.select(col("doc_id"), explode(graft.text.TextOps.tokens(col("text"))).as("w"))
      .select(col("doc_id"), explode(Bpe.applyMerges(
        graft.functions.StringExprs.byte_alphabet(col("w")), merges)).as("sub"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_subwords"),
        countDistinct(col("sub")).as("n_subword_types"))
  }

  /** EXACTSUBSTR SPAN STRIP (r10 verdict #4 — the operator ExactSubstr
    * actually IS, Lee et al. 2022): remove every occurrence after the
    * first of any duplicated 8-token window and emit the CLEANED text —
    * q267 ranks windows, q272 drops whole docs; this strips the spans
    * themselves. [[graft.dedup.SuffixRanks.stripDuplicatedSpans]]: window
    * keys from the same 3 doubling rounds, first-occurrence argmin + span
    * coverage as position-set arithmetic, per-doc sort-aggregate rebuild.
    * Output md5-pins the cleaned text (the q268 discipline), so the hash
    * proves key equality ⟺ window identity, the (doc, wi) first-
    * occurrence order, the coverage union, and the rebuild order at once.
    * The oracle replays the definition on materialized token slices —
    * no shape shared with the doubling. */
  private def q276_exactsubstr_strip(s: SparkSession, dir: String): DataFrame =
    graft.dedup.SuffixRanks.stripDuplicatedSpans(
      par(s, Tables.documents(s, dir)), "doc_id", "text", depth = 8)
      .select(col("doc_id"), col("n_tokens"), col("n_kept"),
        md5(col("clean_text")).as("clean_md5"))

  /** THE q272 SUCCESSOR: FineWeb-style prep where the duplication stage
    * STRIPS the duplicated spans (q276's operator) instead of dropping
    * whole ≥20%-duplicated documents — C4 gate → KN keep-best-⅔ per lang
    * → ExactSubstr span strip over the surviving corpus → composition
    * summary. Per (lang, source): docs, tokens in, tokens kept, and an
    * order-pinned md5-of-md5s of every cleaned document — so the hash
    * pins the whole composition: which docs survive the gates, what the
    * strip removed (multiplicities counted over SURVIVORS only, exactly
    * the corpus the strip sees), and every cleaned byte. The oracle
    * re-assembles the q272 CTE families plus q276's strip CTEs restricted
    * to the survivor set. Same two checkpoint boundaries as q272. */
  private def q277_fineweb_strip(s: SparkSession, dir: String): DataFrame = {
    val docs = par(s, Tables.documents(s, dir))
    val kept = finewebKept(s, docs)
    val survivors = docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
    val stripped = graft.dedup.SuffixRanks
      .stripDuplicatedSpans(survivors, "doc_id", "text", depth = 8)
      .withColumn("cmd5", md5(col("clean_text")))
    kept.join(stripped, "doc_id")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"), sum("n_kept").as("n_kept"),
        md5(array_join(array_sort(collect_list(struct(col("doc_id"), col("cmd5"))))
          .getField("cmd5"), "")).as("corpus_md5"))
  }

  /** SOFT-EM UNIGRAM TRAINING (r10 verdict #6 — the paper-faithful E-step,
    * Kudo 2018 §3.2): seed exactly as q260, then 2 forward-backward rounds
    * — expected piece counts over ALL segmentations, not just the Viterbi
    * path ([[graft.text.Unigram.trainSoft]]). Determinized end-to-end in
    * integers: Q12 lattice weights, exact BigInt path algebra, Q16-floor
    * per-word posteriors, order-free integer M-step. The oracle replays
    * both rounds by brute-force enumeration of every 2^(n−1) cut mask with
    * exact HUGEINT path weights — the hash proves the forward-backward DP
    * itself, count by count. Same scale shape as q260: ONE corpus-sized
    * job (the distinct-word count), EM on the Heaps-bounded word table,
    * with a spec-pinned distributed round twin. */
  private def q278_unigram_softem(s: SparkSession, dir: String): DataFrame = {
    val model = graft.text.Unigram.trainSoft(par(s, Tables.documents(s, dir)), "text",
      maxPieceLen = 5, maxVocab = 128, softRounds = 2)
    graft.text.Unigram.vocabDf(s, model)
  }

  /** THE CONTAINMENT GATE, batch form (r10 verdict #8): every incoming
    * (odd-id) document checked against the even-id reference corpus under
    * the q254/q255 directed relation C(A,B) = |A∩B|/|A| — per doc its
    * shingle count, best-matching reference (max |A∩B|, ties → smallest
    * ref id), and the τ = 0.8 gate verdict. The reference rides the plan
    * as a model-like referenced object
    * ([[graft.dedup.Dedup.containmentIndex]], loudly bounded — corpus-
    * scale references belong to q255's inverted-index join), so the check
    * is a ZERO-SHUFFLE codegen'd projection: gating 100 TB is one scan.
    * The oracle restates the relation set-theoretically on both halves. */
  private def q279_containment_gate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val idx = graft.dedup.Dedup.containmentIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    graft.dedup.Dedup.containmentGate(
      par(s, docs.filter(col("doc_id") % 2 === 1)), "doc_id", "text", idx, thresh10 = 8)
  }

  /** q279 STREAMING — the q270/q274 discipline applied to the round's
    * flagship dedup relation: the same stateless gate projection run as an
    * AvailableNow drain over the parquet doc stream into an append memory
    * sink. Row-identical to q279 BY CONSTRUCTION (stateless projection,
    * same rows), so it shares q279's oracle verbatim — hash-proven
    * streaming coverage of the containment family. This is the shape a
    * production ingest actually runs: decontaminate at the door, with the
    * reference set shipped like a model. */
  private def q280_stream_containment_gate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docs = Tables.documents(s, dir)
    val idx = graft.dedup.Dedup.containmentIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val fixture = docsStreamFixture(s, dir, files = 8)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val name = s"q280_cg_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = graft.dedup.Dedup.containmentGate(
        s.readStream.schema(schema).parquet(fixture)
          .filter(col("doc_id") % 2 === 1), "doc_id", "text", idx, thresh10 = 8)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name)
  }

  /** CROSS-CORPUS DECONTAMINATION STRIP
    * ([[graft.dedup.SuffixRanks.stripContaminatedSpans]]): remove from the
    * odd-id training half every span whose full 8-token window also occurs
    * in the even-id benchmark half — EVERY occurrence, no first-kept
    * survivor (contamination has no right of residence) — and emit the
    * cleaned text, md5-pinned. Completes the decontamination family:
    * q129-q133 DROP contaminated documents, q276 strips self-duplication
    * with a first-occurrence survivor; this strips against an external
    * reference. One doubling pass over the tagged union; the
    * contaminated-key set is a bench-side distinct (broadcastable — bench
    * sets are tiny next to train); the oracle replays the definition on
    * materialized slices. */
  private def q282_decontaminate_strip(s: SparkSession, dir: String): DataFrame = {
    val docs = par(s, Tables.documents(s, dir))
    graft.dedup.SuffixRanks.stripContaminatedSpans(
      docs.filter(col("doc_id") % 2 === 1), docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", depth = 8)
      .select(col("doc_id"), col("n_tokens"), col("n_kept"),
        md5(col("clean_text")).as("clean_md5"))
  }

  /** Integer quality features over raw text — the distillation inputs for
    * q281/q283, every one exactly restatable in ANSI SQL: bias, token
    * count, distinct tokens, char length, '.' count, max token length,
    * count of long (>6-char) tokens. One codegen'd single-pass kernel
    * ([[graft.functions.QualityExprs]]) — QualityExprsSpec pins it
    * bit-identical to the builtin HOF form the oracle restates (the
    * q247/q216 interpreted-lambda lesson, applied preemptively). */
  private[graft] def qualityFeatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.QualityExprs.quality_features(col("text")).as("__q"))
      .select(col("doc_id") +: lit(1L).as("f0") +:
        (1 to 6).map(i => col(s"__q.f$i").as(s"f$i")): _*)

  /** The retired builtin-HOF form of [[qualityFeatures]] — kept as the
    * kernel's differential oracle (pure builtins, engine-independent
    * semantics; QualityExprsSpec pins the two bit-identical). */
  private[graft] def qualityFeaturesHof(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("__t"))
      .select(col("doc_id"),
        lit(1L).as("f0"),
        size(col("__t")).cast("long").as("f1"),
        size(array_distinct(col("__t"))).cast("long").as("f2"),
        length(col("text")).cast("long").as("f3"),
        (length(col("text")) - length(translate(col("text"), ".", ""))).cast("long").as("f4"),
        coalesce(array_max(transform(col("__t"), t => length(t))), lit(0)).cast("long").as("f5"),
        size(filter(col("__t"), t => length(t) > 6)).cast("long").as("f6"))

  /** DISTILLED QUALITY CLASSIFIER ([[graft.sim.Perceptron]] — the
    * FineWeb-edu pattern): the C4 page gate labels the even-id half
    * (teacher), an integer batch perceptron distills it over 7 integer
    * text features (4 epochs, one map-side-combined aggregation each),
    * and the held-out odd half is scored by a ZERO-SHUFFLE projection
    * with the learned literal weights. Deterministic end-to-end — the
    * batch update is an order-free integer sum over the misclassified
    * set — so the oracle replays training epoch by epoch in BIGINT and
    * the hash pins every weight through every epoch plus every held-out
    * score. This is the missing gate-family member: C4/Gopher are
    * hand-written rules, this is the LEARNED gate a production pipeline
    * distills from an expensive teacher. */
  private def q281_quality_perceptron(s: SparkSession, dir: String): DataFrame = {
    val docs = par(s, Tables.documents(s, dir))
    val feats = qualityFeatures(docs)
    val teacher = TextOps.c4Flags(c4PageFixture(docs), "page")
      .select(col("doc_id"), col("c4_pass"))
    val featCols = (0 to 6).map(i => s"f$i")
    val trainSet = feats.filter(col("doc_id") % 2 === 0)
      .join(teacher, "doc_id")
      .withColumn("y", when(col("c4_pass"), lit(1L)).otherwise(lit(-1L)))
      .localCheckpoint(false)
    val w = graft.sim.Perceptron.train(trainSet, "y", featCols, epochs = 4)
    feats.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), graft.sim.Perceptron.dot(featCols, w.toSeq).as("score"))
      .withColumn("pred", col("score") > 0)
  }

  /** q281 STREAMING — the learned gate served ONLINE (train-offline /
    * score-online, the q274/q280 discipline): the perceptron trains
    * batch-side exactly as q281, then the SAME zero-shuffle scoring
    * projection (literal weights, builtin feature expressions) runs as an
    * AvailableNow drain over the parquet doc stream, filtered to the
    * held-out half. Row-identical to q281 by construction — stateless
    * projection, same rows — so it shares q281's oracle verbatim:
    * hash-proven streaming coverage of the distilled-classifier family. */
  private def q283_stream_quality_score(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docs = par(s, Tables.documents(s, dir))
    val feats = qualityFeatures(docs)
    val teacher = TextOps.c4Flags(c4PageFixture(docs), "page")
      .select(col("doc_id"), col("c4_pass"))
    val featCols = (0 to 6).map(i => s"f$i")
    val trainSet = feats.filter(col("doc_id") % 2 === 0)
      .join(teacher, "doc_id")
      .withColumn("y", when(col("c4_pass"), lit(1L)).otherwise(lit(-1L)))
      .localCheckpoint(false)
    val w = graft.sim.Perceptron.train(trainSet, "y", featCols, epochs = 4)
    val fixture = docsStreamFixture(s, dir, files = 8)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val name = s"q283_qs_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = qualityFeatures(
        s.readStream.schema(schema).parquet(fixture)
          .filter(col("doc_id") % 2 === 1))
      .select(col("doc_id"), graft.sim.Perceptron.dot(featCols, w.toSeq).as("score"))
      .withColumn("pred", col("score") > 0)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name)
  }

  /** CALIBRATED QUALITY SCORES (r11 verdict #7 — the step that finishes
    * the FineWeb-edu distillation story): q281's perceptron margins mapped
    * to Q16 probabilities by EXACT-INTEGER isotonic regression
    * ([[graft.sim.Isotonic.pavQ16]] — PAV on the labeled train-split
    * score groups, cross-multiplied rational compares). The held-out
    * split is scored by the step function (greatest calibrated score ≤
    * margin; below-range → the first block). The oracle replays training
    * epoch by epoch (the q281 chain), then computes the isotonic fit by
    * its MINIMAX CLOSED FORM — max-over-prefixes of min-over-suffixes of
    * exact rational means via the ⌊p·2³²/n⌋ order key — and applies the
    * step with an ASOF join: same rationals, zero shared algorithm shape.
    * Scale: calibration is driver-side over the bounded labeled slice;
    * application is a broadcast step-table lookup, zero shuffle. */
  private def q289_quality_calibrated(s: SparkSession, dir: String): DataFrame = {
    val docs = par(s, Tables.documents(s, dir))
    val teacher = TextOps.c4Flags(c4PageFixture(docs), "page")
      .select(col("doc_id"), col("c4_pass"))
    calibratedScores(s, docs, teacher)
  }

  /** The q289 chain body, shared with q292 so the composed query computes
    * the c4 teacher ONCE (r13 optimization — q292 used to re-derive the
    * page fixture + flag battery a second time for its rollup join).
    * The train-loop inputs are coalesced to 4 partitions after the eager
    * checkpoint: the calibration slice is BOUNDED BY CONTRACT (pavQ16's
    * Σn < 2¹⁶ envelope aborts loudly beyond ~65k rows), so the 4-epoch
    * driver loop and the score-group aggregate run over a few small
    * blocks instead of scheduling a full-width task wave per epoch
    * (measured: 0.45 s → 0.21 s per epoch at 32 local cores; at cluster
    * scale the same waves would be thousands of tasks over ≤65k rows). */
  private def calibratedScores(s: SparkSession, docs: DataFrame,
                               teacher: DataFrame): DataFrame = {
    val feats = qualityFeatures(docs)
    val featCols = (0 to 6).map(i => s"f$i")
    val trainSet = feats.filter(col("doc_id") % 2 === 0)
      .join(teacher, "doc_id")
      .withColumn("y", when(col("c4_pass"), lit(1L)).otherwise(lit(-1L)))
      .localCheckpoint(true)
      .coalesce(4)
    val w = graft.sim.Perceptron.train(trainSet, "y", featCols, epochs = 4)
    val dotCol = graft.sim.Perceptron.dot(featCols, w.toSeq).cast("long")
    val groups = trainSet
      .select(dotCol.as("score"),
        when(col("y") === 1L, lit(1L)).otherwise(lit(0L)).as("pos1"))
      .groupBy("score").agg(sum("pos1").as("p"), count(lit(1)).as("n"))
      .orderBy("score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val cal = graft.sim.Isotonic.pavQ16(groups)
    // step table: [score_i, score_{i+1}) → q16; broadcast, zero shuffle
    import s.implicits._
    val steps = cal.zip(cal.drop(1).map(c => Some(c._1)) :+ None)
      .map { case ((lo, q), hi) => (lo, hi, q) }
    val bdf = broadcast(steps.toDF("lo", "hi", "q16"))
    val firstQ = cal.head._2
    feats.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), dotCol.as("score"))
      .join(bdf, col("score") >= col("lo") &&
        (col("hi").isNull || col("score") < col("hi")), "left")
      .select(col("doc_id"), col("score"),
        coalesce(col("q16"), lit(firstQ)).as("calib_q16"))
  }

  /** CALIBRATION RELIABILITY TABLE (the ECE decomposition — Naeini et
    * al.'s expected-calibration-error bins, AAAI 2015, evaluated on
    * q289's output): the calibrated held-out scores joined back to the
    * teacher labels, rolled up per calibrated bin with the integer gap
    * numerator |n_pos·2¹⁶ − q̂·n| — no division, so the reliability table
    * is hash-exact and ECE = Σ gap/(2¹⁶·N) is derivable from the rows.
    * This closes the distillation loop: q281 trains, q289 calibrates,
    * q292 MEASURES the calibration against the teacher. Isotonic fits
    * are perfectly calibrated ON THE TRAIN SPLIT by construction; the
    * held-out gaps here are the honest generalization number. */
  private def q292_calibration_ece(s: SparkSession, dir: String): DataFrame = {
    val docs = par(s, Tables.documents(s, dir))
    // ONE teacher evaluation for the whole composed chain (r13): the lazy
    // checkpoint materializes inside the train-set checkpoint job, and the
    // rollup join below then reads the materialized blocks instead of
    // re-running the page fixture + c4 battery over the corpus a second time
    val teacher = TextOps.c4Flags(c4PageFixture(docs), "page")
      .select(col("doc_id"), col("c4_pass"))
      .localCheckpoint(false)
    calibratedScores(s, docs, teacher)
      .join(teacher, "doc_id")
      .groupBy("calib_q16")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("c4_pass"), lit(1L)).otherwise(lit(0L))).as("n_pos"))
      .select(col("calib_q16"), col("n_docs"), col("n_pos"),
        abs(col("n_pos") * lit(65536L) - col("calib_q16") * col("n_docs")).as("gap_q16n"))
  }

  /** STREAMING WORDPIECE SEGMENTATION — the train-offline / serve-online
    * tokenizer pattern: the q264 model is trained BATCH-side (word-count
    * job + driver loop), then applied to a parquet file STREAM
    * (AvailableNow, append-mode memory sink) as the same
    * model-rides-the-plan projection — stateless, so the drain is
    * row-identical to q265 by construction and shares its oracle. This is
    * the production shape for tokenizing a continuously-landing corpus:
    * the vocabulary is a versioned artifact, the segmentation is a
    * per-batch map with no state store. */
  private def q274_stream_wordpiece(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docs = par(s, Tables.documents(s, dir))
    val words = graft.text.WordPiece.wordWeights(docs, "text")
    val vocab = graft.text.WordPiece.vocabOf(words,
      graft.text.WordPiece.trainFromWords(words, nMerges = 64))
    val fixture = docsStreamFixture(s, dir, files = 8)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val name = s"q274_wp_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = s.readStream.schema(schema).parquet(fixture)
      .select(col("doc_id"),
        graft.functions.WordPieceExprs.wordpiece_segment(col("text"), vocab.toSeq).as("u"))
      .select(col("doc_id"), col("u.n_pieces").as("n_pieces"),
        col("u.n_unk").as("n_unk"), col("u.seg").as("seg"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name)
  }

  /** TOKENIZER FERTILITY COMPARISON — the evaluation every tokenizer
    * family needs beside its trainers: all three subword tokenizers (BPE
    * 64 merges, unigram-LM, WordPiece 64 merges) trained on the SAME
    * corpus and applied to it, one row each with the corpus-wide
    * pieces-per-100-words rate (integer division — "fertility", the
    * standard tokenizer-efficiency metric; lower = better compression).
    * Three corpus aggregates, each a zero-shuffle segmentation projection
    * (applyMerges chain / the two model-rides-the-plan kernels) feeding
    * one sum. The oracle replays all THREE training loops and segmenters
    * in one SQL statement (the q219/q261/q265 oracle families with
    * disjoint CTE names — WordPiece's generator takes a prefix for
    * exactly this composition), so the comparison row set is hash-pinned
    * end-to-end. */
  private def q273_tokenizer_fertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = par(s, Tables.documents(s, dir))

    // r13: the three tokenizer sub-chains (train → corpus-wide
    // segment-count) and the word count are INDEPENDENT — overlapping them
    // lets each chain's tail back-fill the executors the others leave
    // idle, instead of paying four sequential job latencies. Each arm's
    // result is a deterministic scalar; the assembled row set is
    // order-fixed below, so the output is unchanged.
    val Seq(nWords, bpeNp, uniNp, wpNp) = graft.ops.Overlap.all(s, "q273")(
      "fertility: word count" -> { () =>
        val n = docs.agg(sum(TextOps.tokenCount(col("text")))).as[Long].head()
        require(n > 0L, "tokenizer_fertility: empty corpus (no tokens)")
        n
      },
      "fertility: bpe" -> { () =>
        val bpeMerges = graft.text.Bpe.learnMerges(docs, "text", nMerges = 64)
          .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
        docs.select(explode(TextOps.tokens(col("text"))).as("w"))
          .agg(sum(size(graft.text.Bpe.applyMerges(col("w"), bpeMerges)).cast("long")))
          .as[Long].head()
      },
      "fertility: unigram" -> { () =>
        val uni = graft.text.Unigram.train(docs, "text",
          maxPieceLen = 5, maxVocab = 128, emRounds = 3)
        docs.agg(sum(graft.functions.UnigramExprs.unigram_segment(col("text"), uni)
          .getField("n_pieces"))).as[Long].head()
      },
      "fertility: wordpiece" -> { () =>
        val words = graft.text.WordPiece.wordWeights(docs, "text")
        val wpVocab = graft.text.WordPiece.vocabOf(words,
          graft.text.WordPiece.trainFromWords(words, nMerges = 64))
        docs.agg(sum(graft.functions.WordPieceExprs.wordpiece_segment(col("text"), wpVocab.toSeq)
          .getField("n_pieces"))).as[Long].head()
      })

    Seq(("bpe64", bpeNp), ("unigram", uniNp), ("wordpiece64", wpNp))
      .toDF("tokenizer", "n_pieces")
      .select(col("tokenizer"), lit(nWords).as("n_words"), col("n_pieces"),
        expr("n_pieces * 100 div n_words").as("pieces_per_100w"))
  }

  /** DEPTH-8 SUFFIX RANKS BY PREFIX DOUBLING
    * ([[graft.dedup.SuffixRanks.suffixRanks]]) — the ExactSubstr-dedup
    * backbone (Lee et al. 2021): every token position ranked by its
    * ≤ 8-token window via 3 Manber–Myers doubling rounds (sort/join over
    * two longs per position — never materializing the windows the direct
    * form ships), plus the corpus-wide duplicated-window flag. Exact twin
    * of q207's md5-fingerprint spans: same 8-token granularity, no hash —
    * rank ties ARE string-identical windows. The oracle computes the
    * ranks from the DEFINITION (dense_rank over the materialized token
    * slices, lexicographic with shorter-first), so the hash proves the
    * doubling recurrence, and shares no shape with it. */
  private def q267_suffix_ranks(s: SparkSession, dir: String): DataFrame =
    graft.dedup.SuffixRanks.suffixRanks(
      par(s, Tables.documents(s, dir)), "doc_id", "text", depth = 8)

  /** MODIFIED KNESER–NEY ([[graft.text.LangModel.trainModifiedKn]] →
    * [[graft.text.LangModel.scoreMknQ16]]) — the Chen & Goodman variant
    * KenLM actually implements, next to q263's single-discount form:
    * three discounts D1/D2/D3+ estimated from the bigram count-of-counts
    * n1..n4, kept as EXACT clamped rationals on the common denominator
    * (n1+2n2)·n2·n3 (numerators floored at 1 — the SRI-style floor made
    * exact; this corpus at sf0.1 has n4 > n3, where the raw C&G estimate
    * goes negative and KenLM refuses). Same 80% split, vocabulary, Q16
    * scoring, and output shape as q263, so the two smoothers are directly
    * comparable rows; MknSpec proves Σ_w2 P(w2|w1) = 1 exactly with the
    * clamped discounts. */
  private def q271_modified_kn(s: SparkSession, dir: String): DataFrame = {
    val docs = par(s, Tables.documents(s, dir))
    val isTrain = RelOps.hashSampleFilter(col("doc_id"), 0.8)
    val lm = graft.text.LangModel.trainModifiedKn(
      docs.filter(isTrain), "doc_id", "text", minCount = 100L)
    graft.text.LangModel.scoreMknQ16(docs.filter(!isTrain), "doc_id", "text", lm)
  }

  /** WORDPIECE TRAINING ([[graft.text.WordPiece.learn]]) — the BERT
    * tokenizer's likelihood-gain merge loop, completing the subword trio
    * next to q219/q257 (BPE, frequency argmax) and q260-q262 (unigram,
    * EM + pruning): 64 rounds, each merging the pair maximizing
    * c12/(c1·c2) with exact BigInt cross-multiplied comparison and UTF-8
    * byte-order tie-break, non-initial symbols ##-prefixed. Output rows
    * carry the integer score inputs (c12, c1, c2), so the oracle hash
    * pins every argmax decision, not just the chosen pair string. One
    * corpus-scale job (the word-weight count); the loop is driver-side
    * over the Heaps-bounded word table. */
  private def q264_wordpiece_learn(s: SparkSession, dir: String): DataFrame =
    graft.text.WordPiece.learn(
      par(s, Tables.documents(s, dir)), "text", nMerges = 64)

  /** WORDPIECE SEGMENTATION ([[graft.functions.WordPieceExprs]]) — greedy
    * longest-match-first (the BERT runtime) under the q264 model's
    * vocabulary (initial symbols + 64 merges), as a ZERO-SHUFFLE
    * projection: the vocabulary rides the plan like q261's unigram model.
    * `seg` pins the exact per-word piece sequence in the result hash;
    * n_unk counts words the vocabulary cannot cover (none on the training
    * corpus itself — the UNK path is exercised by WordPieceSpec). */
  private def q265_wordpiece_segment(s: SparkSession, dir: String): DataFrame = {
    val docs = par(s, Tables.documents(s, dir))
    val words = graft.text.WordPiece.wordWeights(docs, "text")
    val merges = graft.text.WordPiece.trainFromWords(words, nMerges = 64)
    val vocab = graft.text.WordPiece.vocabOf(words, merges)
    docs.select(col("doc_id"),
        graft.functions.WordPieceExprs.wordpiece_segment(col("text"), vocab.toSeq).as("u"))
      .select(col("doc_id"), col("u.n_pieces").as("n_pieces"),
        col("u.n_unk").as("n_unk"), col("u.seg").as("seg"))
  }

  // ------------------------------------------------------------------
  // Query catalog
  // ------------------------------------------------------------------

  /** How a query's result is checked: exactly one of the two per query. */
  sealed trait Check
  /** DuckDB SQL whose result must equal the query's exactly. Taken by name,
    * so building [[queries]] never evaluates an oracle. */
  final class Oracle(sql0: => String) extends Check { def sql: String = sql0 }
  object Oracle { def apply(sql: => String): Oracle = new Oracle(sql) }
  /** Deliberately un-oracled: approximate / hash-family semantics no ANSI
    * engine reproduces. `why` names the oracle-checked exact twin or spec
    * that pins correctness instead; Verify publishes it (rows_only.json) so
    * the correctness artifact says why a query has no oracle. */
  final case class RowsOnly(why: String) extends Check

  /** One declared query: its name, its builder, its check, and whether the
    * bench times it (see [[headlineQueries]]). */
  final case class QuerySpec(name: String, build: (SparkSession, String) => DataFrame,
      check: Check, benched: Boolean = true)

  /** The catalog indexed by name. A name declared twice fails loudly (a Map
    * literal would silently keep the last). */
  private[graft] def byName(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query names declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    specs.map(q => q.name -> q).toMap
  }

  private lazy val catalogByName: Map[String, QuerySpec] = byName(catalog)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalogByName.map { case (n, q) => n -> q.build }

  lazy val oracleSql: Map[String, String] =
    catalogByName.collect { case (n, QuerySpec(_, _, o: Oracle, _)) => n -> o.sql }

  lazy val rowsOnlyByDesign: Map[String, String] =
    catalogByName.collect { case (n, QuerySpec(_, _, RowsOnly(why), _)) => n -> why }

  /** Bench set: every catalog entry except the eight `benched = false`
    * ones, the deliberately brute-force O(n²) *correctness baselines*, each
    * retired to oracle/differential duty once its scale-safe form is wired:
    * q35 (exact-Jaccard twin of the MinHash path q36), the r4 retirements
    * q41/q137/q153 (theta-join twins of the banded q161/q162/q163), the r5
    * retirement q140 (exhaustive blocked linkage — Σ block² pairs by
    * definition; its scale-safe default is the sorted-neighborhood
    * q174/q177, and LinkageSpec holds the two forms against each other
    * differentially), and q254 (exact containment pairs; the indexed q255
    * shares its oracle). At bench scale the operator a real deployment
    * runs IS the bucketed/banded form; timing the N² twins would benchmark
    * algorithms the library exists to avoid.
    *
    * Same discipline for the r7 ORACLE-BRIDGE forms q212/q213: their whole
    * point is md5-affine hashes an external engine reproduces (hash-exact
    * DuckDB proof of the LSH pipeline incl. candidate generation), which
    * forces interpreted-lambda evaluation — 52 s at sf0.1 vs the 0.6 s
    * xxhash64 codegen kernels (q36/q37) a deployment actually runs. The
    * correctness gate runs them (sf0.01, seconds); benching them would time
    * the deliberately-portable slow form.
    */
  def headlineQueries: Seq[String] =
    catalogByName.values.filter(_.benched).map(_.name).toSeq.sorted

  /** Shared oracle for q254 (exact baseline) and q255 (indexed scale
    * path): directed 3-gram shingle-set containment at τ = 0.8. The size
    * prefilters are implied by the final predicate (inter ≤ min(n_a, n_b)),
    * so the oracle states only the containment condition itself. */
  private val containmentOracleSql: String =
    """WITH s AS (
         SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                  i -> array_to_string(toks[i:i+2], ' '))) AS sh
         FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
               FROM documents)
         WHERE len(toks) >= 3)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         cast(len(list_intersect(a.sh, b.sh)) as bigint) AS inter,
         cast(len(a.sh) as bigint) AS n_a
       FROM s a JOIN s b ON a.doc_id <> b.doc_id
       WHERE len(list_intersect(a.sh, b.sh)) * 10 >= len(a.sh) * 8"""

  /** Shared oracle for q279 (batch gate) and q280 (streaming drain —
    * row-identical by construction): the q254/q255 containment relation
    * restated as a per-incoming-doc best-reference aggregate. */
  private val containmentGateOracleSql: String =
    """WITH tok AS (
         SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
       shx AS (
         SELECT doc_id,
           CASE WHEN len(toks) >= 3
                THEN list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> array_to_string(toks[i:i+2], ' ')))
                ELSE []::VARCHAR[] END AS sh
         FROM tok),
       inc AS (SELECT doc_id, sh FROM shx WHERE doc_id % 2 = 1),
       ref AS (SELECT doc_id, sh FROM shx WHERE doc_id % 2 = 0),
       cand AS (
         SELECT a.doc_id, b.doc_id AS ref_id, len(list_intersect(a.sh, b.sh)) AS inter
         FROM inc a, ref b
         WHERE len(list_intersect(a.sh, b.sh)) >= 1),
       best AS (
         SELECT doc_id, ref_id, inter FROM (
           SELECT doc_id, ref_id, inter,
             row_number() OVER (PARTITION BY doc_id ORDER BY inter DESC, ref_id ASC) AS rn
           FROM cand) WHERE rn = 1)
       SELECT i.doc_id, cast(len(i.sh) as bigint) AS n_sh,
         b.ref_id AS best_ref,
         cast(coalesce(b.inter, 0) as bigint) AS best_inter,
         (len(i.sh) > 0 AND coalesce(b.inter, 0) * 10 >= len(i.sh) * 8) AS gated
       FROM inc i LEFT JOIN best b ON b.doc_id = i.doc_id"""

  /** q252's oracle, shared with q253's streaming drain (row-identical by
    * construction): even-id half = reference, odd-id half = current. */
  private val distDriftOracleSql: String =
    """WITH t AS (
           SELECT doc_id % 2 = 0 AS is_ref,
             cast(len(list_filter(string_split_regex(text, '\s+'),
               x -> len(x) > 0)) as bigint) AS v
           FROM documents WHERE text IS NOT NULL),
         r AS (
           SELECT v, row_number() OVER (ORDER BY v) AS rn, count(*) OVER () AS n
           FROM t WHERE is_ref),
         b AS (
           SELECT i, min(CASE WHEN rn >= ceil((i / 8.0) * n) THEN v END) AS bound
           FROM r CROSS JOIN (SELECT unnest(range(1, 8)) AS i) ii
           GROUP BY i),
         binned AS (
           SELECT (SELECT count(*) FROM b WHERE t.v > b.bound) AS bin,
             cast(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) as bigint) AS n_ref,
             cast(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) as bigint) AS n_cur
           FROM t GROUP BY 1),
         tot AS (SELECT sum(n_ref) AS nr, sum(n_cur) AS nc FROM binned)
       SELECT bin, n_ref, n_cur,
         cast(abs(n_ref * nc - n_cur * nr) as bigint) AS tv_term
       FROM binned, tot"""

  /** q154's oracle, shared with q160's temporal lookup. */
  private val scd2OracleSql: String =
    """WITH cents AS (
           SELECT o_orderkey, cast(cast(o_totalprice as DECIMAL(18,2)) * 100 as bigint) AS c
           FROM orders),
         today AS (SELECT o_orderkey AS k_new, c AS c_new FROM cents),
         yesterday AS (
           SELECT o_orderkey AS k_old,
             CASE WHEN o_orderkey % 97 = 0 THEN c + 100 ELSE c END AS c_old
           FROM cents WHERE o_orderkey % 101 != 0),
         j AS (SELECT * FROM today FULL OUTER JOIN yesterday ON k_new = k_old)
         SELECT k_new AS key, cast(1 as bigint) AS version, c_old AS cents,
           DATE '2024-06-01' AS valid_from, DATE '2024-06-02' AS valid_to
         FROM j WHERE k_old IS NOT NULL AND k_new IS NOT NULL AND c_old != c_new
         UNION ALL
         SELECT k_new, 2, c_new, DATE '2024-06-02', DATE '9999-12-31'
         FROM j WHERE k_old IS NOT NULL AND k_new IS NOT NULL AND c_old != c_new
         UNION ALL
         SELECT k_new, 1, c_new, DATE '2024-06-02', DATE '9999-12-31' FROM j WHERE k_old IS NULL
         UNION ALL
         SELECT k_new, 1, c_new, DATE '2024-06-01', DATE '9999-12-31'
         FROM j WHERE k_old IS NOT NULL AND k_new IS NOT NULL AND c_old = c_new"""

  /** Shared by the brute-force baseline and its banded scale form — the
    * whole point: one oracle proving both compute the same answer. */
  private val embedNearDupOracleSql: String =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b
       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45"""

  private val semanticDedupOracleSql: String =
    """WITH RECURSIVE pairs AS (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45),
       edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
       walk(id, lab) AS (
         SELECT vec_id, vec_id FROM embeddings
         UNION
         SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id)
       SELECT id AS vec_id, min(lab) AS cluster_id,
         CASE WHEN id = min(lab) THEN 'keep' ELSE 'drop' END AS verdict
       FROM walk GROUP BY id"""

  private val labelAgreementOracleSql: String =
    """WITH nn AS (
         SELECT q.vec_id AS qid, q.label AS qlab, c.label AS nlab,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) AS rank
         FROM embeddings q, embeddings c
         WHERE q.vec_id != c.vec_id
         QUALIFY rank <= 5),
       per AS (SELECT qid, qlab,
                 sum(CASE WHEN nlab = qlab THEN 1 ELSE 0 END) AS n_agree
               FROM nn GROUP BY 1, 2)
       SELECT cast(qlab as bigint) AS label, cast(count(*) as bigint) AS n_vecs,
         cast(sum(n_agree) * 1000 // (count(*) * 5) as bigint) AS agree_permille,
         cast(sum(CASE WHEN n_agree <= 1 THEN 1 ELSE 0 END) as bigint) AS n_suspect
       FROM per GROUP BY 1"""

  /** Closed-form oracle for q50: recompute the md5 stub features
    * (Multimodal.stubDecodeFeatures) in pure SQL. hex16 parses the first 4
    * hex chars of md5(text || ':' || i) via strpos — portable, no
    * engine-specific hex cast — and the norm chain adds squares in ascending
    * feature order, matching the JVM dot-product loop exactly. */
  private def q50OracleSql: String = {
    val hexDigits = "0123456789abcdef"
    def hex4(e: String): String =
      (1 to 4).map(p =>
        s"(strpos('$hexDigits', substr($e, $p, 1)) - 1) * ${1 << (4 * (4 - p))}")
        .mkString(" + ")
    def vf(i: Int): String =
      s"cast(((${hex4(s"md5(text || ':' || '$i')")}) % 2001 - 1000) / 1000.0 as float)"
    val vdefs = (0 until 16).map(i => s"${vf(i)} AS __v$i").mkString(",\n           ")
    val normChain = (0 until 16)
      .map(i => s"(cast(__v$i as double) * cast(__v$i as double))")
      .reduce((a, b) => s"($a + $b)")
    s"""WITH feats AS (
         SELECT doc_id,
           $vdefs
         FROM documents)
       SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         cast(16 as bigint) AS feature_dim,
         cast(__v0 as double) AS f0,
         sqrt($normChain) AS feature_norm
       FROM feats"""
  }

  /** Oracle for q70: the deterministic md5-HLL (sketch.DetHll) re-derived
    * in pure SQL — register from the first md5 nibble, rho from the next 15
    * hex chars (integer logic only), max-union to flag level, harmonic-mean
    * estimate with the single mirrored double division. */
  private def q70OracleSql: String =
    """WITH rr AS (
         SELECT l_returnflag, l_linestatus,
           strpos('0123456789abcdef', substr(md5(cast(l_orderkey as varchar)), 1, 1)) - 1 AS reg,
           (15 - length(regexp_replace(substr(md5(cast(l_orderkey as varchar)), 2, 15), '^0*', ''))) * 4
             + CASE substr(regexp_replace(substr(md5(cast(l_orderkey as varchar)), 2, 15), '^0*', ''), 1, 1)
                 WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                 WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
                 ELSE 0 END
             + 1 AS rho
         FROM lineitem),
       fine AS (
         SELECT l_returnflag, l_linestatus, reg, max(rho) AS max_rho
         FROM rr GROUP BY 1, 2, 3),
       unioned AS (
         SELECT l_returnflag, reg, max(max_rho) AS max_rho
         FROM fine GROUP BY 1, 2),
       n AS (
         SELECT l_returnflag,
           sum((cast(1 as bigint) << (59 - max_rho))) + (16 - count(*)) * (cast(1 as bigint) << 59) AS nn
         FROM unioned GROUP BY 1)
       SELECT l_returnflag AS returnflag,
         cast(floor(0.673 * 256.0 * 576460752303423488.0 / cast(nn as double)) as bigint) AS approx_orders
       FROM n"""

  /** DuckDB oracles. Dialect notes: date_diff('part', start, end) argument
    * order; strftime for FORMAT_DATETIME; sum(BIGINT) returns HUGEINT in
    * DuckDB → cast back to BIGINT; integer-arithmetic thresholds instead of
    * float compares. The `RowsOnly` entries (MinHash/SimHash/LSH/IVF/PQ
    * families) get the driver's rows-only check — their exact-result twins
    * (q35, q38's brute-force, the det twins q212/q213/q223–q225) ARE
    * oracle-checked.
    *
    * Every query is declared here once, with its builder and its check;
    * [[queries]], [[oracleSql]], [[rowsOnlyByDesign]] and
    * [[headlineQueries]] are views of this list.
    */
  private lazy val catalog: Seq[QuerySpec] = Seq(
    QuerySpec("q01_scan_project", q01_scan_project, Oracle(
      "SELECT c_custkey AS cust_id, c_name AS name, c_mktsegment AS segment FROM customer")),
    QuerySpec("q02_filter_predicates", q02_filter_predicates, Oracle(
      """SELECT l_orderkey, cast(l_linenumber as bigint) AS line_no, cast(l_quantity as bigint) AS qty
         FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 30""")),
    QuerySpec("q03_dedup_distinct", q03_dedup_distinct, Oracle(
      """SELECT DISTINCT l_returnflag AS returnflag, l_linestatus AS linestatus,
           cast(l_quantity as bigint) AS qty FROM lineitem""")),
    QuerySpec("q04_collapse_max", q04_collapse_max, Oracle(
      """SELECT l_orderkey, max(cast(l_quantity as bigint)) AS max_qty,
           max(cast(l_shipdate as date)) AS max_ship, max(l_returnflag) AS max_flag
         FROM lineitem GROUP BY l_orderkey""")),
    QuerySpec("q05_groupby_agg", q05_groupby_agg, Oracle(
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty,
           cast(count(*) as bigint) AS cnt,
           cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_price
         FROM lineitem GROUP BY 1, 2""")),
    QuerySpec("q06_conditional_counts", q06_conditional_counts, Oracle(
      """SELECT cast(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) as bigint) AS n_returned,
           cast(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) as bigint) AS n_accepted,
           cast(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) as bigint) AS n_none
         FROM lineitem""")),
    QuerySpec("q07_case_normalize", q07_case_normalize, Oracle(
      """SELECT o_orderkey,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 'Critical'
                WHEN o_orderpriority = '2-HIGH' THEN 'Critical'
                WHEN o_orderpriority = '3-MEDIUM' THEN 'Normal'
                WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 'Unknown'
                ELSE 'Low' END AS priority_class
         FROM orders""")),
    QuerySpec("q08_join_broadcast", q08_join_broadcast, Oracle(
      """SELECT o_orderkey, o_totalprice AS total_price, c_name AS cust_name, c_mktsegment AS segment
         FROM orders JOIN customer ON o_custkey = c_custkey""")),
    QuerySpec("q09_join_left", q09_join_left, Oracle(
      """SELECT c_custkey, c_name AS cust_name, o_orderkey, o_orderstatus AS status
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey""")),
    QuerySpec("q10_latest_per_group", q10_latest_per_group, Oracle(
      "SELECT user_id, max(ts) AS last_ts FROM events GROUP BY user_id")),
    QuerySpec("q11_latest_row_window", q11_latest_row_window, Oracle(
      """SELECT user_id, event_id, event_type, ts FROM (
           SELECT user_id, event_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) t WHERE rn = 1""")),
    QuerySpec("q12_datediff", q12_datediff, Oracle(
      """SELECT l_orderkey, cast(l_linenumber as bigint) AS line_no,
           cast(date_diff('day', cast(o_orderdate as date), cast(l_shipdate as date)) as bigint) AS d_days,
           cast(date_diff('month', cast(o_orderdate as date), cast(l_shipdate as date)) as bigint) AS d_months,
           cast(date_diff('year', cast(o_orderdate as date), cast(l_shipdate as date)) as bigint) AS d_years
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey""")),
    QuerySpec("q13_extract_parts", q13_extract_parts, Oracle(
      """SELECT o_orderkey, cast(year(o_orderdate) as bigint) AS y,
           cast(quarter(o_orderdate) as bigint) AS q,
           cast(month(o_orderdate) as bigint) AS m,
           cast(day(o_orderdate) as bigint) AS d
         FROM orders""")),
    QuerySpec("q14_format_date", q14_format_date, Oracle(
      """SELECT o_orderkey, strftime(o_orderdate, '%Y') AS y_str,
           strftime(o_orderdate, '%B') AS month_name FROM orders""")),
    QuerySpec("q15_union_distinct", q15_union_distinct, Oracle(
      """SELECT DISTINCT o_orderkey, o_orderpriority AS priority FROM orders
         WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')""")),
    QuerySpec("q16_topk", q16_topk, Oracle(
      """SELECT o_orderkey, o_totalprice AS total_price FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""")),
    QuerySpec("q17_stringify_retype", q17_stringify_retype, Oracle(
      """SELECT cast(cast(l_orderkey as varchar) as bigint) AS l_orderkey,
           cast(cast(l_linenumber as varchar) as bigint) AS line_no,
           cast(cast(l_quantity as varchar) as double) AS qty_back,
           cast(cast(l_shipdate as varchar) as date) AS ship_back
         FROM lineitem""")),
    QuerySpec("q18_sentinel_decode", q18_sentinel_decode, Oracle(
      """SELECT l_orderkey, cast(l_linenumber as bigint) AS line_no,
           cast(CASE WHEN l_returnflag = 'N' THEN cast(0 as decimal(18,2))
                ELSE cast(cast(l_quantity as bigint) as decimal(18,2)) END as double) AS load_qty
         FROM lineitem""")),
    QuerySpec("q19_null_impute", q19_null_impute, Oracle(
      """SELECT c_mktsegment AS segment,
           CASE WHEN o_orderstatus IS NULL THEN 'Unknown' ELSE o_orderstatus END AS status_filled,
           cast(count(*) as bigint) AS cnt
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY 1, 2""")),
    QuerySpec("q20_multi_join", q20_multi_join, Oracle(
      """SELECT c_mktsegment AS segment,
           cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4))) as double) AS revenue,
           cast(count(*) as bigint) AS n_lines
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
         GROUP BY 1""")),
    QuerySpec("q21_rollup", q21_rollup, Oracle(
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           cast(count(*) as bigint) AS cnt
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),
    QuerySpec("q22_window_running", q22_window_running, Oracle(
      """SELECT user_id, event_id,
           cast(row_number() OVER w as bigint) AS rn,
           cast(sum(cast(value as decimal(18,6))) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double) AS running_value
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""")),
    QuerySpec("q23_count_distinct", q23_count_distinct, Oracle(
      """SELECT l_returnflag AS returnflag,
           cast(count(DISTINCT l_partkey) as bigint) AS n_parts,
           cast(count(DISTINCT l_suppkey) as bigint) AS n_supps,
           cast(count(*) as bigint) AS cnt
         FROM lineitem GROUP BY 1""")),
    QuerySpec("q27_cube", q27_cube, Oracle(
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           cast(count(*) as bigint) AS cnt,
           cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""")),
    QuerySpec("q28_asof_join", q28_asof_join, Oracle(
      """SELECT p.event_id, p.user_id, p.ts, c.event_id AS click_id
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND p.ts >= c.ts""")),
    QuerySpec("q29_range_join", q29_range_join, Oracle(
      """SELECT l_orderkey, cast(l_linenumber as bigint) AS line_no,
           cast(l_quantity as bigint) AS qty, band
         FROM lineitem
         JOIN (VALUES (1, 10, 'light'), (11, 30, 'medium'), (31, 50, 'heavy')) AS r(lo, hi, band)
           ON cast(l_quantity as bigint) BETWEEN lo AND hi""")),
    QuerySpec("q24_json_extract", q24_json_extract, Oracle(
      """SELECT event_id, cast(json_extract_string(props, '$.k') as bigint) AS k FROM events""")),
    QuerySpec("q25_pivot_counts", q25_pivot_counts, Oracle(
      """SELECT cast(ts as date) AS day, event_type, cast(count(*) as bigint) AS cnt
         FROM events GROUP BY 1, 2""")),
    // q26: exact distinct beside the deterministic md5-HLL estimate — the
    // q70 register/rho/harmonic-mean closed form over DISTINCT
    // (flag, partkey) pairs (register max is duplicate-invariant)
    QuerySpec("q26_sketch_distinct", q26_sketch_distinct, Oracle(
      """WITH d AS (SELECT DISTINCT l_returnflag, l_partkey FROM lineitem),
         rr AS (
           SELECT l_returnflag,
             strpos('0123456789abcdef', substr(md5(cast(l_partkey as varchar)), 1, 1)) - 1 AS reg,
             (15 - length(regexp_replace(substr(md5(cast(l_partkey as varchar)), 2, 15), '^0*', ''))) * 4
               + CASE substr(regexp_replace(substr(md5(cast(l_partkey as varchar)), 2, 15), '^0*', ''), 1, 1)
                   WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                   WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
                   ELSE 0 END
               + 1 AS rho
           FROM d),
         regs AS (SELECT l_returnflag, reg, max(rho) AS max_rho FROM rr GROUP BY 1, 2),
         n AS (
           SELECT l_returnflag,
             sum((cast(1 as bigint) << (59 - max_rho))) + (16 - count(*)) * (cast(1 as bigint) << 59) AS nn
           FROM regs GROUP BY 1),
         ex AS (SELECT l_returnflag, cast(count(*) as bigint) AS exact_distinct FROM d GROUP BY 1)
         SELECT ex.l_returnflag, ex.exact_distinct,
           cast(floor(0.673 * 256.0 * 576460752303423488.0 / cast(nn as double)) as bigint) AS approx_distinct
         FROM ex JOIN n USING (l_returnflag)""")),
    // q40: character-level Rabin-Karp — the Horner fold replayed as
    // Σ ascii(cᵢ)·B^(n−1−i) mod M over a recursive power table (equal by
    // ring homomorphism; q215's token-level oracle is the template)
    QuerySpec("q40_fingerprint_rolling", q40_fingerprint_rolling, Oracle(
      """WITH RECURSIVE ch AS (
           SELECT doc_id, regexp_extract_all(text, '.') AS cs FROM documents),
         mx AS (SELECT max(len(cs)) AS m FROM ch),
         powers AS (
           SELECT 0 AS k, CAST(1 AS BIGINT) AS p
           UNION ALL
           SELECT k + 1, (p * 1000003) % 2147483647 FROM powers
           WHERE k < (SELECT m FROM mx)),
         pos AS (
           SELECT doc_id, len(cs) AS n, g.i AS i, cs[g.i + 1] AS c
           FROM ch, (SELECT unnest(range(0, (SELECT m FROM mx))) AS i) g
           WHERE g.i < len(cs)),
         agg AS (
           SELECT pos.doc_id,
             cast(sum((ascii(c) * pw.p) % 2147483647) % 2147483647 as bigint) AS fp
           FROM pos JOIN powers pw ON pw.k = pos.n - 1 - pos.i
           GROUP BY 1)
         SELECT t.doc_id, coalesce(a.fp, 0) AS fp
         FROM ch t LEFT JOIN agg a ON t.doc_id = a.doc_id""")),
    QuerySpec("q30_text_stats", q30_text_stats, Oracle(
      """SELECT doc_id, cast(length(text) as bigint) AS char_len,
           cast(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) as bigint) AS token_count,
           cast(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) as bigint) AS punct_count
         FROM documents""")),
    QuerySpec("q32_quality", q32_quality, Oracle(
      """WITH stats AS (
           SELECT doc_id, cast(length(text) as bigint) AS n_char,
             cast(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) as bigint) AS n_tok,
             cast(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) as bigint) AS n_punct
           FROM documents)
         SELECT doc_id,
           CASE WHEN n_tok < 5 THEN 'too_short'
                WHEN n_char > 20000 THEN 'too_long'
                WHEN n_punct * 10 > n_char * 3 THEN 'too_much_punct'
                WHEN n_char > n_tok * 15 THEN 'words_too_long'
                ELSE 'ok' END AS quality
         FROM stats""")),
    QuerySpec("q31_lang_id", q31_lang_id, Oracle(
      """WITH sc AS (SELECT doc_id,
           len(regexp_extract_all(text, '(?i)\b(the|and|of|to|a|in|is|that|it|for)\b')) AS s_en,
           len(regexp_extract_all(text, '(?i)\b(der|die|das|und|ist|nicht|ein|mit|auf|zu)\b')) AS s_de,
           len(regexp_extract_all(text, '(?i)\b(le|la|les|et|est|un|une|des|que|pour)\b')) AS s_fr,
           len(regexp_extract_all(text, '(?i)\b(el|los|las|y|es|un|una|que|por|para)\b')) AS s_es,
           len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]')) AS s_zh
         FROM documents)
         SELECT doc_id,
           CASE WHEN greatest(s_en, s_de, s_fr, s_es) > 0 THEN
             CASE WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                  WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                  WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                  ELSE 'es' END
           WHEN s_zh > 0 THEN 'zh' ELSE 'und' END AS lang_pred
         FROM sc""")),
    QuerySpec("q38_ann_brute", q38_ann_brute, Oracle(
      """SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           cast(row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id ASC) as bigint) AS rank
         FROM embeddings q, embeddings c
         WHERE q.label = 0 AND q.vec_id != c.vec_id
         QUALIFY rank <= 5""")),
    QuerySpec("q39_ann_lsh", q39_ann_lsh, RowsOnly(
      "exact twin q38_ann_brute (oracle-checked); hash-PROVEN det twin q223 (candidate generation itself oracle-checked); SimilaritySpec recall bound")),
    QuerySpec("q41_embed_neardup", q41_embed_neardup, benched = false, check = Oracle(embedNearDupOracleSql)),
    // q161: the banded scale form computes the IDENTICAL pair set (recall-1
    // banding + exact verification) — same oracle proves it end-to-end
    QuerySpec("q161_embed_neardup_banded", q161_embed_neardup_banded, Oracle(embedNearDupOracleSql)),
    QuerySpec("q51_stream_counts", q51_stream_counts, Oracle(
      "SELECT event_type, cast(count(*) as bigint) AS cnt FROM events GROUP BY 1")),
    QuerySpec("q42_ngram_jaccard", q42_ngram_jaccard, Oracle(
      """WITH s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' '))) AS sh
           FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
                 FROM documents)
           WHERE len(toks) >= 3)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           cast(len(list_intersect(a.sh, b.sh)) as bigint) AS inter,
           cast(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) as bigint) AS uni
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.sh, b.sh)) * 10 >=
               (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 7""")),
    QuerySpec("q43_ann_ivf", q43_ann_ivf, RowsOnly(
      "exact twin q38_ann_brute; hash-PROVEN det twin q224 (whole IVF pipeline oracle-checked); SimilaritySpec recall bound")),
    QuerySpec("q33_fingerprint", q33_fingerprint, Oracle(
      "SELECT doc_id, md5(text) AS content_hash FROM documents")),
    QuerySpec("q34_dedup_exact", q34_dedup_exact, Oracle(
      """SELECT md5(text) AS content_hash, cast(count(*) as bigint) AS n_copies,
           min(doc_id) AS keep_id FROM documents GROUP BY 1""")),
    QuerySpec("q44_join_semi", q44_join_semi, Oracle(
      """SELECT o_orderkey, o_totalprice AS total_price FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity > 45)""")),
    QuerySpec("q45_join_anti", q45_join_anti, Oracle(
      """SELECT c_custkey, c_name AS cust_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""")),
    QuerySpec("q46_salted_join", q46_salted_join, Oracle(
      """SELECT o_orderpriority AS priority,
           cast(count(*) as bigint) AS n_lines,
           cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""")),
    QuerySpec("q47_grouping_sets", q47_grouping_sets, Oracle(
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           cast(count(*) as bigint) AS cnt,
           cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty
         FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""")),
    QuerySpec("q48_lag_lead", q48_lag_lead, Oracle(
      """SELECT user_id, event_id,
           lag(event_type, 1) OVER w AS prev_type,
           lead(event_type, 1) OVER w AS next_type,
           cast(dense_rank() OVER (PARTITION BY user_id ORDER BY value DESC) as bigint) AS value_rank
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""")),
    QuerySpec("q49_sessionize_batch", q49_sessionize_batch, Oracle(
      """WITH flagged AS (
           SELECT user_id, ts,
             CASE WHEN lag(ts, 1) OVER w IS NULL
                       OR ts > lag(ts, 1) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
         numbered AS (
           SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
           FROM flagged)
         SELECT user_id, cast(session_idx as bigint) AS session_idx,
           min(ts) AS session_start, max(ts) AS session_end,
           cast(count(*) as bigint) AS n_events
         FROM numbered GROUP BY 1, 2""")),
    QuerySpec("q50_media_features", q50_media_features, Oracle(q50OracleSql)),
    QuerySpec("q52_pivot_wide", q52_pivot_wide, Oracle(
      """SELECT cast(ts as date) AS day,
           cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) as bigint) AS n_click,
           cast(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) as bigint) AS n_error,
           cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) as bigint) AS n_purchase,
           cast(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) as bigint) AS n_signup,
           cast(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) as bigint) AS n_view
         FROM events GROUP BY 1""")),
    QuerySpec("q53_token_bpe", q53_token_bpe, Oracle(
      """SELECT doc_id,
           cast(len(regexp_extract_all(text, '[\p{L}]+|[\p{N}]|[^\p{L}\p{N}\s]')) as bigint) AS n_pieces
         FROM documents""")),
    QuerySpec("q54_collect_sorted", q54_collect_sorted, Oracle(
      """SELECT user_id,
           string_agg(event_type, ',' ORDER BY event_type) AS types_sorted,
           cast(count(*) as bigint) AS n_events
         FROM events GROUP BY 1""")),
    QuerySpec("q55_explode_pos", q55_explode_pos, Oracle(
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
           FROM documents)
         SELECT doc_id,
           cast(unnest(range(0, len(toks))) as bigint) AS pos,
           unnest(toks) AS token
         FROM t""")),
    QuerySpec("q56_date_arith", q56_date_arith, Oracle(
      """SELECT o_orderkey,
           cast(o_orderdate + INTERVAL 30 DAY as date) AS due_date,
           cast(o_orderdate + INTERVAL 3 MONTH as date) AS review_date,
           last_day(o_orderdate) AS month_end,
           cast(date_trunc('month', o_orderdate) as date) AS month_start
         FROM orders""")),
    QuerySpec("q57_string_funcs", q57_string_funcs, Oracle(
      """SELECT c_custkey,
           upper(c_name) AS name_upper,
           lower(c_mktsegment) AS segment_lower,
           substring(c_name, 1, 10) AS name_prefix,
           concat_ws('|', c_mktsegment, c_name) AS seg_name,
           replace(c_name, ' ', '') AS name_nospace,
           lpad(cast(c_custkey as varchar), 12, '0') AS key_padded
         FROM customer""")),
    QuerySpec("q58_quantiles", q58_quantiles, Oracle(
      """SELECT l_returnflag AS returnflag,
           quantile_cont(cast(l_quantity as bigint), 0.25) AS p25,
           quantile_cont(cast(l_quantity as bigint), 0.5) AS p50,
           quantile_cont(cast(l_quantity as bigint), 0.9) AS p90
         FROM lineitem GROUP BY 1""")),
    QuerySpec("q59_frame_sample", q59_frame_sample, Oracle(
      """WITH v AS (
           SELECT doc_id, range(0, (doc_id % 10) * 1000 + 1, 2000) AS fts
           FROM documents WHERE doc_id % 3 = 2)
         SELECT doc_id AS media_id,
           cast(unnest(range(0, len(fts))) as bigint) AS frame_idx,
           cast(unnest(fts) as bigint) AS frame_ts_ms
         FROM v""")),
    QuerySpec("q60_stream_windows", q60_stream_windows, Oracle(
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
           cast(count(*) as bigint) AS cnt
         FROM events GROUP BY 1, 2""")),
    QuerySpec("q61_array_funcs", q61_array_funcs, Oracle(
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
           FROM documents)
         SELECT doc_id,
           cast(len(list_distinct(toks)) as bigint) AS n_uniq,
           list_contains(toks, 'the') AS has_the,
           toks[1] AS first_tok,
           toks[-1] AS last_tok,
           cast(coalesce(list_position(toks, 'the'), 0) as bigint) AS the_pos
         FROM t WHERE len(toks) > 0""")),
    QuerySpec("q62_moment_stats", q62_moment_stats, Oracle(
      """WITH m AS (
           SELECT l_returnflag AS returnflag,
             cast(count(*) as bigint) AS n,
             cast(sum(cast(l_quantity as bigint)) as bigint) AS sx,
             cast(sum(cast(l_quantity as bigint) * cast(l_quantity as bigint)) as bigint) AS sxx,
             cast(sum(cast(l_linenumber as bigint)) as bigint) AS sy,
             cast(sum(cast(l_linenumber as bigint) * cast(l_linenumber as bigint)) as bigint) AS syy,
             cast(sum(cast(l_quantity as bigint) * cast(l_linenumber as bigint)) as bigint) AS sxy
           FROM lineitem GROUP BY 1)
         SELECT returnflag, n,
           cast(n * sxx - sx * sx as double) / cast(n * (n - 1) as double) AS var_x,
           sqrt(cast(n * sxx - sx * sx as double) / cast(n * (n - 1) as double)) AS stddev_x,
           cast(n * sxy - sx * sy as double) /
             (sqrt(cast(n * sxx - sx * sx as double)) * sqrt(cast(n * syy - sy * sy as double))) AS corr_xy
         FROM m""")),
    QuerySpec("q63_intersect_except", q63_intersect_except, Oracle(
      """SELECT custkey, relation FROM (
           SELECT o_custkey AS custkey, 'both' AS relation FROM (
             SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             INTERSECT
             SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
           UNION ALL
           SELECT o_custkey AS custkey, 'urgent_only' AS relation FROM (
             SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             EXCEPT
             SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'))""")),
    QuerySpec("q64_fill_down", q64_fill_down, Oracle(
      """SELECT user_id, event_id,
           last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
         FROM events""")),
    QuerySpec("q65_try_cast", q65_try_cast, Oracle(
      """SELECT l_orderkey, cast(l_linenumber as bigint) AS line_no,
           TRY_CAST(cast(cast(l_quantity as bigint) as varchar) ||
             (CASE WHEN l_orderkey % 7 = 0 THEN 'x' ELSE '' END) AS BIGINT) AS qty_parsed
         FROM lineitem""")),
    QuerySpec("q66_profile", q66_profile, Oracle(
      """SELECT 'l_orderkey' AS column_name, cast(count(*) as bigint) AS n_rows,
           cast(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) as bigint) AS n_null,
           cast(count(DISTINCT l_orderkey) as bigint) AS n_distinct,
           cast(min(l_orderkey) as varchar) AS min_str, cast(max(l_orderkey) as varchar) AS max_str
         FROM lineitem
         UNION ALL
         SELECT 'l_quantity', cast(count(*) as bigint),
           cast(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) as bigint),
           cast(count(DISTINCT l_quantity) as bigint),
           cast(min(l_quantity) as varchar), cast(max(l_quantity) as varchar)
         FROM lineitem
         UNION ALL
         SELECT 'l_returnflag', cast(count(*) as bigint),
           cast(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) as bigint),
           cast(count(DISTINCT l_returnflag) as bigint),
           cast(min(l_returnflag) as varchar), cast(max(l_returnflag) as varchar)
         FROM lineitem
         UNION ALL
         SELECT 'l_shipdate', cast(count(*) as bigint),
           cast(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) as bigint),
           cast(count(DISTINCT l_shipdate) as bigint),
           cast(min(l_shipdate) as varchar), cast(max(l_shipdate) as varchar)
         FROM lineitem""")),
    QuerySpec("q35_jaccard_pairs", q35_jaccard_pairs, benched = false, check = Oracle(
      """WITH sets AS (
           SELECT doc_id, list_distinct(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS ws
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           cast(len(list_intersect(a.ws, b.ws)) as bigint) AS inter,
           cast(len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws)) as bigint) AS uni
         FROM sets a JOIN sets b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.ws, b.ws)) * 10 >=
               (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) * 8""")),
    QuerySpec("q36_minhash_lsh", q36_minhash_lsh, RowsOnly(
      "exact twin q35_jaccard_pairs (oracle-checked); hash-PROVEN det twin q212; DedupSpec differential")),
    QuerySpec("q37_simhash_neardup", q37_simhash_neardup, RowsOnly(
      "hash-PROVEN det twin q213; DedupSpec differential vs exact Hamming over simhash64")),
    // q67: bucketing changes the physical plan, never the answer — the
    // oracle is the plain join+agg
    QuerySpec("q67_bucketed_join", q67_bucketed_join, Oracle(
      """SELECT o_orderpriority AS priority, cast(count(*) as bigint) AS n_lines,
           cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""")),
    QuerySpec("q68_partition_prune", q68_partition_prune, Oracle(
      """SELECT o_orderpriority AS priority, cast(count(*) as bigint) AS n_orders,
           cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price
         FROM orders WHERE year(o_orderdate) = 1995
         GROUP BY 1""")),
    // q69: histogram-exact percentile_disc — rank = ceil(p·n), smallest
    // value whose cumulative count reaches it; all-integer, mirrors
    // sketch.HistogramQuantiles verbatim
    QuerySpec("q69_approx_quantiles", q69_approx_quantiles, Oracle(
      """WITH h AS (
           SELECT l_returnflag AS returnflag, cast(l_quantity as bigint) AS v,
             cast(count(*) as bigint) AS c
           FROM lineitem GROUP BY 1, 2),
         t AS (
           SELECT returnflag, v,
             sum(c) OVER (PARTITION BY returnflag ORDER BY v) AS cum,
             sum(c) OVER (PARTITION BY returnflag) AS n
           FROM h)
         SELECT returnflag,
           min(CASE WHEN cum >= ceil(0.25 * n) THEN v END) AS p25,
           min(CASE WHEN cum >= ceil(0.5 * n) THEN v END) AS p50,
           min(CASE WHEN cum >= ceil(0.9 * n) THEN v END) AS p90
         FROM t GROUP BY 1""")),
    QuerySpec("q70_hll_union", q70_hll_union, Oracle(q70OracleSql)),
    // q71: gaps-and-islands with session_window's exact boundary semantics —
    // Spark coalesces touching windows, so merge iff gap <= 30 min (a break
    // needs STRICTLY more), and session_end is last_ts + gap
    QuerySpec("q71_session_window", q71_session_window, Oracle(
      """WITH g AS (
           SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
           FROM g)
         SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           cast(count(*) as bigint) AS n_events
         FROM s GROUP BY user_id, sid""")),
    QuerySpec("q72_stream_dedup", q72_stream_dedup, Oracle(
      """SELECT event_type, cast(count(DISTINCT event_id) as bigint) AS n_unique
         FROM events GROUP BY 1""")),
    // q73: the only float ops are the two final divisions, written in the
    // same order as Aggregator.finish (sum/100.0/qty)
    QuerySpec("q73_typed_agg", q73_typed_agg, Oracle(
      """SELECT l_returnflag AS returnflag,
           cast(sum(cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)
                    * cast(l_quantity as bigint)) as double) / 100.0
             / cast(sum(cast(l_quantity as bigint)) as double) AS wavg_price
         FROM lineitem GROUP BY 1""")),
    // q74: floor/ceil via positive-operand integer division (Spark `div`
    // truncates toward zero, DuckDB `//` floors — equal on positives)
    QuerySpec("q74_math_funcs", q74_math_funcs, Oracle(
      """SELECT l_orderkey, cast(l_linenumber as bigint) AS line_no,
           abs(cast(l_quantity as bigint) - 25) AS abs_dev,
           cast(cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint) // 100000 as bigint) AS price_kfloor,
           cast((cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint) + 99999) // 100000 as bigint) AS price_kceil,
           sqrt(cast(cast(l_quantity as bigint) as double)) AS qty_sqrt,
           l_orderkey % 7 AS key_mod7,
           cast(sign(cast(l_quantity as double) - 25.0) as bigint) AS dev_sign
         FROM lineitem""")),
    QuerySpec("q75_conditional_funcs", q75_conditional_funcs, Oracle(
      """SELECT o_orderkey,
           coalesce(nullif(o_orderpriority, '4-NOT SPECIFIED'), 'UNSPECIFIED') AS priority_clean,
           greatest(o_totalprice, 100000.0) AS price_floor,
           least(o_totalprice, 100000.0) AS price_cap,
           coalesce(o_orderstatus, '?') AS status_nn,
           CASE WHEN o_totalprice > 200000.0 THEN 'big' ELSE 'small' END AS size_class
         FROM orders""")),
    // q76: RE2-safe patterns; DuckDB regexp_replace needs the 'g' flag to
    // match Spark's global-replace default
    QuerySpec("q76_regex_funcs", q76_regex_funcs, Oracle(
      """SELECT doc_id,
           regexp_extract(text, '([A-Za-z]+)', 1) AS first_word,
           cast(len(regexp_extract_all(text, '[0-9]+')) as bigint) AS n_numruns,
           regexp_replace(text, '[0-9]+', '#', 'g') AS masked,
           regexp_matches(text, 'data') AS has_data
         FROM documents""")),
    // q77: merge heals the stale snapshot back to the source — the oracle
    // aggregates the source directly
    QuerySpec("q77_incremental_merge", q77_incremental_merge, Oracle(
      """SELECT o_orderstatus AS status, cast(count(*) as bigint) AS n_orders,
           cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price
         FROM orders GROUP BY 1""")),
    QuerySpec("q78_map_funcs", q78_map_funcs, Oracle(
      """SELECT o_orderkey, o_orderstatus AS m_status, true AS has_priority,
           cast(2 as bigint) AS m_size, 'orders' AS m_source
         FROM orders""")),
    QuerySpec("q79_unpivot", q79_unpivot, Oracle(
      """WITH a AS (
           SELECT l_returnflag AS returnflag,
             cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty,
             cast(count(*) as bigint) AS cnt,
             cast(max(cast(l_quantity as bigint)) as bigint) AS max_qty
           FROM lineitem GROUP BY 1)
         SELECT returnflag, 'sum_qty' AS measure, sum_qty AS value FROM a
         UNION ALL SELECT returnflag, 'cnt' AS measure, cnt AS value FROM a
         UNION ALL SELECT returnflag, 'max_qty' AS measure, max_qty AS value FROM a""")),
    QuerySpec("q80_range_frame", q80_range_frame, Oracle(
      """SELECT user_id, event_id, vfloor,
           cast(count(*) OVER fr as bigint) AS n_near,
           cast(sum(vfloor) OVER fr as bigint) AS sum_near
         FROM (SELECT user_id, event_id, cast(floor(value) as bigint) AS vfloor FROM events)
         WINDOW fr AS (PARTITION BY user_id ORDER BY vfloor
                       RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)""")),
    // q81: DuckDB range(1,0) is empty (never descends) so the bigram list is
    // safely empty for 0/1-token docs; Spark side has an explicit guard
    QuerySpec("q81_repetition", q81_repetition, Oracle(
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
           FROM documents),
         b AS (SELECT doc_id, toks,
             list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bg
           FROM t)
         SELECT doc_id,
           cast(len(toks) as bigint) AS n_tok,
           cast(len(list_distinct(toks)) as bigint) AS n_uniq_tok,
           cast(len(bg) as bigint) AS n_bigram,
           cast(len(list_distinct(bg)) as bigint) AS n_uniq_bigram,
           CASE WHEN len(toks) > 0
                THEN cast(len(toks) - len(list_distinct(toks)) as double) / cast(len(toks) as double)
                ELSE 0.0 END AS dup_tok_frac,
           CASE WHEN len(bg) > 0
                THEN cast(len(bg) - len(list_distinct(bg)) as double) / cast(len(bg) as double)
                ELSE 0.0 END AS dup_bigram_frac
         FROM b""")),
    QuerySpec("q82_pii_mask", q82_pii_mask, Oracle(
      """WITH a AS (SELECT doc_id,
             text || ' contact user' || cast(doc_id as varchar) ||
               '@example.com or call +1-555-' || lpad(cast(doc_id % 10000 as varchar), 7, '0') AS aug
           FROM documents)
         SELECT doc_id,
           cast(len(regexp_extract_all(aug, '[A-Za-z0-9_.]+@[A-Za-z0-9_.-]+')) as bigint) AS n_emails,
           cast(len(regexp_extract_all(aug, '[+][0-9][0-9-]{5,}')) as bigint) AS n_phones,
           regexp_replace(regexp_replace(aug, '[A-Za-z0-9_.]+@[A-Za-z0-9_.-]+', '<EMAIL>', 'g'),
             '[+][0-9][0-9-]{5,}', '<PHONE>', 'g') AS masked
         FROM a""")),
    // q83: md5 of the stringified key is engine-identical; lowercase hex
    // compares lexicographically == numerically at fixed width
    QuerySpec("q83_hash_sample", q83_hash_sample, Oracle(
      """SELECT o_orderkey, o_orderpriority AS priority, o_totalprice AS total_price
         FROM orders
         WHERE CASE WHEN o_orderpriority = '1-URGENT'
                    THEN substring(md5(cast(o_orderkey as varchar)), 1, 4) < '8000'
                    ELSE substring(md5(cast(o_orderkey as varchar)), 1, 4) < '199a' END""")),
    QuerySpec("q84_date_spine", q84_date_spine, Oracle(
      """WITH daily AS (
           SELECT user_id, cast(ts as date) AS day, cast(count(*) as bigint) AS n
           FROM events GROUP BY 1, 2),
         bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
         spine AS (SELECT user_id,
             cast(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) as date) AS day
           FROM bounds)
         SELECT s.user_id, s.day, coalesce(n, 0) AS n_events
         FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day""")),
    QuerySpec("q85_levenshtein", q85_levenshtein, Oracle(
      """WITH t AS (SELECT p_partkey,
             p_type || repeat('x', cast(p_partkey % 3 as int)) AS dirty
           FROM part)
         SELECT p_partkey, dirty,
           cast(levenshtein(dirty, 'ECONOMY') as bigint) AS d_economy,
           cast(levenshtein(dirty, 'STANDARD') as bigint) AS d_standard,
           cast(levenshtein(dirty, 'PROMO') as bigint) AS d_promo,
           CASE WHEN levenshtein(dirty, 'ECONOMY') <= levenshtein(dirty, 'STANDARD')
                 AND levenshtein(dirty, 'ECONOMY') <= levenshtein(dirty, 'PROMO') THEN 'ECONOMY'
                WHEN levenshtein(dirty, 'STANDARD') <= levenshtein(dirty, 'PROMO') THEN 'STANDARD'
                ELSE 'PROMO' END AS canonical
         FROM t""")),
    QuerySpec("q86_rank_battery", q86_rank_battery, Oracle(
      """SELECT o_custkey AS custkey, o_orderkey,
           cast(rank() OVER w as bigint) AS rnk,
           cast(dense_rank() OVER w as bigint) AS drnk,
           cast(ntile(4) OVER w as bigint) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cdist
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)""")),
    // q87: z from exact integer (n, Σx, Σx²); the float formula is written
    // in the identical operation order on both sides
    QuerySpec("q87_zscore_outliers", q87_zscore_outliers, Oracle(
      """WITH st AS (
           SELECT l_returnflag AS rf, cast(count(*) as bigint) AS n,
             cast(sum(cast(l_quantity as bigint)) as bigint) AS sx,
             cast(sum(cast(l_quantity as bigint) * cast(l_quantity as bigint)) as bigint) AS sxx
           FROM lineitem GROUP BY 1)
         SELECT l_orderkey, cast(l_linenumber as bigint) AS line_no,
           l_returnflag AS returnflag, cast(l_quantity as bigint) AS qty,
           (cast(cast(l_quantity as bigint) as double) - cast(sx as double) / cast(n as double)) /
             sqrt(cast(n * sxx - sx * sx as double) / cast(n * (n - 1) as double)) AS z,
           abs((cast(cast(l_quantity as bigint) as double) - cast(sx as double) / cast(n as double)) /
             sqrt(cast(n * sxx - sx * sx as double) / cast(n * (n - 1) as double))) > 2.0 AS is_outlier
         FROM lineitem JOIN st ON l_returnflag = rf""")),
    // q88: same pair set as q42 (hash-distinct == string-distinct shingle
    // counts), closed transitively by a recursive CTE; min reachable id is
    // the cluster id
    QuerySpec("q88_dup_clusters", q88_dup_clusters, Oracle(
      """WITH RECURSIVE s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' '))) AS sh
           FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
                 FROM documents)
           WHERE len(toks) >= 3),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM s a JOIN s b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.sh, b.sh)) * 10 >=
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 7),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         walk(id, lab) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id)
         SELECT id AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY id""")),
    // q89: DuckDB range(0, n, 96) == Spark sequence(0, n-1, 96) for n > 0;
    // both empty for empty docs
    QuerySpec("q89_chunk_windows", q89_chunk_windows, Oracle(
      """WITH t AS (SELECT doc_id,
             cast(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) as bigint) AS n_tok
           FROM documents)
         SELECT doc_id, cast(st // 96 as bigint) AS chunk_idx,
           cast(st as bigint) AS tok_start,
           cast(least(st + 128, n_tok) as bigint) AS tok_end
         FROM (SELECT doc_id, n_tok, unnest(range(0, n_tok, 96)) AS st FROM t)""")),
    QuerySpec("q90_vocab_topn", q90_vocab_topn, Oracle(
      """SELECT token, cast(count(*) as bigint) AS n FROM (
           SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
           FROM documents)
         WHERE regexp_matches(token, '^[a-z]+$')
         GROUP BY 1 ORDER BY n DESC, token ASC LIMIT 200""")),
    QuerySpec("q91_stream_join", q91_stream_join, Oracle(
      """SELECT c.user_id, cast(count(*) as bigint) AS n_pairs,
           cast(count(DISTINCT c.event_id) as bigint) AS n_lefts,
           cast(count(DISTINCT p.event_id) as bigint) AS n_rights
         FROM events c JOIN events p
           ON c.user_id = p.user_id
           AND c.event_type = 'click' AND p.event_type = 'purchase'
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
         GROUP BY 1""")),
    QuerySpec("q92_minmax_scale", q92_minmax_scale, Oracle(
      """SELECT o_orderkey, o_orderpriority AS priority, o_totalprice AS total_price,
           CASE WHEN max(o_totalprice) OVER w = min(o_totalprice) OVER w THEN 0.5
                ELSE (o_totalprice - min(o_totalprice) OVER w) /
                     (max(o_totalprice) OVER w - min(o_totalprice) OVER w) END AS price_scaled
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority)""")),
    QuerySpec("q93_full_outer", q93_full_outer, Oracle(
      """WITH c AS (SELECT c_custkey AS ckey, c_name FROM customer WHERE c_custkey % 3 = 0),
         o AS (SELECT o_custkey, cast(count(*) as bigint) AS n_urgent
               FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
         SELECT coalesce(ckey, o_custkey) AS custkey,
           c_name AS cust_name,
           coalesce(n_urgent, 0) AS n_urgent,
           ckey IS NOT NULL AS in_dim,
           o_custkey IS NOT NULL AS in_fact
         FROM c FULL OUTER JOIN o ON ckey = o_custkey""")),
    QuerySpec("q94_cross_join", q94_cross_join, Oracle(
      """SELECT r_regionkey, n_nationkey,
           r_name || '/' || n_name AS pair_label
         FROM region CROSS JOIN nation""")),
    // q95: each event expands into windowLen/slide = 4 epoch-aligned window
    // starts (time_bucket == Spark's slide-aligned window start)
    QuerySpec("q95_sliding_windows", q95_sliding_windows, Oracle(
      """SELECT ws AS window_start, event_type, cast(count(*) as bigint) AS cnt
         FROM (SELECT event_type,
                 unnest(generate_series(time_bucket(INTERVAL 15 MINUTE, ts) - INTERVAL 45 MINUTE,
                   time_bucket(INTERVAL 15 MINUTE, ts), INTERVAL 15 MINUTE)) AS ws
               FROM events)
         GROUP BY 1, 2""")),
    QuerySpec("q96_mode", q96_mode, Oracle(
      """WITH c AS (SELECT user_id, event_type, cast(count(*) as bigint) AS cnt
                    FROM events GROUP BY 1, 2),
         r AS (SELECT user_id, event_type, cnt,
                 row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type ASC) AS rn,
                 sum(cnt) OVER (PARTITION BY user_id) AS n_events
               FROM c)
         SELECT user_id, event_type AS mode_type, cnt AS mode_count,
           cast(n_events as bigint) AS n_events
         FROM r WHERE rn = 1""")),
    // q97: the round-trip is the identity — the oracle reads the original
    // columns straight off the table
    QuerySpec("q97_json_struct", q97_json_struct, Oracle(
      """SELECT event_id, event_id AS id_back, event_type AS type_back, user_id AS user_back
         FROM events""")),
    // q98/q99: lossless round-trip — the oracle aggregates the original
    QuerySpec("q98_csv_roundtrip", q98_csv_roundtrip, Oracle(
      """SELECT o_orderpriority AS priority, cast(count(*) as bigint) AS n_orders,
           cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price,
           min(cast(o_orderdate as date)) AS first_date,
           max(cast(o_orderdate as date)) AS last_date
         FROM orders GROUP BY 1""")),
    QuerySpec("q99_json_roundtrip", q99_json_roundtrip, Oracle(
      """SELECT o_orderpriority AS priority, cast(count(*) as bigint) AS n_orders,
           cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price
         FROM orders GROUP BY 1""")),
    QuerySpec("q100_value_windows", q100_value_windows, Oracle(
      """SELECT user_id, event_id,
           first_value(event_type) OVER run AS first_type,
           last_value(event_type) OVER whole AS last_type,
           nth_value(event_type, 2) OVER run AS second_type
         FROM events
         WINDOW run AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           whole AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""")),
    QuerySpec("q101_union_evolve", q101_union_evolve, Oracle(
      """SELECT o_orderkey, priority, total_price FROM (
           SELECT o_orderkey, o_orderpriority AS priority, NULL::double AS total_price
           FROM orders WHERE o_orderkey % 2 = 0
           UNION ALL BY NAME
           SELECT o_orderkey, o_orderpriority AS priority, o_totalprice AS total_price
           FROM orders WHERE o_orderkey % 2 = 1)""")),
    QuerySpec("q102_merge_schema", q102_merge_schema, Oracle(
      """WITH merged AS (
           SELECT o_orderpriority, NULL::double AS o_totalprice
           FROM orders WHERE o_orderkey % 2 = 0
           UNION ALL
           SELECT o_orderpriority, o_totalprice
           FROM orders WHERE o_orderkey % 2 = 1)
         SELECT o_orderpriority AS priority, cast(count(*) as bigint) AS n_orders,
           cast(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) as bigint) AS n_legacy_rows,
           cast(sum(cast(coalesce(o_totalprice, 0.0) as decimal(18,2))) as double) AS sum_price_new
         FROM merged GROUP BY 1""")),
    QuerySpec("q103_snapshot_diff", q103_snapshot_diff, Oracle(
      """WITH today AS (
           SELECT o_orderkey AS k_new,
             md5(cast(cast(o_totalprice as decimal(18,2)) as varchar) || '|' || o_orderpriority) AS h_new
           FROM orders),
         yesterday AS (
           SELECT o_orderkey AS k_old,
             md5(cast(cast(CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
                                ELSE o_totalprice END as decimal(18,2)) as varchar) ||
                 '|' || o_orderpriority) AS h_old
           FROM orders WHERE o_orderkey % 101 <> 0)
         SELECT CASE WHEN k_old IS NULL THEN 'added'
                     WHEN k_new IS NULL THEN 'removed'
                     WHEN h_new <> h_old THEN 'changed'
                     ELSE 'unchanged' END AS status,
           cast(count(*) as bigint) AS n_rows
         FROM today FULL OUTER JOIN yesterday ON k_new = k_old
         GROUP BY 1""")),
    // q104: the merged partials must equal one monolithic pass exactly
    QuerySpec("q104_incremental_stats", q104_incremental_stats, Oracle(
      """SELECT l_returnflag AS returnflag, cast(count(*) as bigint) AS n,
           cast(count(*) * sum(cast(l_quantity as bigint) * cast(l_quantity as bigint))
                - sum(cast(l_quantity as bigint)) * sum(cast(l_quantity as bigint)) as double) /
             cast(count(*) * (count(*) - 1) as double) AS var_qty
         FROM lineitem GROUP BY 1""")),
    QuerySpec("q105_topk_per_group", q105_topk_per_group, Oracle(
      """SELECT o_custkey AS custkey, cast(rnk as bigint) AS rnk, o_orderkey,
           o_totalprice AS total_price
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
               FROM orders)
         WHERE rnk <= 3""")),
    QuerySpec("q106_orc_roundtrip", q106_orc_roundtrip, Oracle(
      """SELECT o_orderpriority AS priority, cast(count(*) as bigint) AS n_orders,
           cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price,
           min(cast(o_orderdate as date)) AS first_date
         FROM orders GROUP BY 1""")),
    QuerySpec("q107_nullsafe_join", q107_nullsafe_join, Oracle(
      """WITH dim AS (
           SELECT * FROM (VALUES ('1-URGENT', 'now'), ('2-HIGH', 'soon'),
             ('3-MEDIUM', 'later'), ('5-LOW', 'whenever'), (NULL, 'unknown'))
             AS t(d_priority, sla)),
         facts AS (
           SELECT o_orderkey, nullif(o_orderpriority, '4-NOT SPECIFIED') AS priority
           FROM orders)
         SELECT sla, cast(count(*) as bigint) AS n_orders
         FROM facts JOIN dim ON priority IS NOT DISTINCT FROM d_priority
         GROUP BY 1""")),
    QuerySpec("q108_dedup_keep_best", q108_dedup_keep_best, Oracle(
      """WITH RECURSIVE s AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' '))) AS sh
           FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
                 FROM documents)
           WHERE len(toks) >= 3),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM s a JOIN s b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.sh, b.sh)) * 10 >=
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 7),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         walk(id, lab) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id),
         clusters AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY id),
         ranked AS (
           SELECT c.cluster_id, d.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.cluster_id
               ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY c.cluster_id) AS n_members
           FROM clusters c JOIN documents d ON c.doc_id = d.doc_id)
         SELECT cluster_id, doc_id AS keeper_id, n_chars AS keeper_chars,
           cast(n_members as bigint) AS n_members
         FROM ranked WHERE rn = 1""")),
    QuerySpec("q109_quality_filter", q109_quality_filter, Oracle(
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
           FROM documents),
         b AS (SELECT doc_id, text, toks,
             list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bg
           FROM t),
         sc AS (SELECT doc_id, text, toks, bg,
           len(regexp_extract_all(text, '(?i)\b(the|and|of|to|a|in|is|that|it|for)\b')) AS s_en,
           len(regexp_extract_all(text, '(?i)\b(der|die|das|und|ist|nicht|ein|mit|auf|zu)\b')) AS s_de,
           len(regexp_extract_all(text, '(?i)\b(le|la|les|et|est|un|une|des|que|pour)\b')) AS s_fr,
           len(regexp_extract_all(text, '(?i)\b(el|los|las|y|es|un|una|que|por|para)\b')) AS s_es,
           len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]')) AS s_zh
         FROM b)
         SELECT doc_id,
           CASE WHEN len(toks) < 5 THEN 'too_short'
                WHEN (len(bg) - len(list_distinct(bg))) * 10 > len(bg) * 3 THEN 'too_repetitive'
                WHEN (CASE WHEN greatest(s_en, s_de, s_fr, s_es) > 0 THEN
                        CASE WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                             WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                             WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                             ELSE 'es' END
                      WHEN s_zh > 0 THEN 'zh' ELSE 'und' END) <> 'en' THEN 'non_english'
                ELSE 'keep' END AS verdict
         FROM sc""")),
    QuerySpec("q110_typed_lambda", q110_typed_lambda, Oracle(
      """SELECT l_returnflag AS returnflag, cast(count(*) as bigint) AS n_lines,
           cast(sum(cast(l_quantity as bigint) - 30) as bigint) AS excess_qty
         FROM lineitem
         WHERE cast(l_quantity as bigint) > 30 AND l_returnflag <> 'N'
         GROUP BY 1""")),
    QuerySpec("q111_funnel", q111_funnel, Oracle(
      """WITH fc AS (
           SELECT user_id, min(ts) AS c_ts FROM events
           WHERE event_type = 'click' GROUP BY 1),
         conv AS (
           SELECT fc.user_id, fc.c_ts,
             min(CASE WHEN p.ts >= fc.c_ts THEN p.ts END) AS first_p_ts
           FROM fc LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
             ON fc.user_id = p.user_id
           WHERE p.ts IS NULL OR p.ts >= fc.c_ts
           GROUP BY 1, 2)
         SELECT cast(count(*) as bigint) AS n_clickers,
           cast(sum(CASE WHEN first_p_ts IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_converted,
           cast(sum(CASE WHEN first_p_ts <= c_ts + INTERVAL 1 DAY THEN 1 ELSE 0 END) as bigint) AS n_converted_1d
         FROM conv""")),
    QuerySpec("q112_cohort", q112_cohort, Oracle(
      """WITH weekly AS (
           SELECT DISTINCT user_id, cast(date_trunc('week', ts) as date) AS wk FROM events),
         cohort AS (SELECT user_id, min(wk) AS c_wk FROM weekly GROUP BY 1)
         SELECT c_wk AS cohort_week,
           cast(date_diff('day', c_wk, wk) // 7 as bigint) AS week_offset,
           cast(count(*) as bigint) AS n_active_users
         FROM weekly JOIN cohort USING (user_id)
         GROUP BY 1, 2""")),
    QuerySpec("q113_pack_bins", q113_pack_bins, Oracle(
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
             cast(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) as bigint) AS n_tok
           FROM documents)
         SELECT doc_id, shard, n_tok,
           cast(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096 as bigint) AS bin
         FROM t""")),
    QuerySpec("q114_split_labels", q114_split_labels, Oracle(
      """SELECT doc_id,
           CASE WHEN substring(md5(cast(doc_id as varchar)), 1, 4) < 'cccd' THEN 'train'
                WHEN substring(md5(cast(doc_id as varchar)), 1, 4) < 'e666' THEN 'val'
                ELSE 'test' END AS split
         FROM documents""")),
    QuerySpec("q115_normalize", q115_normalize, Oracle(
      """SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g')) AS norm_text,
           cast(len(text) - len(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g'))) as bigint) AS n_chars_removed
         FROM documents""")),
    QuerySpec("q116_key_skew", q116_key_skew, Oracle(
      """WITH c AS (SELECT l_orderkey, cast(count(*) as bigint) AS n
                    FROM lineitem GROUP BY 1)
         SELECT cast(count(*) as bigint) AS n_keys,
           max(n) AS max_rows_per_key,
           cast(sum(n) as bigint) AS n_rows,
           max(n) AS hot_rows,
           (SELECT min(l_orderkey) FROM c WHERE n = (SELECT max(n) FROM c)) AS hot_key,
           cast(sum(n) as double) / cast(count(*) as double) AS mean_rows_per_key
         FROM c""")),
    QuerySpec("q117_text_lines", q117_text_lines, Oracle(
      """SELECT cast(count(*) as bigint) AS n_lines,
           cast(count(DISTINCT text) as bigint) AS n_distinct_lines,
           cast(sum(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0))) as bigint) AS n_tokens,
           cast(sum(len(text)) as bigint) AS n_chars
         FROM documents""")),
    QuerySpec("q118_asof_forward", q118_asof_forward, Oracle(
      """SELECT c.event_id, c.user_id, c.ts, p.event_id AS next_purchase_id
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id AND c.ts <= p.ts""")),
    QuerySpec("q119_percentile_disc", q119_percentile_disc, Oracle(
      """WITH r AS (
           SELECT l_returnflag AS returnflag, cast(l_quantity as bigint) AS qty,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY cast(l_quantity as bigint) ASC) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
           FROM lineitem)
         SELECT returnflag,
           max(CASE WHEN rn = (n + 3) // 4 THEN qty END) AS p25_disc,
           max(CASE WHEN rn = (n + 1) // 2 THEN qty END) AS p50_disc,
           max(CASE WHEN rn = (9 * n + 9) // 10 THEN qty END) AS p90_disc
         FROM r GROUP BY 1""")),
    QuerySpec("q120_interval_overlap", q120_interval_overlap, Oracle(
      """WITH iv AS (
           SELECT user_id, cast(ts as date) AS day, min(ts) AS lo, max(ts) AS hi
           FROM events GROUP BY 1, 2)
         SELECT a.day, cast(count(*) as bigint) AS n_overlapping_pairs
         FROM iv a JOIN iv b ON a.day = b.day AND a.user_id < b.user_id
           AND a.lo <= b.hi AND b.lo <= a.hi
         GROUP BY 1""")),
    // q121: DuckDB unnest drops empty lists, so empties are padded to [NULL]
    // to mirror explode_outer's survive-as-null semantics
    QuerySpec("q121_explode_outer", q121_explode_outer, Oracle(
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
           FROM documents),
         s AS (SELECT doc_id,
             list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) AS sh
           FROM t),
         e AS (SELECT doc_id,
             unnest(CASE WHEN len(sh) = 0 THEN [NULL] ELSE sh END) AS shingle
           FROM s)
         SELECT doc_id, cast(count(shingle) as bigint) AS n_shingles,
           cast(sum(CASE WHEN shingle IS NULL THEN 1 ELSE 0 END) as bigint) AS n_null_rows
         FROM e GROUP BY 1""")),
    QuerySpec("q122_islands", q122_islands, Oracle(
      """WITH k AS (SELECT DISTINCT o_orderkey AS okey FROM orders),
         g AS (SELECT okey, okey - row_number() OVER (ORDER BY okey) AS grp FROM k)
         SELECT min(okey) AS island_start, max(okey) AS island_end,
           cast(count(*) as bigint) AS n_keys
         FROM g GROUP BY grp""")),
    QuerySpec("q123_ratio_to_report", q123_ratio_to_report, Oracle(
      """WITH a AS (SELECT o_orderpriority AS priority,
             sum(cast(o_totalprice as decimal(18,2))) AS rev
           FROM orders GROUP BY 1)
         SELECT priority, cast(rev as double) AS revenue,
           cast(rev as double) / cast(sum(rev) OVER () as double) AS share
         FROM a""")),
    QuerySpec("q124_cumulative_users", q124_cumulative_users, Oracle(
      """WITH fd AS (
           SELECT min(cast(ts as date)) AS day, user_id FROM events GROUP BY user_id),
         nu AS (SELECT day, cast(count(*) as bigint) AS n_new_users FROM fd GROUP BY 1),
         ad AS (SELECT DISTINCT cast(ts as date) AS day FROM events)
         SELECT ad.day, coalesce(n_new_users, 0) AS n_new_users,
           cast(sum(coalesce(n_new_users, 0)) OVER (ORDER BY ad.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS n_users_cum
         FROM ad LEFT JOIN nu ON ad.day = nu.day""")),
    // q125: same session construction as q49, event_type carried through;
    // sessions without a click have NULL c_ts -> comparisons null -> 0
    QuerySpec("q125_session_funnel", q125_session_funnel, Oracle(
      """WITH flagged AS (
           SELECT user_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
         numbered AS (
           SELECT user_id, ts, event_type,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM flagged),
         withc AS (
           SELECT user_id, sid, ts, event_type,
             min(CASE WHEN event_type = 'click' THEN ts END)
               OVER (PARTITION BY user_id, sid) AS c_first
           FROM numbered),
         sess AS (
           SELECT user_id, sid, max(c_first) AS c_ts,
             max(CASE WHEN event_type = 'purchase' AND ts >= c_first THEN 1 ELSE 0 END) AS converted
           FROM withc GROUP BY 1, 2)
         SELECT cast(count(*) as bigint) AS n_sessions,
           cast(sum(CASE WHEN c_ts IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_with_click,
           cast(sum(converted) as bigint) AS n_converted
         FROM sess""")),
    QuerySpec("q126_deciles", q126_deciles, Oracle(
      """WITH t AS (
           SELECT l_returnflag AS returnflag, cast(l_quantity as bigint) AS qty,
             ntile(10) OVER (PARTITION BY l_returnflag
               ORDER BY cast(l_quantity as bigint) ASC, l_orderkey ASC,
                 cast(l_linenumber as bigint) ASC) AS decile
           FROM lineitem)
         SELECT returnflag, cast(decile as bigint) AS decile,
           min(qty) AS lo_qty, max(qty) AS hi_qty, cast(count(*) as bigint) AS n_rows
         FROM t GROUP BY 1, 2""")),
    QuerySpec("q127_weighted_sample", q127_weighted_sample, Oracle(
      """WITH m AS (SELECT max(n_chars) AS max_chars FROM documents)
         SELECT doc_id, n_chars FROM documents, m
         WHERE ((doc_id * 2654435761) % 65536) * max_chars < 65536 * n_chars""")),
    QuerySpec("q128_balanced_sample", q128_balanced_sample, Oracle(
      """SELECT lang, cast(rn as bigint) AS rn, doc_id FROM (
           SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(cast(doc_id as varchar)) ASC, doc_id ASC) AS rn
           FROM documents)
         WHERE rn <= 50""")),
    QuerySpec("q129_vocab_by_lang", q129_vocab_by_lang, Oracle(
      """WITH c AS (
           SELECT lang, token, cast(count(*) as bigint) AS n FROM (
             SELECT lang, unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
             FROM documents)
           GROUP BY 1, 2)
         SELECT lang, cast(rnk as bigint) AS rnk, token, n FROM (
           SELECT lang, token, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rnk
           FROM c)
         WHERE rnk <= 20""")),
    QuerySpec("q130_bigram_top", q130_bigram_top, Oracle(
      """WITH t AS (SELECT list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
           FROM documents),
         b AS (SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bigram
           FROM t)
         SELECT bigram, cast(count(*) as bigint) AS n
         FROM b GROUP BY 1 ORDER BY n DESC, bigram ASC LIMIT 50""")),
    QuerySpec("q131_corpus_composition", q131_corpus_composition, Oracle(
      """SELECT source, lang, cast(count(*) as bigint) AS n_docs,
           cast(sum(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0))) as bigint) AS n_tokens,
           cast(sum(n_chars) as bigint) AS n_chars,
           cast(sum(n_chars) as double) / cast(count(*) as double) AS mean_chars
         FROM documents GROUP BY 1, 2""")),
    QuerySpec("q132_split_balance", q132_split_balance, Oracle(
      """WITH labeled AS (
           SELECT CASE WHEN substring(md5(cast(doc_id as varchar)), 1, 4) < 'cccd' THEN 'train'
                       WHEN substring(md5(cast(doc_id as varchar)), 1, 4) < 'e666' THEN 'val'
                       ELSE 'test' END AS split,
             cast(length(text) as bigint) AS n_char,
             cast(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) as bigint) AS n_tok,
             cast(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) as bigint) AS n_punct
           FROM documents)
         SELECT split,
           CASE WHEN n_tok < 5 THEN 'too_short'
                WHEN n_char > 20000 THEN 'too_long'
                WHEN n_punct * 10 > n_char * 3 THEN 'too_much_punct'
                WHEN n_char > n_tok * 15 THEN 'words_too_long'
                ELSE 'ok' END AS quality,
           cast(count(*) as bigint) AS n_docs
         FROM labeled GROUP BY 1, 2""")),
    // q133: DuckDB inclusive slice toks[i:i+4] = 5 tokens; range end-exclusive
    // so i walks 1..len-4 — exactly Spark's shinglesFromTokens(toks, 5)
    QuerySpec("q133_decontaminate", q133_decontaminate, Oracle(
      """WITH g AS (
           SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 3),
                    i -> array_to_string(toks[i:i+4], ' ')))) AS gram
           FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
                 FROM documents)),
         bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
         train AS (SELECT * FROM g WHERE doc_id % 10 <> 0),
         counts AS (SELECT doc_id, cast(count(*) as bigint) AS n_grams FROM train GROUP BY 1),
         hits AS (SELECT t.doc_id, cast(count(*) as bigint) AS n_hits
                  FROM train t JOIN bench b USING (gram) GROUP BY 1)
         SELECT c.doc_id, c.n_grams, coalesce(h.n_hits, 0) AS n_hits,
           CASE WHEN coalesce(h.n_hits, 0) * 2 >= c.n_grams THEN 'contaminated'
                ELSE 'clean' END AS status
         FROM counts c LEFT JOIN hits h USING (doc_id)""")),
    // q134: RANGE frames are peer-inclusive in both engines; epoch_us(naive
    // ts) == Spark unix_micros(ntz→UTC); decimal window sum is order-free
    QuerySpec("q134_rolling_window", q134_rolling_window, Oracle(
      """SELECT event_id, user_id,
           cast(count(*) OVER w as bigint) AS roll_cnt,
           cast(sum(cast(value as DECIMAL(18,4))) OVER w as double) AS roll_sum
         FROM (SELECT event_id, user_id, value, epoch_us(ts) AS ts_us FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                      RANGE BETWEEN 604799999999 PRECEDING AND CURRENT ROW)""")),
    QuerySpec("q135_source_overlap", q135_source_overlap, Oracle(
      """WITH st AS (
           SELECT DISTINCT source, token FROM (
             SELECT source, unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
             FROM documents)),
         sizes AS (SELECT source, cast(count(*) as bigint) AS n FROM st GROUP BY 1),
         inter AS (
           SELECT a.source AS source_a, b.source AS source_b, cast(count(*) as bigint) AS i
           FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
           GROUP BY 1, 2)
         SELECT sa.source AS source_a, sb.source AS source_b,
           coalesce(i.i, 0) AS inter,
           sa.n + sb.n - coalesce(i.i, 0) AS uni,
           cast(coalesce(i.i, 0) as double) / cast(sa.n + sb.n - coalesce(i.i, 0) as double) AS jaccard
         FROM sizes sa JOIN sizes sb ON sa.source < sb.source
         LEFT JOIN inter i ON i.source_a = sa.source AND i.source_b = sb.source""")),
    QuerySpec("q136_histogram", q136_histogram, Oracle(
      """WITH c AS (SELECT cast(cast(l_extendedprice as DECIMAL(18,2)) * 100 as bigint) AS cents
                    FROM lineitem),
         mm AS (SELECT min(cents) AS lo, max(cents) AS hi FROM c)
         SELECT cast((cents - lo) * 20 // (hi - lo + 1) as bigint) AS bin,
           cast(count(*) as bigint) AS n
         FROM c, mm GROUP BY 1""")),
    QuerySpec("q137_semantic_dedup", q137_semantic_dedup, benched = false, check = Oracle(semanticDedupOracleSql)),
    // q162: banded pair generation feeds the same CC — identical components
    QuerySpec("q162_semantic_dedup_banded", q162_semantic_dedup_banded, Oracle(semanticDedupOracleSql)),
    // q138: the bloom is a shuffle-volume optimization only — exact result is
    // the plain IN-subquery semi join
    QuerySpec("q138_bloom_semi", q138_bloom_semi, Oracle(
      """SELECT l_orderkey, cast(l_linenumber as bigint) AS line_no,
           cast(l_quantity as bigint) AS qty
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')""")),
    // q139: integer-scaled tf·1e6//df keeps the ranking float-free; row_number
    // tie-break on token makes top-3 deterministic in both engines
    QuerySpec("q139_tfidf", q139_tfidf, Oracle(
      """WITH tok AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, cast(count(*) as bigint) AS tf FROM tok GROUP BY 1, 2),
         df AS (SELECT token, cast(count(*) as bigint) AS df FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1)
         SELECT doc_id, token, tf, df, cast(tf * 1000000 // df as bigint) AS score, rank FROM (
           SELECT tf.doc_id, tf.token, tf.tf, df.df,
             cast(row_number() OVER (PARTITION BY tf.doc_id
               ORDER BY tf.tf * 1000000 // df.df DESC, tf.token ASC) as bigint) AS rank
           FROM tf JOIN df USING (token)) t
         WHERE rank <= 3""")),
    // q140: all score components integer (money in DECIMAL cents); DuckDB
    // levenshtein == Spark levenshtein (q85-established parity)
    QuerySpec("q140_record_linkage", q140_record_linkage, benched = false, check = Oracle(
      """WITH c AS (
           SELECT c_custkey AS id, c_name AS name, cast(c_nationkey as bigint) AS nation,
             cast(cast(c_acctbal as DECIMAL(18,2)) * 100 as bigint) AS cents,
             c_mktsegment AS segment
           FROM customer)
         SELECT nation, id_a, id_b, name_pts, seg_pts, bal_pts,
           name_pts + seg_pts + bal_pts AS score
         FROM (
           SELECT a.nation AS nation, a.id AS id_a, b.id AS id_b,
             cast(CASE WHEN levenshtein(a.name, b.name) <= 3 THEN 3 ELSE 0 END as bigint) AS name_pts,
             cast(CASE WHEN a.segment = b.segment THEN 2 ELSE 0 END as bigint) AS seg_pts,
             cast(CASE WHEN abs(a.cents - b.cents) <= 10000 THEN 1 ELSE 0 END as bigint) AS bal_pts
           FROM c a JOIN c b ON a.nation = b.nation AND a.id < b.id) t
         WHERE name_pts + seg_pts + bal_pts >= 4""")),
    // q141: the bit-interleave is generated from the same (bits, x, y) spec as
    // the Spark plan so the two expressions cannot drift
    QuerySpec("q141_zorder", q141_zorder, Oracle {
      val x = "(o_custkey % 1024)"
      val y = "(date_diff('day', DATE '1970-01-01', o_orderdate) % 1024)"
      val z = (0 until 10).map { i =>
        s"((($x >> $i) & 1) * ${1L << (2 * i)}) + ((($y >> $i) & 1) * ${1L << (2 * i + 1)})"
      }.mkString(" + ")
      s"""WITH t AS (SELECT cast($x as bigint) AS x, cast($y as bigint) AS y,
             cast($z as bigint) AS z FROM orders)
         SELECT cast(z * 16 // ${1L << 20} as bigint) AS bucket,
           cast(count(*) as bigint) AS n,
           min(x) AS x_lo, max(x) AS x_hi, min(y) AS y_lo, max(y) AS y_hi
         FROM t GROUP BY 1"""
    }),
    // q142: float32 widens exactly to double in both engines; every step after
    // that is IEEE double (sub, mul, div, floor), so codes are bit-identical
    QuerySpec("q142_quantize", q142_quantize, Oracle(
      """WITH d AS (
           SELECT vec_id, cast(unnest(range(0, len(embedding))) as bigint) AS dim,
             cast(unnest(embedding) as double) AS v
           FROM embeddings),
         s AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM d GROUP BY 1)
         SELECT vec_id, cast(sum(code) as bigint) AS code_sum, min(code) AS code_min,
           max(code) AS code_max, cast(count(*) as bigint) AS n_dims
         FROM (SELECT d.vec_id,
                 cast(least(floor((d.v - s.lo) * 255 / (s.hi - s.lo)), 255) as bigint) AS code
               FROM d JOIN s USING (dim)) q
         GROUP BY 1""")),
    // q143: top-200 vocab tie-broken (n DESC, token ASC) = q90's determinism
    QuerySpec("q143_vocab_coverage", q143_vocab_coverage, Oracle(
      """WITH tok AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
           FROM documents),
         vocab AS (SELECT token FROM (
           SELECT token, count(*) AS n FROM tok GROUP BY 1
           ORDER BY n DESC, token ASC LIMIT 200))
         SELECT t.doc_id, cast(count(*) as bigint) AS n_tok,
           cast(sum(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_in,
           cast((count(*) - sum(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END)) * 1000 // count(*) as bigint) AS oov_permille
         FROM tok t LEFT JOIN vocab v ON t.token = v.token
         GROUP BY 1""")),
    // q144: the stateful stream's converged answer IS the batch aggregate;
    // money summed in exact integer cents on both sides
    QuerySpec("q144_stateful_stream", q144_stateful_stream, Oracle(
      """SELECT user_id, cast(count(*) as bigint) AS n_events,
           cast(sum(cast(cast(value as DECIMAL(18,4)) * 10000 as bigint)) as bigint) AS cents
         FROM events GROUP BY user_id""")),
    // q145: DuckDB list slice is 1-based inclusive — toks[i*10+1 : i*10+10]
    // is exactly Spark's slice(toks, i*10+1, 10); range() is end-exclusive
    QuerySpec("q145_chunk_dedup", q145_chunk_dedup, Oracle(
      """WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
           FROM documents),
         c AS (
           SELECT doc_id, unnest(list_transform(range(0, len(toks) // 10),
             i -> array_to_string(toks[i*10+1:i*10+10], ' '))) AS chunk
           FROM t WHERE len(toks) >= 10),
         h AS (SELECT chunk, count(DISTINCT doc_id) AS nd FROM c GROUP BY 1)
         SELECT c.doc_id, cast(count(*) as bigint) AS n_chunks,
           cast(sum(CASE WHEN h.nd >= 2 THEN 1 ELSE 0 END) as bigint) AS n_dup,
           cast(sum(CASE WHEN h.nd >= 2 THEN 1 ELSE 0 END) * 1000 // count(*) as bigint) AS dup_permille
         FROM c JOIN h USING (chunk) GROUP BY 1""")),
    // q146: two unrolled integer-arithmetic iterations; coalesce(insum,0)
    // covers nodes with no in-edges (customers) on both sides
    QuerySpec("q146_pagerank", q146_pagerank, Oracle(
      """WITH edges AS (
           SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         deg AS (SELECT src, cast(count(*) as bigint) AS deg FROM edges GROUP BY 1),
         r0 AS (SELECT node, cast(1000000 as bigint) AS r FROM nodes),
         i1 AS (SELECT e.dst, sum(r0.r // d.deg) AS insum
                FROM edges e JOIN r0 ON e.src = r0.node JOIN deg d ON e.src = d.src
                GROUP BY 1),
         r1 AS (SELECT n.node, cast(150000 + 85 * coalesce(i1.insum, 0) // 100 as bigint) AS r
                FROM nodes n LEFT JOIN i1 ON n.node = i1.dst),
         i2 AS (SELECT e.dst, sum(r1.r // d.deg) AS insum
                FROM edges e JOIN r1 ON e.src = r1.node JOIN deg d ON e.src = d.src
                GROUP BY 1)
         SELECT n.node, cast(150000 + 85 * coalesce(i2.insum, 0) // 100 as bigint) AS rank_ppm
         FROM nodes n LEFT JOIN i2 ON n.node = i2.dst""")),
    QuerySpec("q147_referential_audit", q147_referential_audit, Oracle(
      """SELECT 'lineitem_orphan_order' AS check, cast(count(*) as bigint) AS n_rows,
           cast(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) as bigint) AS n_violations
         FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
         UNION ALL
         SELECT 'lineitem_orphan_supplier', cast(count(*) as bigint),
           cast(sum(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END) as bigint)
         FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
         UNION ALL
         SELECT 'order_orphan_customer', cast(count(*) as bigint),
           cast(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) as bigint)
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey
         UNION ALL
         SELECT 'customer_without_order', cast(count(*) as bigint),
           cast(sum(CASE WHEN nk IS NULL THEN 1 ELSE 0 END) as bigint)
         FROM customer LEFT JOIN (SELECT DISTINCT o_custkey AS nk FROM orders) o2
           ON c_custkey = nk""")),
    QuerySpec("q148_key_cardinality", q148_key_cardinality, Oracle(
      """WITH a AS (SELECT l_orderkey, cast(count(*) as bigint) AS rows_per_key
                    FROM lineitem GROUP BY 1),
         b AS (SELECT l_orderkey, l_linenumber, cast(count(*) as bigint) AS rows_per_key
               FROM lineitem GROUP BY 1, 2)
         SELECT 'l_orderkey' AS candidate_key, rows_per_key, cast(count(*) as bigint) AS n_keys
         FROM a GROUP BY 2
         UNION ALL
         SELECT 'l_orderkey+l_linenumber', rows_per_key, cast(count(*) as bigint)
         FROM b GROUP BY 2""")),
    QuerySpec("q149_transition_matrix", q149_transition_matrix, Oracle(
      """WITH t AS (
           SELECT event_type AS from_type,
             coalesce(lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id),
               '(end)') AS to_type
           FROM events),
         c AS (SELECT from_type, to_type, cast(count(*) as bigint) AS n FROM t GROUP BY 1, 2)
         SELECT from_type, to_type, n,
           cast(n * 1000 // sum(n) OVER (PARTITION BY from_type) as bigint) AS permille
         FROM c""")),
    QuerySpec("q150_period_change", q150_period_change, Oracle(
      """WITH m AS (
           SELECT c_mktsegment AS segment,
             cast(year(o_orderdate) * 100 + month(o_orderdate) as bigint) AS ym,
             cast(sum(cast(cast(o_totalprice as DECIMAL(18,2)) * 100 as bigint)) as bigint) AS cents
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2)
         SELECT segment, ym, cents,
           lag(cents, 1) OVER (PARTITION BY segment ORDER BY ym) AS prev_cents,
           cast(CASE WHEN lag(cents, 1) OVER (PARTITION BY segment ORDER BY ym) IS NOT NULL
                      AND lag(cents, 1) OVER (PARTITION BY segment ORDER BY ym) != 0
                     THEN (cents - lag(cents, 1) OVER (PARTITION BY segment ORDER BY ym)) * 1000
                          // lag(cents, 1) OVER (PARTITION BY segment ORDER BY ym)
                END as bigint) AS delta_permille
         FROM m""")),
    QuerySpec("q151_mixture_quota", q151_mixture_quota, Oracle(
      """WITH c AS (SELECT source, cast(count(*) as bigint) AS n_docs FROM documents GROUP BY 1),
         t AS (SELECT sum(n_docs) AS total FROM c),
         b AS (SELECT source, n_docs,
                 cast(10000 * n_docs // total as bigint) AS base,
                 cast(10000 * n_docs - (10000 * n_docs // total) * total as bigint) AS rem
               FROM c, t),
         r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS seat_rank,
                 sum(base) OVER () AS sum_base FROM b)
         SELECT source, n_docs, base,
           cast(CASE WHEN seat_rank <= 10000 - sum_base THEN 1 ELSE 0 END as bigint) AS extra,
           cast(base + CASE WHEN seat_rank <= 10000 - sum_base THEN 1 ELSE 0 END as bigint) AS quota
         FROM r""")),
    // q152: DuckDB slice w[i:i+1] (1-based, inclusive) == Spark substring(w, i, 2)
    QuerySpec("q152_bpe_merge", q152_bpe_merge, Oracle(
      """WITH w AS (
           SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS w
           FROM documents),
         p AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i:i+1])) AS pair
               FROM w WHERE len(w) >= 2)
         SELECT pair, cast(count(*) as bigint) AS n
         FROM p GROUP BY 1 ORDER BY n DESC, pair ASC LIMIT 20""")),
    // q153: same ranked-neighbor idiom as the q38 oracle (rank ties broken by
    // id; list_cosine_similarity rank order matches the codegen'd kernel)
    QuerySpec("q153_label_agreement", q153_label_agreement, benched = false, check = Oracle(labelAgreementOracleSql)),
    // q163: the banded kNN reproduces every exact 5-NN set (measured, pinned
    // by differential test) — same aggregate, same oracle
    QuerySpec("q163_label_agreement_banded", q163_label_agreement_banded, Oracle(labelAgreementOracleSql)),
    // q164: textbook dangling-mass form — each iteration re-injects the
    // sink (supplier) mass as an equal integer share dm // n_nodes
    QuerySpec("q164_pagerank_dangling", q164_pagerank_dangling, Oracle(
      """WITH edges AS (
           SELECT DISTINCT cast(o_custkey as bigint) * 2 AS src,
             cast(l_suppkey as bigint) * 2 + 1 AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         deg AS (SELECT src, cast(count(*) as bigint) AS deg FROM edges GROUP BY 1),
         nn AS (SELECT cast(count(*) as bigint) AS n_nodes FROM nodes),
         r0 AS (SELECT node, cast(1000000 as bigint) AS r FROM nodes),
         dm0 AS (SELECT cast(coalesce(sum(r), 0) as bigint) AS dm FROM r0
                 WHERE node NOT IN (SELECT src FROM deg)),
         i1 AS (SELECT e.dst, sum(r0.r // d.deg) AS insum
                FROM edges e JOIN r0 ON e.src = r0.node JOIN deg d ON e.src = d.src
                GROUP BY 1),
         r1 AS (SELECT n.node,
                  cast(150000 + 85 * (coalesce(i1.insum, 0) + dm0.dm // nn.n_nodes) // 100 as bigint) AS r
                FROM nodes n LEFT JOIN i1 ON n.node = i1.dst, dm0, nn),
         dm1 AS (SELECT cast(coalesce(sum(r), 0) as bigint) AS dm FROM r1
                 WHERE node NOT IN (SELECT src FROM deg)),
         i2 AS (SELECT e.dst, sum(r1.r // d.deg) AS insum
                FROM edges e JOIN r1 ON e.src = r1.node JOIN deg d ON e.src = d.src
                GROUP BY 1)
         SELECT CASE WHEN n.node % 2 = 0 THEN 'c' || cast(n.node // 2 as varchar)
                     ELSE 's' || cast((n.node - 1) // 2 as varchar) END AS node,
           cast(150000 + 85 * (coalesce(i2.insum, 0) + dm1.dm // nn.n_nodes) // 100 as bigint) AS rank_ppm
         FROM nodes n LEFT JOIN i2 ON n.node = i2.dst, dm1, nn""")),
    // q165: the versioned table's two snapshots must equal the plain
    // relational definition of what was committed — manifest bugs (dropped,
    // leaked, or torn files) break the hash
    QuerySpec("q165_versioned_timetravel", q165_versioned_timetravel, Oracle(
      """SELECT 'v1' AS snapshot, cast(count(*) as bigint) AS n_rows,
           cast(sum(cast(cast(o_totalprice as DECIMAL(18,2)) * 100 as bigint)) as bigint) AS sum_cents
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT 'latest', cast(count(*) as bigint),
           cast(sum(cast(cast(o_totalprice as DECIMAL(18,2)) * 100 as bigint)) as bigint)
         FROM orders""")),
    // q166/q167: the oracle recomputes the decode statistics from the
    // closed-form pixel/sample generators WITHOUT seeing any bytes — only a
    // correct PPM/WAV decoder on the engine side can match the hash
    QuerySpec("q166_image_decode", q166_image_decode, Oracle(
      """SELECT doc_id, cast(64 as bigint) AS n_pixels,
           cast(sum((doc_id*31 + (3*i)*7) % 256) as bigint) AS sum_r,
           cast(sum((doc_id*31 + (3*i+1)*7) % 256) as bigint) AS sum_g,
           cast(sum((doc_id*31 + (3*i+2)*7) % 256) as bigint) AS sum_b
         FROM documents, (SELECT unnest(range(64)) AS i)
         GROUP BY 1""")),
    QuerySpec("q167_audio_decode", q167_audio_decode, Oracle(
      """WITH s AS (
           SELECT doc_id, i, (doc_id*13 + i*11) % 2001 - 1000 AS v
           FROM documents, (SELECT unnest(range(256)) AS i)),
         l AS (SELECT doc_id, v,
                 lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
               FROM s)
         SELECT doc_id, cast(256 as bigint) AS n_samples,
           cast(sum(v * v) as bigint) AS sum_sq,
           cast(sum(CASE WHEN pv IS NOT NULL AND
                              ((pv < 0 AND v >= 0) OR (pv >= 0 AND v < 0))
                         THEN 1 ELSE 0 END) as bigint) AS zero_crossings
         FROM l GROUP BY 1""")),
    // q168: DuckDB slice toks[i+1:i+10] (1-based inclusive) == Spark
    // slice(toks, i+1, 10); range(0, len-9) == sequence(0, size-10)
    QuerySpec("q168_window_dedup", q168_window_dedup, Oracle(
      """WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
           FROM documents),
         c AS (
           SELECT doc_id, unnest(list_transform(range(0, len(toks) - 9),
             i -> array_to_string(toks[i+1:i+10], ' '))) AS win
           FROM t WHERE len(toks) >= 10),
         h AS (SELECT win, count(DISTINCT doc_id) AS nd FROM c GROUP BY 1)
         SELECT c.doc_id, cast(count(*) as bigint) AS n_windows,
           cast(sum(CASE WHEN h.nd >= 2 THEN 1 ELSE 0 END) as bigint) AS n_shared,
           cast(sum(CASE WHEN h.nd >= 2 THEN 1 ELSE 0 END) * 1000 // count(*) as bigint) AS shared_permille
         FROM c JOIN h USING (win) GROUP BY 1""")),
    QuerySpec("q154_scd2", q154_scd2, Oracle(scd2OracleSql)),
    // q160: the SCD2 oracle becomes a CTE; each fact matches exactly one
    // version because the intervals partition time (sentinel, no null arm)
    QuerySpec("q160_scd2_lookup", q160_scd2_lookup, Oracle(
      s"""WITH dim AS ($scd2OracleSql),
         facts AS (
           SELECT o_orderkey AS key,
             CASE WHEN o_orderkey % 2 = 0 THEN DATE '2024-06-01'
                  ELSE DATE '2024-06-03' END AS as_of
           FROM orders)
         SELECT f.key, f.as_of, d.version, d.cents
         FROM facts f JOIN dim d ON f.key = d.key
         WHERE d.valid_from <= f.as_of AND f.as_of < d.valid_to""")),
    // q155: hints change the physical strategy, never the result — same
    // oracle as the unhinted q08
    QuerySpec("q155_join_hints", q155_join_hints, Oracle(
      """SELECT o_orderkey, o_totalprice AS total_price, c_name AS cust_name, c_mktsegment AS segment
         FROM orders JOIN customer ON o_custkey = c_custkey""")),
    // q156: gap-sessionize per user; non-final sessions always emitted
    // (closed in-batch by the next event); the final session emits iff its
    // timer deadline in integer ms cleared the final watermark
    // (max_ts_ms − 1h). Timer/watermark math is exact integer on both sides.
    QuerySpec("q156_timer_sessions", q156_timer_sessions, Oracle(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
         g AS (SELECT max(ts_us) // 1000 - 3600000 AS wm_ms FROM e),
         s1 AS (SELECT user_id, ts_us,
                  CASE WHEN lag(ts_us) OVER w IS NULL
                        OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
         s2 AS (SELECT user_id, ts_us,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us) AS sid
                FROM s1),
         sess AS (SELECT user_id, sid, min(ts_us) AS start_us, max(ts_us) AS end_us,
                    cast(count(*) as bigint) AS n_events
                  FROM s2 GROUP BY 1, 2),
         mx AS (SELECT user_id, max(sid) AS last_sid FROM sess GROUP BY 1)
         SELECT s.user_id, s.start_us, s.end_us, s.n_events
         FROM sess s JOIN mx USING (user_id), g
         WHERE s.sid < mx.last_sid OR (s.end_us + 1800000000) // 1000 <= g.wm_ms""")),
    // q157: ground truth derived relationally — the PERMISSIVE reader must
    // quarantine exactly the keys the generator corrupted
    QuerySpec("q157_corrupt_quarantine", q157_corrupt_quarantine, Oracle(
      """SELECT
           cast(sum(CASE WHEN o_orderkey % 13 != 0 THEN 1 ELSE 0 END) as bigint) AS n_good,
           cast(sum(CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END) as bigint) AS n_quarantined,
           cast(sum(CASE WHEN o_orderkey % 13 != 0
                         THEN cast(cast(o_totalprice as DECIMAL(18,2)) * 100 as bigint)
                         ELSE 0 END) as bigint) AS good_cents
         FROM orders""")),
    // q158: DuckDB list lambdas mirror Spark HOFs 1:1 (list_sort is ASC
    // NULLS-less here; fold via list_reduce needs a seed-less form, so the
    // fold seeds with 0 prepended)
    QuerySpec("q158_hof_battery", q158_hof_battery, Oracle(
      """WITH q AS (
           SELECT l_orderkey,
             list_sort(list(cast(l_quantity as bigint))) AS qtys
           FROM lineitem GROUP BY 1)
         SELECT l_orderkey,
           cast(len(qtys) as bigint) AS n,
           cast(list_reduce(list_prepend(0, qtys), (acc, x) -> acc + x) as bigint) AS fold_sum,
           cast(len(list_filter(qtys, x -> x >= 25)) as bigint) AS n_ge25,
           len(list_filter(qtys, x -> x = 50)) > 0 AS has_50,
           len(list_filter(qtys, x -> x <= 0)) = 0 AS all_positive,
           cast(list_reduce(list_prepend(cast(0 as bigint), list_transform(qtys, x -> x * x)),
             (acc, x) -> acc + x) as bigint) AS sum_sq
         FROM q""")),
    QuerySpec("q159_mapstate_counts", q159_mapstate_counts, Oracle(
      """SELECT user_id, event_type, cast(count(*) as bigint) AS n
         FROM events GROUP BY 1, 2""")),
    // q169: if the replayed batch had landed a second time, every count
    // below would double — the oracle is the exactly-once proof
    QuerySpec("q169_stream_versioned", q169_stream_versioned, Oracle(
      """SELECT event_type, cast(count(*) as bigint) AS n_events,
           cast(count(DISTINCT user_id) as bigint) AS n_users
         FROM events GROUP BY 1""")),
    // q170: survivors are keys not deleted (%5); cents carry the LAST
    // update in seq order (%9 beats %3 beats the insert/base image)
    QuerySpec("q170_cdc_apply", q170_cdc_apply, Oracle(
      """WITH c AS (SELECT o_orderkey AS k,
             cast(cast(o_totalprice as DECIMAL(18,2)) * 100 as bigint) AS c
           FROM orders)
         SELECT k AS key,
           CASE WHEN k % 9 = 0 THEN c + 20
                WHEN k % 3 = 0 THEN c + 7
                ELSE c END AS cents
         FROM c WHERE k % 5 != 0""")),
    // q171: canonical a<b<c three-way self-join — the O(n^3)-looking but
    // tiny-at-oracle-scale ground truth for the degree-ordered count
    QuerySpec("q171_triangle_count", q171_triangle_count, Oracle(
      """WITH e AS (
           SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
         v AS (SELECT count(DISTINCT p) AS n FROM
                 (SELECT a AS p FROM e UNION ALL SELECT b FROM e)),
         t AS (SELECT count(*) AS nt
               FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
                 JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
         SELECT cast(v.n as bigint) AS n_vertices,
           cast((SELECT count(*) FROM e) as bigint) AS n_edges,
           cast(t.nt as bigint) AS n_triangles
         FROM v, t""")),
    // q172/q173 share one oracle — the sketch runs in its no-eviction
    // regime at oracle scale, so exact and sketch must agree to the hash
    QuerySpec("q172_heavy_hitters", q172_heavy_hitters, Oracle(
      """SELECT cast(l_suppkey as bigint) AS suppkey, cast(count(*) as bigint) AS n_li
         FROM lineitem GROUP BY 1
         HAVING count(*) * 110 > (SELECT count(*) FROM lineitem)""")),
    QuerySpec("q173_spacesaving", q173_spacesaving, Oracle(
      """SELECT cast(l_suppkey as bigint) AS suppkey, cast(count(*) as bigint) AS n_li
         FROM lineitem GROUP BY 1
         HAVING count(*) * 110 > (SELECT count(*) FROM lineitem)""")),
    // q174: rank-distance ≤ 3 inside the nation block, verified at edit
    // distance ≤ 1 — DuckDB's levenshtein is the reference for the
    // codegen'd bounded form
    QuerySpec("q174_sorted_neighborhood", q174_sorted_neighborhood, Oracle(
      """WITH r AS (
           SELECT c_custkey AS id, cast(c_nationkey as bigint) AS nation, c_name AS name,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_name, c_custkey) AS rn
           FROM customer)
         SELECT a.nation, a.id AS id_a, b.id AS id_b,
           cast(levenshtein(a.name, b.name) as bigint) AS dist
         FROM r a JOIN r b
           ON a.nation = b.nation AND b.rn > a.rn AND b.rn <= a.rn + 3
         WHERE levenshtein(a.name, b.name) <= 1""")),
    // q175: the three slices recomputed relationally — merge correctness
    // (no lost/duplicated row) and pruning correctness (no skipped live
    // file) both feed the same hash
    QuerySpec("q175_versioned_merge", q175_versioned_merge, Oracle(
      """WITH c AS (SELECT o_orderkey AS k,
             cast(cast(o_totalprice as DECIMAL(18,2)) * 100 as bigint) AS c
           FROM orders),
         m AS (SELECT k, CASE WHEN k <= 3000 THEN c + 55 ELSE c END AS c FROM c)
         SELECT 'all' AS slice, cast(count(*) as bigint) AS n_rows,
           cast(sum(c) as bigint) AS sum_cents FROM m
         UNION ALL
         SELECT 'hot', cast(count(*) as bigint), cast(sum(c) as bigint)
         FROM m WHERE k BETWEEN 0 AND 3000
         UNION ALL
         SELECT 'cold', cast(count(*) as bigint), cast(sum(c) as bigint)
         FROM m WHERE k BETWEEN 30000 AND 40000""")),
    // q176: each manifest-diff increment must equal its relational slice —
    // a leaked carried-over file (dup rows) or dropped append breaks it
    QuerySpec("q176_versioned_delta", q176_versioned_delta, Oracle(
      """WITH c AS (SELECT o_orderkey AS k,
             cast(cast(o_totalprice as DECIMAL(18,2)) * 100 as bigint) AS c
           FROM orders)
         SELECT 'v0..v1' AS increment, cast(count(*) as bigint) AS n_rows,
           cast(sum(c) as bigint) AS sum_cents FROM c WHERE k % 3 = 0
         UNION ALL
         SELECT 'v1..v2', cast(count(*) as bigint), cast(sum(c) as bigint)
         FROM c WHERE k % 3 = 1
         UNION ALL
         SELECT 'v2..v3', cast(count(*) as bigint), cast(sum(c) as bigint)
         FROM c WHERE k % 3 = 2
         UNION ALL
         SELECT 'v1..v3', cast(count(*) as bigint), cast(sum(c) as bigint)
         FROM c WHERE k % 3 IN (1, 2)""")),
    // q177: the same closure as a recursive CTE; golden row picked by the
    // same (cents, id) argmax tie-break
    QuerySpec("q177_golden_record", q177_golden_record, Oracle(
      """WITH RECURSIVE r AS (
           SELECT c_custkey AS id, cast(c_nationkey as bigint) AS nation, c_name AS name,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_name, c_custkey) AS rn
           FROM customer),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b
           FROM r a JOIN r b ON a.nation = b.nation AND b.rn > a.rn AND b.rn <= a.rn + 3
           WHERE levenshtein(a.name, b.name) <= 1),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         walk(id, lab) AS (
           SELECT c_custkey, c_custkey FROM customer
           UNION
           SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id),
         cc AS (SELECT id, min(lab) AS entity_id FROM walk GROUP BY 1),
         m AS (SELECT cc.entity_id, c.c_custkey AS id,
                 cast(cast(c_acctbal as DECIMAL(18,2)) * 100 as bigint) AS cents,
                 c_mktsegment AS segment
               FROM customer c JOIN cc ON cc.id = c.c_custkey),
         sel AS (SELECT entity_id, cents, segment,
                   row_number() OVER (PARTITION BY entity_id ORDER BY cents DESC, id DESC) AS rk,
                   count(*) OVER (PARTITION BY entity_id) AS nm
                 FROM m)
         SELECT entity_id, cast(nm as bigint) AS n_members,
           cents AS golden_cents, segment AS golden_segment
         FROM sel WHERE rk = 1""")),
    // q178: identical sweep — ±1 per date aggregated first, then the
    // running sum; peak of end-of-day open counts per month
    QuerySpec("q178_concurrency_sweep", q178_concurrency_sweep, Oracle(
      """WITH dl AS (
           SELECT o_orderdate AS d, 1 AS delta FROM orders
           UNION ALL
           SELECT o_orderdate + INTERVAL 30 DAY, -1 FROM orders),
         net AS (SELECT d, sum(delta) AS net FROM dl GROUP BY 1),
         run AS (SELECT d, sum(net) OVER (ORDER BY d) AS open FROM net)
         SELECT strftime(d, '%Y-%m') AS month, cast(max(open) as bigint) AS peak_open
         FROM run GROUP BY 1""")),
    // q179: the batch twin of the stream-static enrichment — identical rows
    // or the hash breaks
    QuerySpec("q179_stream_static", q179_stream_static, Oracle(
      """SELECT n_name, cast(count(*) as bigint) AS n_events,
           cast(count(DISTINCT event_type) as bigint) AS n_types
         FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
         GROUP BY 1""")),
    // q180: identical rank-based discrete percentiles + integer clamp math
    QuerySpec("q180_winsorize", q180_winsorize, Oracle(
      """WITH r AS (
           SELECT l_returnflag AS returnflag,
             cast(cast(l_extendedprice as DECIMAL(18,2)) * 100 as bigint) AS cents,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY
               cast(cast(l_extendedprice as DECIMAL(18,2)) * 100 as bigint)) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
           FROM lineitem),
         p AS (SELECT returnflag,
                 max(CASE WHEN rn = (n + 19) // 20 THEN cents END) AS p05,
                 max(CASE WHEN rn = (19 * n + 19) // 20 THEN cents END) AS p95
               FROM r GROUP BY 1)
         SELECT r.returnflag, p.p05, p.p95,
           cast(sum(least(greatest(r.cents, p.p05), p.p95)) // count(*) as bigint)
             AS robust_mean_cents,
           cast(sum(CASE WHEN r.cents < p.p05 OR r.cents > p.p95 THEN 1 ELSE 0 END)
             as bigint) AS n_clamped,
           cast(count(*) as bigint) AS n_rows
         FROM r JOIN p USING (returnflag)
         GROUP BY 1, 2, 3""")),
    // q181: same md5 permutation, same nibble sharding, same rank pivots
    QuerySpec("q181_corpus_shuffle", q181_corpus_shuffle, Oracle(
      """WITH d AS (
           SELECT doc_id,
             cast(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) as bigint) AS toks,
             md5(cast(doc_id as varchar) || ':42') AS k
           FROM documents),
         s AS (SELECT doc_id, toks, k, substring(k, 1, 1) AS shard,
                 row_number() OVER (PARTITION BY substring(k, 1, 1) ORDER BY k, doc_id) AS rn
               FROM d)
         SELECT shard, cast(count(*) as bigint) AS n_docs,
           cast(sum(toks) as bigint) AS total_tokens,
           max(CASE WHEN rn = 1 THEN doc_id END) AS head1,
           max(CASE WHEN rn = 2 THEN doc_id END) AS head2,
           max(CASE WHEN rn = 3 THEN doc_id END) AS head3
         FROM s GROUP BY 1""")),
    // q182: ONE global cumsum in the oracle (fine at oracle scale) vs the
    // engine's bucket-carried parallel form — same keep set or the hash breaks
    QuerySpec("q182_token_budget", q182_token_budget, Oracle(
      """WITH d AS (
           SELECT doc_id,
             cast(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) as bigint) AS toks,
             cast(len(text) as bigint) AS chars
           FROM documents),
         sc AS (SELECT doc_id, toks,
                  cast(toks * 1000 // greatest(chars, 1) as bigint) AS score FROM d),
         b AS (SELECT cast(sum(toks) // 2 as bigint) AS budget FROM sc),
         r AS (SELECT doc_id, score, toks,
                 sum(toks) OVER (ORDER BY score DESC, doc_id) AS cum FROM sc)
         SELECT doc_id, score, toks FROM r, b WHERE cum <= budget""")),
    // q183: same closed-form pixel oracle as q166 — the payload is REAL PNG
    // (zlib + per-row cycling filters + CRCs), so only a correct inflate and
    // filter inversion reproduce the sums DuckDB computes without the bytes
    QuerySpec("q183_png_decode", q183_png_decode, Oracle(
      """SELECT doc_id, cast(64 as bigint) AS n_pixels,
           cast(sum((doc_id*31 + (3*i)*7) % 256) as bigint) AS sum_r,
           cast(sum((doc_id*31 + (3*i+1)*7) % 256) as bigint) AS sum_g,
           cast(sum((doc_id*31 + (3*i+2)*7) % 256) as bigint) AS sum_b
         FROM documents, (SELECT unnest(range(64)) AS i)
         GROUP BY 1""")),
    // q184: the lossy format's EXACT oracle — four uniform 8x8 blocks per
    // image survive DCT+quant+Huffman+IDCT bit-exactly (DC-only spectrum),
    // so the decode statistic has a closed form; gray => r=g=b
    QuerySpec("q184_jpeg_decode", q184_jpeg_decode, Oracle(
      """SELECT doc_id, cast(256 as bigint) AS n_pixels,
           cast(64 * sum((doc_id*31 + b*7) % 256) as bigint) AS sum_r,
           cast(64 * sum((doc_id*31 + b*7) % 256) as bigint) AS sum_g,
           cast(64 * sum((doc_id*31 + b*7) % 256) as bigint) AS sum_b
         FROM documents, (SELECT unnest(range(4)) AS b)
         GROUP BY 1""")),
    // q185: per-frame closed forms — palette j -> (j, 2j%256, 3j%256), frame
    // f pixel i index (id*31+f*13+i*5)%256, GCE delay (id%100+7f+1) cs. The
    // position-weighted wsum_r is the deinterlace proof; frame_ts_ms is the
    // delay-accumulation proof. Engine decodes real interlaced GIF89a bytes.
    QuerySpec("q185_gif_frames", q185_gif_frames, Oracle(
      """SELECT doc_id, f AS frame_idx,
           cast(10 * (f * ((doc_id % 100) + 1) + 7 * f * (f - 1) // 2) as bigint)
             AS frame_ts_ms,
           cast(64 as bigint) AS n_pixels,
           cast(sum(v) as bigint) AS sum_r,
           cast(sum((2 * v) % 256) as bigint) AS sum_g,
           cast(sum((3 * v) % 256) as bigint) AS sum_b,
           cast(sum((i + 1) * v) as bigint) AS wsum_r
         FROM (SELECT doc_id, f, i, (doc_id*31 + f*13 + i*5) % 256 AS v
               FROM documents, (SELECT unnest(range(4)) AS f),
                 (SELECT unnest(range(64)) AS i))
         GROUP BY 1, 2, 3, 4""")),
    // q186: cluster identity is doc_id mod 41 REGARDLESS of container
    // (doc_id mod 3 picks PPM/PNG/GIF) — matches only if the engine hashes
    // decoded pixels, not payload bytes
    QuerySpec("q186_image_dedup", q186_image_dedup, Oracle(
      """SELECT doc_id,
           cast(min(doc_id) OVER (PARTITION BY doc_id % 41) as bigint) AS cluster_id,
           cast(count(*) OVER (PARTITION BY doc_id % 41) as bigint) AS cluster_size
         FROM documents""")),
    // q187: per-frame uniform-block closed forms (q184's exactness contract)
    // plus the scale/rate timing rational; the block position weights
    // 3872/4384/12064/12576 are sum(i+1) over each 8x8 quadrant of the
    // 16x16 raster — wrong block placement or a wrong RIFF walk breaks them
    QuerySpec("q187_video_frames", q187_video_frames, Oracle(
      """SELECT doc_id, f AS frame_idx,
           cast(f * 1000 // (CASE doc_id % 4 WHEN 0 THEN 5 WHEN 1 THEN 10
             WHEN 2 THEN 20 ELSE 25 END) as bigint) AS frame_ts_ms,
           cast(256 as bigint) AS n_pixels,
           cast(64 * sum(v) as bigint) AS sum_r,
           cast(64 * sum(v) as bigint) AS sum_g,
           cast(64 * sum(v) as bigint) AS sum_b,
           cast(sum(v * CASE b WHEN 0 THEN 3872 WHEN 1 THEN 4384
             WHEN 2 THEN 12064 ELSE 12576 END) as bigint) AS wsum_r
         FROM (SELECT doc_id, f, b, (doc_id*31 + f*13 + b*7) % 256 AS v
               FROM documents, (SELECT unnest(range(3)) AS f),
                 (SELECT unnest(range(4)) AS b))
         GROUP BY 1, 2, 3, 4""")),
    // q188: the G.711 expansion recomputed arithmetically — μ-law is
    // complement + ((mantissa*8+132) << exponent) - 132 with bit-7 NEGATIVE,
    // A-law is XOR 0x55 with segment 0/1 special cases and bit-7 POSITIVE
    QuerySpec("q188_audio_g711", q188_audio_g711, Oracle(
      """WITH s AS (
           SELECT doc_id, (doc_id*7 + i*13) % 256 AS c
           FROM documents, (SELECT unnest(range(240)) AS i)),
         ud AS (
           SELECT doc_id, CASE WHEN u >= 128 THEN 132 - t ELSE t - 132 END AS v
           FROM (SELECT doc_id, u, ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) AS t
                 FROM (SELECT doc_id, 255 - c AS u FROM s WHERE doc_id % 2 = 0))),
         ad AS (
           SELECT doc_id, CASE WHEN a >= 128 THEN m ELSE -m END AS v
           FROM (SELECT doc_id, a,
                   CASE (a // 16) % 8
                     WHEN 0 THEN (a % 16) * 16 + 8
                     WHEN 1 THEN (a % 16) * 16 + 264
                     ELSE ((a % 16) * 16 + 264) * (1 << ((a // 16) % 8 - 1)) END AS m
                 FROM (SELECT doc_id, xor(c, 85) AS a FROM s WHERE doc_id % 2 = 1))),
         v AS (SELECT * FROM ud UNION ALL SELECT * FROM ad)
         SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS fmt,
           cast(240 as bigint) AS n_samples,
           cast(sum(v) as bigint) AS sum_lin,
           cast(sum(v * v) as bigint) AS sum_sq
         FROM v GROUP BY 1, 2""")),
    // q189: the exact change set from key arithmetic — updates are the
    // mod-3 keys with +7 cents, inserts the negated mod-5 twins; any
    // unchanged-but-rewritten row the snapshot diff failed to drop would
    // add rows and break the hash
    QuerySpec("q189_versioned_changes", q189_versioned_changes, Oracle(
      """WITH c AS (
           SELECT o_orderkey AS k,
             cast(cast(o_totalprice as DECIMAL(18,2)) * 100 as bigint) AS cents
           FROM orders)
         SELECT k AS o_orderkey, 'update' AS change_type,
           cast(cents + 7 as bigint) AS cents
         FROM c WHERE k % 3 = 0
         UNION ALL
         SELECT -k - 1, 'insert', cents FROM c WHERE k % 5 = 0""")),
    // q190: DuckDB's own UAX #15 nfc_normalize recomputes the cleaning —
    // the cleaned string itself is hash-compared, so composition and the
    // zero-width strip must agree codepoint-for-codepoint across engines
    QuerySpec("q190_unicode_clean", q190_unicode_clean, Oracle(
      """WITH d AS (
           SELECT doc_id,
             'ab' || repeat(chr(8203), cast(doc_id % 4 as int)) || 'e' ||
             repeat(chr(769), cast(doc_id % 3 as int)) || 'c' ||
             (CASE WHEN doc_id % 5 = 0 THEN chr(65279) ELSE '' END) AS dirty
           FROM documents),
         c AS (
           SELECT doc_id, dirty,
             nfc_normalize(regexp_replace(dirty,
               '[' || chr(8203) || chr(65279) || ']', '', 'g')) AS clean
           FROM d)
         SELECT doc_id, cast(length(dirty) as bigint) AS chars_before,
           cast(length(clean) as bigint) AS chars_after, clean
         FROM c""")),
    // q191: the two point rows by key arithmetic; a bloom false NEGATIVE
    // (impossible by construction) would drop a row and break the hash
    QuerySpec("q191_versioned_point", q191_versioned_point, Oracle(
      """WITH c AS (
           SELECT o_orderkey,
             cast(cast(o_totalprice as DECIMAL(18,2)) * 100 as bigint) AS cents
           FROM orders),
         b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi FROM c)
         SELECT 'lo' AS probe, o_orderkey, cents FROM c, b WHERE o_orderkey = lo
         UNION ALL
         SELECT 'hi', o_orderkey, cents FROM c, b WHERE o_orderkey = hi""")),
    // q192: DuckDB's NATIVE ASOF LEFT JOIN recomputes the backward match —
    // an independent implementation of the same inclusive <= semantics the
    // union+window plan produces; the matched quote_ts rides in the hash
    QuerySpec("q192_asof_join", q192_asof_join, Oracle(
      """WITH quotes AS (
           SELECT user_id, ts AS quote_ts, max(value) AS last_quote
           FROM events WHERE event_type IN ('view', 'click') GROUP BY 1, 2),
         trades AS (
           SELECT event_id AS trade_id, user_id, ts, value AS trade_val
           FROM events WHERE event_type = 'purchase')
         SELECT t.trade_id, t.user_id, t.ts, t.trade_val,
           q.quote_ts, q.last_quote
         FROM trades t ASOF LEFT JOIN quotes q
           ON t.user_id = q.user_id AND t.ts >= q.quote_ts""")),
    // q193: the oracle IS the range theta-join the binned plan avoids
    QuerySpec("q193_interval_join", q193_interval_join, Oracle(
      """WITH iv AS (
           SELECT o_orderkey AS ik, cast(o_orderdate as date) AS win_start,
             cast(o_orderdate as date) + cast(o_orderkey % 30 as int) AS win_end
           FROM orders WHERE o_orderkey % 97 = 0),
         pt AS (
           SELECT cast(l_shipdate as date) AS d, cast(l_quantity as bigint) AS qty
           FROM lineitem)
         SELECT ik, win_start, win_end,
           cast(count(*) as bigint) AS n_ship, cast(sum(qty) as bigint) AS sum_qty
         FROM iv JOIN pt ON d BETWEEN win_start AND win_end
         GROUP BY 1, 2, 3""")),
    // q194: the oracle recomputes the v2 state from the key arithmetic and
    // aggregates it FROM SCRATCH — the incremental path must land exactly
    // there. Negative-key inserts exercise pmod vs remainder semantics.
    QuerySpec("q194_incremental_view", q194_incremental_view, Oracle(
      """WITH c AS (
           SELECT o_orderkey AS k,
             cast(cast(o_totalprice as DECIMAL(18,2)) * 100 as bigint) AS cents
           FROM orders),
         fin AS (
           SELECT k,
             CASE WHEN k % 21 = 0 THEN (k % 7 + 1) % 7 ELSE k % 7 END AS grp,
             CASE WHEN k % 3 = 0 THEN cents + 7 ELSE cents END AS cents
           FROM c WHERE k % 11 <> 0
           UNION ALL
           SELECT -k - 1, ((-k - 1) % 7 + 7) % 7, cents FROM c WHERE k % 5 = 0)
         SELECT grp, cast(count(*) as bigint) AS n_rows,
           cast(sum(cents) as bigint) AS sum_cents
         FROM fin GROUP BY 1""")),
    // q195: DuckDB recomputes the packing with the GLOBAL-order window the
    // Spark plan deliberately avoids — same exclusive prefix sum, same
    // integer pack arithmetic
    QuerySpec("q195_seq_pack", q195_seq_pack, Oracle(
      """WITH d AS (
           SELECT doc_id,
             cast(len(list_filter(string_split_regex(text, '\s+'),
               x -> len(x) > 0)) as bigint) AS nt
           FROM documents),
         f AS (SELECT doc_id, nt FROM d WHERE nt > 0),
         c AS (
           SELECT doc_id, nt,
             cast(coalesce(sum(nt) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) as bigint) AS cb
           FROM f)
         SELECT doc_id, nt AS n_tokens,
           cb // 512 AS pack_first,
           (cb + nt - 1) // 512 AS pack_last,
           (cb + nt - 1) // 512 - cb // 512 + 1 AS n_packs,
           cb % 512 AS pack_off
         FROM c""")),
    // q196: the oracle IS the theta-join the user wrote — the optimizer
    // rule must preserve it exactly while deleting the nested loop
    QuerySpec("q196_range_join_rule", q196_range_join_rule, Oracle(
      """WITH iv AS (
           SELECT o_orderkey AS ik, cast(o_orderdate as date) AS win_start,
             cast(o_orderdate as date) + cast(o_orderkey % 45 as int) AS win_end
           FROM orders WHERE o_orderkey % 89 = 0),
         pt AS (
           SELECT cast(l_shipdate as date) AS d, cast(l_quantity as bigint) AS qty
           FROM lineitem)
         SELECT ik, win_start, win_end,
           cast(count(*) as bigint) AS n_ship, cast(sum(qty) as bigint) AS sum_qty
         FROM iv JOIN pt ON d BETWEEN win_start AND win_end
         GROUP BY 1, 2, 3""")),
    // q197: RationalIdf BM25 is pure long arithmetic with floor division —
    // the oracle recomputes scores AND ranks bit-identically (idf =
    // (2N-2df+1)e6/(2df+1), tfpart = 22·tf·S·e6/(10·tf·S+3·S+9·dl·N))
    QuerySpec("q197_bm25_topk", q197_bm25_topk, Oracle(
      """WITH tok AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
             x -> len(x) > 0)) AS t
           FROM documents),
         tf AS (SELECT doc_id, t, cast(count(*) as bigint) AS tf FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, cast(count(*) as bigint) AS dl FROM tok GROUP BY 1),
         df AS (SELECT t, cast(count(*) as bigint) AS df
                FROM (SELECT DISTINCT doc_id, t FROM tok) GROUP BY 1),
         tot AS (SELECT cast(count(DISTINCT doc_id) as bigint) AS n,
                   cast(count(*) as bigint) AS s FROM tok),
         q AS (SELECT cast(len(t) % 4 as bigint) AS query_id, t
               FROM (SELECT t FROM df ORDER BY df DESC, t ASC LIMIT 32)),
         m AS (
           SELECT q.query_id, tf.doc_id,
             (((2*n - 2*df.df + 1) * 1000000 // (2*df.df + 1)) *
              ((22*tf.tf*s) * 1000000 // (10*tf.tf*s + 3*s + 9*dl.dl*n)))
               // 1000000 AS c
           FROM tf JOIN q ON tf.t = q.t JOIN df ON tf.t = df.t
             JOIN dl ON tf.doc_id = dl.doc_id, tot),
         sc AS (SELECT query_id, doc_id, cast(sum(c) as bigint) AS score,
                  cast(count(*) as bigint) AS n_terms
                FROM m GROUP BY 1, 2)
         SELECT query_id, doc_id, score, n_terms, rank FROM (
           SELECT query_id, doc_id, score, n_terms,
             cast(row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id ASC) as bigint) AS rank
           FROM sc) t
         WHERE rank <= 10""")),
    // q198: the bigram-LM likelihood is pure long arithmetic (floor-scaled
    // add-one probs), and the 80% train split is the q83 md5 convention
    // (0.8·65536 = 52429 = 0xcccd) — fully engine-portable
    QuerySpec("q198_lm_perplexity", q198_lm_perplexity, Oracle(
      """WITH d AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS l,
             substring(md5(cast(doc_id as varchar)), 1, 4) < 'cccd' AS is_train
           FROM documents),
         tok AS (SELECT doc_id, is_train, unnest(l) AS tok FROM d),
         vocab AS (SELECT tok FROM tok WHERE is_train
           GROUP BY tok HAVING count(*) >= 100),
         prr AS (SELECT u.doc_id, u.is_train, u.p.w1 AS w1r, u.p.w2 AS w2r
           FROM (SELECT doc_id, is_train,
               unnest(list_transform(range(1, len(l)),
                 i -> struct_pack(w1 := l[i], w2 := l[i + 1]))) AS p
             FROM d) u),
         pr AS (SELECT doc_id, is_train,
             coalesce(v1.tok, '<unk>') AS w1, coalesce(v2.tok, '<unk>') AS w2
           FROM prr LEFT JOIN vocab v1 ON prr.w1r = v1.tok
             LEFT JOIN vocab v2 ON prr.w2r = v2.tok),
         c12 AS (SELECT w1, w2, cast(count(*) as bigint) AS c12
           FROM pr WHERE is_train GROUP BY 1, 2),
         c1 AS (SELECT w1, cast(count(*) as bigint) AS c1
           FROM pr WHERE is_train GROUP BY 1),
         vr AS (SELECT cast(count(*) + 1 as bigint) AS v FROM vocab),
         terms AS (SELECT p.doc_id,
             (coalesce(c12.c12, 0) + 1) * 1000000 // (coalesce(c1.c1, 0) + v) AS t
           FROM pr p LEFT JOIN c12 ON p.w1 = c12.w1 AND p.w2 = c12.w2
             LEFT JOIN c1 ON p.w1 = c1.w1, vr
           WHERE NOT p.is_train)
         SELECT doc_id, cast(count(*) as bigint) AS n_bigrams,
           cast(sum(t) as bigint) AS score_ppm,
           cast(sum(t) as bigint) // cast(count(*) as bigint) AS mean_ppm
         FROM terms GROUP BY 1""")),
    QuerySpec("q199_ann_ivfpq", q199_ann_ivfpq, RowsOnly(
      "exact twin q38_ann_brute; hash-PROVEN det twin q225 (train/encode/ADC oracle-checked); PqSpec exhaustive-regime identity + planted recall bound")),
    // q200: the pruned box read must equal the plain relational box — file
    // skipping is invisible to results by contract
    QuerySpec("q200_zorder_box", q200_zorder_box, Oracle(
      """SELECT l_suppkey, cast(count(*) as bigint) AS n_rows,
           cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty,
           cast(count(DISTINCT l_orderkey) as bigint) AS n_orders
         FROM lineitem
         WHERE l_partkey BETWEEN 20 AND 149 AND l_suppkey BETWEEN 2 AND 7
         GROUP BY 1""")),
    // q201: three snapshots — pre-delete (v1), merge-on-read (mor), and
    // post-purge (purged); the latter two must agree exactly
    QuerySpec("q201_delete_vectors", q201_delete_vectors, Oracle(
      """WITH agg AS (
           SELECT l_linestatus,
             cast(count(*) as bigint) AS n_rows,
             cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty,
             cast(count(DISTINCT l_orderkey) as bigint) AS n_orders,
             TRUE AS live
           FROM lineitem GROUP BY 1
           UNION ALL
           SELECT l_linestatus,
             cast(count(*) as bigint), cast(sum(cast(l_quantity as bigint)) as bigint),
             cast(count(DISTINCT l_orderkey) as bigint), FALSE
           FROM lineitem
           WHERE NOT (l_returnflag = 'R') AND NOT (l_quantity >= 45)
           GROUP BY 1)
         SELECT 'v1' AS snapshot, l_linestatus, n_rows, sum_qty, n_orders
           FROM agg WHERE live
         UNION ALL
         SELECT 'mor', l_linestatus, n_rows, sum_qty, n_orders
           FROM agg WHERE NOT live
         UNION ALL
         SELECT 'purged', l_linestatus, n_rows, sum_qty, n_orders
           FROM agg WHERE NOT live""")),
    // q202: the MV-rewritten rollup must equal the base-table aggregate —
    // the rewrite changes the access path, never the answer
    QuerySpec("q202_mv_rewrite", q202_mv_rewrite, Oracle(
      """SELECT l_linestatus AS status,
           cast(count(*) as bigint) AS n_rows,
           cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty,
           cast(min(cast(l_quantity as bigint)) as bigint) AS min_qty,
           cast(max(cast(l_quantity as bigint)) as bigint) AS max_qty
         FROM lineitem
         WHERE l_returnflag <> 'R'
         GROUP BY 1""")),
    // q203: update-then-delete through vectors must equal the relational
    // CASE + WHERE recomputation
    QuerySpec("q203_mor_update", q203_mor_update, Oracle(
      """SELECT l_linestatus,
           cast(count(*) as bigint) AS n_rows,
           cast(sum(cast(CASE WHEN l_quantity >= 45 THEN l_quantity - 40
                              ELSE l_quantity END as bigint)) as bigint) AS sum_qty,
           cast(count(DISTINCT l_orderkey) as bigint) AS n_orders
         FROM lineitem
         WHERE l_returnflag <> 'R'
         GROUP BY 1""")),
    // q204: feature extraction and hashed-weight scoring recomputed
    // relationally (same md5 fold on both engines)
    QuerySpec("q204_hashed_classifier", q204_hashed_classifier, Oracle(
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS u
           FROM documents
         ), feats AS (
           SELECT doc_id,
             u || list_transform(range(1, greatest(len(u), 1)),
                                 i -> u[i] || ' ' || u[i+1]) AS f
           FROM toks
         ), scored AS (
           SELECT doc_id, cast(len(f) as bigint) AS n_feats,
             cast(coalesce(list_sum(list_transform(f,
               t -> (('0x' || substring(md5(t),1,8))::BIGINT % 997) - 498)), 0) as bigint) AS score
           FROM feats)
         SELECT doc_id, n_feats, score, score > 0 AS accepted FROM scored""")),
    // q205: the incrementally refreshed MV must equal the relational
    // recomputation of the evolved base (append + keyed update)
    QuerySpec("q205_mv_incremental_rewrite", q205_mv_incremental_rewrite, Oracle(
      """WITH base AS (
           SELECT o_orderkey AS k, o_orderpriority AS grp,
             cast(cast(o_totalprice as DECIMAL(18,2)) * 100 as bigint) AS v
           FROM orders
         ), appended AS (
           SELECT k + 10000000 AS k, grp, v + 5 AS v FROM base WHERE k % 10 = 7
         ), merged AS (
           SELECT k, grp, CASE WHEN k % 10 = 3 THEN v + 1000 ELSE v END AS v FROM base
           UNION ALL
           SELECT k, grp, v FROM appended)
         SELECT grp, cast(count(*) as bigint) AS n_rows,
           cast(sum(v) as bigint) AS sum_cents
         FROM merged GROUP BY 1""")),
    // q206: restored source and shallow clone must both equal the
    // relational recomputation of the v2 snapshot (delete applied, junk
    // append gone)
    QuerySpec("q206_restore_clone", q206_restore_clone, Oracle(
      """WITH agg AS (
           SELECT l_linestatus,
             cast(count(*) as bigint) AS n_rows,
             cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty
           FROM lineitem WHERE l_returnflag <> 'R' GROUP BY 1)
         SELECT l_linestatus, n_rows, sum_qty, 'restored' AS src FROM agg
         UNION ALL
         SELECT l_linestatus, n_rows, sum_qty, 'clone' AS src FROM agg""")),
    // q207: the full span-dedup recomputed relationally — window
    // fingerprints, global duplicate set, coverage expansion, and the
    // cleaned text itself
    QuerySpec("q207_span_dedup", q207_span_dedup, Oracle(
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS u
           FROM documents
         ), p AS (
           SELECT doc_id, u,
             unnest(range(1, greatest(len(u) - 7, 0) + 1)) AS pos
           FROM toks
         ), g AS (
           SELECT doc_id, pos,
             substring(md5(array_to_string(u[pos:pos+7], ' ')), 1, 16) AS h
           FROM p
         ), dup AS (
           SELECT h FROM g GROUP BY h HAVING count(*) >= 2
         ), m AS (
           SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM dup)
         ), cpos AS (
           SELECT DISTINCT doc_id, tp
           FROM (SELECT doc_id, unnest(range(pos, pos + 8)) AS tp FROM m)
         ), cagg AS (
           SELECT doc_id, cast(count(*) as bigint) AS n_covered, list(tp) AS cov
           FROM cpos GROUP BY 1
         ), magg AS (
           SELECT doc_id, cast(count(*) as bigint) AS n_dup_grams FROM m GROUP BY 1
         )
         SELECT t.doc_id,
           cast(len(t.u) as bigint) AS n_tokens,
           coalesce(magg.n_dup_grams, 0) AS n_dup_grams,
           coalesce(cagg.n_covered, 0) AS n_covered,
           coalesce(array_to_string(list_transform(
             list_filter(range(1, len(t.u) + 1),
                         i -> coalesce(NOT list_contains(cagg.cov, i), TRUE)),
             i -> t.u[i]), ' '), '') AS cleaned_text
         FROM toks t
         LEFT JOIN magg USING (doc_id)
         LEFT JOIN cagg USING (doc_id)""")),
    // q208: rank-only neighbor ordering (the q38 convention — cosine values
    // never cross the comparison, only their order), then the same
    // votes-desc/label-asc argmax the Spark struct-max encodes
    QuerySpec("q208_knn_classify", q208_knn_classify, Oracle(
      """WITH nn AS (
           SELECT q.vec_id AS query_id, c.label AS lbl,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                        c.vec_id ASC) AS rk
           FROM embeddings q, embeddings c
           WHERE q.label = 0 AND c.label <> 0),
         v AS (SELECT query_id, lbl, cast(count(*) as bigint) AS votes
               FROM nn WHERE rk <= 5 GROUP BY 1, 2),
         r AS (SELECT query_id, lbl, votes,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY votes DESC, lbl ASC) AS pick
               FROM v)
         SELECT query_id, cast(lbl as bigint) AS pred_label, votes
         FROM r WHERE pick = 1""")),
    QuerySpec("q209_source_quota", q209_source_quota, Oracle(
      """SELECT doc_id, source FROM (
           SELECT doc_id, source, row_number() OVER (
             PARTITION BY source
             ORDER BY substring(md5(cast(doc_id as varchar)), 1, 8), doc_id) AS rn
           FROM documents) WHERE rn <= 10""")),
    // q210: all-integer JL projection — float→double cast is exact, ·1024 is
    // an exponent shift, and the ±1/0 matrix comes from the same closed-form
    // integer formula on both sides, so the comparison is hash-exact
    QuerySpec("q210_jl_projection", q210_jl_projection, Oracle(
      """WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> cast(round(cast(x as double) * 1024) as bigint)) AS qv
           FROM embeddings),
         d AS (SELECT unnest(range(0, 16)) AS dim)
         SELECT q.vec_id, cast(d.dim as bigint) AS dim,
           cast(list_sum(list_transform(range(0, len(qv)),
             i -> qv[i+1] * ((i * 131 + d.dim * 37) * (i * 131 + d.dim * 37 + 1) % 4099 % 3 - 1))) as bigint) AS val
         FROM q, d""")),
    // q211: integer cents, exact integer numerator, one mirrored double
    // division + addition (the q92 deterministic-IEEE convention)
    QuerySpec("q211_interpolate", q211_interpolate, Oracle(
      """WITH daily AS (
           SELECT user_id, cast(ts as date) AS day,
             cast(sum(cast(cast(value as decimal(18,4)) * 10000 as bigint)) as bigint) AS cents
           FROM events GROUP BY 1, 2),
         bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
         spine AS (SELECT user_id,
             cast(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) as date) AS day FROM bounds),
         j AS (SELECT s.user_id, s.day, d.cents
               FROM spine s LEFT JOIN daily d USING (user_id, day)),
         f AS (SELECT user_id, day, cents,
            last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER
              (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
            last_value(cents IGNORE NULLS) OVER
              (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
            first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER
              (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
            first_value(cents IGNORE NULLS) OVER
              (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
          FROM j)
         SELECT user_id, day,
           CASE WHEN cents IS NOT NULL THEN cast(cents as double)
                ELSE pv + (nv - pv) * datediff('day', pd, day) / datediff('day', pd, nd)
           END AS cents_filled,
           cents IS NOT NULL AS observed
         FROM f""")),
    // q212: the ENTIRE MinHash-LSH pipeline on the md5-affine hash family —
    // 28-bit token hash from 7 hex chars, affine perms derived inline from
    // the seed index, per-band bucket keys, candidate join, exact verify
    QuerySpec("q212_minhash_det", q212_minhash_det, benched = false, check = Oracle(detMinhashOracleSql)),
    // q213: md5-derived SimHash bit votes, pigeonhole bands, exact Hamming
    QuerySpec("q213_simhash_det", q213_simhash_det, benched = false, check = Oracle(detSimhashOracleSql)),
    // q215: the fold acc*B + h mod P equals sum(h_t * B^(n-1-t)) mod P —
    // recursive power table; per-term mod keeps the sum < 2^43
    QuerySpec("q215_fingerprint_det", q215_fingerprint_det, Oracle(detRollingOracleSql)),
    // q216: robust winnowing (k=3, w=4) — min per hash window, RIGHTMOST
    // tie-break via max position among window minima; ≥ 6 tokens required
    // for one full window (k + w − 1)
    QuerySpec("q216_winnow_fingerprints", q216_winnow_fingerprints, Oracle(
      s"""WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS ts
           FROM documents),
         grams AS (
           SELECT doc_id, list_transform(range(1, len(ts) - 1),
             i -> ${detHexHashSql("ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]", 7)}) AS hs
           FROM toks WHERE len(ts) >= 6),
         win AS (SELECT doc_id, hs, unnest(range(1, len(hs) - 2)) AS i FROM grams),
         sel AS (
           SELECT DISTINCT doc_id,
             list_max(list_filter(range(i, i + 4), j -> hs[j] = list_min(hs[i:i+3]))) AS pos,
             list_min(hs[i:i+3]) AS fp
           FROM win)
         SELECT doc_id, cast(pos as bigint) AS pos, fp FROM sel""")),
    // q217: both Lloyd rounds unrolled — assignment (exact integer sqdist,
    // ties to the smaller cluster), M-step (floor-div centroid update,
    // empty clusters keep the old centroid), final stats + centroid digest
    QuerySpec("q217_kmeans_quantized", q217_kmeans_quantized, Oracle(kmeansOracleSql(k = 8, iters = 2))),
    // q219: all 256 BPE iterations unrolled — vocab pair counts, argmax,
    // padded-replace merge rewrite; the merge table INCLUDING the
    // early-stop point is the checked output (iterations past exhaustion
    // produce empty b/v CTEs in both engines)
    QuerySpec("q219_bpe_learn", q219_bpe_learn, Oracle(bpeOracleSql(nMerges = 256))),
    // q264/q265: the WordPiece merge loop and its greedy segmenter,
    // replayed relationally (unrolled rounds, exact HUGEINT rational
    // argmax, 8-step longest-match unroll)
    QuerySpec("q264_wordpiece_learn", q264_wordpiece_learn, Oracle(wordpieceLearnOracleSql(nMerges = 64))),
    // q273: all three tokenizers replayed in one statement
    QuerySpec("q273_tokenizer_fertility", q273_tokenizer_fertility, Oracle(tokenizerFertilityOracleSql(nMerges = 64))),
    QuerySpec("q265_wordpiece_segment", q265_wordpiece_segment, Oracle(wordpieceSegmentOracleSql(nMerges = 64))),
    // q274: the SAME oracle — batch-trained model applied in a streaming
    // drain equals the batch segmentation row-for-row (q253 discipline)
    QuerySpec("q274_stream_wordpiece", q274_stream_wordpiece, Oracle(wordpieceSegmentOracleSql(nMerges = 64))),
    // q268: the structured-page fixture rebuilt relationally, then every
    // C4 rule recomputed (regex + integer counts) down to the md5 of the
    // retained-line output
    QuerySpec("q268_c4_rules", q268_c4_rules, Oracle(c4RulesOracleSql)),
    // q270: the SAME oracle — the streaming drain must equal the batch
    // battery row-for-row (stateless projections, q253 discipline)
    QuerySpec("q270_stream_c4_gate", q270_stream_c4_gate, Oracle(c4RulesOracleSql)),
    // q269: the C4 span-dedup step over the same fixture — sentences by
    // terminal punctuation, 3-sentence sliding spans, retained occurrence
    // = (doc_id, position)-smallest
    QuerySpec("q269_c4_span_dedup", q269_c4_span_dedup, Oracle(
      ("""WITH """ + c4PageCtes + """,
         sent AS (SELECT doc_id,
             list_transform(regexp_extract_all(replace(page, chr(10), ' '), '[^.!?]+[.!?]'),
               x -> trim(x)) AS sents
           FROM pg),
         spans AS (SELECT doc_id, cast(si as bigint) AS si,
             array_to_string(list_slice(sents, si, si + 2), ' ') AS span
           FROM (SELECT doc_id, sents, unnest(range(1, len(sents) - 1)) AS si FROM sent)
           WHERE len(sents) >= 3),
         marked AS (SELECT doc_id, si, span,
             count(*) OVER (PARTITION BY span) AS cnt,
             row_number() OVER (PARTITION BY span ORDER BY doc_id, si) AS rn
           FROM spans)
         SELECT s.doc_id,
           cast(len(s.sents) as bigint) AS n_sentences,
           cast(coalesce(m.n_spans, 0) as bigint) AS n_spans,
           cast(coalesce(m.n_removed, 0) as bigint) AS n_removed
         FROM sent s LEFT JOIN (
           SELECT doc_id, count(*) AS n_spans,
             count(*) FILTER (cnt > 1 AND rn > 1) AS n_removed
           FROM marked GROUP BY 1) m ON m.doc_id = s.doc_id"""))),
    // q272: the composed chain — C4 pass from the page CTEs, KN scores
    // from the shared knsc core, rank-thirds bucket filter over the
    // C4-surviving held-out pool, duplicated-window strip over the
    // survivor corpus, per-(lang, source) summary
    QuerySpec("q272_fineweb_prep", q272_fineweb_prep, Oracle(
      ("""WITH """ + c4PageCtes + """,
         c4fl AS (SELECT doc_id, page,
             list_filter(string_split(page, chr(10)), l -> len(trim(l)) > 0) AS lines
           FROM pg),
         c4kp AS (SELECT doc_id, page,
             coalesce(array_to_string(
               list_filter(lines, l -> regexp_matches(rtrim(l), '[.!?"]$')
                 AND len(list_filter(string_split_regex(l, '\s+'), w -> len(w) > 0)) >= 5
                 AND NOT contains(lower(l), 'javascript')), chr(10)), '') AS clean
           FROM c4fl),
         c4p AS (SELECT doc_id FROM c4kp
           WHERE len(regexp_extract_all(clean, '[.!?]')) >= 3
             AND NOT contains(lower(page), 'lorem ipsum')
             AND NOT contains(page, '{')),
         """ + knScoreCtes + """,
         keptx AS (SELECT doc_id, lang, source FROM (
             SELECT k.doc_id, doc.lang, doc.source,
               row_number() OVER (PARTITION BY doc.lang
                 ORDER BY k.mean_nlg2_q16, k.doc_id) AS rn,
               count(*) OVER (PARTITION BY doc.lang) AS n
             FROM knsc k
               JOIN c4p ON c4p.doc_id = k.doc_id
               JOIN documents doc ON doc.doc_id = k.doc_id)
           WHERE rn * 3 <= n * 2),
         sposx AS (SELECT t.doc_id,
             list_slice(t.l, t.wi, least(t.wi + 7, len(t.l))) AS win
           FROM (SELECT d.doc_id, d.l, unnest(range(1, len(d.l) + 1)) AS wi
                 FROM d JOIN keptx kk ON kk.doc_id = d.doc_id) t),
         scntx AS (SELECT doc_id, count(*) OVER (PARTITION BY win) AS cnt FROM sposx),
         dstatx AS (SELECT doc_id, cast(count(*) as bigint) AS n_pos,
             cast(count(*) FILTER (cnt > 1) as bigint) AS n_dup
           FROM scntx GROUP BY 1)
         SELECT k.lang, k.source, cast(count(*) as bigint) AS n_docs,
           cast(sum(ds.n_pos) as bigint) AS n_positions,
           cast(sum(ds.n_dup) as bigint) AS n_dup_positions
         FROM keptx k JOIN dstatx ds ON ds.doc_id = k.doc_id
         WHERE ds.n_dup * 5 < ds.n_pos
         GROUP BY 1, 2"""))),
    // q277: q272's CTE families (C4 gate + KN keep-best + keptx) plus
    // q276's strip CTEs restricted to the survivor set, with per-group
    // order-pinned md5-of-md5s of the cleaned documents
    QuerySpec("q277_fineweb_strip", q277_fineweb_strip, Oracle(
      ("""WITH """ + c4PageCtes + """,
         c4fl AS (SELECT doc_id, page,
             list_filter(string_split(page, chr(10)), l -> len(trim(l)) > 0) AS lines
           FROM pg),
         c4kp AS (SELECT doc_id, page,
             coalesce(array_to_string(
               list_filter(lines, l -> regexp_matches(rtrim(l), '[.!?"]$')
                 AND len(list_filter(string_split_regex(l, '\s+'), w -> len(w) > 0)) >= 5
                 AND NOT contains(lower(l), 'javascript')), chr(10)), '') AS clean
           FROM c4fl),
         c4p AS (SELECT doc_id FROM c4kp
           WHERE len(regexp_extract_all(clean, '[.!?]')) >= 3
             AND NOT contains(lower(page), 'lorem ipsum')
             AND NOT contains(page, '{')),
         """ + knScoreCtes + """,
         keptx AS (SELECT doc_id, lang, source FROM (
             SELECT k.doc_id, doc.lang, doc.source,
               row_number() OVER (PARTITION BY doc.lang
                 ORDER BY k.mean_nlg2_q16, k.doc_id) AS rn,
               count(*) OVER (PARTITION BY doc.lang) AS n
             FROM knsc k
               JOIN c4p ON c4p.doc_id = k.doc_id
               JOIN documents doc ON doc.doc_id = k.doc_id)
           WHERE rn * 3 <= n * 2),
         sdd AS MATERIALIZED (SELECT d.doc_id, d.l
           FROM d JOIN keptx kk ON kk.doc_id = d.doc_id),
         spn AS (SELECT doc_id, cast(wi as bigint) AS wi,
             list_slice(l, wi, wi + 7) AS win
           FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS wi FROM sdd)
           WHERE wi + 7 <= len(l)),
         srm AS (SELECT doc_id, wi FROM (
             SELECT doc_id, wi, row_number() OVER (PARTITION BY win ORDER BY doc_id, wi) AS rn
             FROM spn) WHERE rn > 1),
         scov AS (SELECT DISTINCT doc_id, wi + o AS pos
           FROM srm, (SELECT unnest(range(8)) AS o)),
         stok AS (SELECT doc_id, cast(pos as bigint) AS pos, l[pos] AS tok
           FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS pos FROM sdd)),
         skept AS (SELECT t.doc_id, t.pos, t.tok FROM stok t
           LEFT JOIN scov c ON t.doc_id = c.doc_id AND t.pos = c.pos
           WHERE c.doc_id IS NULL),
         sdoc AS (SELECT doc_id, cast(len(l) as bigint) AS n_tokens FROM sdd),
         sout AS (SELECT doc_id, cast(count(*) as bigint) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS ct
           FROM skept GROUP BY doc_id),
         sfin AS (SELECT s.doc_id, s.n_tokens,
             cast(coalesce(o.n_kept, 0) as bigint) AS n_kept,
             md5(coalesce(o.ct, '')) AS cmd5
           FROM sdoc s LEFT JOIN sout o ON s.doc_id = o.doc_id)
         SELECT k.lang, k.source, cast(count(*) as bigint) AS n_docs,
           cast(sum(f.n_tokens) as bigint) AS n_tokens,
           cast(sum(f.n_kept) as bigint) AS n_kept,
           md5(string_agg(f.cmd5, '' ORDER BY f.doc_id)) AS corpus_md5
         FROM keptx k JOIN sfin f ON f.doc_id = k.doc_id
         GROUP BY 1, 2"""))),
    // q267: suffix ranks from the DEFINITION — dense_rank over the
    // materialized ≤8-token slices (list order = lexicographic,
    // shorter-first, matching the -1 padding of the doubling recurrence)
    QuerySpec("q267_suffix_ranks", q267_suffix_ranks, Oracle(
      """WITH d AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS l
           FROM documents),
         p AS (SELECT doc_id, cast(wi as bigint) AS wi,
             list_slice(l, wi, least(wi + 7, len(l))) AS win
           FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS wi FROM d)),
         r AS (SELECT doc_id, wi, win,
             cast(dense_rank() OVER (ORDER BY win) as bigint) AS rank
           FROM p)
         SELECT doc_id, wi, rank,
           (count(*) OVER (PARTITION BY win)) > 1 AS is_dup
         FROM r""")),
    // q220: train (shared CTEs) + segment every doc with the learned
    // merges in rank order; per-doc subword token/type counts
    QuerySpec("q220_bpe_segment", q220_bpe_segment, Oracle(bpeSegmentOracleSql(nMerges = 8))),
    QuerySpec("q287_bpe_bytes_learn", q287_bpe_bytes_learn, Oracle(bpeBytesOracleSql(nMerges = 48))),
    QuerySpec("q288_bpe_bytes_segment", q288_bpe_bytes_segment, Oracle(bpeBytesSegmentOracleSql(nMerges = 8))),
    QuerySpec("q289_quality_calibrated", q289_quality_calibrated, Oracle(perceptronCalibratedOracleSql(epochs = 4))),
    // streaming drain of q284's projection+lookup — stateless, AvailableNow:
    // row-identical to the batch query by construction, oracle shared
    QuerySpec("q290_stream_image_gate", q290_stream_image_gate, Oracle(q284OracleSql)),
    QuerySpec("q292_calibration_ece", q292_calibration_ece, Oracle(calibrationEceOracleSql(epochs = 4))),
    // q221: every greedy MMR step unrolled — candidate window, per-step
    // argmax, max-sim update; integer sign·cos²-scaled scores throughout
    QuerySpec("q221_mmr_rerank", q221_mmr_rerank, Oracle(mmrOracleSql(c = 16, k = 5))),
    // q222: three unrolled integer-mass power-iteration rounds over the
    // symmetrized co-purchase graph
    QuerySpec("q222_pagerank", q222_pagerank, Oracle(pagerankOracleSql(iters = 3))),
    // q223: closed-form hyperplane buckets + integer re-rank — candidate
    // generation itself oracle-checked (the q212 discipline for ANN)
    QuerySpec("q223_ann_lsh_det", q223_ann_lsh_det, Oracle(lshDetOracleSql(tables = 4, nbits = 8, k = 5))),
    // q224: the whole IVF pipeline replayed — k-means train (shared CTEs),
    // cell assign, nprobe probe, exact in-cell re-rank
    QuerySpec("q224_ann_ivf_det", q224_ann_ivf_det, Oracle(ivfDetOracleSql(nlist = 8, iters = 1, nprobe = 2, k = 5))),
    // q225: PQ codebook train / encode / ADC tables / Σ-ADC scan, all
    // integer — the whole compressed index replayed
    QuerySpec("q225_ann_pq_det", q225_ann_pq_det, Oracle(pqDetOracleSql(m = 4, ksub = 8, iters = 1, k = 5))),
    // q226: q218's shards/edges/components with the paper's representative
    // rule — farthest-from-centroid (max sqdist, min-id ties) per group
    QuerySpec("q226_semdedup_far", q226_semdedup_far, Oracle(
      """WITH RECURSIVE q AS (
           SELECT vec_id, list_transform(embedding,
             x -> cast(round(cast(x as double) * 1024) as bigint)) AS qv
           FROM embeddings),
         c AS (SELECT vec_id AS centroid_id, qv AS cv FROM q ORDER BY vec_id LIMIT 8),
         d AS (
           SELECT q.vec_id, c.centroid_id, q.qv,
             cast(list_sum(list_transform(range(0, len(q.qv)),
               j -> (q.qv[j+1] - c.cv[j+1]) * (q.qv[j+1] - c.cv[j+1]))) as bigint) AS sqd
           FROM q CROSS JOIN c),
         a AS (
           SELECT vec_id, centroid_id, qv, sqd AS cd,
             cast(list_sum(list_transform(qv, x -> x * x)) as bigint) AS nr
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sqd, centroid_id) AS rn
                 FROM d)
           WHERE rn = 1),
         p AS (
           SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.nr AS na, y.nr AS nb,
             cast(list_sum(list_transform(range(0, len(x.qv)),
               j -> x.qv[j+1] * y.qv[j+1])) as bigint) AS dot
           FROM a x JOIN a y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id),
         e AS (SELECT id_a, id_b FROM p WHERE dot > 0 AND dot * dot * 400 >= na * nb * 81),
         edges AS (SELECT id_a AS src, id_b AS dst FROM e UNION SELECT id_b, id_a FROM e),
         walk(id, lab) AS (
           SELECT vec_id, vec_id FROM a
           UNION
           SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id),
         lab AS (SELECT id, min(lab) AS lab FROM walk GROUP BY id),
         kp AS (
           SELECT a.centroid_id, a.vec_id,
             row_number() OVER (PARTITION BY l.lab ORDER BY a.cd DESC, a.vec_id ASC) AS krn
           FROM a JOIN lab l ON a.vec_id = l.id)
         SELECT centroid_id, cast(count(*) as bigint) AS n_vecs,
           cast(sum(CASE WHEN krn = 1 THEN 1 ELSE 0 END) as bigint) AS n_kept,
           cast(sum(CASE WHEN krn = 1 THEN vec_id END) as bigint) AS sum_kept
         FROM kp GROUP BY 1""")),
    // q227: integer Gram matrix — the lateral dim cross join mirrors the
    // double posexplode; the integer sum is partition-order-independent
    QuerySpec("q227_gram_matrix", q227_gram_matrix, Oracle(
      """WITH qz AS (SELECT list_transform(embedding,
             x -> cast(round(cast(x as double) * 1024) as bigint)) AS qv
           FROM embeddings),
         dims AS (SELECT unnest(range(0, (SELECT max(len(qv)) FROM qz))) AS d)
         SELECT cast(di.d as bigint) AS i, cast(dj.d as bigint) AS j,
           cast(sum(qz.qv[di.d + 1] * qz.qv[dj.d + 1]) as bigint) AS s
         FROM qz CROSS JOIN dims di CROSS JOIN dims dj
         WHERE dj.d >= di.d
         GROUP BY 1, 2""")),
    // q228: covariance numerators n·Σxy − Σx·Σy — all integer, the one
    // float division deferred to the (never-taken) display step
    QuerySpec("q228_covariance", q228_covariance, Oracle(
      """WITH qz AS (SELECT list_transform(embedding,
             x -> cast(round(cast(x as double) * 1024) as bigint)) AS qv
           FROM embeddings),
         dims AS (SELECT unnest(range(0, (SELECT max(len(qv)) FROM qz))) AS d),
         gram AS (
           SELECT cast(di.d as bigint) AS i, cast(dj.d as bigint) AS j,
             cast(sum(qz.qv[di.d + 1] * qz.qv[dj.d + 1]) as bigint) AS s
           FROM qz CROSS JOIN dims di CROSS JOIN dims dj
           WHERE dj.d >= di.d
           GROUP BY 1, 2),
         sums AS (
           SELECT cast(d.d as bigint) AS d, cast(sum(qz.qv[d.d + 1]) as bigint) AS sx,
             cast(count(*) as bigint) AS n
           FROM qz CROSS JOIN dims d
           GROUP BY 1)
         SELECT g.i, g.j, cast(si.n * g.s - si.sx * sj.sx as bigint) AS cov_num
         FROM gram g JOIN sums si ON si.d = g.i JOIN sums sj ON sj.d = g.j""")),
    // q229: Gram rebuild + all 3 integer power rounds + reprojection —
    // the eigenvector itself is replayed, not just bounded
    QuerySpec("q229_pca_project", q229_pca_project, Oracle(pcaOracleSql(iters = 3))),
    // q242: both power chains + the integer rejection residual replayed
    QuerySpec("q242_pca2_project", q242_pca2_project, Oracle(pca2OracleSql(iters = 3, shift = 24))),
    // q243: two md5-affine sketches + the min-over-rows inner product,
    // next to the exact join size
    QuerySpec("q243_joinsize_sketch", q243_joinsize_sketch, Oracle {
      def cells(tbl: String, key: String) = {
        val h = detHexHashSql(s"cast($key as varchar)", 7)
        s"""SELECT r.row AS row,
             ((r.row * 2 + 1) * 65537 * h + r.row * 40503 + 7) % 268435399 % 64 AS col,
             cast(count(*) as bigint) AS cnt
           FROM (SELECT $h AS h FROM $tbl) t
           CROSS JOIN (SELECT unnest(range(0, 4)) AS row) r
           GROUP BY 1, 2"""
      }
      s"""WITH ca AS (${cells("lineitem", "l_orderkey")}),
         cb AS (${cells("orders", "o_orderkey")}),
         ip AS (SELECT ca.row, cast(sum(ca.cnt * cb.cnt) as bigint) AS ip
                FROM ca JOIN cb ON ca.row = cb.row AND ca.col = cb.col
                GROUP BY 1),
         est AS (SELECT min(ip) AS est_join_size FROM ip),
         ex AS (SELECT cast(count(*) as bigint) AS true_join_size
                FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
         SELECT est.est_join_size, ex.true_join_size,
           est.est_join_size - ex.true_join_size AS overestimate
         FROM est CROSS JOIN ex"""
    }),
    // q244: q214's shard assignment + integer Gini n² − Σc² and the
    // (count DESC, label ASC) majority
    QuerySpec("q244_shard_purity", q244_shard_purity, Oracle(
      """WITH q AS (
           SELECT vec_id, label, list_transform(embedding,
             x -> cast(round(cast(x as double) * 1024) as bigint)) AS qv
           FROM embeddings),
         c AS (SELECT vec_id AS centroid_id, qv AS cv FROM q ORDER BY vec_id LIMIT 8),
         d AS (
           SELECT q.vec_id, q.label, c.centroid_id,
             cast(list_sum(list_transform(range(0, len(q.qv)),
               j -> (q.qv[j+1] - c.cv[j+1]) * (q.qv[j+1] - c.cv[j+1]))) as bigint) AS sqd
           FROM q CROSS JOIN c),
         a AS (
           SELECT vec_id, cast(label as bigint) AS label, centroid_id
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sqd, centroid_id) AS rn
                 FROM d)
           WHERE rn = 1),
         counts AS (
           SELECT centroid_id, label, cast(count(*) as bigint) AS c
           FROM a GROUP BY 1, 2),
         mj AS (
           SELECT centroid_id, label AS majority_label, c AS majority_n
           FROM (SELECT *, row_number() OVER (PARTITION BY centroid_id
                   ORDER BY c DESC, label ASC) AS rn
                 FROM counts)
           WHERE rn = 1)
         SELECT g.centroid_id, g.n, g.gini_num, mj.majority_label, mj.majority_n
         FROM (SELECT centroid_id, cast(sum(c) as bigint) AS n,
                 cast(sum(c) * sum(c) - sum(c * c) as bigint) AS gini_num
               FROM counts GROUP BY 1) g
         JOIN mj ON mj.centroid_id = g.centroid_id""")),
    // q245: H.264 I_PCM decode — per-frame channel sums and the
    // position-weighted red sum from the per-macroblock closed form
    // (mb raster my*2+mx; Σpos over mb = 131072*my + 4096*mx + 63360;
    // 25 fps elementary-stream timing)
    QuerySpec("q245_h264_frames", q245_h264_frames, Oracle(
      """WITH fr AS (SELECT unnest(range(0, 3)) AS f),
         v AS (
           SELECT d.doc_id, fr.f,
             (d.doc_id * 31 + fr.f * 13) % 256 AS v0,
             (d.doc_id * 31 + fr.f * 13 + 7) % 256 AS v1,
             (d.doc_id * 31 + fr.f * 13 + 14) % 256 AS v2,
             (d.doc_id * 31 + fr.f * 13 + 21) % 256 AS v3
           FROM documents d CROSS JOIN fr)
         SELECT doc_id, cast(f as bigint) AS frame_idx,
           cast(f * 40 as bigint) AS frame_ts_ms,
           cast(1024 as bigint) AS n_pixels,
           cast((v0 + v1 + v2 + v3) * 256 as bigint) AS sum_r,
           cast((v0 + v1 + v2 + v3) * 256 as bigint) AS sum_g,
           cast((v0 + v1 + v2 + v3) * 256 as bigint) AS sum_b,
           cast(v0 * 63360 + v1 * 67456 + v2 * 194432 + v3 * 198528 as bigint) AS wsum_r
         FROM v""")),
    // q246: mixture sampling — per-source rollup of the all-integer
    // md5-threshold membership (h16*avail*sum_w < budget*w*65536)
    QuerySpec("q246_mixture_sample", q246_mixture_sample, Oracle(
      """WITH toks AS (
           SELECT doc_id, source,
             cast(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) as bigint) AS t
           FROM documents),
         avail AS (SELECT source, cast(sum(t) as bigint) AS avail FROM toks GROUP BY 1),
         tgt(source, w) AS (VALUES ('src0', 50), ('src1', 8), ('src2', 4), ('src3', 2), ('src4', 1)),
         kept AS (
           SELECT k.doc_id, k.source, k.t, a.avail
           FROM toks k JOIN avail a ON k.source = a.source JOIN tgt g ON k.source = g.source
           WHERE (((strpos('0123456789abcdef', substr(md5(cast(k.doc_id as varchar)), 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(md5(cast(k.doc_id as varchar)), 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(md5(cast(k.doc_id as varchar)), 3, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(cast(k.doc_id as varchar)), 4, 1)) - 1) * 1)) * a.avail * 65 < cast(3000 as bigint) * g.w * 65536)
         SELECT source, max(avail) AS avail_tokens,
           cast(count(*) as bigint) AS kept_docs,
           cast(sum(t) as bigint) AS kept_tokens
         FROM kept GROUP BY 1""")),
    // q247: streaming gate's drained output == the batch closed form —
    // q212's md5-affine banding, keeper = min doc_id per (band, bucket)
    QuerySpec("q247_stream_neardup_gate", q247_stream_neardup_gate, Oracle(
      s"""WITH ne AS ($detShingleSetsSql),
       hs AS (
         SELECT doc_id,
           ${detHexHashSql("w", 7)} AS h
         FROM (SELECT doc_id, unnest(ws) AS w FROM ne)),
       mins AS (
         SELECT doc_id, i,
           min(((i * 2 + 1) * 65537 * h + i * 40503 + 7) % 268435399) AS m
         FROM hs CROSS JOIN (SELECT unnest(range(0, 32)) AS i) seeds
         GROUP BY doc_id, i),
       sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mins GROUP BY doc_id),
       bands AS (
         SELECT doc_id, bnum,
           array_to_string(list_transform(sig[bnum*4+1 : bnum*4+4],
             v -> cast(v as varchar)), ',') AS bucket
         FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS bnum) gb),
       keep AS (SELECT bnum, bucket, min(doc_id) AS keeper FROM bands GROUP BY 1, 2),
       per AS (
         SELECT b.doc_id,
           cast(sum(CASE WHEN k.keeper < b.doc_id THEN 1 ELSE 0 END) as bigint) AS n_dup_bands
         FROM bands b JOIN keep k ON b.bnum = k.bnum AND b.bucket = k.bucket
         GROUP BY 1)
       SELECT doc_id, n_dup_bands, n_dup_bands > 0 AS is_candidate FROM per""")),
    // q248: refinement selection == the rank-th smallest; rank is the
    // same IEEE ceil(p*n) the Scala side computes
    QuerySpec("q248_refine_quantiles", q248_refine_quantiles, Oracle(
      """WITH t AS (
           SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem
           WHERE l_extendedprice IS NOT NULL),
         r AS (
           SELECT v, row_number() OVER (ORDER BY v) AS rn, count(*) OVER () AS n
           FROM t)
       SELECT
         min(CASE WHEN rn >= ceil(0.5 * n) THEN v END) AS p50_cents,
         min(CASE WHEN rn >= ceil(0.9 * n) THEN v END) AS p90_cents,
         min(CASE WHEN rn >= ceil(0.99 * n) THEN v END) AS p99_cents
       FROM r""")),
    // q249: per-group rank-th smallest, same IEEE ceil(p*n) ranks
    QuerySpec("q249_group_quantiles", q249_group_quantiles, Oracle(
      """WITH t AS (
           SELECT l_returnflag AS g,
             CAST(floor(l_extendedprice * 100) AS BIGINT) AS v
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
         r AS (
           SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY g) AS n
           FROM t)
       SELECT g AS returnflag,
         min(CASE WHEN rn >= ceil(0.25 * n) THEN v END) AS p25_cents,
         min(CASE WHEN rn >= ceil(0.5 * n) THEN v END) AS p50_cents,
         min(CASE WHEN rn >= ceil(0.9 * n) THEN v END) AS p90_cents
       FROM r GROUP BY g""")),
    // q250: bounds_i = ceil((i/8)*n)-th smallest; bin = #{bounds < v}
    QuerySpec("q250_balanced_range_bins", q250_balanced_range_bins, Oracle(
      """WITH t AS (
           SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem
           WHERE l_extendedprice IS NOT NULL),
         r AS (
           SELECT v, row_number() OVER (ORDER BY v) AS rn, count(*) OVER () AS n
           FROM t),
         b AS (
           SELECT i, min(CASE WHEN rn >= ceil((i / 8.0) * n) THEN v END) AS bound
           FROM r CROSS JOIN (SELECT unnest(range(1, 8)) AS i) ii
           GROUP BY i),
         binned AS (
           SELECT t.v, (SELECT count(*) FROM b WHERE t.v > b.bound) AS bin
           FROM t)
       SELECT bin, count(*) AS n_rows,
         min(v) AS min_cents, max(v) AS max_cents
       FROM binned GROUP BY bin""")),
    // q251: weighted rank = smallest v whose tie-inclusive cumulative
    // token mass reaches ceil(p*totalTokens); RANGE window frame gives
    // exactly the tie-group-inclusive cumsum
    QuerySpec("q251_tokenmass_quantiles", q251_tokenmass_quantiles, Oracle(
      """WITH toks AS (
           SELECT cast(len(list_filter(string_split_regex(text, '\s+'),
             x -> len(x) > 0)) as bigint) AS v
           FROM documents WHERE text IS NOT NULL),
         r AS (
           SELECT v, sum(v) OVER (ORDER BY v) AS cw, sum(v) OVER () AS tw
           FROM toks)
       SELECT
         min(CASE WHEN cw >= ceil(0.5 * tw) THEN v END) AS p50_len,
         min(CASE WHEN cw >= ceil(0.9 * tw) THEN v END) AS p90_len
       FROM r""")),
    // q252: reference-side equi-depth bounds (q250's rule), per-bin
    // counts both sides, integer TV term |n_ref*Nc - n_cur*Nr|
    QuerySpec("q252_dist_drift", q252_dist_drift, Oracle(distDriftOracleSql)),
    // q253: the STREAMING monitor's bounded drain over the same rows is
    // row-identical to the batch monitor — shared oracle (q51/q60
    // streaming-equals-batch pattern)
    QuerySpec("q253_stream_drift", q253_stream_drift, Oracle(distDriftOracleSql)),
    // q254/q255: directed shingle-set containment C(A,B) = |A∩B|/|A| ≥ 0.8
    // — the same oracle text for the O(n²) baseline and the indexed scale
    // path (exact prefix filtering must reproduce the baseline verbatim)
    QuerySpec("q254_containment_pairs", q254_containment_pairs, benched = false, check = Oracle(containmentOracleSql)),
    QuerySpec("q255_containment_indexed", q255_containment_indexed, Oracle(containmentOracleSql)),
    QuerySpec("q279_containment_gate", q279_containment_gate, Oracle(containmentGateOracleSql)),
    QuerySpec("q280_stream_containment_gate", q280_stream_containment_gate, Oracle(containmentGateOracleSql)),
    // q281: teacher gate (q277's C4 family) + 4 unrolled batch-perceptron
    // epochs in BIGINT + the held-out projection under the final weights
    QuerySpec("q281_quality_perceptron", q281_quality_perceptron, Oracle(perceptronOracleSql(epochs = 4))),
    // q283: the streaming drain of q281's scoring projection — stateless,
    // row-identical to batch by construction, so the oracle is q281's
    QuerySpec("q283_stream_quality_score", q283_stream_quality_score, Oracle(perceptronOracleSql(epochs = 4))),
    // q257: the batched distributed trainer must reproduce sequential BPE
    // verbatim — q219's 256-round unrolled oracle, reused textually
    QuerySpec("q257_bpe_distributed", q257_bpe_distributed, Oracle(bpeOracleSql(nMerges = 256))),
    // q258: all 18 repetition statistics recomputed relationally, then the
    // same integer cross-multiplied thresholds
    QuerySpec("q258_gopher_repetition", q258_gopher_repetition, Oracle(gopherRepetitionOracleSql)),
    // q259: the five corpus-prep stages replayed as one SQL chain —
    // gopher_pass predicate, benchmark-gram decontamination, directed
    // containment dedup (drop contained-in-larger / equal-size min-id
    // keeper), the q246 mixture filter, the q113 packing window
    QuerySpec("q259_corpus_prep", q259_corpus_prep, Oracle(
      """WITH g0 AS (SELECT doc_id, source, text,
             list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks,
             len(regexp_replace(text, '\s', '', 'g')) AS wc,
             len(text) - len(replace(text, '#', '')) AS hashes,
             len(regexp_extract_all(text, '\.\.\.|…')) AS ellipses,
             list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS lines
           FROM documents),
         q AS (SELECT doc_id, source, text, toks FROM g0 WHERE
           len(toks) BETWEEN 50 AND 100000
           AND len(toks) > 0 AND wc >= 3 * len(toks) AND wc <= 10 * len(toks)
           AND hashes * 10 <= len(toks) AND ellipses * 10 <= len(toks)
           AND len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) * 10 <= len(lines) * 9
           AND len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) * 10 <= len(lines) * 3
           AND len(list_filter(toks, w -> regexp_matches(w, '\p{L}'))) * 10 >= len(toks) * 8
           AND (CASE WHEN regexp_matches(text, '(?i)\bthe\b') THEN 1 ELSE 0 END +
                CASE WHEN regexp_matches(text, '(?i)\ba\b') THEN 1 ELSE 0 END) >= 2),
         bgr AS (SELECT DISTINCT gram FROM (
           SELECT unnest(list_distinct(list_transform(range(1, len(toks) - 3),
             i -> array_to_string(toks[i:i+4], ' ')))) AS gram
           FROM g0 WHERE doc_id % 10 = 0)),
         tgr AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 3),
             i -> array_to_string(toks[i:i+4], ' ')))) AS gram
           FROM q WHERE doc_id % 10 <> 0),
         decon AS (SELECT doc_id FROM (
             SELECT tg.doc_id, count(*) AS n_grams, count(b.gram) AS n_hits
             FROM tgr tg LEFT JOIN bgr b ON b.gram = tg.gram GROUP BY 1)
           WHERE n_hits * 2 < n_grams),
         dq AS (SELECT q.* FROM q JOIN decon USING (doc_id)),
         shs AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
             i -> array_to_string(toks[i:i+2], ' '))) AS sh
           FROM dq WHERE len(toks) >= 3),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             cast(len(a.sh) as bigint) AS n_a, cast(len(b.sh) as bigint) AS n_b
           FROM shs a JOIN shs b ON a.doc_id <> b.doc_id
           WHERE len(list_intersect(a.sh, b.sh)) * 10 >= len(a.sh) * 8),
         drops AS (SELECT DISTINCT id_a AS doc_id FROM pairs
           WHERE n_b > n_a OR (n_b = n_a AND id_b < id_a)),
         dd AS (SELECT dq.doc_id, dq.source, cast(len(dq.toks) as bigint) AS t
           FROM dq LEFT JOIN drops ON drops.doc_id = dq.doc_id WHERE drops.doc_id IS NULL),
         avail AS (SELECT source, cast(sum(t) as bigint) AS avail FROM dd GROUP BY 1),
         tgt(source, w) AS (VALUES ('src0', 50), ('src1', 8), ('src2', 4), ('src3', 2), ('src4', 1)),
         kept AS (SELECT k.doc_id, k.source, k.t
           FROM dd k JOIN avail a ON k.source = a.source JOIN tgt g ON k.source = g.source
           WHERE (((strpos('0123456789abcdef', substr(md5(cast(k.doc_id as varchar)), 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(md5(cast(k.doc_id as varchar)), 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(md5(cast(k.doc_id as varchar)), 3, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(cast(k.doc_id as varchar)), 4, 1)) - 1) * 1)) * a.avail * 65
             < cast(3000 as bigint) * g.w * 65536)
         SELECT doc_id, source, doc_id % 8 AS shard, t AS n_tok,
           cast(coalesce(sum(t) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096 as bigint) AS bin
         FROM kept""")),
    // q260/q261: unigram-LM tokenizer — seeding + 3 unrolled hard-EM
    // rounds with brute-force (all-cut-masks) Viterbi under the Q16
    // fixed-point log score; q261 re-segments under the final counts
    // and reassembles per document in word order
    QuerySpec("q260_unigram_vocab", q260_unigram_vocab, Oracle(
      s"""WITH ${unigramTrainCtes(maxPieceLen = 5, maxVocab = 128, rounds = 3, finalSeg = false)}
         SELECT piece, cnt FROM vocab3""")),
    QuerySpec("q261_unigram_segment", q261_unigram_segment, Oracle(
      s"""WITH ${unigramTrainCtes(maxPieceLen = 5, maxVocab = 128, rounds = 3, finalSeg = true)},
         wseg AS (SELECT w, array_to_string(pieces, '|') AS ws,
                         len(pieces)::BIGINT AS np FROM best3),
         docw AS (SELECT doc_id, u.w, u.ord
           FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                    x -> len(x) > 0) AS toks FROM documents),
                LATERAL (SELECT unnest(toks) AS w,
                                generate_subscripts(toks, 1) AS ord) u),
         agg AS (SELECT d.doc_id, sum(s.np)::BIGINT AS np,
                        array_to_string(list(s.ws ORDER BY d.ord), ' ') AS seg
                 FROM docw d JOIN wseg s ON s.w = d.w
                 GROUP BY d.doc_id)
         SELECT doc.doc_id, coalesce(a.np, 0)::BIGINT AS n_pieces,
                coalesce(a.seg, '') AS seg
         FROM documents doc LEFT JOIN agg a USING (doc_id)""")),
    // q262: piece importance from the brute-force mask table — alt = max
    // score over this word's masks NOT containing the piece; prune rank
    // over multis by (importance ASC, piece ASC), singles always kept
    QuerySpec("q262_unigram_prune", q262_unigram_prune, Oracle(
      s"""WITH ${unigramTrainCtes(maxPieceLen = 5, maxVocab = 128, rounds = 3, finalSeg = true)},
         bests AS (SELECT w, freq, score, pieces FROM (
             SELECT w, freq, score, pieces,
                    row_number() OVER (PARTITION BY w
                      ORDER BY score DESC, k ASC, m ASC) AS rn
             FROM scored3) WHERE rn = 1),
         used AS (SELECT DISTINCT b.w, b.freq, b.score AS best, u.p
                  FROM bests b, LATERAL (SELECT unnest(b.pieces) AS p) u
                  WHERE len(u.p) >= 2),
         alts AS (SELECT u.w, u.p, max(sc.score) AS alt
                  FROM (SELECT DISTINCT w, p FROM used) u
                  JOIN scored3 sc ON sc.w = u.w AND NOT list_contains(sc.pieces, u.p)
                  GROUP BY u.w, u.p),
         loss AS (SELECT u.p AS piece,
                         sum(u.freq * (u.best - a.alt))::BIGINT AS loss
                  FROM used u JOIN alts a ON a.w = u.w AND a.p = u.p
                  GROUP BY u.p),
         ranked AS (SELECT v.piece, v.cnt,
                           (CASE WHEN len(v.piece) >= 2
                                 THEN coalesce(l.loss, 0) ELSE 0 END)::BIGINT AS loss,
                           len(v.piece) >= 2 AS multi
                    FROM vocab3 v LEFT JOIN loss l ON l.piece = v.piece),
         pr AS (SELECT piece, row_number() OVER (ORDER BY loss ASC, piece ASC) AS rk
                FROM ranked WHERE multi)
         SELECT r.piece, r.cnt, r.loss,
                (NOT r.multi) OR p.rk > 48 AS kept
         FROM ranked r LEFT JOIN pr p ON p.piece = r.piece""")),
    // q278: soft-EM unigram — seed as q260, then 2 forward-backward
    // rounds replayed by brute-force mask enumeration with exact HUGEINT
    // path weights (Q12 lattice, Q16-floor posteriors, integer M-step)
    QuerySpec("q278_unigram_softem", q278_unigram_softem, Oracle(
      s"""WITH ${unigramSoftCtes(maxPieceLen = 5, maxVocab = 128, rounds = 2)}
         SELECT piece, cnt FROM svocab2""")),
    // q263: Kneser–Ney restated relationally — the pairs table is the
    // sufficient statistic (c1 = Σ c12, t1/r2/R = row counts over it);
    // with d = 3/4, num/den are the exact integer rational of each
    // P_KN(w2|w1) and the score is the same Q16 log recurrence q260 uses
    QuerySpec("q263_kneser_ney", q263_kneser_ney, Oracle(
      s"""WITH $knScoreCtes
         SELECT doc_id, n_bigrams, nlg2_q16, mean_nlg2_q16 FROM knsc""")),
    // q271: modified KN — count-of-count discounts D1/D2/D3 as exact
    // clamped rationals on Dden = (n1+2n2)·n2·n3, same Q16 log scoring
    QuerySpec("q271_modified_kn", q271_modified_kn, Oracle(
      s"""WITH $knBaseCtes,
         ctxm AS (SELECT w1, cast(sum(c12) as bigint) AS c1,
             cast(count(*) FILTER (c12 = 1) as bigint) AS m1,
             cast(count(*) FILTER (c12 = 2) as bigint) AS m2,
             cast(count(*) FILTER (c12 >= 3) as bigint) AS m3
           FROM c12t GROUP BY 1),
         cc AS (SELECT cast(count(*) FILTER (c12 = 1) as bigint) AS n1,
             cast(count(*) FILTER (c12 = 2) as bigint) AS n2,
             cast(count(*) FILTER (c12 = 3) as bigint) AS n3,
             cast(count(*) FILTER (c12 = 4) as bigint) AS n4
           FROM c12t),
         disc AS (SELECT n1 * n2 * n3 AS d1n,
             greatest((2 * (n1 + 2*n2) * n2 - 3 * n1 * n3) * n3, 1) AS d2n,
             greatest((3 * (n1 + 2*n2) * n3 - 4 * n1 * n4) * n2, 1) AS d3n,
             (n1 + 2*n2) * n2 * n3 AS dden
           FROM cc),
         terms AS (SELECT p.doc_id,
             CASE WHEN coalesce(x.c1, 0) > 0 THEN
               (coalesce(c12t.c12, 0) * disc.dden -
                 CASE WHEN coalesce(c12t.c12, 0) = 0 THEN 0
                      WHEN c12t.c12 = 1 THEN disc.d1n
                      WHEN c12t.c12 = 2 THEN disc.d2n
                      ELSE disc.d3n END) * (tot.r + tot.v)
               + (disc.d1n * x.m1 + disc.d2n * x.m2 + disc.d3n * x.m3)
                 * (coalesce(contn.r2, 0) + 1)
             ELSE coalesce(contn.r2, 0) + 1 END AS num,
             CASE WHEN coalesce(x.c1, 0) > 0
               THEN x.c1 * disc.dden * (tot.r + tot.v)
               ELSE tot.r + tot.v END AS den
           FROM pr p LEFT JOIN c12t ON p.w1 = c12t.w1 AND p.w2 = c12t.w2
             LEFT JOIN ctxm x ON p.w1 = x.w1
             LEFT JOIN contn ON p.w2 = contn.w2, tot, disc
           WHERE NOT p.is_train),
         nl AS (SELECT doc_id,
             ${unigramFlogSql("den")} - ${unigramFlogSql("num")} AS t
           FROM terms)
         SELECT doc_id, cast(count(*) as bigint) AS n_bigrams,
           cast(sum(t) as bigint) AS nlg2_q16,
           cast(sum(t) as bigint) // cast(count(*) as bigint) AS mean_nlg2_q16
         FROM nl GROUP BY 1""")),
    // q266: the q263 scores bucketed CCNet-style — rank thirds within
    // each language, rank = (mean score, doc_id), all-integer
    QuerySpec("q266_ccnet_buckets", q266_ccnet_buckets, Oracle(
      s"""WITH $knScoreCtes,
         sl AS (SELECT k.doc_id, doc.lang, k.mean_nlg2_q16,
             row_number() OVER (PARTITION BY doc.lang
               ORDER BY k.mean_nlg2_q16, k.doc_id) AS rn,
             count(*) OVER (PARTITION BY doc.lang) AS n
           FROM knsc k JOIN documents doc ON doc.doc_id = k.doc_id)
         SELECT doc_id, lang, mean_nlg2_q16,
           CASE WHEN rn * 3 <= n THEN 'head'
                WHEN rn * 3 <= 2 * n THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM sl""")),
    // q256: each Gopher rule restated relationally (integer/rational
    // comparisons only), composite = conjunction
    QuerySpec("q256_gopher_rules", q256_gopher_rules, Oracle(
      """WITH g AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS ws,
             len(regexp_replace(text, '\s', '', 'g')) AS wc,
             len(text) - len(replace(text, '#', '')) AS hashes,
             len(regexp_extract_all(text, '\.\.\.|…')) AS ellipses,
             list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS lines
           FROM documents),
         f AS (
           SELECT doc_id,
             len(ws) BETWEEN 50 AND 100000 AS ok_word_count,
             len(ws) > 0 AND wc >= 3 * len(ws) AND wc <= 10 * len(ws) AS ok_mean_word_len,
             hashes * 10 <= len(ws) AND ellipses * 10 <= len(ws) AS ok_symbol_ratio,
             len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) * 10
               <= len(lines) * 9 AS ok_bullet_lines,
             len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) * 10
               <= len(lines) * 3 AS ok_ellipsis_lines,
             len(list_filter(ws, w -> regexp_matches(w, '\p{L}'))) * 10
               >= len(ws) * 8 AS ok_alpha_words,
             (CASE WHEN regexp_matches(text, '(?i)\bthe\b') THEN 1 ELSE 0 END +
              CASE WHEN regexp_matches(text, '(?i)\ba\b') THEN 1 ELSE 0 END) >= 2 AS ok_stopwords
           FROM g)
         SELECT doc_id, ok_word_count, ok_mean_word_len, ok_symbol_ratio,
           ok_bullet_lines, ok_ellipsis_lines, ok_alpha_words, ok_stopwords,
           (ok_word_count AND ok_mean_word_len AND ok_symbol_ratio AND ok_bullet_lines
            AND ok_ellipsis_lines AND ok_alpha_words AND ok_stopwords) AS gopher_pass
         FROM f""")),
    // q230: 3 unrolled peels of the degree-<80 drop over the symmetrized
    // co-purchase edges
    QuerySpec("q230_kcore", q230_kcore, Oracle(kcoreOracleSql(k = 80, rounds = 3))),
    // q231: 2 unrolled synchronous LPA rounds, min-label ties via the
    // (count DESC, label ASC) window
    QuerySpec("q231_label_prop", q231_label_prop, Oracle(lpaOracleSql(rounds = 2))),
    // q232: q218's shard/edge chain + the q114 md5 split rule — the
    // cross-split near-dup pair set replayed exactly (id-sum digest)
    QuerySpec("q232_split_leakage", q232_split_leakage, Oracle(
      """WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> cast(round(cast(x as double) * 1024) as bigint)) AS qv
           FROM embeddings),
         c AS (SELECT vec_id AS centroid_id, qv AS cv FROM q ORDER BY vec_id LIMIT 8),
         d AS (
           SELECT q.vec_id, c.centroid_id, q.qv,
             cast(list_sum(list_transform(range(0, len(q.qv)),
               j -> (q.qv[j+1] - c.cv[j+1]) * (q.qv[j+1] - c.cv[j+1]))) as bigint) AS sqd
           FROM q CROSS JOIN c),
         a AS (
           SELECT vec_id, centroid_id, qv,
             cast(list_sum(list_transform(qv, x -> x * x)) as bigint) AS nr
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sqd, centroid_id) AS rn
                 FROM d)
           WHERE rn = 1),
         p AS (
           SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.nr AS na, y.nr AS nb,
             cast(list_sum(list_transform(range(0, len(x.qv)),
               j -> x.qv[j+1] * y.qv[j+1])) as bigint) AS dot
           FROM a x JOIN a y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id),
         e AS (SELECT id_a, id_b FROM p WHERE dot > 0 AND dot * dot * 400 >= na * nb * 81),
         sp AS (
           SELECT vec_id,
             CASE WHEN substring(md5(cast(vec_id as varchar)), 1, 4) < 'cccd'
                  THEN 'train' ELSE 'test' END AS split
           FROM embeddings)
         SELECT least(sa.split, sb.split) AS split_lo,
           greatest(sa.split, sb.split) AS split_hi,
           cast(count(*) as bigint) AS n_pairs,
           cast(sum(e.id_a + e.id_b) as bigint) AS sum_ids
         FROM e JOIN sp sa ON sa.vec_id = e.id_a JOIN sp sb ON sb.vec_id = e.id_b
         GROUP BY 1, 2""")),
    // q234: the unrolled Hilbert bit walk replayed level by level
    QuerySpec("q234_hilbert_layout", q234_hilbert_layout, Oracle(hilbertOracleSql(bits = 10))),
    // q235: the whole count-min sketch rebuilt — md5-affine cells, min-row
    // estimates, one-sided overcounts
    QuerySpec("q235_countmin", q235_countmin, Oracle {
      val h = detHexHashSql("cast(user_id as varchar)", 7)
      val perm = (hc: String) =>
        s"((r.row * 2 + 1) * 65537 * $hc + r.row * 40503 + 7) % 268435399 % 64"
      s"""WITH ev AS (SELECT user_id, $h AS h FROM events),
         rws AS (SELECT unnest(range(0, 4)) AS row),
         cells AS (
           SELECT r.row AS row, ${perm("e.h")} AS col, cast(count(*) as bigint) AS cnt
           FROM ev e CROSS JOIN rws r GROUP BY 1, 2),
         keys AS (SELECT DISTINCT user_id, h FROM ev),
         est AS (
           SELECT k.user_id, min(c.cnt) AS est
           FROM keys k CROSS JOIN rws r
           JOIN cells c ON c.row = r.row AND c.col = ${perm("k.h")}
           GROUP BY 1),
         exact AS (SELECT user_id, cast(count(*) as bigint) AS n_exact
                   FROM events GROUP BY 1)
         SELECT e.user_id, e.est, x.n_exact, e.est - x.n_exact AS overcount
         FROM est e JOIN exact x USING (user_id)"""
    }),
    // q236: exact lower-median / MAD (the q119 rank rule) and the integer
    // |x − med| > 3·mad flag, replayed per group
    QuerySpec("q236_mad_outliers", q236_mad_outliers, Oracle(
      """WITH li AS (SELECT l_returnflag AS returnflag,
             cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint) AS cents
           FROM lineitem),
         med AS (
           SELECT returnflag, max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS med
           FROM (SELECT returnflag, cents,
                   row_number() OVER (PARTITION BY returnflag ORDER BY cents) AS rn,
                   count(*) OVER (PARTITION BY returnflag) AS n
                 FROM li)
           GROUP BY 1),
         wm AS (SELECT li.returnflag, li.cents, m.med,
                  abs(li.cents - m.med) AS ad
                FROM li JOIN med m USING (returnflag)),
         mad AS (
           SELECT returnflag, max(CASE WHEN rn = (n + 1) // 2 THEN ad END) AS mad
           FROM (SELECT returnflag, ad,
                   row_number() OVER (PARTITION BY returnflag ORDER BY ad) AS rn,
                   count(*) OVER (PARTITION BY returnflag) AS n
                 FROM wm)
           GROUP BY 1)
         SELECT w.returnflag, cast(count(*) as bigint) AS n,
           max(w.med) AS med_cents, max(d.mad) AS mad_cents,
           cast(sum(CASE WHEN w.ad > 3 * d.mad THEN 1 ELSE 0 END) as bigint) AS n_outliers,
           cast(coalesce(sum(CASE WHEN w.ad > 3 * d.mad THEN w.cents END), 0) as bigint) AS sum_outlier_cents
         FROM wm w JOIN mad d USING (returnflag)
         GROUP BY 1""")),
    // q237: hashed-unigram DSIR — counts, totals and every floor-log2
    // (len(bin(x)) − 1) replayed, so the scores are hash-exact
    QuerySpec("q237_dsir_scores", q237_dsir_scores, Oracle {
      val h = detHexHashSql("w", 7)
      s"""WITH tk AS (
           SELECT doc_id, lang = 'en' AS t, ($h) % 256 AS b
           FROM (SELECT doc_id, lang,
                   unnest(list_filter(string_split_regex(text, '\\s+'),
                     x -> len(x) > 0)) AS w
                 FROM documents)),
         counts AS (
           SELECT b, cast(sum(CASE WHEN t THEN 1 ELSE 0 END) + 1 as bigint) AS tb,
             cast(count(*) + 1 as bigint) AS rb
           FROM tk GROUP BY 1),
         tot AS (SELECT cast(sum(tb) as bigint) AS tt, cast(sum(rb) as bigint) AS rr
                 FROM counts)
         SELECT tk.doc_id,
           cast(sum((len(bin(c.tb * tot.rr)) - 1) - (len(bin(c.rb * tot.tt)) - 1)) as bigint) AS score
         FROM tk JOIN counts c USING (b) CROSS JOIN tot
         GROUP BY 1"""
    }),
    // q238: per-doc HRW argmax replayed as a (md5 DESC, w DESC) window
    QuerySpec("q238_rendezvous_shard", q238_rendezvous_shard, Oracle(
      """WITH a AS (
           SELECT doc_id, w,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY md5(cast(doc_id as varchar) || ':' || cast(w as varchar)) DESC,
                 w DESC) AS rn
           FROM documents CROSS JOIN (SELECT unnest(range(0, 8)) AS w))
         SELECT cast(w as bigint) AS owner, cast(count(*) as bigint) AS n_docs,
           cast(sum(doc_id) as bigint) AS sum_ids
         FROM a WHERE rn = 1 GROUP BY 1""")),
    // q239: 3 unrolled frontier expansions — per-vertex integer hop minima
    QuerySpec("q239_bfs_layers", q239_bfs_layers, Oracle(bfsOracleSql(rounds = 3))),
    // q240: n²·cov / n²·var integer rational per segment — centered days ×
    // price-in-thousands keeps every product in int64
    QuerySpec("q240_trend_ols", q240_trend_ols, Oracle(
      """WITH t AS (
           SELECT c.c_mktsegment AS segment,
             cast(date_diff('day', DATE '1970-01-01', o.o_orderdate) - 9300 as bigint) AS x,
             cast(cast(o.o_totalprice as decimal(18,2)) * 100 as bigint) // 100000 AS y
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey)
         SELECT segment, cast(count(*) as bigint) AS n,
           cast(count(*) * sum(x * y) - sum(x) * sum(y) as bigint) AS slope_num,
           cast(count(*) * sum(x * x) - sum(x) * sum(x) as bigint) AS slope_den
         FROM t GROUP BY 1""")),
    // q241: prefix-sum CUSUM per user — max|n·S_i − i·S_n| and the
    // earliest argmax index, explicit ROWS frame
    QuerySpec("q241_cusum", q241_cusum, Oracle(
      """WITH t AS (
           SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
             sum(cast(cast(value as decimal(18,4)) * 10000 as bigint)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
             count(*) OVER (PARTITION BY user_id) AS n,
             sum(cast(cast(value as decimal(18,4)) * 10000 as bigint)) OVER
               (PARTITION BY user_id) AS tot
           FROM events),
         d AS (SELECT user_id, n, abs(n * s - i * tot) AS t_i, i,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY abs(n * s - i * tot) DESC, i ASC) AS rn
               FROM t)
         SELECT user_id, cast(n as bigint) AS n, cast(t_i as bigint) AS cusum_stat,
           cast(i as bigint) AS cusum_at
         FROM d WHERE rn = 1""")),
    // q233: per-dim integer mean-shift numerators between label-0 and rest
    QuerySpec("q233_drift_shift", q233_drift_shift, Oracle(
      """WITH qz AS (SELECT label, list_transform(embedding,
             x -> cast(round(cast(x as double) * 1024) as bigint)) AS qv
           FROM embeddings),
         dims AS (SELECT unnest(range(0, (SELECT max(len(qv)) FROM qz))) AS d)
         SELECT cast(d.d as bigint) AS d,
           cast(sum(CASE WHEN qz.label = 0 THEN 1 ELSE 0 END) as bigint) AS n_a,
           cast(sum(CASE WHEN qz.label = 0 THEN 0 ELSE 1 END) as bigint) AS n_b,
           cast(sum(CASE WHEN qz.label = 0 THEN 0 ELSE 1 END)
                  * sum(CASE WHEN qz.label = 0 THEN qz.qv[d.d + 1] ELSE 0 END)
                - sum(CASE WHEN qz.label = 0 THEN 1 ELSE 0 END)
                  * sum(CASE WHEN qz.label = 0 THEN 0 ELSE qz.qv[d.d + 1] END) as bigint) AS shift_num
         FROM qz CROSS JOIN dims d
         GROUP BY 1""")),
    // q218: shard assignment, within-shard integer cosine-threshold edges
    // (dot > 0 ∧ dot²·400 ≥ |a|²·|b|²·81 ⟺ cos ≥ 0.45), recursive-CTE
    // connected components, min-id representative per duplicate group
    QuerySpec("q218_semdedup", q218_semdedup, Oracle(
      """WITH RECURSIVE q AS (
           SELECT vec_id, list_transform(embedding,
             x -> cast(round(cast(x as double) * 1024) as bigint)) AS qv
           FROM embeddings),
         c AS (SELECT vec_id AS centroid_id, qv AS cv FROM q ORDER BY vec_id LIMIT 8),
         d AS (
           SELECT q.vec_id, c.centroid_id, q.qv,
             cast(list_sum(list_transform(range(0, len(q.qv)),
               j -> (q.qv[j+1] - c.cv[j+1]) * (q.qv[j+1] - c.cv[j+1]))) as bigint) AS sqd
           FROM q CROSS JOIN c),
         a AS (
           SELECT vec_id, centroid_id, qv,
             cast(list_sum(list_transform(qv, x -> x * x)) as bigint) AS nr
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sqd, centroid_id) AS rn
                 FROM d)
           WHERE rn = 1),
         p AS (
           SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.nr AS na, y.nr AS nb,
             cast(list_sum(list_transform(range(0, len(x.qv)),
               j -> x.qv[j+1] * y.qv[j+1])) as bigint) AS dot
           FROM a x JOIN a y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id),
         e AS (SELECT id_a, id_b FROM p WHERE dot > 0 AND dot * dot * 400 >= na * nb * 81),
         edges AS (SELECT id_a AS src, id_b AS dst FROM e UNION SELECT id_b, id_a FROM e),
         walk(id, lab) AS (
           SELECT vec_id, vec_id FROM a
           UNION
           SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id),
         lab AS (SELECT id, min(lab) AS lab FROM walk GROUP BY id)
         SELECT a.centroid_id, cast(count(*) as bigint) AS n_vecs,
           cast(sum(CASE WHEN l.lab = a.vec_id THEN 1 ELSE 0 END) as bigint) AS n_kept,
           cast(sum(CASE WHEN l.lab = a.vec_id THEN a.vec_id END) as bigint) AS sum_kept
         FROM a JOIN lab l ON a.vec_id = l.id
         GROUP BY 1""")),
    // q214: q210's proven round(x*1024) quantization; exact integer
    // distances; ties to the smaller centroid id
    QuerySpec("q214_centroid_shard", q214_centroid_shard, Oracle(
      """WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> cast(round(cast(x as double) * 1024) as bigint)) AS qv
           FROM embeddings),
         c AS (SELECT vec_id AS centroid_id, qv AS cv FROM q ORDER BY vec_id LIMIT 8),
         d AS (
           SELECT q.vec_id, c.centroid_id,
             cast(list_sum(list_transform(range(0, len(qv)),
               j -> (qv[j+1] - cv[j+1]) * (qv[j+1] - cv[j+1]))) as bigint) AS sqd
           FROM q CROSS JOIN c),
         a AS (
           SELECT vec_id, centroid_id, sqd,
             row_number() OVER (PARTITION BY vec_id ORDER BY sqd, centroid_id) AS rn
           FROM d)
         SELECT centroid_id, cast(count(*) as bigint) AS n_vecs,
           cast(sum(sqd) as bigint) AS sum_sqdist,
           min(vec_id) AS min_vec, max(vec_id) AS max_vec
         FROM a WHERE rn = 1 GROUP BY 1""")),
    // q276: the strip replayed from the DEFINITION on materialized
    // 8-token slices - full windows only, first occurrence by (doc, wi),
    // positional coverage union, order-preserving rebuild, md5 pin
    QuerySpec("q276_exactsubstr_strip", q276_exactsubstr_strip, Oracle(
      """WITH d AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS l
           FROM documents),
         p AS (SELECT doc_id, cast(wi as bigint) AS wi, list_slice(l, wi, wi + 7) AS win
           FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS wi FROM d)
           WHERE wi + 7 <= len(l)),
         rm AS (SELECT doc_id, wi FROM (
             SELECT doc_id, wi, row_number() OVER (PARTITION BY win ORDER BY doc_id, wi) AS rn
             FROM p) WHERE rn > 1),
         cov AS (SELECT DISTINCT doc_id, wi + o AS pos
           FROM rm, (SELECT unnest(range(8)) AS o)),
         tok AS (SELECT doc_id, cast(pos as bigint) AS pos, l[pos] AS tok
           FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS pos FROM d)),
         kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
           LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
           WHERE c.doc_id IS NULL),
         o AS (SELECT doc_id, cast(count(*) as bigint) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id, cast(len(d.l) as bigint) AS n_tokens,
           cast(coalesce(o.n_kept, 0) as bigint) AS n_kept,
           md5(coalesce(o.clean_text, '')) AS clean_md5
         FROM d LEFT JOIN o ON d.doc_id = o.doc_id""")),
    // q282: the cross-corpus strip from the DEFINITION — train (odd)
    // windows whose 8-token slice occurs among the bench (even) side's
    // full windows are removed wholesale (no first-kept), positional
    // coverage union, order-preserving rebuild of the train half only
    QuerySpec("q282_decontaminate_strip", q282_decontaminate_strip, Oracle(
      """WITH d AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS l
           FROM documents),
         p AS (SELECT doc_id, cast(wi as bigint) AS wi, list_slice(l, wi, wi + 7) AS win
           FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS wi FROM d)
           WHERE wi + 7 <= len(l)),
         bk AS (SELECT DISTINCT win FROM p WHERE doc_id % 2 = 0),
         rm AS (SELECT doc_id, wi FROM p JOIN bk USING (win) WHERE doc_id % 2 = 1),
         cov AS (SELECT DISTINCT doc_id, wi + o AS pos
           FROM rm, (SELECT unnest(range(8)) AS o)),
         tok AS (SELECT doc_id, cast(pos as bigint) AS pos, l[pos] AS tok
           FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS pos FROM d)
           WHERE doc_id % 2 = 1),
         kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
           LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
           WHERE c.doc_id IS NULL),
         o AS (SELECT doc_id, cast(count(*) as bigint) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id, cast(len(d.l) as bigint) AS n_tokens,
           cast(coalesce(o.n_kept, 0) as bigint) AS n_kept,
           md5(coalesce(o.clean_text, '')) AS clean_md5
         FROM d LEFT JOIN o ON d.doc_id = o.doc_id
         WHERE d.doc_id % 2 = 1""")),
    // q275: the near-dup fixture's dHash restated relationally (base bit =
    // bit r·8+c of k·2654435761, variant v flips (r, (k+r) mod 8) for
    // r < v) and the clusters by construction (class = doc mod 41; within
    // ≤3 Hamming, cross ≥8, threshold 3 → clusters ARE the classes). The
    // engine only matches by decoding three container formats, computing
    // the gray block-mean grid, deriving dHash, and banding correctly.
    QuerySpec("q275_image_neardup", q275_image_neardup, Oracle(
      """WITH g AS (
           SELECT doc_id, doc_id % 41 AS k, (doc_id // 41) % 4 AS v FROM documents
         ),
         bits AS (
           SELECT doc_id, r, c,
             CASE WHEN ((k * 2654435761 >> (r*8 + c)) & 1)
                       + (CASE WHEN r < v AND c = (k + r) % 8 THEN 1 ELSE 0 END) = 1
                  THEN 1 ELSE 0 END AS bit
           FROM g, (SELECT unnest(range(8)) AS r), (SELECT unnest(range(8)) AS c)
         ),
         h AS (
           SELECT doc_id,
             cast(sum(CASE WHEN bit = 1 AND r*8+c >= 32
                           THEN (1::BIGINT << (r*8+c-32)) ELSE 0 END) as bigint) AS dhash_hi,
             cast(sum(CASE WHEN bit = 1 AND r*8+c < 32
                           THEN (1::BIGINT << (r*8+c)) ELSE 0 END) as bigint) AS dhash_lo
           FROM bits GROUP BY doc_id
         ),
         cl AS (
           SELECT doc_id,
             cast(min(doc_id) OVER (PARTITION BY doc_id % 41) as bigint) AS cluster_id,
             cast(count(*) OVER (PARTITION BY doc_id % 41) as bigint) AS cluster_size
           FROM documents
         )
         SELECT h.doc_id, dhash_hi, dhash_lo, cluster_id, cluster_size
         FROM h JOIN cl ON h.doc_id = cl.doc_id""")),

    // q284: the crop/rescale fixture re-derived relationally — inverse-DCT
    // cells from the closed form, the crop re-grid as positional means,
    // forward DCT against the same 256 Q10 literals (constants shared
    // with Multimodal.dctQ10; code not), sign bits, clusters-by-class
    // (within-class Hamming ≤3, cross ≥10, threshold 3 ⇒ clusters ARE
    // the classes). The engine only matches by decoding two container
    // formats at three raster sizes, block-meaning 32×32, running the
    // integer DCT, and banding correctly.
    QuerySpec("q284_image_phash_neardup", q284_image_phash_neardup, Oracle(q284OracleSql)),

    // q285: the clip fixture restated relationally — first-extracted-frame
    // fingerprint from the injective closed form ((k·6+f₀+1)·2654435761,
    // f₀ = 1 for the trimmed variant), frame counts by variant, clusters
    // by class (cross-class clips share 0 fingerprints; within-class ≥ 5
    // of 6; threshold 4 ⇒ clusters ARE the classes). The engine only
    // matches by decoding GIF AND H.264 rasters, hashing every frame,
    // and counting shared fingerprints over distinct signatures.
    QuerySpec("q285_video_neardup", q285_video_neardup, Oracle(
      """WITH dv AS (
           SELECT doc_id, doc_id % 41 AS k, (doc_id // 41) % 3 AS v FROM documents
         ),
         f AS (
           SELECT doc_id, k,
             CASE WHEN v = 2 THEN 5 ELSE 6 END AS nf,
             (k*6 + CASE WHEN v = 2 THEN 1 ELSE 0 END + 1) * 2654435761 AS fh
           FROM dv
         ),
         cl AS (
           SELECT doc_id,
             cast(min(doc_id) OVER (PARTITION BY doc_id % 41) as bigint) AS cluster_id,
             cast(count(*) OVER (PARTITION BY doc_id % 41) as bigint) AS cluster_size
           FROM documents
         )
         SELECT f.doc_id, cast(f.nf as bigint) AS n_frames,
           cast(fh >> 32 as bigint) AS f0hash_hi,
           cast(fh & 4294967295 as bigint) AS f0hash_lo,
           cl.cluster_id, cl.cluster_size
         FROM f JOIN cl ON f.doc_id = cl.doc_id""")),

    // q286: the audio fixture restated relationally — band bits from the
    // xor-folded multiplicative hash, fingerprint bits as amp² comparisons
    // (the construction's ≥2.25× margins make energy signs EQUAL amp
    // signs), format code by variant, clusters by class. The engine only
    // matches by decoding PCM16 AND μ-law WAVs, windowing, running the
    // integer band transform, and comparing real energies.
    QuerySpec("q286_audio_neardup", q286_audio_neardup, Oracle(audioNeardupOracleSql)),
    // streaming drain of q286's fingerprint+lookup — stateless,
    // AvailableNow: row-identical to the batch query, oracle shared
    QuerySpec("q291_stream_audio_gate", q291_stream_audio_gate, Oracle(audioNeardupOracleSql)),
  )

  private def audioNeardupOracleSql: String =
      """WITH dv AS (
           SELECT doc_id, doc_id % 41 AS k, (doc_id // 41) % 3 AS v FROM documents
         ),
         kv AS (SELECT DISTINCT k, v FROM dv),
         wu AS (
           SELECT w.i AS w, u.i AS u
           FROM (SELECT unnest(range(9)) AS i) w, (SELECT unnest(range(8)) AS i) u
         ),
         rb AS (
           SELECT kv.k, kv.v, wu.w, wu.u,
             CASE WHEN kv.v = 2 AND wu.w = 8 AND wu.u < 2 THEN 1 - rbit ELSE rbit END AS b
           FROM kv, wu,
             LATERAL (SELECT ((kv.k*72 + wu.w*8 + wu.u + 1) * 2654435761) & 2147483647 AS h31) t1,
             LATERAL (SELECT ((xor(t1.h31, t1.h31 >> 15) * 2246822519) >> 43) & 1 AS rbit) t2
         ),
         amp AS (SELECT k, v, w, u, 2*b + (w % 2) AS a FROM rb),
         bits AS (
           SELECT cur.k, cur.v, cur.w, cur.u,
             CASE WHEN cur.a * cur.a > prv.a * prv.a THEN 1 ELSE 0 END AS bit
           FROM amp cur JOIN amp prv
             ON prv.k = cur.k AND prv.v = cur.v AND prv.u = cur.u AND prv.w = cur.w - 1
           WHERE cur.w >= 1
         ),
         hsh AS (
           SELECT k, v,
             cast(sum(CASE WHEN bit = 1 AND (w-1)*8+u >= 32
                           THEN (1::BIGINT << ((w-1)*8+u-32)) ELSE 0 END) as bigint) AS afp_hi,
             cast(sum(CASE WHEN bit = 1 AND (w-1)*8+u < 32
                           THEN (1::BIGINT << ((w-1)*8+u)) ELSE 0 END) as bigint) AS afp_lo
           FROM bits GROUP BY k, v
         ),
         cl AS (
           SELECT doc_id,
             cast(min(doc_id) OVER (PARTITION BY doc_id % 41) as bigint) AS cluster_id,
             cast(count(*) OVER (PARTITION BY doc_id % 41) as bigint) AS cluster_size
           FROM documents
         )
         SELECT dv.doc_id,
           cast(CASE WHEN dv.v = 1 THEN 7 ELSE 1 END as int) AS fmt,
           h.afp_hi, h.afp_lo, cl.cluster_id, cl.cluster_size
         FROM dv JOIN hsh h ON h.k = dv.k AND h.v = dv.v
         JOIN cl ON cl.doc_id = dv.doc_id"""

  private def q284OracleSql: String = {
    val tt = (for (u <- 0 until 8; n <- 0 until 32)
      yield "(" + u + "," + n + "," + graft.multimodal.Multimodal.dctQ10(u)(n) + ")").mkString(",")
    """WITH tt(u, n, c) AS (VALUES """ + tt + """),
       axis AS (SELECT unnest(range(32)) AS i),
       uv AS (
         SELECT a.i AS u, b.i AS v FROM axis a, axis b
         WHERE a.i < 8 AND b.i < 8 AND NOT (a.i = 0 AND b.i = 0)
       ),
       ks AS (SELECT unnest(range(41)) AS k),
       sgn AS (
         SELECT k, u, v,
           CASE WHEN ((k * 2654435761) >> (u*8 + v)) & 1 = 1 THEN 1 ELSE -1 END AS s
         FROM ks, uv
       ),
       cells AS (
         SELECT k, ty.n AS gy, tx.n AS gx,
           GREATEST(0, LEAST(255, 128 + CAST(sum(s * ty.c * tx.c) // 131072 AS BIGINT))) AS val
         FROM sgn
         JOIN tt ty ON ty.u = sgn.u
         JOIN tt tx ON tx.u = sgn.v
         GROUP BY k, ty.n, tx.n
       ),
       px2 AS (
         SELECT c.k, y.i58 AS y, x.i58 AS x, c.val
         FROM (SELECT unnest(range(58)) AS i58) y,
              (SELECT unnest(range(58)) AS i58) x,
              cells c
         WHERE c.gy = (y.i58 + 3) // 2 AND c.gx = (x.i58 + 3) // 2
       ),
       g2 AS (
         SELECT p.k, cy.i AS gy, cx.i AS gx, CAST(sum(p.val) // count(*) AS BIGINT) AS val
         FROM px2 p, axis cy, axis cx
         WHERE p.y >= (cy.i * 58) // 32 AND p.y < ((cy.i + 1) * 58) // 32
           AND p.x >= (cx.i * 58) // 32 AND p.x < ((cx.i + 1) * 58) // 32
         GROUP BY p.k, cy.i, cx.i
       ),
       grids AS (
         SELECT k, 0 AS var, gy, gx, val FROM cells
         UNION ALL
         SELECT k, 2 AS var, gy, gx, val FROM g2
       ),
       coef AS (
         SELECT g.k, g.var, uv.u, uv.v, sum(g.val * ty.c * tx.c) AS f
         FROM grids g
         JOIN uv ON true
         JOIN tt ty ON ty.u = uv.u AND ty.n = g.gy
         JOIN tt tx ON tx.u = uv.v AND tx.n = g.gx
         GROUP BY g.k, g.var, uv.u, uv.v
       ),
       hsh AS (
         SELECT k, var,
           cast(sum(CASE WHEN f > 0 AND u*8+v >= 32 THEN (1::BIGINT << (u*8+v-32)) ELSE 0 END) as bigint) AS phash_hi,
           cast(sum(CASE WHEN f > 0 AND u*8+v < 32 THEN (1::BIGINT << (u*8+v)) ELSE 0 END) as bigint) AS phash_lo
         FROM coef GROUP BY k, var
       ),
       dv AS (
         SELECT doc_id, doc_id % 41 AS k,
           CASE WHEN (doc_id // 41) % 3 = 2 THEN 2 ELSE 0 END AS var
         FROM documents
       ),
       cl AS (
         SELECT doc_id,
           cast(min(doc_id) OVER (PARTITION BY doc_id % 41) as bigint) AS cluster_id,
           cast(count(*) OVER (PARTITION BY doc_id % 41) as bigint) AS cluster_size
         FROM documents
       )
       SELECT dv.doc_id, h.phash_hi, h.phash_lo, cl.cluster_id, cl.cluster_size
       FROM dv JOIN hsh h ON h.k = dv.k AND h.var = dv.var
       JOIN cl ON cl.doc_id = dv.doc_id"""
  }

  /** q219's oracle: `nMerges` unrolled BPE iterations over the
    * marker-wrapped symbol encoding (each symbol as chr(1)·sym·chr(2) —
    * Bpe.scala's B/E markers). Each iteration: adjacent-pair weighted
    * count over the vocab, (count DESC, pair ASC) argmax, then ONE literal
    * `replace` of the wrapped pair — left-to-right non-overlapping in both
    * engines, and exactly textbook-greedy because adjacent pairs share no
    * characters in this encoding. */
  /** The shared BPE-training CTE chain (v0, then p/b/v per iteration) —
    * b$t is iteration t's chosen merge as a 1-row (pair, mrg, c). */
  /** Shared CTE chain for q264/q265: the WordPiece merge loop unrolled —
    * same wrapped-word encoding as [[bpeTrainCtes]], but v0 carries the
    * ##-continuation prefixes, the per-round argmax is the exact rational
    * likelihood score (HUGEINT cross-multiplied NOT-EXISTS self-join, the
    * relational form of the BigInt compare), and the fused symbol strips
    * the right piece's ## prefix. pc/b/v MATERIALIZED: b references pc
    * twice and v chains, so plain-CTE inlining would blow up
    * exponentially across rounds. */


  /** q268's oracle, shared with q270's streaming drain (row-identical by
    * construction — stateless projections). */
  private def c4RulesOracleSql: String =
    ("""WITH """ + c4PageCtes + """,
         fl AS (SELECT doc_id, page,
             list_filter(string_split(page, chr(10)), l -> len(trim(l)) > 0) AS lines
           FROM pg),
         kp AS (SELECT doc_id, page, lines,
             list_filter(lines, l -> regexp_matches(rtrim(l), '[.!?"]$')
               AND len(list_filter(string_split_regex(l, '\s+'), w -> len(w) > 0)) >= 5
               AND NOT contains(lower(l), 'javascript')) AS kept
           FROM fl),
         cl AS (SELECT doc_id, page, lines, kept,
             -- array_to_string([]) is NULL in this engine; Spark's
             -- array_join gives '' — coalesce to match
             coalesce(array_to_string(kept, chr(10)), '') AS clean
           FROM kp)
         SELECT doc_id,
           cast(len(lines) as bigint) AS n_lines,
           cast(len(kept) as bigint) AS n_kept,
           cast(len(regexp_extract_all(clean, '[.!?]')) as bigint) AS n_sentences,
           contains(lower(page), 'lorem ipsum') AS has_lorem,
           contains(page, '{') AS has_brace,
           (len(regexp_extract_all(clean, '[.!?]')) >= 3
             AND NOT contains(lower(page), 'lorem ipsum') AND NOT contains(page, '{')) AS c4_pass,
           md5(clean) AS clean_md5
         FROM cl""")

  /** Shared CTE core for q268/q269: the deterministic structured-page
    * fixture rebuilt relationally — `pg`(doc_id, page). Mirrors
    * [[c4PageFixture]] exactly (line width, punctuation cycle,
    * injections). */
  private def c4PageCtes: String =
    """s AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks,
             (doc_id % 8) + 3 AS k
           FROM documents),
         b AS (SELECT doc_id, toks, k, (len(toks) + k - 1) // k AS nl FROM s),
         pg AS (SELECT doc_id,
             array_to_string(
               (CASE WHEN nl > 0 THEN list_transform(range(0, nl), i ->
                   array_to_string(list_slice(toks, i*k + 1, least((i+1)*k, len(toks))), ' ')
                   || (['.', '!', '', '?'])[((i + doc_id) % 4) + 1])
                 ELSE [] END)
               || list_filter([
                   CASE WHEN doc_id % 13 = 0 THEN 'Lorem ipsum dolor sit amet.' ELSE '' END,
                   CASE WHEN doc_id % 17 = 0 THEN 'please enable javascript to continue browsing.' ELSE '' END,
                   CASE WHEN doc_id % 19 = 0 THEN 'body { display: none }' ELSE '' END,
                   CASE WHEN doc_id % 7 = 0 THEN 'too short here.' ELSE '' END],
                 x -> len(x) > 0),
               chr(10)) AS page
           FROM b)"""

  /** q281's oracle: the C4 teacher family (q277's CTE text), the 7
    * integer feature columns, then `epochs` UNROLLED batch-perceptron
    * rounds — each epoch one misclassified-sum row eN and the updated
    * weight row wN, all BIGINT — and the held-out scores under the final
    * weights. Plain-string concatenation (no interpolation) wherever a
    * regex backslash appears. */
  private def perceptronDotOf(p: String, wp: String): String =
    (0 to 6).map(i => s"$p.f$i * $wp.w$i").mkString(" + ")

  private def perceptronOracleSql(epochs: Int): String = {
    val fs = 0 to 6
    def dotOf(p: String, wp: String): String = perceptronDotOf(p, wp)
    val epochCtes = (1 to epochs).map { t =>
      val sums = fs.map(i =>
        s"sum(CASE WHEN (${dotOf("t", "w")}) * t.y <= 0 THEN t.y * t.f$i ELSE 0 END)::BIGINT AS d$i")
        .mkString(",\n             ")
      s"""e$t AS (SELECT $sums FROM tr t CROSS JOIN w${t - 1} w),
         w$t AS (SELECT ${fs.map(i => s"w.w$i + e.d$i AS w$i").mkString(", ")}
           FROM w${t - 1} w CROSS JOIN e$t e)"""
    }.mkString(",\n         ")
    ("""WITH """ + c4PageCtes + """,
         c4fl AS (SELECT doc_id, page,
             list_filter(string_split(page, chr(10)), l -> len(trim(l)) > 0) AS lines
           FROM pg),
         c4kp AS (SELECT doc_id, page,
             coalesce(array_to_string(
               list_filter(lines, l -> regexp_matches(rtrim(l), '[.!?"]$')
                 AND len(list_filter(string_split_regex(l, '\s+'), w -> len(w) > 0)) >= 5
                 AND NOT contains(lower(l), 'javascript')), chr(10)), '') AS clean
           FROM c4fl),
         c4p AS (SELECT doc_id FROM c4kp
           WHERE len(regexp_extract_all(clean, '[.!?]')) >= 3
             AND NOT contains(lower(page), 'lorem ipsum')
             AND NOT contains(page, '{')),
         tokf AS (SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
           FROM documents),
         feat AS (SELECT doc_id,
             1::BIGINT AS f0,
             len(toks)::BIGINT AS f1,
             len(list_distinct(toks))::BIGINT AS f2,
             len(text)::BIGINT AS f3,
             (len(text) - len(replace(text, '.', '')))::BIGINT AS f4,
             coalesce(list_max(list_transform(toks, x -> len(x))), 0)::BIGINT AS f5,
             len(list_filter(toks, x -> len(x) > 6))::BIGINT AS f6
           FROM tokf),
         tr AS (SELECT f.*, (CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE -1 END)::BIGINT AS y
           FROM feat f LEFT JOIN c4p c ON c.doc_id = f.doc_id
           WHERE f.doc_id % 2 = 0),
         w0 AS (SELECT """ + fs.map(i => s"0::BIGINT AS w$i").mkString(", ") + """),
         """ + epochCtes + s"""
         SELECT f.doc_id, (${dotOf("f", "w")})::BIGINT AS score,
           (${dotOf("f", "w")}) > 0 AS pred
         FROM feat f CROSS JOIN w$epochs w WHERE f.doc_id % 2 = 1""")
  }

  /** q289's oracle: the q281 training chain verbatim, then the isotonic
    * fit by its MINIMAX closed form over exact rational means (the
    * ⌊p·2³²/n⌋ key discriminates all denominators < 2¹⁶ and floors to the
    * same Q16 the engine's PAV emits), applied to the held-out scores
    * with an ASOF join (greatest calibrated score ≤ margin; below-range
    * coalesces to the first group). */
  private def perceptronCalibratedOracleSql(epochs: Int): String = {
    val train = perceptronOracleSql(epochs)
    val cut = train.lastIndexOf("SELECT f.doc_id,")
    val ctes = train.substring(0, cut) // WITH ... w$epochs, trailing whitespace
    val dot = perceptronDotOf("f", "w")
    ctes + s""", trsc AS (
           SELECT ($dot)::BIGINT AS score,
             (CASE WHEN f.y = 1 THEN 1 ELSE 0 END)::BIGINT AS pos1
           FROM tr f CROSS JOIN w$epochs w),
         go AS (
           SELECT score, row_number() OVER (ORDER BY score) AS rn, p, n,
             sum(p) OVER (ORDER BY score) AS cp, sum(n) OVER (ORDER BY score) AS cn
           FROM (SELECT score, cast(sum(pos1) as bigint) AS p,
                   cast(count(*) as bigint) AS n
                 FROM trsc GROUP BY 1)),
         pm AS (
           SELECT j.rn AS j, k.rn AS k,
             (((k.cp - j.cp + j.p) << 32) // (k.cn - j.cn + j.n)) AS key
           FROM go j, go k WHERE j.rn <= k.rn),
         sm AS (
           SELECT j, k AS gg, min(key) OVER (PARTITION BY j ORDER BY k DESC) AS mkey
           FROM pm),
         iso AS (SELECT gg, max(mkey) AS ykey FROM sm WHERE j <= gg GROUP BY gg),
         cal AS (SELECT go.score, iso.ykey >> 16 AS q16
           FROM iso JOIN go ON go.rn = iso.gg),
         tesc AS (
           SELECT f.doc_id, ($dot)::BIGINT AS score
           FROM feat f CROSS JOIN w$epochs w WHERE f.doc_id % 2 = 1),
         frst AS (SELECT q16 FROM cal ORDER BY score LIMIT 1)
         SELECT t.doc_id, t.score,
           cast(coalesce(c.q16, (SELECT q16 FROM frst)) as bigint) AS calib_q16
         FROM tesc t ASOF LEFT JOIN cal c ON t.score >= c.score"""
  }

  /** q292's oracle: the q289 chain with the final per-doc select folded
    * into a CTE, joined to the teacher's pass set (c4p, already in the
    * chain), rolled up per calibrated bin with the integer gap
    * numerator. */
  private def calibrationEceOracleSql(epochs: Int): String = {
    val cal = perceptronCalibratedOracleSql(epochs)
    val cut = cal.lastIndexOf("SELECT t.doc_id, t.score,")
    cal.substring(0, cut) + s""", res AS (
           SELECT t.doc_id,
             cast(coalesce(c.q16, (SELECT q16 FROM frst)) as bigint) AS calib_q16
           FROM tesc t ASOF LEFT JOIN cal c ON t.score >= c.score)
         SELECT calib_q16, n_docs, n_pos,
           abs(n_pos * 65536 - calib_q16 * n_docs) AS gap_q16n
         FROM (
           SELECT r.calib_q16, cast(count(*) as bigint) AS n_docs,
             cast(sum(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_pos
           FROM res r LEFT JOIN c4p p ON p.doc_id = r.doc_id
           GROUP BY 1)"""
  }

  /** Shared CTE core for q263/q266: the Kneser–Ney sufficient statistics
    * on the 80% hash split, per-bigram exact rationals, Q16 log terms,
    * and the per-doc aggregate as `knsc`(doc_id, n_bigrams, nlg2_q16,
    * mean_nlg2_q16) over the held-out 20%. */
  /** Base CTE chain shared by the KN-family oracles (q263/q266/q271):
    * split, vocab, mapped bigrams, bigram counts, continuation counts,
    * totals. */
  private def knBaseCtes: String =
    s"""d AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS l,
             substring(md5(cast(doc_id as varchar)), 1, 4) < 'cccd' AS is_train
           FROM documents),
         prr AS (SELECT u.doc_id, u.is_train, u.p.w1 AS w1r, u.p.w2 AS w2r
           FROM (SELECT doc_id, is_train,
               unnest(list_transform(range(1, len(l)),
                 i -> struct_pack(w1 := l[i], w2 := l[i + 1]))) AS p
             FROM d) u),
         vocab AS (SELECT tok FROM (SELECT is_train, unnest(l) AS tok FROM d)
           WHERE is_train GROUP BY tok HAVING count(*) >= 100),
         pr AS (SELECT doc_id, is_train,
             coalesce(v1.tok, '<unk>') AS w1, coalesce(v2.tok, '<unk>') AS w2
           FROM prr LEFT JOIN vocab v1 ON prr.w1r = v1.tok
             LEFT JOIN vocab v2 ON prr.w2r = v2.tok),
         c12t AS (SELECT w1, w2, cast(count(*) as bigint) AS c12
           FROM pr WHERE is_train GROUP BY 1, 2),
         ctx AS (SELECT w1, cast(sum(c12) as bigint) AS c1,
             cast(count(*) as bigint) AS t1 FROM c12t GROUP BY 1),
         contn AS (SELECT w2, cast(count(*) as bigint) AS r2
           FROM c12t GROUP BY 1),
         tot AS (SELECT (SELECT cast(count(*) as bigint) FROM c12t) AS r,
             (SELECT cast(count(*) + 1 as bigint) FROM vocab) AS v)"""

  private def knScoreCtes: String =
    s"""$knBaseCtes,
         terms AS (SELECT p.doc_id,
             CASE WHEN coalesce(ctx.c1, 0) > 0
               THEN greatest(4 * coalesce(c12t.c12, 0) - 3, 0) * (tot.r + tot.v)
                    + 3 * ctx.t1 * (coalesce(contn.r2, 0) + 1)
               ELSE coalesce(contn.r2, 0) + 1 END AS num,
             CASE WHEN coalesce(ctx.c1, 0) > 0
               THEN 4 * ctx.c1 * (tot.r + tot.v)
               ELSE tot.r + tot.v END AS den
           FROM pr p LEFT JOIN c12t ON p.w1 = c12t.w1 AND p.w2 = c12t.w2
             LEFT JOIN ctx ON p.w1 = ctx.w1
             LEFT JOIN contn ON p.w2 = contn.w2, tot
           WHERE NOT p.is_train),
         nl AS (SELECT doc_id,
             ${unigramFlogSql("den")} - ${unigramFlogSql("num")} AS t
           FROM terms),
         knsc AS (SELECT doc_id, cast(count(*) as bigint) AS n_bigrams,
           cast(sum(t) as bigint) AS nlg2_q16,
           cast(sum(t) as bigint) // cast(count(*) as bigint) AS mean_nlg2_q16
         FROM nl GROUP BY 1)"""

  private def wordpieceTrainCtes(nMerges: Int, px: String = ""): String = {
    val iters = (1 to nMerges).map { t =>
      s"""${px}w${t - 1} AS (
           SELECT string_split(substr(wstr, 2, len(wstr) - 2), chr(2) || chr(1)) AS s, cnt
           FROM ${px}v${t - 1}),
         ${px}sc$t AS (SELECT sym, cast(sum(cnt) as bigint) AS c
           FROM (SELECT unnest(s) AS sym, cnt FROM ${px}w${t - 1}) GROUP BY 1),
         ${px}pc$t AS MATERIALIZED (
           SELECT pr.l, pr.r, pr.c12, sl.c AS c1, sr.c AS c2
           FROM (SELECT s[i] AS l, s[i+1] AS r, cast(sum(cnt) as bigint) AS c12 FROM (
                   SELECT s, cnt, unnest(range(1, len(s))) AS i FROM ${px}w${t - 1} WHERE len(s) >= 2)
                 GROUP BY 1, 2) pr
           JOIN ${px}sc$t sl ON sl.sym = pr.l JOIN ${px}sc$t sr ON sr.sym = pr.r),
         ${px}b$t AS MATERIALIZED (
           SELECT l, r, l || ' ' || r AS pair,
             l || (CASE WHEN r LIKE '##%' THEN substr(r, 3) ELSE r END) AS mrg,
             c12, c1, c2
           FROM ${px}pc$t a
           WHERE NOT EXISTS (SELECT 1 FROM ${px}pc$t b WHERE
               b.c12::HUGEINT * a.c1 * a.c2 > a.c12::HUGEINT * b.c1 * b.c2
               OR (b.c12::HUGEINT * a.c1 * a.c2 = a.c12::HUGEINT * b.c1 * b.c2
                   AND b.l || ' ' || b.r < a.l || ' ' || a.r))),
         ${px}v$t AS MATERIALIZED (
           SELECT replace(v.wstr,
               chr(1) || b.l || chr(2) || chr(1) || b.r || chr(2),
               chr(1) || b.mrg || chr(2)) AS wstr, cnt
           FROM ${px}v${t - 1} v CROSS JOIN ${px}b$t b)"""
    }.mkString(",\n         ")
    s"""${px}v0 AS (
           SELECT array_to_string(list_transform(range(1, len(cs) + 1),
               i -> chr(1) || (CASE WHEN i = 1 THEN cs[i] ELSE '##' || cs[i] END) || chr(2)), '') AS wstr,
             cast(cnt as bigint) AS cnt
           FROM (SELECT regexp_extract_all(w, '.') AS cs, count(*) AS cnt FROM (
             SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS w
             FROM documents) GROUP BY 1)),
         $iters"""
  }

  private def wordpieceLearnOracleSql(nMerges: Int): String = {
    val out = (1 to nMerges).map(t =>
      s"SELECT cast($t as bigint) AS rank, pair, mrg AS merged, c12, c1, c2 FROM b$t")
      .mkString("\n         UNION ALL ")
    s"""WITH ${wordpieceTrainCtes(nMerges)}
         $out"""
  }

  /** q265's oracle: train (shared CTEs), derive the piece vocabulary
    * (v0's initial symbols plus every merged symbol), then greedy
    * longest-match-first over each distinct word as 8 unrolled steps
    * (corpus words are ≤ 8 chars, each step consumes ≥ 1), re-joined to
    * per-doc word positions for the exact seg string. */
  private def wordpieceSegmentOracleSql(nMerges: Int): String = {
    val mrgUnion = (1 to nMerges).map(t => s"SELECT mrg FROM b$t").mkString("\n           UNION ")
    val segSteps = (1 to 8).map { k =>
      s"""best$k AS (SELECT w, piece, adv FROM (
             SELECT s.w, v.piece, v.clen AS adv,
               row_number() OVER (PARTITION BY s.w ORDER BY v.clen DESC) AS rn
             FROM s${k - 1} s JOIN vocab v
               ON s.pos <= len(s.w) AND NOT s.unk
              AND (CASE WHEN s.pos = 1 THEN NOT v.cont ELSE v.cont END)
              AND substr(s.w, s.pos, v.clen) = v.chars) WHERE rn = 1),
         s$k AS MATERIALIZED (
           SELECT s.w,
             CASE WHEN s.pos > len(s.w) OR s.unk OR m.adv IS NULL THEN s.pos
                  ELSE s.pos + m.adv END AS pos,
             CASE WHEN s.pos > len(s.w) OR s.unk OR m.adv IS NULL THEN s.seg
                  WHEN s.seg = '' THEN m.piece ELSE s.seg || '|' || m.piece END AS seg,
             CASE WHEN s.pos > len(s.w) OR s.unk THEN s.unk
                  WHEN m.adv IS NULL THEN true ELSE s.unk END AS unk
           FROM s${k - 1} s LEFT JOIN best$k m ON m.w = s.w)"""
    }.mkString(",\n         ")
    s"""WITH ${wordpieceTrainCtes(nMerges)},
         vocab AS (
           SELECT piece, piece LIKE '##%' AS cont,
             CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END AS chars,
             len(CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END) AS clen
           FROM (SELECT DISTINCT sym AS piece FROM (SELECT unnest(s) AS sym FROM w0)
                 UNION $mrgUnion)),
         dw AS (SELECT doc_id, wi, w FROM (
             SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS w,
               generate_subscripts(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0), 1) AS wi
             FROM documents)),
         s0 AS (SELECT DISTINCT w, 1 AS pos, '' AS seg, false AS unk FROM dw),
         $segSteps,
         wordseg AS (SELECT w,
             CASE WHEN unk THEN '[UNK]' ELSE seg END AS seg,
             CASE WHEN unk THEN 1 ELSE len(string_split(seg, '|')) END AS np,
             CASE WHEN unk THEN 1 ELSE 0 END AS nu
           FROM s8)
         SELECT dw.doc_id, cast(sum(ws.np) as bigint) AS n_pieces,
           cast(sum(ws.nu) as bigint) AS n_unk,
           array_to_string(list(ws.seg ORDER BY dw.wi), ' ') AS seg
         FROM dw JOIN wordseg ws ON ws.w = dw.w
         GROUP BY 1"""
  }


  /** q273's oracle: all three tokenizer training loops and segmenters in
    * ONE statement — BPE's z-chain (q220's form, totals instead of
    * per-doc), WordPiece's train + 8-step greedy unroll under the `wp`
    * prefix, the unigram brute-force DP (q261's form) — each reduced to a
    * corpus-total piece count over per-occurrence word counts. */
  private def tokenizerFertilityOracleSql(nMerges: Int): String = {
    val bpeChain = (1 to nMerges).map { t =>
      s"""z$t AS (
           SELECT replace(z.wstr,
               chr(1) || replace(b.pair, ' ', chr(2) || chr(1)) || chr(2),
               chr(1) || b.mrg || chr(2)) AS wstr, z.c AS c
           FROM z${t - 1} z CROSS JOIN b$t b)"""
    }.mkString(",\n         ")
    val wpSeg = (1 to 8).map { k =>
      s"""wpbest$k AS (SELECT w, piece, adv FROM (
             SELECT s.w, v.piece, v.clen AS adv,
               row_number() OVER (PARTITION BY s.w ORDER BY v.clen DESC) AS rn
             FROM wps${k - 1} s JOIN wpvocab v
               ON s.pos <= len(s.w) AND NOT s.unk
              AND (CASE WHEN s.pos = 1 THEN NOT v.cont ELSE v.cont END)
              AND substr(s.w, s.pos, v.clen) = v.chars) WHERE rn = 1),
         wps$k AS MATERIALIZED (
           SELECT s.w,
             CASE WHEN s.pos > len(s.w) OR s.unk OR m.adv IS NULL THEN s.pos
                  ELSE s.pos + m.adv END AS pos,
             CASE WHEN s.pos > len(s.w) OR s.unk OR m.adv IS NULL THEN s.np
                  ELSE s.np + 1 END AS np,
             CASE WHEN s.pos > len(s.w) OR s.unk THEN s.unk
                  WHEN m.adv IS NULL THEN true ELSE s.unk END AS unk
           FROM wps${k - 1} s LEFT JOIN wpbest$k m ON m.w = s.w)"""
    }.mkString(",\n         ")
    val wpMrgUnion = (1 to nMerges).map(t => s"SELECT mrg FROM wpb$t").mkString("\n           UNION ")
    s"""WITH dwc AS (
           SELECT w, cast(count(*) as bigint) AS c FROM (
             SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS w
             FROM documents) GROUP BY 1),
         nwt AS (SELECT cast(sum(c) as bigint) AS nw FROM dwc),
         ${bpeTrainCtes(nMerges)},
         z0 AS (SELECT array_to_string(list_transform(regexp_extract_all(w, '.'),
               ch -> chr(1) || ch || chr(2)), '') AS wstr, c
           FROM dwc),
         $bpeChain,
         bnp AS (SELECT cast(sum(c * len(string_split(substr(wstr, 2, len(wstr) - 2),
               chr(2) || chr(1)))) as bigint) AS np
           FROM z$nMerges),
         ${wordpieceTrainCtes(nMerges, "wp")},
         wpvocab AS (
           SELECT piece, piece LIKE '##%' AS cont,
             CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END AS chars,
             len(CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END) AS clen
           FROM (SELECT DISTINCT sym AS piece FROM (SELECT unnest(s) AS sym FROM wpw0)
                 UNION $wpMrgUnion)),
         wps0 AS (SELECT w, 1 AS pos, 0 AS np, false AS unk FROM dwc),
         $wpSeg,
         wnp AS (SELECT cast(sum(dwc.c * (CASE WHEN s.unk THEN 1 ELSE s.np END)) as bigint) AS np
           FROM wps8 s JOIN dwc ON dwc.w = s.w),
         ${unigramTrainCtes(maxPieceLen = 5, maxVocab = 128, rounds = 3, finalSeg = true)},
         unp AS (SELECT cast(sum(dwc.c * len(b.pieces)) as bigint) AS np
           FROM best3 b JOIN dwc ON dwc.w = b.w)
         SELECT 'bpe64' AS tokenizer, nwt.nw AS n_words, bnp.np AS n_pieces,
           bnp.np * 100 // nwt.nw AS pieces_per_100w FROM bnp, nwt
         UNION ALL
         SELECT 'unigram', nwt.nw, unp.np, unp.np * 100 // nwt.nw FROM unp, nwt
         UNION ALL
         SELECT 'wordpiece64', nwt.nw, wnp.np, wnp.np * 100 // nwt.nw FROM wnp, nwt"""
  }

  private def bpeTrainCtes(nMerges: Int, v0Override: Option[String] = None): String = {
    // b/v MATERIALIZED: DuckDB inlines plain CTEs per reference, and each
    // iteration references the previous twice (pair count + rewrite) — at
    // 256 unrolled rounds un-materialized inlining blows up exponentially
    val iters = (1 to nMerges).map { t =>
      s"""p$t AS (
           SELECT s[i] || ' ' || s[i+1] AS pair, cnt FROM (
             SELECT s, cnt, unnest(range(1, len(s))) AS i FROM (
               SELECT string_split(substr(wstr, 2, len(wstr) - 2), chr(2) || chr(1)) AS s, cnt
               FROM v${t - 1})
             WHERE len(s) >= 2)),
         b$t AS MATERIALIZED (
           SELECT pair, replace(pair, ' ', '') AS mrg, cast(sum(cnt) as bigint) AS c
           FROM p$t GROUP BY 1, 2 ORDER BY c DESC, pair ASC LIMIT 1),
         v$t AS MATERIALIZED (
           SELECT replace(v.wstr,
               chr(1) || replace(b.pair, ' ', chr(2) || chr(1)) || chr(2),
               chr(1) || b.mrg || chr(2)) AS wstr, cnt
           FROM v${t - 1} v CROSS JOIN b$t b)"""
    }.mkString(",\n         ")
    val v0 = v0Override.getOrElse(
      s"""v0 AS (
           SELECT array_to_string(list_transform(regexp_extract_all(w, '.'),
               c -> chr(1) || c || chr(2)), '') AS wstr,
             cast(cnt as bigint) AS cnt
           FROM (SELECT w, count(*) AS cnt FROM (
             SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS w
             FROM documents) GROUP BY 1))""")
    s"""$v0,
         $iters"""
  }

  /** The byte-alphabet map as inline SQL (GPT-2 bytes→unicode): byte value
    * `x` → its printable char. Used by the q287/q288 oracles to re-derive
    * [[graft.text.Bpe.byteCharTable]] from the published range rules —
    * constants shared, code not. */
  private def mbSql(x: String): String =
    "CASE WHEN (" + x + " BETWEEN 33 AND 126) OR (" + x + " BETWEEN 161 AND 172) " +
      "OR (" + x + " >= 174) THEN chr(" + x + ") " +
      "WHEN " + x + " <= 32 THEN chr(256 + " + x + ") " +
      "WHEN " + x + " <= 160 THEN chr(" + x + " + 162) " +
      "ELSE chr(323) END"

  /** Accented corpus (the byte-fallback exercise): every vowel swapped for
    * a 2-byte Latin-1 code point, engine-side via `translate`. */
  private val accentsSql = "translate(text, 'aeiou', " +
    "chr(224) || chr(233) || chr(238) || chr(246) || chr(252))"

  /** Word → byte-alphabet mapped char LIST in SQL, valid for code points
    * < 2048 (1–2-byte UTF-8; the fixture's charset is ASCII + five
    * Latin-1 vowels): cp < 128 → one byte, else (192 + cp div 64,
    * 128 + cp mod 64). */
  private def byteMapListSql(w: String): String =
    "flatten(list_transform(regexp_extract_all(" + w + ", '.'), c -> " +
      "CASE WHEN ord(c) < 128 THEN [" + mbSql("ord(c)") + "] " +
      "ELSE [" + mbSql("(192 + ord(c) // 64)") + ", " +
      mbSql("(128 + ord(c) % 64)") + "] END))"

  /** q287's oracle v0: the byte-mapped wrapped-symbol vocab over the
    * accented corpus. */
  private def bpeBytesV0Sql: String =
    """v0 AS (
           SELECT array_to_string(list_transform(""" + byteMapListSql("w") + """,
               m -> chr(1) || m || chr(2)), '') AS wstr,
             cast(cnt as bigint) AS cnt
           FROM (SELECT w, count(*) AS cnt FROM (
             SELECT unnest(list_filter(string_split_regex(""" + accentsSql + """, '\s+'), x -> len(x) > 0)) AS w
             FROM documents) GROUP BY 1))"""

  /** q258's oracle: the 18 Gopher repetition statistics recomputed
    * relationally per document — duplicate line/paragraph groups via
    * count-over-content windows, top-n-gram coverage via a
    * (count DESC, chars DESC, gram ASC) window, duplicated-n-gram
    * character coverage via a DISTINCT position union — then the same
    * integer cross-multiplied thresholds as the kernel-side flags.
    * Every stat LEFT-JOINs back to `documents` with coalesce(0) so empty
    * and degenerate docs keep their row (the kernel emits zeros). */
  private def gopherRepetitionOracleSql: String = {
    def topCte(n: Int): String =
      s"""g$n AS (SELECT doc_id, (u).g g FROM (
           SELECT doc_id, unnest(list_transform(range(0, greatest(len(w)-$n+1, 0)),
             j -> struct_pack(i := j+1, g := array_to_string(list_slice(w, j+1, j+$n), ' ')))) u
           FROM ws)),
         t$n AS (SELECT doc_id, (cnt * (len(g) - ${n - 1}))::bigint top${n}_chars FROM (
           SELECT doc_id, g, count(*) cnt,
             row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, len(g) DESC, g) rn
           FROM g$n GROUP BY doc_id, g) WHERE rn = 1)"""
    def dupCte(n: Int): String =
      s"""gd$n AS (SELECT doc_id, (u).i::bigint i, (u).g g FROM (
           SELECT doc_id, unnest(list_transform(range(0, greatest(len(w)-$n+1, 0)),
             j -> struct_pack(i := j+1, g := array_to_string(list_slice(w, j+1, j+$n), ' ')))) u
           FROM ws)),
         dp$n AS (SELECT DISTINCT doc_id, pos FROM (
           SELECT doc_id, unnest(range(i, i+$n)) pos FROM (
             SELECT doc_id, i, g, count(*) OVER (PARTITION BY doc_id, g) c FROM gd$n)
           WHERE c >= 2)),
         cov$n AS (SELECT dp$n.doc_id, sum(len(w[pos]))::bigint dup${n}_chars
           FROM dp$n JOIN ws ON ws.doc_id = dp$n.doc_id GROUP BY 1)"""
    val joins =
      (2 to 4).map(n => s"LEFT JOIN t$n ON t$n.doc_id = b.doc_id").mkString(" ") + " " +
      (5 to 10).map(n => s"LEFT JOIN cov$n ON cov$n.doc_id = b.doc_id").mkString(" ")
    s"""WITH base AS (SELECT doc_id, text FROM documents),
         lns AS (SELECT doc_id, l FROM (
             SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM base)
           WHERE len(trim(l)) > 0),
         lstat AS (SELECT doc_id, count(*)::bigint n_lines,
             sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END)::bigint dup_lines,
             sum(len(l))::bigint line_chars,
             sum(CASE WHEN c >= 2 THEN len(l) ELSE 0 END)::bigint dup_line_chars
           FROM (SELECT doc_id, l, count(*) OVER (PARTITION BY doc_id, l) c FROM lns)
           GROUP BY 1),
         prs AS (SELECT doc_id, p FROM (
             SELECT doc_id, unnest(string_split(text, chr(10)||chr(10))) AS p FROM base)
           WHERE len(trim(p)) > 0),
         pstat AS (SELECT doc_id, count(*)::bigint n_paras,
             sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END)::bigint dup_paras,
             sum(len(p))::bigint para_chars,
             sum(CASE WHEN c >= 2 THEN len(p) ELSE 0 END)::bigint dup_para_chars
           FROM (SELECT doc_id, p, count(*) OVER (PARTITION BY doc_id, p) c FROM prs)
           GROUP BY 1),
         ws AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) w
           FROM base),
         wstat AS (SELECT doc_id,
             coalesce(list_sum(list_transform(w, x -> len(x))), 0)::bigint word_chars FROM ws),
         ${(2 to 4).map(topCte).mkString(",\n         ")},
         ${(5 to 10).map(dupCte).mkString(",\n         ")},
         stats AS (SELECT b.doc_id,
             coalesce(n_lines, 0) n_lines, coalesce(dup_lines, 0) dup_lines,
             coalesce(line_chars, 0) line_chars, coalesce(dup_line_chars, 0) dup_line_chars,
             coalesce(n_paras, 0) n_paras, coalesce(dup_paras, 0) dup_paras,
             coalesce(para_chars, 0) para_chars, coalesce(dup_para_chars, 0) dup_para_chars,
             word_chars,
             ${(2 to 4).map(n => s"coalesce(top${n}_chars, 0) top${n}_chars").mkString(", ")},
             ${(5 to 10).map(n => s"coalesce(dup${n}_chars, 0) dup${n}_chars").mkString(", ")}
           FROM base b
           LEFT JOIN lstat ON lstat.doc_id = b.doc_id
           LEFT JOIN pstat ON pstat.doc_id = b.doc_id
           JOIN wstat ON wstat.doc_id = b.doc_id
           $joins),
         flags AS (SELECT doc_id,
             dup_lines * 10 <= n_lines * 3 AS ok_dup_lines,
             dup_paras * 10 <= n_paras * 3 AS ok_dup_paras,
             dup_line_chars * 10 <= line_chars * 2 AS ok_dup_line_chars,
             dup_para_chars * 10 <= para_chars * 2 AS ok_dup_para_chars,
             top2_chars * 10 <= word_chars * 2 AS ok_top2_chars,
             top3_chars * 100 <= word_chars * 18 AS ok_top3_chars,
             top4_chars * 100 <= word_chars * 16 AS ok_top4_chars,
             dup5_chars * 100 <= word_chars * 15 AS ok_dup5_chars,
             dup6_chars * 100 <= word_chars * 14 AS ok_dup6_chars,
             dup7_chars * 100 <= word_chars * 13 AS ok_dup7_chars,
             dup8_chars * 100 <= word_chars * 12 AS ok_dup8_chars,
             dup9_chars * 100 <= word_chars * 11 AS ok_dup9_chars,
             dup10_chars * 10 <= word_chars AS ok_dup10_chars
           FROM stats)
         SELECT doc_id, ${gopherRepetitionFlagCols.mkString(", ")},
           (${gopherRepetitionFlagCols.mkString(" AND ")}) AS repetition_pass
         FROM flags"""
  }

  /** [[graft.text.Unigram.fixedLog2Q16]] spelled relationally: floor-log2
    * from `bin()` digits (no floats), 16 fraction bits by the same
    * normalize-and-square recurrence, state packed acc·2^18 + m into one
    * BIGINT threaded through a 16-step list_reduce. `x` must be a
    * positive BIGINT-able expression. */
  private def unigramFlogSql(x: String): String =
    s"""((length(bin($x)) - 1) * 65536 + (
       list_reduce(
         list_prepend(
           CASE WHEN length(bin($x)) - 1 >= 16
                THEN ($x)::BIGINT >> (length(bin($x)) - 1 - 16)
                ELSE ($x)::BIGINT << (16 - (length(bin($x)) - 1)) END,
           list_transform(range(16), z -> 0::BIGINT)),
         (s, z) -> CASE WHEN ((s & 262143) * (s & 262143)) >> 16 >= 131072
           THEN ((s >> 18) * 2 + 1) * 262144 + ((((s & 262143) * (s & 262143)) >> 16) >> 1)
           ELSE ((s >> 18) * 2) * 262144 + (((s & 262143) * (s & 262143)) >> 16) END
       ) >> 18))"""

  /** q260/q261's oracle: unigram-LM seeding plus `rounds` unrolled hard-EM
    * rounds with BRUTE-FORCE Viterbi — every cut mask of every distinct
    * word enumerated (2^(n−1) masks, corpus words are ≤ 8 code points at
    * the gate sf), each mask's pieces joined to the round's vocabulary,
    * masks with any non-vocab piece dropped (HAVING count = k; every
    * single code point is seeded, so words always segment), and the best
    * ranked by (Σ splg DESC, pieces ASC, mask ASC) — the exact total
    * order [[graft.text.Unigram.viterbi]] implements as a DP, sharing no
    * code with it. `finalSeg` adds a segmentation pass under the FINAL
    * counts (for q261). MATERIALIZED for q219's reason (plain CTEs
    * re-inline per reference). */
  private def unigramTrainCtes(maxPieceLen: Int, maxVocab: Int, rounds: Int,
                               finalSeg: Boolean): String = {
    def segRound(r: Int): String =
      s"""tot$r AS (SELECT ${unigramFlogSql("sum(cnt)")} AS lgt FROM vocab$r),
         lg$r AS MATERIALIZED (
           SELECT piece, cnt, ${unigramFlogSql("cnt")} - (SELECT lgt FROM tot$r) AS splg
           FROM vocab$r),
         pc$r AS (
           SELECT mk.w, mk.m, mk.freq, mk.n, len(mk.pieces) AS k, u.p, u.pos, v.splg
           FROM masks mk,
                LATERAL (SELECT unnest(mk.pieces) AS p,
                                generate_subscripts(mk.pieces, 1) AS pos) u
           JOIN lg$r v ON v.piece = u.p),
         scored$r AS MATERIALIZED (
           SELECT w, m, freq, n, k, sum(splg) AS score,
                  list(p ORDER BY pos) AS pieces
           FROM pc$r GROUP BY w, m, freq, n, k
           HAVING count(*) = k),
         best$r AS MATERIALIZED (
           SELECT w, freq, pieces FROM (
             SELECT w, freq, pieces,
                    row_number() OVER (PARTITION BY w
                      ORDER BY score DESC, k ASC, m ASC) AS rn
             FROM scored$r)
           WHERE rn = 1)"""
    val ems = (0 until rounds).map { r =>
      s"""${segRound(r)},
         vocab${r + 1} AS MATERIALIZED (
           SELECT v.piece,
                  (1 + coalesce((SELECT sum(b.freq)
                     FROM best$r b, LATERAL (SELECT unnest(b.pieces) AS bp)
                     WHERE bp = v.piece), 0))::BIGINT AS cnt
           FROM vocab$r v)"""
    }.mkString(",\n         ")
    val fin = if (finalSeg) s",\n         ${segRound(rounds)}" else ""
    s"""${unigramSeedCtes(maxPieceLen, maxVocab)},
         $ems$fin"""
  }

  /** The unigram SEED block shared by the hard-EM ([[unigramTrainCtes]])
    * and soft-EM (q278) oracle chains: distinct-word weights, substring
    * seeding (`vocab0` = all singles + top multis by weight), and the
    * brute-force `masks` table — every 2^(n−1) cut mask of every word with
    * its piece list. */
  private def unigramSeedCtes(maxPieceLen: Int, maxVocab: Int): String =
    s"""words AS MATERIALIZED (
           SELECT w, count(*)::BIGINT AS freq, len(w)::INT AS n
           FROM (SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                    x -> len(x) > 0)) AS w FROM documents)
           GROUP BY w),
         subs AS MATERIALIZED (
           SELECT substr(w, i, l) AS piece, sum(freq)::BIGINT AS wt
           FROM words,
                LATERAL (SELECT unnest(range(1, n + 1))::INT AS i),
                LATERAL (SELECT unnest(range(1, $maxPieceLen + 1))::INT AS l)
           WHERE i + l - 1 <= n GROUP BY 1),
         singles AS (SELECT piece, wt FROM subs WHERE len(piece) = 1),
         multis AS (
           SELECT piece, wt FROM subs WHERE len(piece) >= 2
           ORDER BY wt DESC, piece ASC
           LIMIT $maxVocab - (SELECT count(*) FROM singles)),
         vocab0 AS MATERIALIZED (
           SELECT piece, wt AS cnt FROM singles
           UNION ALL SELECT piece, wt FROM multis),
         masks AS MATERIALIZED (
           SELECT w, freq, n, m,
                  list_transform(
                    list_zip(list_slice(cuts, 1, len(cuts) - 1),
                             list_slice(cuts, 2, len(cuts))),
                    z -> substr(w, z[1] + 1, z[2] - z[1])) AS pieces
           FROM (SELECT w, freq, n, m,
                        list_prepend(0, list_append(
                          list_filter(range(1, n), i -> (m >> (i - 1)) & 1 = 1), n)) AS cuts
                 FROM words,
                      LATERAL (SELECT unnest(range(0, 1 << (n - 1)))::BIGINT AS m)))"""

  /** q278's oracle chain: the shared seed block, then `rounds` soft-EM
    * rounds replayed by BRUTE-FORCE path enumeration — per mask an exact
    * HUGEINT weight ∏ q(pᵢ)·2^(12·(n−k)) (masks with any out-of-vocab
    * piece drop via the count(*)=k guard, exactly the missing lattice
    * edge), per (word, piece) the Q16-floor posterior, per piece the
    * integer M-step. `svocab0` = the seed vocabulary; output `svocab<r>`.
    * HUGEINT bounds this oracle to words of ≤ 9 code points (the Scala
    * side is BigInt — see Unigram.scala's soft-EM section). */
  private def unigramSoftCtes(maxPieceLen: Int, maxVocab: Int, rounds: Int): String = {
    val softRounds = (0 until rounds).map { r =>
      s"""stot$r AS (SELECT sum(cnt)::BIGINT AS t FROM svocab$r),
         sqp$r AS MATERIALIZED (
           SELECT piece, (1 + (cnt * 4096) // (SELECT t FROM stot$r))::BIGINT AS q
           FROM svocab$r),
         spc$r AS MATERIALIZED (
           SELECT mk.w, mk.m, mk.freq, len(mk.pieces) AS k, u.p, u.pos,
                  (v.q * (1::BIGINT << (12 * (len(u.p) - 1))))::HUGEINT AS f
           FROM masks mk,
                LATERAL (SELECT unnest(mk.pieces) AS p,
                                generate_subscripts(mk.pieces, 1) AS pos) u
           JOIN sqp$r v ON v.piece = u.p),
         swt$r AS MATERIALIZED (
           SELECT w, m, freq, list_reduce(list(f ORDER BY pos), (a, b) -> a * b) AS wt
           FROM spc$r GROUP BY w, m, freq
           HAVING count(*) = max(k)),
         stw$r AS (SELECT w, sum(wt) AS tw FROM swt$r GROUP BY w),
         sex$r AS (
           SELECT c.w, max(c.freq) AS freq, c.p,
                  ((sum(t.wt) * 65536::HUGEINT) // max(g.tw))::BIGINT AS e
           FROM spc$r c
                JOIN swt$r t ON t.w = c.w AND t.m = c.m
                JOIN stw$r g ON g.w = c.w
           GROUP BY c.w, c.p),
         svocab${r + 1} AS MATERIALIZED (
           SELECT v.piece,
                  (65536 + coalesce((SELECT sum(x.freq * x.e)
                     FROM sex$r x WHERE x.p = v.piece), 0))::BIGINT AS cnt
           FROM svocab$r v)"""
    }.mkString(",\n         ")
    s"""${unigramSeedCtes(maxPieceLen, maxVocab)},
         svocab0 AS (SELECT piece, cnt FROM vocab0),
         $softRounds"""
  }

  private def bpeOracleSql(nMerges: Int): String = {
    val out = (1 to nMerges).map(t =>
      s"SELECT cast($t as bigint) AS rank, pair, mrg AS merged, c AS weight FROM b$t")
      .mkString("\n         UNION ALL ")
    s"""WITH ${bpeTrainCtes(nMerges)}
         $out"""
  }

  /** q287's oracle: the q219 train chain verbatim over the BYTE-MAPPED
    * accented vocab (v0 swapped; every other CTE shared). */
  private def bpeBytesOracleSql(nMerges: Int): String = {
    val out = (1 to nMerges).map(t =>
      s"SELECT cast($t as bigint) AS rank, pair, mrg AS merged, c AS weight FROM b$t")
      .mkString("\n         UNION ALL ")
    s"""WITH ${bpeTrainCtes(nMerges, Some(bpeBytesV0Sql))}
         $out"""
  }

  /** q288's oracle: byte-level train (shared chain) + byte-level segment —
    * z0 maps every document word through the byte alphabet before the
    * rank-order replace chain. */
  private def bpeBytesSegmentOracleSql(nMerges: Int): String = {
    val chain = (1 to nMerges).map { t =>
      s"""z$t AS (
           SELECT doc_id, replace(z.wstr,
               chr(1) || replace(b.pair, ' ', chr(2) || chr(1)) || chr(2),
               chr(1) || b.mrg || chr(2)) AS wstr
           FROM z${t - 1} z CROSS JOIN b$t b)"""
    }.mkString(",\n         ")
    s"""WITH ${bpeTrainCtes(nMerges, Some(bpeBytesV0Sql))},
         z0 AS (
           SELECT doc_id, array_to_string(list_transform(${byteMapListSql("w")},
               m -> chr(1) || m || chr(2)), '') AS wstr
           FROM (SELECT doc_id,
                   unnest(list_filter(string_split_regex($accentsSql, '\\s+'), x -> len(x) > 0)) AS w
                 FROM documents)),
         $chain,
         sub AS (
           SELECT doc_id,
             unnest(string_split(substr(wstr, 2, len(wstr) - 2), chr(2) || chr(1))) AS s
           FROM z$nMerges)
         SELECT doc_id, cast(count(*) as bigint) AS n_subwords,
           cast(count(DISTINCT s) as bigint) AS n_subword_types
         FROM sub GROUP BY 1"""
  }

  /** q220's oracle: train (shared CTEs), then SEGMENT every document's
    * words with the learned merges in rank order — the same one-literal-
    * replace-per-merge over the wrapped encoding — and count subword
    * tokens and types per document. */
  private def bpeSegmentOracleSql(nMerges: Int): String = {
    val chain = (1 to nMerges).map { t =>
      s"""z$t AS (
           SELECT doc_id, replace(z.wstr,
               chr(1) || replace(b.pair, ' ', chr(2) || chr(1)) || chr(2),
               chr(1) || b.mrg || chr(2)) AS wstr
           FROM z${t - 1} z CROSS JOIN b$t b)"""
    }.mkString(",\n         ")
    s"""WITH ${bpeTrainCtes(nMerges)},
         z0 AS (
           SELECT doc_id, array_to_string(list_transform(regexp_extract_all(w, '.'),
               c -> chr(1) || c || chr(2)), '') AS wstr
           FROM (SELECT doc_id,
                   unnest(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS w
                 FROM documents)),
         $chain,
         sub AS (
           SELECT doc_id,
             unnest(string_split(substr(wstr, 2, len(wstr) - 2), chr(2) || chr(1))) AS s
           FROM z$nMerges)
         SELECT doc_id, cast(count(*) as bigint) AS n_subwords,
           cast(count(DISTINCT s) as bigint) AS n_subword_types
         FROM sub GROUP BY 1"""
  }

  /** q222's oracle: the symmetrized distinct co-purchase edge set, then
    * `iters` unrolled message-passing rounds of the integer-mass PageRank
    * recurrence (floor-div damping/teleport, positive args throughout). */
  /** A Gram + integer power-iteration CTE chain over `qvCte` (which must
    * expose a bigint-list column `qv`), all CTEs prefixed `p`. The final
    * eigenvector table is `{p}v{iters}`(i, v) — the q229 recurrence
    * (w = G·v; v ← (w·1024) // max|w|, `//` = truncation-toward-zero like
    * Spark's `div`; a zero max keeps the previous vector). */
  private def powerChainSql(qvCte: String, p: String, iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      s"""${p}w$t AS (SELECT g.i, cast(sum(g.s * v.v) as bigint) AS w
             FROM ${p}gsym g JOIN ${p}v${t - 1} v ON v.i = g.j GROUP BY 1),
         ${p}m$t AS (SELECT max(abs(w)) AS m FROM ${p}w$t),
         ${p}v$t AS (SELECT w.i,
             cast(CASE WHEN m.m = 0 THEN pv.v ELSE (w.w * 1024) // m.m END as bigint) AS v
           FROM ${p}w$t w CROSS JOIN ${p}m$t m JOIN ${p}v${t - 1} pv ON pv.i = w.i)"""
    }.mkString(",\n         ")
    s"""${p}dims AS (SELECT unnest(range(0, (SELECT max(len(qv)) FROM $qvCte))) AS d),
         ${p}gram AS MATERIALIZED (
           SELECT cast(di.d as bigint) AS i, cast(dj.d as bigint) AS j,
             cast(sum(q.qv[di.d + 1] * q.qv[dj.d + 1]) as bigint) AS s
           FROM $qvCte q CROSS JOIN ${p}dims di CROSS JOIN ${p}dims dj
           WHERE dj.d >= di.d
           GROUP BY 1, 2),
         ${p}gsym AS MATERIALIZED (SELECT i, j, s FROM ${p}gram
                  UNION ALL SELECT j, i, s FROM ${p}gram WHERE i != j),
         ${p}v0 AS (SELECT cast(d as bigint) AS i, cast(1024 as bigint) AS v FROM ${p}dims),
         $rounds"""
  }

  /** q229's oracle: integer Gram, `iters` unrolled power rounds, then the
    * corpus reprojection. */
  private def pcaOracleSql(iters: Int): String =
    s"""WITH qz AS (SELECT vec_id, list_transform(embedding,
             x -> cast(round(cast(x as double) * 1024) as bigint)) AS qv
           FROM embeddings),
         ${powerChainSql("qz", "a", iters)}
         SELECT qz.vec_id, cast(sum(qz.qv[v.i + 1] * v.v) as bigint) AS proj
         FROM qz CROSS JOIN av$iters v GROUP BY 1"""

  /** q242's oracle: first power chain → v₁; integer rejection residual
    * r_d = q_d·‖v₁‖² − v₁_d·(qᵀv₁) downshifted by `// 2^shift`; second
    * power chain over the residual corpus → v₂; both projections.
    * MATERIALIZED: without it DuckDB inlines qz into every chain CTE and
    * re-opens the parquet per reference — the doubled chain exhausts file
    * handles. */
  private def pca2OracleSql(iters: Int, shift: Int): String =
    s"""WITH qz AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
             x -> cast(round(cast(x as double) * 1024) as bigint)) AS qv
           FROM embeddings),
         ${powerChainSql("qz", "a", iters)},
         avl AS MATERIALIZED (SELECT list(v ORDER BY i) AS vl FROM av$iters),
         nv AS (SELECT cast(sum(v * v) as bigint) AS s FROM av$iters),
         dz AS MATERIALIZED (SELECT q.vec_id, q.qv,
             cast(list_sum(list_transform(range(0, len(q.qv)),
               d -> q.qv[d + 1] * avl.vl[d + 1])) as bigint) AS d1
           FROM qz q CROSS JOIN avl),
         rz AS MATERIALIZED (SELECT vec_id, d1,
             list_transform(range(0, len(qv)),
               d -> (qv[d + 1] * nv.s - avl.vl[d + 1] * d1) // ${1L << shift}) AS qv
           FROM dz CROSS JOIN nv CROSS JOIN avl),
         ${powerChainSql("rz", "b", iters)},
         bvl AS MATERIALIZED (SELECT list(v ORDER BY i) AS vl FROM bv$iters)
         SELECT r.vec_id, r.d1 AS proj1,
           cast(list_sum(list_transform(range(0, len(r.qv)),
             d -> r.qv[d + 1] * bvl.vl[d + 1])) as bigint) AS proj2
         FROM rz r CROSS JOIN bvl"""

  /** q234's oracle: the same unrolled Hilbert xy2d bit walk — one CTE per
    * level carrying (x, y, hx, hy, hd) through rotate-and-accumulate. */
  private def hilbertOracleSql(bits: Int): String = {
    val levels = (bits - 1 to 0 by -1).zipWithIndex.map { case (lvl, n) =>
      val s = 1L << lvl
      s"""h${n + 1} AS (
           SELECT x, y,
             CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN ${s - 1} - hy ELSE hy END
                  ELSE hx END AS hx,
             CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN ${s - 1} - hx ELSE hx END
                  ELSE hy END AS hy,
             hd + ${1L << (2 * lvl)} * xor(3 * rx, ry) AS hd
           FROM (SELECT x, y, hx, hy, hd,
                   CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
                   CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry
                 FROM h$n))"""
    }.mkString(",\n         ")
    s"""WITH h0 AS (
           SELECT cast(o_custkey % 1024 as bigint) AS x,
             cast(date_diff('day', date '1970-01-01', o_orderdate) % 1024 as bigint) AS y,
             cast(o_custkey % 1024 as bigint) AS hx,
             cast(date_diff('day', date '1970-01-01', o_orderdate) % 1024 as bigint) AS hy,
             cast(0 as bigint) AS hd
           FROM orders),
         $levels
         SELECT cast(hd * 16 // ${1L << (2 * bits)} as bigint) AS bucket,
           cast(count(*) as bigint) AS n,
           min(x) AS x_lo, max(x) AS x_hi, min(y) AS y_lo, max(y) AS y_hi
         FROM h$bits GROUP BY 1"""
  }

  /** q239's oracle: `rounds` unrolled multi-source BFS frontier
    * expansions over the symmetrized co-purchase edges. */
  private def bfsOracleSql(rounds: Int): String = {
    val rs = (1 to rounds).map { t =>
      s"""d$t AS (
           SELECT node, min(dist) AS dist FROM (
             SELECT node, dist FROM d${t - 1}
             UNION ALL
             SELECT e.v AS node, d.dist + 1 AS dist
             FROM edges e JOIN d${t - 1} d ON e.u = d.node)
           GROUP BY 1)"""
    }.mkString(",\n         ")
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         raw AS (SELECT x.pk AS src, y.pk AS dst
                 FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                   FROM raw WHERE src != dst),
         edges AS (SELECT a AS u, b AS v FROM canon
                   UNION ALL SELECT b, a FROM canon),
         d0 AS (SELECT DISTINCT cast(p_partkey as bigint) AS node,
                  cast(0 as bigint) AS dist
                FROM part WHERE p_partkey % 100 = 0),
         $rs
         SELECT node, cast(dist as bigint) AS dist FROM d$rounds"""
  }

  /** q230's oracle: `rounds` unrolled peels — each round keeps only
    * vertices whose induced degree among the previous survivors is ≥ k. */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val rs = (1 to rounds).map { t =>
      s"""a$t AS (SELECT e.u AS node, cast(count(*) as bigint) AS core_deg
             FROM edges e
             JOIN (SELECT node FROM a${t - 1} WHERE core_deg >= $k) x ON e.u = x.node
             JOIN (SELECT node FROM a${t - 1} WHERE core_deg >= $k) y ON e.v = y.node
             GROUP BY 1)"""
    }.mkString(",\n         ")
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         raw AS (SELECT x.pk AS src, y.pk AS dst
                 FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                   FROM raw WHERE src != dst),
         edges AS (SELECT a AS u, b AS v FROM canon
                   UNION ALL SELECT b, a FROM canon),
         a0 AS (SELECT u AS node, cast(count(*) as bigint) AS core_deg
                FROM edges GROUP BY 1),
         $rs
         SELECT node, core_deg FROM a$rounds"""
  }

  /** q231's oracle: `rounds` unrolled synchronous LPA rounds — the argmax
    * is the same (count DESC, label ASC) total order as the operator's
    * struct-max. */
  private def lpaOracleSql(rounds: Int): String = {
    val rs = (1 to rounds).map { t =>
      s"""l$t AS (SELECT node, label FROM (
             SELECT e.v AS node, l.label,
               row_number() OVER (PARTITION BY e.v
                 ORDER BY count(*) DESC, l.label ASC) AS rn
             FROM edges e JOIN l${t - 1} l ON l.node = e.u
             GROUP BY e.v, l.label) WHERE rn = 1)"""
    }.mkString(",\n         ")
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         raw AS (SELECT x.pk AS src, y.pk AS dst
                 FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                   FROM raw WHERE src != dst),
         edges AS (SELECT a AS u, b AS v FROM canon
                   UNION ALL SELECT b, a FROM canon),
         l0 AS (SELECT DISTINCT u AS node, u AS label FROM edges),
         $rs
         SELECT node, cast(label as bigint) AS label FROM l$rounds"""
  }

  private def pagerankOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      s"""p$t AS (
           SELECT verts.node,
             (15 * (1000000000000 // nn.n)) // 100 +
             (85 * coalesce(i.inm, 0)) // 100 AS m
           FROM verts CROSS JOIN nn
           LEFT JOIN (SELECT e.v AS node, cast(sum(p.m // d.d) as bigint) AS inm
                      FROM p${t - 1} p JOIN deg d ON p.node = d.u
                      JOIN edges e ON e.u = p.node
                      GROUP BY 1) i USING (node))"""
    }.mkString(",\n         ")
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         raw AS (SELECT x.pk AS src, y.pk AS dst
                 FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                   FROM raw WHERE src != dst),
         edges AS (SELECT a AS u, b AS v FROM canon
                   UNION ALL SELECT b, a FROM canon),
         deg AS (SELECT u, cast(count(*) as bigint) AS d FROM edges GROUP BY 1),
         verts AS (SELECT u AS node FROM deg),
         nn AS (SELECT cast(count(*) as bigint) AS n FROM verts),
         p0 AS (SELECT node, 1000000000000 // n AS m FROM verts CROSS JOIN nn),
         $rounds
         SELECT node, cast(m as bigint) AS mass FROM p$iters"""
  }

  /** q221's oracle: candidate scoring + every greedy MMR selection step
    * unrolled. rel/sim = sign-preserving scaled squared cosine with
    * positive-arg integer division, identical to the Spark operator. */
  private def mmrOracleSql(c: Int, k: Int): String = {
    def relSql(d: String, na: String, nb: String): String =
      s"CASE WHEN $d >= 0 THEN ($d * $d * 1024) // ($na * $nb) " +
        s"ELSE -(($d * $d * 1024) // ($na * $nb)) END"
    val steps = (1 to k).map { t =>
      s"""s$t AS (
           SELECT qid, cid AS sel_id, cv AS sel_cv, nc AS sel_nc,
             rel - maxsim AS score
           FROM (SELECT *, row_number() OVER
                   (PARTITION BY qid ORDER BY rel - maxsim DESC, cid ASC) AS rn
                 FROM r${t - 1}) WHERE rn = 1),
         r$t AS (
           SELECT qid, cid, cv, nc, rel,
             greatest(maxsim, ${relSql("sdot", "nc", "sel_nc")}) AS maxsim
           FROM (SELECT r.qid, r.cid, r.cv, r.nc, r.rel, r.maxsim, s.sel_nc,
                   cast(list_sum(list_transform(range(0, len(r.cv)),
                     j -> r.cv[j+1] * s.sel_cv[j+1])) as bigint) AS sdot
                 FROM r${t - 1} r JOIN s$t s ON r.qid = s.qid AND r.cid != s.sel_id))"""
    }.mkString(",\n         ")
    val out = (1 to k).map(t =>
      s"SELECT qid AS query_id, cast($t as bigint) AS rank, sel_id AS doc_id, score AS mmr_score FROM s$t")
      .mkString("\n         UNION ALL ")
    s"""WITH qz AS (
           SELECT vec_id, list_transform(embedding,
             x -> cast(round(cast(x as double) * 1024) as bigint)) AS qv
           FROM embeddings),
         n AS (SELECT vec_id, qv,
             cast(list_sum(list_transform(qv, x -> x * x)) as bigint) AS nr
           FROM qz),
         qq AS (SELECT vec_id AS qid, qv AS qqv, nr AS nq FROM n
                WHERE vec_id % 20 = 0 AND nr > 0),
         cc AS (SELECT vec_id AS cid, qv AS cv, nr AS nc FROM n WHERE nr > 0),
         sc AS (
           SELECT qid, cid, cv, nc, ${relSql("dot", "nc", "nq")} AS rel
           FROM (SELECT qq.qid, cc.cid, cc.cv, cc.nc, qq.nq,
                   cast(list_sum(list_transform(range(0, len(cc.cv)),
                     j -> cc.cv[j+1] * qq.qqv[j+1])) as bigint) AS dot
                 FROM cc CROSS JOIN qq WHERE cc.cid != qq.qid)),
         r0 AS (
           SELECT qid, cid, cv, nc, rel, cast(0 as bigint) AS maxsim
           FROM (SELECT *, row_number() OVER
                   (PARTITION BY qid ORDER BY rel DESC, cid ASC) AS rn
                 FROM sc) WHERE rn <= $c),
         $steps
         $out"""
  }

  /** q217's oracle: `iters` unrolled Lloyd rounds over the quantized
    * corpus. Each round: exact-integer assignment (ties to the smaller
    * cluster), per-dim floor-div M-step ((sv − pmod(sv, n)) // n — DuckDB's
    * // truncates, so make the numerator divisible first; matches Scala's
    * math.floorDiv), empty clusters coalesce to the previous centroid. */
  /** The shared k-means CTE chain (quantized corpus `q`, seeds `c0`,
    * then per-round assign/M-step CTEs ending at `c$iters`). */
  private def kmeansCtes(k: Int, iters: Int): String = {
    def round(t: Int): String =
      s"""a$t AS (
           SELECT q.vec_id, q.qv, c.cluster,
             cast(list_sum(list_transform(range(0, len(q.qv)),
               j -> (q.qv[j+1] - c.cv[j+1]) * (q.qv[j+1] - c.cv[j+1]))) as bigint) AS sqd
           FROM q CROSS JOIN c$t c),
         m$t AS (
           SELECT vec_id, qv, cluster, sqd FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sqd, cluster) AS rn
             FROM a$t) WHERE rn = 1),
         s$t AS (
           SELECT cluster, d, sum(v) AS sv, count(*) AS n FROM (
             SELECT cluster, unnest(range(1, len(qv) + 1)) AS d, unnest(qv) AS v FROM m$t)
           GROUP BY 1, 2),
         n$t AS (
           SELECT cluster, list((sv - ((sv % n) + n) % n) // n ORDER BY d) AS cv
           FROM s$t GROUP BY 1),
         c${t + 1} AS (
           SELECT o.cluster, coalesce(x.cv, o.cv) AS cv
           FROM c$t o LEFT JOIN n$t x ON o.cluster = x.cluster)"""
    s"""q AS (
           SELECT vec_id, list_transform(embedding,
             x -> cast(round(cast(x as double) * 1024) as bigint)) AS qv
           FROM embeddings),
         c0 AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, qv AS cv
           FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT $k)),
         ${(0 until iters).map(round).mkString(",\n         ")}"""
  }

  private def kmeansOracleSql(k: Int, iters: Int): String =
    s"""WITH ${kmeansCtes(k, iters)},
         af AS (
           SELECT q.vec_id, q.qv, c.cluster,
             cast(list_sum(list_transform(range(0, len(q.qv)),
               j -> (q.qv[j+1] - c.cv[j+1]) * (q.qv[j+1] - c.cv[j+1]))) as bigint) AS sqd
           FROM q CROSS JOIN c$iters c),
         mf AS (
           SELECT vec_id, cluster, sqd FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sqd, cluster) AS rn
             FROM af) WHERE rn = 1),
         stats AS (
           SELECT cluster, cast(count(*) as bigint) AS n_vecs,
             cast(sum(sqd) as bigint) AS inertia,
             min(vec_id) AS min_vec, max(vec_id) AS max_vec
           FROM mf GROUP BY 1)
         SELECT c.cluster, coalesce(s.n_vecs, cast(0 as bigint)) AS n_vecs,
           coalesce(s.inertia, cast(0 as bigint)) AS inertia,
           s.min_vec, s.max_vec,
           cast(list_sum(list_transform(c.cv, x -> abs(x))) as bigint) AS centroid_l1
         FROM c$iters c LEFT JOIN stats s ON c.cluster = s.cluster"""

  /** q223's oracle: deterministic hyperplane buckets from the closed-form
    * ±1/0 matrix ((j·131 + r·37) mod 101 mod 3) − 1 (r = table·nbits+bit),
    * bucket equi-join, exact integer sign·cos²·2¹⁰ re-rank. */
  private def lshDetOracleSql(tables: Int, nbits: Int, k: Int): String = {
    def planeSum(r: Int): String =
      s"""cast(list_sum(list_transform(range(0, len(qv)),
               j -> qv[j+1] * (((j * 131 + ${r * 37}) * (j * 131 + ${r * 37} + 1) % 4099 % 3) - 1))) as bigint)"""
    def bucketSql(t: Int): String =
      (0 until nbits).map(b =>
        s"(CASE WHEN ${planeSum(t * nbits + b)} >= 0 THEN ${1L << b} ELSE 0 END)")
        .mkString("\n             + ")
    val qbkt = (0 until tables).map(t =>
      s"""SELECT vec_id, qv, nr, $t AS t,
             ${bucketSql(t)} AS bkt
           FROM n""").mkString("\n           UNION ALL ")
    s"""WITH z AS (
           SELECT vec_id, list_transform(embedding,
             x -> cast(round(cast(x as double) * 1024) as bigint)) AS qv, label
           FROM embeddings),
         n AS (SELECT vec_id, qv, label,
             cast(list_sum(list_transform(qv, x -> x * x)) as bigint) AS nr
           FROM z),
         bkt AS (
           $qbkt),
         qb AS (SELECT b.vec_id AS qid, b.qv AS qqv, b.nr AS nq, b.t, b.bkt
                FROM bkt b JOIN n ON b.vec_id = n.vec_id WHERE n.label = 0),
         pairs AS (
           SELECT DISTINCT q.qid, c.vec_id AS cid, q.qqv, q.nq, c.qv AS cv, c.nr AS nc
           FROM qb q JOIN bkt c ON q.t = c.t AND q.bkt = c.bkt),
         sc AS (
           SELECT qid, cid,
             CASE WHEN dot >= 0 THEN (dot * dot * 1024) // (nq * nc)
                  ELSE -((dot * dot * 1024) // (nq * nc)) END AS score
           FROM (SELECT qid, cid, nq, nc,
                   cast(list_sum(list_transform(range(0, len(qqv)),
                     j -> qqv[j+1] * cv[j+1])) as bigint) AS dot
                 FROM pairs)),
         rk AS (SELECT qid, cid, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rn
           FROM sc)
         SELECT qid AS query_id, cid AS neighbor_id, cast(rn as bigint) AS rank, score
         FROM rk WHERE rn <= $k"""
  }

  /** q224's oracle: the shared k-means chain trains the coarse centroids,
    * then cell assignment, nprobe probing and the exact in-cell re-rank —
    * the whole IVF pipeline replayed. */
  private def ivfDetOracleSql(nlist: Int, iters: Int, nprobe: Int, k: Int): String =
    s"""WITH ${kmeansCtes(nlist, iters)},
         cells AS (
           SELECT vec_id AS cid, cluster, qv AS cv,
             cast(list_sum(list_transform(qv, x -> x * x)) as bigint) AS nc
           FROM (SELECT q.vec_id, q.qv, c.cluster,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                     cast(list_sum(list_transform(range(0, len(q.qv)),
                       j -> (q.qv[j+1] - c.cv[j+1]) * (q.qv[j+1] - c.cv[j+1]))) as bigint),
                     c.cluster) AS rn
                 FROM q CROSS JOIN c$iters c)
           WHERE rn = 1),
         qq AS (
           SELECT q.vec_id AS qid, q.qv,
             cast(list_sum(list_transform(q.qv, x -> x * x)) as bigint) AS nq
           FROM q JOIN embeddings e ON q.vec_id = e.vec_id WHERE e.label = 0),
         probes AS (
           SELECT qid, qv, nq, cluster FROM (
             SELECT qq.qid, qq.qv, qq.nq, c.cluster,
               row_number() OVER (PARTITION BY qq.qid ORDER BY
                 cast(list_sum(list_transform(range(0, len(qq.qv)),
                   j -> (qq.qv[j+1] - c.cv[j+1]) * (qq.qv[j+1] - c.cv[j+1]))) as bigint),
                 c.cluster) AS rn
             FROM qq CROSS JOIN c$iters c)
           WHERE rn <= $nprobe),
         sc AS (
           SELECT qid, cid,
             CASE WHEN dot >= 0 THEN (dot * dot * 1024) // (nq * nc)
                  ELSE -((dot * dot * 1024) // (nq * nc)) END AS score
           FROM (SELECT p.qid, l.cid, p.nq, l.nc,
                   cast(list_sum(list_transform(range(0, len(p.qv)),
                     j -> p.qv[j+1] * l.cv[j+1])) as bigint) AS dot
                 FROM probes p JOIN cells l ON p.cluster = l.cluster)),
         rk AS (SELECT qid, cid, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rn
           FROM sc)
         SELECT qid AS query_id, cid AS neighbor_id, cast(rn as bigint) AS rank, score
         FROM rk WHERE rn <= $k"""

  /** q225's oracle: the full PQ pipeline replayed — subspace split,
    * per-subspace codebook training (seed + floor-div Lloyd rounds),
    * argmin encoding, per-query integer ADC tables, Σ-ADC scan. */
  private def pqDetOracleSql(m: Int, ksub: Int, iters: Int, k: Int): String = {
    def sqd(a: String, b: String): String =
      s"""cast(list_sum(list_transform(range(0, len($a)),
               j -> ($a[j+1] - $b[j+1]) * ($a[j+1] - $b[j+1]))) as bigint)"""
    val rounds = (0 until iters).map { t =>
      s"""pa$t AS (
           SELECT sub.vec_id, sub.mi, c.code, sub.sv,
             ${sqd("sub.sv", "c.cv")} AS d
           FROM subq sub JOIN pc$t c ON sub.mi = c.mi),
         pm$t AS (
           SELECT vec_id, mi, code, sv FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id, mi ORDER BY d, code) AS rn
             FROM pa$t) WHERE rn = 1),
         ps$t AS (
           SELECT mi, code, dd, sum(v) AS s, count(*) AS n FROM (
             SELECT mi, code, unnest(range(1, len(sv) + 1)) AS dd, unnest(sv) AS v
             FROM pm$t) GROUP BY 1, 2, 3),
         pn$t AS (
           SELECT mi, code, list((s - ((s % n) + n) % n) // n ORDER BY dd) AS cv
           FROM ps$t GROUP BY 1, 2),
         pc${t + 1} AS (
           SELECT o.mi, o.code, coalesce(x.cv, o.cv) AS cv
           FROM pc$t o LEFT JOIN pn$t x ON o.mi = x.mi AND o.code = x.code)"""
    }.mkString(",\n         ")
    val roundsSql = if (iters == 0) "" else s"$rounds,"
    s"""WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> cast(round(cast(x as double) * 1024) as bigint)) AS qv
           FROM embeddings),
         subq AS (
           SELECT vec_id, mi,
             qv[mi * (len(qv) // $m) + 1 : (mi + 1) * (len(qv) // $m)] AS sv
           FROM (SELECT vec_id, qv, unnest(range(0, $m)) AS mi FROM q)),
         seeds AS (
           SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
           FROM (SELECT vec_id FROM q ORDER BY vec_id LIMIT $ksub)),
         pc0 AS (
           SELECT s.mi, d.code, s.sv AS cv
           FROM subq s JOIN seeds d ON s.vec_id = d.vec_id),
         $roundsSql
         enc AS (
           SELECT vec_id AS cid, mi, code FROM (
             SELECT sub.vec_id, sub.mi, c.code,
               row_number() OVER (PARTITION BY sub.vec_id, sub.mi
                 ORDER BY ${sqd("sub.sv", "c.cv")}, c.code) AS rn
             FROM subq sub JOIN pc$iters c ON sub.mi = c.mi) WHERE rn = 1),
         qsub AS (
           SELECT s.vec_id AS qid, s.mi, s.sv AS qsv
           FROM subq s JOIN embeddings e ON s.vec_id = e.vec_id
           WHERE e.label = 0 AND e.vec_id < 3000),
         adc AS (
           SELECT qs.qid, qs.mi, c.code, ${sqd("qs.qsv", "c.cv")} AS d
           FROM qsub qs JOIN pc$iters c ON qs.mi = c.mi),
         sc AS (
           SELECT a.qid, e.cid, cast(sum(a.d) as bigint) AS score
           FROM enc e JOIN adc a ON e.mi = a.mi AND e.code = a.code
           GROUP BY 1, 2),
         rk AS (
           SELECT qid, cid, score,
             row_number() OVER (PARTITION BY qid ORDER BY score ASC, cid ASC) AS rn
           FROM sc)
         SELECT qid AS query_id, cid AS neighbor_id, cast(rn as bigint) AS rank, score
         FROM rk WHERE rn <= $k"""
  }

  /** The md5 token hash in portable SQL — first `chars` hex chars parsed by
    * strpos (Dedup.detTokenHash/detTokenHash56's conv(substr(md5(w),1,n),16,10)). */
  private def detHexHashSql(e: String, chars: Int): String =
    (1 to chars).map(p =>
      s"(strpos('0123456789abcdef', substr(md5($e), $p, 1)) - 1) * ${1L << (4 * (chars - p))}")
      .mkString("\n             + ")

  /** Distinct word-3-gram shingle sets (Dedup.detShingleSet) as a CTE body. */
  private val detShingleSetsSql: String =
    """SELECT doc_id, ws FROM (
         SELECT doc_id, list_distinct(list_transform(range(1, len(ts) - 1),
           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS ws
         FROM (SELECT doc_id,
                 list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS ts
               FROM documents)
         WHERE len(ts) >= 3) WHERE len(ws) > 0"""

  private def detMinhashOracleSql: String =
    s"""WITH ne AS ($detShingleSetsSql),
       hs AS (
         SELECT doc_id,
           ${detHexHashSql("w", 7)} AS h
         FROM (SELECT doc_id, unnest(ws) AS w FROM ne)),
       mins AS (
         SELECT doc_id, i,
           min(((i * 2 + 1) * 65537 * h + i * 40503 + 7) % 268435399) AS m
         FROM hs CROSS JOIN (SELECT unnest(range(0, 32)) AS i) seeds
         GROUP BY doc_id, i),
       sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mins GROUP BY doc_id),
       bands AS (
         SELECT doc_id, bnum,
           array_to_string(list_transform(sig[bnum*4+1 : bnum*4+4],
             v -> cast(v as varchar)), ',') AS bucket
         FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS bnum) gb),
       cand AS (
         SELECT ba.doc_id AS id_a, bb.doc_id AS id_b, cast(count(*) as bigint) AS n_bands
         FROM bands ba JOIN bands bb
           ON ba.bnum = bb.bnum AND ba.bucket = bb.bucket AND ba.doc_id < bb.doc_id
         GROUP BY 1, 2)
       SELECT c.id_a, c.id_b, c.n_bands,
         cast(len(list_intersect(x.ws, y.ws)) as bigint) AS inter,
         cast(len(x.ws) + len(y.ws) - len(list_intersect(x.ws, y.ws)) as bigint) AS uni
       FROM cand c JOIN ne x ON c.id_a = x.doc_id JOIN ne y ON c.id_b = y.doc_id
       WHERE len(list_intersect(x.ws, y.ws)) * 10 >=
             (len(x.ws) + len(y.ws) - len(list_intersect(x.ws, y.ws))) * 8"""

  private def detRollingOracleSql: String =
    s"""WITH RECURSIVE toks AS (
         SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
           x -> len(x) > 0) AS ts
         FROM documents),
       mx AS (SELECT max(len(ts)) AS m FROM toks),
       powers AS (
         SELECT 0 AS k, CAST(1 AS BIGINT) AS p
         UNION ALL
         SELECT k + 1, (p * 1000003) % 2147483647 FROM powers
         WHERE k < (SELECT m FROM mx)),
       pos AS (
         SELECT doc_id, len(ts) AS n, g.i AS i, ts[g.i + 1] AS w
         FROM toks, (SELECT unnest(range(0, (SELECT m FROM mx))) AS i) g
         WHERE g.i < len(ts)),
       ph AS (SELECT doc_id, n, i, ${detHexHashSql("w", 7)} AS h FROM pos),
       agg AS (
         SELECT ph.doc_id,
           cast(sum((ph.h * pw.p) % 2147483647) % 2147483647 as bigint) AS fp
         FROM ph JOIN powers pw ON pw.k = ph.n - 1 - ph.i
         GROUP BY ph.doc_id)
       SELECT t.doc_id, coalesce(a.fp, 0) AS fp
       FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id"""

  private def detSimhashOracleSql: String =
    s"""WITH ne AS ($detShingleSetsSql),
       hs AS (
         SELECT doc_id,
           ${detHexHashSql("w", 14)} AS h
         FROM (SELECT doc_id, unnest(ws) AS w FROM ne)),
       bits AS (
         SELECT doc_id, j,
           CASE WHEN sum(((h >> j) & 1) * 2 - 1) >= 0
                THEN cast(1 as bigint) << j ELSE cast(0 as bigint) END AS bitval
         FROM hs CROSS JOIN (SELECT unnest(range(0, 56)) AS j) g
         GROUP BY doc_id, j),
       fp AS (SELECT doc_id, cast(sum(bitval) as bigint) AS fp FROM bits GROUP BY doc_id),
       banded AS (
         SELECT doc_id, fp, bnum, (fp >> (bnum * 14)) & 16383 AS bbits
         FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS bnum) g),
       cand AS (
         SELECT DISTINCT ba.doc_id AS id_a, bb.doc_id AS id_b,
           ba.fp AS fp_a, bb.fp AS fp_b
         FROM banded ba JOIN banded bb
           ON ba.bnum = bb.bnum AND ba.bbits = bb.bbits AND ba.doc_id < bb.doc_id)
       SELECT id_a, id_b,
         cast(list_sum(list_transform(range(0, 56),
           j -> (xor(fp_a, fp_b) >> j) & 1)) as bigint) AS dist
       FROM cand
       WHERE cast(list_sum(list_transform(range(0, 56),
           j -> (xor(fp_a, fp_b) >> j) & 1)) as bigint) <= 3"""
}
