package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Relational operator library — one reusable function per operator family in
  * SURVEY.md §2, expressed as declarative DataFrame transformations so Catalyst
  * keeps full freedom (pushdown, pruning, join-strategy, whole-stage codegen).
  *
  * Scale notes are attached per operator: these run on partitioned data with
  * map-side partial aggregation / broadcast joins wherever the shape allows, so
  * the same code that passes the sf0.01 oracle is the code you would run on a
  * 1000-executor cluster.
  */
object RelOps {

  /** A4 — `SELECT DISTINCT *` whole-row dedup (reference:
    * dags/covid_transforms.py:43-47 and the three sibling DAGs).
    *
    * Spark plans this as a hash-aggregate over all columns with a map-side
    * partial, so at scale only one shuffle of pre-deduped partitions occurs.
    */
  def dedupAll(df: DataFrame): DataFrame = df.distinct()

  /** A1 — entity-collapse dedup: GROUP BY `keys`, MAX of every other column
    * (reference: dags/mmd_transforms.py:74-96, 31 max() columns).
    *
    * NOTE this intentionally mixes values from different source rows within a
    * group (MAX per column, NOT latest-row-wins) — that is the reference's
    * semantics (SURVEY.md §2.12 quirk 3). Partial aggregation makes this a
    * single shuffle keyed on `keys` regardless of column count.
    */
  def collapseByMax(df: DataFrame, keys: Seq[String]): DataFrame = {
    val others = df.columns.filterNot(keys.contains)
    df.groupBy(keys.map(col): _*)
      .agg(others.head -> "max", others.tail.map(_ -> "max"): _*)
      .select(keys.map(col) ++ others.map(c => col(s"max($c)").as(c)): _*)
  }

  /** A2 — greatest-per-group: GROUP BY `keys`, MAX(`orderCol`)
    * (reference: dags/vls_transforms.py:84-97).
    */
  def latestPerGroupAgg(df: DataFrame, keys: Seq[String], orderCol: Column, as: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(max(orderCol).as(as))

  /** A2+J3 fused — latest full row per group via a window, the idiomatic Spark
    * replacement for the reference's MAX-then-rejoin idiom
    * (dags/vls_transforms.py:84-117): one shuffle on the group keys instead of
    * an aggregate shuffle plus a join shuffle. `tiebreak` columns make the
    * result deterministic when `orderCol` ties.
    */
  def latestRowPerGroup(df: DataFrame, keys: Seq[String], orderCol: Column, tiebreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy((orderCol.desc +: tiebreak): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** J1/J2 — fact ⋈ dimension equi-join with an explicit broadcast of the
    * dimension side (reference: dags/covid_transforms.py:58-67,
    * dags/mmd_transforms.py:236-250 — MFL/hub dims are tiny; on a 100 TB fact
    * table this MUST be a broadcast-hash join, never a shuffle).
    */
  def enrichJoin(fact: DataFrame, dim: DataFrame, cond: Column, joinType: String = "inner"): DataFrame =
    fact.join(broadcast(dim), cond, joinType)

  /** J4 — large ⟕ large equi-join (reference: dags/vls_transforms.py:132-148).
    * Both sides shuffle on the key → sort-merge join; AQE converts to
    * broadcast at runtime if one side turns out small.
    */
  def factJoin(left: DataFrame, right: DataFrame, cond: Column, joinType: String = "left"): DataFrame =
    left.join(right, cond, joinType)

  /** F2 — map-driven CASE WHEN normalization, the reference's dominant scalar
    * idiom (12 statements, e.g. dags/hts_transforms.py:104-117).
    * `default` None = passthrough original value (CASE ... ELSE col END);
    * Some(v) = constant fallback; to get SQL's null-when-no-ELSE pass
    * `Some(null)` via [[caseNormalizeOrNull]].
    */
  def caseNormalize(c: Column, mapping: Seq[(String, String)], default: Option[String]): Column = {
    val base = mapping.foldLeft(Option.empty[Column]) { case (acc, (from, to)) =>
      Some(acc.fold(when(c === from, to))(_.when(c === from, to)))
    }.get
    default match {
      case Some(d) => base.otherwise(lit(d))
      case None    => base.otherwise(c)
    }
  }

  /** F2 variant — CASE without ELSE (yields NULL on no match), as used by the
    * reference's suppression branch (dags/vls_transforms.py:181-185).
    */
  def caseNormalizeOrNull(c: Column, mapping: Seq[(String, String)]): Column =
    mapping.foldLeft(Option.empty[Column]) { case (acc, (from, to)) =>
      Some(acc.fold(when(c === from, to))(_.when(c === from, to)))
    }.get

  /** A3 — conditional-count pivot to a single row: SUM(CASE WHEN c = v THEN 1
    * ELSE 0 END) per value (reference: dags/hts_transforms.py:216-225).
    * Global aggregate: partial-aggregates to one row per partition, then a
    * single-row final merge — no full shuffle even at 100 TB.
    */
  def conditionalCounts(df: DataFrame, c: Column, values: Seq[(String, String)]): DataFrame =
    df.agg(
      sum(when(c === values.head._1, 1L).otherwise(0L)).as(values.head._2),
      values.tail.map { case (v, as) => sum(when(c === v, 1L).otherwise(0L)).as(as) }: _*
    )

  /** F1 — bulk column retyping (reference: dags/mmd_transforms.py:52-72, 33
    * casts in one stage). Uses try_cast (malformed → null) regardless of the
    * session's ANSI setting — the deliberate softening documented in
    * SURVEY.md §7: the stringified ingest path manufactures junk ("None",
    * stray text) that the reference had scrubbed before BigQuery ever cast.
    */
  def castColumns(df: DataFrame, types: Map[String, DataType]): DataFrame =
    df.select(df.columns.map(c => types.get(c).fold(col(c))(t => col(c).try_cast(t).as(c))): _*)

  /** S4 first half — stringify every column (reference:
    * dags/dependencies/parquet_solution.py:75 `astype(str)`), with the
    * reference's "None"-string → real null re-normalization
    * (parquet_solution.py:81-82).
    */
  def stringifyAll(df: DataFrame): DataFrame =
    df.select(df.columns.map { c =>
      val s = col(c).cast("string")
      when(s === "None", lit(null)).otherwise(s).as(c)
    }: _*)

  /** P4 — null-filter on one or more columns (reference:
    * dags/vls_transforms.py:56-61; the redundant double-filter collapsed).
    */
  def filterNotNull(df: DataFrame, cols: Seq[String]): DataFrame =
    df.filter(cols.map(col(_).isNotNull).reduce(_ && _))

  /** F3 — BigQuery DATE_DIFF boundary semantics for YEAR: boundaries crossed,
    * not elapsed periods (DATE_DIFF('2023-01-01','2022-12-31',YEAR) = 1).
    * Pure expression composition — stays inside whole-stage codegen.
    * Reference: dags/mmd_transforms.py:102.
    */
  def boundaryDiffYears(end: Column, start: Column): Column =
    (year(end) - year(start)).cast("long")

  /** F3 — BigQuery DATE_DIFF MONTH boundary semantics.
    * Reference: dags/mmd_transforms.py:103.
    */
  def boundaryDiffMonths(end: Column, start: Column): Column =
    (lit(12) * (year(end) - year(start)) + (month(end) - month(start))).cast("long")

  /** F3 — day diff (calendar days, sign = end - start).
    * Reference: dags/hts_transforms.py:84. */
  def boundaryDiffDays(end: Column, start: Column): Column =
    datediff(end, start).cast("long")

  /** §2.6 headroom — deterministic top-k: total order via `order` columns
    * (caller must include a unique tiebreak). Spark plans limit+sort as a
    * TakeOrderedAndProject — per-partition top-k then a k-row merge on the
    * driver, no global sort shuffle.
    */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** §2.7 — UNION DISTINCT across same-schema inputs (reference ingest concat,
    * dags/dependencies/parquet_solution.py:76-78).
    */
  def unionDistinct(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_)).distinct()

  /** As-of join (point-in-time lookup): for each left row, the latest right
    * row with `rightTime <= leftTime` within the same `key` — the operator
    * behind "state of X as of event time". Spark has no built-in; rather
    * than a custom Strategy this composes built-ins (preference tier (a)):
    * tag both sides, UNION, and carry the right side's values forward with
    * `last(_, ignoreNulls)` over a (key, time)-ordered running window, then
    * keep left rows. ONE shuffle on `key` total — the same cost as a plain
    * join — and rows stream through the window in time order (no per-row
    * probing). Right-side rows sort before left rows on time ties, so an
    * exactly-simultaneous right row IS visible (>= semantics, matching
    * DuckDB/kdb ASOF).
    *
    * @param rightVals right columns to carry (emitted as-is, null when no
    *                  right row precedes the left row)
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String,
               rightVals: Seq[String]): DataFrame = {
    val leftCols = left.columns
    val tagged = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
      .select(leftCols.map(col) ++ Seq(col("__t"), col("__side")) ++
        rightVals.map(c => lit(null).cast(right.schema(c).dataType).as(s"__r_$c")): _*)
      .unionByName(
        right.select(Seq(col(key), col(rightTime).as("__t"), lit(0).as("__side")) ++
          rightVals.map(c => col(c).as(s"__r_$c")): _*),
        allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = rightVals.foldLeft(tagged) { (df, c) =>
      df.withColumn(s"__r_$c", last(col(s"__r_$c"), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 1)
      .select(leftCols.map(col) ++ rightVals.map(c => col(s"__r_$c").as(s"asof_$c")): _*)
  }

  /** FORWARD as-of join: each left row takes the EARLIEST right row
    * at-or-after its time (next-event attribution — "the purchase that
    * followed this click"), the mirror of [[asOfJoin]]'s latest-at-or-before.
    * Same one-shuffle union+window construction, with the frame flipped to
    * [current row, ∞) and `first(ignoreNulls)`; left rows sort before right
    * rows on time ties so an exactly-simultaneous right row IS visible
    * (<= semantics, matching DuckDB ASOF with a <= condition).
    */
  def asOfJoinForward(left: DataFrame, right: DataFrame, key: String,
                      leftTime: String, rightTime: String,
                      rightVals: Seq[String]): DataFrame = {
    val leftCols = left.columns
    val tagged = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(0))
      .select(leftCols.map(col) ++ Seq(col("__t"), col("__side")) ++
        rightVals.map(c => lit(null).cast(right.schema(c).dataType).as(s"__r_$c")): _*)
      .unionByName(
        right.select(Seq(col(key), col(rightTime).as("__t"), lit(1).as("__side")) ++
          rightVals.map(c => col(c).as(s"__r_$c")): _*),
        allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(0, Window.unboundedFollowing)
    val carried = rightVals.foldLeft(tagged) { (df, c) =>
      df.withColumn(s"__r_$c", first(col(s"__r_$c"), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 0)
      .select(leftCols.map(col) ++ rightVals.map(c => col(s"__r_$c").as(s"asofnext_$c")): _*)
  }

  /** Range (interval) join: fact rows matched to ranges with
    * `lo <= value <= hi`, rewritten as a BINNED EQUI-JOIN — each range is
    * exploded over the fixed-width bins it covers, the fact row computes its
    * bin, and the join is a plain hash join on the bin plus a residual
    * between-filter. Spark would otherwise plan a broadcast-nested-loop
    * (per-row interval probing); with binning the 100 TB side takes one hash
    * shuffle (or none, with a broadcast range table) and each fact row meets
    * only ranges overlapping its bin. Pick `binWidth` near the median range
    * width: replication factor = avg(rangeWidth/binWidth) + 1.
    */
  def rangeJoinBinned(fact: DataFrame, valueCol: String, ranges: DataFrame,
                      loCol: String, hiCol: String, binWidth: Long): DataFrame = {
    val f = fact.withColumn("__bin", floor(col(valueCol) / binWidth).cast("long"))
    val r = ranges.withColumn("__bin",
      explode(sequence(floor(col(loCol) / binWidth).cast("long"),
        floor(col(hiCol) / binWidth).cast("long"))))
    f.join(broadcast(r), Seq("__bin"))
      .filter(col(valueCol) >= col(loCol) && col(valueCol) <= col(hiCol))
      .drop("__bin")
  }

  /** Skew-resistant equi-join: salt the skewed (large) side into `salts`
    * sub-keys and replicate the other side across all salts, so one hot key
    * spreads over `salts` reducers instead of stalling a single task.
    *
    * Which skew tool at 100 TB (PlanSpec's "AQE splits a skewed sort-merge
    * join" case demonstrates the alternative): AQE's `OptimizeSkewedJoin`
    * rewrites the SCHEDULE at runtime from actual map-output statistics — it
    * costs nothing when there is no skew, needs no salt-count guess, and
    * handles skew on EITHER side — so it is the default for shuffle joins
    * (sort-merge / shuffled-hash over `skewedPartitionThresholdInBytes`).
    * Manual salting rewrites the PLAN and is the right tool where AQE's
    * split cannot apply: skewed AGGREGATIONS (AQE only splits joins), skew
    * feeding a non-shuffle stage, hot keys so extreme one key exceeds a
    * single task's practical ceiling even after byte-splits (the split is by
    * bytes, but every sub-partition of one key still joins the same
    * replicated build rows), or engines/paths with AQE disabled. Salting's
    * price — `salts`× replication of the other side — is why it is opt-in.
    *
    * Semantics: inner/left equi-join on `key` only.
    */
  def saltedJoin(skewed: DataFrame, other: DataFrame, key: String,
                 salts: Int, joinType: String = "inner"): DataFrame = {
    val saltCol = pmod(hash(monotonically_increasing_id()), lit(salts))
    val left = skewed.withColumn("__salt", saltCol)
    val right = other.withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
    left.join(right, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** §2.3 headroom — existence (semi) join: left rows with ≥1 match on the
    * right; the right side contributes NO columns and NEVER multiplies rows,
    * so the planner ships only the join keys of the filter side (broadcast
    * when small) and each left row short-circuits on first match — strictly
    * cheaper than `join∘distinct` at any scale.
    */
  def semiJoin(left: DataFrame, right: DataFrame, cond: Column): DataFrame =
    left.join(right, cond, "left_semi")

  /** §2.3 headroom — anti join: left rows with NO match on the right (the
    * NOT EXISTS shape, e.g. "customers who never ordered"). Same physical
    * properties as [[semiJoin]].
    */
  def antiJoin(left: DataFrame, right: DataFrame, cond: Column): DataFrame =
    left.join(right, cond, "left_anti")

  /** Column profiling (data-quality surface the reference only eyeballed via
    * BI): per column — row count, null count, distinct count, min/max
    * (stringified for a uniform schema).
    *
    * Two physical modes, because MULTIPLE exact distincts in one aggregate
    * make Catalyst Expand every row (cols+1)× before the shuffle — measured
    * 5× slower than scanning per column at sf0.1:
    *  - `exact = true`: one pass PER COLUMN (each a plain two-phase
    *    single-distinct aggregate, no Expand). Right while profiling is
    *    aggregation-bound.
    *  - `exact = false`: ONE scan total with `approx_count_distinct` (2%
    *    rsd) for every column — no Expand, no extra passes. Right at the
    *    100 TB scan-bound regime, where a 2% distinct estimate is what a
    *    profiler wants anyway.
    */
  def profileColumns(df: DataFrame, cols: Seq[String], exact: Boolean = true): DataFrame =
    if (exact)
      cols.map { c =>
        df.agg(
          count(lit(1)).as("n_rows"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_str"),
          max(col(c)).cast("string").as("max_str"))
          .select(lit(c).as("column_name"), col("n_rows"), col("n_null"),
            col("n_distinct"), col("min_str"), col("max_str"))
      }.reduce(_.unionByName(_))
    else {
      val aggs = cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
        approx_count_distinct(col(c), 0.02).as(s"nd_$c"),
        min(col(c)).cast("string").as(s"min_$c"),
        max(col(c)).cast("string").as(s"max_$c")))
      val one = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
      val stackArgs = cols.map(c => s"'$c', `null_$c`, `nd_$c`, `min_$c`, `max_$c`").mkString(", ")
      one.selectExpr("n_rows",
        s"stack(${cols.size}, $stackArgs) AS (column_name, n_null, n_distinct, min_str, max_str)")
        .select(col("column_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_str"), col("max_str"))
    }

  /** Observation carry-forward ("fill down"): the last non-null value of
    * `value` at or before each row in `(keys, order)` — the ETL idiom for
    * sparse observations (e.g. latest recorded weight per patient as of each
    * visit). Same single-shuffle running-window machinery as [[asOfJoin]]
    * (which is fillDown across two tables).
    */
  def fillDown(df: DataFrame, keys: Seq[String], order: Seq[Column],
               value: Column, as: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn(as, last(value, ignoreNulls = true).over(w))
  }

  /** Second-moment statistics (sample variance/stddev of `x`, correlation of
    * `x`,`y`) computed from EXACT INTEGER sufficient statistics
    * (n, Σx, Σx², Σy, Σy², Σxy as BIGINTs) with the float math confined to
    * one final identical formula — so the result is bit-reproducible across
    * engines and run orders, unlike streaming `stddev`/`corr` aggregates
    * whose accumulation order varies. The sufficient statistics are also
    * MERGEABLE: at 100 TB, keep (n, Σx, …) per partition/day and re-derive
    * any window's moments without rescanning — same pattern as the HLL
    * sketches. `x`,`y` must be integer-typed (the sums must stay exact).
    */
  def momentStats(df: DataFrame, groupKeys: Seq[String], x: Column, y: Column): DataFrame = {
    val g = df.groupBy(groupKeys.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"), sum(x * x).as("sxx"),
      sum(y).as("sy"), sum(y * y).as("syy"),
      sum(x * y).as("sxy"))
    val varX = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") /
      (col("n") * (col("n") - 1)).cast("double")
    val corrXY = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
       sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
    g.select(groupKeys.map(col) ++ Seq(col("n"), varX.as("var_x"),
      sqrt(varX).as("stddev_x"), corrXY.as("corr_xy")): _*)
  }

  /** §2.4 headroom — distinct-count sketches: exact, approximate (HLL++ with
    * rsd), and a mergeable Datasketches HLL state (hll_sketch_agg) for
    * re-aggregation across partitions/days without rescanning — the pattern
    * a 100 TB rollup needs.
    */
  def distinctCounts(df: DataFrame, groupKeys: Seq[String], target: String): DataFrame =
    df.groupBy(groupKeys.map(col): _*).agg(
      countDistinct(col(target)).as("exact_distinct"),
      approx_count_distinct(col(target), 0.02).as("approx_distinct"),
      hll_sketch_estimate(hll_sketch_agg(col(target))).as("hll_estimate"))

  /** [[distinctCounts]]' ENGINE-EXACT form (q26): exact distinct beside the
    * deterministic md5-HLL estimate ([[graft.sketch.DetHll]]) — every value
    * a closed-form integer/md5 function plus one mirrored double division,
    * so the sketch ESTIMATE itself is oracle-checkable where the library
    * sketches above are bound only by their error guarantees (those stay
    * spec-pinned differentially, SketchPropertySpec). One fact scan into a
    * (keys, value)-distinct shuffle; both outputs then aggregate the
    * distinct pairs — register max is duplicate-invariant, so sketching
    * after distinct is identical to sketching the raw stream. */
  def distinctCountsDet(df: DataFrame, groupKeys: Seq[String], target: String): DataFrame = {
    import graft.sketch.DetHll
    val d = df.select((groupKeys.map(col) :+ col(target).as("__t")): _*).distinct()
    val exact = d.groupBy(groupKeys.map(col): _*).agg(count(lit(1)).as("exact_distinct"))
    val est = DetHll.estimate(DetHll.registers(d, groupKeys, col("__t")),
      groupKeys, outCol = "approx_distinct")
    exact.join(est, groupKeys)
  }

  /** DETERMINISTIC Bernoulli sampling keyed on a stable column — the
    * reproducible alternative to `df.sample()` (whose output depends on
    * partitioning and row order, so it can't be oracle-checked or re-run
    * byte-identically). A row is kept iff the first 4 hex chars of
    * md5(key) fall below rate·65536 — md5 of the same key string is the
    * same everywhere (any engine, any partitioning, any day), which is
    * exactly what a training-data pipeline needs for held-out splits:
    * membership is a pure function of the key, so re-ingesting or
    * re-partitioning the corpus never migrates rows across splits. Plain
    * filter over a codegen'd hash — pipelines inside the scan, no shuffle,
    * no RNG state.
    */
  def hashSampleFilter(key: Column, rate: Double): Column = {
    require(rate >= 0 && rate <= 1, s"rate must be in [0,1]: $rate")
    // rate 1.0 must short-circuit: its threshold would format as the 5-char
    // "10000", which sorts BELOW most 4-char hex strings lexicographically
    if (rate >= 1.0) lit(true)
    else {
      val threshold = f"${math.round(rate * 65536).toInt}%04x"
      substring(md5(key.cast("string").cast("binary")), 1, 4) < lit(threshold)
    }
  }

  /** DATA-MIXTURE SAMPLING to a TOKEN BUDGET — the source-mixing step of
    * a training-data recipe (the Pile's per-source weights, DoReMi's
    * learned mixture): given target WEIGHTS per source and a total token
    * budget, down-sample each source deterministically so its expected
    * token contribution is budget·wₛ/Σw, never migrating rows across
    * re-ingests (membership is a pure function of the key, like
    * [[hashSampleFilter]]).
    *
    * All-integer membership: keep a row of source s iff
    *   h16(key) · availₛ · Σw < budget · wₛ · 65536
    * where availₛ = Σ tokens in s (ONE tiny aggregate, broadcast back) and
    * h16 = first 16 md5 bits — the exact rational threshold
    * min(1, budget·wₛ/(Σw·availₛ)) with no float anywhere, so the kept set
    * is engine-exact and a source whose target exceeds its supply is kept
    * whole (rate clamps at 1: h16 < 65536 always). Envelope: both predicate
    * sides must fit in int64 — availₛ·Σw ≤ 2⁶³/2¹⁶ ≈ 1.4·10¹⁴ (so ~10¹¹
    * tokens per source at Σw ≤ 10³) and budget·wₛ ≤ 2⁶³/2¹⁶ — and both are
    * GUARDED, not assumed: the budget side is a driver-side require (all
    * terms known), the avail side a raise_error on the #sources-row
    * aggregate (data-dependent), so a violating corpus fails loudly instead
    * of wrapping the non-ANSI long multiply into silent verdict corruption.
    * Past the envelope, rescale the weights (only ratios matter) or split
    * the source.
    *
    * Scale shape: one source-keyed aggregate (output = #sources rows),
    * one broadcast join, one codegen'd filter fused into the scan — the
    * corpus never shuffles. Returns the kept rows with `__avail`/`__w`
    * attached for downstream accounting.
    */
  def mixtureSample(docs: DataFrame, sourceCol: String, tokens: Column,
                    keyCol: Column, targets: Seq[(String, Long)],
                    totalBudget: Long): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 >= 0) && totalBudget >= 0,
      s"mixtureSample: targets=$targets budget=$totalBudget")
    val spark = docs.sparkSession
    import spark.implicits._
    val wSum = targets.map(_._2).sum
    require(wSum > 0, "mixtureSample: zero total weight")
    // overflow envelope (see doc): RHS terms are all driver-known — check
    // exactly here; LHS's avail is data-dependent — raise_error below.
    val envBound = Long.MaxValue / 65536L
    val wMax = targets.map(_._2).max
    require(totalBudget == 0L || wMax <= envBound / totalBudget,
      s"mixtureSample: budget·w = ${totalBudget}·${wMax} exceeds the long envelope " +
        s"(budget·w must be ≤ $envBound) — rescale the weights (only ratios matter)")
    val availBound = envBound / wSum
    val tgt = targets.toDF(sourceCol, "__w")
    val avail = docs.groupBy(col(sourceCol)).agg(sum(tokens).as("__avail"))
      // per-source guard on the #sources-row aggregate (not the corpus):
      // h16 < 2¹⁶, so h16·avail·Σw fits iff avail·Σw ≤ 2⁶³/2¹⁶
      .filter(when(col("__avail") > lit(availBound),
        raise_error(concat(lit("mixtureSample: source token supply "),
          col("__avail").cast("string"),
          lit(s" exceeds the long envelope (max $availBound at sum-of-weights=" +
            s"$wSum) — rescale weights or split the source"))))
        .otherwise(lit(true)))
    val h16 = conv(substring(md5(keyCol.cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long")
    docs
      .join(broadcast(avail.join(tgt, sourceCol)), sourceCol)
      .filter(h16 * col("__avail") * lit(wSum) <
        lit(totalBudget) * col("__w") * lit(65536L))
  }

  /** PER-GROUP QUOTA CAP — the C4/RefinedWeb "at most N documents per
    * domain" curation step: keep up to `n` rows per group, chosen
    * DETERMINISTICALLY by md5(key) order (a seedless pseudo-random draw,
    * reproducible in any engine and immune to partitioning) with the key
    * itself as the tiebreak. One window shuffle keyed on the group column;
    * each group is ranked in a single pass, so at 100 TB the cost is one
    * exchange of (group, key) — the quota never sees row payloads until
    * the surviving rows are selected.
    */
  def groupQuota(df: DataFrame, groupCol: String, keyCol: String, n: Int): DataFrame = {
    require(n >= 1, s"groupQuota: n=$n")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
      .orderBy(substring(md5(col(keyCol).cast("string").cast("binary")), 1, 8), col(keyCol))
    df.withColumn("__quota_rn", row_number().over(w))
      .filter(col("__quota_rn") <= n).drop("__quota_rn")
  }

  /** Multi-way DETERMINISTIC split labeling (train/val/test): the labeling
    * form of [[hashSampleFilter]] — each key lands in exactly one split,
    * decided by where its md5 bucket falls among the cumulative fractions.
    * Same reproducibility contract: membership is a pure function of the
    * key, immune to re-partitioning and re-ingestion, and mirrorable in any
    * engine with md5.
    */
  def hashSplit(key: Column, splits: Seq[(String, Double)]): Column = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1: $splits")
    val bucket = substring(md5(key.cast("string").cast("binary")), 1, 4)
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    splits.init.zip(cum.init).foldRight(lit(splits.last._1): Column) {
      case (((label, _), cumFrac), rest) =>
        when(bucket < lit(f"${math.round(cumFrac * 65536).toInt}%04x"), label).otherwise(rest)
    }
  }

  /** Min-max feature scaling within a group: (x − min)/(max − min) over a
    * whole-partition window. min/max SELECT existing values (no float
    * accumulation), and the only arithmetic is one subtraction pair and one
    * division — deterministic IEEE ops mirrored verbatim by the oracle.
    * Window-without-ORDER-BY = one shuffle on the group key, each partition
    * computed in a single pass.
    */
  def minMaxScale(df: DataFrame, groupKey: String, x: Column, as: String): DataFrame = {
    val w = Window.partitionBy(col(groupKey))
    val lo = min(x).over(w); val hi = max(x).over(w)
    df.withColumn(as, when(hi === lo, lit(0.5)).otherwise((x - lo) / (hi - lo)))
  }

  /** Per-row z-scores (and |z|>`sigmas` outlier flags) from EXACT INTEGER
    * sufficient statistics: the tiny per-group (n, Σx, Σx²) aggregate is
    * broadcast back onto the fact rows, so the scan side never shuffles —
    * the anomaly-detection shape that survives 100 TB (stats are O(groups),
    * facts stream through map-side). Float math is confined to one final
    * formula identical on both engines (see [[momentStats]] for why not
    * `stddev_samp` directly). `x` must be integer-typed.
    */
  def zscore(df: DataFrame, groupKey: String, x: Column, as: String): DataFrame = {
    val stats = df.groupBy(col(groupKey)).agg(
      count(lit(1)).as("__n"), sum(x).as("__sx"), sum(x * x).as("__sxx"))
    val z = (x.cast("double") - col("__sx").cast("double") / col("__n").cast("double")) /
      sqrt((col("__n") * col("__sxx") - col("__sx") * col("__sx")).cast("double") /
        (col("__n") * (col("__n") - 1)).cast("double"))
    df.join(broadcast(stats), groupKey)
      .withColumn(as, z)
      .drop("__n", "__sx", "__sxx")
  }

  /** ROBUST per-group outlier flags via the median / MAD (median absolute
    * deviation) — the heavy-tail-safe sibling of [[zscore]]: a single
    * wild value drags a mean and explodes a stddev (masking the very
    * outlier it should expose), but moves a median not at all. `x` must
    * be integer-typed; medians are the exact LOWER order statistic
    * (rn = (n+1) div 2, the q119 discipline) and the flag is the pure
    * integer compare |x − med| > c·mad — no float anywhere, so flags are
    * engine-exact. A value is NOT flagged when mad = 0 and x = med (the
    * degenerate constant group).
    *
    * Cost: two window passes on the SAME group key (one exchange, reused
    * — rank x, then rank |x − med|) plus two tiny per-group joins.
    * Appends `med`, `mad`, `is_out`.
    */
  def withMadFlag(df: DataFrame, groupKey: String, x: Column, c: Long = 3L): DataFrame = {
    val byX = Window.partitionBy(col(groupKey)).orderBy(x.asc)
    val grp = Window.partitionBy(col(groupKey))
    val med = df
      .withColumn("__rn", row_number().over(byX))
      .withColumn("__n", count(lit(1)).over(grp))
      .groupBy(col(groupKey))
      .agg(max(when(col("__rn") === expr("(__n + 1) div 2"), x)).as("med"))
    val withMed = df.join(broadcast(med), groupKey)
      .withColumn("__ad", abs(x - col("med")))
    val byAd = Window.partitionBy(col(groupKey)).orderBy(col("__ad").asc)
    val mad = withMed
      .withColumn("__rn", row_number().over(byAd))
      .withColumn("__n", count(lit(1)).over(grp))
      .groupBy(col(groupKey))
      .agg(max(when(col("__rn") === expr("(__n + 1) div 2"), col("__ad"))).as("mad"))
    withMed.join(broadcast(mad), groupKey)
      .withColumn("is_out", col("__ad") > lit(c) * col("mad"))
      .drop("__ad")
  }

  /** Per-group OLS TREND as an exact integer rational: slope =
    * slope_num / slope_den with slope_num = n·Σxy − Σx·Σy and
    * slope_den = n·Σx² − (Σx)² — n² times the covariance/variance, so the
    * sign IS the trend direction and ratios compare across groups without
    * ever dividing (the q211/q228 deferred-division discipline applied to
    * regression). One aggregation, all integer ⇒ hash-exact.
    *
    * Both inputs must be integer-typed and PRE-CENTERED/COARSENED by the
    * caller to fit the envelope: |x|·|y|·n² < 2⁶³ (e.g. days-from-pivot ×
    * value in thousands holds to n ≈ 3·10⁶ per group; beyond that,
    * pre-aggregate to a daily rollup first — which is what a 100 TB trend
    * job should do anyway, and what keeps this a single tiny-output
    * aggregation at any corpus size).
    */
  def olsTrendPair(df: DataFrame, groupKey: String, x: Column, y: Column): DataFrame =
    df.groupBy(col(groupKey))
      .agg(count(lit(1)).as("n"), sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * y).as("__sxy"), sum(x * x).as("__sxx"))
      .select(col(groupKey), col("n"),
        (col("n") * col("__sxy") - col("__sx") * col("__sy")).as("slope_num"),
        (col("n") * col("__sxx") - col("__sx") * col("__sx")).as("slope_den"))

  /** CUSUM CHANGE-POINT statistic per group (Page 1954, the scaled
    * integer form): order the series by (`ordCol`, `tieCol`), and with
    * S_i the prefix sum of x and S_n the total, the drift-free deviation
    * T_i = n·S_i − i·S_n is zero for a flat series and bows out where the
    * mean shifts — max |T_i| is the change evidence, argmax i the
    * estimated change point (ties → earliest). All integer (T_i is n·
    * (S_i − i·S_n/n) without the division), so the statistic AND the
    * located index are engine-exact. Envelope: |x|·n² < 2⁶³.
    *
    * One window pass per group (rank + prefix sum on the same ordering —
    * a single exchange) and one argmax aggregate. Output: per group —
    * n, cusum_stat = max|T_i|, cusum_at = the 1-based index of the max.
    *
    * CALLER OBLIGATION (as with [[topK]]): (`ordCol`, `tieCol`) must be a
    * UNIQUE total order within each group. On exact ties both row_number
    * and the ROWS-frame prefix sum depend on partition arrival order, so
    * cusum_stat/cusum_at can vary run to run — pass a unique id (event_id,
    * file+offset) as the tiebreak.
    */
  def cusumMax(df: DataFrame, groupKey: String, ordCol: Column, tieCol: Column,
               x: Column): DataFrame = {
    val w = Window.partitionBy(col(groupKey)).orderBy(ordCol.asc, tieCol.asc)
    // explicit ROWS frame: the default RANGE frame sums over order-value
    // peers, which only matches row-at-a-time CUSUM when (ord, tie) is
    // unique — make the frame unconditional instead of relying on that
    val wSum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupKey))
    df.withColumn("__i", row_number().over(w).cast("long"))
      .withColumn("__s", sum(x).over(wSum))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__tot", sum(x).over(wAll))
      .withColumn("__t", abs(col("__n") * col("__s") - col("__i") * col("__tot")))
      .groupBy(col(groupKey))
      .agg(max(col("__n")).as("n"),
        max(struct(col("__t"), (-col("__i")).as("ni"))).as("m"))
      .select(col(groupKey), col("n"), col("m.__t").as("cusum_stat"),
        (-col("m.ni")).as("cusum_at"))
  }
}
