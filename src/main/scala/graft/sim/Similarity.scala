package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding column
  * (`array<float>`). Two tiers:
  *
  *  - [[bruteForceTopK]]: exact cosine top-k. Queries broadcast; the corpus
  *    streams — the right baseline, and the right *tool* whenever the query
  *    set is small (the 100 TB side never shuffles, each corpus partition
  *    emits at most |Q|·k rows after the per-partition window prune).
  *  - [[lshBucketTopK]]: random-hyperplane LSH — corpus hashed once to L×nbits
  *    sign buckets; candidate generation is an equi-join on (table, bucket).
  *    This is the scale path when |Q| is large: no cross product ever forms.
  *
  * All vector math is higher-order-function expressions over the native
  * `array<float>` column — codegen'd, no UDF, accumulation in double
  * left-to-right (deterministic).
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.sim.Similarity")

  /** Codegen'd fused kernels (graft.functions.VectorExprs) — one pass, double
    * accumulation, same value as the HOF zip_with/aggregate form but without
    * per-element interpreted lambda dispatch. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dot_product(a, b)

  def cosine(a: Column, b: Column): Column = graft.functions.VectorExprs.cosine_sim(a, b)

  /** HOF reference implementation, kept for differential testing. */
  def cosineHof(a: Column, b: Column): Column = {
    def d(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")), lit(0.0d), (acc, v) => acc + v)
    d(a, b) / (sqrt(d(a, a)) * sqrt(d(b, b)))
  }

  /** Exact brute-force cosine top-k: for each row of `queries`, the `k`
    * nearest `corpus` rows. Deterministic tie-break on corpus id. The join is
    * an explicit broadcast of the query side — the corpus side never moves.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     qId: String = "query_id", qVec: String = "query_vec",
                     cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val pairs = corpus.join(broadcast(queries), col(qId) =!= col(cId))
      .withColumn("cos_sim", cosine(col(qVec), col(cVec)))
    val w = Window.partitionBy(col(qId)).orderBy(col("cos_sim").desc, col(cId).asc)
    pairs.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= k)
      .select(col(qId), col(cId).as("neighbor_id"), col("cos_sim"), col("__rk").as("rank"))
  }

  /** k-NN LABEL CLASSIFICATION by majority vote: predict each query's label
    * from its k nearest labeled neighbors — the embedding-space annotation /
    * label-propagation / mislabel-QA pass a training corpus runs after
    * similarity search. Takes ANY neighbor producer's output ((qId, nId)
    * pairs — [[bruteForceTopK]] for exactness, [[ivfTopK]]/[[pqTopK]] at
    * scale), so the vote itself is search-strategy-agnostic: one equi-join
    * to the label table plus two tiny aggregations keyed by query. Ties →
    * smallest label (deterministic, oracle-mirrorable); the argmax is one
    * struct-max, not a second window pass.
    */
  def knnClassify(neighbors: DataFrame, labels: DataFrame,
                  qId: String = "query_id", nId: String = "neighbor_id",
                  labelCol: String = "label"): DataFrame = {
    // the smallest-label tie-break negates the label, which silently
    // yields NULL pred_label for every row on a string label column —
    // refuse loudly instead (map string labels to codes upstream)
    require(labels.schema(labelCol).dataType.isInstanceOf[
        org.apache.spark.sql.types.NumericType],
      s"knnClassify: label column '$labelCol' must be numeric " +
        s"(got ${labels.schema(labelCol).dataType}) — the smallest-label " +
        "tie-break negates it; encode categorical labels first")
    neighbors.select(qId, nId).join(labels, nId)
      .groupBy(col(qId), col(labelCol))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col(qId))
      .agg(max(struct(col("votes"), (-col(labelCol)).cast("long").as("neg"))).as("m"))
      .select(col(qId), (-col("m.neg")).as("pred_label"), col("m.votes").as("votes"))
  }

  /** QUANTIZED SPARSE RANDOM PROJECTION — the Achlioptas {−1, 0, +1} flavor
    * of the Johnson–Lindenstrauss transform over integer-quantized
    * embeddings: x → round(x·2¹⁰) (float→double is exact and ·2¹⁰ is a pure
    * exponent shift, so the only rounding is the final round itself), then
    * out_j = Σ_i q_i · R(i, j) with the matrix entry R(i, j) =
    * ((x·(x+1) mod 4099) mod 3) − 1 where x = i·131 + j·37 — a closed-form
    * integer formula: no stored matrix, no RNG state, bit-exact in ANY
    * engine and under ANY partitioning. (Both the quadratic and the prime
    * 4099 > 4096 are load-bearing: an AFFINE x mod P mod 3 is
    * translation-structured — columns j and j+d alias wherever d·37 mod P
    * lands on a multiple of 3 and no wrap intervenes, which duplicated
    * output dimensions under the r6-era mod 101 AND under a plain
    * mod-4099 swap; squaring breaks the translation symmetry, measured
    * 256/256 distinct columns × 64/64 distinct rows in Round6Spec.)
    * This is the
    * dimensionality-reduction pass a 100 TB ANN
    * pipeline runs before indexing; the all-integer formulation means it
    * gets a hash-exact DuckDB oracle rather than a rows-only waiver.
    * Long output shape (id, dim, val) keeps the comparison scalar. Pure
    * codegen'd transform/aggregate lambdas inside the scan — zero shuffle.
    */
  def jlProjectQuantized(df: DataFrame, idCol: String, vecCol: String,
                         outDims: Int): DataFrame = {
    require(outDims >= 1 && outDims <= 4096, s"jlProjectQuantized: outDims=$outDims")
    df.select(col(idCol),
        quantize1024(col(vecCol)).as("qv"))
      .withColumn("dim", explode(expr(s"sequence(0, ${outDims - 1})")))
      .withColumn("val", expr(
        """aggregate(sequence(0, size(qv) - 1), 0L,
          |  (acc, i) -> acc + element_at(qv, i + 1) *
          |    (cast(cast(i * 131 + dim * 37 as bigint) *
          |          cast(i * 131 + dim * 37 + 1 as bigint) % 4099 % 3 as bigint) - 1))""".stripMargin))
      .select(col(idCol), col("dim").cast("long").as("dim"), col("val"))
  }

  /** QUANTIZED NEAREST-CENTROID SHARDING — partition a corpus into k shards
    * by nearest centroid, the assignment step of IVF/k-means corpus layout
    * (one Lloyd E-step with fixed seeds), made ENGINE-EXACT: vectors are
    * integer-quantized with the proven q210 scheme (round(x·2¹⁰) — the ·2¹⁰
    * is a pure exponent shift so the only rounding is round itself), seed
    * centroids are the k smallest ids (deterministic, no RNG), distances
    * are exact integer Σ(Δq)², and ties break to the smaller centroid id
    * via one struct-min — so shard membership is bit-identical in any
    * engine and under any partitioning, and the operator earns a hash-exact
    * oracle where classic k-means (float sums, RNG init) never could.
    *
    * Scale shape: centroids are broadcast (k rows), the corpus is scanned
    * once, the argmin is a map-side struct-min — no shuffle until the final
    * k-row rollup. This is how a 100 TB embedding corpus gets laid out into
    * locality shards before index build.
    *
    * Output: per centroid — n_vecs, sum of squared quantized distance,
    * min/max assigned id.
    */
  def centroidShardQuantized(vecs: DataFrame, idCol: String, vecCol: String,
                             k: Int): DataFrame = {
    require(k >= 1 && k <= 4096, s"centroidShardQuantized: k=$k")
    val q = vecs.select(col(idCol).as("__vid"),
      quantize1024(col(vecCol)).as("__qv"))
    val cents = q.orderBy(col("__vid").asc).limit(k)
      .select(col("__vid").as("centroid_id"), col("__qv").as("__cv"))
    q.crossJoin(broadcast(cents))
      // codegen'd integer kernel — the zip_with/aggregate HOF form costs
      // interpreted lambda dispatch per element (~2 s at 2k×8×64; this is
      // the corpus×k hot loop, so it scales that cost)
      .withColumn("__d", graft.functions.VectorExprs.quantized_sqdist(col("__qv"), col("__cv")))
      .groupBy(col("__vid"))
      .agg(min(struct(col("__d"), col("centroid_id"))).as("m"))
      .select(col("__vid"), col("m.centroid_id").as("centroid_id"), col("m.__d").as("sqdist"))
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n_vecs"), sum(col("sqdist")).as("sum_sqdist"),
        min(col("__vid")).as("min_vec"), max(col("__vid")).as("max_vec"))
  }

  /** DISTRIBUTED QUANTIZED K-MEANS (Lloyd's algorithm, `iters` full E+M
    * rounds after the q214 seed assignment) — the clustering pass of a
    * SemDeDup-style curation pipeline (Abbas et al., arXiv:2303.09540:
    * cluster, then dedup within clusters) and of IVF index training, made
    * ENGINE-EXACT end-to-end: q210's round(x·2¹⁰) integer quantization,
    * seeds = the k smallest ids (cluster j = rank-j seed), exact integer
    * Σ(Δq)² distances with struct-min tiebreak to the smaller cluster,
    * and an ALL-INTEGER M-step — the new centroid coordinate is
    * floorDiv(Σ q_d, n), empty clusters keep their previous centroid — so
    * every iteration, not just the first, is bit-identical in any engine.
    *
    * Scale shape per iteration: centroids broadcast (k·dim longs), one
    * corpus scan, map-side struct-min argmin, then ONE shuffle of
    * (cluster, dim) partial sums — k·dim cells regardless of corpus size.
    * The k·dim new-centroid sums are collected to the driver between
    * iterations (bounded by the k ≤ 4096 require, like the IVF centroid
    * sample) to keep each round an independent O(n) job instead of a
    * recursive lineage tower. The corpus is re-scanned once per iteration
    * (+1 for the final assignment); at 100 TB persist or checkpoint the
    * quantized projection first — the iteration logic is unchanged.
    *
    * Output: per cluster — final n_vecs, inertia (Σ sqdist), min/max
    * assigned id, and centroid_l1 = Σ_d |c_d| (a scalar digest that pins
    * the learned centroid itself, not just the memberships).
    */
  /** The quantized projection (__vid, __qv) shared by the k-means family. */
  private def quantizedCorpus(vecs: DataFrame, idCol: String, vecCol: String): DataFrame =
    vecs.select(col(idCol).cast("long").as("__vid"), quantize1024(col(vecCol)).as("__qv"))

  /** One E-step: nearest centroid per vector (exact integer sqdist,
    * struct-min tiebreak to the smaller cluster id). */
  private def kmeansAssign(q: DataFrame, cents: DataFrame): DataFrame =
    q.crossJoin(broadcast(cents))
      .withColumn("__d", graft.functions.VectorExprs.quantized_sqdist(col("__qv"), col("__cv")))
      .groupBy(col("__vid"))
      .agg(min(struct(col("__d"), col("cluster"), col("__qv"))).as("m"))
      .select(col("__vid"), col("m.cluster").as("cluster"),
        col("m.__d").as("sqd"), col("m.__qv").as("__qv"))

  /** The trained centroid table (cluster 0..k−1, quantized vector) after
    * `iters` Lloyd rounds — [[kmeansQuantized]]'s training loop, exposed
    * for operators that BUILD on the centroids (deterministic IVF q224). */
  def kmeansCentroidsQuantized(vecs: DataFrame, idCol: String, vecCol: String,
                               k: Int, iters: Int): DataFrame = {
    require(k >= 1 && k <= 4096, s"kmeansCentroidsQuantized: k=$k")
    require(iters >= 0 && iters <= 16, s"kmeansCentroidsQuantized: iters=$iters")
    val spark = vecs.sparkSession
    import spark.implicits._
    val q = quantizedCorpus(vecs, idCol, vecCol)
    // seeds: rank-ordered k smallest ids (bounded collect, k·dim longs)
    var cents: DataFrame = q.orderBy(col("__vid").asc).limit(k)
      .collect().sortBy(_.getLong(0)).zipWithIndex
      .map { case (r, j) => (j.toLong, r.getSeq[Long](1)) }
      .toSeq.toDF("cluster", "__cv")
    for (_ <- 1 to iters) {
      val sums = kmeansAssign(q, cents)
        .select(col("cluster"), posexplode(col("__qv")).as(Seq("d", "v")))
        .groupBy(col("cluster"), col("d"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .collect() // bounded: ≤ k·dim cells (the require above)
      val updated = sums.groupBy(_.getLong(0)).map { case (c, rows) =>
        c -> rows.sortBy(_.getInt(1)).map(r => math.floorDiv(r.getLong(2), r.getLong(3))).toSeq
      }
      val prev = cents.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      cents = prev.keys.toSeq.sorted
        .map(c => (c, updated.getOrElse(c, prev(c)))) // empty cluster keeps its centroid
        .toDF("cluster", "__cv")
    }
    cents
  }

  def kmeansQuantized(vecs: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int): DataFrame = {
    val q = quantizedCorpus(vecs, idCol, vecCol)
    val cents = kmeansCentroidsQuantized(vecs, idCol, vecCol, k, iters)
    def assign(c: DataFrame): DataFrame = kmeansAssign(q, c)

    val l1 = cents.select(col("cluster"),
      expr("aggregate(__cv, 0L, (acc, x) -> acc + abs(x))").as("centroid_l1"))
    assign(cents)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"), sum(col("sqd")).as("inertia"),
        min(col("__vid")).as("min_vec"), max(col("__vid")).as("max_vec"))
      .join(l1, Seq("cluster"), "right")
      .select(col("cluster"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        coalesce(col("inertia"), lit(0L)).as("inertia"),
        col("min_vec"), col("max_vec"), col("centroid_l1"))
  }

  /** SEMDEDUP — semantic deduplication by cluster-then-dedup (Abbas et
    * al., "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): partition the corpus into k
    * centroid shards (the q214 seed assignment), find pairs WITHIN each
    * shard whose cosine ≥ τ, connect them into duplicate groups, and keep
    * the minimum-id representative per group. Restricting the pair search
    * to one shard is the paper's core trick — Σ (n/k)² pairwise work
    * instead of n², with k grown alongside the corpus (√n, like IVF cell
    * counts) so shard sizes stay bounded — and is also its documented
    * recall boundary: a cross-shard near-dup pair is invisible by design.
    *
    * Engine-exact throughout: quantized integer vectors, and the cosine
    * threshold as a cross-multiplied ALL-INTEGER predicate —
    * cos(a,b) ≥ τ  ⟺  dot > 0 ∧ dot²·tau2Den ≥ |a|²·|b|²·tau2Num
    * (τ² = tau2Num/tau2Den, e.g. 81/400 for τ = 0.45) — no float compare
    * anywhere, so the kept set is bit-identical in any engine. The pair
    * join derives dot from the codegen'd sqdist kernel
    * (dot = (|a|² + |b|² − sqdist)/2, exact: the numerator is even), so
    * the hot loop stays whole-stage-codegen'd. Components via
    * [[graft.dedup.Clusters.connectedComponents]] (pointer jumping;
    * near-dup groups close in ~2 rounds).
    *
    * Output: per non-empty shard — n_vecs, n_kept (number of duplicate
    * groups incl. singletons) and sum_kept (Σ of kept ids — a digest that
    * pins exactly WHICH representatives survive).
    *
    * `keepFarthest = true` switches the representative rule from min-id to
    * the paper's diversity-preserving choice: keep the group member
    * FARTHEST from its shard centroid (max integer sqdist, ties to the
    * smaller id) — still fully integer-decided, still hash-exact.
    */
  /** The shard-assignment + within-shard integer cosine-threshold edge
    * generation [[semDedupQuantized]] is built on, exposed for operators
    * that consume the PAIRS rather than the kept set (cross-split leakage
    * audits, duplicate-graph analytics). Returns (assign, edges):
    * assign = (__vid, centroid_id, __qv, __cd, __nr), edges = (id_a, id_b)
    * with id_a < id_b and cos ≥ √(tau2Num/tau2Den) decided all-integer. */
  private[sim] def semanticShardPairs(vecs: DataFrame, idCol: String, vecCol: String,
                                      k: Int, tau2Num: Long, tau2Den: Long): (DataFrame, DataFrame) = {
    require(k >= 1 && k <= 4096, s"semanticShardPairs: k=$k")
    require(tau2Num > 0 && tau2Den > 0, "semanticShardPairs: τ² must be a positive rational")
    // overflow envelope: by Cauchy-Schwarz dot² ≤ na·nb, so both predicate
    // sides are ≤ na·nb·max(τ² terms); na ≤ dim·qmax² is data-dependent,
    // so the per-row guard below (raise_error) backstops what this static
    // bound cannot see. A silent wrap would corrupt the kept/dup verdicts.
    require(tau2Num <= (1L << 20) && tau2Den <= (1L << 20),
      s"semanticShardPairs: τ² terms must be ≤ 2^20 (got $tau2Num/$tau2Den) — " +
        "larger denominators push the integer predicate past the long envelope")
    val q = vecs.select(col(idCol).cast("long").as("__vid"),
      quantize1024(col(vecCol)).as("__qv"))
    val cents = q.orderBy(col("__vid").asc).limit(k)
      .select(col("__vid").as("centroid_id"), col("__qv").as("__cv"))
    val assign = q.crossJoin(broadcast(cents))
      .withColumn("__d", graft.functions.VectorExprs.quantized_sqdist(col("__qv"), col("__cv")))
      .groupBy(col("__vid"))
      .agg(min(struct(col("__d"), col("centroid_id"), col("__qv"))).as("m"))
      .select(col("__vid"), col("m.centroid_id").as("centroid_id"),
        col("m.__qv").as("__qv"), col("m.__d").as("__cd"))
      .withColumn("__nr", qnorm(col("__qv")))
      // assign feeds BOTH pair sides and the caller's labeled join — the
      // lazy checkpoint runs quantize + centroid assignment once, not 3×
      // (r13, guide §1.2; the replay rule)
      .transform(graft.ops.Replay.stable(_))
    val l = assign.select(col("centroid_id"), col("__vid").as("id_a"),
      col("__qv").as("__qa"), col("__nr").as("na"))
    val r = assign.select(col("centroid_id"), col("__vid").as("id_b"),
      col("__qv").as("__qb"), col("__nr").as("nb"))
    val edges = l.join(r, Seq("centroid_id")).filter(col("id_a") < col("id_b"))
      .withColumn("__sqd", graft.functions.VectorExprs.quantized_sqdist(col("__qa"), col("__qb")))
      .withColumn("__dot", expr("(na + nb - __sqd) div 2"))
      // per-row overflow backstop (see the require above): dot² ≤ na·nb,
      // so if na·nb·max(τ²) fits, both sides fit — checked in double
      .withColumn("__envOk", when(
        col("na").cast("double") * col("nb").cast("double") *
          lit(math.max(tau2Num, tau2Den).toDouble) > lit(9.2e18),
        raise_error(lit("semanticShardPairs: |a|^2*|b|^2*tau2 exceeds the " +
          "long envelope — reduce dim, magnitude, or the tau2 denominator")))
        .otherwise(lit(true)))
      .filter(col("__envOk") && col("__dot") > 0 &&
        col("__dot") * col("__dot") * tau2Den >= col("na") * col("nb") * tau2Num)
      .select(col("id_a"), col("id_b"))
    (assign, edges)
  }

  /** TRAIN/TEST LEAKAGE AUDIT — the eval-integrity pass a training
    * pipeline runs after splitting: count semantic near-duplicate pairs
    * (the [[semanticShardPairs]] machinery — centroid shards, all-integer
    * cosine-≥ τ predicate) whose endpoints landed in DIFFERENT splits. A
    * test document with a near-twin in train inflates every metric; the
    * (train, test) row of this audit is the size of that contamination.
    *
    * Inputs: the embedding corpus plus an (id, split) assignment table
    * (e.g. [[graft.ops.RelOps.hashSplit]] output). Output: one row per
    * unordered split pair — n_pairs and an id-sum digest pinning WHICH
    * pairs (so the oracle proves the exact pair set, not just counts).
    * Engine-exact end-to-end; same cross-shard recall boundary as
    * SemDeDup, documented there.
    */
  def splitLeakageAudit(vecs: DataFrame, idCol: String, vecCol: String,
                        splits: DataFrame, splitIdCol: String, splitCol: String,
                        k: Int, tau2Num: Long = 81, tau2Den: Long = 400): DataFrame = {
    val (_, edges) = semanticShardPairs(vecs, idCol, vecCol, k, tau2Num, tau2Den)
    val sp = splits.select(col(splitIdCol).cast("long").as("__sid"), col(splitCol).as("__sp"))
    edges
      .join(sp.select(col("__sid").as("id_a"), col("__sp").as("sp_a")), "id_a")
      .join(sp.select(col("__sid").as("id_b"), col("__sp").as("sp_b")), "id_b")
      .groupBy(least(col("sp_a"), col("sp_b")).as("split_lo"),
        greatest(col("sp_a"), col("sp_b")).as("split_hi"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("id_a") + col("id_b")).as("sum_ids"))
  }

  def semDedupQuantized(vecs: DataFrame, idCol: String, vecCol: String,
                        k: Int, tau2Num: Long = 81, tau2Den: Long = 400,
                        keepFarthest: Boolean = false): DataFrame = {
    val (assign, edges) = semanticShardPairs(vecs, idCol, vecCol, k, tau2Num, tau2Den)
    val labels = graft.dedup.Clusters.connectedComponents(
      assign.select(col("__vid")), "__vid", edges, "id_a", "id_b")
    val labeled = assign.join(labels, "__vid")
    // representative per duplicate group: min id (default), or — the
    // paper's §3 diversity-preserving rule — the member FARTHEST from its
    // shard centroid (max integer sqdist, ties to the smaller id)
    val kept =
      if (!keepFarthest) col("cluster_id") === col("__vid")
      else {
        import org.apache.spark.sql.expressions.Window
        row_number().over(Window.partitionBy("cluster_id")
          .orderBy(col("__cd").desc, col("__vid").asc)) === 1
      }
    labeled.withColumn("__keep", kept)
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__keep"), col("__vid"))).as("sum_kept"))
  }

  /** DETERMINISTIC HYPERPLANE-LSH ANN — the hash-PROVEN twin of
    * [[lshBucketTopK]], the q212/q213 oracle-bridge discipline applied to
    * vector search: hyperplanes are the q210 closed-form integer ±1/0
    * matrix w(r, j) = ((x·(x+1) mod 4099) mod 3) − 1, x = j·131 + r·37
    * (the q210 quadratic mixer — see jlProjectQuantized), with plane index
    * r = table·nbits + bit, sign buckets are integer sums over quantized
    * vectors, and the re-rank is the exact sign·cos²·2¹⁰ integer score —
    * so bucket assignment, WHICH candidates each table surfaces, and the
    * final ranking (ties to the smaller id) are all reproducible
    * bit-for-bit in SQL. Recall < 1 exactly like the xxhash64 fast path —
    * but here the approximation itself is oracle-checkable. Keep
    * [[lshBucketTopK]] as the deployment path (codegen'd kernels,
    * auto-sized banding); this form pays interpreted HOF plane sums to be
    * portable, and exists to pin the algorithm.
    *
    * Output: (query_id, neighbor_id, rank, score).
    */
  def lshDetTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                 tables: Int = 4, nbits: Int = 8,
                 qId: String = "query_id", qVec: String = "query_vec",
                 cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    require(k >= 1, s"lshDetTopK: k=$k")
    require(tables >= 1 && tables <= 16 && nbits >= 1 && nbits <= 16,
      s"lshDetTopK: tables=$tables nbits=$nbits")
    import org.apache.spark.sql.expressions.Window
    def planeSum(qv: Column, r: Int): Column =
      aggregate(sequence(lit(0), size(qv) - 1), lit(0L),
        (acc, i) => acc + element_at(qv, i + 1) * {
          val x = (i * 131 + lit(r * 37)).cast("long")
          ((x * (x + 1)) % 4099 % 3) - 1
        })
    def bucket(qv: Column, t: Int): Column =
      (0 until nbits).map(b =>
        when(planeSum(qv, t * nbits + b) >= 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _)
    def side(df: DataFrame, id: String, vec: String, pfx: String): DataFrame = {
      val q = df.select(col(id).cast("long").as(s"${pfx}id"),
          quantize1024(col(vec)).as(s"${pfx}v"))
        .withColumn(s"${pfx}n", qnorm(col(s"${pfx}v")))
        // zero-norm quantized vectors have no cosine — qrel would be an
        // integer div-by-zero in any engine (mmrRerankQuantized's rule,
        // applied here too); excluded by contract on both sides
        .where(col(s"${pfx}n") > 0)
      q.select(col(s"${pfx}id"), col(s"${pfx}v"), col(s"${pfx}n"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"), bucket(col(s"${pfx}v"), t).as("bkt"))): _*)).as("tb"))
        .select(col(s"${pfx}id"), col(s"${pfx}v"), col(s"${pfx}n"),
          col("tb.t").as("t"), col("tb.bkt").as("bkt"))
    }
    val qb = side(queries, qId, qVec, "q")
    val cb = side(corpus, cId, cVec, "c")
    val scored = qb.join(cb, Seq("t", "bkt"))
      .withColumn("dot", qdot(col("qv"), col("qn"), col("cv"), col("cn")))
      .select(col("qid"), col("cid"), qrel(col("dot"), col("qn"), col("cn")).as("score"))
      .distinct() // a pair may share buckets in several tables
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").desc, col("cid").asc)))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("score"))
  }

  /** DETERMINISTIC IVF ANN — the hash-PROVEN twin of [[ivfTopK]]: coarse
    * centroids from [[kmeansCentroidsQuantized]] (integer Lloyd training),
    * cell assignment by exact integer distance, query probing of the
    * `nprobe` nearest cells (ties to the smaller cluster), and exact
    * integer re-rank within the probed cells. Every stage of the IVF
    * pipeline — train, layout, probe, search — is reproducible in SQL, so
    * the oracle checks the whole index, not just an error bound. Same
    * deployment note as [[lshDetTopK]]: [[ivfTopK]] (auto-sized nlist,
    * codegen'd float kernels) is the 100 TB path; this pins the algorithm.
    *
    * Output: (query_id, neighbor_id, rank, score).
    */
  def ivfDetTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                 nlist: Int, iters: Int, nprobe: Int,
                 qId: String = "query_id", qVec: String = "query_vec",
                 cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    require(k >= 1 && nprobe >= 1 && nprobe <= nlist,
      s"ivfDetTopK: k=$k nprobe=$nprobe nlist=$nlist")
    import org.apache.spark.sql.expressions.Window
    val cents = kmeansCentroidsQuantized(corpus, cId, cVec, nlist, iters)
    // zero-norm quantized vectors have no cosine — qrel would be an
    // integer div-by-zero in any engine; excluded by contract (the
    // mmrRerankQuantized / lshDetTopK rule)
    val cells = kmeansAssign(quantizedCorpus(corpus, cId, cVec), cents)
      .select(col("__vid").as("cid"), col("cluster"), col("__qv").as("cv"))
      .withColumn("cn", qnorm(col("cv")))
      .where(col("cn") > 0)
    val qq = quantizedCorpus(queries, qId, qVec)
      .select(col("__vid").as("qid"), col("__qv").as("qv"))
      .withColumn("qn", qnorm(col("qv")))
      .where(col("qn") > 0)
    val probes = qq.crossJoin(broadcast(cents))
      .withColumn("__d", graft.functions.VectorExprs.quantized_sqdist(col("qv"), col("__cv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("__d").asc, col("cluster").asc)))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("qv"), col("qn"), col("cluster"))
    probes.join(cells, "cluster")
      .withColumn("dot", qdot(col("qv"), col("qn"), col("cv"), col("cn")))
      .select(col("qid"), col("cid"), qrel(col("dot"), col("qn"), col("cn")).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").desc, col("cid").asc)))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("score"))
  }

  /** DETERMINISTIC PRODUCT-QUANTIZATION ANN (asymmetric distance
    * computation) — the hash-PROVEN twin of [[pqTopK]]/q199, completing
    * the proven-twin matrix for the approximate-search stack: split the
    * quantized vector into `m` subspaces, train one integer codebook per
    * subspace (seed = the `ksub` smallest ids' subvectors, `iters` Lloyd
    * rounds with the floor-div M-step), encode every corpus vector as its
    * per-subspace argmin code (ties to the smaller code), build each
    * query's integer ADC table (exact sub-sqdist to every centroid), and
    * score candidates as Σ_m adc[m][code_m] — ranked ascending with ties
    * to the smaller id. Every stage — training, encoding, table, scan —
    * is integer arithmetic an external SQL engine replays bit-for-bit.
    * [[pqTopK]] (sampled float training, flat-array ADC, codegen'd
    * kernels) stays the 100 TB deployment path; this form pins the
    * algorithm the way q212/q213 pin the LSH pipeline.
    *
    * Output: (query_id, neighbor_id, rank, score) — score = exact ADC
    * distance in quantized units (lower is nearer).
    */
  def pqDetTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                m: Int = 4, ksub: Int = 8, iters: Int = 1,
                qId: String = "query_id", qVec: String = "query_vec",
                cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    require(k >= 1 && m >= 1 && m <= 64 && ksub >= 1 && ksub <= 256,
      s"pqDetTopK: k=$k m=$m ksub=$ksub")
    require(iters >= 0 && iters <= 8, s"pqDetTopK: iters=$iters")
    import org.apache.spark.sql.expressions.Window
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = quantizedCorpus(corpus, cId, cVec)
    // subspace split: dim must divide evenly into m (require'd at runtime
    // via the first row — slice on a short vector would silently truncate)
    val sub = q.select(col("__vid"), col("__qv"),
        explode(sequence(lit(0), lit(m - 1))).as("mi"))
      .select(col("__vid"), col("mi"),
        slice(col("__qv"), col("mi") * (size(col("__qv")) / m).cast("int") + 1,
          (size(col("__qv")) / m).cast("int")).as("sv"))

    def assign(cents: DataFrame): DataFrame =
      sub.join(broadcast(cents), Seq("mi"))
        .withColumn("__d", graft.functions.VectorExprs.quantized_sqdist(col("sv"), col("cv")))
        .groupBy(col("__vid"), col("mi"))
        .agg(min(struct(col("__d"), col("code"), col("sv"))).as("s"))
        .select(col("__vid"), col("mi"), col("s.code").as("code"),
          col("s.__d").as("d"), col("s.sv").as("sv"))

    // seeds: the ksub smallest ids' subvectors, code = id rank
    val seedRows = q.orderBy(col("__vid").asc).limit(ksub)
      .collect().sortBy(_.getLong(0)).zipWithIndex
    val dim = seedRows.head._1.getSeq[Long](1).length
    require(dim % m == 0, s"pqDetTopK: dim $dim not divisible by m=$m")
    val sd = dim / m
    var cents: DataFrame = seedRows.flatMap { case (r, j) =>
      val v = r.getSeq[Long](1)
      (0 until m).map(mi => (mi, j.toLong, v.slice(mi * sd, (mi + 1) * sd)))
    }.toSeq.toDF("mi", "code", "cv")

    for (_ <- 1 to iters) {
      val sums = assign(cents)
        .select(col("mi"), col("code"), posexplode(col("sv")).as(Seq("dd", "v")))
        .groupBy(col("mi"), col("code"), col("dd"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .collect() // bounded: ≤ m·ksub·(dim/m) cells
      val updated = sums.groupBy(r => (r.getInt(0), r.getLong(1))).map { case (key, rows) =>
        key -> rows.sortBy(_.getInt(2)).map(r => math.floorDiv(r.getLong(3), r.getLong(4))).toSeq
      }
      val prev = cents.collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
      cents = prev.keys.toSeq.sorted
        .map { case (mi, c) => (mi, c, updated.getOrElse((mi, c), prev((mi, c)))) }
        .toDF("mi", "code", "cv")
    }

    val codes = assign(cents).select(col("__vid").as("cid"), col("mi"), col("code"))
    val qsub = quantizedCorpus(queries, qId, qVec)
      .select(col("__vid").as("qid"), col("__qv"),
        explode(sequence(lit(0), lit(m - 1))).as("mi"))
      .select(col("qid"), col("mi"),
        slice(col("__qv"), col("mi") * (size(col("__qv")) / m).cast("int") + 1,
          (size(col("__qv")) / m).cast("int")).as("qsv"))
    val adc = qsub.join(broadcast(cents), Seq("mi"))
      .select(col("qid"), col("mi"), col("code"),
        graft.functions.VectorExprs.quantized_sqdist(col("qsv"), col("cv")).as("d"))
    codes.join(adc, Seq("mi", "code"))
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("d")).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").asc, col("cid").asc)))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("score"))
  }

  // ---- shared integer-exact scoring helpers (q217/q218/q221/q223/q224) --

  /** round(x·2¹⁰) quantization (the q210 proven scheme) — the codegen'd
    * kernel (r13; the per-element transform lambda evaluated INTERPRETED
    * with a BigDecimal round per element, ~µs each over corpus×dim).
    * VectorExprsSpec pins kernel == HOF bit-identically. */
  private[sim] def quantize1024(v: Column): Column =
    graft.functions.VectorExprs.quantize1024(v)

  /** The retired HOF form — kept as the kernel's differential oracle. */
  private[sim] def quantize1024Hof(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1024).cast("long"))

  /** Σ q² over a quantized vector — codegen'd kernel (r13). */
  private[sim] def qnorm(qv: Column): Column =
    graft.functions.VectorExprs.qnorm_q(qv)

  /** The retired HOF fold — kept as the kernel's differential oracle. */
  private[sim] def qnormHof(qv: Column): Column =
    aggregate(qv, lit(0L), (acc, x) => acc + x * x)

  /** Integer dot product derived from the codegen'd sqdist kernel:
    * dot = (|a|² + |b|² − sqdist)/2 — the numerator is even, so integral
    * division is exact, and the hot loop stays whole-stage-codegen'd. */
  private[sim] def qdot(a: Column, na: Column, b: Column, nb: Column): Column =
    call_function("div",
      na + nb - graft.functions.VectorExprs.quantized_sqdist(a, b), lit(2L))

  /** Sign-preserving scaled squared cosine:
    * r = sign(dot)·⌊dot²·1024 / (|a|²·|b|²)⌋ ∈ [−1024, 1024] — a monotone
    * transform of cosine, pure integer ops (dot²·2¹⁰ ≤ 2⁶² for dim ≤ 64
    * quantized embeddings), identical in any engine. */
  private[sim] def qrel(dot: Column, na: Column, nb: Column): Column = {
    // overflow envelope via Cauchy-Schwarz: dot² ≤ na·nb, so dot²·1024
    // fits a long iff na·nb ≤ 2⁶³/1024 ≈ 9.0e15 — checked in DOUBLE so
    // the check itself cannot overflow; raise loudly instead of wrapping
    // (a wrapped product silently mis-ranks). Zero norms are the
    // CALLERS' contract: they must filter them (a zero-norm vector has
    // no cosine — integer div-by-zero here, as in any engine).
    val guarded = when(na.cast("double") * nb.cast("double") > lit(9.0e15),
      raise_error(concat(lit("qrel: |a|^2*|b|^2 = "),
        (na.cast("double") * nb.cast("double")).cast("string"),
        lit(" exceeds the 2^63/1024 integer envelope (reduce dim or magnitude)"))))
      .otherwise(dot * dot * lit(1024L))
    val fd = call_function("div", guarded, na * nb)
    when(dot >= 0, fd).otherwise(-fd)
  }

  /** MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein, SIGIR
    * 1998) with λ = 1/2, ENGINE-EXACT: select k results per query that
    * balance relevance against redundancy — step s picks
    * argmax_d [rel(d, q) − max_{s∈Selected} sim(d, s)], the diversified
    * top-k every retrieval-augmented pipeline wants instead of k near-
    * duplicate hits.
    *
    * Integer determinism: similarities are the SIGN-PRESERVING SCALED
    * SQUARED COSINE over quantized vectors —
    * r = sign(dot) · floor(dot²·1024 / (|a|²·|b|²)) ∈ [−1024, 1024] —
    * a monotone transform of cosine (sign·cos² is increasing), computed
    * with integer ops only (dot derived from the codegen'd sqdist kernel;
    * dot²·2¹⁰ ≤ 2⁶² for dim ≤ 64 quantized embeddings). Rel and sim share
    * the scale, so the λ = 1/2 objective reduces to rel − maxsim. All
    * argmaxes tie-break to the smaller id. Every step is a window + an
    * equi-join — the full selection unrolls declaratively, which is what
    * lets a SQL oracle replay it bit-for-bit.
    *
    * Scale shape: candidates = top-`c` by relevance per query (brute
    * |Q|×|C| scored with the codegen kernel — swap in [[lshBucketTopK]] /
    * [[ivfTopK]] as the candidate producer at 100 TB; the re-rank itself
    * only ever touches |Q|·c rows). The k selection steps build a plan
    * tower over the candidate set, so the |Q|·c candidate rows sit behind
    * one `Replay.stable` boundary — without it, every one of the k output
    * branches replays the |Q|×|C| scoring pass.
    *
    * Output: (query_id, rank 1..k, doc_id, mmr_score).
    */
  def mmrRerankQuantized(queries: DataFrame, corpus: DataFrame,
                         qId: String, qVec: String, cId: String, cVec: String,
                         c: Int, k: Int): DataFrame = {
    require(c >= 1 && c <= 1024, s"mmrRerankQuantized: c=$c")
    require(k >= 1 && k <= c, s"mmrRerankQuantized: k=$k must be ≤ c")
    import org.apache.spark.sql.expressions.Window
    def quant(v: Column) = quantize1024(v)
    def norm(qv: Column) = qnorm(qv)
    def rel(dot: Column, na: Column, nb: Column): Column = qrel(dot, na, nb)
    def dotOf(a: Column, na: Column, b: Column, nb: Column): Column = qdot(a, na, b, nb)

    // zero-norm vectors are dropped on both sides (undefined cosine — and
    // an integer div-by-zero in any engine; the oracle mirrors the filter)
    val qq = queries.select(col(qId).cast("long").as("qid"), quant(col(qVec)).as("qv"))
      .withColumn("nq", norm(col("qv"))).filter(col("nq") > 0)
    val cc = corpus.select(col(cId).cast("long").as("cid"), quant(col(cVec)).as("cv"))
      .withColumn("nc", norm(col("cv"))).filter(col("nc") > 0)
    val scored = cc.crossJoin(broadcast(qq))
      .filter(col("cid") =!= col("qid"))
      .withColumn("dot", dotOf(col("cv"), col("nc"), col("qv"), col("nq")))
      .withColumn("rel", rel(col("dot"), col("nc"), col("nq")))
    val wRel = Window.partitionBy("qid").orderBy(col("rel").desc, col("cid").asc)
    // BOUNDARY: |Q|·c rows. Every selection step's output branch replays
    // the chain back to the candidates — without it, each of the k branches
    // re-runs the |Q|×|C| scoring pass (measured ~5.6 s → ~3.5 s
    // steady-state at sf0.1)
    var remaining = scored
      .withColumn("rn", row_number().over(wRel)).filter(col("rn") <= c)
      .select(col("qid"), col("cid"), col("cv"), col("nc"), col("rel"))
      .withColumn("maxsim", lit(0L))
      .transform(graft.ops.Replay.stable(_))
    val wMmr = Window.partitionBy("qid")
      .orderBy((col("rel") - col("maxsim")).desc, col("cid").asc)
    val steps = (1 to k).map { s =>
      val sel = remaining
        .withColumn("rn", row_number().over(wMmr)).filter(col("rn") === 1)
        .select(col("qid"), col("cid").as("sel_id"), col("cv").as("sel_cv"),
          col("nc").as("sel_nc"), (col("rel") - col("maxsim")).as("mmr_score"))
      val out = sel.select(col("qid").as("query_id"), lit(s.toLong).as("rank"),
        col("sel_id").as("doc_id"), col("mmr_score"))
      // localCheckpoint (lazy): each step references the previous
      // `remaining` TWICE (argmax branch + update join) and the k outputs
      // each replay their step's chain, so without a lineage cut the
      // window/join subtree re-executes ~2^k times (measured 9.5 s → 2.1 s
      // at sf0.1, k = 5). The checkpointed frame is |Q|·c rows — the same
      // bounded envelope as the boundary above.
      remaining = remaining
        .join(sel.select(col("qid"), col("sel_id"), col("sel_cv"), col("sel_nc")), "qid")
        .filter(col("cid") =!= col("sel_id"))
        .withColumn("sim", rel(
          dotOf(col("cv"), col("nc"), col("sel_cv"), col("sel_nc")),
          col("nc"), col("sel_nc")))
        .withColumn("maxsim", greatest(col("maxsim"), col("sim")))
        .select(col("qid"), col("cid"), col("cv"), col("nc"), col("rel"), col("maxsim"))
        .transform(graft.ops.Replay.loopStable)
      out
    }
    steps.reduce(_.unionByName(_))
  }

  /** Sign buckets of `vec` in all hash tables at once — codegen'd kernel with
    * a cached deterministic hyperplane matrix (graft.functions.LshExprs);
    * reproducible across runs and executors with zero state to ship. */
  def lshBuckets(vec: Column, tables: Int, nbits: Int): Column =
    graft.functions.LshExprs.hyperplane_buckets(vec, tables, nbits)

  /** LSH-bucketed ANN: candidates share a bucket in ≥1 of `tables` hash
    * tables; exact cosine re-rank keeps top-k per query. Recall < 1 by
    * construction (tune tables/nbits); candidate generation is a bucket
    * equi-join, so the plan scales as sum of bucket sizes, not |Q|×|C|.
    *
    * tables = nbits = 0 AUTO-SIZES via [[planBanding]] against
    * `designCosine` — the cosine at which neighbor recall is targeted (a
    * top-k search has no intrinsic threshold, so the caller states the
    * similarity regime its neighbors live in). When the planner reports no
    * affordable banding separates at that cosine (isotropic geometry), it
    * LOGS the decision and falls back to the exact [[topKBlocked]] — the
    * route the r6 bench needed for q163, where the fixed (64, 4) banding
    * was effectively a dense all-pairs join paying full LSH overhead.
    */
  def lshBucketTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                    tables: Int = 8, nbits: Int = 12,
                    qId: String = "query_id", qVec: String = "query_vec",
                    cId: String = "vec_id", cVec: String = "embedding",
                    broadcastQueries: Boolean = true,
                    designCosine: Double = Double.NaN,
                    recallTarget: Double = 0.98, maxTables: Int = 256,
                    knownCount: Long = -1L): DataFrame = {
    require((tables > 0) == (nbits > 0),
      s"lshBucketTopK: tables=$tables nbits=$nbits — set both explicitly or both 0 (auto)")
    if (tables == 0) {
      require(!designCosine.isNaN,
        "lshBucketTopK: auto sizing (tables=0) needs designCosine — the cosine regime to target recall at")
      val cn = if (knownCount >= 0L) knownCount else corpus.count()
      return planBanding(cn, designCosine, recallTarget, maxTables) match {
        case Some((t, b)) =>
          log.info(s"lsh top-k: auto banding (tables=$t, nbits=$b) for n=$cn at designCosine=$designCosine")
          lshBucketTopK(queries, corpus, k, t, b, qId, qVec, cId, cVec, broadcastQueries)
        case None =>
          log.warn(s"lsh top-k: no affordable LSH banding separates at designCosine=$designCosine " +
            s"for n=$cn — falling back to the exact blocked top-k kernel")
          topKBlocked(queries, corpus, k, qId, qVec, cId, cVec, knownCorpusCount = cn)
      }
    }
    // Candidate generation carries ONLY ids through the bucket join and the
    // dedup — vectors rejoin afterwards, so the shuffle payload is
    // (table, bucket, id), never embeddings. `broadcastQueries` picks how the
    // query VECTORS rejoin: broadcast when |Q| is small (the default — zero
    // shuffle on the candidate side), a plain id-keyed shuffle join when the
    // query side IS the corpus (all-pairs kNN, q163) — broadcasting a 100 TB
    // corpus to every executor is the anti-pattern this flag exists to avoid.
    val qb = queries.select(col(qId).as("q_id"),
      posexplode(lshBuckets(col(qVec), tables, nbits)).as(Seq("table", "bucket")))
    val cb = corpus.select(col(cId).as("c_id"),
      posexplode(lshBuckets(col(cVec), tables, nbits)).as(Seq("table", "bucket")))
    val cands = qb.join(cb, Seq("table", "bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select("q_id", "c_id").distinct()
    val qvecs = queries.select(col(qId).as("q_id"), col(qVec).as("q_vec"))
    val scored = cands
      .join(if (broadcastQueries) broadcast(qvecs) else qvecs, "q_id")
      .join(corpus.select(col(cId).as("c_id"), col(cVec).as("c_vec")), "c_id")
      .withColumn("cos_sim", cosine(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("c_id").asc)
    scored.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= k)
      .select(col("q_id").as(qId), col("c_id").as("neighbor_id"), col("cos_sim"), col("__rk").as("rank"))
  }

  /** IVF(-flat) ANN with deterministically sampled centroids: the corpus is
    * assigned once to its nearest of `nlist` centroids (N×nlist fused-kernel
    * cosines, embarrassingly parallel); each query probes its `nprobe`
    * closest centroid cells and re-ranks exactly within them. Complement to
    * [[lshBucketTopK]]: IVF adapts to the data distribution (cells follow
    * density) where hyperplane LSH is data-oblivious. Centroids are the
    * corpus vectors with the smallest xxhash64(id) — deterministic, no
    * k-means iterations, no fitted state to ship (a k-means refinement drops
    * in by replacing `centroids`).
    */
  /** Nearest centroid of `vec` among a driver-side centroid list, as a PURE
    * ROW EXPRESSION: one codegen'd cosine per centroid against a literal
    * vector, argmax via lexicographic `greatest(struct(cos, -id))` (ties →
    * smallest id, matching `orderBy(cos.desc, id.asc)`). No join, no window,
    * NO SHUFFLE — at a 100 TB corpus the assignment pass stays entirely
    * map-side inside the scan stage, which is what makes IVF build viable
    * at that scale. */
  def nearestCentroidExpr(vec: Column, centroids: Seq[(Long, Array[Float])]): Column =
    graft.functions.CentroidExprs.nearest_centroid(vec, centroids)

  /** Lloyd (k-means) refinement of an IVF centroid set: assign every corpus
    * vector to its nearest centroid with the shuffle-free
    * [[nearestCentroidExpr]], then recompute each cell's per-dimension mean.
    * The mean is a `(cell, dim)`-keyed partial aggregation — executors ship
    * nlist×dim partial sums per partition, never vectors — so one iteration
    * costs one map pass + a tiny shuffle, viable at 100 TB corpus scale.
    * Deterministic: init is the hash-sampled seed set, iteration order fixed;
    * empty cells keep their previous centroid. Returned ids are 0..nlist-1.
    */
  def kmeansCentroids(corpus: DataFrame, vecCol: String,
                      init: Seq[(Long, Array[Float])], iters: Int): Seq[(Long, Array[Float])] = {
    // Each iteration collects nlist×dim doubles to the driver (the means) and
    // ships nlist×dim literal floats back out in the assignment expression —
    // that is the DESIGNED driver/plan footprint (a centroid set is a dim
    // table), but it must stay dim-table-sized: 2^16 cells × 4096 dims ≈ 2 GB
    // of plan literals would OOM the driver and stall codegen. Guard loudly.
    require(iters >= 0 && iters <= 50, s"kmeansCentroids: iters=$iters outside [0, 50]")
    require(init.nonEmpty && init.size.toLong * init.head._2.length <= (1L << 24),
      s"kmeansCentroids: nlist×dim = ${init.size}×${init.headOption.map(_._2.length).getOrElse(0)} " +
        "exceeds 2^24 — centroids must stay driver/plan-sized (raise nprobe, not nlist)")
    lloyd(corpus, vecCol, init, iters, nearestCentroidExpr)
  }

  /** The Lloyd loop itself, parameterized by the assignment expression —
    * cosine for IVF coarse cells ([[kmeansCentroids]]), L2 for PQ
    * sub-codebooks ([[trainPqCodebooks]]). Same cost model either way:
    * one map pass + an nlist×dim partial-sum shuffle per iteration.
    */
  private def lloyd(corpus: DataFrame, vecCol: String,
                    init: Seq[(Long, Array[Float])], iters: Int,
                    assign: (Column, Seq[(Long, Array[Float])]) => Column): Seq[(Long, Array[Float])] = {
    var cents = init.zipWithIndex.map { case ((_, v), i) => i.toLong -> v }
    for (_ <- 1 to iters) {
      val means = corpus
        .withColumn("__cell", assign(col(vecCol), cents))
        .select(col("__cell"), posexplode(col(vecCol)).as(Seq("__d", "__x")))
        .groupBy("__cell", "__d").agg(avg(col("__x")).as("__m"))
        .groupBy("__cell").agg(map_from_arrays(
          collect_list(col("__d")), collect_list(col("__m"))).as("__dims"))
        .collect()
        .map(r => r.getLong(0) -> {
          val m = r.getMap[Int, Double](1)
          Array.tabulate(m.size)(d => m(d).toFloat)
        }).toMap
      cents = cents.map { case (id, v) => id -> means.getOrElse(id, v) }
    }
    cents
  }

  /** A driver-side centroid seq as a tiny dim-table DataFrame
    * (cent_id, cent_vec) — the broadcast side of every probe pass. */
  private def centroidDf(spark: org.apache.spark.sql.SparkSession,
                         cents: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(cents.map { case (id, v) =>
        org.apache.spark.sql.Row(id, v.toSeq) }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cent_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cent_vec",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, containsNull = false)))))

  /** nprobe nearest cells per query row (the SMALL side): crossJoin against
    * the broadcast centroid dim table + a per-query window. Output keeps the
    * query columns and adds `cell`. */
  private def probeCells(df: DataFrame, id: String, vec: String,
                         centroids: DataFrame, keep: Int): DataFrame = {
    val w = Window.partitionBy(col(id)).orderBy(col("__cs").desc, col("cent_id").asc)
    df.crossJoin(broadcast(centroids))
      .withColumn("__cs", cosine(col(vec), col("cent_vec")))
      .withColumn("__r", row_number().over(w)).filter(col("__r") <= keep)
      .select(col(id), col(vec), col("cent_id").as("cell"))
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nlist: Int = 0, nprobe: Int = 0,
              centroidIters: Int = 0,
              qId: String = "query_id", qVec: String = "query_vec",
              cId: String = "vec_id", cVec: String = "embedding",
              knownCount: Long = -1L): DataFrame = {
    // The centroid set lives on the driver and inside the assignment
    // expression: its budget is nlist×dim×8 bytes. 65536 cells is already a
    // billion-vector index (FAISS sizing: nlist ≈ √n); nlist=10⁶ would be a
    // multi-GB plan literal — refuse rather than OOM three stages later.
    // nlist = 0 auto-sizes to ⌈√n⌉ in [16, 4096] (nprobe = 0 → nlist/16,
    // floor 4): candidates/query ≈ nprobe·n/nlist, so a FIXED nlist degrades
    // linearly with corpus growth while √n sizing holds it to ≈ nprobe·√n —
    // same rationale measured on [[pqTopK]] (14× → 4× wall at 10× data).
    // n comes from ONE count() job — a column-pruned scan answered from the
    // parquet row-group counts, but a real job nonetheless; callers that
    // already know the cardinality pass `knownCount` to skip it.
    require(nlist >= 0 && nprobe >= 0, s"ivfTopK: nlist=$nlist nprobe=$nprobe (0 = auto)")
    val nlistEff =
      if (nlist > 0) nlist
      else math.min(4096, math.max(16, math.ceil(math.sqrt(
        (if (knownCount >= 0L) knownCount else corpus.count()).toDouble)).toInt))
    val nprobeEff = if (nprobe > 0) nprobe else math.max(4, nlistEff / 16)
    require(nlistEff >= 1 && nlistEff <= 65536, s"ivfTopK: nlist=$nlistEff outside [1, 65536]")
    require(nprobeEff >= 1 && nprobeEff <= nlistEff,
      s"ivfTopK: nprobe=$nprobeEff outside [1, nlist=$nlistEff]")
    // nlist rows only — materialize once on the driver so the centroid
    // subquery isn't recomputed for both the assignment and the probe pass
    // (a tiny dim table, not distributed data pulled to the driver)
    val spark = corpus.sparkSession
    val centroidRows = corpus
      // cast: getLong below would CCE on an Integer/String id schema —
      // every other sampler here (quantizedCorpus, topKBlocked) casts too
      .select(col(cId).cast("long").as("cent_id"), col(cVec).as("cent_vec"))
      .withColumn("__h", xxhash64(col("cent_id")))
      .orderBy(col("__h")).limit(nlistEff).drop("__h")
      .collect()
    val sampled: Seq[(Long, Array[Float])] = centroidRows.toSeq.map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray)
    // optional Lloyd refinement: density-following centroids (cells shrink
    // where data is dense) at one map pass + tiny shuffle per iteration
    val centroidSeq =
      if (centroidIters > 0) kmeansCentroids(corpus.select(col(cVec)), cVec, sampled, centroidIters)
      else sampled
    // assignment (the 100 TB side, keep=1): shuffle-free row expression;
    // probes (the small query side, keep=nprobe): crossJoin + window
    val assigned = corpus.select(col(cId), col(cVec))
      .withColumn("cell", nearestCentroidExpr(col(cVec), centroidSeq))
    val probes = probeCells(queries.select(col(qId), col(qVec)), qId, qVec,
      centroidDf(spark, centroidSeq), nprobeEff)
    val scored = probes.join(assigned, Seq("cell"))
      .filter(col(qId) =!= col(cId))
      .withColumn("cos_sim", cosine(col(qVec), col(cVec)))
    val w = Window.partitionBy(col(qId)).orderBy(col("cos_sim").desc, col(cId).asc)
    scored.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= k)
      .select(col(qId), col(cId).as("neighbor_id"), col("cos_sim"), col("__rk").as("rank"))
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ thresh).
    * BRUTE-FORCE DIFFERENTIAL BASELINE ONLY — O(n²) theta join; the wired
    * scale path is [[cosineNearDupPairsBanded]], which this oracle-checks.
    */
  def cosineNearDupPairs(vecs: DataFrame, idCol: String, vecCol: String, thresh: Double): DataFrame = {
    val a = vecs.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = vecs.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim", cosine(col("v_a"), col("v_b")))
      .filter(col("cos_sim") >= thresh)
      .select("id_a", "id_b", "cos_sim")
  }

  /** P[a random hyperplane puts both vectors of a pair at cosine `c` on the
    * same side] — the Goemans–Williamson collision probability
    * 1 − acos(c)/π that every hyperplane-LSH recall bound derives from. */
  def lshBitAgreeProb(c: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, c))) / math.Pi

  /** Plan an LSH banding (tables, nbits) for a corpus of `n` vectors such
    * that pairs at cosine ≥ `cosFloor` are recalled with probability ≥
    * `recallTarget`, or decide that NO affordable banding exists.
    *
    * Sizing discipline (the [[ivfTopK]] auto-nlist rule applied to LSH):
    * nbits starts at ⌈log₂ n⌉+1 so the bucket count GROWS with the corpus —
    * a fixed nbits leaves random collisions a constant fraction of n², i.e.
    * still quadratic — and tables follows from the recall formula
    * 1 − (1 − p^nbits)^tables with p = [[lshBitAgreeProb]](cosFloor). A plan
    * is affordable when tables ≤ `maxTables` AND the expected RANDOM-pair
    * candidate density 1 − (1 − 2⁻ⁿᵇⁱᵗˢ)^tables ≤ `densityCap`: nbits is
    * lowered until tables fits, and if every nbits either needs too many
    * tables or floods the candidate join, the answer is None — the
    * threshold sits too close to random (ρ → 1) for geometry LSH to
    * separate, and callers fall back to an exact blocked kernel instead of
    * running a banding that would shuffle ~n² candidates anyway.
    *
    * Worked regimes (spec-pinned): τ = 0.85, n = 6000 → Some((58, 14)),
    * candidates < 1% of pairs; τ = 0.45 (the isotropic bench corpus, p ≈
    * 0.65) → None at every n — exactly the geometry the r6 bench measured
    * as super-linear under the old fixed (64, 4) defaults.
    */
  def planBanding(n: Long, cosFloor: Double, recallTarget: Double = 0.98,
                  maxTables: Int = 256, densityCap: Double = 0.05): Option[(Int, Int)] = {
    require(n >= 0, s"planBanding: n=$n")
    require(recallTarget > 0 && recallTarget < 1, s"planBanding: recallTarget=$recallTarget")
    require(maxTables >= 1 && densityCap > 0 && densityCap <= 1,
      s"planBanding: maxTables=$maxTables densityCap=$densityCap")
    val p = lshBitAgreeProb(cosFloor)
    if (n < 2) return Some((1, 1))
    if (p >= 1.0) return Some((1, math.max(4, log2Ceil(n) + 1))) // exact dups: any banding recalls them
    val bMax = math.max(4, log2Ceil(n) + 1)
    (bMax to 1 by -1).iterator.map { b =>
      val hit = math.pow(p, b)
      val t =
        if (hit >= 1.0) 1
        else {
          val raw = math.log1p(-recallTarget) / math.log1p(-hit)
          if (raw > 1e9) Int.MaxValue else math.ceil(raw).toInt
        }
      val density = 1.0 - math.pow(1.0 - math.pow(2.0, -b), t.toDouble.min(1e9))
      (t, b, density)
    }.collectFirst { case (t, b, d) if t <= maxTables && d <= densityCap => (t, b) }
  }

  private def log2Ceil(n: Long): Int =
    64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))

  /** JVM mirror of the codegen'd cosine kernel (graft.functions.VectorAlgs
    * .cosine): double accumulation, left-to-right — BIT-IDENTICAL results,
    * which is what lets the blocked kernels below share exact oracles with
    * the expression-based operators. */
  private[sim] def cosJvm(a: Array[Float], b: Array[Float]): Double = {
    val n = a.length
    if (n != b.length)
      throw new IllegalArgumentException(
        s"vector length mismatch: $n vs ${b.length} (malformed embedding)")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val c = dot / (math.sqrt(na) * math.sqrt(nb))
    // normalize -0.0 → 0.0 so Double.compare agrees with Spark SQL's
    // ordering (which collapses signed zeros); NaN (zero-norm input)
    // stays NaN and is ordered GREATEST by the callers, matching Spark
    if (c == 0.0) 0.0 else c
  }

  /** EXACT all-pairs cosine-threshold join, blocked: the dense-regime
    * fallback when [[planBanding]] says LSH can't separate. Vectors are
    * hashed into ⌈n/rowsPerBlock⌉ blocks; every unordered block pair (i ≤ j)
    * is one cogroup, and a tight JVM loop scores its ≤ rowsPerBlock² pairs.
    * The Ω(n²) compare work is inherent to the answer on such geometry —
    * what this kernel removes is the per-pair OVERHEAD the banded wiring
    * pays in that regime (×tables candidate duplication, the ~n²-row
    * distinct shuffle, two id-joins to refetch vectors): total shuffle here
    * is n×⌈n/rowsPerBlock⌉ tagged rows, compute is [[cosJvm]] in a while
    * loop, and each executor holds at most two blocks (~2·rowsPerBlock
    * vectors) at once, so the plan is skew-free and memory-bounded at any
    * corpus size. Requires an integral-castable id column. Output is
    * bit-identical to [[cosineNearDupPairs]] (id_a < id_b, cos_sim ≥
    * thresh).
    */
  def cosineAllPairsBlocked(vecs: DataFrame, idCol: String, vecCol: String,
                            thresh: Double, rowsPerBlock: Int = 4096,
                            knownCount: Long = -1L): DataFrame = {
    require(rowsPerBlock >= 2, s"cosineAllPairsBlocked: rowsPerBlock=$rowsPerBlock")
    val spark = vecs.sparkSession
    import spark.implicits._
    val n = if (knownCount >= 0L) knownCount else vecs.count()
    val nB = math.max(1L, math.ceil(n.toDouble / rowsPerBlock).toLong)
    val tagged = vecs
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
        pmod(xxhash64(col(idCol).cast("long")), lit(nB)).as("b"))
      .select(col("id"), col("vec"), col("b"),
        explode(sequence(lit(0L), lit(nB - 1L))).as("o"))
      .select(
        when(col("o") >= col("b"), col("b") * nB + col("o"))
          .otherwise(col("o") * nB + col("b")).as("g"),
        (col("o") >= col("b")).as("isLeft"),
        col("id"), col("vec"))
      .as[(Long, Boolean, Long, Array[Float])]
    tagged.groupByKey(_._1)
      .flatMapGroups { (g: Long, it: Iterator[(Long, Boolean, Long, Array[Float])]) =>
        val lefts = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
        val rights = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
        it.foreach(t => (if (t._2) lefts else rights) += ((t._3, t._4)))
        val diag = (g / nB) == (g % nB)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        if (diag) {
          var i = 0
          while (i < lefts.length) {
            val (idI, vI) = lefts(i)
            var j = i + 1
            while (j < lefts.length) {
              val (idJ, vJ) = lefts(j)
              val c = cosJvm(vI, vJ)
              // !(c < thresh), not (c >= thresh): NaN (zero-norm input)
              // must PASS, because Spark SQL's `cos_sim >= thresh` in the
              // baseline kernel orders NaN greatest — a plain >= drops
              // the pair here and forks the bit-identical contract
              if (!(c < thresh))
                out += (if (idI < idJ) (idI, idJ, c) else (idJ, idI, c))
              j += 1
            }
            i += 1
          }
        } else {
          var i = 0
          while (i < lefts.length) {
            val (idI, vI) = lefts(i)
            var j = 0
            while (j < rights.length) {
              val (idJ, vJ) = rights(j)
              val c = cosJvm(vI, vJ)
              // !(c < thresh), not (c >= thresh): NaN (zero-norm input)
              // must PASS, because Spark SQL's `cos_sim >= thresh` in the
              // baseline kernel orders NaN greatest — a plain >= drops
              // the pair here and forks the bit-identical contract
              if (!(c < thresh))
                out += (if (idI < idJ) (idI, idJ, c) else (idJ, idI, c))
              j += 1
            }
            i += 1
          }
        }
        out.iterator
      }
      .toDF("id_a", "id_b", "cos_sim")
  }

  /** EXACT top-k, blocked — the dense-regime fallback for all-corpus kNN
    * (query side ≈ corpus side, so [[bruteForceTopK]]'s broadcast-the-
    * queries shape is unavailable). Queries and corpus are hashed into
    * blocks; each (query block × corpus block) cogroup emits its LOCAL
    * top-k per query under the global ordering (cos desc, id asc), and one
    * final per-query window over the ≤ corpusBlocks·k survivors recovers
    * the global top-k exactly (the global top-k is contained in the union
    * of per-block top-k under the same total order). Shuffle is
    * |Q|·corpusBlocks + |C|·queryBlocks tagged rows — never |Q|×|C| — and
    * compute is the tight [[cosJvm]] loop, so results are bit-identical to
    * [[bruteForceTopK]] (self-pairs excluded, same tie-break) at a fraction
    * of its per-pair overhead. Requires integral-castable ids.
    */
  def topKBlocked(queries: DataFrame, corpus: DataFrame, k: Int,
                  qId: String = "query_id", qVec: String = "query_vec",
                  cId: String = "vec_id", cVec: String = "embedding",
                  rowsPerBlock: Int = 4096,
                  knownQueryCount: Long = -1L, knownCorpusCount: Long = -1L): DataFrame = {
    require(k >= 1 && rowsPerBlock >= 2, s"topKBlocked: k=$k rowsPerBlock=$rowsPerBlock")
    val spark = queries.sparkSession
    import spark.implicits._
    val qn = if (knownQueryCount >= 0L) knownQueryCount else queries.count()
    val cn = if (knownCorpusCount >= 0L) knownCorpusCount else corpus.count()
    val qB = math.max(1L, math.ceil(qn.toDouble / rowsPerBlock).toLong)
    val cB = math.max(1L, math.ceil(cn.toDouble / rowsPerBlock).toLong)
    val qTag = queries
      .select(col(qId).cast("long").as("id"), col(qVec).as("vec"),
        pmod(xxhash64(col(qId).cast("long")), lit(qB)).as("qb"))
      .select(col("id"), col("vec"), col("qb"),
        explode(sequence(lit(0L), lit(cB - 1L))).as("cb"))
      .select((col("qb") * cB + col("cb")).as("g"), lit(true).as("isQ"), col("id"), col("vec"))
    val cTag = corpus
      .select(col(cId).cast("long").as("id"), col(cVec).as("vec"),
        pmod(xxhash64(col(cId).cast("long")), lit(cB)).as("cb"))
      .select(col("id"), col("vec"), col("cb"),
        explode(sequence(lit(0L), lit(qB - 1L))).as("qb"))
      .select((col("qb") * cB + col("cb")).as("g"), lit(false).as("isQ"), col("id"), col("vec"))
    val local = qTag.unionByName(cTag)
      .as[(Long, Boolean, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Boolean, Long, Array[Float])]) =>
        val qs = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
        val cs = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
        it.foreach(t => (if (t._2) qs else cs) += ((t._3, t._4)))
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        qs.foreach { case (qid, qv) =>
          // insertion top-k under (cos desc, id asc) — k is small.
          // Double.compare (NOT </>) so NaN cosines (zero-norm vectors)
          // order GREATEST exactly as Spark SQL sorts them — a plain
          // `c > buf` test is always false against NaN, which would let
          // one NaN poison the buffer tail and silently drop true
          // neighbors, diverging from bruteForceTopK
          val bc = new Array[Double](k); val bi = new Array[Long](k)
          var m = 0
          cs.foreach { case (cid, cv) =>
            if (cid != qid) {
              val c = cosJvm(qv, cv)
              val cmpLast = if (m == 0) 1 else java.lang.Double.compare(c, bc(m - 1))
              if (m < k || cmpLast > 0 || (cmpLast == 0 && cid < bi(m - 1))) {
                var pos = if (m < k) m else m - 1
                while (pos > 0 && {
                  val cp = java.lang.Double.compare(c, bc(pos - 1))
                  cp > 0 || (cp == 0 && cid < bi(pos - 1))
                }) {
                  bc(pos) = bc(pos - 1); bi(pos) = bi(pos - 1); pos -= 1
                }
                bc(pos) = c; bi(pos) = cid
                if (m < k) m += 1
              }
            }
          }
          var r = 0
          while (r < m) { out += ((qid, bi(r), bc(r))); r += 1 }
        }
        out.iterator
      }
      .toDF("__q", "__c", "cos_sim")
    val w = Window.partitionBy(col("__q")).orderBy(col("cos_sim").desc, col("__c").asc)
    local.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= k)
      .select(col("__q").as(qId), col("__c").as("neighbor_id"),
        col("cos_sim"), col("__rk").as("rank"))
  }

  /** Embedding-cosine near-dup pairs AT SCALE: hyperplane-LSH banded
    * candidate generation (equi-join on (table, bucket), ids only in the
    * shuffle) → exact cosine verification. Precision is always 1 (every
    * candidate is re-scored exactly); recall per pair with cosine c is
    * 1 − (1 − p^nbits)^tables where p = 1 − acos(c)/π, so parameters trade
    * work for recall *as a function of the threshold*:
    *
    *  - production near-dup thresholds (τ ≥ 0.85), MEASURED on a planted
    *    near-dup corpus (tools.NearDupScale — 10% of rows in cosine≈0.92
    *    clusters, the realistic shape; SimilaritySpec pins the regime):
    *    with the standard log-scaled sizing nbits = ⌈log₂ n⌉+1 (bucket
    *    count must GROW with the corpus — fixed nbits leaves random
    *    collisions a constant fraction of n², i.e. still quadratic) and
    *    tables = 48, 10× data (20k → 200k, d=64) cost 3.6× wall
    *    (2.6 s → 9.2 s, local 16-core) at recall 0.99/0.96, candidates
    *    0.15%/0.05% of all pairs. The next decade (2M, nbits 23,
    *    tables 64) measured 162 s at recall 0.91 — candidate volume grows
    *    ~n^1.3, not n² (63M = 0.003% of pairs), because moderate-angle
    *    pairs dominate collisions at high nbits (Jensen tail); the knobs
    *    are (tables, nbits), bought with recall per the formula above.
    *  - tables = nbits = 0 (the default) AUTO-SIZES the banding with
    *    [[planBanding]] — nbits = ⌈log₂ n⌉+1 so buckets grow with the
    *    corpus, tables from the recall formula at `thresh` — and when the
    *    planner reports that NO affordable banding separates at `thresh`
    *    (the isotropic regime: e.g. the synthetic bench corpus, all pair
    *    cosines < 0.61 at threshold 0.45 ⇒ p ≈ 0.65, where any banding's
    *    candidate set is ~dense and the r6 bench measured the old fixed
    *    (64, 4) defaults as super-linear), it LOGS the decision and falls
    *    back to [[cosineAllPairsBlocked]]: exact, recall 1 by construction,
    *    and strictly cheaper than dense banding because it skips the
    *    ×tables candidate duplication, the ~n²-row distinct and the vector
    *    refetch joins. Both routes produce bit-identical pairs whenever the
    *    banding's recall is 1, and the fallback always does.
    */
  def cosineNearDupPairsBanded(vecs: DataFrame, idCol: String, vecCol: String, thresh: Double,
                               tables: Int = 0, nbits: Int = 0,
                               recallTarget: Double = 0.98, maxTables: Int = 256,
                               knownCount: Long = -1L): DataFrame = {
    require((tables > 0) == (nbits > 0),
      s"cosineNearDupPairsBanded: tables=$tables nbits=$nbits — set both explicitly or both 0 (auto)")
    if (tables == 0) {
      val n = if (knownCount >= 0L) knownCount else vecs.count()
      return planBanding(n, thresh, recallTarget, maxTables) match {
        case Some((t, b)) =>
          log.info(s"banded near-dup: auto banding (tables=$t, nbits=$b) for n=$n at thresh=$thresh")
          cosineNearDupPairsBanded(vecs, idCol, vecCol, thresh, t, b)
        case None =>
          log.warn(s"banded near-dup: no affordable LSH banding separates at thresh=$thresh " +
            s"for n=$n (collision prob ${lshBitAgreeProb(thresh)} too close to random) — " +
            "falling back to the exact blocked all-pairs kernel")
          cosineAllPairsBlocked(vecs, idCol, vecCol, thresh, knownCount = n)
      }
    }
    val b = vecs.select(col(idCol).as("id"),
      posexplode(lshBuckets(col(vecCol), tables, nbits)).as(Seq("table", "bucket")))
    val cands = b.as("l").join(b.as("r"),
        col("l.table") === col("r.table") && col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b")).distinct()
    cands
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("v_a")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("v_b")), "id_b")
      .withColumn("cos_sim", cosine(col("v_a"), col("v_b")))
      .filter(col("cos_sim") >= thresh)
      .select("id_a", "id_b", "cos_sim")
  }

  // ===== IVF-PQ: product-quantized ANN (Jégou, Douze & Schmid, "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011; the FAISS
  // IVFPQ index) =====

  /** Per-subspace codebooks: `books(m)` is the ksub sub-centroids of
    * subspace m, codes 0..ksub-1. `dsub` = dim/m. */
  final case class PqCodebooks(m: Int, ksub: Int, dsub: Int,
                               books: Seq[Seq[(Long, Array[Float])]])

  /** Train the PQ codebooks: one L2 k-means per subspace, seeded AND
    * refined on a bounded hash-sample of the corpus (deterministic — the
    * xxhash64 order used by every sampler here; default
    * max(10·ksub, 4096) rows, the classic ~"dozens of points per
    * centroid" training budget).
    *
    * Training cost is ONE TakeOrdered pass over the corpus to collect the
    * sample; the Lloyd refinement then runs driver-side over that
    * dim-table-sized array — zero further Spark jobs. That is the 100 TB
    * regime's shape: quantizer quality saturates at a few thousand
    * training points (Jégou et al. train on samples, as does FAISS), so
    * full-corpus training passes are pure waste — you train on a sample
    * once and [[pqEncode]] everything. (The r5 version ran m×iters
    * full-corpus Lloyd jobs per call — 43× the cost of a brute-force
    * search at bench scale — precisely the per-query training the paper's
    * offline-train/online-search split exists to avoid.)
    */
  def trainPqCodebooks(corpus: DataFrame, cId: String, cVec: String,
                       m: Int, ksub: Int, iters: Int, trainRows: Int = 0): PqCodebooks = {
    require(m >= 1 && ksub >= 1, s"trainPqCodebooks: m=$m ksub=$ksub")
    require(m.toLong * ksub <= (1 << 20),
      s"trainPqCodebooks: m×ksub = ${m.toLong * ksub} — codebooks must stay plan-literal-sized")
    val budget = if (trainRows > 0) trainRows else math.max(10 * ksub, 4096)
    val sample = corpus.select(col(cId).as("__id"), col(cVec).as("__v"))
      .withColumn("__h", xxhash64(col("__id")))
      .orderBy(col("__h"), col("__id")).limit(budget)
      .collect().map(r => r.getSeq[Float](1).toArray)
    require(sample.nonEmpty, "trainPqCodebooks: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"trainPqCodebooks: dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val seeds = sample.take(ksub)
    val books = (0 until m).map { mi =>
      val init = seeds.zipWithIndex.map { case (v, i) =>
        i.toLong -> v.slice(mi * dsub, (mi + 1) * dsub) }.toSeq
      if (iters > 0)
        lloydLocal(sample.map(_.slice(mi * dsub, (mi + 1) * dsub)), init, iters)
      else init
    }
    PqCodebooks(m, ksub, dsub, books)
  }

  /** Driver-side Lloyd over the bounded training sample, mirroring
    * [[graft.functions.CentroidExprs.PqCodes]]'s semantics exactly: assignment maximizes
    * dot(v, c) − ½‖c‖² (= L2 argmin), ties → smallest code (ascending scan
    * with strict `>`), empty cells keep their previous centroid, means in
    * double then truncated to float — so a sample that covers the whole
    * corpus reproduces the distributed version bit-for-bit.
    */
  private def lloydLocal(data: Array[Array[Float]], init: Seq[(Long, Array[Float])],
                         iters: Int): Seq[(Long, Array[Float])] = {
    var cents = init.toArray
    val dim = cents.head._2.length
    for (_ <- 1 to iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val cnts = new Array[Long](cents.length)
      data.foreach { v =>
        var best = 0
        var bestS = Double.NegativeInfinity
        var ci = 0
        while (ci < cents.length) {
          val c = cents(ci)._2
          var dot = 0.0; var nn = 0.0; var i = 0
          while (i < dim) {
            dot += v(i).toDouble * c(i); nn += c(i).toDouble * c(i); i += 1
          }
          val s = dot - nn / 2.0
          if (s > bestS) { bestS = s; best = ci }
          ci += 1
        }
        var d = 0
        while (d < dim) { sums(best)(d) += v(d); d += 1 }
        cnts(best) += 1
      }
      cents = cents.zipWithIndex.map { case ((id, old), ci) =>
        if (cnts(ci) > 0L)
          id -> Array.tabulate(dim)(d => (sums(ci)(d) / cnts(ci)).toFloat)
        else id -> old
      }
    }
    cents.toSeq
  }

  /** Encode the corpus against coarse cells + PQ codebooks: one map-only
    * pass (cell and every sub-code are literal-centroid row expressions,
    * the norm is one fused dot) producing the COMPRESSED index table
    * (id, cell, codes array, norm) — m codes + a float instead of dim
    * floats, the ~(4·dim/m)× memory/shuffle win that makes billion-vector
    * search viable: downstream scoring ships codes, never vectors.
    */
  def pqEncode(corpus: DataFrame, cId: String, cVec: String,
               coarse: Seq[(Long, Array[Float])], cb: PqCodebooks): DataFrame =
    corpus.select(col(cId), col(cVec))
      .withColumn("cell", nearestCentroidExpr(col(cVec), coarse))
      .withColumn("codes",
        graft.functions.CentroidExprs.pq_codes(col(cVec), cb.books))
      .withColumn("norm", sqrt(dot(col(cVec), col(cVec))))
      .select(col(cId), col("cell"), col("codes"), col("norm"))

  /** IVF-PQ top-k with exact re-ranking. The scale shape:
    *
    *  1. coarse quantizer = hash-sampled nlist centroids (as [[ivfTopK]]);
    *     corpus → [[pqEncode]], a map-only pass to the compressed index;
    *  2. each query precomputes its ADC lookup table — dot(query sub-vector,
    *     sub-centroid) for all m×ksub entries — as a per-row map column on
    *     the QUERY side (tiny), the classic asymmetric-distance table;
    *  3. candidate scoring joins probes to the index on `cell` and sums m
    *     map lookups: approx cosine = Σ_m tab[m, code_m] / (‖q‖·norm).
    *     Only codes cross this join — never corpus vectors;
    *  4. the ADC shortlist (refineFactor·k per query) is re-ranked exactly:
    *     the shortlist BROADCASTS back against the raw corpus (one scan-side
    *     semi-join — the 100 TB side is never shuffled), and the final top-k
    *     uses true cosine.
    *
    * Recall < 1 by construction (coarse pruning + quantization error) —
    * differential-bounded in PqSpec, like [[ivfTopK]]/[[lshBucketTopK]].
    * Parameter guidance (measured on the planted corpus, PqSpec): ADC
    * ranking quality is governed by bits/dim = m·log2(ksub)/dim — at 64
    * dims, m=4/ksub=16 (0.25 b/d) loses ~20% of true neighbors out of a
    * 3× shortlist, while the defaults m=8/ksub=32 (0.625 b/d) with a 10×
    * shortlist reach the probing ceiling. refineFactor is cheap (the
    * shortlist is ids-only and the re-rank is one broadcast semi-join);
    * raise it before raising m/ksub.
    *
    * nlist = 0 (the default) AUTO-SIZES the cell count to ⌈√n⌉ clamped to
    * [16, 4096] — the FAISS sizing rule — from one count() job (a
    * column-pruned scan answered from parquet row-group counts; pass
    * `knownCount` to skip it), and nprobe = 0 derives max(4, nlist/16).
    * This is what keeps the
    * search sub-linear: candidates/query ≈ nprobe·n/nlist, so a FIXED nlist
    * degrades linearly with corpus growth (measured: 14× wall for 10× data
    * at nlist=16), while √n sizing holds it to ≈ nprobe·√n.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 32, nlist: Int = 0, nprobe: Int = 0,
             codebookIters: Int = 2, coarseIters: Int = 0, refineFactor: Int = 10,
             qId: String = "query_id", qVec: String = "query_vec",
             cId: String = "vec_id", cVec: String = "embedding",
             knownCount: Long = -1L): DataFrame = {
    require(k >= 1 && refineFactor >= 1, s"pqTopK: k=$k refineFactor=$refineFactor")
    require(nlist >= 0 && nprobe >= 0, s"pqTopK: nlist=$nlist nprobe=$nprobe (0 = auto)")
    val nlistEff =
      if (nlist > 0) nlist
      else math.min(4096, math.max(16, math.ceil(math.sqrt(
        (if (knownCount >= 0L) knownCount else corpus.count()).toDouble)).toInt))
    val nprobeEff = if (nprobe > 0) nprobe else math.max(4, nlistEff / 16)
    require(nlistEff >= 1 && nlistEff <= 65536, s"pqTopK: nlist=$nlistEff outside [1, 65536]")
    require(nprobeEff >= 1 && nprobeEff <= nlistEff,
      s"pqTopK: nprobe=$nprobeEff outside [1, nlist=$nlistEff]")
    val spark = corpus.sparkSession
    val sampled: Seq[(Long, Array[Float])] = corpus
      // cast: getLong below would CCE on an Integer/String id schema
      .select(col(cId).cast("long").as("__id"), col(cVec).as("__v"))
      .withColumn("__h", xxhash64(col("__id")))
      .orderBy(col("__h")).limit(nlistEff)
      .collect().toSeq.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
        .zipWithIndex.map { case ((_, v), i) => i.toLong -> v }
    val coarse =
      if (coarseIters > 0)
        kmeansCentroids(corpus.select(col(cVec)), cVec, sampled, coarseIters)
      else sampled
    val cb = trainPqCodebooks(corpus, cId, cVec, m, ksub, codebookIters)
    val index = pqEncode(corpus, cId, cVec, coarse, cb)

    // per-query ADC table: a FLAT ARRAY in (mi, code) order — entry
    // mi·ksub + code holds dot(q_sub_mi, sub-centroid_code). An array
    // index is an O(1) offset read per lookup; the r5 map-typed table paid
    // an O(m·ksub) linear key scan for every one of the m lookups on every
    // candidate row — m²·ksub comparisons/row on the hottest loop of the
    // whole query (the dominant cost at bench scale once training was
    // sample-bounded).
    val tabVals = graft.functions.CentroidExprs.pq_adc_table(col(qVec), cb.books)
    val probes = probeCells(queries.select(col(qId), col(qVec)), qId, qVec,
        centroidDf(spark, coarse), nprobeEff)
      .withColumn("__qtab", tabVals)
      .withColumn("__qnorm", sqrt(dot(col(qVec), col(qVec))))
      .drop(qVec)

    // flat-table offsets are CUMULATIVE book lengths, not mi·ksub: when the
    // corpus has fewer than ksub rows, trainPqCodebooks' books are shorter
    // than ksub and a fixed stride would misalign every subspace after the
    // first (silently wrong ADC scores — the map-keyed r5 table was immune)
    val bookOffsets = cb.books.map(_.length).scanLeft(0)(_ + _)
    val adcDot = (0 until cb.m).map(mi =>
      element_at(col("__qtab"),
        (element_at(col("codes"), mi + 1) + lit(bookOffsets(mi).toLong) + 1L).cast("int")))
      .reduce(_ + _)
    val wShort = Window.partitionBy(col(qId)).orderBy(col("__adc").desc, col(cId).asc)
    // probes (queries × nprobe rows + their ADC tables) is the dim side of
    // the candidate join — broadcast it so the compressed index streams
    // map-side and the 100 TB side never shuffles on `cell`. The hint is
    // GATED on an estimated probe-side size: |Q|·nprobe rows × an ADC table
    // of Σ|books| doubles each — auto-sizing can push nprobe to 256, and a
    // forced broadcast past a few hundred MB is an executor/driver OOM, not
    // an optimization. Past the gate the join falls back to the planner's
    // choice (hash join on `cell`), correct either way.
    val qCount = queries.count()
    val probeBytes = qCount * nprobeEff * (bookOffsets.last.toLong * 8L + 64L)
    val probesSide =
      if (probeBytes <= (256L << 20)) broadcast(probes)
      else {
        log.warn(s"pqTopK: probe side ≈ ${probeBytes >> 20} MB (|Q|=$qCount, nprobe=$nprobeEff) " +
          "exceeds the broadcast gate — using a non-broadcast cell join")
        probes
      }
    val shortlist = probesSide.join(index, Seq("cell"))
      .filter(col(qId) =!= col(cId))
      .withColumn("__adc", adcDot / (col("__qnorm") * col("norm")))
      .withColumn("__rs", row_number().over(wShort))
      .filter(col("__rs") <= k * refineFactor)
      .select(col(qId), col(cId))

    // exact re-rank: shortlist (tiny) broadcasts against the raw corpus
    val wFinal = Window.partitionBy(col(qId)).orderBy(col("cos_sim").desc, col(cId).asc)
    corpus.select(col(cId), col(cVec))
      .join(broadcast(shortlist), Seq(cId))
      .join(broadcast(queries.select(col(qId), col(qVec))), Seq(qId))
      .withColumn("cos_sim", cosine(col(qVec), col(cVec)))
      .withColumn("__rk", row_number().over(wFinal))
      .filter(col("__rk") <= k)
      .select(col(qId), col(cId).as("neighbor_id"), col("cos_sim"), col("__rk").as("rank"))
  }
}
