package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed linear algebra over embedding corpora — the Gram/covariance/
  * top-PC passes a curation pipeline runs before whitening, SemDeDup-style
  * clustering, or drift monitoring. Everything here follows the
  * engine-exact discipline of [[Similarity]]'s quantized family: vectors
  * are integer-quantized with the proven round(x·2¹⁰) scheme, all
  * reductions are integer sums (associative + commutative ⇒ identical
  * under ANY partitioning), and divisions are the truncation-toward-zero
  * `div` both Spark and DuckDB implement — so the Gram matrix, the
  * covariance numerators, the power-iteration eigenvector and every
  * corpus projection are bit-identical in any engine.
  *
  * Scale shape: a Gram/covariance matrix is a dim×dim REDUCTION of an
  * n×dim corpus — the map side streams dim²/2 products per row (the
  * intrinsic FLOP count) and partial aggregation collapses each partition
  * to ≤ dim² cells before the only shuffle, so the shuffle volume is
  * executors×dim² regardless of corpus size. Power iteration then runs on
  * that dim×dim result (a dim table, not data), and the projection back
  * over the corpus is a zero-shuffle scan with the eigenvector as plan
  * literals.
  */
object LinAlg {

  private def quantize1024(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1024).cast("long"))

  /** Gram cells of an integer-vector column `__qv` (the shared core). */
  private def gramOfQv(q: DataFrame): DataFrame =
    q.select(col("__qv"), posexplode(col("__qv")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"), posexplode(col("__qv")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("xi") * col("xj")).as("s"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"), col("s"))

  /** Upper-triangular integer GRAM MATRIX G = XᵀX over the quantized
    * corpus: G(i, j) = Σ_rows q_i·q_j for 0 ≤ i ≤ j < dim. One scan, one
    * dim²-cell shuffle (map-side partial sums), hash-exact output
    * (i, j, s).
    */
  def gramUpperQuantized(vecs: DataFrame, vecCol: String): DataFrame =
    gramOfQv(vecs.select(quantize1024(col(vecCol)).as("__qv")))

  /** Exact integer COVARIANCE NUMERATORS: cov_num(i, j) =
    * n·Σ(q_i·q_j) − Σq_i·Σq_j — the population covariance times n², kept
    * as an integer so the matrix is engine-exact (cov(i,j) =
    * cov_num/(n²·2²⁰) in embedding units; the caller divides once, or
    * never — rankings and eigenvectors only need the numerators).
    * Same one-scan / dim²-cell-shuffle shape as [[gramUpperQuantized]]
    * plus a dim-cell column-sum aggregate joined back by broadcast.
    */
  def covarianceUpperQuantized(vecs: DataFrame, vecCol: String): DataFrame = {
    val q = vecs.select(quantize1024(col(vecCol)).as("__qv"))
    val gram = q
      .select(col("__qv"), posexplode(col("__qv")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"), posexplode(col("__qv")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("xi") * col("xj")).as("s"))
    val sums = q.select(posexplode(col("__qv")).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
    gram
      .join(broadcast(sums.select(col("d").as("i"), col("sx").as("sxi"), col("n"))), "i")
      .join(broadcast(sums.select(col("d").as("j"), col("sx").as("sxj"))), "j")
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        (col("n") * col("s") - col("sxi") * col("sxj")).as("cov_num"))
  }

  /** TOP PRINCIPAL COMPONENT by integer power iteration + corpus
    * PROJECTION: build the quantized Gram matrix distributed, collect its
    * dim² cells (a dim table — the require bounds it), run `iters` power
    * rounds driver-side with an all-integer update
    * (w = G·v; v ← (w·1024) div max|w|, `div` truncating toward zero,
    * ties and signs deterministic), then project every corpus vector onto
    * the resulting direction as a ZERO-SHUFFLE scan — proj = Σ_d q_d·v_d
    * with v as plan literals, the whitening/drift-scoring pass over
    * 100 TB. The unnormalized eigenvector keeps ‖v‖∞ = 1024, so proj
    * magnitudes stay in quantized units.
    *
    * Output: (id, proj). Engine-exact end-to-end: the oracle rebuilds G,
    * unrolls the same `iters` integer rounds and reprojects.
    *
    * Overflow headroom (guarded): |G| ≤ qmax²·n and each matvec term is
    * ≤ |G|·1024·dim — the require keeps that under 2⁶³ for the stated
    * qmax bound. For corpora beyond it, pre-scale G (one integer shift)
    * before iterating; the iteration logic is unchanged.
    */
  /** Driver-side integer power iteration over collected Gram cells:
    * w = G·v; v ← (w·1024) div max|w| (Java /: truncation toward zero =
    * SQL `div`); a zero max keeps the previous vector. Returns (dim, v)
    * with ‖v‖∞ = 1024. */
  private def powerVec(cells: Array[org.apache.spark.sql.Row], iters: Int): (Int, Array[Long]) = {
    require(cells.nonEmpty, "powerVec: empty Gram matrix")
    val dim = cells.map(_.getLong(1)).max.toInt + 1
    require(dim <= 512, s"powerVec: dim=$dim — the Gram collect is bounded at 512")
    val g = Array.ofDim[Long](dim, dim)
    cells.foreach { r =>
      val i = r.getLong(0).toInt; val j = r.getLong(1).toInt; val s = r.getLong(2)
      g(i)(j) = s; g(j)(i) = s
    }
    var v = Array.fill(dim)(1024L)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim) { i =>
        var acc = 0L; var j = 0
        while (j < dim) { acc += g(i)(j) * v(j); j += 1 }
        acc
      }
      val m = w.map(math.abs).max
      v = if (m == 0L) v else w.map(x => x * 1024L / m)
    }
    (dim, v)
  }

  def pcaProjectQuantized(vecs: DataFrame, idCol: String, vecCol: String,
                          iters: Int, nRows: Long = -1L, qMax: Long = 4096L): DataFrame = {
    require(iters >= 1 && iters <= 16, s"pcaProjectQuantized: iters=$iters")
    // overflow envelope BEFORE the Gram job (r7 advisor: checking after the
    // collect let a violating corpus wrap silently in the distributed sums).
    // nRows < 0 pays a count job anyway, so fold dim and the ACTUAL max
    // quantized magnitude into that same scan and run the envelope on the
    // MEASURED magnitude — an optimistic caller-supplied qMax can no longer
    // hide a wrapping corpus. With caller-supplied nRows the scan is
    // skipped (that is the point of the parameter); dim comes from a 1-row
    // probe and qMax is trusted as the caller's stated magnitude contract.
    val q = vecs.select(col(idCol), quantize1024(col(vecCol)).as("__qv"))
    val (n, dim, qBound) = if (nRows >= 0L) {
      // head(1) not head(): an empty frame (e.g. a stale knownCount for a
      // path that no longer has rows) must fail with a named error, not a
      // bare NoSuchElementException from the probe
      val probe = q.select(size(col("__qv"))).head(1)
      require(probe.nonEmpty,
        s"pcaProjectQuantized: empty input (caller passed nRows=$nRows) — " +
          "nothing to project; check the knownCount source")
      (nRows, probe(0).getInt(0), qMax)
    } else {
      val st = q.agg(count(lit(1)), max(size(col("__qv"))),
        max(aggregate(col("__qv"), lit(0L), (a, x) => greatest(a, abs(x))))).head()
      if (st.getLong(0) == 0L) (0L, 1, 1L)
      else (st.getLong(0), st.getInt(1), math.max(1L, st.getLong(2)))
    }
    require(n == 0L || qBound * qBound * n <= Long.MaxValue / (1024L * dim),
      s"pcaProjectQuantized: q²·n·1024·dim overflows Long for |q|=$qBound n=$n dim=$dim — pre-scale the Gram matrix")
    val cells = gramOfQv(q).collect()
    val (dimG, v) = powerVec(cells, iters)
    require(dimG == dim, s"pcaProjectQuantized: ragged vectors (dim $dimG vs $dim)")
    val vlit = v
    // materialize the quantized array once so the 64-term projection sum
    // reads a bound column instead of re-evaluating the transform per term
    val proj = (0 until dim)
      .map(d => element_at(col("__qv"), d + 1) * lit(vlit(d)))
      .reduce(_ + _)
    vecs.select(col(idCol), quantize1024(col(vecCol)).as("__qv"))
      .select(col(idCol), proj.as("proj"))
  }

  /** TOP-2 PCA by integer DEFLATION: learn the first component exactly as
    * [[pcaProjectQuantized]], then remove it from every vector WITHOUT
    * leaving integer arithmetic — the residual
    * r_d = q_d·(v₁ᵀv₁) − v₁_d·(qᵀv₁) is the orthogonal rejection scaled
    * by ‖v₁‖² (exact: no division), downshifted by `div 2^shift`
    * (truncation toward zero, identical in SQL) to re-fit the overflow
    * envelope — and run the same power iteration on the residual Gram.
    * The second direction and both projections stay hash-exact; shift=24
    * holds the residual-Gram matvec inside int64 to n ≈ 10⁵ per the
    * bound |r'|²·n·1024·dim < 2⁶³ (coarsen further for bigger corpora —
    * direction finding is insensitive to the low bits).
    *
    * Output: (id, proj1 = qᵀv₁, proj2 = r'ᵀv₂) — the 2-D embedding map a
    * curation pipeline plots/buckets corpora by.
    */
  def pca2ProjectQuantized(vecs: DataFrame, idCol: String, vecCol: String,
                           iters: Int, shift: Int = 24): DataFrame = {
    require(iters >= 1 && iters <= 16, s"pca2ProjectQuantized: iters=$iters")
    require(shift >= 0 && shift <= 40, s"pca2ProjectQuantized: shift=$shift")
    val q = vecs.select(col(idCol), quantize1024(col(vecCol)).as("__qv"))
    val (dim, v1) = powerVec(gramOfQv(q).collect(), iters)
    val nv = v1.map(x => x * x).sum // ≤ dim·1024²
    val dot1 = (0 until dim).map(d => element_at(col("__qv"), d + 1) * lit(v1(d))).reduce(_ + _)
    val resid = array((0 until dim).map(d => call_function("div",
      element_at(col("__qv"), d + 1) * lit(nv) - lit(v1(d)) * col("__d1"),
      lit(1L << shift))): _*)
    // one boundary: the residual frame feeds the second Gram job AND the
    // final projection — without it, each consumer replays the scan plus
    // the 64-term rejection arithmetic (measured ~3× the wall at sf0.1)
    val qr = q.withColumn("__d1", dot1).withColumn("__rv", resid)
      .transform(graft.ops.Replay.stable(_))
    val (_, v2) = powerVec(gramOfQv(qr.select(col("__rv").as("__qv"))).collect(), iters)
    val proj2 = (0 until dim).map(d => element_at(col("__rv"), d + 1) * lit(v2(d))).reduce(_ + _)
    qr.select(col(idCol), col("__d1").as("proj1"), proj2.as("proj2"))
  }

  /** EMBEDDING DRIFT MONITOR — per-dimension two-sample mean shift between
    * a cohort and its complement (new batch vs corpus, one source vs the
    * rest), kept as the INTEGER numerator of mean_A − mean_B:
    * shift_num(d) = n_B·Σ_A q_d − n_A·Σ_B q_d (the actual shift is
    * shift_num/(n_A·n_B·2¹⁰); sign and ranking never need the division).
    * The monitoring pass a production pipeline runs per ingest batch to
    * catch upstream embedding-model or source-mix changes.
    *
    * One scan, one dim-cell shuffle (map-side partial sums) — per-dim
    * output regardless of corpus size; all-integer ⇒ hash-exact.
    *
    * @param cohort boolean column marking the A side; null counts as B.
    */
  def meanShiftQuantized(vecs: DataFrame, vecCol: String, cohort: Column): DataFrame =
    vecs.select(coalesce(cohort, lit(false)).as("__c"),
        posexplode(quantize1024(col(vecCol))).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(sum(when(col("__c"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("__c"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("__c"), col("x")).otherwise(0L)).as("sa"),
        sum(when(!col("__c"), col("x")).otherwise(0L)).as("sb"))
      .select(col("d").cast("long").as("d"), col("n_a"), col("n_b"),
        (col("n_b") * col("sa") - col("n_a") * col("sb")).as("shift_num"))
}
