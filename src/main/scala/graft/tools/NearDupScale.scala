package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Replay
import graft.sim.Similarity

/** MEASURES the banded-similarity production-regime claim (r4 VERDICT #3):
  * "at near-dup thresholds (τ ≥ 0.85) the LSH-banded pair generation is
  * sub-quadratic" — which the isotropic bench corpus cannot exhibit (no
  * pair there exceeds cosine 0.61, so at its τ=0.45 the candidate set is
  * ~90% dense by geometry, not by plan).
  *
  * This tool PLANTS real near-dup structure and measures the same operator
  * ([[Similarity.cosineNearDupPairsBanded]], q161's core) on it:
  *
  *   - corpus: deterministic seeded gaussians, d=64; ids come in triples,
  *     every 10th triple is a NEAR-DUP CLUSTER (member = shared base +
  *     ε·noise, ε=0.3 ⇒ intra-cluster cosine ≈ 1/(1+ε²) ≈ 0.92); the other
  *     triples are independent vectors (cross cosines ~N(0, d^-1/2) — a
  *     ≥0.85 collision is a >6σ event). So ~10% of rows carry near-dups,
  *     the realistic corpus shape.
  *   - ground truth WITHOUT an O(n²) pass: the planted cluster pairs with
  *     exact cosine ≥ τ (O(n) of them, known by construction; `--check`
  *     additionally brute-forces the full truth on small n to prove the
  *     planted set IS the truth).
  *   - LSH sizing: nbits = ⌈log₂ n⌉ + 1 so bucket count scales WITH the
  *     corpus (the standard sizing — fixed nbits leaves random collisions
  *     a constant fraction of n², i.e. still quadratic); tables = 48 holds
  *     per-pair recall ≥ ~0.97 at cosine 0.92 across these sizes.
  *
  * Prints one JSON line: n, params, banded wall seconds, verified pairs,
  * candidate pairs, truth pairs, recall. Run at n and 10n and compare
  * sec_banded ratios — DESIGN.md "Scaling" records the datum.
  *
  * Usage: runMain graft.tools.NearDupScale <n> [--check]
  */
object NearDupScale {
  val Dim = 64
  val Eps = 0.3
  val Thresh = 0.85
  val Tables = 48

  def nbitsFor(n: Long): Int =
    math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt + 1

  /** Deterministic planted corpus: (vec_id, embedding). */
  def planted(spark: SparkSession, n: Long, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    spark.range(n).repartition(spark.sparkContext.defaultParallelism).map { id =>
      val group = id / 3
      val dup = group % 10 == 0
      val baseSeed = if (dup) seed ^ (group * 0x9E3779B97F4A7C15L)
                     else seed ^ (id * 0xC2B2AE3D27D4EB4FL) + 1L
      val rb = new scala.util.Random(baseSeed)
      val base = Array.fill(Dim)(rb.nextGaussian())
      val v =
        if (dup) {
          val rn = new scala.util.Random(seed ^ (id * 0xD6E8FEB86659FD93L) + 7L)
          Array.tabulate(Dim)(i => (base(i) + Eps * rn.nextGaussian()).toFloat)
        } else base.map(_.toFloat)
      (id, v)
    }.toDF("vec_id", "embedding")
  }

  /** The planted cluster pairs (id_a < id_b, same dup-triple) with their
    * EXACT cosine — O(n/10) rows, no all-pairs scan. */
  def plantedPairs(vecs: DataFrame): DataFrame = {
    val tagged = vecs
      .withColumn("grp", expr("vec_id div 3"))
      .filter(col("grp") % 10 === 0)
    tagged.as("l").join(tagged.as("r"),
        col("l.grp") === col("r.grp") && col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("id_a"), col("r.vec_id").as("id_b"),
        Similarity.cosine(col("l.embedding"), col("r.embedding")).as("cos_sim"))
  }

  def main(args: Array[String]): Unit = {
    val n = args(0).toLong
    val flags = args.drop(1).filterNot(_.startsWith("--"))
    val nbitsArg = flags.lift(0).map(_.toInt)
    val tablesArg = flags.lift(1).map(_.toInt)
    val check = args.contains("--check")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val nbits = nbitsArg.getOrElse(nbitsFor(n))
    val tables = tablesArg.getOrElse(Tables)

    // materialize the corpus so generation cost stays out of the timing
    val dir = s"/tmp/graft_neardup_$n"
    planted(spark, n).write.mode("overwrite").parquet(dir)
    val vecs = spark.read.parquet(dir)

    val truth = plantedPairs(vecs).filter(col("cos_sim") >= Thresh)
      .select("id_a", "id_b").transform(Replay.stable(_))
    val truthCount = truth.count()

    // warmup (codegen/classload), untimed, on a slice
    Similarity.cosineNearDupPairsBanded(vecs.limit(2000), "vec_id", "embedding",
      Thresh, tables, math.min(nbits, 12)).count()

    val t0 = System.nanoTime()
    val banded = Similarity.cosineNearDupPairsBanded(
      vecs, "vec_id", "embedding", Thresh, tables, nbits)
    val pairCount = banded.count()
    val sec = (System.nanoTime() - t0) / 1e9

    val hit = banded.join(truth, Seq("id_a", "id_b"), "left_semi").count()
    val recall = if (truthCount == 0) 1.0 else hit.toDouble / truthCount

    // candidate volume (untimed; the density datum): same banding, pre-verify
    val b = vecs.select(col("vec_id").as("id"),
      posexplode(Similarity.lshBuckets(col("embedding"), tables, nbits)).as(Seq("table", "bucket")))
    val candCount = b.as("l").join(b.as("r"),
        col("l.table") === col("r.table") && col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id"), col("r.id")).distinct().count()

    val bruteNote =
      if (check) {
        val brute = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", Thresh)
          .select("id_a", "id_b").transform(Replay.stable(_))
        val bruteCount = brute.count()
        val outsidePlanted = brute.join(truth, Seq("id_a", "id_b"), "left_anti").count()
        s""","brute_pairs":$bruteCount,"brute_outside_planted":$outsidePlanted"""
      } else ""

    println(s"""{"n":$n,"nbits":$nbits,"tables":$tables,"thresh":$Thresh,""" +
      s""""sec_banded":${f"$sec%.2f"},"pairs":$pairCount,"candidates":$candCount,""" +
      s""""truth_pairs":$truthCount,"recall":${f"$recall%.4f"}$bruteNote}""")
    spark.stop()
  }
}
