package graft

import org.apache.spark.sql.functions._

import graft.graph.Graphs
import graft.io.Versioned
import graft.ops.Cdc
import graft.sketch.SpaceSaving

/** Round-4 additions: SpaceSaving sketch guarantees (both regimes), CDC
  * changelog semantics, triangle counting on known graphs, and the
  * idempotent-txn append that backs the exactly-once streaming sink.
  */
class SketchGraphCdcSpec extends SparkSpec {

  // ---- SpaceSaving -------------------------------------------------------

  /** Skewed synthetic stream: key k ∈ [0, 40) appears (41-k)·k times-ish —
    * a few heavy keys, a long tail; 40 distinct keys. */
  private def skewed(n: Int): Seq[Long] =
    (0 until n).map(i => (i * i % 41).toLong)

  test("SpaceSaving no-eviction regime is EXACT (capacity >= distinct keys)") {
    import spark.implicits._
    val data = skewed(4096)
    val exact = data.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val out = data.toDS().repartition(8).select(SpaceSaving(64).toColumn).head()
    assert(out.size == exact.size)
    out.foreach { case (k, hi, lo) =>
      assert(hi == exact(k) && lo == exact(k), s"key $k: ($hi,$lo) != ${exact(k)}")
    }
  }

  test("SpaceSaving eviction regime: bounds contain truth, heavy hitters retained") {
    import spark.implicits._
    val data = skewed(4096)
    val exact = data.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val n = data.size.toLong
    for (parts <- Seq(2, 8)) { // bounds must hold under any partitioning
      val cap = 16 // < 40 distinct keys -> evictions happen
      val out = data.toDS().repartition(parts).select(SpaceSaving(cap).toColumn).head()
      assert(out.size <= cap)
      out.foreach { case (k, hi, lo) =>
        assert(lo <= exact(k), s"parts=$parts key $k: lo $lo > true ${exact(k)}")
        assert(hi >= exact(k), s"parts=$parts key $k: hi $hi < true ${exact(k)}")
      }
      // classic guarantee: every key with true count > n/cap is tracked
      val tracked = out.map(_._1).toSet
      exact.filter(_._2 > n / cap).keys.foreach(k =>
        assert(tracked(k), s"parts=$parts heavy hitter $k (count ${exact(k)}) evicted"))
    }
  }

  test("SpaceSaving.sketch (mapPartitions fast path) honors the same guarantees") {
    import spark.implicits._
    val data = skewed(4096)
    val exact = data.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val n = data.size.toLong
    // no-eviction regime: exact
    val big = SpaceSaving.sketch(data.toDS().repartition(8), 64).head()
    assert(big.size == exact.size)
    big.foreach { case (k, hi, lo) => assert(hi == exact(k) && lo == exact(k)) }
    // eviction regime: bounds + heavy-hitter containment
    val cap = 16
    val out = SpaceSaving.sketch(data.toDS().repartition(4), cap).head()
    assert(out.size <= cap)
    out.foreach { case (k, hi, lo) =>
      assert(lo <= exact(k) && hi >= exact(k), s"key $k: ($hi,$lo) vs ${exact(k)}")
    }
    val tracked = out.map(_._1).toSet
    exact.filter(_._2 > n / cap).keys.foreach(k => assert(tracked(k), s"HH $k evicted"))
  }

  // ---- Cdc ---------------------------------------------------------------

  test("Cdc.applyChangelog: last-writer-wins, D removes, U upserts missing keys") {
    import spark.implicits._
    val base = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "val")
    val log = Seq(
      (2L, 1L, "U", 21L), // update existing
      (2L, 2L, "U", 22L), // later update wins
      (3L, 1L, "D", 0L),  // delete existing
      (4L, 1L, "U", 40L), // upsert: U on absent key inserts
      (5L, 1L, "I", 50L), // plain insert
      (5L, 2L, "D", 0L),  // ... then deleted
      (6L, 1L, "D", 0L)   // delete of never-seen key: no-op
    ).toDF("k", "seq", "op", "val")
    val got = Cdc.applyChangelog(base, log, "k", "seq", "op", Seq("val"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 2L -> 22L, 4L -> 40L))
  }

  // ---- Graphs.triangleCount ---------------------------------------------

  private def tri(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
    import spark.implicits._
    val r = Graphs.triangleCount(edges.toDF("src", "dst")).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("triangleCount: K4 has 4 triangles; 5-cycle has none") {
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    assert(tri(k4) == ((4L, 6L, 4L)))
    val c5 = (0L until 5L).map(i => (i, (i + 1) % 5))
    assert(tri(c5) == ((5L, 5L, 0L)))
  }

  test("triangleCount canonicalizes: duplicates, reversed edges, self-loops") {
    val messy = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 0L), (0L, 0L), (1L, 2L))
    assert(tri(messy) == ((3L, 3L, 1L)))
  }

  test("pagerankInt: hand-computed path graph round; canonicalization; hub dominance") {
    import spark.implicits._
    // path 1-2-3, total 10^12, N=3: seed = 333333333333
    // shares: leaf m/1, center m/2=166666666666
    // m1(leaf) = (15*seed)//100 + (85*166666666666)//100
    //          = 49999999999 + 141666666666 = 191666666665
    // m1(center) = 49999999999 + (85*(2*333333333333))//100 = 616666666665
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val m1 = Graphs.pagerankInt(path, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m1 === Map(1L -> 191666666665L, 2L -> 616666666665L, 3L -> 191666666665L))

    // messy input (reversed duplicates, self-loop) canonicalizes to the
    // same graph — identical masses
    val messy = Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 3L)).toDF("src", "dst")
    val m1b = Graphs.pagerankInt(messy, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m1b === m1)

    // star hub accumulates the leaves' full mass share each round
    val star = (1L to 20L).map(i => (0L, i)).toDF("src", "dst")
    val m3 = Graphs.pagerankInt(star, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m3(0L) > 10L * m3(1L)) // hub dominates
    assert((1L to 20L).map(m3).toSet.size === 1) // leaves identical
    // approximate mass conservation (floors lose < N*iters units... plus
    // the 15/85 integer split rounding; bound loosely)
    assert(math.abs(m3.values.sum - 1000000000000L) < 1000L)
  }

  test("triangleCount: star graph (max-degree hub) has no triangles") {
    val star = (1L to 20L).map(i => (0L, i))
    assert(tri(star) == ((21L, 20L, 0L)))
  }

  test("sorted_intersect_count: differential vs size(array_intersect) on random sorted arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (0 until 500).map { i =>
      def arr() = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      (i, arr(), arr())
    }
    val df = rows.toDF("i", "a", "b")
    val diff = df.select(
        graft.functions.ArrayExprs.sorted_intersect_count(col("a"), col("b")).as("fast"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(diff === 0)
    // empty sides
    val e = Seq((Seq.empty[Long], Seq(1L, 2L))).toDF("a", "b")
    assert(e.select(graft.functions.ArrayExprs.sorted_intersect_count(col("a"), col("b")))
      .head().getLong(0) === 0L)
  }

  // ---- Versioned txn append ---------------------------------------------

  test("commitAppendTxn: replays are no-ops, watermark survives later appends") {
    import spark.implicits._
    val vt = new Versioned(spark,
      SparkSpec.scratchDir("graft-txn"))
    val batch = Seq(1L, 2L, 3L).toDF("x")

    assert(vt.commitAppendTxn("t", batch, "app", 0L).contains(1L))
    assert(vt.read("t").count() == 3)
    // replay of batch 0 (the foreachBatch crash-replay hole): rejected
    assert(vt.commitAppendTxn("t", batch, "app", 0L).isEmpty)
    assert(vt.read("t").count() == 3)
    // next batch appends; stale replay still rejected afterwards
    assert(vt.commitAppendTxn("t", batch, "app", 1L).contains(2L))
    assert(vt.commitAppendTxn("t", batch, "app", 0L).isEmpty)
    assert(vt.commitAppendTxn("t", batch, "app", 1L).isEmpty)
    assert(vt.read("t").count() == 6)
    assert(vt.lastTxn("t", "app").contains(1L))

    // an independent writer appId has its own watermark
    assert(vt.commitAppendTxn("t", batch, "other", 0L).contains(3L))
    assert(vt.read("t").count() == 9)
    assert(vt.lastTxn("t", "app").contains(1L))
    assert(vt.lastTxn("t", "other").contains(0L))

    // a plain (non-txn) append carries every watermark forward
    vt.commitAppend("t", batch)
    assert(vt.lastTxn("t", "app").contains(1L))
    assert(vt.commitAppendTxn("t", batch, "app", 1L).isEmpty)

    // time travel still sees pre-replay snapshots unchanged
    assert(vt.readVersion("t", 1L).count() == 3)
  }
}
