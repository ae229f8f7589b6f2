package graft

import org.apache.spark.sql.functions._

import graft.sketch.RefineSelect

/** Bucket-refinement exact selection: agrees with the sort-based order
  * statistic on arbitrary data (duplicates, negatives, full-Long-range
  * wraparound), resolves in the promised pass bound, and stays exact at
  * the degenerate corners a selection algorithm gets wrong first. */
class RefineSelectSpec extends SparkSpec {
  import spark.implicits._

  private val probs =
    Seq("p01" -> 0.01, "p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9, "p100" -> 1.0)

  /** sort-based ground truth with the same rank = ceil(p·n) semantics */
  private def truth(xs: Seq[Long]): Map[String, Long] = {
    val sorted = xs.sorted
    probs.map { case (nm, p) =>
      nm -> sorted((math.ceil(p * xs.size).toLong.max(1L) - 1).toInt)
    }.toMap
  }

  test("matches the sorted order statistic on mixed-sign data with heavy duplicates") {
    val rnd = new scala.util.Random(42)
    val xs = Seq.fill(5000)(rnd.nextInt(2000).toLong - 1000L) ++
      Seq.fill(500)(-17L) // a heavy tie straddling several ranks
    val sel = RefineSelect.selectRanks(xs.toDF("x"), col("x"), probs)
    assert(sel.values === truth(xs))
    assert(sel.n === xs.size)
    // span < 2^12 ≤ default buckets 2^16 ⇒ resolves in ONE refinement pass
    assert(sel.passes <= 1, s"passes=${sel.passes}")
  }

  test("tiny buckets force the deep recursion and stay exact within the pass bound") {
    val rnd = new scala.util.Random(7)
    val xs = Seq.fill(2000)(rnd.nextLong() % 1000000007L)
    val sel = RefineSelect.selectRanks(xs.toDF("x"), col("x"), probs, buckets = 2)
    assert(sel.values === truth(xs))
    // buckets=2 halves the interval per pass: ≤ bitlength(span) passes ≤ 64
    assert(sel.passes <= 64, s"passes=${sel.passes}")
  }

  test("full-Long-range span (width overflows Long) selects correctly") {
    val xs = Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L,
      Long.MaxValue - 1, Long.MaxValue)
    val sel = RefineSelect.selectRanks(xs.toDF("x"), col("x"), probs)
    assert(sel.values === truth(xs))
    assert(sel.values("p100") === Long.MaxValue)
    assert(sel.values("p01") === Long.MinValue)
  }

  test("degenerate corners: all-equal, single row, nulls dropped") {
    val allEq = RefineSelect.selectRanks(
      Seq.fill(100)(5L).toDF("x"), col("x"), probs)
    assert(allEq.values.values.toSet === Set(5L))
    assert(allEq.passes === 1) // min==max collapses without a bucket scan

    val one = RefineSelect.selectRanks(Seq(9L).toDF("x"), col("x"), probs)
    assert(one.values.values.toSet === Set(9L))

    val withNulls = RefineSelect.selectRanks(
      Seq[Option[Long]](Some(1L), None, Some(2L), Some(3L), None)
        .toDF("x"), col("x"), Seq("p50" -> 0.5))
    assert(withNulls.n === 3)
    assert(withNulls.values("p50") === 2L)
  }

  test("rank arithmetic matches the SQL oracle's double ceil on fp-wobbly products") {
    // 0.28*25 = 7.000000000000001 in IEEE double ⇒ rank 8, NOT the
    // exact-rational 7; the implementation must agree with the oracle's
    // double ceil(0.28*n), since both engines compute the same product
    val xs = (1L to 25L)
    val sel = RefineSelect.selectRanks(xs.toDF("x"), col("x"), Seq("p28" -> 0.28))
    assert(sel.values("p28") === 8L)
  }

  test("grouped selection matches per-group sorted truth with skewed sizes and diverged probes") {
    val rnd = new scala.util.Random(3)
    // wildly skewed groups: 4000 / 300 / 7 / 1 rows, disjoint wide ranges
    val data =
      Seq.fill(4000)(("a", rnd.nextLong() % 1000000007L)) ++
      Seq.fill(300)(("b", rnd.nextInt(50).toLong - 25L)) ++
      Seq.fill(7)(("c", rnd.nextLong())) ++
      Seq(("d", 42L))
    val df = data.toDF("g", "x")
    val sel = graft.sketch.RefineSelect.selectRanksByGroup(
      df, "g", col("x"), probs, buckets = 16)
    for ((g, xs) <- data.groupBy(_._1)) {
      val t = truth(xs.map(_._2))
      for ((nm, want) <- t)
        assert(sel.values((g, nm)) === want, s"group=$g rank=$nm")
    }
    assert(sel.groupCounts === Map("a" -> 4000L, "b" -> 300L, "c" -> 7L, "d" -> 1L))
    // pass count tracks the WIDEST group's span, not the group count:
    // full-Long span at buckets=16 ⇒ ≤ ceil(64/4)+1 passes
    assert(sel.passes <= 17, s"passes=${sel.passes}")
  }

  test("grouped adaptive width (buckets=0 default) is exact and never slower in passes than the old 256") {
    val rnd = new scala.util.Random(11)
    val data =
      Seq.fill(3000)(("x", rnd.nextLong() % 100000007L)) ++
      Seq.fill(900)(("y", rnd.nextInt(5000).toLong - 2500L)) ++
      Seq.fill(40)(("z", rnd.nextLong() % 997L))
    val df = data.toDF("g", "x")
    val adaptive = graft.sketch.RefineSelect.selectRanksByGroup(df, "g", col("x"), probs)
    val fixed = graft.sketch.RefineSelect.selectRanksByGroup(df, "g", col("x"), probs, buckets = 256)
    for ((g, xs) <- data.groupBy(_._1); (nm, want) <- truth(xs.map(_._2)))
      assert(adaptive.values((g, nm)) === want, s"group=$g rank=$nm")
    assert(adaptive.values === fixed.values) // exactness is width-independent
    // 3 groups x 5 probes => adaptive width 2^14: at least as few passes
    assert(adaptive.passes <= fixed.passes,
      s"adaptive=${adaptive.passes} fixed=${fixed.passes}")
  }

  test("grouped selection refuses unbounded group counts by contract") {
    val df = (1L to 200L).map(i => (i, i)).toDF("g", "x")
    val e = intercept[IllegalArgumentException] {
      graft.sketch.RefineSelect.selectRanksByGroup(
        df, "g", col("x"), Seq("p50" -> 0.5), maxGroups = 100)
    }
    assert(e.getMessage.contains("groups"))
  }

  test("weighted selection: mass-cumulative truth, zero/negative weights carry no mass") {
    import graft.sketch.RefineSelect
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(3000)((rnd.nextInt(500).toLong - 250L, rnd.nextInt(20).toLong + 1L)) ++
      Seq((-999L, 0L), (999L, -5L)) // must be inert: no mass
    val df = rows.toDF("v", "w")
    val sel = RefineSelect.selectRanks(df, col("v"),
      Seq("p50" -> 0.5, "p90" -> 0.9), weight = col("w"))
    // ground truth: smallest v whose tie-inclusive cumulative weight
    // reaches ceil(p * totalWeight)
    val live = rows.filter(_._2 > 0).sortBy(_._1)
    val tw = live.map(_._2).sum
    def wtruth(p: Double): Long = {
      val k = math.ceil(p * tw).toLong
      var cum = 0L
      live.find { case (_, w) => cum += w; cum >= k }.get._1
    }
    assert(sel.n === tw)
    assert(sel.values("p50") === wtruth(0.5))
    assert(sel.values("p90") === wtruth(0.9))
    // unweighted call unchanged: n is the row count
    val unw = RefineSelect.selectRanks(df, col("v"), Seq("p50" -> 0.5))
    assert(unw.n === rows.size)
  }

  test("exact range bounds yield balanced bins and a balanced partitioned write") {
    import graft.sketch.RefineSelect
    val rnd = new scala.util.Random(5)
    // lumpy distribution: a sampler's failure mode, exact bounds' bread
    val xs = Seq.fill(4000)(rnd.nextGaussian() * 1000).map(_.toLong) ++
      Seq.fill(4000)(rnd.nextLong() % 100L)
    val df = xs.toDF("x")
    val k = 8
    val bounds = RefineSelect.exactRangeBounds(df, col("x"), k)
    assert(bounds.length === k - 1 && bounds === bounds.sorted)
    val counts = df.groupBy(RefineSelect.binOf(col("x"), bounds).as("bin"))
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keySet === (0 until k).toSet)
    // exact bounds: each bin holds ceil(i/k*n)-ceil((i-1)/k*n) rows ± ties
    // at the bound; this data's max tie run is tiny, so ±15% of n/k
    val ideal = xs.size.toDouble / k
    counts.values.foreach(c => assert(math.abs(c - ideal) < 0.15 * ideal,
      s"bin sizes $counts vs ideal $ideal"))

    // the write-side contract: partitionBy(bin) → k balanced directories
    val out = SparkSpec.scratchDir("graft_bins")
    df.withColumn("bin", RefineSelect.binOf(col("x"), bounds))
      .write.mode("overwrite").partitionBy("bin").parquet(out)
    val dirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("bin="))
    assert(dirs.length === k)
  }

  test("drift monitor: identical slices give zero TV everywhere; a planted shift concentrates mass") {
    import graft.sketch.Drift
    val rnd = new scala.util.Random(21)
    val base = Seq.fill(2000)(rnd.nextInt(1000).toLong)
    // current = exact copy of reference → every tv_term must be 0
    val same = base.map(v => (true, v)) ++ base.map(v => (false, v))
    val zero = Drift.binnedDrift(same.toDF("is_ref", "v"),
      col("is_ref"), col("v"), numBins = 8).collect()
    assert(zero.nonEmpty && zero.forall(_.getLong(3) === 0L))
    // counts per bin agree with a direct computation
    assert(zero.map(r => r.getLong(1)).sum === 2000L)
    assert(zero.forall(r => r.getLong(1) === r.getLong(2)))

    // planted drift: current shifted up by 500 → low bins starve, TV > 0
    val shifted = base.map(v => (true, v)) ++ base.map(v => (false, v + 500L))
    val drifted = Drift.binnedDrift(shifted.toDF("is_ref", "v"),
      col("is_ref"), col("v"), numBins = 8).collect()
    val tv = drifted.map(_.getLong(3)).sum
    // TV distance = Σ/(2·Nr·Nc); the +500 shift moves about half the mass
    assert(tv > 0L)
    assert(tv.toDouble / (2.0 * 2000 * 2000) > 0.2)
    // ground truth cross-check against a direct per-bin count
    val bounds = graft.sketch.RefineSelect.exactRangeBounds(
      base.map(v => v).toDF("v"), col("v"), 8)
    def binIdx(v: Long) = bounds.count(_ < v)
    val refC = base.groupBy(binIdx).view.mapValues(_.size.toLong).toMap
    val curC = base.map(_ + 500L).groupBy(binIdx).view.mapValues(_.size.toLong).toMap
    drifted.foreach { r =>
      val b = r.getLong(0).toInt
      assert(r.getLong(1) === refC.getOrElse(b, 0L), s"bin $b ref")
      assert(r.getLong(2) === curC.getOrElse(b, 0L), s"bin $b cur")
    }
  }

  test("randomized trials: arbitrary distributions, buckets, probs and weights match sorted truth") {
    import graft.sketch.RefineSelect
    val rnd = new scala.util.Random(99)
    for (trial <- 1 to 8) {
      val n = 200 + rnd.nextInt(1500)
      // rotate through qualitatively different shapes
      val xs = (trial % 4) match {
        case 0 => Seq.fill(n)(rnd.nextLong()) // full range
        case 1 => Seq.fill(n)(rnd.nextInt(30).toLong - 15) // heavy ties
        case 2 => Seq.fill(n)((rnd.nextGaussian() * 1e6).toLong) // clumped
        case _ => Seq.fill(n)(if (rnd.nextBoolean()) 0L else rnd.nextLong()) // bimodal
      }
      val b = 1 << (1 + rnd.nextInt(7)) // 2..128
      val p = 0.01 + rnd.nextDouble() * 0.99
      val sel = RefineSelect.selectRanks(xs.toDF("x"), col("x"),
        Seq("q" -> p), buckets = b)
      val want = xs.sorted.apply((math.ceil(p * n).toLong.max(1L) - 1).toInt)
      assert(sel.values("q") === want, s"trial=$trial n=$n b=$b p=$p")

      // weighted twin on the same data
      val ws = xs.map(_ => rnd.nextInt(9).toLong + 1L)
      val selW = RefineSelect.selectRanks(xs.zip(ws).toDF("x", "w"), col("x"),
        Seq("q" -> p), buckets = b, weight = col("w"))
      val tw = ws.sum
      val k = math.ceil(p * tw).toLong
      var cum = 0L
      val wantW = xs.zip(ws).sortBy(_._1).find { case (_, w) => cum += w; cum >= k }.get._1
      assert(selW.values("q") === wantW, s"weighted trial=$trial n=$n b=$b p=$p")
    }
  }

  test("streaming drift monitor drains to the batch monitor's exact rows (multi-file stream)") {
    import graft.sketch.Drift
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(31)
    val rows = (1L to 3000L).map(i =>
      (i, Seq.fill(5 + rnd.nextInt(40))("w").mkString(" ")))
    val df = rows.toDF("doc_id", "text")
    // stream side written as FOUR files: the drained complete-mode
    // snapshot must be file-layout-independent
    val dir = SparkSpec.scratchDir("graft_drift_stream")
    df.repartition(4).write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val tok = graft.text.TextOps.tokenCount(col("text"))
    val streamed = Drift.driftOverParquet(spark,
      refDf = df.where(col("doc_id") % 2 === 0), refValue = tok,
      parquetGlob = dir, schema = schema,
      streamValue = tok, streamFilter = col("doc_id") % 2 === 1,
      numBins = 8, name = "drift_spec_drain").collect().toSeq
    val batch = Drift.binnedDrift(
      df.withColumn("is_ref", col("doc_id") % 2 === 0),
      col("is_ref"), tok, numBins = 8).collect().toSeq
    def key(rs: Seq[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(key(streamed) === key(batch))
  }

  test("the refinement histogram never exceeds the bucket budget (shuffle payload bound)") {
    val rnd = new scala.util.Random(11)
    val xs = Seq.fill(3000)(rnd.nextLong())
    for (b <- Seq(2, 16, 1024)) {
      val sel = RefineSelect.selectRanks(xs.toDF("x"), col("x"),
        Seq("p50" -> 0.5), buckets = b)
      assert(sel.values("p50") === xs.sorted.apply(1499))
      // pass bound: ceil(64 / log2(b)) refinement scans for a full-range span
      val log2b = java.lang.Integer.numberOfTrailingZeros(b)
      assert(sel.passes <= math.ceil(64.0 / log2b) + 1, s"b=$b passes=${sel.passes}")
    }
  }
}
