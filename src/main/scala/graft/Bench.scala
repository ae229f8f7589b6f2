package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR and reports per-query seconds. Per-query progress goes
  * to stderr so a hung query is attributable.
  *
  * Timing discipline: MEDIAN OF THREE INTERLEAVED ROUNDS (A,B,C,…,A,B,C,…).
  * Back-to-back repeats share one ambient-load window, so a busy 10 s on a
  * shared box used to brand one query slow no matter how many repeats it got
  * (r3: q73 8.15 s driver vs 0.64 s re-run). Interleaving decorrelates each
  * query's samples — one noisy window now perturbs one sample of many
  * queries instead of all samples of one — and the median discards the
  * outlier sample entirely.
  *
  * Artifact discipline: the full per-query JSON (~5 KB at 160 queries)
  * overflows the harness's stdout tail, so it goes to a FILE
  * (SPARK_GRAFT_BENCH_OUT, default bench_out.json) and stdout's final line
  * is a compact summary — total, query count, slowest queries, file path —
  * that stays machine-parseable in a bounded tail window.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // absorb one-time JVM/codegen/shuffle/parquet-reader warmup outside the
    // timings: exercise scan + broadcast join + hash agg + window machinery
    // on a bounded slice so the first timed query doesn't pay Janino/classload
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val c = spark.read.parquet(s"$sfDir/customer.parquet").limit(500)
      val o = spark.read.parquet(s"$sfDir/orders.parquet").limit(500)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment").agg(sum("o_totalprice"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("c_mktsegment").orderBy(col("sum(o_totalprice)"))))
        .count()
    }
    // Dev-loop filter (unset in the driver ⇒ full headline set):
    // SPARK_GRAFT_BENCH_ONLY=q140_record_linkage times just those queries.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet).filter(_.nonEmpty)
    val rounds = sys.env.get("SPARK_GRAFT_BENCH_ROUNDS").map(_.toInt).getOrElse(3)
    val selected = SparkEntry.headlineQueries.filter(n => only.forall(_.contains(n)))
    // Each round runs the queries in a deterministic shuffled order (seed
    // 1 + round), so a query's interleaved samples see three DIFFERENT
    // neighborhoods and no hot predecessor's checkpoint/GC debt always
    // taxes the same successor (r11 verdict #2; the r12 experiment measured
    // −4% on the common-query total against declaration order). Every run
    // logs per-query gc-ms / heap / persisted-RDD deltas on stderr so
    // neighbor-bleed stays visible without a special build.
    val gcBeans = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    }
    def gcMillis(): Long = gcBeans.map(_.getCollectionTime).sum
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val failCounts = scala.collection.mutable.Map.empty[String, Int]
    val rowCounts = scala.collection.mutable.Map.empty[String, Long]
    def timeOne(r: String, name: String): Unit = {
      val fn = SparkEntry.queries(name)
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      val n = try fn(spark, sfDir).count() catch { case e: Throwable =>
        System.err.println(s"[bench] FAILED $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        -1L
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val gcMs = gcMillis() - gc0
      val rt = Runtime.getRuntime
      val heapGb = (rt.totalMemory() - rt.freeMemory()) / 1e9
      val nRdds = spark.sparkContext.getPersistentRDDs.size
      // a crashed round must NOT enter the sample list — its fast failure
      // would shrink the median and silently IMPROVE the total (r4 advisor);
      // failures are counted and surfaced in both artifacts instead
      if (n >= 0) {
        samples(name) = sec :: samples.getOrElse(name, Nil)
        rowCounts(name) = n
      } else failCounts(name) = failCounts.getOrElse(name, 0) + 1
      System.err.println(f"[bench] round $r $name%-28s $sec%8.2fs  rows=$n  gc=${gcMs}ms heap=$heapGb%.1fG rdds=$nRdds")
    }
    for (r <- 1 to rounds; name <- new scala.util.Random(1L + r).shuffle(selected))
      timeOne(r.toString, name)
    def median(xs: List[Double]): Double = {
      val s = xs.sorted; s(s.size / 2)
    }
    // CONTENTION GUARD (r7 verdict #1): on a shared box, median-of-3 cannot
    // absorb TWO contended rounds — BENCH_r07 reported 24.6 s for a query
    // whose samples were [24.6, 27.0, 1.02] (steady state 1.0 s), a 12% lie
    // in the headline. A query whose median exceeds twice its own best
    // sample has contaminated samples, not a slow plan; give each such query
    // up to SPARK_GRAFT_BENCH_EXTRA (default 2) extra interleaved rounds so
    // the median is taken over enough samples that a contended window can't
    // hold it. The absolute floor (0.5 s) keeps sub-second queries — where
    // 2× spread is scheduler noise, not contention — out of the retry set.
    val extraRounds = sys.env.get("SPARK_GRAFT_BENCH_EXTRA").map(_.toInt).getOrElse(2)
    val unstable = selected.filter { n =>
      samples.get(n).exists(ss =>
        ss.size >= 2 && median(ss) > 0.5 && median(ss) > 2.0 * ss.min)
    }
    if (unstable.nonEmpty)
      System.err.println(s"[bench] re-rounding ${unstable.size} unstable: ${unstable.mkString(", ")}")
    for (r <- 1 to extraRounds; name <- unstable) timeOne(s"x$r", name)
    // a query with zero successful rounds has no honest time: sec=null
    val results = selected.map(n => n -> samples.get(n).map(median))
    val total = results.flatMap(_._2).sum
    // best-of-N beside the median: the spread between the two is the
    // measurement-noise budget — a clean run has them within ~10%
    val bestTotal = selected.flatMap(n => samples.get(n).map(_.min)).sum
    val nFailed = failCounts.values.sum
    def fmt(d: Double): String = f"$d%.3f"
    def fmtOpt(v: Option[Double]): String = v.map(fmt).getOrElse("null")
    // full artifact: per-query median plus the raw samples for transparency
    val detail = results.map { case (k, v) =>
      val raw = samples.getOrElse(k, Nil).reverse.map(fmt).mkString("[", ",", "]")
      val best = samples.get(k).map(ss => fmt(ss.min)).getOrElse("null")
      s""""$k":{"sec":${fmtOpt(v)},"best":$best,"samples":$raw,"rows":${rowCounts.getOrElse(k, -1L)},""" +
        s""""failed_rounds":${failCounts.getOrElse(k, 0)}}"""
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmtOpt(v) }.mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir",""" +
      s""""best_total":${fmt(bestTotal)},""" +
      s""""rounds":$rounds,"failed_rounds":$nFailed,"queries":$qs,"detail":$detail}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), full)
    val slowest = results.collect { case (k, Some(v)) => (k, v) }.sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir",""" +
      s""""best_total":${fmt(bestTotal)},""" +
      s""""n_queries":${results.size},"rounds":$rounds,"failed_rounds":$nFailed,""" +
      s""""slowest":$slowest,"queries_file":"$outPath"}""")
    spark.stop()
  }
}
