package graft.ops

import graft.SparkSpec
import graft.io.Warehouse
import org.apache.spark.sql.functions._

/** Scale-path operators: salted skew joins, sketch aggregates, bucketed
  * co-located joins. Assertions check both semantics AND the physical plan
  * property that motivates the operator.
  */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin: same result as a plain join, hot key spread over salts") {
    // one pathologically hot key (90% of rows) + a tail
    val fact = ((1 to 900).map(_ => (1L, "hot")) ++ (1 to 100).map(i => (i.toLong % 7 + 2, "cold")))
      .toDF("k", "tag")
    val dim = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).groupBy("name").count()
      .as[(String, Long)].collect().toMap
    val salted = RelOps.saltedJoin(fact, dim, "k", salts = 8)
      .groupBy("name").count().as[(String, Long)].collect().toMap
    assert(salted === plain)
    assert(salted("one") === 900L)
  }

  test("distinctCounts: exact matches countDistinct; approx and HLL within rsd") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val row = RelOps.distinctCounts(li, Seq.empty, "l_partkey").head()
    val exact = row.getAs[Long]("exact_distinct").toDouble
    assert(math.abs(row.getAs[Long]("approx_distinct") - exact) / exact < 0.1)
    assert(math.abs(row.getAs[Long]("hll_estimate") - exact) / exact < 0.1)
  }

  test("mixtureSample: clamps oversubscribed sources, drops untargeted ones, deterministic") {
    val docs = (1 to 300).map(i =>
      (i.toLong, s"src${i % 3}", 10L)).toDF("doc_id", "source", "t")
    // src0 rate 1300·10/(11·1000) ≈ 1.18 → kept WHOLE; src1 ≈ 0.118; src2 untargeted → gone
    val kept = RelOps.mixtureSample(docs, "source", col("t"), col("doc_id"),
      Seq("src0" -> 10L, "src1" -> 1L), totalBudget = 1300L)
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") === 100L, "rate > 1 must clamp to keep-all")
    assert(bySrc.get("src2").isEmpty, "untargeted source must drop entirely")
    // src1: rate = 1300·1/(11·1000) ≈ 0.118 → expected ~12 of 100 docs
    assert(bySrc("src1") > 0L && bySrc("src1") < 40L)
    // deterministic: a second evaluation keeps the identical id set
    val ids1 = kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = RelOps.mixtureSample(docs, "source", col("t"), col("doc_id"),
        Seq("src0" -> 10L, "src1" -> 1L), totalBudget = 1300L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 === ids2)
  }

  test("mixtureSample: overflow envelope fails loudly on both predicate sides") {
    val docs = Seq((1L, "src0", 10L)).toDF("doc_id", "source", "t")
    // RHS (driver-known): budget·w past 2^63/2^16 → require at call time
    intercept[IllegalArgumentException] {
      RelOps.mixtureSample(docs, "source", col("t"), col("doc_id"),
        Seq("src0" -> (1L << 40)), totalBudget = 1L << 40)
    }
    // LHS (data-dependent): a source whose token supply pushes
    // avail·Σw past 2^63/2^16 → raise_error at evaluation, not a wrap
    val huge = Seq((1L, "src0", Long.MaxValue / 65536L / 2L + 1L),
      (2L, "src1", 10L)).toDF("doc_id", "source", "t")
    val ex = intercept[Exception] {
      RelOps.mixtureSample(huge, "source", col("t"), col("doc_id"),
        Seq("src0" -> 1L, "src1" -> 1L), totalBudget = 100L).count()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("exceeds the long envelope"), msgs)
    // in-envelope inputs are untouched by the guard
    assert(RelOps.mixtureSample(docs, "source", col("t"), col("doc_id"),
      Seq("src0" -> 1L), totalBudget = 100L).count() === 1L)
  }

  test("partitioned write: dynamic overwrite touches only the written partitions; reads prune") {
    val root = SparkSpec.scratchDir("graft_part_")
    val wh = new Warehouse(spark, root)
    val v1 = Seq(("2024-06-01", 1L, "a"), ("2024-06-02", 2L, "b"))
      .toDF("day", "id", "v")
    wh.writePartitioned("evts", v1, Seq("day"))
    // dynamic overwrite: replace ONLY day=2024-06-02; 06-01 must survive
    val v2 = Seq(("2024-06-02", 3L, "b2")).toDF("day", "id", "v")
    wh.writePartitioned("evts", v2, Seq("day"))
    val all = wh.read("evts")
    assert(all.count() === 2)
    assert(all.filter($"day" === "2024-06-01").head().getLong(all.columns.indexOf("id")) === 1L)
    assert(all.filter($"day" === "2024-06-02").head().getAs[String]("v") === "b2")
    // partition pruning: the filter becomes a PartitionFilter, not a data filter
    val plan = wh.read("evts").filter($"day" === "2024-06-01")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"), plan)
  }

  test("Warehouse.write survives a crash between swap renames (old snapshot recoverable)") {
    val root = SparkSpec.scratchDir("graft_swap_")
    val wh = new Warehouse(spark, root)
    wh.write("t", Seq((1L, "v1")).toDF("id", "v"))
    // self-overwrite (S8): the new snapshot is computed FROM the table itself
    wh.write("t", wh.read("t").withColumn("v", lit("v2")))
    assert(wh.read("t").head().getString(1) === "v2")
    // simulate a crash after dest was retired but before tmp was promoted:
    // dest missing, __old present — read()/exists() must fall back to __old
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(wh.path("t")),
      new org.apache.hadoop.fs.Path(wh.path("t__old"))))
    assert(wh.exists("t"))
    assert(wh.read("t").head().getString(1) === "v2")
    // the retry's write heals the table and clears the leftover snapshot
    wh.write("t", wh.read("t").withColumn("v", lit("v3")))
    assert(wh.read("t").head().getString(1) === "v3")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(wh.path("t__old"))))
  }

  test("Warehouse.merge upserts: updates replace, unmatched survive, new keys insert") {
    val root = SparkSpec.scratchDir("graft_merge_")
    val wh = new Warehouse(spark, root)
    wh.merge("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k")) // creates
    wh.merge("t", Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), Seq("k"))
    val out = wh.read("t").as[(Long, String)].collect().toSet
    assert(out === Set((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("compact: rewrites many small files into the target count, values untouched") {
    val root = SparkSpec.scratchDir("graft_cmp_")
    val wh = new Warehouse(spark, root)
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    // simulate incremental-append fragmentation: many tiny files
    wh.write("frag", o.repartition(24))
    def files(t: String): Int = new java.io.File(s"$root/$t").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files("frag") === 24)
    val before = wh.read("frag").orderBy("o_orderkey").collect()
    wh.compact("frag", targetFiles = 2)
    assert(files("frag") === 2)
    assert(wh.read("frag").orderBy("o_orderkey").collect() === before)
  }

  test("writeSorted: shards cover disjoint ascending ranges, each internally sorted") {
    val root = SparkSpec.scratchDir("graft_srt_")
    val wh = new Warehouse(spark, root)
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    wh.writeSorted("orders_sorted", o, Seq("o_orderkey"), files = 4)
    val parts = new java.io.File(s"$root/orders_sorted").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length === 4)
    val ranges = parts.map { f =>
      val keys = spark.read.parquet(f.getAbsolutePath)
        .select(col("o_orderkey")).collect().map(_.getLong(0))
      assert(keys.sameElements(keys.sorted), s"${f.getName} not internally sorted")
      (keys.head, keys.last)
    }
    // files sorted by task id == ascending ranges; ranges must not overlap
    val ordered = ranges.sortBy(_._1)
    for (pair <- ordered.toSeq.sliding(2) if pair.size == 2)
      assert(pair(0)._2 < pair(1)._1,
        s"overlapping shard ranges: ${ordered.mkString(", ")}")
    assert(spark.read.parquet(s"$root/orders_sorted").count() === o.count())
  }

  test("bucketed tables join without a shuffle exchange") {
    val root = SparkSpec.scratchDir("graft_bkt_")
    val wh = new Warehouse(spark, root)
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
    wh.writeBucketed("orders_bkt", o, 4, Seq("o_custkey"))
    wh.writeBucketed("customer_bkt", c, 4, Seq("c_custkey"))
    // sorted-bucket scans only advertise their ordering under this flag
    // (off by default since 3.0 because it requires one file per bucket —
    // which writeBucketed now guarantees via its pre-repartition)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    val joined = wh.readTable("orders_bkt")
      .join(wh.readTable("customer_bkt").hint("shuffle_merge"),
        col("o_custkey") === col("c_custkey"))
    val physical = joined.queryExecution.executedPlan.toString
    spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
    assert(!physical.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$physical")
    // one file per bucket ⇒ the scan advertises the bucket sort order and
    // the merge join skips its Sort too (clustering fully paid at write)
    assert(!physical.contains("+- Sort "),
      s"bucketed+sorted join should not re-sort:\n$physical")
    assert(joined.count() === o.count())
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.sql("DROP TABLE IF EXISTS customer_bkt")
  }
}
