package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** MV auto-rewrite: the rewrite must FIRE where derivable (plan scans the
  * MV, not the base), BAIL everywhere else, and never change results. */
class MvRewriteSpec extends SparkSpec {
  import spark.implicits._

  private val baseDir = SparkSpec.scratchDir("graft-mv-base")
  private val mvDir = SparkSpec.scratchDir("graft-mv-data")

  // deterministic base: 3 flags × 2 statuses × values with nulls
  (1 to 600).map { i =>
    (s"f${i % 3}", s"s${i % 2}", if (i % 7 == 0) None else Some(i.toLong), i % 50)
  }.toDF("flag", "status", "qty", "bucket")
    .write.mode("overwrite").parquet(baseDir)

  private def base: DataFrame = spark.read.parquet(baseDir)

  MvRewriteRule.install(spark)
  MvRewriteRule.create(spark, "test_mv", base, mvDir,
    groupCols = Seq("flag", "status"), aggCols = Seq("qty"))

  private def scanPaths(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten.toSet
  private def scansMv(df: DataFrame): Boolean = {
    val p = scanPaths(df)
    p.exists(_.endsWith(mvDir)) && !p.exists(_.endsWith(baseDir))
  }
  private def scansBase(df: DataFrame): Boolean =
    scanPaths(df).exists(_.endsWith(baseDir))

  /** The rewritten result must equal the same query with the rule off. */
  private def sameAnswer(build: => DataFrame): Unit = {
    val on = build.collect().map(_.toString).sorted
    spark.conf.set(MvRewriteRule.EnabledConf, "false")
    val off = try build.collect().map(_.toString).sorted
      finally spark.conf.set(MvRewriteRule.EnabledConf, "true")
    assert(on.toSeq === off.toSeq)
  }

  test("derivable aggregate rewrites to an MV scan — count(*), sum, min, max, count(col)") {
    val q = base.groupBy($"flag", $"status").agg(
      count(lit(1)).as("n"), sum($"qty").as("s"),
      min($"qty").as("lo"), max($"qty").as("hi"), count($"qty").as("nn"))
    assert(scansMv(q), q.queryExecution.optimizedPlan.toString)
    sameAnswer(base.groupBy($"flag", $"status").agg(
      count(lit(1)).as("n"), sum($"qty").as("s"),
      min($"qty").as("lo"), max($"qty").as("hi"), count($"qty").as("nn")))
  }

  test("rollup to a coarser grouping and filters on grouping columns ride the MV") {
    val q = base.filter($"flag" =!= "f1").groupBy($"status")
      .agg(count(lit(1)).as("n"), sum($"qty").as("s"))
    assert(scansMv(q), q.queryExecution.optimizedPlan.toString)
    sameAnswer(base.filter($"flag" =!= "f1").groupBy($"status")
      .agg(count(lit(1)).as("n"), sum($"qty").as("s")))
    // global aggregate (empty grouping) is the coarsest rollup
    val g = base.groupBy().agg(count(lit(1)).as("n"), max($"qty").as("hi"))
    assert(scansMv(g))
    sameAnswer(base.groupBy().agg(count(lit(1)).as("n"), max($"qty").as("hi")))
  }

  test("all-null groups roll up null sums and zero counts exactly") {
    // a base where one whole MV group has only null qty
    val dir2 = SparkSpec.scratchDir("graft-mv-b2")
    val mv2 = SparkSpec.scratchDir("graft-mv-d2")
    Seq(("a", Some(1L)), ("a", Some(2L)), ("b", Option.empty[Long]))
      .toDF("g", "x").write.mode("overwrite").parquet(dir2)
    val b2 = spark.read.parquet(dir2)
    MvRewriteRule.create(spark, "mv_nulls", b2, mv2, Seq("g"), Seq("x"))
    try {
      val q = b2.groupBy($"g").agg(sum($"x").as("s"), count($"x").as("c"))
      assert(!scanPaths(q).exists(_.endsWith(dir2)), "must scan the MV, not the base")
      val rows = q.collect().map(r => (r.getString(0), Option(r.get(1)), r.getLong(2))).toSet
      assert(rows === Set(("a", Some(3L), 2L), ("b", None, 0L)))
    } finally MvRewriteRule.deregister("mv_nulls")
  }

  test("non-derivable queries bail to the base table untouched") {
    // distinct aggregate
    assert(scansBase(base.groupBy($"flag").agg(countDistinct($"qty"))))
    // filter on a NON-grouping column (would split MV partitions)
    assert(scansBase(base.filter($"qty" > 100).groupBy($"flag").agg(count(lit(1)))))
    // aggregate over an unregistered column
    assert(scansBase(base.groupBy($"flag").agg(sum($"bucket"))))
    // grouping by a non-MV column
    assert(scansBase(base.groupBy($"bucket").agg(count(lit(1)))))
    // avg is not in the rollup algebra (yet) — must bail, not misrewrite
    assert(scansBase(base.groupBy($"flag").agg(avg($"qty"))))
    // aggregate FILTER clause
    assert(scansBase(
      spark.sql(s"SELECT flag, count(*) FILTER (WHERE status = 's0') FROM parquet.`$baseDir` GROUP BY flag")))
  }

  test("exprIds survive: parents of the rewritten aggregate keep working") {
    val agg = base.groupBy($"flag").agg(sum($"qty").as("s"), count(lit(1)).as("n"))
    val q = agg.filter($"n" > 10).orderBy($"s".desc).select($"flag", $"s")
    assert(scansMv(q), q.queryExecution.optimizedPlan.toString)
    sameAnswer(base.groupBy($"flag").agg(sum($"qty").as("s"), count(lit(1)).as("n"))
      .filter($"n" > 10).orderBy($"s".desc).select($"flag", $"s"))
    // self-composition: the MV used twice in one plan (fresh instances)
    val twice = agg.as("l").join(agg.as("r"), "flag")
    sameAnswer(base.groupBy($"flag").agg(sum($"qty").as("s"), count(lit(1)).as("n")).as("l")
      .join(base.groupBy($"flag").agg(sum($"qty").as("s"), count(lit(1)).as("n")).as("r"), "flag"))
    assert(twice.collect().length === 3)
  }

  test("the conf gate disables the rewrite without touching the registry") {
    spark.conf.set(MvRewriteRule.EnabledConf, "false")
    try assert(scansBase(base.groupBy($"flag").agg(count(lit(1)))))
    finally spark.conf.set(MvRewriteRule.EnabledConf, "true")
    assert(scansMv(base.groupBy($"flag").agg(count(lit(1)))))
  }
}
