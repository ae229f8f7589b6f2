package graft.pipelines

import graft.SparkSpec
import graft.io.Warehouse
import org.apache.spark.sql.functions._

/** Golden test of the lake→staging load (idr_load.py): the MMD stringify
  * path (typed parquet → all-string, concat, dedup, "None"→null) and the
  * schema-preserving extract loads, end-to-end through the Runner —
  * including the parallel fan-out variant (O6).
  */
class LoadPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("load pipeline: stringify path round-trips types, dedups, renormalizes None") {
    val lake = java.nio.file.Files.createTempDirectory("graft_lake_").toString
    // typed MMD extract files (two files -> bag union), with a duplicate row
    // and a null that pandas' astype(str) would have turned into "None"
    Seq((1L, Option(65.5), Option("2024-05-25")), (2L, None, None))
      .toDF("PatientPK", "weight", "ExpectedReturn")
      .write.parquet(s"$lake/mmd/part1")
    Seq((1L, Option(65.5), Option("2024-05-25")), (3L, Option(70.0), Option("2024-06-01")))
      .toDF("PatientPK", "weight", "ExpectedReturn")
      .write.parquet(s"$lake/mmd/part2")
    // a typed covid/hts/vls-shaped extract for the schema-preserving path
    Seq(("1", "C1"), ("2", "C2")).toDF("Mfl_code", "ccc_number")
      .write.parquet(s"$lake/vls")
    Seq(("1", "H1")).toDF("SiteCode", "CccNumber").write.parquet(s"$lake/hts")
    Seq(("1", "F1")).toDF("MFL_code", "Facilty_Name").write.parquet(s"$lake/covid")

    val wh = new Warehouse(spark, java.nio.file.Files.createTempDirectory("graft_wh2_").toString)
    val load = LoadPipeline.pipeline(Map(
      "mmd" -> s"$lake/mmd/*", "vls" -> s"$lake/vls",
      "hts" -> s"$lake/hts", "covid" -> s"$lake/covid"))
    new Runner(spark, wh).runAll(Seq(load))

    val mmd = wh.read("mmd_staging")
    assert(mmd.count() === 3) // 4 rows across files, 1 exact dup dropped
    assert(mmd.schema.fields.forall(_.dataType.typeName === "string")) // stringified
    val r2 = mmd.filter($"PatientPK" === "2").head()
    assert(r2.isNullAt(r2.fieldIndex("weight"))) // null stayed null, not "None"
    assert(mmd.filter($"weight" === "65.5").count() === 1) // 65.5 -> "65.5"

    assert(wh.read("vls_staging").count() === 2)
    assert(wh.read("covid_staging").columns.contains("Facilty_Name"))
  }

  test("runAllParallel executes independent pipelines concurrently after their dep") {
    val wh = new Warehouse(spark, java.nio.file.Files.createTempDirectory("graft_wh3_").toString)
    val order = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    // under dataflow a stage waits for the writers of the tables it reads
    def stage(pipe: String, reads: String*) = Stage(s"s_$pipe", s"t_$pipe", (s, w) => {
      order.add(pipe)
      import s.implicits._
      reads.map(w.read(_).select(lit(pipe).as("v"))).foldLeft(Seq(pipe).toDF("v"))(_ union _).distinct()
    }, reads = reads)
    val base = Pipeline("base", Seq(stage("base")))
    val a = Pipeline("a", Seq(stage("a", "t_base")), dependsOn = Seq("base"))
    val b = Pipeline("b", Seq(stage("b", "t_base")), dependsOn = Seq("base"))
    val tail = Pipeline("tail", Seq(stage("tail", "t_a", "t_b")), dependsOn = Seq("a", "b"))
    new Runner(spark, wh).runAllParallel(Seq(tail, a, b, base))
    val seq = order.toArray.map(_.toString).toSeq
    assert(seq.head === "base")
    assert(seq.last === "tail")
    assert(seq.toSet === Set("base", "a", "b", "tail"))
    assert(wh.read("t_tail").head().getString(0) === "tail")
  }
}
