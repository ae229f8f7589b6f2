package graft.pipelines

import graft.SparkSpec
import graft.io.Warehouse
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.schema.Schemas

/** Golden end-to-end test of the four reference chains over hand-checkable
  * fixtures (FIXTURES.md): every CASE arm, the join-drop paths, and the
  * §2.12 quirks (MAX-collapse row mixing, cross-facility ccc match, the
  * Valid+>=1000 NULL-suppression branch) asserted explicitly.
  */
class PipelineGoldenSpec extends SparkSpec {

  private def mk(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private def row(schema: StructType, vals: (String, Any)*): Row = {
    val m = vals.toMap
    Row(schema.fieldNames.toSeq.map(f => m.getOrElse(f, null)): _*)
  }

  private val asOf = lit("2024-06-01").cast("date")
  private val chains = Seq(CovidPipeline.pipeline, HtsPipeline.pipeline,
    MmdPipeline.pipeline(asOf), VlsPipeline.pipeline(asOf))

  private lazy val wh: Warehouse = {
    val w = staged()
    new Runner(spark, w).runAll(chains)
    w
  }

  /** A fresh warehouse holding the dims and the four staging tables. */
  private def staged(): Warehouse = {
    val root = java.nio.file.Files.createTempDirectory("graft_wh_").toString
    val w = new Warehouse(spark, root)

    w.write("MFL_Codes", mk(Schemas.mflCodes, Seq(
      Row(1L, "Alpha Clinic", "CountyA", "ConstA", "SubA", "WardA", -1.2, 36.8),
      Row(2L, "Beta Hospital", "CountyB", "ConstB", "SubB", "WardB", -0.5, 37.1))))
    w.write("hub_details", mk(Schemas.hubDetails, Seq(Row(1L, "HubA"), Row(2L, "HubB"))))

    val cs = Schemas.covidStaging
    val covidR1 = row(cs, "MFL_code" -> "1", "Facilty_Name" -> "Alpha Clinic",
      "ccc_number" -> "C1", "Final_Vaccination_Status" -> "Fully Vaccinated",
      "Ever_recieved_Booster" -> "Yes", "First_Vaccine" -> "AZ")
    w.write("covid_staging", mk(cs, Seq(
      covidR1, covidR1, // exact duplicate -> dedup
      row(cs, "MFL_code" -> "1", "ccc_number" -> "C2",
        "Final_Vaccination_Status" -> "Partially Vaccinated",
        "Ever_recieved_Booster" -> "No"),
      row(cs, "MFL_code" -> "99", "ccc_number" -> "C3")))) // unknown site -> dropped

    val hs = Schemas.htsStaging
    def hts(site: String, ccc: String, entry: Any, tested: Any, art: Any, result: String) =
      row(hs, "SiteCode" -> site, "CccNumber" -> ccc, "EntryPoint" -> entry,
        "TestDate" -> tested, "art_start_date" -> art, "FinalTestResult" -> result)
    w.write("hts_staging", mk(hs, Seq(
      hts("1", "H1", "CCC", "2024-01-10", "2024-01-10", "Positive"),           // Same Day
      hts("1", "H2", "PMTCT ANC", "2024-01-10", "2024-01-15", "Positive"),     // >1d <2wk
      hts("2", "H3", "Weird Entry", "2024-01-01", "2024-01-21", "Positive"),   // >2 weeks, Other bucket
      hts("2", "H4", null, "2024-02-01", null, "Positive"),                    // Not Linked, null entry
      hts("1", "H5", "VCT", "2024-03-10", "2024-03-07", "Positive"),           // Clerical Error
      hts("1", "H6", "OPD", "2024-03-01", "2024-03-03", "Negative"))))         // cascade null -> excluded

    val ms = Schemas.mmdStaging
    def mmd(vals: (String, Any)*) = row(ms, vals: _*)
    w.write("mmd_staging", mk(ms, Seq(
      mmd("SiteCode" -> "1", "CCC" -> "P1", "weight" -> "65.5", "DOB" -> "None",
        "ExpectedReturn" -> "2024-05-25", "LastARTDate" -> "2024-03-10",
        "StartARTDate" -> "2020-02-15", "StartRegimenLine" -> "First line",
        "LastRegimenLine" -> "Second line", "PatientPK" -> "11"),
      mmd("SiteCode" -> "1", "CCC" -> "P1", "weight" -> "70.1", "DOB" -> "1980-05-01",
        "ExpectedReturn" -> "2024-04-01", "LastARTDate" -> "2024-02-20",
        "StartARTDate" -> "2020-02-15", "StartRegimenLine" -> "First line",
        "LastRegimenLine" -> "Second line", "PatientPK" -> "11"),
      mmd("SiteCode" -> "2", "CCC" -> "P2", "weight" -> "80.0",
        "ExpectedReturn" -> "2024-05-30", "LastARTDate" -> "2024-04-15",
        "StartARTDate" -> "2019-07-01", "ExitReason" -> "Died",
        "StartRegimenLine" -> "Second line", "LastRegimenLine" -> "Weird",
        "PatientPK" -> "22"),
      mmd("SiteCode" -> "2", "CCC" -> "P3", "weight" -> "55.0",
        "ExpectedReturn" -> "2024-01-01", "LastARTDate" -> "2023-11-20",
        "StartARTDate" -> "2018-01-05", "StartRegimenLine" -> "Third line",
        "LastRegimenLine" -> "Third line", "PatientPK" -> "33"),
      mmd("SiteCode" -> "1", "CCC" -> "P4", "weight" -> "60.0",
        "ExpectedReturn" -> "2024-05-28", "LastARTDate" -> "2024-05-01",
        "StartARTDate" -> "2021-09-10", "StartRegimenLine" -> "First line",
        "LastRegimenLine" -> "First line", "PatientPK" -> "44"))))

    val vs = Schemas.vlsStaging
    def vls(mfl: Any, ccc: Any, received: Any, result: String, lab: String = "VIRAL LOAD") =
      row(vs, "Mfl_code" -> mfl, "ccc_number" -> ccc,
        "date_test_result_received" -> received, "test_result" -> result,
        "lab_test" -> lab)
    w.write("vls_staging", mk(vs, Seq(
      vls("1", "P1", "2024-03-01", "500"),
      vls("1", "P1", "2024-04-02", "LDL"),        // latest for (1, P1)
      vls("2", "P2", "2024-05-01", "25000"),
      vls(null, "P9", "2024-05-01", "100"),       // null Mfl -> filtered
      vls("1", "P1", "2024-02-01", "300", "CD4"), // not viral load -> filtered
      vls("2", "P1", "2024-03-15", "1200"),       // same ccc, other facility (quirk)
      vls("1", "P4", "2024-05-10", "5000"))))     // Valid + >=1000 -> NULL quirk
    w
  }

  test("covid: dedup, join-drop, booster merge, null imputation") {
    val covid = wh.read("covid")
    assert(covid.count() === 2)
    val c1 = covid.filter(col("ccc_number") === "C1").head()
    assert(c1.getAs[String]("Vaccination_Final_Status") === "Booster Shot")
    assert(c1.getAs[String]("First_Vaccine_Type") === "AZ")
    assert(c1.getAs[String]("Second_Vaccine_Type") === "Unknown")
    assert(c1.getAs[String]("Booster_Vaccine_Type") === "Unknown")
    val c2 = covid.filter(col("ccc_number") === "C2").head()
    assert(c2.getAs[String]("Vaccination_Final_Status") === "Partially Vaccinated")
    assert(covid.filter(col("ccc_number") === "C3").count() === 0)
  }

  test("hts: entrypoint normalization chain and cascade banding") {
    val hts = wh.read("hts")
    assert(hts.count() === 6)
    def ep(ccc: String) = hts.filter(col("ccc_number") === ccc).head()
    assert(ep("H1").getAs[String]("entrypointclean3") === "CCC")
    assert(ep("H2").getAs[String]("entrypointclean3") === "PMTCT")
    assert(ep("H3").getAs[String]("entrypointclean3") === "Other")
    assert(ep("H4").getAs[String]("entrypointclean3") === null)
    val counts = wh.read("hts_summary_counts").head()
    assert(counts.toSeq === Seq(5L, 1L, 1L, 1L, 1L, 1L))
  }

  test("mmd: retype round-trip, MAX-collapse mixes rows, treatment flags, date formats") {
    val art = wh.read("art_mmd")
    assert(art.count() === 4)
    val p1 = art.filter(col("PatientID") === "P1").head()
    // row mixing: weight from row 2, ExpectedReturn from row 1
    assert(p1.getAs[Double]("weight") === 70.1)
    assert(p1.getAs[java.sql.Date]("ExpectedReturn").toString === "2024-05-25")
    assert(p1.getAs[java.sql.Date]("DOB").toString === "1980-05-01") // "None" -> null, max takes real date
    assert(p1.getAs[Long]("days") === 76L)
    assert(p1.getAs[Long]("months") === 2L)
    assert(p1.getAs[Long]("years") === 0L)
    assert(p1.getAs[String]("CurrentOnTreatment") === "Yes")
    assert(p1.getAs[String]("LastARTMonth") === "March")
    assert(p1.getAs[String]("LastARTYear") === "2024")
    assert(p1.getAs[String]("LastRegimenLineClean") === "2nd line")
    assert(p1.getAs[String]("Hub") === "HubA")
    val p2 = art.filter(col("PatientID") === "P2").head()
    assert(p2.getAs[String]("CurrentOnTreatment") === "NO") // died
    assert(p2.getAs[String]("LastRegimenLineClean") === "Uncategorized")
    val p3 = art.filter(col("PatientID") === "P3").head()
    assert(p3.getAs[String]("CurrentOnTreatment") === "NO") // 152 days late
  }

  test("vls: latest-per-group, cross-facility ccc quirk, suppression arms incl. NULL branch") {
    val vls = wh.read("vls")
    // (1,P1) latest 2024-04-02 LDL; (2,P1) latest 2024-03-15; (2,P2); (1,P4)
    assert(vls.count() === 4)
    val out = wh.read("art_mmd_vls")
    assert(out.count() === 5) // P1 x2 (two facilities' vls rows), P2, P3, P4
    def rows(p: String) = out.filter(col("PatientID") === p).collect()
    val p1 = rows("P1")
    assert(p1.length === 2)
    val byResult = p1.map(r => r.getAs[String]("vl_test_result") -> r).toMap
    assert(byResult("LDL").getAs[String]("viral_load_suppressed") === "Suppressed")
    // Valid test with load >= 1000 -> CASE falls through -> NULL (quirk #1)
    assert(byResult("1200").getAs[String]("viral_load_suppressed") === null)
    val p4 = rows("P4").head
    assert(p4.getAs[String]("vl_valid") === "Valid")
    assert(p4.getAs[String]("viral_load_suppressed") === null)
    assert(p4.getAs[String]("vl_eligible") === "Test is current")
    val p2 = rows("P2").head
    assert(p2.getAs[String]("viral_load_suppressed") === "Unsuppressed")
    assert(p2.getAs[String]("vl_eligible") === "Ineligible")
    val p3 = rows("P3").head
    assert(p3.getAs[String]("vl_valid") === "Unknown")
    assert(p3.getAs[String]("viral_load_suppressed") === "Unknown")
    assert(p3.getAs[String]("vl_eligible") === "Unknown")
  }

  test("runner: dependency cycle detection and retry-then-fail alerting") {
    val failures = scala.collection.mutable.ArrayBuffer[StageFailure]()
    val r = new Runner(spark, wh, retries = 1, onFailure = failures += _)
    val boom = Pipeline("boom", Seq(Stage("explode", "never", (_, _) =>
      throw new RuntimeException("kaboom"))))
    intercept[RuntimeException](r.runAll(Seq(boom)))
    assert(failures.map(f => (f.pipeline, f.stage)) === Seq(("boom", "explode")))
    val a = Pipeline("a", Nil, dependsOn = Seq("b"))
    val b = Pipeline("b", Nil, dependsOn = Seq("a"))
    intercept[IllegalArgumentException](new Runner(spark, wh).runAll(Seq(a, b)))
    intercept[IllegalArgumentException](new Runner(spark, wh).runAllParallel(Seq(a, b)))
  }

  test("runAllParallel writes every warehouse table row for row as runAll does") {
    val par = staged()
    new Runner(spark, par).runAllParallel(chains)
    for (t <- Seq("covid", "hts", "hts_summary_counts", "art_mmd", "vls", "art_mmd_vls")) {
      val (a, b) = (wh.read(t), par.read(t))
      assert(a.columns.toSeq === b.columns.toSeq, t)
      assert(a.count() === b.count(), t)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, t)
    }
  }

  test("runner: observe-based stage metrics report rows/cols + QA during the write pass") {
    import org.apache.spark.sql.functions._
    val metrics = scala.collection.mutable.ArrayBuffer[StageMetrics]()
    val whm = new graft.io.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_whm_").toString)
    val r = new Runner(spark, whm, onMetrics = metrics += _)
    val st = Stage("load_customers", "cust", (s, _) =>
        graft.Tables.customer(s, sfDir).select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
      qaMetrics = Seq(
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("null_keys"),
        // observed metrics forbid DISTINCT aggregates; the HLL++ sketch is
        // the observable stand-in (exact at this cardinality)
        approx_count_distinct(col("c_mktsegment")).as("n_segments")))
    r.runAll(Seq(Pipeline("load", Seq(st))))
    assert(metrics.size === 1)
    val m = metrics.head
    assert((m.pipeline, m.stage, m.sink) === (("load", "load_customers", "cust")))
    assert(m.nRows === whm.read("cust").count())
    assert(m.nCols === 3)
    assert(m.qa("null_keys") === 0L)
    assert(m.qa("n_segments") === whm.read("cust").select("c_mktsegment").distinct().count())
  }
}
