package graft.pipelines

import org.apache.spark.sql.functions._
import graft.ops.RelOps

/** HIV-testing-services transform chain — task-for-task re-expression of
  * idr_pipeline_from_server/dags/hts_transforms.py:27-240.
  */
object HtsPipeline {

  private val entrypointNormalize: Seq[(String, String)] = Seq(
    "CCC (comprehensive care center)" -> "CCC", "CCC" -> "CCC",
    "OPD (outpatient department)" -> "OPD", "Out Patient Department(OPD)" -> "OPD",
    "VCT center" -> "VCT", "VCT" -> "VCT",
    "Home based HIV testing program" -> "Home Based Testing",
    "In Patient Department(IPD)" -> "IPD", "INPATIENT CARE OR HOSPITALIZATION" -> "IPD",
    "PMTCT ANC" -> "PMTCT", "PMTCT MAT" -> "PMTCT", "PMTCT Program" -> "PMTCT", "PMTCT PNC" -> "PMTCT",
    "OTHER NON-CODED" -> "Other",
    "mobile VCT program" -> "mobile VCT program",
    "Tuberculosis treatment program" -> "Tuberculosis treatment program",
    "OB/GYN department" -> "OB/GYN department")

  val pipeline: Pipeline = Pipeline(
    name = "hts_transforms",
    dependsOn = Seq("idr_load"),
    stages = Seq(

      // hts_transforms.py:42-55
      Stage("deduplicate_HTS", "hts_deduplicate", reads = Seq("hts_staging"), run = (_, wh) =>
        RelOps.dedupAll(wh.read("hts_staging"))),

      // hts_transforms.py:57-78 — MFL inner join + 23-col rename projection
      Stage("HTS_joining_MFL_Codes", "hts_org_enrichment",
        reads = Seq("hts_deduplicate", "MFL_Codes"), run = (_, wh) => {
        val staging = wh.read("hts_deduplicate")
        val mfl = wh.read("MFL_Codes")
        RelOps.enrichJoin(staging, mfl,
            mfl("SiteCode") === staging("SiteCode").cast("long"), "inner")
          .select(
            mfl("SiteCode"), mfl("county_name"), mfl("sub_county_name"),
            mfl("lat"), mfl("long"),
            mfl("officialname").as("facility_name"),
            staging("CccNumber").as("ccc_number"), staging("PatientId"),
            staging("DOB"), staging("Gender"), staging("ageInYears"),
            staging("EntryPoint").as("entrypoint"),
            staging("Consent").as("patient_consented"),
            staging("ClientTestedAs").as("client_tested_as"),
            staging("TestStrategy").as("approach"),
            staging("TestResult1").as("test_1_result"),
            staging("TestResult2").as("test_2_result"),
            staging("FinalTestResult").as("final_test_result"),
            staging("TestDate").as("date_tested"),
            staging("PatientGivenResult").as("patient_given_result"),
            staging("FacilityLinked").as("facility_linked_to"),
            staging("art_start_date"),
            staging("EverTestedForHiv").as("ever_tested_for_hiv"),
            staging("MonthsSinceLastTest").as("months_since_last_test"),
            staging("TbScreening").as("tb_screening"),
            staging("ClientSelfTested").as("client_self_tested"),
            staging("CoupleDiscordant").as("couple_discordant"),
            staging("TestType").as("test_type"))
      }),

      // hts_transforms.py:80-99 — LinkageDays + Y/Q/M parts for both dates
      Stage("HTS_enriching_joined_table", "hts_dates_enrichment",
        reads = Seq("hts_org_enrichment"), run = (_, wh) => {
        val dTested = col("date_tested").cast("date")
        val dArt = col("art_start_date").cast("date")
        wh.read("hts_org_enrichment")
          .withColumn("LinkageDays", RelOps.boundaryDiffDays(dArt, dTested))
          .withColumn("date_tested_Year", year(dTested).cast("long"))
          .withColumn("date_tested_Quarter", quarter(dTested).cast("long"))
          .withColumn("date_tested_Month", month(dTested).cast("long"))
          .withColumn("art_start_date_Year", year(dArt).cast("long"))
          .withColumn("art_start_date_Quarter", quarter(dArt).cast("long"))
          .withColumn("art_start_date_Month", month(dArt).cast("long"))
      }),

      // hts_transforms.py:101-126 — 10-arm entrypoint normalization (CASE
      // with null passthrough: null arm maps null -> null, else passthrough)
      Stage("HTS_enriching_entrypoint", "hts_entrypoints",
        reads = Seq("hts_dates_enrichment"), run = (_, wh) =>
        wh.read("hts_dates_enrichment").withColumn("entrypointclean",
          RelOps.caseNormalize(col("entrypoint"), entrypointNormalize, default = None))),

      // hts_transforms.py:128-153 — known values -> "0" sentinel flag,
      // self-overwrite of entrypoints (S8)
      Stage("HTS_enriching_entrypoint_2", "hts_entrypoints",
        reads = Seq("hts_entrypoints"), run = (_, wh) =>
        wh.read("hts_entrypoints").withColumn("entrypointclean2",
          RelOps.caseNormalize(col("entrypoint"),
            entrypointNormalize.map { case (from, _) => from -> "0" }, default = None))),

      // hts_transforms.py:155-171 — "0" -> clean value, else "Other" bucket
      Stage("HTS_enriching_entrypoint_3", "hts_entrypoints",
        reads = Seq("hts_entrypoints"), run = (_, wh) =>
        wh.read("hts_entrypoints").withColumn("entrypointclean3",
          when(col("entrypointclean2") === "0", col("entrypointclean"))
            .when(col("entrypointclean2").isNull, lit(null))
            .otherwise("Other"))),

      // hts_transforms.py:173-184
      Stage("HTS_data_warehouse", "hts",
        reads = Seq("hts_entrypoints"), run = (_, wh) => wh.read("hts_entrypoints")),

      // hts_transforms.py:186-212 — cascade banding of LinkageDays for
      // positives (CASE with no ELSE -> null), then filter non-null
      Stage("HTS_summary", "hts_summary", reads = Seq("hts"), run = (_, wh) => {
        val pos = col("final_test_result") === "Positive"
        wh.read("hts").withColumn("hts_cascade",
            when(col("LinkageDays") === 0 && pos, "Same Day")
              .when(col("LinkageDays") > 0 && col("LinkageDays") < 15 && pos, ">1 day <2 weeks")
              .when(col("LinkageDays") > 14 && pos, ">2 weeks")
              .when(col("LinkageDays") < 0 && pos, "Clerical Error")
              .when(col("LinkageDays").isNull && pos, "Not Linked"))
          .filter(col("hts_cascade").isNotNull)
      }),

      // hts_transforms.py:214-232 — one-row conditional-count pivot.
      // (totalPositive counts non-null cascade = all rows, the source is
      // already filtered — reference quirk preserved.)
      Stage("HTS_warehouse_summary", "hts_summary_counts",
        reads = Seq("hts_summary"), run = (_, wh) => {
        val c = col("hts_cascade")
        wh.read("hts_summary").agg(
          sum(when(c.isNotNull, 1L).otherwise(0L)).as("totalPositive"),
          sum(when(c === "Same Day", 1L).otherwise(0L)).as("sameDay"),
          sum(when(c === ">1 day <2 weeks", 1L).otherwise(0L)).as("oneDayToTwoWeeks"),
          sum(when(c === ">2 weeks", 1L).otherwise(0L)).as("moreThanTwoWeeks"),
          sum(when(c === "Clerical Error", 1L).otherwise(0L)).as("clericalError"),
          sum(when(c === "Not Linked", 1L).otherwise(0L)).as("notLinked"))
      })
    ))
}
