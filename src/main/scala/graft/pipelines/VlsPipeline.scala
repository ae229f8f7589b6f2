package graft.pipelines

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.RelOps

/** Viral-load-suppression transform chain — task-for-task re-expression of
  * idr_pipeline_from_server/dags/vls_transforms.py:25-240. Depends on MMD's
  * `art_mmd` warehouse table (vls_transforms.py:145) — the cross-pipeline
  * edge the Runner enforces.
  *
  * Reference quirks preserved verbatim (SURVEY §2.12):
  *  - `single_patient_records` is a LEFT JOIN made effectively INNER by the
  *    WHERE equality, and joins on ccc_number only while the MAX was grouped
  *    by (Mfl_code, ccc_number) — same ccc at two facilities cross-matches.
  *  - `viral_load_suppression`: a >=1000 load with a *Valid* test yields
  *    NULL suppression status (the CASE has no ELSE).
  */
object VlsPipeline {

  def pipeline(asOf: Column = current_date()): Pipeline = Pipeline(
    name = "vls_transforms",
    dependsOn = Seq("idr_load", "mmd_transforms"),
    stages = Seq(

      // vls_transforms.py:40-52 (task id says COVID — reference copy-paste)
      Stage("deduplicate_COVID", "vls_deduplicate", reads = Seq("vls_staging"), run = (_, wh) =>
        RelOps.dedupAll(wh.read("vls_staging"))),

      // vls_transforms.py:54-68 — double null filter (inner redundant)
      Stage("denullification_VLS", "vls_NULLS", reads = Seq("vls_deduplicate"), run = (_, wh) =>
        RelOps.filterNotNull(wh.read("vls_deduplicate"), Seq("ccc_number", "Mfl_code"))),

      // vls_transforms.py:70-82
      Stage("viral_load_only", "vls_viral_load", reads = Seq("vls_NULLS"), run = (_, wh) =>
        wh.read("vls_NULLS").filter(col("lab_test") === "VIRAL LOAD")),

      // vls_transforms.py:84-97 — A2 greatest date per (Mfl_code, ccc_number)
      Stage("latest_vl_result", "vls_recent_dates", reads = Seq("vls_viral_load"), run = (_, wh) =>
        wh.read("vls_viral_load")
          .groupBy(col("Mfl_code"), col("ccc_number"))
          .agg(max(col("date_test_result_received").cast("date")).as("results_date"))),

      // vls_transforms.py:99-117 — J3: LEFT JOIN on ccc_number + WHERE date
      // equality (effective INNER; the string side is cast for the compare)
      Stage("single_patient_records", "vls_patient_single_records",
        reads = Seq("vls_recent_dates", "vls_viral_load"), run = (_, wh) => {
        val rd = wh.read("vls_recent_dates").as("RD")
        val vl = wh.read("vls_viral_load").as("Staging")
        rd.join(vl, rd("ccc_number") === vl("ccc_number"), "left")
          .filter(rd("results_date") === vl("date_test_result_received").cast("date"))
          .select(
            rd("Mfl_code").as("SiteCode"), rd("ccc_number"),
            rd("results_date").as("vl_results_date"),
            vl("Gender"), vl("DOB"),
            vl("ageInYears").as("vl_ageInYears"),
            vl("date_test_requested").as("vl_date_test_requested"),
            vl("lab_test").as("vl_lab_test"),
            vl("urgency").as("vl_urgency"),
            vl("order_reason").as("vl_order_reason"),
            vl("test_result").as("vl_test_result"))
      }),

      // vls_transforms.py:119-130
      Stage("VLS_Warehouse", "vls",
        reads = Seq("vls_patient_single_records"), run = (_, wh) => wh.read("vls_patient_single_records")),

      // vls_transforms.py:132-155 — ART ⟕ VLS on PatientID = ccc_number,
      // 57-col projection (ART.* minus weight/height — reference drops them)
      Stage("merge_art_vls", "vls_merge_art_vls", reads = Seq("art_mmd", "vls"), run = (_, wh) => {
        val art = wh.read("art_mmd").as("ART")
        val vls = wh.read("vls").as("VLS")
        val artCols = Seq(
          "SiteCode", "county_name", "constituency_name", "sub_county_name",
          "ward_name", "lat", "long", "DOB", "Gender", "PatientID", "PatientPK",
          "AgeEnrollment", "AgeARTStart", "AgeLastVisit", "FacilityName",
          "RegistrationDate", "PatientSource", "PreviousARTStartDate",
          "StartARTAtThisFAcility", "StartARTDate", "PreviousARTUse",
          "PreviousARTPurpose", "PreviousARTRegimen", "DateLastUsed",
          "StartRegimen", "StartRegimenLine", "LastARTDate", "LastRegimen",
          "LastRegimenLine", "ExpectedReturn", "LastVisit", "Duration",
          "ExitDate", "ExitReason", "Date_Created", "Date_Last_Modified",
          "years", "months", "days", "LastRegimenLineClean",
          "StartRegimenLineClean", "DateExpected", "CurrentDays",
          "CurrentOnTreatment", "LastARTYear", "LastARTMonth", "LastARTDay",
          "StartARTYear", "StartARTMonth", "StartARTDay")
        val vlsCols = Seq("vl_results_date", "vl_ageInYears",
          "vl_date_test_requested", "vl_lab_test", "vl_urgency",
          "vl_order_reason", "vl_test_result")
        RelOps.factJoin(art, vls, art("PatientID") === vls("ccc_number"), "left")
          .select(artCols.map(art(_)) ++ vlsCols.map(vls(_)): _*)
      }),

      // vls_transforms.py:157-176 — days since test vs as-of date, validity
      Stage("valid_results", "vls_valid_results", reads = Seq("vls_merge_art_vls"), run = (_, wh) =>
        wh.read("vls_merge_art_vls")
          .withColumn("vl_days_since_test", RelOps.boundaryDiffDays(asOf, col("vl_results_date")))
          .withColumn("vl_valid",
            when(col("vl_days_since_test").isNull, "Unknown")
              .when(col("vl_days_since_test") < 366 && col("CurrentOnTreatment") === "Yes", "Valid")
              .otherwise("Invalid"))),

      // vls_transforms.py:178-199 — F8 sentinel decode then suppression CASE
      // (no ELSE — the Valid+>=1000 branch stays NULL, quirk #1 preserved)
      Stage("viral_load_suppression", "vls_viral_load_suppression",
        reads = Seq("vls_valid_results"), run = (_, wh) =>
        wh.read("vls_valid_results")
          .withColumn("load_numbers",
            when(col("vl_test_result") === "LDL", lit(0).cast(DecimalType(38, 9)))
              .when(col("vl_test_result") =!= "LDL", col("vl_test_result").cast(DecimalType(38, 9))))
          .withColumn("viral_load_suppressed",
            when(col("load_numbers") < 1000 && col("vl_valid") === "Valid", "Suppressed")
              .when(col("load_numbers") >= 1000 && col("vl_valid") === "Invalid", "Unsuppressed")
              .when(col("load_numbers").isNull, "Unknown"))),

      // vls_transforms.py:201-218
      Stage("eligible_for_VL", "vls_eligible_for_VL",
        reads = Seq("vls_viral_load_suppression"), run = (_, wh) =>
        wh.read("vls_viral_load_suppression")
          .withColumn("vl_eligible",
            when(col("vl_valid") === "Unknown", "Unknown")
              .when(col("vl_valid") === "Invalid" && col("CurrentOnTreatment") === "Yes", "Eligible")
              .when(col("vl_valid") === "Valid" && col("CurrentOnTreatment") === "Yes", "Test is current")
              .otherwise("Ineligible"))),

      // vls_transforms.py:220-231
      Stage("art_vls_warehouse", "art_mmd_vls", reads = Seq("vls_eligible_for_VL"), run = (_, wh) =>
        wh.read("vls_eligible_for_VL"))
    ))
}
