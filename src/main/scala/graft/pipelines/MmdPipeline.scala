package graft.pipelines

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.RelOps

/** ART / multi-month-dispensing transform chain — task-for-task re-expression
  * of idr_pipeline_from_server/dags/mmd_transforms.py:37-278.
  *
  * `asOf` parameterizes the reference's CURRENT_DATE("UTC")
  * (mmd_transforms.py:158) so runs are deterministic in tests (SURVEY §5
  * determinism guard); production passes `current_date()`.
  */
object MmdPipeline {

  /** mmd_transforms.py:55-63 — the 33-column explicit retype of the
    * stringified staging (the second half of the S4 round-trip). */
  private val retypes: Map[String, DataType] = Map(
    "DOB" -> DateType, "weight" -> DoubleType, "height" -> DoubleType,
    "PatientPK" -> LongType, "AgeEnrollment" -> DoubleType,
    "AgeARTStart" -> DoubleType, "AgeLastVisit" -> DoubleType,
    "SiteCode" -> LongType, "RegistrationDate" -> DateType,
    "PreviousARTStartDate" -> DateType, "StartARTAtThisFAcility" -> DateType,
    "StartARTDate" -> DateType, "LastARTDate" -> DateType,
    "ExpectedReturn" -> DateType, "LastVisit" -> DateType,
    "Duration" -> DoubleType, "ExitDate" -> DateType,
    "Date_Created" -> TimestampType, "Date_Last_Modified" -> TimestampType)

  def pipeline(asOf: Column = current_date()): Pipeline = Pipeline(
    name = "mmd_transforms",
    dependsOn = Seq("idr_load"),
    stages = Seq(

      // mmd_transforms.py:52-72 — F1 x33, self-overwrite of staging (S8)
      Stage("assign_appropriate_data_types", "mmd_staging",
        reads = Seq("mmd_staging"), run = (_, wh) =>
        RelOps.castColumns(wh.read("mmd_staging"), retypes)),

      // mmd_transforms.py:74-96 — A1 collapse: GROUP BY (SiteCode, CCC), MAX
      // of all 31 other columns (mixes rows within a group — quirk preserved;
      // the wrapping SELECT DISTINCT * is a no-op over grouped output).
      // The two inner casts (:81-82) are no-ops post-retype but kept.
      Stage("deduplicate_ART", "mmd_deduplicate", reads = Seq("mmd_staging"), run = (_, wh) =>
        RelOps.collapseByMax(wh.read("mmd_staging"), keys = Seq("SiteCode", "CCC"))),

      // mmd_transforms.py:98-113 — BQ DATE_DIFF boundary year/month/day
      Stage("ART_return_dates_heirarchy", "mmd_dates_heirarchy",
        reads = Seq("mmd_deduplicate"), run = (_, wh) =>
        wh.read("mmd_deduplicate")
          .withColumn("years", RelOps.boundaryDiffYears(col("ExpectedReturn"), col("LastARTDate")))
          .withColumn("months", RelOps.boundaryDiffMonths(col("ExpectedReturn"), col("LastARTDate")))
          .withColumn("days", RelOps.boundaryDiffDays(col("ExpectedReturn"), col("LastARTDate")))),

      // mmd_transforms.py:115-138 — regimen-line normalization x2
      Stage("clean_regimen_lines", "mmd_regimens",
        reads = Seq("mmd_dates_heirarchy"), run = (_, wh) => {
        val mapping = Seq("First line" -> "1st line", "Second line" -> "2nd line",
          "Third line" -> "3rd line")
        wh.read("mmd_dates_heirarchy")
          .withColumn("LastRegimenLineClean",
            RelOps.caseNormalize(col("LastRegimenLine"), mapping, Some("Uncategorized")))
          .withColumn("StartRegimenLineClean",
            RelOps.caseNormalize(col("StartRegimenLine"), mapping, Some("Uncategorized")))
      }),

      // mmd_transforms.py:140-152 — P3 alias append
      Stage("date_enrichment", "mmd_dates_enrichment", reads = Seq("mmd_regimens"), run = (_, wh) =>
        wh.read("mmd_regimens").withColumn("DateExpected", col("ExpectedReturn"))),

      // mmd_transforms.py:154-167 — CurrentDays vs as-of date (F6)
      Stage("current_on_treatment_enrichment", "mmd_current_days",
        reads = Seq("mmd_dates_enrichment"), run = (_, wh) =>
        wh.read("mmd_dates_enrichment")
          .withColumn("CurrentDays", RelOps.boundaryDiffDays(asOf, col("DateExpected")))),

      // mmd_transforms.py:169-188 — nested CASE: died flag then on-treatment
      Stage("further_current_on_treatment_enrichment", "mmd_Tx_Curr",
        reads = Seq("mmd_current_days"), run = (_, wh) =>
        wh.read("mmd_current_days")
          .withColumn("LossOfLife", when(col("ExitReason") === "Died", 1L).otherwise(0L))
          .withColumn("CurrentOnTreatment",
            when(col("CurrentDays") < 31 && col("LossOfLife") === 0, "Yes").otherwise("NO"))),

      // mmd_transforms.py:190-212 — MFL inner join, 46-col projection,
      // CCC renamed PatientID; writes back into Tx_Curr (S8)
      Stage("ART_joining_MFL_Codes", "mmd_Tx_Curr",
        reads = Seq("mmd_Tx_Curr", "MFL_Codes"), run = (_, wh) => {
        val staging = wh.read("mmd_Tx_Curr")
        val mfl = wh.read("MFL_Codes")
        RelOps.enrichJoin(staging, mfl,
            mfl("SiteCode") === staging("SiteCode").cast("long"), "inner")
          .select(Seq(
            mfl("SiteCode"), mfl("county_name"), mfl("constituency_name"),
            mfl("sub_county_name"), mfl("ward_name"), mfl("lat"), mfl("long"),
            staging("DOB"), staging("Gender"), staging("CCC").as("PatientID"),
            staging("PatientPK"), staging("weight"), staging("height"),
            staging("AgeEnrollment"), staging("AgeARTStart"), staging("AgeLastVisit"),
            staging("FacilityName"), staging("RegistrationDate"), staging("PatientSource"),
            staging("PreviousARTStartDate"), staging("StartARTAtThisFAcility"),
            staging("StartARTDate"), staging("PreviousARTUse"), staging("PreviousARTPurpose"),
            staging("PreviousARTRegimen"), staging("DateLastUsed"), staging("StartRegimen"),
            staging("StartRegimenLine"), staging("LastARTDate"), staging("LastRegimen"),
            staging("LastRegimenLine"), staging("ExpectedReturn"), staging("LastVisit"),
            staging("Duration"), staging("ExitDate"), staging("ExitReason"),
            staging("Date_Created"), staging("Date_Last_Modified"), staging("years"),
            staging("months"), staging("days"), staging("LastRegimenLineClean"),
            staging("StartRegimenLineClean"), staging("DateExpected"),
            staging("CurrentDays"), staging("CurrentOnTreatment")): _*)
      }),

      // mmd_transforms.py:214-232 — FORMAT_DATETIME %Y/%B + day extracts (S8)
      Stage("ART_enriching_joined_table", "mmd_Tx_Curr",
        reads = Seq("mmd_Tx_Curr"), run = (_, wh) =>
        wh.read("mmd_Tx_Curr")
          .withColumn("LastARTYear", date_format(col("LastARTDate"), "yyyy"))
          .withColumn("LastARTMonth", date_format(col("LastARTDate"), "MMMM"))
          .withColumn("LastARTDay", dayofmonth(col("LastARTDate")).cast("long"))
          .withColumn("StartARTYear", date_format(col("StartARTDate"), "yyyy"))
          .withColumn("StartARTMonth", date_format(col("StartARTDate"), "MMMM"))
          .withColumn("StartARTDay", dayofmonth(col("StartARTDate")).cast("long"))),

      // mmd_transforms.py:234-257 — hub dim inner join (J2, no cast: already
      // INT by now), appends Hub column; writes back into Tx_Curr (S8)
      Stage("hub_details", "mmd_Tx_Curr",
        reads = Seq("mmd_Tx_Curr", "hub_details"), run = (_, wh) => {
        val staging = wh.read("mmd_Tx_Curr")
        val hub = wh.read("hub_details")
        RelOps.enrichJoin(staging, hub,
            staging("SiteCode") === hub("MFL_Code"), "inner")
          .select(staging.columns.map(staging(_)) :+ hub("Hub"): _*)
      }),

      // mmd_transforms.py:259-270 — SELECT DISTINCT * to the warehouse
      Stage("ART_MMD_data_warehouse", "art_mmd", reads = Seq("mmd_Tx_Curr"), run = (_, wh) =>
        RelOps.dedupAll(wh.read("mmd_Tx_Curr")))
    ))
}
