package graft.pipelines

import org.apache.spark.sql.functions._
import graft.ops.RelOps

/** COVID vaccination transform chain — task-for-task re-expression of
  * idr_pipeline_from_server/dags/covid_transforms.py:26-138.
  * Table namespace: `covid_*` for the staging dataset, `covid` for the
  * warehouse table; dims live under `MFL_Codes`.
  */
object CovidPipeline {

  val pipeline: Pipeline = Pipeline(
    name = "covid_transforms",
    dependsOn = Seq("idr_load"),
    stages = Seq(

      // covid_transforms.py:41-54 — SELECT DISTINCT * over staging
      Stage("deduplicate_COVID", "covid_deduplicate", reads = Seq("covid_staging"), run = (_, wh) =>
        RelOps.dedupAll(wh.read("covid_staging"))),

      // covid_transforms.py:56-74 — INNER join MFL dim on cast key, 26-col
      // projection incl. the source typo `Facilty_Name` aliased clean (:60)
      Stage("org_enrichment", "covid_org_enrichment",
        reads = Seq("covid_deduplicate", "MFL_Codes"), run = (_, wh) => {
        val staging = wh.read("covid_deduplicate")
        val mfl = wh.read("MFL_Codes")
        RelOps.enrichJoin(staging, mfl,
            mfl("SiteCode") === staging("MFL_code").cast("long"), "inner")
          .select(
            mfl("SiteCode"), mfl("officialname"), mfl("county_name"),
            mfl("constituency_name"), mfl("sub_county_name"), mfl("ward_name"),
            mfl("lat"), mfl("long"),
            staging("Facilty_Name").as("Facility_Name"),
            staging("ccc_number"), staging("phone_number"), staging("id_number"),
            staging("DOB"), staging("ageInYears"), staging("Gender"),
            staging("visit_date"), staging("Ever_Vaccinated"),
            staging("First_Vaccine"), staging("First_Vaccination_Verified"),
            staging("first_dose_date"), staging("Second_Vaccine"),
            staging("Second_Vaccination_Verified"), staging("second_dose_date"),
            staging("Final_Vaccination_Status"), staging("Ever_recieved_Booster"),
            staging("Booster_Vaccine"))
      }),

      // covid_transforms.py:76-91 — booster-status merge
      Stage("vaccine_status_cleaning", "covid_vaccine_status_cleaning",
        reads = Seq("covid_org_enrichment"), run = (_, wh) =>
        wh.read("covid_org_enrichment").withColumn("Vaccination_Final_Status",
          when(col("Final_Vaccination_Status") === "Fully Vaccinated" &&
               col("Ever_recieved_Booster") === "Yes", "Booster Shot")
            .otherwise(col("Final_Vaccination_Status")))),

      // covid_transforms.py:93-118 — 3 nested null→"Unknown" imputations,
      // self-overwrite (S8; Warehouse.write handles the swap)
      Stage("vaccine_status_cleaning_2", "covid_vaccine_status_cleaning",
        reads = Seq("covid_vaccine_status_cleaning"), run = (_, wh) =>
        wh.read("covid_vaccine_status_cleaning")
          .withColumn("First_Vaccine_Type",
            when(col("First_Vaccine").isNull, "Unknown").otherwise(col("First_Vaccine")))
          .withColumn("Second_Vaccine_Type",
            when(col("Second_Vaccine").isNull, "Unknown").otherwise(col("Second_Vaccine")))
          .withColumn("Booster_Vaccine_Type",
            when(col("Booster_Vaccine").isNull, "Unknown").otherwise(col("Booster_Vaccine")))),

      // covid_transforms.py:120-131 — verbatim copy to the warehouse table
      Stage("covid_warehouse", "covid",
        reads = Seq("covid_vaccine_status_cleaning"), run = (_, wh) =>
        wh.read("covid_vaccine_status_cleaning"))
    ))
}
