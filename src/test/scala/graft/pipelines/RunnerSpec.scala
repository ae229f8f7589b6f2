package graft.pipelines

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.Warehouse

/** The Runner's stage-level dataflow: the planner's hazard edges on the
  * reference DAG, the failure path of `runAllParallel`, and the guard on
  * undeclared reads. */
class RunnerSpec extends SparkSpec {
  import spark.implicits._

  private def tmpWarehouse() =
    new Warehouse(spark, SparkSpec.scratchDir("graft_runner_"))

  /** The benchmark's DAG: the lake load plus both dims, then the chains. */
  private val referencePlan = {
    val load = LoadPipeline.pipeline(Seq("mmd", "vls", "hts", "covid").map(e => e -> s"/lake/$e").toMap)
    val dims = Seq("MFL_Codes", "hub_details").map(d => Stage(s"load_$d", d, (_, _) => ???))
    Plan(Seq(load.copy(stages = load.stages ++ dims), CovidPipeline.pipeline,
      HtsPipeline.pipeline, MmdPipeline.pipeline(), VlsPipeline.pipeline()))
  }

  test("planner: table hazards on the reference DAG") {
    val p = referencePlan
    assert(p.waitsFor("vls_transforms/merge_art_vls") ===
      Set("mmd_transforms/ART_MMD_data_warehouse", "vls_transforms/VLS_Warehouse"))
    // VLS needs MMD only at merge_art_vls: its first stage waits for its staging table alone
    assert(p.waitsFor("vls_transforms/deduplicate_COVID") === Set("idr_load/staging_dataset_VLS"))
    assert(p.waitsFor("covid_transforms/deduplicate_COVID") === Set("idr_load/staging_dataset_COVID"))
    assert(p.waitsFor("hts_transforms/deduplicate_HTS") === Set("idr_load/staging_dataset_HTS"))
    assert(p.waitsFor("mmd_transforms/assign_appropriate_data_types") === Set("idr_load/load_data_MMD"))
    // the three self-overwrites of hts_entrypoints are chained
    assert(p.waitsFor("hts_transforms/HTS_enriching_entrypoint_2") === Set("hts_transforms/HTS_enriching_entrypoint"))
    assert(p.waitsFor("hts_transforms/HTS_enriching_entrypoint_3") === Set("hts_transforms/HTS_enriching_entrypoint_2"))
    // load stages read nothing, so nothing orders them
    assert(p.stages.filter(_.pipeline == "idr_load").forall(_.deps.isEmpty))
    // the longest chain (MMD's load, MMD, the VLS tail) starts first
    val top = p.stages.indices.maxBy(i => (p.downstream(i), -i))
    assert(p.stages(top).id === "idr_load/load_data_MMD")
    assert(p.downstream(top) === 1 + 11 + 5)
  }

  test("planner: a write waits for every earlier reader of its table") {
    val noop: (org.apache.spark.sql.SparkSession, Warehouse) => org.apache.spark.sql.DataFrame = (_, _) => ???
    val first = Pipeline("first", Seq(
      Stage("write_t", "t", noop),
      Stage("read_t", "u", noop, reads = Seq("t"))))
    val second = Pipeline("second", Seq(Stage("rewrite_t", "t", noop)), dependsOn = Seq("first"))
    val p = Plan(Seq(second, first))
    assert(p.stages.map(_.id) === Seq("first/write_t", "first/read_t", "second/rewrite_t"))
    assert(p.waitsFor("first/read_t") === Set("first/write_t"))
    assert(p.waitsFor("second/rewrite_t") === Set("first/write_t", "first/read_t"))
  }

  test("a stage that reads an undeclared warehouse table fails with the table's name") {
    val wh = tmpWarehouse()
    wh.write("t_src", Seq(1, 2).toDF("v"))
    val failures = mutable.ArrayBuffer[StageFailure]()
    val r = new Runner(spark, wh, retries = 0, onFailure = failures += _)
    val e = intercept[IllegalStateException](
      r.runAll(Seq(Pipeline("p", Seq(Stage("copy", "t_dst", (_, w) => w.read("t_src")))))))
    assert(e.getMessage.contains("t_src"))
    assert(!wh.exists("t_dst"))
    assert(failures.map(_.stage) === Seq("copy"))
    r.runAll(Seq(Pipeline("p", Seq(Stage("copy", "t_dst", (_, w) => w.read("t_src"), reads = Seq("t_src"))))))
    assert(wh.read("t_dst").count() === 2)
  }

  test("runAllParallel: a failure cancels the sibling's job and rethrows the first error") {
    val descriptions = new ConcurrentHashMap[Int, String]()
    val ends = new ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descriptions.put(e.jobId, _))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(descriptions.get(e.jobId)).foreach(ends.put(_, e.jobResult.toString))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      RunnerSpec.sleeping = new CountDownLatch(1)
      val sleep = udf { (x: Long) =>
        RunnerSpec.sleeping.countDown()
        Thread.sleep(120000)
        x
      }
      val slow = Pipeline("slow", Seq(Stage("sleep", "t_slow", (s, _) =>
        s.range(0, 1, 1, 1).select(sleep(col("id")).as("id")))))
      val boom = Pipeline("boom", Seq(Stage("explode", "t_boom", (_, _) => {
        RunnerSpec.sleeping.await(60, TimeUnit.SECONDS)
        throw new RuntimeException("kaboom")
      })))
      val failures = mutable.ArrayBuffer[StageFailure]()
      val r = new Runner(spark, tmpWarehouse(), retries = 1,
        onFailure = f => failures.synchronized(failures += f))
      val t0 = System.nanoTime()
      val e = intercept[RuntimeException](r.runAllParallel(Seq(slow, boom)))
      assert(e.getMessage === "kaboom")
      assert((System.nanoTime() - t0) / 1e9 < 60, "the sleeping sibling was not interrupted")
      assert(failures.map(f => (f.pipeline, f.stage)) === Seq(("boom", "explode")))
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!ends.containsKey("slow/sleep") && System.nanoTime() < deadline) Thread.sleep(50)
      assert(Option(ends.get("slow/sleep")).exists(_.toLowerCase.contains("cancel")),
        s"job end of slow/sleep: ${ends.get("slow/sleep")}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object RunnerSpec {
  // counted down by the sleeping task, which runs in this JVM (local mode)
  @volatile var sleeping = new CountDownLatch(1)
}
