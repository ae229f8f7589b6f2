package graft.io

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** `Warehouse.read` of a table `write` swapped in carries its schema, so it
  * launches no schema-inference job; other writers drop the schema. */
class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs launched while `body` runs on this thread. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("probe", "probe")
      try body finally sc.clearJobGroup()
      // listener events arrive in order: once the sentinel's start is in,
      // so is every job of the probe
      sc.setJobGroup("sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("sentinel"))
      groups.asScala.count(_ == "probe")
    } finally sc.removeSparkListener(listener)
  }

  test("read after write uses the written schema, without an inference job") {
    val wh = new Warehouse(spark, java.nio.file.Files.createTempDirectory("graft_whs_").toString)
    wh.write("t", Seq((1L, "a", Option(2.5)), (2L, "b", None)).toDF("k", "v", "x"))
    val inferred = spark.read.parquet(wh.path("t")).schema
    var schema = inferred
    assert(jobsOf { schema = wh.read("t").schema } === 0)
    assert(schema === inferred) // nullable, exactly as inference makes it
    assert(wh.read("t").as[(Long, String, Option[Double])].collect().sortBy(_._1).toSeq ===
      Seq((1L, "a", Some(2.5)), (2L, "b", None)))

    // any other writer drops the schema: the new columns are read back
    wh.writeSorted("t", Seq((3L, 1)).toDF("k", "w"), Seq("k"), files = 1)
    assert(wh.read("t").columns.toSeq === Seq("k", "w"))
  }
}
