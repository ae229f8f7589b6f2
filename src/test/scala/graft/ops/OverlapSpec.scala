package graft.ops

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The overlap-with-cancel helper: results in declaration order, each
  * arm's jobs under the shared group with its own description, and the
  * failure path that cancels a sibling's running job. */
class OverlapSpec extends SparkSpec {

  /** Runs `body` with a listener that maps each job's description to its
    * job group and, once ended, to its result. */
  private def withJobs[T](body: (ConcurrentHashMap[String, String], ConcurrentHashMap[String, String]) => T): T = {
    val descriptions = new ConcurrentHashMap[Int, String]()
    val groups = new ConcurrentHashMap[String, String]()
    val ends = new ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for (p <- Option(e.properties); d <- Option(p.getProperty("spark.job.description"))) {
          descriptions.put(e.jobId, d)
          Option(p.getProperty("spark.jobGroup.id")).foreach(groups.put(d, _))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(descriptions.get(e.jobId)).foreach(ends.put(_, e.jobResult.toString))
    }
    spark.sparkContext.addSparkListener(listener)
    try body(groups, ends) finally spark.sparkContext.removeSparkListener(listener)
  }

  private def awaitKey(m: ConcurrentHashMap[String, String], k: String): Option[String] = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (!m.containsKey(k) && System.nanoTime() < deadline) Thread.sleep(50)
    Option(m.get(k))
  }

  test("all: results in declaration order, every arm's jobs in one group") {
    withJobs { (groups, _) =>
      val got = Overlap.all(spark, "spec")(
        "overlap: slow" -> { () => Thread.sleep(500); spark.range(0, 10, 1, 2).count() },
        "overlap: fast" -> { () => spark.range(0, 3, 1, 1).count() },
        "overlap: constant" -> { () => 7L })
      assert(got === Seq(10L, 3L, 7L))
      val (slow, fast) = (awaitKey(groups, "overlap: slow"), awaitKey(groups, "overlap: fast"))
      assert(slow.exists(_.startsWith("spec_")), s"group of the slow arm: $slow")
      assert(slow === fast)
    }
  }

  test("both: a failing arm cancels its sibling's job and rethrows the first error") {
    withJobs { (_, ends) =>
      OverlapSpec.sleeping = new CountDownLatch(1)
      val sleep = udf { (x: Long) =>
        OverlapSpec.sleeping.countDown()
        Thread.sleep(120000)
        x
      }
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException](Overlap.both(spark, "spec")(
        "overlap: sleep" -> { () => spark.range(0, 1, 1, 1).select(sleep(col("id"))).collect() },
        "overlap: boom" -> { () =>
          OverlapSpec.sleeping.await(60, TimeUnit.SECONDS)
          throw new IllegalStateException("kaboom")
        }))
      assert(e.getMessage === "kaboom")
      assert((System.nanoTime() - t0) / 1e9 < 60, "the sleeping sibling was not interrupted")
      val end = awaitKey(ends, "overlap: sleep")
      assert(end.exists(_.toLowerCase.contains("cancel")), s"job end of the sleeping arm: $end")
    }
  }
}

object OverlapSpec {
  // counted down by the sleeping task, which runs in this JVM (local mode)
  @volatile var sleeping = new CountDownLatch(1)
}
