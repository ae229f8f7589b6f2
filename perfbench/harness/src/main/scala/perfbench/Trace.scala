package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** A named interval opened by the benchmark around a call into one layer.
  * `parent` names the span that caused it (a stage's pipeline, a query's
  * op). Kept in memory and written out when the run ends. */
final case class Span(name: String, parent: String, layer: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans opened by the benchmark itself. The job-attribution key travels as
  * a Spark local property on the calling thread, so the listener can charge
  * every job to the span that issued it. */
final class Spans {
  val done = new ConcurrentLinkedQueue[Span]()

  def time[T](spark: SparkSession, name: String, parent: String, layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Spans.Key)
    sc.setLocalProperty(Spans.Key, name)
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(name, parent, layer, t0, System.nanoTime()))
      sc.setLocalProperty(Spans.Key, prev)
    }
  }

  def add(s: Span): Unit = done.add(s)
  def drain(): Seq[Span] = Iterator.continually(done.poll()).takeWhile(_ != null).toSeq
}

object Spans { val Key = "perfbench.span" }

/** Per-job counters aggregated from task ends. */
final class JobCounters {
  var stages, tasks, taskFailures, stageRetries = 0L
  var busyMs, cpuNs, schedDelayMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillMem, spillDisk = 0L
  var inputBytes, inputRows = 0L
}

/** Scheduler, task, I/O, shuffle and spill counters (SparkListener) plus
  * planning-phase times and plan shapes (QueryExecutionListener). Counts only
  * while `enabled`, so the output checks between passes stay out of it. */
final class Collector extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile var enabled = false
  val jobs = mutable.Map.empty[Int, (String, JobCounters)]
  private val stageJob = mutable.Map.empty[Int, Int]
  val planMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var planNodes, exchanges = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Key))).getOrElse("")
    val c = new JobCounters
    jobs(e.jobId) = (span, c)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled) synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach { case (_, c) =>
      c.stages += 1
      if (e.stageInfo.attemptNumber() > 0) c.stageRetries += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { case (_, c) =>
      val info = e.taskInfo
      c.tasks += 1
      if (!info.successful) c.taskFailures += 1
      c.busyMs += info.duration
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillMem += m.memoryBytesSpilled
        c.spillDisk += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (enabled) record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val plan: SparkPlan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val nodes = collect(plan) { case p => p }.size
    val ex = collect(plan) { case e: Exchange => e }.size
    synchronized {
      phases.foreach { case (k, v) => planMs(k) += v.durationMs }
      planNodes += nodes; exchanges += ex
    }
  }

  /** Hands over everything counted so far and starts from zero. */
  def take(): (Seq[(String, JobCounters)], Map[String, Long], Long, Long) = synchronized {
    val out = (jobs.values.toSeq, planMs.toMap, planNodes, exchanges)
    jobs.clear(); stageJob.clear(); planMs.clear(); planNodes = 0; exchanges = 0
    out
  }
}

/** Process-wide JVM readings: GC time, the live heap's high-water mark and
  * Spark's codegen compile counters.
  *
  * The live heap is the heap in use right after a full collection. A young
  * collection leaves the old generation's garbage in place, so its reading
  * depends on when the collector last ran a mixed or full cycle; those
  * readings are not used. Non-heap pools (metaspace, code cache) are not
  * counted. */
object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

  @volatile private var peakLive = 0L
  def resetPeak(): Unit = peakLive = 0L
  def peakHeapMb: Double = peakLive / 1048576.0
  private def note(bytes: Long): Unit = synchronized { if (bytes > peakLive) peakLive = bytes }

  /** Collects the whole heap until what is left stops shrinking, notes it
    * and returns it in MB. One collection is not enough: it hands Spark's
    * ContextCleaner the pass's unreachable RDDs, broadcasts and shuffles,
    * and only a later one frees the blocks the cleaner then drops. */
  def fullGc(): Double = {
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var live = collect()
    var rounds = 1
    var shrinking = true
    while (shrinking && rounds < 8) {
      Thread.sleep(200)
      val next = collect()
      shrinking = next < live - (1L << 20)
      live = math.min(live, next)
      rounds += 1
    }
    note(live)
    live / 1048576.0
  }

  /** Notes the live heap after every full collection the JVM runs by itself;
    * those `fullGc` asks for are noted by `fullGc`. */
  def watchHeap(): Unit = gcBeans.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          if (info.getGcAction == "end of major GC" && info.getGcCause != "System.gc()")
            note(info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if heapPools(pool) => u.getUsed
            }.sum)
        }
      }, null, null)
    case _ =>
  }

  import org.apache.spark.metrics.source.CodegenMetrics
  /** (estimated compile ms, generated classes) so far. The compile-time
    * histogram keeps no sum, so ms = compilations × the histogram's mean. */
  def codegen: (Double, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount * h.getSnapshot.getMean, CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)
  }
}
