package graft.pipelines

import java.util.concurrent.{LinkedBlockingQueue, ThreadFactory, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.Warehouse

/** Pipeline model — the engine's analog of the reference's Airflow task
  * graph (O1–O6 in SURVEY §2.11), as plain Scala values instead of DAG
  * syntax. A Stage is one materialized transform (one BigQueryOperator); a
  * Pipeline is one DAG; the Runner handles ordering, cross-pipeline
  * dependencies, retries and failure alerting.
  */
final case class Stage(
    name: String,                                   // = reference task_id
    sink: String,                                   // destination table
    run: (SparkSession, Warehouse) => DataFrame,
    // optional inline QA metrics (aggregate expressions over the stage
    // output, e.g. sum(key.isNull) null-counts) — collected by `observe`
    // DURING the write pass, costing zero extra jobs. Observed metrics
    // forbid DISTINCT aggregates (Spark INVALID_OBSERVED_METRICS); use
    // approx_count_distinct for cardinality QA
    qaMetrics: Seq[org.apache.spark.sql.Column] = Nil,
    // every warehouse table `run` reads: the planner orders the stage after
    // their writers, and the Runner fails the stage if its output reads a
    // warehouse table not listed here
    reads: Seq[String] = Nil)

final case class Pipeline(
    name: String,
    stages: Seq[Stage],
    dependsOn: Seq[String] = Nil)                   // O2 ExternalTaskSensor edges

final case class StageFailure(pipeline: String, stage: String, error: Throwable)

/** S5's post-load report (rows + columns, parquet_solution.py:120-124) as a
  * per-stage metrics record, extended with any stage-declared QA metrics
  * (null-key counts, domain violations, …).
  */
final case class StageMetrics(pipeline: String, stage: String, sink: String,
                              nRows: Long, nCols: Int,
                              qa: Map[String, Any])

/** One stage of a [[Plan]] and the plan positions it waits for. */
final case class PlannedStage(pipeline: String, stage: Stage, deps: Set[Int]) {
  def id: String = s"$pipeline/${stage.name}"
}

/** Stage-level dataflow plan of a set of pipelines.
  *
  * Program order is the pipelines in topological `dependsOn` order, each
  * with its stages in declared order. Execution order is set by the table
  * hazards between stages in program order: a read waits for the table's
  * latest earlier writer, a write for the table's previous writer and for
  * every reader since. Any schedule that honours those edges leaves every
  * table exactly as program order does, so a stage starts as soon as the
  * tables it reads have landed — VLS's first six stages overlap MMD, which
  * VLS needs only at `merge_art_vls` (vls_transforms.py:145).
  */
final class Plan private (val stages: IndexedSeq[PlannedStage]) {

  lazy val dependents: IndexedSeq[Seq[Int]] = {
    val out = IndexedSeq.fill(stages.size)(mutable.ArrayBuffer.empty[Int])
    for ((s, i) <- stages.zipWithIndex; d <- s.deps) out(d) += i
    out.map(_.toSeq)
  }

  /** Stages on the longest chain from each stage to the end of the plan,
    * itself included — the scheduler's priority. */
  lazy val downstream: IndexedSeq[Int] = {
    val len = Array.fill(stages.size)(1)
    for (i <- stages.indices.reverse; j <- dependents(i)) len(i) = len(i) max (len(j) + 1)
    len.toIndexedSeq
  }

  /** Ids of the stages the stage `id` (`pipeline/stage`) waits for. */
  def waitsFor(id: String): Set[String] =
    stages.find(_.id == id).getOrElse(throw new NoSuchElementException(id))
      .deps.map(stages(_).id)
}

object Plan {
  def apply(pipelines: Seq[Pipeline]): Plan = {
    val byName = pipelines.map(p => p.name -> p).toMap
    val ordered = mutable.ArrayBuffer.empty[Pipeline]
    def visit(p: Pipeline, chain: List[String]): Unit = {
      if (chain.contains(p.name))
        throw new IllegalArgumentException(s"dependency cycle: ${(p.name :: chain).reverse.mkString(" -> ")}")
      if (!ordered.exists(_.name == p.name)) {
        p.dependsOn.flatMap(byName.get).foreach(visit(_, p.name :: chain))
        ordered += p
      }
    }
    pipelines.foreach(visit(_, Nil))

    val lastWriter = mutable.Map.empty[String, Int]
    val readers = mutable.Map.empty[String, List[Int]].withDefaultValue(Nil)
    val stages = ordered.flatMap(p => p.stages.map(p.name -> _)).zipWithIndex.map {
      case ((pipeline, st), i) =>
        val deps = st.reads.flatMap(lastWriter.get) ++   // read-after-write
          lastWriter.get(st.sink) ++                      // write-after-write
          readers(st.sink)                                // write-after-read
        st.reads.foreach(t => readers(t) = i :: readers(t))
        readers(st.sink) = Nil
        lastWriter(st.sink) = i
        PlannedStage(pipeline, st, deps.toSet)
    }
    new Plan(stages.toIndexedSeq)
  }
}

/** O1 task chain + O2 cross-pipeline deps + O3 retries + O4 failure hook.
  *
  * Stage boundaries materialize to the warehouse exactly like the reference
  * (every stage output is a table — required because other pipelines read
  * them: VLS joins `art_mmd` written by MMD, vls_transforms.py:145). Within
  * a 1000-executor deployment each stage is one Spark job; the only
  * inter-stage state is the parquet table, so a retried stage is idempotent
  * (WRITE_TRUNCATE semantics).
  *
  * Both `runAll` and `runAllParallel` run the [[Plan]] of their pipelines:
  * `dependsOn` sets program order, and table hazards between stages
  * (`Stage.reads` against `Stage.sink`) set execution order. A stage whose
  * output reads a warehouse table it did not declare fails before its write.
  * Every stage's Spark jobs carry the description `<pipeline>/<stage>`.
  */
class Runner(
    spark: SparkSession,
    wh: Warehouse,
    retries: Int = 2,                               // idr_load.py:55
    retryDelayMs: Long = 0,                         // 3 min in the reference; 0 for tests
    onFailure: StageFailure => Unit = _ => (),      // O4 Mattermost-webhook analog
    onMetrics: StageMetrics => Unit = _ => ()) {    // S5 rows/cols report analog

  private val sc = spark.sparkContext

  /** Stages in flight at once under `runAllParallel`. In local mode each
    * running stage needs a driver thread and task slots from the same
    * cores; with more than half of them in flight, heavy stages contend and
    * per-stage latency rises without shortening the DAG. */
  private val maxInFlight = math.max(1, sc.defaultParallelism / 2)

  private lazy val pool = {
    val n = new AtomicInteger()
    val factory: ThreadFactory = r => {
      val t = new Thread(r, s"graft-runner-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
    val p = new ThreadPoolExecutor(maxInFlight, maxInFlight, 10, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), factory)
    p.allowCoreThreadTimeOut(true)
    p
  }

  def runStage(pipeline: String, st: Stage): Unit = runStage(pipeline, st, () => false)

  /** Runs one stage with retries. Once `aborted` holds (a sibling failed),
    * an error ends the stage without a retry or a failure alert. */
  private def runStage(pipeline: String, st: Stage, aborted: () => Boolean): Unit = {
    val description = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"$pipeline/${st.name}")
    try {
      var attempt = 0
      var done = false
      while (!done) {
        try {
          val out = st.run(spark, wh)
          checkReads(pipeline, st, out)
          // S5's rows/cols report, but measured DURING the write pass via
          // `observe` — the reference pays a separate count job
          // (parquet_solution.py:120-121); observation metrics ride the
          // write's own action, an O(0) extra cost that still holds at 100 TB
          val obs = org.apache.spark.sql.Observation()
          val metrics =
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("__n_rows") +: st.qaMetrics
          wh.write(st.sink, out.observe(obs, metrics.head, metrics.tail: _*))
          val got = obs.get
          onMetrics(StageMetrics(pipeline, st.name, st.sink,
            got("__n_rows").asInstanceOf[Long], out.schema.length, got - "__n_rows"))
          done = true
        } catch {
          case e: Throwable =>
            attempt += 1
            if (aborted()) throw e
            if (attempt > retries) {
              onFailure(StageFailure(pipeline, st.name, e))
              throw e
            }
            if (retryDelayMs > 0) Thread.sleep(retryDelayMs)
        }
      }
    } finally sc.setJobDescription(description)
  }

  /** `Stage.reads` is what the planner orders on, so a read it does not list
    * would race its writer: fail before the write instead. */
  private def checkReads(pipeline: String, st: Stage, out: DataFrame): Unit = {
    val undeclared = out.inputFiles.flatMap(wh.tableOf).distinct.filterNot(st.reads.contains)
    if (undeclared.nonEmpty)
      throw new IllegalStateException(s"stage $pipeline/${st.name} reads warehouse " +
        s"table(s) ${undeclared.mkString(", ")} missing from its `reads`")
  }

  def run(p: Pipeline): Unit = p.stages.foreach(runStage(p.name, _))

  /** Runs the plan in program order on the caller's thread (covid/hts/mmd
    * after load, vls after mmd — README.md:74). */
  def runAll(pipelines: Seq[Pipeline]): Unit =
    Plan(pipelines).stages.foreach(s => runStage(s.pipeline, s.stage))

  /** O6 — runs the plan as dataflow: every stage whose hazards are cleared
    * is ready, and ready stages start longest-downstream-chain first, at
    * most `maxInFlight` at a time, on the Runner's own daemon pool. Each
    * stage runs under its own job group. On the first failure no further
    * stage starts, the job groups of the stages in flight are cancelled
    * (interrupting their tasks, and failing any job they submit later), and
    * once those have ended the first error is rethrown.
    */
  def runAllParallel(pipelines: Seq[Pipeline]): Unit = {
    val plan = Plan(pipelines)
    val waiting = plan.stages.map(_.deps.size).toArray
    val ready = mutable.PriorityQueue.empty[Int](Ordering.by((i: Int) => (plan.downstream(i), -i)))
    ready ++= plan.stages.indices.filter(waiting(_) == 0)
    val ended = new LinkedBlockingQueue[(Int, Option[Throwable])]()
    val aborted = new AtomicBoolean(false)
    val runId = java.util.UUID.randomUUID()
    def group(i: Int) = s"graft-runner-$runId-$i"
    val inFlight = mutable.Set.empty[Int]
    var failure: Option[Throwable] = None
    def abort(): Unit = {
      aborted.set(true)
      inFlight.foreach(i => sc.cancelJobGroupAndFutureJobs(group(i)))
    }

    def launch(i: Int): Unit = {
      val s = plan.stages(i)
      inFlight += i
      pool.execute { () =>
        val result =
          try {
            // pool threads inherit the local properties of the thread that
            // created them, so the group is always set here, never inherited
            sc.setJobGroup(group(i), s.id, interruptOnCancel = true)
            runStage(s.pipeline, s.stage, () => aborted.get)
            None
          } catch { case e: Throwable => Some(e) }
          finally sc.clearJobGroup()
        ended.put(i -> result)
      }
    }

    try {
      while (inFlight.nonEmpty || (failure.isEmpty && ready.nonEmpty)) {
        while (failure.isEmpty && inFlight.size < maxInFlight && ready.nonEmpty) launch(ready.dequeue())
        val (i, result) = ended.take()
        inFlight -= i
        result match {
          case Some(e) =>
            if (failure.isEmpty) { failure = Some(e); abort() }
          case None =>
            for (j <- plan.dependents(i)) {
              waiting(j) -= 1
              if (waiting(j) == 0) ready += j
            }
        }
      }
    } catch {
      case e: Throwable => abort(); throw e // the caller was interrupted
    }
    failure.foreach(e => throw e)
  }
}

/** O4/F9 — failure-alert message composition (the reference posts
  * `{dag, task, log_url}` to a Mattermost webhook, idr_load.py:28-35; the
  * transport is the caller's concern, the message shape is this).
  */
object Alerts {
  def format(f: StageFailure): String =
    s"pipeline=${f.pipeline} task=${f.stage} failed: ${f.error.getMessage}"
}
