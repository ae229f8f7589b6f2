package graft.ops

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors}

import org.apache.spark.sql.SparkSession

/** Independent Spark job chains run side by side: while one chain's tail
  * leaves executors idle, or spends its time in driver planning, the others
  * fill the machine instead of paying each chain's latency in sequence.
  *
  * Every arm runs on its own thread of a fixed pool, under one job group
  * with `interruptOnCancel`, and with its own job description. On the first
  * failure of any arm the group is cancelled: the siblings' running tasks
  * are interrupted and any job they submit later fails. Every arm is then
  * drained and that first error is rethrown. Results come back in
  * declaration order, whatever order the arms finish in.
  */
object Overlap {

  /** Runs the `(description, body)` arms concurrently under the job group
    * `<group>_<uuid>`; returns their results in declaration order. */
  def all[T](spark: SparkSession, group: String)(arms: (String, () => T)*): Seq[T] = {
    val sc = spark.sparkContext
    val gid = s"${group}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val pool = Executors.newFixedThreadPool(arms.size)
    try {
      val done = new ExecutorCompletionService[T](pool)
      val futures = arms.map { case (desc, body) =>
        val task: Callable[T] = () => {
          sc.setJobGroup(gid, desc, interruptOnCancel = true)
          try body() finally sc.clearJobGroup()
        }
        done.submit(task)
      }
      // take() hands back arms as they finish, so the first failure
      // surfaces at once, not after the arms declared before it
      try arms.foreach(_ => done.take().get())
      catch { case t: Throwable =>
        // a failed arm must not leak its siblings' in-flight job chains
        sc.cancelJobGroupAndFutureJobs(gid)
        futures.foreach(f => scala.util.Try(f.get()))
        throw (t match {
          case e: ExecutionException if e.getCause != null => e.getCause
          case _ => t
        })
      }
      futures.map(_.get())
    } finally pool.shutdown()
  }

  /** Two arms of different result types; see [[all]]. */
  def both[A, B](spark: SparkSession, group: String)(
      a: (String, () => A), b: (String, () => B)): (A, B) = {
    val Seq(x, y) = all[Any](spark, group)(a, b)
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }
}
