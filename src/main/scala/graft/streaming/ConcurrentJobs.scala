package graft.streaming

import org.apache.spark.sql.SparkSession

/** Run independent driver tasks as CONCURRENT Spark jobs (guide §2.6:
  * actions are only sequential because driver code calls them
  * sequentially). Used for a commit's per-store tasks (one per index
  * store, plus the primary's stage), for a fan-out's per-table merges,
  * for a gate that drives the same mutation against two disjoint
  * stores, and for per-file rewrites that touch disjoint paths. A
  * single task runs inline — no pool
  * churn on the common path.
  *
  * Each task runs under its own Spark job group. The first failure —
  * or an interrupt of the calling thread, e.g. a stopping stream —
  * cancels every task's group, running and future jobs alike, with
  * `interruptOnCancel` so running tasks stop; tasks not yet started
  * never start. The call then waits for every thread to unwind and
  * rethrows the first failure, so no task outlives it; a drain that
  * times out throws instead of leaving work running unseen. Driver
  * threads are not interrupted: a commit thread inside
  * [[CdcStream]]'s metadata-only publish finishes it.
  */
private[graft] object ConcurrentJobs {

  /** Seconds a failed call waits for its siblings to unwind after
    * their Spark jobs are cancelled.
    */
  private val DrainTimeoutSec = 120L

  def run(spark: SparkSession, tasks: Seq[() => Unit]): Unit = {
    runAll(spark, tasks); ()
  }

  /** [[run]] that returns each task's result, in input order. */
  def runAll[A](spark: SparkSession, tasks: Seq[() => A]): Seq[A] =
    if (tasks.size <= 1) tasks.map(_())
    else {
      import java.util.concurrent._
      val sc = spark.sparkContext
      val groups = tasks.indices.map(i =>
        s"graft-concurrent-${java.util.UUID.randomUUID()}-$i")
      // threads are created per call, so each inherits the caller's
      // Spark local properties (streaming batch id, SQL execution id)
      val pool = Executors.newFixedThreadPool(math.min(4, tasks.size))
      val done = new ExecutorCompletionService[A](pool)
      val fs = tasks.zip(groups).map { case (t, g) =>
        done.submit(new Callable[A] {
          def call(): A = {
            // the inherited description keeps the jobs' attribution
            sc.setJobGroup(g, sc.getLocalProperty("spark.job.description"),
              interruptOnCancel = true)
            try t() finally sc.clearJobGroup()
          }
        })
      }
      try {
        tasks.foreach(_ => done.take().get())
        fs.map(_.get())
      } catch {
        case e @ (_: ExecutionException | _: InterruptedException) =>
          groups.foreach(g => sc.cancelJobGroupAndFutureJobs(g))
          fs.foreach(_.cancel(false))
          pool.shutdown()
          if (!pool.awaitTermination(DrainTimeoutSec, TimeUnit.SECONDS))
            throw new IllegalStateException(
              s"concurrent tasks did not drain within " +
                s"${DrainTimeoutSec}s after a failure", e)
          e match {
            case ee: ExecutionException => throw ee.getCause
            case ie => throw ie
          }
      } finally pool.shutdown()
    }
}
