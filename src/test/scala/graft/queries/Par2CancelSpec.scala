package graft.queries

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import graft.SparkSuite
import org.apache.spark.scheduler.{JobFailed, JobSucceeded, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskStart}

/** `EventQueries.par2` runs on the shared concurrent-job runner: when
  * one side fails, the other side's running Spark job is cancelled,
  * not left running past the call.
  */
class Par2CancelSpec extends SparkSuite {
  test("one side fails: the other side's running job ends cancelled") {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[Int]()
    val ends = new ConcurrentLinkedQueue[SparkListenerJobEnd]()
    val taskStarted = new CountDownLatch(1)
    val jobEnded = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.job.description") == "par2-slow")
          jobs.add(e.jobId)
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        taskStarted.countDown()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.contains(e.jobId)) { ends.add(e); jobEnded.countDown() }
    }
    sc.addSparkListener(listener)
    val t0 = System.nanoTime()
    try {
      val e = intercept[IllegalStateException] {
        EventQueries.par2(spark)({
          sc.setJobDescription("par2-slow")
          // a job that would run a minute unless its tasks are killed
          spark.range(0, 2, 1, 2).rdd.map { x => Thread.sleep(60000L); x }
            .count()
        }, {
          assert(taskStarted.await(30, TimeUnit.SECONDS), "slow job never started")
          throw new IllegalStateException("par2 side b failed")
        })
      }
      assert(e.getMessage == "par2 side b failed")
      assert(jobEnded.await(30, TimeUnit.SECONDS), "slow job never ended")
      val end = ends.peek()
      assert(end.jobResult != JobSucceeded)
      assert(end.jobResult.asInstanceOf[JobFailed].exception.getMessage
        .contains("cancelled"), end.jobResult.toString)
      assert(TimeUnit.NANOSECONDS.toSeconds(System.nanoTime() - t0) < 45)
    } finally sc.removeSparkListener(listener)
  }
}
