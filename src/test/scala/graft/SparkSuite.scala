package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object SparkSuite {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
    Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSuite extends AnyFunSuite {
  def spark: SparkSession = SparkSuite.spark
  def sfDir: String = SparkSuite.sfDir

  /** Spark jobs run by `body`, counted by a listener between two drains
    * of the listener bus.
    */
  def countJobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(l)
    n.get
  }
}
