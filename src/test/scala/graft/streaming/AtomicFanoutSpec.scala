package graft.streaming

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{JobFailed, JobSucceeded, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskStart}

import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.cdc._
import graft.sources.replica.{ReplicaSink, ReplicaSinkConfig}

/** Cross-table ATOMIC fan-out ([[CdcStream.fanOutToReplicasAtomic]]):
  * two-phase commit over N per-table stores — all merges prepare
  * reader-invisible versions, one durable intent, then N pointer
  * flips. Pins the two crash windows (pre-intent: nothing visible;
  * mid-flip: intent-driven FORWARD recovery, no data re-run) and the
  * sink's `atomicFanOut` option.
  */
class AtomicFanoutSpec extends SparkSuite {

  private lazy val sp = spark
  import sp.implicits._

  // the batch carries SOURCE-EMITTED envelopes (CdcEvent JSON — what
  // graft-binlog's stream hands a fan-out sink), not on-disk
  // changelog records
  private def rec(pos: Long, op: String, table: String,
      row: Map[String, EnvelopeValue]): String =
    EnvelopeCodec.write(
      CdcEvent(op, pos, "shop", table, null, row, offset = pos))

  private def order(id: Long, amount: Long) = Map(
    "id" -> EnvelopeValue.VLong(id), "amount" -> EnvelopeValue.VLong(amount))
  private def user(id: Long, name: String) = Map(
    "id" -> EnvelopeValue.VLong(id), "name" -> EnvelopeValue.VString(name))

  private val schemas = Map(
    "shop.orders" -> StructType(Seq(
      StructField("id", LongType), StructField("amount", LongType))),
    "shop.users" -> StructType(Seq(
      StructField("id", LongType), StructField("name", StringType))))
  private val idCols =
    Map("shop.orders" -> Seq("id"), "shop.users" -> Seq("id"))

  private def batchDf() = Seq(
    rec(1, "insert", "orders", order(1, 10)),
    rec(2, "insert", "users", user(1, "a")),
    rec(3, "insert", "orders", order(2, 20)),
    rec(4, "update", "users", user(1, "b"))).toDF("value")

  private def ordersState(root: String): Option[Map[Long, Long]] =
    CdcStream.readReplica(spark, s"$root/shop/orders").map(
      _.select($"id", $"amount").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
  private def usersState(root: String): Option[Map[Long, String]] =
    CdcStream.readReplica(spark, s"$root/shop/users").map(
      _.select($"id", $"name").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap)

  private def runAtomic(root: String): Unit = {
    CdcStream.fanOutToReplicasAtomic(batchDf(), s"$root/{db}/{table}",
      intentDir = root, schemas = schemas, idCols = idCols)
    ()
  }

  private def injected(body: => Unit): Boolean =
    try { body; false }
    catch {
      case e: RuntimeException if Option(e.getMessage)
          .exists(_.contains("injected mid-commit kill")) => true
    }

  test("pre-intent kill (mid-prepare): NOTHING is visible anywhere; " +
      "replay converges") {
    val root = Files.createTempDirectory("atomic-fanout").toString
    // kill the users table's prepare (its commit #1) — between the two
    // tables' data commits, exactly the window the old protocol left
    // the first table visibly ahead in
    val disarm = CommitFaults.armClaimKill(s"$root/shop/users", 1)
    try assert(injected(runAtomic(root)), "kill must land mid-prepare")
    finally disarm()
    assert(ordersState(root).isEmpty && usersState(root).isEmpty,
      "a table became visible before the batch's atomic flip")
    assert(!new java.io.File(root, "_fanout_txn.json").exists(),
      "no intent may be durable before every table prepared")
    runAtomic(root) // replay from phase 1
    assert(ordersState(root).contains(Map(1L -> 10L, 2L -> 20L)))
    assert(usersState(root).contains(Map(1L -> "b")))
  }

  test("mid-flip kill: the intent is durable and recovery completes " +
      "FORWARD — flips only, no data re-run") {
    val root = Files.createTempDirectory("atomic-fanout-flip").toString
    // each table commits twice: its prepare, then its flip (orders
    // flips first — present order is sorted). Kill the users flip
    // (users commit #2): orders flipped, users prepared-but-pending,
    // intent durable.
    val disarm = CommitFaults.armClaimKill(s"$root/shop/users", 2)
    try assert(injected(runAtomic(root)), "kill must land mid-flip")
    finally disarm()
    assert(ordersState(root).contains(Map(1L -> 10L, 2L -> 20L)),
      "the first flip landed before the kill")
    assert(usersState(root).isEmpty, "the killed flip must not publish")
    assert(new java.io.File(root, "_fanout_txn.json").exists(),
      "the intent must be durable before the first flip")
    // forward recovery: metadata-only — completes the pending flips
    // from the intent without touching data
    val usersVersions = CdcStream.replicaVersions(s"$root/shop/users")
    assert(CdcStream.recoverFanOutIntent(root))
    assert(usersState(root).contains(Map(1L -> "b")))
    assert(CdcStream.replicaVersions(s"$root/shop/users") == usersVersions,
      "recovery must flip the PREPARED version, not re-run the merge")
    assert(!new java.io.File(root, "_fanout_txn.json").exists())
    // idempotent: nothing left to recover
    assert(!CdcStream.recoverFanOutIntent(root))
  }

  test("a freeze raised between prepare and flip fences the pointer: " +
      "intent recovery refuses the demoted store") {
    val root = Files.createTempDirectory("atomic-fanout-frozen").toString
    val disarm = CommitFaults.armClaimKill(s"$root/shop/users", 2)
    try assert(injected(runAtomic(root)), "kill must land mid-flip")
    finally disarm()
    // failover demotes the pending table before recovery runs — the
    // flip must refuse exactly like publishVersion's in-lock fence
    CdcStream.freezeReplica(s"$root/shop/users")
    val e = intercept[IllegalStateException](
      CdcStream.recoverFanOutIntent(root))
    assert(e.getMessage.contains("FROZEN"), e.getMessage)
    assert(usersState(root).isEmpty,
      "no pointer may publish behind the fence")
    // unfreeze (operator resolves the failover) → recovery completes
    CdcStream.unfreezeReplica(s"$root/shop/users")
    assert(CdcStream.recoverFanOutIntent(root))
    assert(usersState(root).contains(Map(1L -> "b")))
  }

  test("sink atomicFanOut option: fan-out batches commit two-phase " +
      "through writeStream options") {
    val log = Files.createTempDirectory("atomic-fanout-log").toString
    // hand-written registry for the two tables
    java.nio.file.Files.write(new java.io.File(log, "schemas.json").toPath,
      s"""{"shop.orders": ${q(schemas("shop.orders").json)},
         | "shop.users": ${q(schemas("shop.users").json)}}""".stripMargin
        .getBytes("UTF-8"))
    val root = Files.createTempDirectory("atomic-fanout-sink").toString
    val sink = new ReplicaSink(ReplicaSinkConfig(Map(
      "path" -> s"$root/{db}/{table}", "keys" -> "id",
      "orderColumns" -> "offset",
      "schemaRegistry" -> log, "atomicFanOut" -> "true")))
    sink.addBatch(0, Seq(
      rec(1, "insert", "orders", order(1, 10)),
      rec(2, "insert", "users", user(1, "a")),
      rec(3, "update", "orders", order(1, 15)),
      rec(4, "delete", "users", user(1, "a"))).toDF("value"))
    assert(ordersState(root).contains(Map(1L -> 15L)))
    // users nets to a lone delete: the store is committed-but-empty
    assert(usersState(root).forall(_.isEmpty))
    // replayed batch id skips via the markers (exactly-once unchanged)
    sink.addBatch(0, batchDf())
    assert(ordersState(root).contains(Map(1L -> 15L)))
  }

  test("atomicFanOut option validation: requires a fan-out template " +
      "with a derivable intent prefix") {
    intercept[IllegalArgumentException](ReplicaSinkConfig(Map(
      "path" -> "/tmp/plain", "keys" -> "id", "atomicFanOut" -> "true")))
    intercept[IllegalArgumentException](ReplicaSinkConfig(Map(
      "path" -> "{db}/{table}", "keys" -> "id",
      "schemaRegistry" -> "/tmp/x", "atomicFanOut" -> "true")))
  }

  test("a failed table's merge cancels its sibling's running job") {
    val root = Files.createTempDirectory("atomic-fanout").toString
    val sc = spark.sparkContext
    val slowJobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val slowStages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val ends = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobEnd]()
    val taskStarted = new CountDownLatch(1)
    val jobEnded = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.job.description") == "users-slow") {
          slowJobs.add(e.jobId); e.stageIds.foreach(slowStages.add(_))
        }
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (slowStages.contains(e.stageId)) taskStarted.countDown()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (slowJobs.contains(e.jobId)) { ends.add(e); jobEnded.countDown() }
    }
    // both tables' merges run side by side; the users merge goes on to a
    // job that would run a minute unless its tasks are killed, and the
    // orders merge fails once that job is running
    val usersStage = CommitFaults.arm(s"$root/shop/users", 1, CommitFaults.Stage) {
      sc.setJobDescription("users-slow")
      spark.range(0, 2, 1, 2).rdd.map { x => Thread.sleep(60000L); x }.count()
      ()
    }
    val ordersStage = CommitFaults.arm(s"$root/shop/orders", 1, CommitFaults.Stage) {
      assert(taskStarted.await(30, TimeUnit.SECONDS), "slow job never started")
      throw new IllegalStateException("orders merge failed")
    }
    sc.addSparkListener(listener)
    val t0 = System.nanoTime()
    try {
      val e = intercept[IllegalStateException](runAtomic(root))
      assert(e.getMessage == "orders merge failed")
      assert(jobEnded.await(30, TimeUnit.SECONDS), "slow job never ended")
      val end = ends.peek()
      assert(end.jobResult != JobSucceeded)
      assert(end.jobResult.asInstanceOf[JobFailed].exception.getMessage
        .contains("cancelled"), end.jobResult.toString)
      assert(TimeUnit.NANOSECONDS.toSeconds(System.nanoTime() - t0) < 45)
      // phase 1 failed: no intent was written and no pointer flipped
      assert(!new java.io.File(root, "_fanout_txn.json").exists())
      assert(ordersState(root).isEmpty && usersState(root).isEmpty)
    } finally {
      usersStage.disarm(); ordersStage.disarm()
      sc.removeSparkListener(listener)
    }
  }

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
