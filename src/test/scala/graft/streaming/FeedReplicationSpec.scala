package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Change-feed replication: a FOLLOWER replica built only from the
  * primary's change feed (never its data files) converges to the
  * primary's state — incrementally version-by-version, or batching a
  * multi-version catch-up range into ONE merge (the order columns make
  * cross-version nets fold last-writer-wins), and a GC'd feed gap
  * refuses loudly instead of silently skipping changes.
  */
class FeedReplicationSpec extends SparkSuite {

  import graft.SparkSuite.spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("feed-repl").toString

  private def batch(rows: Seq[(Long, String, Long, String)]) =
    rows.toDF("id", "v", "seq", "op")

  private def state(dir: String): Seq[(Long, String)] =
    CdcStream.readReplica(spark, dir).get
      .select($"id", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  private def applyNet(follower: String, net: org.apache.spark.sql.DataFrame): Unit =
    CdcStream.applyBatchToReplica(follower,
      net.drop("_commit_version", "_commit_watermark"),
      Seq("id"), Seq(col("seq")))

  test("follower replays the feed incrementally and in one catch-up batch") {
    val primary = freshDir()
    def commit(rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(primary, batch(rows), Seq("id"),
        Seq(col("seq")), recordChanges = true)
    commit(Seq((1L, "a1", 1L, "update"), (2L, "b1", 1L, "update")))
    commit(Seq((1L, "a2", 2L, "update"), (3L, "c2", 2L, "update")))

    // incremental follower: one apply per version, state matches after
    // each step
    val inc = freshDir()
    applyNet(inc, CdcStream.readReplicaChanges(spark, primary, 0L, Some(1L)).get)
    assert(state(inc) == Seq((1L, "a1"), (2L, "b1")))
    applyNet(inc, CdcStream.readReplicaChanges(spark, primary, 1L, Some(2L)).get)
    assert(state(inc) == state(primary))

    // more primary commits, including a delete that must flow through
    commit(Seq((2L, "x", 3L, "delete"), (4L, "d3", 3L, "update")))
    commit(Seq((4L, "d4", 4L, "update")))

    // catch-up follower: versions (2, 4] land in ONE merge — the order
    // columns fold the cross-version nets last-writer-wins, so a
    // lagging follower pays one commit, not one per missed version
    applyNet(inc, CdcStream.readReplicaChanges(spark, primary, 2L).get)
    assert(state(inc) == state(primary))
    assert(state(inc) == Seq((1L, "a2"), (3L, "c2"), (4L, "d4")))
  }

  test("streaming follower: the change-feed source drives continuous replication") {
    val primary = freshDir()
    val follower = freshDir()
    val ck = java.nio.file.Files.createTempDirectory("feed-repl-ck").toString
    def commit(rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(primary, batch(rows), Seq("id"),
        Seq(col("seq")), recordChanges = true)
    commit(Seq((1L, "a1", 1L, "update"), (2L, "b1", 1L, "update")))
    commit(Seq((2L, "x", 2L, "delete"), (3L, "c2", 2L, "update")))
    // the follower's apply is the foreachBatch body; a micro-batch may
    // span several primary versions (first start serves v1..v2 at
    // once) — the order columns fold cross-version nets correctly, and
    // a checkpoint replay re-applies idempotent content
    def stream() = spark.readStream.format("graft-replica")
      .option("path", primary).option("readChangeFeed", "true").load()
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        CdcStream.applyBatchToReplica(follower,
          b.drop("_commit_version", "_commit_watermark"),
          Seq("id"), Seq(col("seq")))
        ()
      }.start()
    val q = stream()
    try q.processAllAvailable() finally q.stop()
    assert(state(follower) == state(primary))
    // new primary commits after a restart: only the delta flows
    commit(Seq((1L, "a3", 3L, "update"), (4L, "d3", 3L, "update")))
    val q2 = stream()
    try q2.processAllAvailable() finally q2.stop()
    assert(state(follower) == state(primary))
    assert(state(follower) == Seq((1L, "a3"), (3L, "c2"), (4L, "d3")))
  }

  test("feed retention is decoupled from data GC: a retired version's " +
      "changes stay readable; only truncateReplicaFeed creates the gap") {
    val primary = freshDir()
    def commit(rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(primary, batch(rows), Seq("id"),
        Seq(col("seq")), recordChanges = true)
    // every batch touches the SAME key, so each commit's rewrite drops
    // the references to the previous version and the commit-time GC
    // (one version of reader grace) retires v1's DATA at the third
    // commit — but its feed surface moves to _feed/ (the Delta-CDF
    // contract: compaction/GC never shortens the change feed)
    commit(Seq((1L, "a1", 1L, "update")))
    commit(Seq((1L, "a2", 2L, "update")))
    commit(Seq((1L, "a3", 3L, "update")))
    val vs = CdcStream.replicaVersions(primary)
    assert(!vs.contains(1L), s"fixture: commit-time GC must retire v1, kept $vs")
    // a consumer positioned before the retained DATA window still
    // drains the complete feed — a lagging follower survives GC
    val full = CdcStream.readReplicaChanges(spark, primary, 0L).get
    assert(full.select($"_commit_version").distinct().count() == 3L,
      "all three versions' changes must stay readable after data GC")
    // and the retained entries fold to the correct final state
    val f2 = freshDir()
    applyNet(f2, full)
    assert(state(f2) == Seq((1L, "a3")))
    // TRUNCATION (the VACUUM analog) is the only feed-shortening op:
    // a consumer positioned before the cut must FAIL — silently
    // resuming from a gap would lose the truncated changes
    assert(CdcStream.truncateReplicaFeed(primary, 2L) > 0)
    intercept[IllegalStateException] {
      CdcStream.readReplicaChanges(spark, primary, 0L).get.count()
    }
    // the documented recovery: restart from a snapshot position (the
    // retained tail reads fine)
    val tail = CdcStream.readReplicaChanges(spark, primary, 1L).get
    assert(tail.select($"_commit_version").distinct().count() == 2L)
  }

  test("a frozen store fences every writer; unfreeze restores") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir, batch(Seq((1L, "a", 1L, "update"))),
      Seq("id"), Seq(col("seq")))
    CdcStream.freezeReplica(dir, "test fence")
    assert(CdcStream.replicaFrozen(dir).contains("test fence"))
    val e = intercept[IllegalStateException] {
      CdcStream.applyBatchToReplica(dir, batch(Seq((2L, "b", 2L, "update"))),
        Seq("id"), Seq(col("seq")))
    }
    assert(e.getMessage.contains("FROZEN"))
    intercept[IllegalStateException] {
      CdcStream.applyBatchToReplica(dir, batch(Seq((2L, "b", 2L, "update"))),
        Seq("id"), Seq(col("seq")), deferMerge = true)
    }
    intercept[IllegalStateException] {
      CdcStream.eraseKeys(spark, dir, Seq("id"), Seq(1L).toDF("id"))
    }
    intercept[IllegalStateException] {
      CdcStream.rebucketReplica(spark, dir, Seq("id"), 4)
    }
    // reads and the change feed stay available behind the fence
    assert(state(dir) == Seq((1L, "a")))
    CdcStream.unfreezeReplica(dir)
    CdcStream.applyBatchToReplica(dir, batch(Seq((2L, "b", 2L, "update"))),
      Seq("id"), Seq(col("seq")))
    assert(state(dir) == Seq((1L, "a"), (2L, "b")))
  }

  test("planned failover: promote drains the feed, fences the old " +
      "primary, and the demoted store rejoins as a follower") {
    val primary = freshDir()
    val follower = freshDir()
    def commit(dir: String, rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
        Seq(col("seq")), recordChanges = true)
    commit(primary, Seq((1L, "a1", 1L, "update"), (2L, "b1", 1L, "update")))
    commit(primary, Seq((3L, "c2", 2L, "update")))
    // follower replicates v1..v2, then the primary commits v3 the
    // follower has not seen yet — promote must DRAIN it
    applyNet(follower, CdcStream.readReplicaChanges(spark, primary, 0L, Some(2L)).get)
    commit(primary, Seq((2L, "x", 3L, "delete"), (4L, "d3", 3L, "update")))
    val vp = CdcStream.promoteFollower(spark, follower, primary,
      Seq("id"), Seq(col("seq")), lastAppliedVersion = 2L)
    assert(state(follower) == state(primary),
      "drain must deliver every pre-fence commit")
    // the old primary is fenced: a stray writer cannot split-brain
    intercept[IllegalStateException] {
      commit(primary, Seq((9L, "rogue", 9L, "update")))
    }
    // writes flip to the new primary, feeding ITS change feed
    commit(follower, Seq((1L, "a4", 4L, "update")))
    // the demoted store rejoins: rewind to the new primary's snapshot
    val from = CdcStream.resyncAsFollower(spark, primary, follower,
      Seq("id"), Seq(col("seq")))
    assert(state(primary) == state(follower))
    assert(CdcStream.replicaFrozen(primary).isEmpty, "resync lifts the fence")
    // and keeps following the NEW primary's feed from the rewind point
    commit(follower, Seq((5L, "e5", 5L, "update"), (3L, "y", 5L, "delete")))
    applyNet(primary, CdcStream.readReplicaChanges(spark, follower, from).get)
    assert(state(primary) == state(follower))
    assert(state(primary) == Seq((1L, "a4"), (4L, "d3"), (5L, "e5")))
    assert(vp >= 2L)
  }

  test("the drain folds undelivered versions by COMMIT order, not by " +
      "the order columns") {
    val primary = freshDir()
    val follower = freshDir()
    def commit(rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(primary, batch(rows), Seq("id"),
        Seq(col("seq")), recordChanges = true)
    commit(Seq((1L, "a1", 1L, "update")))
    applyNet(follower, CdcStream.readReplicaChanges(spark, primary, 0L).get)
    // two undelivered commits: v2 writes seq=9, v3 legitimately writes
    // a LOWER order value (a sequence store applies last-commit-wins —
    // the old primary's fenced state IS seq=5 'rollback'). A drain that
    // folded the range by orderCols would resurrect seq=9 'wrong'.
    commit(Seq((1L, "wrong", 9L, "update")))
    commit(Seq((1L, "rollback", 5L, "update")))
    CdcStream.promoteFollower(spark, follower, primary,
      Seq("id"), Seq(col("seq")), lastAppliedVersion = 1L)
    assert(state(follower) == Seq((1L, "rollback")),
      "the drain must deliver the old primary's state AT THE FENCE")
    assert(state(follower) == state(primary))
  }

  test("a commit already past the entry fence check aborts INSIDE the " +
      "critical section when the store freezes mid-flight") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir, batch(Seq((1L, "a", 1L, "update"))),
      Seq("id"), Seq(col("seq")))
    // the writer passes the entry-time check, then the store freezes
    // BEFORE its publish — the in-critical-section re-check must
    // refuse, or the commit would land behind the fence unseen by the
    // promotion drain
    val entered = new java.util.concurrent.CountDownLatch(1)
    val frozen = new java.util.concurrent.CountDownLatch(1)
    val armed = CommitFaults.arm(dir, 1, CommitFaults.Entry) {
      entered.countDown()
      frozen.await(30, java.util.concurrent.TimeUnit.SECONDS)
      ()
    }
    try {
      import scala.concurrent._
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      val writer = Future {
        intercept[IllegalStateException] {
          CdcStream.applyBatchToReplica(dir,
            batch(Seq((2L, "late", 2L, "update"))),
            Seq("id"), Seq(col("seq")))
        }
      }
      assert(entered.await(30, java.util.concurrent.TimeUnit.SECONDS))
      CdcStream.freezeReplica(dir, "mid-flight fence")
      frozen.countDown()
      val e = Await.result(writer, 60.seconds)
      assert(e.getMessage.contains("FROZEN"))
      // the fenced store never saw the aborted commit
      assert(state(dir) == Seq((1L, "a")))
    } finally {
      armed.disarm()
      CdcStream.unfreezeReplica(dir)
    }
  }

  test("with known fork versions the rewind diff reads ONLY the " +
      "post-fork feed keys' buckets (delta-sized, never a store scan)") {
    val primary = freshDir()
    val follower = freshDir()
    def commit(dir: String, rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
        Seq(col("seq")), recordChanges = true)
    // v1 spreads 40 keys across the 16 buckets
    commit(primary, (1L to 40L).map(i => (i, s"base$i", 1L, "update")))
    val cursor = CdcStream.replayFeedInto(spark, primary, follower,
      Seq("id"), Seq(col("seq")))
    // divergence the feed bounds: the old primary loses an undelivered
    // commit touching ONLY key 1; the new primary's own history
    // touches ONLY key 2
    commit(primary, Seq((1L, "lost", 99L, "update")))
    val promoV = CdcStream.promoteFollower(spark, follower, primary,
      Seq("id"), Seq(col("seq")), lastAppliedVersion = cursor, drain = false)
    commit(follower, Seq((2L, "b2", 2L, "update")))
    // corrupt every data file of every UNTOUCHED bucket in BOTH stores
    // — the delta rewind must neither read nor rewrite them (a full
    // diff, or any unpruned read, would crash on the garbage)
    import org.apache.spark.sql.functions.{hash, pmod, lit => flit}
    val okBuckets = Seq(1L, 2L).toDF("id")
      .select(pmod(hash($"id"), flit(CdcStream.DefaultReplicaBuckets)))
      .collect().map(_.getInt(0)).toSet
    val saved =
      scala.collection.mutable.Map.empty[java.nio.file.Path, Array[Byte]]
    def corrupt(f: java.io.File, inData: Boolean): Unit =
      if (f.isDirectory) {
        val enter = inData || f.getName == "data" || f.getName == "delta"
        val skip = f.getName.startsWith("__bucket=") &&
          okBuckets(f.getName.stripPrefix("__bucket=").toInt)
        if (!skip)
          Option(f.listFiles()).getOrElse(Array.empty)
            .foreach(corrupt(_, enter))
      } else if (inData && f.getName.endsWith(".parquet")) {
        saved += f.toPath -> java.nio.file.Files.readAllBytes(f.toPath)
        java.nio.file.Files.write(f.toPath, "garbage".getBytes)
        ()
      }
    corrupt(new java.io.File(primary), inData = false)
    corrupt(new java.io.File(follower), inData = false)
    val from = CdcStream.resyncAsFollower(spark, primary, follower,
      Seq("id"), Seq(col("seq")),
      demotedDivergedAfter = Some(cursor),
      newPrimaryForkVersion = Some(promoV))
    // un-corrupt so the full-state assertions below can read everything
    saved.foreach { case (p, b) => java.nio.file.Files.write(p, b) }
    assert(state(primary) == state(follower),
      "the delta rewind must converge the demoted store exactly")
    assert(state(primary).take(3) ==
      Seq((1L, "base1"), (2L, "b2"), (3L, "base3")),
      "key 1's lost divergence rolls back; key 2 catches up")
    assert(CdcStream.replicaFrozen(primary).isEmpty)
    // and the store keeps following the feed from the returned point
    commit(follower, Seq((3L, "c3", 3L, "update")))
    CdcStream.replayFeedInto(spark, follower, primary,
      Seq("id"), Seq(col("seq")), fromVersionExclusive = from)
    assert(state(primary) == state(follower))
  }

  test("fork versions newer than the promotion-recorded pair (or beyond " +
      "either store) refuse — a too-new fork would be silently partial") {
    val primary = freshDir()
    val follower = freshDir()
    def commit(dir: String, rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
        Seq(col("seq")), recordChanges = true)
    commit(primary, (1L to 20L).map(i => (i, s"base$i", 1L, "update")))
    val cursor = CdcStream.replayFeedInto(spark, primary, follower,
      Seq("id"), Seq(col("seq")))
    // two divergent commits the follower never saw — a fork claimed
    // PAST the first one would hide key 1's divergence from the bound
    commit(primary, Seq((1L, "lost1", 50L, "update")))
    commit(primary, Seq((2L, "lost2", 51L, "update")))
    val promoV = CdcStream.promoteFollower(spark, follower, primary,
      Seq("id"), Seq(col("seq")), lastAppliedVersion = cursor, drain = false)
    commit(follower, Seq((3L, "b2", 2L, "update")))
    // the promotion recorded (cursor, promoV); claiming the demoted
    // fork one version later would treat v2's "lost1" as shared history
    val tooNew = intercept[IllegalArgumentException] {
      CdcStream.resyncAsFollower(spark, primary, follower,
        Seq("id"), Seq(col("seq")),
        demotedDivergedAfter = Some(cursor + 1),
        newPrimaryForkVersion = Some(promoV))
    }
    assert(tooNew.getMessage.contains("promotion-recorded"))
    // a fork beyond either store's current version is a plain error
    val beyond = intercept[IllegalArgumentException] {
      CdcStream.resyncAsFollower(spark, primary, follower,
        Seq("id"), Seq(col("seq")),
        demotedDivergedAfter = Some(99L),
        newPrimaryForkVersion = Some(promoV))
    }
    assert(beyond.getMessage.contains("beyond the stores"))
    // an OLDER fork is safe (over-inclusion widens the diff) and the
    // recorded pair itself converges exactly
    val from = CdcStream.resyncAsFollower(spark, primary, follower,
      Seq("id"), Seq(col("seq")),
      demotedDivergedAfter = Some(cursor - 1),
      newPrimaryForkVersion = Some(promoV))
    assert(state(primary) == state(follower),
      "an older-than-recorded fork must still converge")
    assert(!state(primary).exists(_._2.startsWith("lost")),
      "both divergent commits must roll back")
    assert(from == CdcStream.replicaCurrentVersion(follower).get)
  }

  test("a changeless version in the drain range is classified by its " +
      "commit kind: compaction skips, erasure and unrecorded merges refuse") {
    val primary = freshDir()
    val follower = freshDir()
    def commit(rows: Seq[(Long, String, Long, String)], rec: Boolean = true): Unit =
      CdcStream.applyBatchToReplica(primary, batch(rows), Seq("id"),
        Seq(col("seq")), recordChanges = rec)
    commit(Seq((1L, "a1", 1L, "update"), (2L, "b1", 1L, "update")))
    // a compaction commit in the range is CONTENT-IDENTICAL — the
    // replay must skip it and still converge
    CdcStream.compactReplica(spark, primary)
    commit(Seq((3L, "c3", 3L, "update")))
    var cursor = CdcStream.replayFeedInto(spark, primary, follower,
      Seq("id"), Seq(col("seq")))
    assert(state(follower) == state(primary))
    // an ERASURE mutates content with no feed entry: a follower that
    // replays past it would silently retain the erased keys — refuse
    CdcStream.eraseKeys(spark, primary, Seq("id"), Seq(2L).toDF("id"))
    val e1 = intercept[IllegalStateException] {
      CdcStream.replayFeedInto(spark, primary, follower,
        Seq("id"), Seq(col("seq")), fromVersionExclusive = cursor)
    }
    assert(e1.getMessage.contains("ERASURE"))
    // the documented recovery: erase on the follower too, then resume
    // the replay PAST the erasure version
    CdcStream.eraseKeys(spark, follower, Seq("id"), Seq(2L).toDF("id"))
    cursor = CdcStream.replicaVersions(primary).max
    // a merge committed with recordChanges=false never reached the
    // feed: draining it is impossible — refuse, never silently lose it
    commit(Seq((4L, "d5", 5L, "update")), rec = false)
    val e2 = intercept[IllegalStateException] {
      CdcStream.replayFeedInto(spark, primary, follower,
        Seq("id"), Seq(col("seq")), fromVersionExclusive = cursor)
    }
    assert(e2.getMessage.contains("recordChanges=false"))
    // recorded commits after the hole are reachable once the follower
    // re-seeds (here: apply the missing net by hand, then resume)
    CdcStream.applyBatchToReplica(follower,
      batch(Seq((4L, "d5", 5L, "update"))), Seq("id"), Seq(col("seq")))
    cursor = CdcStream.replicaVersions(primary).max
    commit(Seq((5L, "e6", 6L, "update")))
    CdcStream.replayFeedInto(spark, primary, follower,
      Seq("id"), Seq(col("seq")), fromVersionExclusive = cursor)
    assert(state(follower) == state(primary))
  }

  test("the STREAMING feed source refuses an erasure the same way the " +
      "batch drain does — a lagging consumer cannot silently retain " +
      "erased keys") {
    val primary = freshDir()
    val follower = freshDir()
    val ck = java.nio.file.Files.createTempDirectory("feed-erase-ck").toString
    def commit(rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(primary, batch(rows), Seq("id"),
        Seq(col("seq")), recordChanges = true)
    def follow(startingVersion: Long) = spark.readStream
      .format("graft-replica")
      .option("path", primary).option("readChangeFeed", "true")
      .option("startingVersion", startingVersion).load()
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        CdcStream.applyBatchToReplica(follower,
          b.drop("_commit_version", "_commit_watermark"),
          Seq("id"), Seq(col("seq")))
        ()
      }.start()
    commit(Seq((1L, "a1", 1L, "update"), (2L, "b1", 1L, "update")))
    val q1 = follow(0L)
    try q1.processAllAvailable() finally q1.stop()
    assert(state(follower) == state(primary))
    // the consumer lags; the primary erases key 2 and keeps committing
    CdcStream.eraseKeys(spark, primary, Seq("id"), Seq(2L).toDF("id"))
    commit(Seq((3L, "c3", 3L, "update")))
    // the restarted stream's getBatch spans the erasure version — it
    // must FAIL (the r11 gap: getBatch served it as an empty change
    // set and the follower silently retained the erased key)
    val q2 = follow(0L)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(err.getMessage.contains("ERASURE") ||
      Option(err.getCause).exists(_.getMessage.contains("ERASURE")))
    assert(state(follower) == Seq((1L, "a1"), (2L, "b1")),
      "the refused batch must not have applied anything")
    // documented recovery: erase on the follower too, then resume the
    // feed PAST the erasure version (fresh checkpoint at the new start)
    CdcStream.eraseKeys(spark, follower, Seq("id"), Seq(2L).toDF("id"))
    val eraseV = CdcStream.replicaVersions(primary).max - 1
    val q3 = spark.readStream.format("graft-replica")
      .option("path", primary).option("readChangeFeed", "true")
      .option("startingVersion", eraseV).load()
      .writeStream.option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("feed-erase-ck2").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        CdcStream.applyBatchToReplica(follower,
          b.drop("_commit_version", "_commit_watermark"),
          Seq("id"), Seq(col("seq")))
        ()
      }.start()
    try q3.processAllAvailable() finally q3.stop()
    assert(state(follower) == state(primary))
    assert(state(follower) == Seq((1L, "a1"), (3L, "c3")))
  }

  test("streaming failover drill: a lagging feed consumer drains the " +
      "fenced old feed, then cuts over to the new primary's feed " +
      "exactly-once — no version dropped, none double-applied") {
    val primary = freshDir()
    val follower = freshDir()
    val down = freshDir() // the downstream consumer's own store
    val ckP = java.nio.file.Files.createTempDirectory("drill-ckp").toString
    val ckF = java.nio.file.Files.createTempDirectory("drill-ckf").toString
    // every (feed, version) the consumer's foreachBatch applied, in
    // order — the exactly-once accounting a state compare cannot give
    // (the merge is idempotent, so a double-apply would be invisible)
    val applied = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def commit(dir: String, rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
        Seq(col("seq")), recordChanges = true)
    def follow(tag: String, src: String, ck: String,
        startingVersion: Long): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format("graft-replica")
        .option("path", src).option("readChangeFeed", "true")
        .option("startingVersion", startingVersion).load()
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val vs = b.select($"_commit_version").distinct()
            .collect().map(_.getLong(0)).sorted
          vs.foreach(v => applied.add(s"$tag:$v"))
          if (vs.nonEmpty)
            CdcStream.applyBatchToReplica(down,
              b.drop("_commit_version", "_commit_watermark"),
              Seq("id"), Seq(col("seq")))
          ()
        }.start()
    commit(primary, Seq((1L, "a1", 1L, "update"), (2L, "b1", 1L, "update")))
    commit(primary, Seq((3L, "c2", 2L, "update")))
    // the follower STORE catches up, recording its own feed so its
    // history is continuous for downstream consumers after promotion
    val cursor = CdcStream.replayFeedInto(spark, primary, follower,
      Seq("id"), Seq(col("seq")), recordChanges = true)
    // the downstream consumer follows the primary's feed... then lags
    val q1 = follow("P", primary, ckP, 0L)
    try q1.processAllAvailable() finally q1.stop()
    assert(state(down) == state(primary))
    // v3 commits while the consumer is down — it is LAGGING at failover
    commit(primary, Seq((2L, "x", 3L, "delete"), (4L, "d3", 3L, "update")))
    // FAILOVER: drain v3 into the follower, fence the old primary
    val vp = CdcStream.promoteFollower(spark, follower, primary,
      Seq("id"), Seq(col("seq")), lastAppliedVersion = cursor)
    // the fence keeps the old feed READABLE: the lagging consumer
    // restarts against it, drains to the fence point, and idles (no
    // commit can land behind the fence, so the feed is complete)
    val q2 = follow("P", primary, ckP, 0L)
    try q2.processAllAvailable() finally q2.stop()
    assert(state(down) == state(follower),
      "the drained consumer must reach the fence-point state")
    // cutover: post-promotion writes land on the NEW primary; the
    // consumer resumes from ITS feed at the promotion version — the
    // position at which the new primary's state equals the fence point
    commit(follower, Seq((5L, "e4", 4L, "update")))
    val q3 = follow("F", follower, ckF, vp)
    try q3.processAllAvailable() finally q3.stop()
    assert(state(down) == state(follower))
    assert(state(down) == Seq((1L, "a1"), (3L, "c2"), (4L, "d3"), (5L, "e4")))
    // exactly-once: old-feed versions 1..3 once each (across the
    // restart), new-feed versions strictly after the promotion version
    // once each — nothing dropped at the cutover, nothing double-fed
    import scala.jdk.CollectionConverters._
    assert(applied.asScala.toSeq == Seq("P:1", "P:2", "P:3", s"F:${vp + 1}"))
  }

  test("conditional-store failover: resync refuses toward reseed, and " +
      "compact-and-reseed carries the tombstone protection over") {
    val primary = freshDir()
    val follower = freshDir()
    def commit(dir: String, rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
        Seq(col("seq")), recordChanges = true, conditionalOrder = true)
    commit(primary, Seq((1L, "a1", 1L, "update"), (2L, "b1", 1L, "update")))
    // v2: a winning DELETE — the follower must inherit its tombstone
    commit(primary, Seq((2L, "x", 5L, "delete"), (3L, "c2", 2L, "update")))
    CdcStream.replayFeedInto(spark, primary, follower,
      Seq("id"), Seq(col("seq")), conditionalApply = true)
    // divergent commit built to WIN greatest-order if any trace survives
    commit(primary, Seq((1L, "lost", 999L, "update"),
      (7L, "ghost", 999L, "update")))
    CdcStream.promoteFollower(spark, follower, primary,
      Seq("id"), Seq(col("seq")), lastAppliedVersion = 2L, drain = false)
    // the sequence rewind refuses conditional stores, naming the way out
    val e = intercept[IllegalArgumentException] {
      CdcStream.resyncAsFollower(spark, primary, follower,
        Seq("id"), Seq(col("seq")))
    }
    assert(e.getMessage.contains("reseedAsFollower"))
    // an unfenced reseed refuses (it wipes the store)
    CdcStream.unfreezeReplica(primary)
    val e2 = intercept[IllegalStateException] {
      CdcStream.reseedAsFollower(spark, primary, follower,
        Seq("id"), Seq(col("seq")))
    }
    assert(e2.getMessage.contains("not fenced"))
    CdcStream.freezeReplica(primary, "demoted")
    // new primary moves on before the rejoin
    commit(follower, Seq((3L, "c3", 6L, "update")))
    val from = CdcStream.reseedAsFollower(spark, primary, follower,
      Seq("id"), Seq(col("seq")))
    assert(state(primary) == state(follower))
    assert(state(primary) == Seq((1L, "a1"), (3L, "c3")),
      "ghost key and order-winning divergence gone; key 2 stays deleted")
    assert(CdcStream.replicaFrozen(primary).isEmpty)
    // the tombstone protection SURVIVED the reseed: a late batch below
    // key 2's delete order (seq 3 < 5) must still lose
    CdcStream.applyBatchToReplica(primary,
      batch(Seq((2L, "late", 3L, "update"))), Seq("id"),
      Seq(col("seq")), conditionalOrder = true)
    assert(state(primary) == Seq((1L, "a1"), (3L, "c3")),
      "a below-tombstone-order update must not resurrect key 2")
    // and the reseeded store keeps following the feed
    commit(follower, Seq((4L, "d7", 7L, "update")))
    CdcStream.replayFeedInto(spark, follower, primary,
      Seq("id"), Seq(col("seq")), fromVersionExclusive = from,
      conditionalApply = true)
    assert(state(primary) == state(follower))
  }

  test("crash failover: divergent old-primary commits roll back on resync") {
    val primary = freshDir()
    val follower = freshDir()
    def commit(dir: String, rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
        Seq(col("seq")), recordChanges = true)
    commit(primary, Seq((1L, "a1", 1L, "update"), (2L, "b1", 1L, "update")))
    applyNet(follower, CdcStream.readReplicaChanges(spark, primary, 0L).get)
    // DIVERGENT commits the feed never delivered: an update with a
    // HIGHER order value than anything the follower will write, a new
    // key, and a delete — all must roll back on rejoin
    commit(primary, Seq((1L, "lost", 99L, "update"),
      (7L, "ghost", 99L, "update"), (2L, "x", 99L, "delete")))
    // crash failover: the old primary is unreachable — no drain
    CdcStream.promoteFollower(spark, follower, primary,
      Seq("id"), Seq(col("seq")), lastAppliedVersion = 1L, drain = false)
    assert(state(follower) == Seq((1L, "a1"), (2L, "b1")),
      "no drain: the divergent commit must not reach the new primary")
    // new primary moves on
    commit(follower, Seq((1L, "a2", 2L, "update"), (3L, "c2", 2L, "update")))
    val from = CdcStream.resyncAsFollower(spark, primary, follower,
      Seq("id"), Seq(col("seq")))
    // the rewind rolled back ALL divergence: the ghost key is gone,
    // key 1's lost update (higher seq!) is overwritten, key 2's lost
    // delete is undone
    assert(state(primary) == state(follower))
    assert(state(primary) == Seq((1L, "a2"), (2L, "b1"), (3L, "c2")))
    // and the feed position returned lets it keep following
    commit(follower, Seq((3L, "c3", 3L, "update")))
    applyNet(primary, CdcStream.readReplicaChanges(spark, follower, from).get)
    assert(state(primary) == state(follower))
  }
}
