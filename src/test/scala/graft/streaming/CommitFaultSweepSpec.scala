package graft.streaming

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.functions._

import SecondaryIndex.IndexSpec

/** Commit-point fault-injection SWEEP: every multi-commit operation of
  * the replica store layer is driven through a crash at EVERY commit it
  * makes, at THREE points per commit — publish entry (nothing claimed),
  * post-claim (version dir at its final name, pointer not swapped —
  * the unpublished-orphan window), and post-publish (commit durable,
  * cleanup skipped) — then the documented recovery replays and the
  * final observable state must equal a clean, uninjected run's.
  *
  * This generalizes the hand-picked crash specs (index-before-primary,
  * marker-last, reseed abort-intact, …) into "all the windows", not
  * "the windows we thought of": the injection points are enumerated
  * programmatically from a counting dry run of each operation, so an
  * operation that grows a new commit automatically grows new trials.
  *
  * What a trial does NOT simulate: a held commit lock (the injected
  * throw unwinds through publishVersion's finally, which releases the
  * owner's lock — a kill -9 would leave it for the 60 s stale-break
  * path, pinned separately by ReplicaMaintenanceSpec's lock-break
  * specs). The sweep gates cross-commit orderings: WHICH commits
  * landed when the operation died, and that replaying converges.
  */
class CommitFaultSweepSpec extends SparkSuite {

  import graft.SparkSuite.spark.implicits._

  private final class InjectedCrash
      extends RuntimeException("injected commit-point crash")

  private val ids = Seq("id")
  private val ordNames = Seq("seq")
  private def ord = ordNames.map(col)

  private def batch(rows: Seq[(Long, String, Long, String)]) =
    rows.toDF("id", "v", "seq", "op")

  private def commit(dir: String, rows: Seq[(Long, String, Long, String)],
      rec: Boolean = false, defer: Boolean = false): Unit =
    CdcStream.applyBatchToReplica(dir, batch(rows), ids, ord,
      numBuckets = 4, recordChanges = rec, deferMerge = defer)

  /** Normalized content of one store (empty/absent store = Nil). */
  private def state(dir: String): Seq[String] =
    CdcStream.readReplica(graft.SparkSuite.spark, dir)
      .map(_.select($"id", $"v").collect()
        .map(r => s"${r.getLong(0)}=${r.getString(1)}").toSeq.sorted)
      .getOrElse(Nil)

  /** Index-store content (band + id), for GSI exactness. */
  private def indexState(dir: String): Seq[String] =
    CdcStream.readReplica(graft.SparkSuite.spark, dir)
      .map(_.select($"band", $"id").collect()
        .map(r => s"${r.getLong(0)}:${r.getLong(1)}").toSeq.sorted)
      .getOrElse(Nil)

  private final case class Op(name: String,
      prepare: String => Unit,
      run: String => Unit,
      recover: String => Unit,
      observe: String => Seq[String])

  // ----------------------------------------------------------- fixtures

  private val b1 = Seq((1L, "a1", 1L, "update"), (2L, "b1", 1L, "update"),
    (3L, "c1", 1L, "update"))
  private val b2 = Seq((1L, "a2", 2L, "update"), (2L, "x", 2L, "delete"),
    (4L, "d2", 2L, "update"))
  private val b3 = Seq((3L, "c3", 3L, "update"), (5L, "e3", 3L, "update"))

  private def specs(root: String) = Seq(
    IndexSpec(s"$root/i1", col("id") % 2, "band"),
    IndexSpec(s"$root/i2", col("seq") % 3, "band"))

  private val ops = Seq(
    Op("indexed_merge",
      prepare = root => SecondaryIndex.applyBatchWithIndexes(spark,
        s"$root/p", specs(root), batch(b1), ids, ordNames, numBuckets = 4),
      run = root => SecondaryIndex.applyBatchWithIndexes(spark,
        s"$root/p", specs(root), batch(b2), ids, ordNames, numBuckets = 4),
      recover = root => SecondaryIndex.applyBatchWithIndexes(spark,
        s"$root/p", specs(root), batch(b2), ids, ordNames, numBuckets = 4),
      observe = root =>
        state(s"$root/p") ++ indexState(s"$root/i1") ++ indexState(s"$root/i2")),

    // the r14 composition under crash: index deltas are the POST-STATE
    // DIFF of the conditional fold — the replayed batch mixes a loser
    // (key 1, seq 3 < 5), a winner (key 2, 7 > 5), a sub-tombstone
    // resurrect attempt (key 3, 4 < the delete's 5), and a fresh key;
    // at every crash point the replay must recompute the identical
    // winner set from the still-unmerged primary and converge
    Op("indexed_merge_conditional",
      prepare = root => SecondaryIndex.applyBatchWithIndexes(spark,
        s"$root/p", specs(root), batch(Seq((1L, "a5", 5L, "update"),
          (2L, "b5", 5L, "update"), (3L, "c5", 5L, "delete"))),
        ids, ordNames, numBuckets = 4, conditionalOrder = true),
      run = root => SecondaryIndex.applyBatchWithIndexes(spark,
        s"$root/p", specs(root), batch(Seq((1L, "a3", 3L, "update"),
          (2L, "b7", 7L, "update"), (3L, "c4", 4L, "update"),
          (4L, "d1", 1L, "update"))),
        ids, ordNames, numBuckets = 4, conditionalOrder = true),
      recover = root => SecondaryIndex.applyBatchWithIndexes(spark,
        s"$root/p", specs(root), batch(Seq((1L, "a3", 3L, "update"),
          (2L, "b7", 7L, "update"), (3L, "c4", 4L, "update"),
          (4L, "d1", 1L, "update"))),
        ids, ordNames, numBuckets = 4, conditionalOrder = true),
      observe = root =>
        state(s"$root/p") ++ indexState(s"$root/i1") ++ indexState(s"$root/i2")),

    Op("feed_maintained_indexes",
      prepare = { root =>
        commit(s"$root/p", b1, rec = true)
        specs(root).foreach(sp =>
          SecondaryIndex.buildIndex(spark, s"$root/p", sp, ids, ordNames,
            numBuckets = 4))
        commit(s"$root/p", b2, rec = true)
      },
      run = root => SecondaryIndex.maintainIndexesFromFeed(spark,
        s"$root/p", specs(root), 2L, ids, ordNames),
      recover = root => SecondaryIndex.maintainIndexesFromFeed(spark,
        s"$root/p", specs(root), 2L, ids, ordNames),
      observe = root =>
        state(s"$root/p") ++ indexState(s"$root/i1") ++ indexState(s"$root/i2")),

    Op("defer_then_fold",
      prepare = { root =>
        commit(s"$root/p", b1, defer = true)
        commit(s"$root/p", b2, defer = true)
        commit(s"$root/p", b3, defer = true)
      },
      run = root => CdcStream.maintainReplica(spark, s"$root/p", maxDeltas = 1),
      recover = root => CdcStream.maintainReplica(spark, s"$root/p", maxDeltas = 1),
      observe = root => state(s"$root/p")),

    Op("compact",
      prepare = { root =>
        commit(s"$root/p", b1); commit(s"$root/p", b2)
      },
      run = root => CdcStream.compactReplica(spark, s"$root/p"),
      recover = root => CdcStream.compactReplica(spark, s"$root/p"),
      observe = root => state(s"$root/p")),

    Op("erase",
      prepare = { root =>
        commit(s"$root/p", b1, rec = true); commit(s"$root/p", b2, rec = true)
      },
      run = root => CdcStream.eraseKeys(spark, s"$root/p", ids,
        Seq(1L).toDF("id")),
      recover = root => CdcStream.eraseKeys(spark, s"$root/p", ids,
        Seq(1L).toDF("id")),
      // state AND the scrubbed feed: erasure must forget on both
      observe = root => state(s"$root/p") ++
        CdcStream.readReplicaChanges(spark, s"$root/p", strict = false)
          .map(_.select($"id").as[Long].collect().toSeq.sorted.map(_.toString))
          .getOrElse(Nil)),

    Op("reshard",
      prepare = { root =>
        commit(s"$root/p", b1); commit(s"$root/p", b2)
      },
      run = root => CdcStream.rebucketReplica(spark, s"$root/p", ids, 8),
      recover = root => CdcStream.rebucketReplica(spark, s"$root/p", ids, 8),
      observe = root => state(s"$root/p")),

    Op("restore",
      prepare = { root =>
        commit(s"$root/p", b1, rec = true)
        commit(s"$root/p", b2, rec = true)
        commit(s"$root/p", b3, rec = true)
      },
      run = root => CdcStream.restoreReplica(spark, s"$root/p", 1L,
        recordChanges = true),
      recover = { root =>
        // replay is version-aware: a crash before the publish retries
        // the same restore; after it, the content is already v1's and
        // the idempotent re-restore commits the same content again
        CdcStream.restoreReplica(spark, s"$root/p", 1L, recordChanges = true)
      },
      observe = root => state(s"$root/p")),

    Op("promote_drain",
      prepare = { root =>
        commit(s"$root/p", b1, rec = true)
        commit(s"$root/p", b2, rec = true)
        // the follower replicated v1 only — promotion must drain v2
        CdcStream.readReplicaChanges(spark, s"$root/p", 0L, Some(1L))
          .foreach(net => CdcStream.applyBatchToReplica(s"$root/f",
            net.drop("_commit_version", "_commit_watermark"), ids, ord,
            numBuckets = 4))
      },
      run = root => CdcStream.promoteFollower(spark, s"$root/f", s"$root/p",
        ids, ord, lastAppliedVersion = 1L),
      recover = root => CdcStream.promoteFollower(spark, s"$root/f",
        s"$root/p", ids, ord, lastAppliedVersion = 1L),
      observe = root => state(s"$root/f") ++ state(s"$root/p") ++
        Seq(s"frozen=${CdcStream.replicaFrozen(s"$root/p").isDefined}")),

    Op("resync_demoted",
      prepare = { root =>
        commit(s"$root/p", b1, rec = true)
        commit(s"$root/p", b2, rec = true)
        CdcStream.replayFeedInto(spark, s"$root/p", s"$root/f", ids, ord,
          recordChanges = true)
        // v3 commits on the old primary, never delivered — crash
        // failover loses it; the resync must rewind it away
        commit(s"$root/p", Seq((9L, "lost", 9L, "update")), rec = true)
        CdcStream.promoteFollower(spark, s"$root/f", s"$root/p", ids, ord,
          lastAppliedVersion = 2L, drain = false)
        commit(s"$root/f", b3, rec = true) // the new primary moves on
      },
      run = root => CdcStream.resyncAsFollower(spark, s"$root/p", s"$root/f",
        ids, ord),
      recover = { root =>
        // resync unfreezes on success; an interrupted resync leaves the
        // fence up and the replay is the same diff-driven call (the
        // diff recomputes from whatever partial rewind landed)
        if (CdcStream.replicaFrozen(s"$root/p").isEmpty)
          CdcStream.freezeReplica(s"$root/p", "sweep-refreeze")
        CdcStream.resyncAsFollower(spark, s"$root/p", s"$root/f", ids, ord)
        ()
      },
      observe = root => state(s"$root/p") ++ state(s"$root/f")),

    Op("clone",
      prepare = { root =>
        commit(s"$root/p", b1); commit(s"$root/p", b2)
      },
      run = root => { CdcStream.cloneReplica(s"$root/p", s"$root/c"); () },
      recover = { root =>
        // the documented recovery: re-run; a post-publish crash left
        // CURRENT durable, so the clone already committed — no-op
        if (CdcStream.replicaCurrentVersion(s"$root/c").isEmpty) {
          CdcStream.cloneReplica(s"$root/p", s"$root/c"); ()
        }
      },
      observe = root => state(s"$root/c") ++ state(s"$root/p")),

    Op("refresh_clone",
      prepare = { root =>
        commit(s"$root/p", b1, rec = true)
        CdcStream.cloneReplica(s"$root/p", s"$root/c")
        CdcStream.pinReplicaRetention(s"$root/p",
          CdcStream.retentionFloorFor(s"$root/p", 1L))
        commit(s"$root/p", b2, rec = true)
        commit(s"$root/p", b3, rec = true)
      },
      run = root => { CdcStream.refreshClone(spark, s"$root/c", ids, ord); () },
      recover = { root =>
        // documented recovery: re-run — a stale cursor re-replays an
        // applied range, which is idempotent
        CdcStream.refreshClone(spark, s"$root/c", ids, ord); ()
      },
      observe = root => state(s"$root/c") ++ state(s"$root/p")),

    Op("restore_consistent",
      prepare = { root =>
        def wm(dir: String, rows: Seq[(Long, String, Long, String)],
            w: Long): Unit =
          CdcStream.applyBatchToReplica(dir, batch(rows), ids, ord,
            numBuckets = 4, watermark = Some(w))
        wm(s"$root/t1", b1, 10L); wm(s"$root/t1", b2, 20L)
        wm(s"$root/t1", b3, 30L)
        wm(s"$root/t2", b1, 10L); wm(s"$root/t2", b2, 20L)
      },
      run = root => { CdcStream.restoreConsistentTables(spark,
        Seq(s"$root/t1", s"$root/t2")); () },
      recover = { root =>
        // re-run at the SAME point: restored tables pick their own
        // restore version and no-op, the rest complete
        CdcStream.restoreConsistentTables(spark,
          Seq(s"$root/t1", s"$root/t2"), atWatermark = Some(20L)); ()
      },
      observe = root => state(s"$root/t1") ++ state(s"$root/t2")),

    Op("reseed_conditional",
      prepare = { root =>
        def cond(dir: String, rows: Seq[(Long, String, Long, String)]): Unit =
          CdcStream.applyBatchToReplica(dir, batch(rows), ids, ord,
            numBuckets = 4, recordChanges = true, conditionalOrder = true)
        cond(s"$root/np", b1)
        cond(s"$root/np", Seq((2L, "x", 5L, "delete"), (4L, "d2", 2L, "update")))
        cond(s"$root/d", b1)
        cond(s"$root/d", Seq((7L, "ghost", 99L, "update"))) // divergent
        CdcStream.freezeReplica(s"$root/d", "sweep-demote")
      },
      run = root => CdcStream.reseedAsFollower(spark, s"$root/d",
        s"$root/np", ids, ord),
      recover = { root =>
        if (CdcStream.replicaFrozen(s"$root/d").isEmpty)
          CdcStream.freezeReplica(s"$root/d", "sweep-refreeze")
        CdcStream.reseedAsFollower(spark, s"$root/d", s"$root/np", ids, ord)
        ()
      },
      observe = root => state(s"$root/d") ++ state(s"$root/np")))

  // ----------------------------------------------------------- harness

  /** The points a trial crashes at. */
  private val points = Set(CommitFaults.Entry, CommitFaults.Claim,
    CommitFaults.Post)

  private def isInjected(e: Throwable): Boolean =
    e.isInstanceOf[InjectedCrash] ||
      (e.getCause != null && isInjected(e.getCause))

  private def freshRoot(): String =
    Files.createTempDirectory("fault-sweep").toString

  test("every multi-commit operation survives a crash at every commit " +
      "point and converges after the documented replay") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var trials = 0
    ops.foreach { op =>
      // clean run: the expected converged state AND every commit point
      // it hits, as (store relative to the root, store ordinal, point)
      val cleanRoot = freshRoot()
      op.prepare(cleanRoot)
      val base = java.nio.file.Paths.get(CommitFaults.storeKey(cleanRoot))
      val sites = CommitFaults.record(op.run(cleanRoot))
        .filter(st => points(st.point))
        .map(st => (base.relativize(java.nio.file.Paths.get(st.store)).toString,
          st.ordinal, st.point))
        .distinct.sorted
      val expected = op.observe(cleanRoot)
      val commits = sites.count(_._3 == CommitFaults.Entry)
      assert(commits >= 1, s"${op.name}: no commits recorded — not a commit op")
      assert(expected.nonEmpty, s"${op.name}: clean run observes nothing")
      for ((store, n, point) <- sites) {
        trials += 1
        val trial = s"${op.name} $store $point#$n"
        val root = freshRoot()
        op.prepare(root)
        val armed = CommitFaults.arm(s"$root/$store", n, point)(
          throw new InjectedCrash)
        val crashed =
          try { op.run(root); false }
          catch { case e: Throwable if isInjected(e) => true }
          finally armed.disarm()
        if (!crashed)
          failures += s"$trial: injection did not fire"
        else {
          try {
            op.recover(root)
            val got = op.observe(root)
            if (got != expected)
              failures += s"$trial: diverged after replay\n" +
                s"  expected: $expected\n  got:      $got"
          } catch {
            case e: Throwable =>
              failures += s"$trial: replay threw ${e.getMessage}"
          }
        }
      }
      info(s"${op.name}: $commits commits, ${sites.size} points — converged")
    }
    assert(failures.isEmpty,
      s"$trials trials, ${failures.size} failed:\n${failures.mkString("\n")}")
    info(s"$trials injected-crash trials total, all converged")
  }

  test("armClaimKill: the injected kill lands at the exact Nth claim, " +
      "mid-commit (claimed, unpublished), and the retry converges — " +
      "the e2e drill's deterministic kill primitive") {
    val root = freshRoot()
    commit(s"$root/p", b1) // before arming: not counted
    val kill = CommitFaults.armClaimKill(s"$root/p", 2)
    try {
      commit(s"$root/other", b1) // another store's commit: not counted
      commit(s"$root/p", b2) // claim #1 — survives
      val e = intercept[RuntimeException] { commit(s"$root/p", b3) }
      assert(e.getMessage.contains("injected mid-commit kill"),
        s"unexpected: ${e.getMessage}")
    } finally kill.disarm()
    // torn exactly at the claim point: version dir at its final name,
    // pointer NOT flipped
    assert(CdcStream.replicaCurrentVersion(s"$root/p").contains(2L))
    assert(new java.io.File(s"$root/p/v000000003").isDirectory,
      "the claimed-but-unpublished orphan is the crash artifact")
    // the hook self-disarmed at fire: the documented replay lands
    commit(s"$root/p", b3)
    assert(CdcStream.replicaCurrentVersion(s"$root/p").contains(3L))
    assert(state(s"$root/p") == Seq("1=a2", "3=c3", "4=d2", "5=e3"))
  }
}
