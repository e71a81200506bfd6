package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Global secondary index over the replica store: synchronized
  * maintenance (stale-pointer deletes on value moves and key deletes),
  * value-clustered physical routing via manifest bucketCols, and
  * pruned equality lookups through the index.
  */
class SecondaryIndexSpec extends SparkSuite {

  import graft.SparkSuite.spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("gsi").toString

  // (id, city, seq, op) — city is the indexed value
  private def batch(rows: Seq[(Long, String, Long, String)]) =
    rows.toDF("id", "city", "seq", "op")

  private def apply1(p: String, ix: String,
      rows: Seq[(Long, String, Long, String)], defer: Boolean = false): Unit =
    SecondaryIndex.applyBatchWithIndex(spark, p, ix, batch(rows),
      Seq("id"), Seq("seq"), col("city"), "city", deferIndexMerge = defer)

  private def lookup(p: String, ix: String, cities: String*): Seq[Long] =
    SecondaryIndex.lookupByIndex(spark, p, ix, Seq("id"), col("city"),
        "city", cities.toDF("city"))
      .select($"id").collect().map(_.getLong(0)).toSeq.sorted

  test("index tracks value moves and deletes; lookups stay exact") {
    val (p, ix) = (freshDir(), freshDir())
    apply1(p, ix, Seq((1L, "oslo", 1L, "update"), (2L, "lima", 1L, "update"),
      (3L, "oslo", 1L, "update")))
    assert(lookup(p, ix, "oslo") == Seq(1L, 3L))
    assert(lookup(p, ix, "lima") == Seq(2L))
    // key 1 MOVES oslo→lima; key 3 dies; key 4 appears in lima
    apply1(p, ix, Seq((1L, "lima", 2L, "update"), (3L, "oslo", 2L, "delete"),
      (4L, "lima", 2L, "update")))
    assert(lookup(p, ix, "oslo") == Seq.empty,
      "moved and deleted keys must leave the old value's index entries")
    assert(lookup(p, ix, "lima") == Seq(1L, 2L, 4L))
    assert(lookup(p, ix, "nowhere") == Seq.empty)
    // the index replica holds NO stale (oslo, *) live entries at all
    val live = CdcStream.readReplica(spark, ix).get
      .select($"city", $"id").collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq.sorted
    assert(live == Seq(("lima", 1L), ("lima", 2L), ("lima", 4L)))
  }

  test("buildIndex bootstraps an index over an existing store; " +
      "incremental maintenance composes on top") {
    val (p, ix) = (freshDir(), freshDir())
    // the primary exists FIRST, no index anywhere (the CREATE INDEX
    // case) — including a delete and a pending MoR delta the
    // bootstrap's state read must fold
    CdcStream.applyBatchToReplica(p,
      batch(Seq((1L, "oslo", 1L, "update"), (2L, "lima", 1L, "update"),
        (3L, "oslo", 1L, "update"))),
      Seq("id"), Seq(col("seq")))
    CdcStream.applyBatchToReplica(p,
      batch(Seq((2L, "x", 2L, "delete"), (4L, "pune", 2L, "update"))),
      Seq("id"), Seq(col("seq")), deferMerge = true)
    SecondaryIndex.buildIndex(spark, p,
      SecondaryIndex.IndexSpec(ix, col("city"), "city"),
      Seq("id"), Seq("seq"))
    assert(lookup(p, ix, "oslo") == Seq(1L, 3L))
    assert(lookup(p, ix, "lima") == Seq.empty, "deleted keys must not index")
    assert(lookup(p, ix, "pune") == Seq(4L), "pending deltas must fold")
    // incremental maintenance composes: a value move cleans the
    // BOOTSTRAPPED entry (same entry shape, same routing)
    apply1(p, ix, Seq((1L, "pune", 3L, "update")))
    assert(lookup(p, ix, "oslo") == Seq(3L))
    assert(lookup(p, ix, "pune") == Seq(1L, 4L))
    // a dir already holding a store refuses by name
    val e = intercept[IllegalArgumentException] {
      SecondaryIndex.buildIndex(spark, p,
        SecondaryIndex.IndexSpec(ix, col("city"), "city"),
        Seq("id"), Seq("seq"))
    }
    assert(e.getMessage.contains("fresh dir"))
  }

  test("restore on an indexed primary: rebuild into a fresh dir recovers " +
      "exact lookups") {
    val (p, ix) = (freshDir(), freshDir())
    apply1(p, ix, Seq((1L, "oslo", 1L, "update"), (2L, "lima", 1L, "update")))
    apply1(p, ix, Seq((1L, "lima", 2L, "update"), (3L, "pune", 2L, "update")))
    // roll the primary back: the index is now STALE BY DESIGN (the
    // restore is metadata-only and knows nothing of index stores)
    CdcStream.restoreReplica(spark, p, toVersion = 1L)
    // the sanctioned recovery: rebuild fresh and swap
    val ix2 = freshDir()
    SecondaryIndex.buildIndex(spark, p,
      SecondaryIndex.IndexSpec(ix2, col("city"), "city"),
      Seq("id"), Seq("seq"))
    assert(lookup(p, ix2, "oslo") == Seq(1L))
    assert(lookup(p, ix2, "lima") == Seq(2L))
    assert(lookup(p, ix2, "pune") == Seq.empty,
      "the restored-away key must not appear in the rebuilt index")
  }

  test("feed-driven maintenance replays the restore's feed entry into " +
      "the EXISTING index at delta cost, equal to a full rebuild") {
    val (p, ix) = (freshDir(), freshDir())
    def applyRec(rows: Seq[(Long, String, Long, String)]): Unit =
      SecondaryIndex.applyBatchWithIndex(spark, p, ix, batch(rows),
        Seq("id"), Seq("seq"), col("city"), "city", recordChanges = true)
    applyRec(Seq((1L, "oslo", 1L, "update"), (2L, "lima", 1L, "update")))
    applyRec(Seq((1L, "lima", 2L, "update"), (3L, "pune", 2L, "update"),
      (2L, "x", 2L, "delete")))
    // roll back to v1 WITH a feed entry: the entry is the rollback's
    // divergence-sized diff — exactly a delta batch
    CdcStream.restoreReplica(spark, p, toVersion = 1L, recordChanges = true)
    val restoreV = CdcStream.replicaVersions(p).max
    // path A (the expensive recovery): rebuild fresh
    val rebuilt = freshDir()
    SecondaryIndex.buildIndex(spark, p,
      SecondaryIndex.IndexSpec(rebuilt, col("city"), "city"),
      Seq("id"), Seq("seq"))
    // path B (delta cost): replay the restore's feed entry through the
    // incremental maintenance into the ORIGINAL (stale) index
    SecondaryIndex.maintainIndexesFromFeed(spark, p,
      Seq(SecondaryIndex.IndexSpec(ix, col("city"), "city")),
      restoreV, Seq("id"), Seq("seq"))
    def entries(dir: String): Seq[(String, Long, Long)] =
      CdcStream.readReplica(spark, dir).get
        .select($"city", $"id", $"seq").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(entries(ix) == entries(rebuilt),
      "the feed-replayed index must equal the rebuilt one exactly")
    assert(lookup(p, ix, "oslo") == Seq(1L))
    assert(lookup(p, ix, "lima") == Seq(2L))
    assert(lookup(p, ix, "pune") == Seq.empty,
      "the restored-away key's entry must be deleted by the feed replay")
    // a version that recorded no changes refuses toward the rebuild
    CdcStream.applyBatchToReplica(p,
      batch(Seq((4L, "pune", 3L, "update"))), Seq("id"), Seq(col("seq")))
    val e = intercept[IllegalStateException] {
      SecondaryIndex.maintainIndexesFromFeed(spark, p,
        Seq(SecondaryIndex.IndexSpec(ix, col("city"), "city")),
        CdcStream.replicaVersions(p).max, Seq("id"), Seq("seq"))
    }
    assert(e.getMessage.contains("buildIndex"))
  }

  test("an index FOLLOWER lags and catches up by replaying feed " +
      "versions in order — equal to synchronized maintenance") {
    val (p, ix) = (freshDir(), freshDir())
    def commit(rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(p, batch(rows), Seq("id"),
        Seq(col("seq")), recordChanges = true)
    // three commits land on the primary with NO index anywhere —
    // value moves and a delete included, so stale-pointer derivation
    // must work against each version's own predecessor state
    commit(Seq((1L, "oslo", 1L, "update"), (2L, "lima", 1L, "update")))
    commit(Seq((1L, "lima", 2L, "update"), (3L, "oslo", 2L, "update")))
    commit(Seq((2L, "x", 3L, "delete"), (3L, "pune", 3L, "update")))
    // the lagging index follower replays versions 1..3 IN ORDER
    // (replicaVersions is already sorted)
    CdcStream.replicaVersions(p).foreach { v =>
      SecondaryIndex.maintainIndexesFromFeed(spark, p,
        Seq(SecondaryIndex.IndexSpec(ix, col("city"), "city")),
        v, Seq("id"), Seq("seq"))
    }
    // reference: the always-synchronized shape via a fresh rebuild
    val rebuilt = freshDir()
    SecondaryIndex.buildIndex(spark, p,
      SecondaryIndex.IndexSpec(rebuilt, col("city"), "city"),
      Seq("id"), Seq("seq"))
    // entry-for-entry including the ORDER column: a replay that wrote
    // wrong order values would corrupt later out-of-order conflict
    // resolution even with (city, id) intact
    def entries2(dir: String): Seq[(String, Long, Long)] =
      CdcStream.readReplica(spark, dir).get
        .select($"city", $"id", $"seq").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(entries2(ix) == entries2(rebuilt),
      "version-by-version feed replay must equal the synchronized index")
    assert(lookup(p, ix, "lima") == Seq(1L))
    assert(lookup(p, ix, "oslo") == Seq.empty,
      "both moved-away entries must be deleted by the replay")
    assert(lookup(p, ix, "pune") == Seq(3L))
  }

  test("range catch-up equals version-by-version replay, one commit, " +
      "same refusal semantics") {
    val (p, ix, ix2) = (freshDir(), freshDir(), freshDir())
    def commit(rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(p, batch(rows), Seq("id"),
        Seq(col("seq")), recordChanges = true)
    // v1 spreads keys over many buckets so later single-bucket merges
    // keep referencing (and thus retaining) its version dir — a
    // version whose files no manifest references is GC'd WITH its
    // changes, which is the feed-gap contract, not this test's subject
    commit(Seq((1L, "oslo", 1L, "update"), (2L, "lima", 1L, "update"),
      (5L, "bern", 1L, "update")) ++
      (10L until 40L).map(i => (i, s"c$i", 1L, "update")))
    // value moves, a delete, a move-back-capable chain — the
    // composed-delta fold's edge cases
    commit(Seq((1L, "lima", 2L, "update"), (3L, "oslo", 2L, "update"),
      (2L, "x", 2L, "delete")))
    // a compaction ends the range: content-identical — the feed
    // correctly skips it, the cursor steps over it
    CdcStream.compactReplica(spark, p)
    val top = CdcStream.replicaVersions(p).max
    // path A: version-by-version (the loop a lagging follower runs;
    // the compaction version has no feed entry and is skipped)
    Seq(1L, 2L).foreach { v =>
      SecondaryIndex.maintainIndexesFromFeed(spark, p,
        Seq(SecondaryIndex.IndexSpec(ix, col("city"), "city")),
        v, Seq("id"), Seq("seq"))
    }
    // path B: ONE range call over the same span, compaction included
    SecondaryIndex.maintainIndexesFromFeedRange(spark, p,
      Seq(SecondaryIndex.IndexSpec(ix2, col("city"), "city")),
      0L, top, Seq("id"), Seq("seq"))
    def entriesOf(dir: String): Seq[(String, Long, Long)] =
      CdcStream.readReplica(spark, dir).get
        .select($"city", $"id", $"seq").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(entriesOf(ix2) == entriesOf(ix),
      "range catch-up must equal the version-by-version replay")
    assert(entriesOf(ix2).take(3) == Seq(("bern", 5L, 1L),
      ("c10", 10L, 1L), ("c11", 11L, 1L)))
    assert(entriesOf(ix2).contains(("lima", 1L, 2L)) &&
      entriesOf(ix2).contains(("oslo", 3L, 2L)) &&
      !entriesOf(ix2).exists(_._2 == 2L),
      s"composed delta must move key 1, add key 3, delete key 2: " +
        entriesOf(ix2).toString)
    // the range commits ONCE per index, not once per version
    assert(CdcStream.replicaVersions(ix2).max <
      CdcStream.replicaVersions(ix).max)
    // the range cursor sits at the range end (the compaction stepped
    // over); the loop's sits at the last feed version
    assert(SecondaryIndex.appliedPrimaryVersion(ix2).contains(top))
    assert(SecondaryIndex.appliedPrimaryVersion(ix).contains(2L))
    // an idempotent full redo is allowed and converges
    SecondaryIndex.maintainIndexesFromFeedRange(spark, p,
      Seq(SecondaryIndex.IndexSpec(ix2, col("city"), "city")),
      0L, top, Seq("id"), Seq("seq"))
    assert(entriesOf(ix2) == entriesOf(ix))
    // a NEW commit past the compaction: the loop follower steps over
    // the compaction (content-identical gap), the range follower
    // resumes from its cursor — both land equal again
    commit(Seq((1L, "pune", 4L, "update"), (6L, "rome", 4L, "update")))
    val v4 = CdcStream.replicaVersions(p).max
    SecondaryIndex.maintainIndexesFromFeed(spark, p,
      Seq(SecondaryIndex.IndexSpec(ix, col("city"), "city")),
      v4, Seq("id"), Seq("seq"))
    SecondaryIndex.maintainIndexesFromFeedRange(spark, p,
      Seq(SecondaryIndex.IndexSpec(ix2, col("city"), "city")),
      top, v4, Seq("id"), Seq("seq"))
    assert(entriesOf(ix2) == entriesOf(ix))
    assert(lookup(p, ix2, "pune") == Seq(1L) &&
      lookup(p, ix2, "lima") == Seq.empty)
    // a range starting anywhere but the cursor refuses — out-of-order
    // replay would corrupt silently without it
    val e = intercept[IllegalStateException] {
      SecondaryIndex.maintainIndexesFromFeedRange(spark, p,
        Seq(SecondaryIndex.IndexSpec(ix2, col("city"), "city")),
        0L, 2L, Seq("id"), Seq("seq"))
    }
    assert(e.getMessage.contains("reflects primary version"))
  }

  test("the applied-version cursor refuses out-of-order, skipped, and " +
      "double-at-a-distance replays on every maintenance path") {
    val (p, ix) = (freshDir(), freshDir())
    def commit(rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(p, batch(rows), Seq("id"),
        Seq(col("seq")), recordChanges = true)
    // v1 spreads keys across buckets so later same-key merges keep its
    // version dir (and feed entry) referenced instead of GC'd
    commit(Seq((1L, "oslo", 1L, "update")) ++
      (10L until 40L).map(i => (i, s"c$i", 1L, "update")))
    commit(Seq((1L, "lima", 2L, "update")))
    commit(Seq((1L, "pune", 3L, "update")))
    SecondaryIndex.maintainIndexesFromFeed(spark, p,
      Seq(SecondaryIndex.IndexSpec(ix, col("city"), "city")),
      1L, Seq("id"), Seq("seq"))
    assert(SecondaryIndex.appliedPrimaryVersion(ix).contains(1L))
    // SKIP: v3 before v2 — without the cursor, v2's move-delete is
    // silently lost and (oslo,1) would persist forever
    val skip = intercept[IllegalStateException] {
      SecondaryIndex.maintainIndexesFromFeed(spark, p,
        Seq(SecondaryIndex.IndexSpec(ix, col("city"), "city")),
        3L, Seq("id"), Seq("seq"))
    }
    assert(skip.getMessage.contains("reflects primary version 1"))
    // REDO of the version just applied is allowed (idempotent)
    SecondaryIndex.maintainIndexesFromFeed(spark, p,
      Seq(SecondaryIndex.IndexSpec(ix, col("city"), "city")),
      1L, Seq("id"), Seq("seq"))
    // in-order catch-up proceeds
    Seq(2L, 3L).foreach(v => SecondaryIndex.maintainIndexesFromFeed(spark, p,
      Seq(SecondaryIndex.IndexSpec(ix, col("city"), "city")),
      v, Seq("id"), Seq("seq")))
    assert(lookup(p, ix, "pune") == Seq(1L))
    assert(lookup(p, ix, "oslo") == Seq.empty)
    // DOUBLE AT A DISTANCE: replaying v2 after v3 refuses
    val stale = intercept[IllegalStateException] {
      SecondaryIndex.maintainIndexesFromFeed(spark, p,
        Seq(SecondaryIndex.IndexSpec(ix, col("city"), "city")),
        2L, Seq("id"), Seq("seq"))
    }
    assert(stale.getMessage.contains("reflects primary version 3"))
    // synchronized apply on an index that MISSED a plain primary
    // commit refuses too (the index is stale, not just lagging)
    commit(Seq((2L, "bern", 4L, "update")))
    val missed = intercept[IllegalStateException] {
      SecondaryIndex.applyBatchWithIndex(spark, p, ix,
        batch(Seq((3L, "rome", 5L, "update"))), Seq("id"), Seq("seq"),
        col("city"), "city")
    }
    assert(missed.getMessage.contains("maintainIndexesFromFeed"))
    // …but catching up through the missed version re-arms it
    SecondaryIndex.maintainIndexesFromFeed(spark, p,
      Seq(SecondaryIndex.IndexSpec(ix, col("city"), "city")),
      4L, Seq("id"), Seq("seq"))
    SecondaryIndex.applyBatchWithIndex(spark, p, ix,
      batch(Seq((3L, "rome", 5L, "update"))), Seq("id"), Seq("seq"),
      col("city"), "city", recordChanges = true)
    assert(lookup(p, ix, "rome") == Seq(3L))
    assert(lookup(p, ix, "bern") == Seq(2L))
  }

  test("a crash between the index and primary commits replays to convergence") {
    // the index commits FIRST (the recoverable order): simulate the
    // crash window by snapshotting the primary before a batch, running
    // the batch fully, then restoring the primary snapshot — on disk
    // that is exactly "index committed, primary lost". The replay must
    // recompute the SAME stale-pointer deletes (the primary is still
    // unmerged) and converge BOTH stores; with the old primary-first
    // order the restored state is unreachable and the (old value, key)
    // entries accrete forever.
    def copyDir(from: java.io.File, to: java.io.File): Unit = {
      if (from.isDirectory) {
        to.mkdirs()
        Option(from.listFiles()).getOrElse(Array.empty)
          .foreach(f => copyDir(f, new java.io.File(to, f.getName)))
      } else java.nio.file.Files.copy(from.toPath, to.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    val (p, ix) = (freshDir(), freshDir())
    apply1(p, ix, Seq((1L, "oslo", 1L, "update"), (2L, "lima", 1L, "update")))
    // snapshot the primary, then run the value-moving batch fully
    val snap = new java.io.File(freshDir(), "snap")
    copyDir(new java.io.File(p), snap)
    val moving = Seq((1L, "lima", 2L, "update"), (2L, "lima", 2L, "delete"))
    apply1(p, ix, moving)
    // crash: the primary commit is lost, the index commit survives
    rm(new java.io.File(p)); copyDir(snap, new java.io.File(p))
    // mid-window, the touched keys are INVISIBLE through the index:
    // their old-value entries were deleted first, and read repair
    // drops forward entries whose primary rows don't exist yet. A
    // transient under-return, closed by the replay — the primary-first
    // order's failure mode is the opposite and permanent (stale
    // entries served forever). Untouched keys are unaffected.
    assert(lookup(p, ix, "oslo") == Seq.empty)
    assert(lookup(p, ix, "lima") == Seq.empty)
    // replay the batch (what the sink's marker protocol does on restart)
    apply1(p, ix, moving)
    assert(lookup(p, ix, "oslo") == Seq.empty,
      "replay must re-delete the moved key's old-value entry")
    assert(lookup(p, ix, "lima") == Seq(1L))
    // and the INDEX ITSELF holds no stale live entries — the covered
    // lookup's contract (no read repair to hide behind)
    val live = CdcStream.readReplica(spark, ix).get
      .select($"city", $"id").collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq.sorted
    assert(live == Seq(("lima", 1L)),
      s"stale or phantom index entries survived the crash replay: $live")
  }

  test("deferred index merges serve the same lookups through the fold") {
    val (p, ix) = (freshDir(), freshDir())
    // defer BOTH sides: the second batch's old-value read must fold the
    // primary's pending delta or stale-pointer detection breaks
    def applyBoth(rows: Seq[(Long, String, Long, String)]): Unit =
      SecondaryIndex.applyBatchWithIndex(spark, p, ix, batch(rows),
        Seq("id"), Seq("seq"), col("city"), "city",
        deferIndexMerge = true, deferPrimaryMerge = true)
    applyBoth(Seq((1L, "oslo", 1L, "update"), (2L, "lima", 1L, "update")))
    applyBoth(Seq((1L, "lima", 2L, "update"), (2L, "lima", 2L, "delete"),
      (3L, "oslo", 2L, "update")))
    // index commits were delta-only
    val dirs = new java.io.File(ix).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v[0-9]{9}"))
    assert(dirs.nonEmpty &&
      dirs.forall(d => !new java.io.File(d, "data").exists()))
    assert(lookup(p, ix, "oslo") == Seq(3L))
    assert(lookup(p, ix, "lima") == Seq(1L))
    // compaction folds the index; lookups unchanged
    CdcStream.compactReplica(spark, ix)
    assert(lookup(p, ix, "oslo") == Seq(3L))
    assert(lookup(p, ix, "lima") == Seq(1L))
  }

  test("covered lookups answer from the index alone and track value moves") {
    val (p, ix) = (freshDir(), freshDir())
    def applyCov(rows: Seq[(Long, String, Long, String)]): Unit =
      SecondaryIndex.applyBatchWithIndex(spark, p, ix, batch(rows),
        Seq("id"), Seq("seq"), col("city"), "city",
        includeCols = Seq("seq"))
    applyCov(Seq((1L, "oslo", 1L, "update"), (2L, "oslo", 1L, "update")))
    // key 1 moves city AND its covered seq advances; key 2 dies
    applyCov(Seq((1L, "lima", 2L, "update"), (2L, "oslo", 2L, "delete")))
    def covered(city: String): Seq[(Long, Long)] =
      SecondaryIndex.lookupCovered(spark, ix, "city",
          Seq(city).toDF("city"))
        .select($"id", $"seq").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(covered("oslo") == Seq.empty,
      "moved and deleted keys must leave the covered entries")
    assert(covered("lima") == Seq((1L, 2L)),
      "the covered projection must carry the key's CURRENT values")
  }

  test("index rows cluster by value: one bucket per indexed value, " +
      "routing recorded in the manifest") {
    val (p, ix) = (freshDir(), freshDir())
    apply1(p, ix, (0L until 40L).map(i =>
      (i, s"city${i % 4}", 1L, "update")))
    val cur = java.nio.file.Files.readString(
      java.nio.file.Paths.get(ix, "CURRENT")).trim
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(ix, cur, "manifest.json"))
    assert(manifest.contains("\"bucketCols\":[\"city\"]"), manifest)
    // every entry sharing a city value sits in exactly one bucket dir
    val perBucket = Option(new java.io.File(s"$ix/$cur/data").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
      .map { d =>
        spark.read.parquet(d.getPath).select($"city").distinct()
          .collect().map(_.getString(0)).toSet
      }
    val cities = perBucket.flatten
    assert(cities.length == cities.distinct.length,
      s"a city's entries straddle buckets: ${perBucket.mkString(";")}")
  }

  test("lookup scans only the probed values' buckets") {
    val (p, ix) = (freshDir(), freshDir())
    apply1(p, ix, (0L until 64L).map(i =>
      (i, s"city${i % 8}", 1L, "update")))
    // count distinct files the pruned index read touches via the plan
    val probed = CdcStream.readReplicaForKeys(spark, ix, Seq("city"),
      Seq("city3").toDF("city")).get
    val scanned = probed.queryExecution.executedPlan.collectLeaves()
      .collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.length
      }.sum
    val total = CdcStream.readReplica(spark, ix).get.queryExecution
      .executedPlan.collectLeaves()
      .collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.length
      }.sum
    assert(scanned < total,
      s"index lookup should prune files: scanned=$scanned total=$total")
    assert(probed.select($"id").collect().map(_.getLong(0)).toSeq.sorted ==
      (0L until 64L).filter(_ % 8 == 3))
  }

  // ------------------------------------------------ conditionalOrder × GSI
  // The r14 composition: index deltas are the POST-STATE DIFF of the
  // conditional fold. A late-losing batch must neither erase a winning
  // entry, nor insert its own, nor resurrect a tombstoned key.

  private def applyCond(p: String, ix: String,
      rows: Seq[(Long, String, Long, String)],
      deferPrimary: Boolean = false): Unit =
    SecondaryIndex.applyBatchWithIndex(spark, p, ix, batch(rows),
      Seq("id"), Seq("seq"), col("city"), "city",
      conditionalOrder = true, deferPrimaryMerge = deferPrimary)

  private def liveIndex(ix: String): Seq[(String, Long)] =
    CdcStream.readReplica(spark, ix).get
      .select($"city", $"id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted

  test("conditional GSI: a late-losing update changes neither store nor " +
      "index; a winning one moves the entry; ties go to the incoming row") {
    val (p, ix) = (freshDir(), freshDir())
    applyCond(p, ix, Seq((1L, "oslo", 5L, "update"), (2L, "lima", 5L, "update")))
    // LATE LOSER: seq 3 < stored 5 — the primary keeps oslo, and the
    // index must not plant a (lima, 1) entry nor delete (oslo, 1)
    applyCond(p, ix, Seq((1L, "lima", 3L, "update")))
    assert(lookup(p, ix, "oslo") == Seq(1L))
    assert(lookup(p, ix, "lima") == Seq(2L))
    assert(liveIndex(ix) == Seq(("lima", 2L), ("oslo", 1L)),
      "a losing batch must leave the index bit-identical")
    // EXACT TIE: incoming wins (the merge's documented tie rule) —
    // the index follows the move
    applyCond(p, ix, Seq((1L, "lima", 5L, "update")))
    assert(lookup(p, ix, "oslo") == Seq.empty)
    assert(lookup(p, ix, "lima") == Seq(1L, 2L))
    // WINNING move back
    applyCond(p, ix, Seq((1L, "oslo", 9L, "update")))
    assert(liveIndex(ix) == Seq(("lima", 2L), ("oslo", 1L)))
  }

  test("conditional GSI: tombstone protection — a winning delete removes " +
      "the entry and a later LOWER-order update cannot resurrect it") {
    val (p, ix) = (freshDir(), freshDir())
    applyCond(p, ix, Seq((1L, "oslo", 5L, "update"), (2L, "lima", 5L, "update")))
    // losing delete: seq 3 < 5 — ignored everywhere
    applyCond(p, ix, Seq((1L, "oslo", 3L, "delete")))
    assert(lookup(p, ix, "oslo") == Seq(1L))
    // winning delete: key 1 dies, its entry leaves the index
    applyCond(p, ix, Seq((1L, "oslo", 7L, "delete")))
    assert(lookup(p, ix, "oslo") == Seq.empty)
    assert(liveIndex(ix) == Seq(("lima", 2L)))
    // the critical case the tombstone-keeping old-value read exists
    // for: a late update BELOW the tombstone's order (6 < 7). The
    // primary ignores it (tombstone compare); without tombstones in
    // the index derivation the key would look absent, the update would
    // "win", and a stale (lima, 1) entry would accrete on a dead key —
    // served by covered lookups forever.
    applyCond(p, ix, Seq((1L, "lima", 6L, "update")))
    assert(lookup(p, ix, "lima") == Seq(2L))
    assert(liveIndex(ix) == Seq(("lima", 2L)),
      "a sub-tombstone update resurrected a dead key's index entry")
    // ABOVE the tombstone the key legitimately returns
    applyCond(p, ix, Seq((1L, "lima", 8L, "update")))
    assert(lookup(p, ix, "lima") == Seq(1L, 2L))
  }

  test("conditional GSI: mixed batch — winners transition, losers don't; " +
      "deferred primary folds tombstones into the old-value read") {
    val (p, ix) = (freshDir(), freshDir())
    // deferred primary: the old-state read must fold pending
    // CONDITIONAL deltas (tombstones included) or the winner compare
    // runs against stale state
    applyCond(p, ix, Seq((1L, "oslo", 5L, "update"),
      (2L, "lima", 5L, "update"), (3L, "oslo", 5L, "delete")),
      deferPrimary = true)
    // one batch: key 1 loses (3<5), key 2 wins a move (7>5), key 3 is
    // a sub-tombstone resurrect attempt (4<5), key 4 is fresh
    applyCond(p, ix, Seq((1L, "lima", 3L, "update"),
      (2L, "oslo", 7L, "update"), (3L, "lima", 4L, "update"),
      (4L, "rome", 1L, "update")), deferPrimary = true)
    assert(lookup(p, ix, "oslo") == Seq(1L, 2L))
    assert(lookup(p, ix, "lima") == Seq.empty)
    assert(lookup(p, ix, "rome") == Seq(4L))
    assert(liveIndex(ix) == Seq(("oslo", 1L), ("oslo", 2L), ("rome", 4L)))
  }

  test("conditional GSI property: 5 seeded random batch-orderings of " +
      "one changelog all converge primary AND index to the direct " +
      "last-writer fold") {
    // the winner-set derivation (applyBatchWithIndexes under
    // conditionalOrder) claims ARRIVAL-ORDER INDEPENDENCE: any
    // partition of a changelog into batches, applied in any order,
    // must land the primary and every index on the same
    // greatest-order-wins state. The adversarial parity fixture
    // (cdc_gsi_conditional) proves ONE permutation; this drives five
    // seeded random ones, each checked state-equal to the fold
    // computed directly in plain Scala.
    val cities = Vector("oslo", "lima", "rome", "kiev", "baku")
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      // per key: strictly increasing unique seq (ties are the merge's
      // documented incoming-wins rule — order-DEPENDENT by design, so
      // the property must not generate them)
      val events: Seq[(Long, String, Long, String)] =
        (1L to 10L).flatMap { k =>
          var seq = 0L
          (0 until (2 + rnd.nextInt(4))).map { _ =>
            seq += 1 + rnd.nextInt(4)
            val op = if (rnd.nextInt(4) == 0) "delete" else "update"
            (k, cities(rnd.nextInt(cities.size)), seq, op)
          }
        }
      // the direct fold: greatest seq per key; a winning delete = gone
      val expected = events.groupBy(_._1).flatMap { case (k, es) =>
        val w = es.maxBy(_._3)
        if (w._4 == "delete") None else Some((k, w._2))
      }.toSet
      val shuffled = rnd.shuffle(events)
      val nBatches = 3
      val (p, ix) = (freshDir(), freshDir())
      shuffled.grouped(
        math.max(1, (shuffled.size + nBatches - 1) / nBatches))
        .foreach(b => applyCond(p, ix, b))
      val gotPrimary = CdcStream.readReplica(spark, p).get
        .select($"id", $"city").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(gotPrimary == expected,
        s"seed $seed: primary diverged from the direct fold")
      assert(liveIndex(ix).toSet == expected.map(_.swap),
        s"seed $seed: index diverged from the direct fold")
    }
  }

  test("conditional GSI: crash between index and primary commits replays " +
      "to convergence (same recomputed winner set)") {
    def copyDir(from: java.io.File, to: java.io.File): Unit = {
      if (from.isDirectory) {
        to.mkdirs()
        Option(from.listFiles()).getOrElse(Array.empty)
          .foreach(f => copyDir(f, new java.io.File(to, f.getName)))
      } else java.nio.file.Files.copy(from.toPath, to.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    val (p, ix) = (freshDir(), freshDir())
    applyCond(p, ix, Seq((1L, "oslo", 5L, "update"), (2L, "lima", 5L, "update")))
    val snap = new java.io.File(freshDir(), "snap")
    copyDir(new java.io.File(p), snap)
    // the batch mixes a winner (key 2 moves) and a loser (key 1)
    val moving = Seq((1L, "lima", 3L, "update"), (2L, "oslo", 8L, "update"))
    applyCond(p, ix, moving)
    // crash: primary commit lost, index commit survives
    rm(new java.io.File(p)); copyDir(snap, new java.io.File(p))
    // replay — the old-state read sees the unmerged primary, so the
    // winner set recomputes identically and the re-apply is idempotent
    applyCond(p, ix, moving)
    assert(lookup(p, ix, "oslo") == Seq(1L, 2L))
    assert(lookup(p, ix, "lima") == Seq.empty)
    assert(liveIndex(ix) == Seq(("oslo", 1L), ("oslo", 2L)),
      "conditional crash replay left stale or phantom index entries")
  }

  // ------------------------------------------ routed, concurrent commit

  // (id, grp, score, seq, op) — two indexed columns, for the 2-GSI shape
  private def wide(rows: Seq[(Long, Long, Long, Long, String)]) =
    rows.toDF("id", "grp", "score", "seq", "op")

  private def twoSpecs(root: String) = Seq(
    SecondaryIndex.IndexSpec(s"$root/i1", col("grp"), "grp"),
    SecondaryIndex.IndexSpec(s"$root/i2", col("score"), "score"))

  private def applyTwo(root: String, batch: org.apache.spark.sql.DataFrame,
      recordChanges: Boolean = false): Unit =
    SecondaryIndex.applyBatchWithIndexes(spark, s"$root/p", twoSpecs(root),
      batch, Seq("id"), Seq("seq"), recordChanges = recordChanges)

  /** Live `(value, id)` entries of an index store on column `c`. */
  private def entries(dir: String, c: String): Seq[(Long, Long)] =
    CdcStream.readReplica(spark, dir).map(_.select(col(c).cast("long"), $"id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted)
      .getOrElse(Nil)

  /** Fold of `(id, grp, score, seq, op)` batches: id -> (grp, score). */
  private def fold(batches: Seq[Seq[(Long, Long, Long, Long, String)]])
      : Map[Long, (Long, Long)] =
    batches.flatten.groupBy(_._1).flatMap { case (id, rs) =>
      val last = rs.maxBy(_._4)
      if (last._5 == "delete") None else Some(id -> (last._2, last._3))
    }

  private def stagingDirs(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).getOrElse(Array.empty[String])
      .filter(_.startsWith(".staging-")).toSeq

  /** Spark jobs run by `body`, counted by a listener between two drains
    * of the listener bus.
    */
  private def countJobs(body: => Unit): Int = {
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

  private def rows(seed: Long, n: Int) = (0 until n).map { i =>
    val id = (i * 7919L + seed * 31L) % 2000L
    (id, id % 64, (id * 13 + seed) % 1000, seed * 10000L + i,
      if (i % 10 == 0) "delete" else "update")
  }

  test("job budget: an eager commit with two GSIs and a change feed runs " +
      "at most 13 Spark jobs; a plain eager commit at most 4") {
    // measured: 13 jobs for the indexed commit (2 route the net, 3 pair
    // the old values, 1 routes each index's delta, 2 merge each store)
    // against 35 before the routed commit; 4 for the plain commit (2
    // route, 2 merge) against 8. A wall-time creep hides in noise; a
    // job count does not.
    val root = freshDir()
    applyTwo(root, wide(rows(1, 700)), recordChanges = true) // warm
    val indexed = countJobs(
      applyTwo(root, wide(rows(2, 700)), recordChanges = true))
    assert(indexed <= 13, s"indexed eager commit ran $indexed jobs")
    val expect = fold(Seq(rows(1, 700), rows(2, 700)))
    assert(entries(s"$root/i1", "grp") ==
      expect.toSeq.map { case (id, (g, _)) => (g, id) }.sorted)
    val plainDir = s"$root/plain"
    CdcStream.applyBatchToReplica(plainDir, wide(rows(1, 700)), Seq("id"),
      Seq(col("seq")), recordChanges = true)
    val plain = countJobs(CdcStream.applyBatchToReplica(plainDir,
      wide(rows(2, 700)), Seq("id"), Seq(col("seq")), recordChanges = true))
    assert(plain <= 4, s"plain eager commit ran $plain jobs")
  }

  /** The same keys as a frame whose plan is not a LocalRelation: the
    * bucket-collect and semi-join path the local one must agree with.
    */
  private def nonLocal(keys: org.apache.spark.sql.DataFrame) =
    spark.createDataFrame(keys.rdd, keys.schema)

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** A key-pruned read over the local `keys`: it runs at most `budget`
    * Spark jobs (the scan) and returns the non-local path's rows and
    * schema.
    */
  private def localRead(dir: String, idCols: Seq[String],
      keys: org.apache.spark.sql.DataFrame, tombstones: Boolean = false,
      budget: Int = 1): Seq[String] = {
    def read(k: org.apache.spark.sql.DataFrame) =
      (if (tombstones)
        CdcStream.readReplicaForKeysWithTombstones(spark, dir, idCols, k)
      else CdcStream.readReplicaForKeys(spark, dir, idCols, k)).get
    var got = Seq.empty[String]
    val jobs = countJobs { got = sortedRows(read(keys)) }
    assert(jobs <= budget,
      s"local-key read of ${keys.collect().toSeq} ran $jobs jobs")
    val old = read(nonLocal(keys))
    assert(read(keys).schema == old.schema)
    assert(got == sortedRows(old), s"keys ${keys.collect().toSeq}")
    got
  }

  test("job budget: a local-key point read runs one Spark job and returns " +
      "what the semi-join path returns") {
    val p = freshDir()
    CdcStream.applyBatchToReplica(p, wide(rows(1, 300)), Seq("id"),
      Seq(col("seq")))
    val live = fold(Seq(rows(1, 300)))
    val dead = rows(1, 300).collect { case (id, _, _, _, "delete") => id }
      .filterNot(live.contains)
    def ids(got: Seq[String]) =
      got.map(_.stripPrefix("[").takeWhile(_ != ',').toLong).sorted
    // int keys into a long-keyed store
    val some = live.keys.toSeq.sorted.take(8)
    assert(ids(localRead(p, Seq("id"), some.map(_.toInt).toDF("id"))) == some)
    // ... spread over more than one bucket
    assert(some.toDF("id").select(pmod(hash($"id"), lit(16))).distinct()
      .count() >= 2)
    // a null key and duplicates; a deleted key returns nothing
    val odd = Seq(Some(some.head), None, Some(some.head), Some(dead.head))
    assert(ids(localRead(p, Seq("id"), odd.toDF("id"))) == Seq(some.head))
    // an empty key set: Some(empty) with the store's schema
    val none = CdcStream.readReplicaForKeys(spark, p, Seq("id"),
      Seq.empty[Long].toDF("id")).get
    assert(none.schema == CdcStream.readReplica(spark, p).get.schema)
    assert(localRead(p, Seq("id"), Seq.empty[Long].toDF("id")).isEmpty)
    // a deferred store with pending deltas folds them into the read;
    // the fold's per-key window adds its shuffle stage as a second job
    CdcStream.applyBatchToReplica(p, wide(rows(2, 100)), Seq("id"),
      Seq(col("seq")), deferMerge = true)
    val live2 = fold(Seq(rows(1, 300), rows(2, 100)))
    val probe = (rows(2, 100).map(_._1).take(6) ++ some).distinct
    assert(ids(localRead(p, Seq("id"), probe.toDF("id"), budget = 2)) ==
      probe.filter(live2.contains).sorted)
    // a non-local keys frame still reads through the semi-join
    assert(CdcStream.readReplicaForKeys(spark, p, Seq("id"),
      nonLocal(probe.toDF("id"))).get.select($"id").as[Long].collect()
      .sorted.toSeq == probe.filter(live2.contains).sorted)
    // multi-column ids
    val m = freshDir()
    CdcStream.applyBatchToReplica(m, Seq((1L, "a", 10L, 1L, "update"),
      (1L, "b", 11L, 1L, "update"), (2L, "a", 12L, 1L, "update"))
      .toDF("id", "k", "v", "seq", "op"), Seq("id", "k"), Seq(col("seq")))
    assert(localRead(m, Seq("id", "k"),
      Seq((1L, "b"), (2L, "a"), (2L, "b"), (1L, null)).toDF("id", "k"))
      .map(_.split(',').take(3).mkString(",")) == Seq("[1,b,11", "[2,a,12"))
    // a conditionally tombstoned key: gone from the live read, a
    // tombstone row in the read that keeps delete state
    val c = freshDir()
    CdcStream.applyBatchToReplica(c, wide(Seq((1L, 1L, 1L, 5L, "update"),
      (2L, 1L, 1L, 5L, "update"))), Seq("id"), Seq(col("seq")),
      conditionalOrder = true)
    CdcStream.applyBatchToReplica(c, wide(Seq((1L, 1L, 1L, 9L, "delete"))),
      Seq("id"), Seq(col("seq")), conditionalOrder = true)
    assert(ids(localRead(c, Seq("id"), Seq(1L, 2L).toDF("id"))) == Seq(2L))
    assert(localRead(c, Seq("id"), Seq(1L, 2L).toDF("id"), tombstones = true)
      .map(_.endsWith(",true]")) == Seq(true, false))
  }

  test("job budget: a GSI lookup over local values runs at most 2 Spark " +
      "jobs; a graft-replica key-equality read runs 1") {
    val root = freshDir()
    applyTwo(root, wide(rows(1, 300)))
    val live = fold(Seq(rows(1, 300)))
    def byGrp(values: org.apache.spark.sql.DataFrame) =
      SecondaryIndex.lookupByIndex(spark, s"$root/p", s"$root/i1", Seq("id"),
        col("grp"), "grp", values).select($"id").as[Long].collect().sorted.toSeq
    val want = live.collect { case (id, (3L, _)) => id }.toSeq.sorted
    assert(want.nonEmpty)
    var got = Seq.empty[Long]
    val jobs = countJobs { got = byGrp(Seq(3L).toDF("grp")) }
    assert(jobs <= 2, s"GSI lookup ran $jobs jobs")
    assert(got == want)
    assert(byGrp(Seq(3).toDF("grp")) == want, "int values, long index")
    assert(byGrp(nonLocal(Seq(3L).toDF("grp"))) == want)
    assert(byGrp(Seq(999L).toDF("grp")).isEmpty)
    val rel = new graft.sources.replica.ReplicaRelation(
      spark.sqlContext, s"$root/p", None, None, Seq("id"))
    val df = spark.sqlContext.baseRelationToDataFrame(rel)
    val keys = live.keys.toSeq.sorted.take(3)
    var scanned = Seq.empty[Long]
    val scanJobs = countJobs {
      scanned = df.filter($"id".isin(keys: _*)).select($"id").as[Long]
        .collect().sorted.toSeq
    }
    assert(rel.lastScanPruned)
    assert(scanJobs <= 1, s"graft-replica key read ran $scanJobs jobs")
    assert(scanned == keys)
  }

  test("an int-keyed batch into a long-keyed indexed store routes by the " +
      "store's type: primary, GSIs and pruned reads match the fold") {
    val root = freshDir()
    val b1 = Seq((1L, 3L, 30L, 1L, "update"), (2L, 4L, 40L, 1L, "update"),
      (3L, 3L, 50L, 1L, "update"))
    applyTwo(root, wide(b1))
    // the same keys arrive as INT: hash(5: int) != hash(5L: long), so an
    // uncast net would route them to other buckets than their rows
    val b2 = Seq((1L, 4L, 31L, 2L, "update"), (3L, 3L, 50L, 2L, "delete"),
      (4L, 3L, 60L, 2L, "update"))
    applyTwo(root, wide(b2).withColumn("id", col("id").cast("int"))
      .withColumn("grp", col("grp").cast("int")))
    val expect = fold(Seq(b1, b2))
    val primary = CdcStream.readReplica(spark, s"$root/p").get
    assert(primary.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(primary.select($"id", $"grp", $"score").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap == expect)
    assert(entries(s"$root/i1", "grp") ==
      expect.toSeq.map { case (id, (g, _)) => (g, id) }.sorted)
    assert(entries(s"$root/i2", "score") ==
      expect.toSeq.map { case (id, (_, sc)) => (sc, id) }.sorted)
    // each key lives in exactly one bucket: the pruned read finds all
    expect.keys.foreach { k =>
      assert(CdcStream.readReplicaForKeys(spark, s"$root/p", Seq("id"),
        Seq(k).toDF("id")).get.count() == 1L, s"key $k")
    }
    assert(SecondaryIndex.lookupByIndex(spark, s"$root/p", s"$root/i1",
      Seq("id"), col("grp"), "grp", Seq(3L).toDF("grp"))
      .select($"id").as[Long].collect().sorted.toSeq == Seq(4L))
  }

  test("a batch with zero net rows commits nothing and re-stamps the " +
      "cursors at the primary's current version") {
    val root = freshDir()
    applyTwo(root, wide(Seq((1L, 3L, 30L, 1L, "update"))))
    val empty = wide(Seq((9L, 0L, 0L, 0L, "update"))).limit(0)
    assert(CdcStream.applyBatchToReplica(s"$root/p", empty, Seq("id"),
      Seq(col("seq"))).isEmpty)
    // a crash-redo cursor one ahead must come back to the real version
    twoSpecs(root).foreach(sp => java.nio.file.Files.write(
      java.nio.file.Paths.get(sp.dir, "_applied_primary_version"),
      "2".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    applyTwo(root, empty)
    assert(CdcStream.replicaVersions(s"$root/p") == Seq(1L))
    twoSpecs(root).foreach { sp =>
      assert(CdcStream.replicaVersions(sp.dir) == Seq(1L))
      assert(SecondaryIndex.appliedPrimaryVersion(sp.dir).contains(1L))
    }
    assert(stagingDirs(s"$root/p").isEmpty)
  }

  test("a batch that widens a routing column refuses before any store " +
      "commits and leaves no staging behind") {
    val root = freshDir()
    val b1 = Seq((1L, 3L, 30L, 1L, "update"))
    applyTwo(root, wide(b1).withColumn("id", col("id").cast("int")))
    val e = intercept[IllegalArgumentException] {
      applyTwo(root, wide(Seq((1L, 4L, 31L, 2L, "update"))))
    }
    assert(e.getMessage.contains("batch changes ROUTING column 'id' from " +
      "int to bigint"), e.getMessage)
    (s"$root/p" +: twoSpecs(root).map(_.dir)).foreach { d =>
      assert(CdcStream.replicaVersions(d) == Seq(1L), d)
      assert(stagingDirs(d).isEmpty, d)
    }
  }

  test("a failure in the primary's stage after both GSIs committed: the " +
      "replay converges and the next commit sweeps a crashed writer's " +
      "staging debris") {
    val root = freshDir()
    val b1 = Seq((1L, 3L, 30L, 1L, "update"), (2L, 4L, 40L, 1L, "update"))
    applyTwo(root, wide(b1), recordChanges = true)
    val b2 = Seq((1L, 5L, 30L, 2L, "update"), (2L, 4L, 40L, 2L, "delete"),
      (3L, 6L, 60L, 2L, "update"))
    val primary = new java.io.File(s"$root/p").getCanonicalPath
    val armed = CommitFaults.arm(s"$root/p", 1, CommitFaults.Stage) {
      // both index commits land first: the stage runs beside them
      val deadline = System.currentTimeMillis() + 60000
      while (twoSpecs(root).exists(sp =>
          !CdcStream.replicaCurrentVersion(sp.dir).contains(2L)) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      // a crashed writer's staging dir, an hour stale
      val debris = new java.io.File(primary, ".staging-crashed")
      new java.io.File(debris, "data").mkdirs()
      val old = System.currentTimeMillis() - 2 * 3600L * 1000
      Seq(new java.io.File(debris, "data"), debris).foreach(_.setLastModified(old))
      throw new IllegalStateException("injected stage failure")
    }
    try {
      val e = intercept[IllegalStateException](
        applyTwo(root, wide(b2), recordChanges = true))
      assert(e.getMessage == "injected stage failure")
    } finally armed.disarm()
    // index-first window: both indexes ahead, the primary not published,
    // and the failed commit's own staging already gone
    twoSpecs(root).foreach(sp =>
      assert(CdcStream.replicaCurrentVersion(sp.dir).contains(2L)))
    assert(CdcStream.replicaCurrentVersion(s"$root/p").contains(1L))
    assert(stagingDirs(s"$root/p") == Seq(".staging-crashed"))
    // the replay converges every store to the fold
    applyTwo(root, wide(b2), recordChanges = true)
    val expect = fold(Seq(b1, b2))
    assert(CdcStream.readReplica(spark, s"$root/p").get
      .select($"id", $"grp", $"score").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap == expect)
    assert(entries(s"$root/i1", "grp") ==
      expect.toSeq.map { case (id, (g, _)) => (g, id) }.sorted)
    assert(entries(s"$root/i2", "score") ==
      expect.toSeq.map { case (id, (_, sc)) => (sc, id) }.sorted)
    assert(CdcStream.readReplicaChanges(spark, s"$root/p", 1L).get
      .select($"id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(stagingDirs(s"$root/p").isEmpty,
      "the replay's commit must sweep the stale staging debris")
  }

  test("a failed index commit cancels the sibling's running Spark job and " +
      "leaves no published version") {
    import SecondaryIndexSpec.Gate
    val root = freshDir()
    Gate.reset()
    // index A fails only once index B's job is running; B would sleep
    // far past the test's patience unless its job is cancelled
    val failing = udf { (g: Long) =>
      Gate.bRunning.await(60, java.util.concurrent.TimeUnit.SECONDS)
      if (g >= 0) throw new IllegalStateException("index A failed")
      g
    }
    val slow = udf { (v: Long) =>
      Gate.bStages.add(org.apache.spark.TaskContext.get().stageId())
      Gate.bRunning.countDown()
      Thread.sleep(30000)
      v
    }
    val specs = Seq(
      SecondaryIndex.IndexSpec(s"$root/a", failing(col("grp")), "a"),
      SecondaryIndex.IndexSpec(s"$root/b", slow(col("score")), "b"))
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stagesOf = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        stagesOf.put(e.jobId, e.stageIds); ()
      }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        ends.put(e.jobId, e.jobResult.toString); ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    val t0 = System.nanoTime()
    try {
      val e = intercept[Exception] {
        SecondaryIndex.applyBatchWithIndexes(spark, s"$root/p", specs,
          wide(Seq((1L, 3L, 30L, 1L, "update"), (2L, 4L, 40L, 1L, "update"))),
          Seq("id"), Seq("seq"), recordChanges = true)
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(c => String.valueOf(c.getMessage)
        .contains("index A failed")), e.toString)
      org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(l)
    assert((System.nanoTime() - t0) / 1e9 < 30,
      "the sibling's sleeping task ran to the end: not cancelled")
    import scala.jdk.CollectionConverters._
    val bJobs = stagesOf.asScala.collect {
      case (job, stages) if stages.exists(Gate.bStages.contains) => job
    }
    assert(bJobs.nonEmpty, "index B's job never ran")
    bJobs.foreach { job =>
      assert(ends.containsKey(job) && ends.get(job) != "JobSucceeded",
        s"index B's job $job ended ${ends.get(job)}, not cancelled")
    }
    Seq(s"$root/p", s"$root/a", s"$root/b").foreach { d =>
      assert(CdcStream.replicaCurrentVersion(d).isEmpty, d)
      assert(stagingDirs(d).isEmpty, d)
    }
  }
}

object SecondaryIndexSpec {
  /** Cross-thread signals for the cancellation spec's UDFs (tasks run
    * in this JVM's executor threads).
    */
  object Gate {
    @volatile var bRunning = new java.util.concurrent.CountDownLatch(1)
    val bStages: java.util.Set[Int] =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    def reset(): Unit = {
      bRunning = new java.util.concurrent.CountDownLatch(1)
      bStages.clear()
    }
  }
}
