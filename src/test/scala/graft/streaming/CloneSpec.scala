package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** SHALLOW CLONE ([[CdcStream.cloneReplica]]): the zero-copy branch
  * of the replica store. Pins the claims the oracle gate cannot see —
  * the FILE layout (clone = one manifest, no data; copy-on-write
  * rewrites only touched buckets; compaction materializes), the
  * delta-sequence monotonicity a clone's inherited deferred deltas
  * depend on, chained clones, GC isolation in both directions, the
  * feed contract at the clone version, and the erasure caveat
  * (a clone erasure never reaches the source — clones are separate
  * compliance surfaces).
  */
class CloneSpec extends SparkSuite {

  import graft.SparkSuite.spark.implicits._

  private def freshDir(prefix: String = "clone-spec"): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def batch(rows: Seq[(Long, String, String)]) =
    rows.toDF("id", "v", "op")

  private def content(replicaDir: String): Seq[(Long, String)] =
    CdcStream.readReplica(spark, replicaDir).get
      .select($"id", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  private def parquetFiles(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted
  }

  private def currentName(replicaDir: String): String =
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(replicaDir, "CURRENT")).trim

  private def manifestJson(replicaDir: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(
      replicaDir, currentName(replicaDir), "manifest.json"))

  /** A two-version source: v1 = ids 1..4, v2 updates id 2. */
  private def buildSource(): String = {
    val src = freshDir("clone-src")
    CdcStream.applyBatchToReplica(src,
      batch(Seq((1L, "a1", "update"), (2L, "b1", "update"),
        (3L, "c1", "update"), (4L, "d1", "update"))),
      Seq("id"), Seq(col("v")), recordChanges = true)
    CdcStream.applyBatchToReplica(src,
      batch(Seq((2L, "b2", "update"))),
      Seq("id"), Seq(col("v")), recordChanges = true)
    src
  }

  test("clone is metadata-only and reads the source's content exactly") {
    val src = buildSource()
    val clone = freshDir()
    val v = CdcStream.cloneReplica(src, clone)
    assert(v == 3L, "clone numbering starts at source current + 1")
    assert(parquetFiles(clone).isEmpty,
      "a shallow clone must copy ZERO data files — one manifest only")
    assert(content(clone) == content(src))
    // provenance sidecar rides in the clone's initial version dir
    val prov = new java.io.File(s"$clone/v000000003", "_clone.json")
    assert(prov.exists(), "clone provenance sidecar missing")
    val hist = CdcStream.describeReplicaHistory(spark, clone).collect()
    assert(hist.length == 1 && hist(0).getString(1) == "clone" &&
      !hist(0).isNullAt(hist(0).fieldIndex("clone_provenance")),
      "history must surface the clone commit + provenance")
  }

  test("writes to the clone are copy-on-write: touched buckets local, " +
      "source untouched in content AND files") {
    val src = buildSource()
    val srcFilesBefore = parquetFiles(src)
    val srcCurBefore = currentName(src)
    val clone = freshDir()
    CdcStream.cloneReplica(src, clone)
    CdcStream.applyBatchToReplica(clone,
      batch(Seq((3L, "c-clone", "update"))), Seq("id"), Seq(col("v")))
    // only id 3's bucket may have materialized locally
    val localData = Option(
      new java.io.File(s"$clone/v000000004/data").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("__bucket="))
    assert(localData.length == 1,
      s"COW must rewrite exactly the touched bucket, got ${localData.length}")
    assert(content(clone).toMap == Map(1L -> "a1", 2L -> "b2",
      3L -> "c-clone", 4L -> "d1"))
    // the divergence leaked nowhere: source pointer, files, content
    assert(currentName(src) == srcCurBefore)
    assert(parquetFiles(src) == srcFilesBefore)
    assert(content(src).toMap == Map(1L -> "a1", 2L -> "b2",
      3L -> "c1", 4L -> "d1"))
    // untouched buckets still read THROUGH the source: corrupt the
    // clone's local view of nothing — instead prove the reference by
    // the manifest carrying absolute paths for the other buckets
    assert(manifestJson(clone).contains(s"$src/"),
      "untouched buckets must keep their absolute source references")
  }

  test("inherited deferred deltas fold correctly and a clone-local " +
      "delta outranks them (sequence monotonicity)") {
    val src = freshDir("clone-src")
    CdcStream.applyBatchToReplica(src,
      batch(Seq((1L, "a1", "update"), (2L, "b1", "update"))),
      Seq("id"), Seq(col("v")))
    // v2: PENDING deferred delta on the source (never folded)
    CdcStream.applyBatchToReplica(src,
      batch(Seq((1L, "a-srcdelta", "update"), (2L, "b-srcdelta", "update"))),
      Seq("id"), Seq(col("v")), deferMerge = true)
    val clone = freshDir()
    val v = CdcStream.cloneReplica(src, clone)
    assert(v == 3L)
    // the clone's merge-on-read fold sees the inherited delta
    assert(content(clone).toMap == Map(1L -> "a-srcdelta", 2L -> "b-srcdelta"))
    // a clone-LOCAL deferred delta (v4) must beat the inherited source
    // delta (v2) for the key it touches — the clone-starts-above-source
    // numbering is exactly what guarantees this
    CdcStream.applyBatchToReplica(clone,
      batch(Seq((1L, "a-clonedelta", "update"))),
      Seq("id"), Seq(col("v")), deferMerge = true)
    assert(content(clone).toMap ==
      Map(1L -> "a-clonedelta", 2L -> "b-srcdelta"),
      "clone-local delta must outrank the inherited source delta; " +
        "untouched keys keep folding the inherited one")
    assert(content(src).toMap == Map(1L -> "a-srcdelta", 2L -> "b-srcdelta"),
      "the clone's deferred write must not leak into the source")
  }

  test("compactReplica doubles as MATERIALIZE: absolute references " +
      "vanish and the clone survives the source's disappearance") {
    val src = buildSource()
    val clone = freshDir()
    CdcStream.cloneReplica(src, clone)
    CdcStream.applyBatchToReplica(clone,
      batch(Seq((4L, "d-clone", "update"))), Seq("id"), Seq(col("v")))
    val before = content(clone)
    CdcStream.compactReplica(spark, clone)
    assert(!manifestJson(clone).contains(s"$src/"),
      "materialize must localize every absolute source reference")
    // the strongest possible proof: the source is GONE and the clone
    // still serves identical content
    val parked = new java.io.File(src + ".parked")
    java.nio.file.Files.move(new java.io.File(src).toPath, parked.toPath)
    try assert(content(clone) == before,
      "a materialized clone must not depend on the source's files")
    finally java.nio.file.Files.move(parked.toPath,
      new java.io.File(src).toPath)
  }

  test("clones chain: a clone of a clone copies absolute references " +
      "as-is and diverges independently") {
    val src = buildSource()
    val c1 = freshDir(); val c2 = freshDir()
    CdcStream.cloneReplica(src, c1)
    CdcStream.applyBatchToReplica(c1,
      batch(Seq((1L, "a-c1", "update"))), Seq("id"), Seq(col("v")))
    val v2 = CdcStream.cloneReplica(c1, c2)
    assert(v2 == 5L, "chained clone numbers above ITS source's current (4)")
    assert(parquetFiles(c2).isEmpty)
    assert(content(c2) == content(c1))
    CdcStream.applyBatchToReplica(c2,
      batch(Seq((2L, "b-c2", "update"))), Seq("id"), Seq(col("v")))
    assert(content(c2).toMap == Map(1L -> "a-c1", 2L -> "b-c2",
      3L -> "c1", 4L -> "d1"))
    assert(content(c1).toMap == Map(1L -> "a-c1", 2L -> "b2",
      3L -> "c1", 4L -> "d1"))
    assert(content(src).toMap == Map(1L -> "a1", 2L -> "b2",
      3L -> "c1", 4L -> "d1"))
  }

  test("clone-side GC and erasure never delete source files; a clone " +
      "erasure is the CLONE's compliance surface only") {
    val src = buildSource()
    val srcFiles = parquetFiles(src)
    val clone = freshDir()
    CdcStream.cloneReplica(src, clone)
    // churn the clone enough for its GC to run several times
    (1 to 4).foreach { i =>
      CdcStream.applyBatchToReplica(clone,
        batch(Seq((3L, s"c$i", "update"))), Seq("id"), Seq(col("v")))
    }
    CdcStream.compactReplica(spark, clone)
    CdcStream.eraseKeys(spark, clone, Seq("id"), Seq(1L).toDF("id"))
    assert(parquetFiles(src) == srcFiles,
      "no clone operation may ever delete or rewrite a source file")
    assert(!content(clone).exists(_._1 == 1L), "erasure must hit the clone")
    assert(content(src).exists(_._1 == 1L),
      "the source keeps its copy — the documented separate-surface caveat")
  }

  test("the feed refuses to drain across the clone version and serves " +
      "the clone's own commits past it") {
    val src = buildSource()
    val clone = freshDir()
    val v = CdcStream.cloneReplica(src, clone)
    CdcStream.applyBatchToReplica(clone,
      batch(Seq((3L, "c-clone", "update"))), Seq("id"), Seq(col("v")),
      recordChanges = true)
    val e = intercept[IllegalStateException] {
      CdcStream.readReplicaChanges(spark, clone,
        fromVersionExclusive = v - 1)
    }
    assert(e.getMessage.contains("SHALLOW-CLONE"),
      s"draining across the clone version must refuse loudly: ${e.getMessage}")
    val past = CdcStream.readReplicaChanges(spark, clone,
      fromVersionExclusive = v).get.collect()
    assert(past.length == 1 && past(0).getAs[Long]("id") == 3L)
  }

  test("additive schema evolution on a clone null-fills the inherited " +
      "buckets; time travel reaches the clone's initial version") {
    val src = buildSource()
    val clone = freshDir()
    val v = CdcStream.cloneReplica(src, clone)
    // widen the CLONE with a column the source never had
    val widened = Seq((3L, "c-w", "extra", "update"))
      .toDF("id", "v", "w", "op")
    CdcStream.applyBatchToReplica(clone, widened, Seq("id"), Seq(col("v")))
    val now = CdcStream.readReplica(spark, clone).get
      .select($"id", $"v", $"w").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
      .toSeq.sortBy(_._1)
    assert(now == Seq((1L, "a1", None), (2L, "b2", None),
      (3L, "c-w", Some("extra")), (4L, "d1", None)),
      "inherited absolute-referenced buckets must null-fill the new column")
    assert(!graft.SparkSuite.spark.read.parquet(s"$src/v000000002/data")
        .columns.contains("w"),
      "the widening must not touch source files")
    // time travel: the clone's INITIAL version still serves the
    // pre-divergence content through its absolute references
    val atClone = CdcStream.readReplicaAt(spark, clone, v).get
      .select($"id", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(atClone == content(src))
  }

  private def idxBatch(rows: Seq[(Long, String, Long, String)]) =
    rows.toDF("id", "v", "seq", "op")

  test("cloneIndexedReplica: index lookups work on the clone, the " +
      "clone keeps maintaining its indexes, and the source pair is " +
      "untouched") {
    val root = freshDir("clone-idx")
    val spec = SecondaryIndex.IndexSpec(s"$root/i", col("id") % 2, "band")
    SecondaryIndex.applyBatchWithIndexes(spark, s"$root/p", Seq(spec),
      idxBatch(Seq((1L, "a1", 1L, "update"), (2L, "b1", 1L, "update"),
        (3L, "c1", 1L, "update"))), Seq("id"), Seq("seq"), numBuckets = 4)
    val v = SecondaryIndex.cloneIndexedReplica(s"$root/p", s"$root/cp",
      Seq(s"$root/i" -> s"$root/ci"))
    assert(SecondaryIndex.appliedPrimaryVersion(s"$root/ci").contains(v),
      "the cloned index's cursor must sit at the clone's initial version")
    assert(parquetFiles(s"$root/cp").isEmpty &&
      parquetFiles(s"$root/ci").isEmpty, "both clones must be zero-copy")
    def odd(primary: String, index: String): Set[Long] =
      SecondaryIndex.lookupByIndex(spark, primary, index, Seq("id"),
        col("id") % 2, "band", Seq(1L).toDF("band"))
        .select($"id").as[Long].collect().toSet
    assert(odd(s"$root/cp", s"$root/ci") == Set(1L, 3L))
    // the cursor gate must admit continued maintenance ON THE CLONE
    SecondaryIndex.applyBatchWithIndexes(spark, s"$root/cp",
      Seq(spec.copy(dir = s"$root/ci")),
      idxBatch(Seq((5L, "e2", 2L, "update"), (1L, "x", 2L, "delete"))),
      Seq("id"), Seq("seq"), numBuckets = 4)
    assert(odd(s"$root/cp", s"$root/ci") == Set(3L, 5L))
    // source primary AND source index saw none of it
    assert(odd(s"$root/p", s"$root/i") == Set(1L, 3L))
  }

  test("a dangling indexed clone refuses a local-key point read and a GSI " +
      "lookup with the recovery, not a FileNotFoundException") {
    val root = freshDir("clone-idx-d")
    val spec = SecondaryIndex.IndexSpec(s"$root/i", col("id") % 2, "band")
    def all(tag: String, seq: Long) =
      SecondaryIndex.applyBatchWithIndexes(spark, s"$root/p", Seq(spec),
        idxBatch((1L to 4L).map(k => (k, s"$tag$k", seq, "update"))),
        Seq("id"), Seq("seq"), numBuckets = 4)
    all("a", 1L)
    SecondaryIndex.cloneIndexedReplica(s"$root/p", s"$root/cp",
      Seq(s"$root/i" -> s"$root/ci"))
    all("x", 2L); all("y", 3L)
    assert(CdcStream.verifyReplicaIntegrity(s"$root/cp").nonEmpty)
    def refuses(read: => Any): Unit = {
      val e = intercept[IllegalStateException](read)
      assert(e.getMessage.contains("DANGLING") &&
        e.getMessage.contains("RE-CLONING"), e.getMessage)
    }
    refuses(CdcStream.readReplicaForKeys(spark, s"$root/cp", Seq("id"),
      Seq(1L).toDF("id")).get.collect())
    refuses(SecondaryIndex.lookupByIndex(spark, s"$root/cp", s"$root/ci",
      Seq("id"), col("id") % 2, "band", Seq(1L).toDF("band")).collect())
  }

  test("cloneIndexedReplica: idempotent retry, and refusals for " +
      "missing/lagging source-index cursors and occupied targets") {
    val root = freshDir("clone-idx-r")
    val spec = SecondaryIndex.IndexSpec(s"$root/i", col("id") % 2, "band")
    SecondaryIndex.applyBatchWithIndexes(spark, s"$root/p", Seq(spec),
      idxBatch(Seq((1L, "a1", 1L, "update"), (2L, "b1", 1L, "update"))),
      Seq("id"), Seq("seq"), numBuckets = 4)
    val v1 = SecondaryIndex.cloneIndexedReplica(s"$root/p", s"$root/cp",
      Seq(s"$root/i" -> s"$root/ci"))
    // crash recovery = re-run: provenance marks the durable halves,
    // the call skips them and re-stamps the cursor
    val v2 = SecondaryIndex.cloneIndexedReplica(s"$root/p", s"$root/cp",
      Seq(s"$root/i" -> s"$root/ci"))
    assert(v1 == v2)
    assert(SecondaryIndex.appliedPrimaryVersion(s"$root/ci").contains(v1))
    // the retry-skip matches the (source, version) PAIR: once the
    // source advances, a re-run into the same targets must refuse —
    // skipping would re-label the clone's OLD content as current
    SecondaryIndex.applyBatchWithIndexes(spark, s"$root/p",
      Seq(spec), idxBatch(Seq((4L, "d2", 2L, "update"))),
      Seq("id"), Seq("seq"), numBuckets = 4)
    val eAdv = intercept[IllegalStateException] {
      SecondaryIndex.cloneIndexedReplica(s"$root/p", s"$root/cp",
        Seq(s"$root/i" -> s"$root/ci"))
    }
    assert(eAdv.getMessage.contains("not this clone"))
    // occupied by something that is NOT this clone: refuse
    val other = freshDir("clone-idx-other")
    CdcStream.applyBatchToReplica(other,
      batch(Seq((9L, "z", "update"))), Seq("id"), Seq(col("v")))
    val e1 = intercept[IllegalStateException] {
      SecondaryIndex.cloneIndexedReplica(s"$root/p", other,
        Seq(s"$root/i" -> s"$root/ci2"))
    }
    assert(e1.getMessage.contains("not this clone"))
    // a plain store posing as an index has no cursor: unverifiable
    val e2 = intercept[IllegalStateException] {
      SecondaryIndex.cloneIndexedReplica(s"$root/p", freshDir(),
        Seq(other -> freshDir()))
    }
    assert(e2.getMessage.contains("no applied-version cursor"))
    // a content commit the index never saw: the cursor lags, refuse
    CdcStream.applyBatchToReplica(s"$root/p",
      idxBatch(Seq((7L, "g3", 3L, "update"))), Seq("id"),
      Seq(col("seq")), numBuckets = 4)
    val e3 = intercept[IllegalStateException] {
      SecondaryIndex.cloneIndexedReplica(s"$root/p", freshDir(),
        Seq(s"$root/i" -> freshDir()))
    }
    assert(e3.getMessage.contains("reflects primary version"))
  }

  test("cloneReplica atVersion: time-travel branch of a committed " +
      "predecessor, with restore-grade validation") {
    val src = buildSource()
    val clone = freshDir()
    val v = CdcStream.cloneReplica(src, clone, atVersion = Some(1L))
    assert(v == 3L, "numbering keys to the source's CURRENT, not the " +
      "cloned version")
    assert(parquetFiles(clone).isEmpty)
    assert(content(clone).toMap == Map(1L -> "a1", 2L -> "b1",
      3L -> "c1", 4L -> "d1"), "the branch must carry v1's content")
    assert(CdcStream.cloneProvenance(clone, v).exists(_._2 == 1L),
      "provenance records the CLONED version")
    val ahead = intercept[IllegalArgumentException] {
      CdcStream.cloneReplica(src, freshDir(), atVersion = Some(99L))
    }
    assert(ahead.getMessage.contains("ahead of the current version"))
    val gone = intercept[IllegalStateException] {
      CdcStream.cloneReplica(src, freshDir(), atVersion = Some(0L))
    }
    assert(gone.getMessage.contains("no manifest"))
  }

  test("cloneConsistentTables branches independently-lagging tables " +
      "at one watermark point") {
    val root = freshDir("clone-cons")
    def wmCommit(dir: String, rows: Seq[(Long, String, String)],
        wm: Long): Unit =
      CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
        Seq(col("v")), watermark = Some(wm))
    // t1 runs ahead (wm 10, 20, 30); t2 lags (wm 10, 20)
    wmCommit(s"$root/t1", Seq((1L, "t1-a", "update")), 10L)
    wmCommit(s"$root/t1", Seq((1L, "t1-b", "update")), 20L)
    wmCommit(s"$root/t1", Seq((1L, "t1-c", "update")), 30L)
    wmCommit(s"$root/t2", Seq((2L, "t2-a", "update")), 10L)
    wmCommit(s"$root/t2", Seq((2L, "t2-b", "update")), 20L)
    val point = CdcStream.cloneConsistentTables(Seq(
      s"$root/t1" -> s"$root/c1", s"$root/t2" -> s"$root/c2"))
    assert(point == 20L, "the point is the laggard's newest watermark")
    // t1's clone must serve its wm<=20 version, NOT current
    assert(content(s"$root/c1").toMap == Map(1L -> "t1-b"))
    assert(content(s"$root/c2").toMap == Map(2L -> "t2-b"))
    assert(parquetFiles(s"$root/c1").isEmpty &&
      parquetFiles(s"$root/c2").isEmpty)
    // a table with no watermarked version aborts the composition with
    // NOTHING published
    CdcStream.applyBatchToReplica(s"$root/t3",
      batch(Seq((3L, "x", "update"))), Seq("id"), Seq(col("v")))
    val e = intercept[IllegalStateException] {
      CdcStream.cloneConsistentTables(Seq(
        s"$root/t1" -> s"$root/c1b", s"$root/t3" -> s"$root/c3"))
    }
    assert(e.getMessage.contains("no watermarked version"))
    assert(!new java.io.File(s"$root/c1b", "CURRENT").exists(),
      "the refusal must precede every commit")
  }

  // ---- r13: source churn, integrity detection, retention pin, refresh

  /** One ordinary full-rewrite merge (every id) — TWO of these GC the
    * pre-churn version dirs (one grace), the ANY-source-commit hazard
    * the clone contract documents.
    */
  private def churn(src: String, tag: String): Unit =
    CdcStream.applyBatchToReplica(src,
      batch(Seq((1L, s"a-$tag", "update"), (2L, s"b-$tag", "update"),
        (3L, s"c-$tag", "update"), (4L, s"d-$tag", "update"))),
      Seq("id"), Seq(col("v")), recordChanges = true)

  test("ANY two source commits can break a clone (not just compaction): " +
      "the integrity detector names the dangling refs and the read " +
      "refuses with the recovery spelled out") {
    val src = buildSource()
    val clone = freshDir()
    CdcStream.cloneReplica(src, clone)
    churn(src, "x"); churn(src, "y")
    val missing = CdcStream.verifyReplicaIntegrity(clone)
    assert(missing.nonEmpty,
      "the detector must flag the source files the churn GC'd")
    assert(missing.forall(_._1.startsWith("bucket=")),
      s"missing refs carry their bucket labels: $missing")
    val e = intercept[IllegalStateException] {
      CdcStream.readReplica(spark, clone).get.collect()
    }
    assert(e.getMessage.contains("DANGLING") &&
      e.getMessage.contains("RE-CLONING"),
      s"the read must name the recovery, got: ${e.getMessage}")
    // the key-pruned path (what GSI lookups ride) refuses the same way
    val eK = intercept[IllegalStateException] {
      CdcStream.readReplicaForKeys(spark, clone, Seq("id"),
        Seq(1L).toDF("id")).get.collect()
    }
    assert(eK.getMessage.contains("DANGLING"))
    assert(CdcStream.verifyReplicaIntegrity(src).isEmpty,
      "the source itself stays intact")
  }

  test("pinReplicaRetention holds the source GC floor through churn; " +
      "unpin releases it") {
    val src = buildSource()
    val clone = freshDir()
    CdcStream.cloneReplica(src, clone)
    CdcStream.pinReplicaRetention(src, 1L)
    churn(src, "x"); churn(src, "y")
    assert(CdcStream.verifyReplicaIntegrity(clone).isEmpty,
      "pinned source version dirs must survive the churn")
    assert(content(clone).toMap == Map(1L -> "a1", 2L -> "b2",
      3L -> "c1", 4L -> "d1"), "the clone still reads the fork state")
    CdcStream.unpinReplicaRetention(src)
    churn(src, "z")
    assert(CdcStream.verifyReplicaIntegrity(clone).nonEmpty,
      "after unpin the next commit's GC sweeps the fork dirs")
  }

  test("refreshClone catches an undiverged clone up to the source in " +
      "one kind-stamped merge; a second refresh no-ops; the crash " +
      "retry is idempotent") {
    val src = buildSource() // v1, v2, feed-recording
    val clone = freshDir()
    CdcStream.cloneReplica(src, clone) // fork at source v2
    // the fork manifest references v1 dirs for carried-over buckets —
    // the floor helper resolves the pin below the fork version itself
    CdcStream.pinReplicaRetention(src,
      CdcStream.retentionFloorFor(src, 2L))
    churn(src, "x") // source v3
    CdcStream.applyBatchToReplica(src, batch(Seq((4L, "d-del", "delete"))),
      Seq("id"), Seq(col("v")), recordChanges = true) // source v4
    val applied = CdcStream.refreshClone(spark, clone, Seq("id"),
      Seq(col("v")))
    assert(applied == 4L, "the cursor lands at the source's current version")
    assert(content(clone) == content(src),
      "after refresh the clone equals the source (update + delete applied)")
    val kinds = CdcStream.describeReplicaHistory(spark, clone).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kinds(4L) == "refresh",
      s"the catch-up commit must be kind-stamped, got $kinds")
    // nothing new to drain: refresh no-ops (no version churn)
    val vBefore = CdcStream.replicaCurrentVersion(clone)
    assert(CdcStream.refreshClone(spark, clone, Seq("id"),
      Seq(col("v"))) == 4L)
    assert(CdcStream.replicaCurrentVersion(clone) == vBefore)
    // a crash between the catch-up commit and the cursor write leaves
    // a stale cursor — the retry re-replays an applied range, which
    // must be idempotent (same last-writer outcome)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(clone, "_refresh.json"))
    assert(CdcStream.refreshClone(spark, clone, Seq("id"),
      Seq(col("v"))) == 4L)
    assert(content(clone) == content(src))
  }

  test("refreshClone refuses a diverged clone (and a non-clone) before " +
      "any commit") {
    val src = buildSource()
    val clone = freshDir()
    CdcStream.cloneReplica(src, clone)
    CdcStream.applyBatchToReplica(clone, batch(Seq((9L, "z", "update"))),
      Seq("id"), Seq(col("v")))
    churn(src, "x")
    val before = CdcStream.replicaCurrentVersion(clone)
    val e = intercept[IllegalStateException] {
      CdcStream.refreshClone(spark, clone, Seq("id"), Seq(col("v")))
    }
    assert(e.getMessage.contains("DIVERGED"))
    assert(CdcStream.replicaCurrentVersion(clone) == before,
      "the refusal must precede every commit")
    val e2 = intercept[IllegalStateException] {
      CdcStream.refreshClone(spark, src, Seq("id"), Seq(col("v")))
    }
    assert(e2.getMessage.contains("no clone provenance"))
  }

  test("a MATERIALIZED clone (compacted) still refreshes — content-" +
      "identical maintenance is not divergence") {
    val src = buildSource()
    val clone = freshDir()
    CdcStream.cloneReplica(src, clone)
    CdcStream.compactReplica(spark, clone) // localize every reference
    churn(src, "x")
    CdcStream.refreshClone(spark, clone, Seq("id"), Seq(col("v")))
    assert(content(clone) == content(src))
    assert(CdcStream.verifyReplicaIntegrity(clone).isEmpty,
      "a materialized clone holds no inherited refs to dangle")
  }

  test("clone provenance survives the GC of the data-less initial dir " +
      "(retired into _feed) — ancestry stays auditable") {
    val src = buildSource()
    val clone = freshDir()
    val v = CdcStream.cloneReplica(src, clone)
    // two clone-local commits age the initial dir out (one grace)
    CdcStream.applyBatchToReplica(clone, batch(Seq((1L, "l1", "update"))),
      Seq("id"), Seq(col("v")))
    CdcStream.applyBatchToReplica(clone, batch(Seq((2L, "l2", "update"))),
      Seq("id"), Seq(col("v")))
    assert(!new java.io.File(f"$clone/v$v%09d").exists(),
      "the data-less clone-initial dir ages out after one grace")
    assert(new java.io.File(f"$clone/_feed/v$v%09d/_clone.json").exists(),
      "the provenance sidecar retires with the feed surface")
    assert(CdcStream.cloneProvenance(clone, v)
      .contains((new java.io.File(src).getAbsolutePath, 2L)))
    val hist = CdcStream.describeReplicaHistory(spark, clone).collect()
      .find(_.getLong(0) == v).get
    assert(hist.getString(1) == "clone" &&
      !hist.isNullAt(hist.fieldIndex("clone_provenance")),
      "DESCRIBE HISTORY keeps pricing the retired clone commit")
  }

  test("clone provenance round-trips a source path containing a quote " +
      "and a backslash (Jackson sidecar, not string interpolation)") {
    val weird = java.nio.file.Files
      .createTempDirectory("""clone-"we\ird""").toString
    val src = s"$weird/src"
    CdcStream.applyBatchToReplica(src, batch(Seq((1L, "a", "update"))),
      Seq("id"), Seq(col("v")))
    val clone = freshDir()
    val v = CdcStream.cloneReplica(src, clone)
    assert(CdcStream.cloneProvenance(clone, v)
      .contains((new java.io.File(src).getAbsolutePath, 1L)),
      "the (source, version) pair must parse back exactly")
    // the idempotent-retry primitive keys on that pair: the exact
    // re-clone SKIPS instead of refusing
    CdcStream.cloneOrSkip(new java.io.File(src).getAbsolutePath, clone, 1L)
  }

  test("refusals: non-fresh target, never-committed source") {
    val src = buildSource()
    val used = buildSource()
    val e1 = intercept[IllegalStateException] {
      CdcStream.cloneReplica(src, used)
    }
    assert(e1.getMessage.contains("fresh"))
    val empty = freshDir("clone-empty-src")
    val e2 = intercept[IllegalStateException] {
      CdcStream.cloneReplica(empty, freshDir())
    }
    assert(e2.getMessage.contains("no committed version"))
  }
}
