package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Compaction and time-travel behavior of the bucketed versioned
  * replica store: content preservation, file-count reduction, no-op
  * detection, version listing, and previous-version readability.
  */
class ReplicaMaintenanceSpec extends SparkSuite {

  import graft.SparkSuite.spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("replica-maint").toString

  private def batch(rows: Seq[(Long, String, String)]) =
    rows.toDF("id", "v", "op")

  private def bucketFileCounts(replicaDir: String): Map[String, Int] = {
    val cur = java.nio.file.Files.readString(
      java.nio.file.Paths.get(replicaDir, "CURRENT")).trim
    Option(new java.io.File(s"$replicaDir/$cur/data").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
      .map(d => d.getName -> d.listFiles().count(f =>
        f.isFile && f.getName.endsWith(".parquet"))).toMap
  }

  private def content(replicaDir: String): Seq[(Long, String)] =
    CdcStream.readReplica(spark, replicaDir).get
      .select($"id", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  private def manifestVersionDirs(replicaDir: String): Set[String] = {
    val cur = java.nio.file.Files.readString(
      java.nio.file.Paths.get(replicaDir, "CURRENT")).trim
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(replicaDir, cur, "manifest.json"))
    "v[0-9]{9}".r.findAllIn(json).toSet
  }

  test("rebucketReplica validates the columns routing actually uses") {
    // bucketCols-routed store: routing hashes bucketCols and IGNORES
    // idCols, so any caller value reshards correctly (a keyCols
    // equality check here would reject valid calls)
    val dir = freshDir()
    val rows = Seq((1L, "east", "a"), (2L, "west", "b"), (3L, "east", "c"))
      .map { case (i, c, v) => (i, c, v, "update") }
      .toDF("id", "city", "v", "op")
    CdcStream.applyBatchToReplica(dir, rows, Seq("city", "id"),
      Seq(col("v")), bucketCols = Some(Seq("city")))
    CdcStream.rebucketReplica(spark, dir, Seq("city"), 7)
    val hit = CdcStream.readReplicaForKeys(spark, dir, Seq("city", "id"),
      Seq(("east", 1L)).toDF("city", "id")).get
      .select($"id", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hit == Seq((1L, "a")),
      "key-pruned lookup must still hit after a bucketCols-routed reshard")
    // keyCols-routed store: idCols IS the routing input — mismatch refuses
    val dir2 = freshDir()
    CdcStream.applyBatchToReplica(dir2, batch(Seq((1L, "a", "update"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    intercept[IllegalArgumentException] {
      CdcStream.rebucketReplica(spark, dir2, Seq("v"), 7)
    }
    // a manifest without keyCols (an older store format) records no
    // routing columns to check the caller's idCols against: the
    // reshard refuses and names the upgrade, which records them
    val cur = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir2, "CURRENT")).trim
    val mPath = java.nio.file.Paths.get(dir2, cur, "manifest.json")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(java.nio.file.Files.readString(mPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("keyCols"); node.remove("bucketCols")
    java.nio.file.Files.writeString(mPath, om.writeValueAsString(node))
    val e = intercept[IllegalStateException] {
      CdcStream.rebucketReplica(spark, dir2, Seq("id"), 7)
    }
    assert(e.getMessage.contains("upgradeReplica"), e.getMessage)
    CdcStream.upgradeReplica(spark, dir2, Seq("id"))
    intercept[IllegalArgumentException] {
      CdcStream.rebucketReplica(spark, dir2, Seq("v"), 7)
    }
    CdcStream.rebucketReplica(spark, dir2, Seq("id"), 7)
    assert(CdcStream.readReplicaForKeys(spark, dir2, Seq("id"),
      Seq(1L).toDF("id")).get.select($"v").as[String].collect().toSeq ==
      Seq("a"))
  }

  test("enrichBatch: lookup join serves live state, NULLs absent/deleted keys") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((1L, "a", "update"), (2L, "b", "update"),
        (3L, "c", "update"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    // key 3 is deleted in a later batch; key 9 never existed
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((2L, "b2", "update"), (3L, "c", "delete"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    val stream = Seq((100L, 1L), (101L, 2L), (102L, 3L), (103L, 9L),
      (104L, 2L)).toDF("event_id", "id")
    val out = CdcStream.enrichBatch(spark, dir, Seq("id"), stream, Seq("v"))
      .select($"event_id", $"id", $"v").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
      .toSeq.sorted
    assert(out == Seq(
      (100L, 1L, Some("a")), (101L, 2L, Some("b2")), (102L, 3L, None),
      (103L, 9L, None), (104L, 2L, Some("b2"))))
    // an empty replica enriches to all-NULL dims, same arity
    val none = CdcStream.enrichBatch(spark, freshDir(), Seq("id"),
      stream, Seq("v"))
    assert(none.columns.toSeq == Seq("event_id", "id", "v"))
    assert(none.collect().forall(_.isNullAt(2)))
  }

  test("compaction consolidates carried-over buckets into one version, content-identical") {
    val dir = freshDir()
    // each batch touches a DIFFERENT key subset, so later manifests
    // carry over earlier versions' untouched buckets — version sprawl
    (0 until 3).foreach { b =>
      CdcStream.applyBatchToReplica(dir,
        batch((0L until 16L).map(i => (b * 100L + i, s"b$b-$i", "update"))),
        idCols = Seq("id"), orderCols = Seq(col("v")))
    }
    val before = content(dir)
    val dirsBefore = manifestVersionDirs(dir)
    assert(dirsBefore.size > 2,
      s"fixture failed to spread buckets across version dirs: $dirsBefore")
    val curBefore = CdcStream.replicaVersions(dir).max
    CdcStream.compactReplica(spark, dir)
    assert(content(dir) == before)
    // stale buckets moved to the new version; buckets already in the
    // compact-time current version carry over by reference (rewriting
    // them would be wasted IO) — so the manifest references at most
    // {new, previous-current}, and every older dir is unpinned
    val dirsAfter = manifestVersionDirs(dir)
    assert(dirsAfter.subsetOf(Set(f"v${curBefore + 1}%09d", f"v$curBefore%09d")),
      dirsAfter.toString)
    val after = bucketFileCounts(dir)
    assert(after.nonEmpty && after.values.forall(_ == 1), after.toString)
  }

  test("rebucket migrates the bucket count online: content-identical, " +
      "pruned lookups and later merges use the new layout") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir,
      batch((0L until 64L).map(i => (i, s"a$i", "update"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((3L, "a3x", "update"), (64L, "new", "update"),
        (5L, "a5", "delete"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    val before = content(dir)
    CdcStream.rebucketReplica(spark, dir, Seq("id"), 5)
    assert(content(dir) == before, "reshard must be content-identical")
    // the new layout: every bucket id < 5, all referenced from the new
    // version dir, one file each (one hash-routed task per bucket)
    val files = bucketFileCounts(dir)
    assert(files.keys.forall(_.stripPrefix("__bucket=").toInt < 5), files)
    assert(files.values.forall(_ == 1), files.toString)
    assert(manifestVersionDirs(dir).size == 1,
      "reshard rewrites every bucket into the fresh version")
    // pruned lookup resolves through the NEW manifest count
    val hits = CdcStream.readReplicaForKeys(spark, dir, Seq("id"),
      Seq(3L, 5L, 64L, 999L).toDF("id")).get
      .select($"id", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(hits == Seq((3L, "a3x"), (64L, "new")))
    // a later merge routes by the manifest's new count, not the default
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((7L, "a7x", "update"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    assert(content(dir).contains((7L, "a7x")))
    assert(bucketFileCounts(dir).keys
      .forall(_.stripPrefix("__bucket=").toInt < 5))
    // same-count reshard is a no-op commit-wise
    val v = CdcStream.replicaVersions(dir).max
    CdcStream.rebucketReplica(spark, dir, Seq("id"), 5)
    assert(CdcStream.replicaVersions(dir).max == v,
      "no-op reshard must not commit a new version")
  }

  test("compaction is a no-op on an already-compact replica") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((1L, "a", "update"), (2L, "b", "update"))).coalesce(1),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    CdcStream.compactReplica(spark, dir) // first compact may rewrite
    val v = CdcStream.replicaVersions(dir).max
    CdcStream.compactReplica(spark, dir)
    assert(CdcStream.replicaVersions(dir).max == v,
      "no-op compaction must not commit a new version")
  }

  test("direct net commit (applyNetToReplica) is bit-identical to the " +
      "batch entry point for an already-per-key net, eager and deferred") {
    // the GSI maintenance path commits its primary through
    // applyNetToReplica directly (r15: skips the redundant per-key
    // window + re-materialization of a net that is already
    // last-op-per-key and on disk) — pin the equivalence the shortcut
    // relies on, for both commit modes
    val viaBatch = freshDir()
    val viaNet = freshDir()
    val b1 = Seq((1L, "a", "update"), (2L, "b", "update"),
      (3L, "c", "delete"))
    val b2 = Seq((1L, "a2", "update"), (4L, "d", "update"))
    Seq((b1, false), (b2, true)).foreach { case (rows, defer) =>
      val df = batch(rows)
      CdcStream.applyBatchToReplica(viaBatch, df, Seq("id"),
        Seq(col("v")), deferMerge = defer)
      // an already-per-key net (one op per id), committed directly
      val (net, drop) = graft.llm.IndexArtifacts.materializeOwned(
        graft.SparkSuite.spark, CdcStream.lastOpPerKey(df, Seq("id"),
          Seq(col("v"))), "net-equiv")
      try CdcStream.applyNetToReplica(viaNet, net, df.columns, Seq("id"),
        "op", CdcStream.DefaultReplicaBuckets, defer = defer)
      finally drop()
    }
    assert(content(viaNet) == content(viaBatch),
      "direct net commits must produce the same store content")
    assert(CdcStream.replicaVersions(viaNet) ==
      CdcStream.replicaVersions(viaBatch))
  }

  test("batch evaluation precedes version selection: a mid-evaluation " +
      "competing commit is simply built upon, not conflicted with") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((1L, "base", "update"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    // a batch whose EVALUATION commits a competing version: the side
    // effect fires from an executor task while the outer batch's net is
    // materialized — which happens BEFORE the outer writer reads the
    // current version, so the outer writer bases its merge on the
    // sneak's commit and both batches land (the conflict window is only
    // currentVersion-read → publish; genuine races there are covered by
    // the concurrent-writers test below)
    val competing = udf { (id: Long) =>
      CdcStream.applyBatchToReplica(dir,
        batch(Seq((9L, "sneak", "update"))).coalesce(1),
        idCols = Seq("id"), orderCols = Seq(col("v")))
      id
    }
    val trojan = batch(Seq((2L, "outer", "update")))
      .withColumn("id", competing(col("id")))
    CdcStream.applyBatchToReplica(dir, trojan,
      idCols = Seq("id"), orderCols = Seq(col("v")))
    // both commits intact, no staging leftovers
    assert(content(dir) == Seq((1L, "base"), (2L, "outer"), (9L, "sneak")))
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(".staging-")),
      "staging dirs must be cleaned up")
  }

  test("orphan recovery: a crashed writer's unpublished version is replaced") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((1L, "a", "update"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    // simulate a crash between rename and pointer flip: a complete v2
    // exists but CURRENT still points at v1
    val v1 = new java.io.File(dir, "v000000001")
    val orphan = new java.io.File(dir, "v000000002")
    def copy(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs()
        src.listFiles().foreach(f => copy(f, new java.io.File(dst, f.getName)))
      } else java.nio.file.Files.copy(src.toPath, dst.toPath)
    }
    copy(v1, orphan)
    // the next writer claims v2 for itself: deletes the orphan, commits
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((2L, "b", "update"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    assert(content(dir) == Seq((1L, "a"), (2L, "b")))
    assert(CdcStream.replicaVersions(dir).max == 2L)
  }

  test("additive schema evolution: a new column widens the replica, old rows read NULL") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((1L, "a", "update"), (2L, "b", "update"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    // second batch carries an extra column and touches only id=2
    CdcStream.applyBatchToReplica(dir,
      Seq((2L, "b2", "fresh", "update")).toDF("id", "v", "extra", "op"),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    val out = CdcStream.readReplica(spark, dir).get
      .select($"id", $"v", $"extra").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
      .toSeq.sortBy(_._1)
    assert(out == Seq((1L, "a", None), (2L, "b2", Some("fresh"))))
    // the key-pruned read path sees the merged schema too
    val look = CdcStream.readReplicaForKeys(spark, dir, Seq("id"),
      Seq(1L).toDF("id")).get.select($"id", $"extra").collect()
    assert(look.map(r => (r.getLong(0), Option(r.getString(1)))).toSeq ==
      Seq((1L, None)))
  }

  test("concurrent writers: losers retry, no committed batch is lost, CURRENT never dangles") {
    val dir = freshDir()
    val writers = 4
    import scala.concurrent._
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futures = (0 until writers).map { w =>
      Future {
        var attempts = 0
        var done = false
        while (!done) {
          attempts += 1
          assert(attempts <= 40, s"writer $w starved")
          try {
            CdcStream.applyBatchToReplica(dir,
              batch(Seq((w.toLong, s"w$w", "update"))).coalesce(1),
              idCols = Seq("id"), orderCols = Seq(col("v")))
            done = true
          } catch {
            case _: CdcStream.ConcurrentReplicaWriteException => () // retry
          }
        }
      }
    }
    Await.result(Future.sequence(futures), 180.seconds)
    // every writer's committed batch survives every other commit
    assert(content(dir) == (0 until writers).map(w => (w.toLong, s"w$w")))
    // the pointer resolves, and no loser left staging or lock debris
    assert(CdcStream.readReplica(spark, dir).isDefined)
    val leftover = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith(".staging-") ||
        f.getName.startsWith(".gc-") || f.getName == ".commit-lock")
    assert(leftover.isEmpty, leftover.map(_.getName).mkString(","))
  }

  test("concurrent DEFERRED writers: losers retry, every delta commit " +
      "survives, the fold sees all of them") {
    val dir = freshDir()
    val writers = 4
    import scala.concurrent._
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futures = (0 until writers).map { w =>
      Future {
        var attempts = 0
        var done = false
        while (!done) {
          attempts += 1
          assert(attempts <= 40, s"writer $w starved")
          try {
            CdcStream.applyBatchToReplica(dir,
              batch(Seq((w.toLong, s"w$w", "update"))).coalesce(1),
              idCols = Seq("id"), orderCols = Seq(col("v")),
              deferMerge = true)
            done = true
          } catch {
            case _: CdcStream.ConcurrentReplicaWriteException => () // retry
          }
        }
      }
    }
    Await.result(Future.sequence(futures), 180.seconds)
    assert(content(dir) == (0 until writers).map(w => (w.toLong, s"w$w")))
    // every commit was deferred: manifests chained the delta lists
    // without losing a predecessor's entries
    val leftover = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith(".staging-") ||
        f.getName == ".commit-lock")
    assert(leftover.isEmpty, leftover.map(_.getName).mkString(","))
    CdcStream.compactReplica(spark, dir)
    assert(content(dir) == (0 until writers).map(w => (w.toLong, s"w$w")))
  }

  test("interleaved merge + deferred merge + compact + maintain from " +
      "competing threads: no commit is lost, the manifest linearizes") {
    // the full mixed-operation race the optimistic-commit protocol must
    // survive: eager writers, deferred writers (delta-list chaining),
    // and a maintenance thread folding/compacting mid-flight. Every
    // writer stamps every commit with a UNIQUE marker key, so ANY lost
    // update — a compaction publishing over a racing merge, a fold
    // dropping a delta appended between its manifest read and its
    // commit — is visible in the final state, not just the last write.
    val dir = freshDir()
    val writers = 3
    val commitsPer = 4
    import scala.concurrent._
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    def commitWithRetry(rows: Seq[(Long, String, Long, String)],
        defer: Boolean): Unit = {
      var attempts = 0
      var done = false
      while (!done) {
        attempts += 1
        assert(attempts <= 60, "writer starved")
        try {
          CdcStream.applyBatchToReplica(dir,
            rows.toDF("id", "v", "seq", "op").coalesce(1),
            idCols = Seq("id"), orderCols = Seq(col("seq")),
            deferMerge = defer)
          done = true
        } catch {
          case _: CdcStream.ConcurrentReplicaWriteException => ()
        }
      }
    }
    val writerFs = (0 until writers).map { w =>
      Future {
        (0 until commitsPer).foreach { k =>
          commitWithRetry(Seq(
            // the writer's own key: last commit wins (k ascending)
            (w.toLong, s"w$w-k$k", k.toLong, "update"),
            // the commit's unique marker key: must survive forever
            (100L + w * commitsPer + k, s"m$w-$k", 0L, "update")),
            defer = w % 2 == 1)
        }
      }
    }
    // maintenance churn: folds delta chains and rewrites buckets while
    // the writers are mid-flight; losing a commit race is EXPECTED —
    // what must never happen is a successful commit that drops data
    val churnF = Future {
      (0 until 12).foreach { i =>
        try {
          if (i % 2 == 0) CdcStream.maintainReplica(spark, dir, maxDeltas = 2)
          else CdcStream.compactReplica(spark, dir)
        } catch {
          case _: CdcStream.ConcurrentReplicaWriteException => ()
          case _: java.io.FileNotFoundException => () // racing GC'd file
        }
        Thread.sleep(50)
      }
    }
    Await.result(Future.sequence(writerFs :+ churnF), 300.seconds)
    // one quiescent fold so pending deltas surface in the read
    CdcStream.compactReplica(spark, dir)
    val got = content(dir).toMap
    (0 until writers).foreach { w =>
      assert(got.get(w.toLong).contains(s"w$w-k${commitsPer - 1}"),
        s"writer $w's last value lost: ${got.get(w.toLong)}")
      (0 until commitsPer).foreach { k =>
        assert(got.get(100L + w * commitsPer + k).contains(s"m$w-$k"),
          s"writer $w commit $k's marker lost — a racing fold dropped a commit")
      }
    }
    // manifest linearizability: CURRENT resolves to a readable version
    // and no staging/lock debris survived the contention
    assert(CdcStream.readReplica(spark, dir).isDefined)
    val leftover = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith(".staging-") ||
        f.getName == ".commit-lock")
    assert(leftover.isEmpty, leftover.map(_.getName).mkString(","))
  }

  test("GSI apply racing maintenance on both stores: the index stays " +
      "consistent with the primary") {
    // the autoCompactDeltas pattern, concurrently: one sink thread
    // applies indexed batches in order while a churn thread folds both
    // the primary's and the index's delta chains mid-flight
    val primary = freshDir()
    val index = freshDir()
    import scala.concurrent._
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val n = 6
    val sinkF = Future {
      (0 until n).foreach { k =>
        var done = false
        var attempts = 0
        while (!done) {
          attempts += 1
          assert(attempts <= 60, "sink starved")
          try {
            SecondaryIndex.applyBatchWithIndexes(spark, primary,
              Seq(SecondaryIndex.IndexSpec(index, col("band"), "band",
                defer = true)),
              Seq((k.toLong % 3, s"v$k", k.toLong % 2, k.toLong, "update"))
                .toDF("id", "v", "band", "seq", "op").coalesce(1),
              Seq("id"), Seq("seq"), deferPrimaryMerge = true)
            done = true
          } catch {
            case _: CdcStream.ConcurrentReplicaWriteException => ()
          }
        }
      }
    }
    val churnF = Future {
      (0 until 10).foreach { _ =>
        Seq(primary, index).foreach { d =>
          try CdcStream.maintainReplica(spark, d, maxDeltas = 2)
          catch {
            case _: CdcStream.ConcurrentReplicaWriteException => ()
            case _: java.io.FileNotFoundException => ()
          }
        }
        Thread.sleep(40)
      }
    }
    Await.result(Future.sequence(Seq(sinkF, churnF)), 300.seconds)
    // primary: last value per key (k = 3,4,5 are the final writers)
    val got = CdcStream.readReplica(spark, primary).get
      .select($"id", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(0L -> "v3", 1L -> "v4", 2L -> "v5"), got.toString)
    // the index serves EXACTLY the latest-state keys per band — no
    // stale pointer survived the races with maintenance
    (0L to 1L).foreach { b =>
      val hits = SecondaryIndex.lookupByIndex(spark, primary, index,
          Seq("id"), col("band"), "band", Seq(b).toDF("band"))
        .select($"id").collect().map(_.getLong(0)).toSet
      val expect = Map(0L -> 3L, 1L -> 4L, 2L -> 5L)
        .filter(_._2 % 2 == b).keySet
      assert(hits == expect, s"band $b: $hits vs $expect")
    }
  }

  test("restoreConsistentTables rolls a fleet back to the laggard's " +
      "watermark; the at-point table no-ops; a fleet retry converges") {
    val root = freshDir()
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
    val point = CdcStream.restoreConsistentTables(spark,
      Seq(s"$root/t1", s"$root/t2"))
    assert(point == 20L, "the point is the laggard's newest watermark")
    assert(content(s"$root/t1").toMap == Map(1L -> "t1-b"),
      "the fast table rolls back one version")
    assert(content(s"$root/t2").toMap == Map(2L -> "t2-b"))
    assert(CdcStream.replicaCurrentVersion(s"$root/t1").contains(4L),
      "the rollback is a restore COMMIT (metadata-only), not a delete")
    assert(CdcStream.replicaCurrentVersion(s"$root/t2").contains(2L),
      "a table already at the point must no-op, not churn a version")
    // crash-retry convergence: re-running at the same point no-ops
    // everywhere (t1 now picks its own restore version)
    CdcStream.restoreConsistentTables(spark,
      Seq(s"$root/t1", s"$root/t2"), atWatermark = Some(20L))
    assert(CdcStream.replicaCurrentVersion(s"$root/t1").contains(4L))
    assert(CdcStream.replicaCurrentVersion(s"$root/t2").contains(2L))
  }

  test("restoreConsistentTables refuses BEFORE the first commit: " +
      "unservable point, unwatermarked table, frozen table") {
    val root = freshDir()
    def wmCommit(dir: String, rows: Seq[(Long, String, String)],
        wm: Long): Unit =
      CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
        Seq(col("v")), watermark = Some(wm))
    wmCommit(s"$root/t1", Seq((1L, "a", "update")), 10L)
    wmCommit(s"$root/t1", Seq((1L, "b", "update")), 20L)
    val e1 = intercept[IllegalStateException] {
      CdcStream.restoreConsistentTables(spark, Seq(s"$root/t1"),
        atWatermark = Some(5L))
    }
    assert(e1.getMessage.contains("cannot serve watermark"))
    // a table with no watermarked version poisons the default point
    CdcStream.applyBatchToReplica(s"$root/t3",
      batch(Seq((3L, "x", "update"))), Seq("id"), Seq(col("v")))
    val e2 = intercept[IllegalStateException] {
      CdcStream.restoreConsistentTables(spark,
        Seq(s"$root/t1", s"$root/t3"))
    }
    assert(e2.getMessage.contains("no watermarked version"))
    // the dry-run phase surfaces a LATER table's refusal (frozen)
    // before the FIRST table commits anything
    wmCommit(s"$root/t4", Seq((4L, "a", "update")), 10L)
    wmCommit(s"$root/t4", Seq((4L, "b", "update")), 20L)
    CdcStream.freezeReplica(s"$root/t4", "test fence")
    val v1Before = CdcStream.replicaCurrentVersion(s"$root/t1")
    val e3 = intercept[IllegalStateException] {
      CdcStream.restoreConsistentTables(spark,
        Seq(s"$root/t1", s"$root/t4"), atWatermark = Some(10L))
    }
    assert(e3.getMessage.contains("FROZEN"))
    assert(CdcStream.replicaCurrentVersion(s"$root/t1") == v1Before,
      "the frozen refusal must precede every commit (two-phase dry run)")
  }

  test("restore is a metadata-only commit: content rolls back without " +
      "reading a data file, history and routing restore too") {
    val dir = freshDir()
    def apply(rows: Seq[(Long, String, String)]): Unit =
      CdcStream.applyBatchToReplica(dir, batch(rows),
        idCols = Seq("id"), orderCols = Seq(col("v")))
    apply(Seq((1L, "a1", "update"), (2L, "b1", "update")))
    apply(Seq((1L, "a2", "update"), (3L, "c2", "update"),
      (2L, "x", "delete")))
    assert(content(dir) == Seq((1L, "a2"), (3L, "c2")))
    // corrupt every data file: the restore decision + commit must not
    // open one (the manifest swap IS the restore)
    val restoreBytes =
      scala.collection.mutable.Map.empty[java.nio.file.Path, Array[Byte]]
    def corrupt(f: java.io.File): Unit =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(corrupt)
      else if (f.getName.endsWith(".parquet")) {
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        java.nio.file.Files.write(f.toPath, "garbage".getBytes)
        restoreBytes += f.toPath -> bytes
        ()
      }
    corrupt(new java.io.File(dir))
    CdcStream.restoreReplica(spark, dir, toVersion = 1L)
    // un-corrupt so the content read below works
    restoreBytes.foreach { case (p, b) => java.nio.file.Files.write(p, b) }
    assert(content(dir) == Seq((1L, "a1"), (2L, "b1")),
      "CURRENT must serve v1's content after the restore")
    // the restore is itself a version: writing continues on top
    apply(Seq((4L, "d4", "update")))
    assert(content(dir) == Seq((1L, "a1"), (2L, "b1"), (4L, "d4")))
    // a restore target that was never committed refuses by name — and
    // a target AHEAD of CURRENT (a crashed writer's unpublished orphan
    // dir would land there) refuses before any dir collision can
    // dangle the published references
    val ahead = intercept[IllegalArgumentException] {
      CdcStream.restoreReplica(spark, dir, toVersion = 99L)
    }
    assert(ahead.getMessage.contains("ahead of the current version"))
    // and the fence blocks restores like any content write
    CdcStream.freezeReplica(dir, "fence")
    try intercept[IllegalStateException] {
      CdcStream.restoreReplica(spark, dir, toVersion = 1L)
    } finally CdcStream.unfreezeReplica(dir)
  }

  test("restore on a feed-recording store refuses without a feed entry, " +
      "and with one a follower replays the restore") {
    val primary = freshDir()
    val follower = freshDir()
    def commit(rows: Seq[(Long, String, String)]): Unit =
      CdcStream.applyBatchToReplica(primary, batch(rows),
        idCols = Seq("id"), orderCols = Seq(col("v")),
        recordChanges = true)
    commit(Seq((1L, "a1", "update"), (2L, "b1", "update")))
    commit(Seq((1L, "a2", "update"), (2L, "x", "delete"),
      (3L, "c2", "update")))
    var cursor = CdcStream.replayFeedInto(spark, primary, follower,
      Seq("id"), Seq(col("v")))
    assert(content(follower) == content(primary))
    // a silent restore would open a feed gap — refuse loudly
    val e = intercept[IllegalStateException] {
      CdcStream.restoreReplica(spark, primary, toVersion = 1L)
    }
    assert(e.getMessage.contains("change feed"))
    // with the feed entry, the restore's divergence-sized diff flows:
    // the follower re-upserts key 2, rolls key 1 back, deletes key 3
    CdcStream.restoreReplica(spark, primary, toVersion = 1L,
      recordChanges = true)
    assert(content(primary) == Seq((1L, "a1"), (2L, "b1")))
    cursor = CdcStream.replayFeedInto(spark, primary, follower,
      Seq("id"), Seq(col("v")), fromVersionExclusive = cursor)
    assert(content(follower) == content(primary),
      "the follower must replay the restore, not diverge")
  }

  test("the restore feed entry is computed delta-sized: only the " +
      "rolled-back versions' feed keys' buckets are read") {
    val primary = freshDir()
    val follower = freshDir()
    def commit(rows: Seq[(Long, String, String)]): Unit =
      CdcStream.applyBatchToReplica(primary, batch(rows),
        idCols = Seq("id"), orderCols = Seq(col("v")),
        recordChanges = true)
    // v1 spreads 40 keys across the buckets; v2 touches ONLY key 1
    commit((1L to 40L).map(i => (i, s"base$i", "update")))
    commit(Seq((1L, "a2", "update")))
    val cursor = CdcStream.replayFeedInto(spark, primary, follower,
      Seq("id"), Seq(col("v")))
    // corrupt every data file outside key 1's bucket: the restore's
    // diff must read only that bucket (v2's feed keys = {1}) — any
    // unpruned read crashes on the garbage. Changes files stay intact
    // (the feed IS the pruning source).
    import org.apache.spark.sql.functions.{hash, pmod, lit => flit}
    val okBucket = Seq(1L).toDF("id")
      .select(pmod(hash($"id"), flit(CdcStream.DefaultReplicaBuckets)))
      .head().getInt(0)
    val saved =
      scala.collection.mutable.Map.empty[java.nio.file.Path, Array[Byte]]
    def corrupt(f: java.io.File, inData: Boolean): Unit =
      if (f.isDirectory) {
        val enter = inData || f.getName == "data" || f.getName == "delta"
        if (!(f.getName == s"__bucket=$okBucket"))
          Option(f.listFiles()).getOrElse(Array.empty)
            .foreach(corrupt(_, enter))
      } else if (inData && f.getName.endsWith(".parquet")) {
        saved += f.toPath -> java.nio.file.Files.readAllBytes(f.toPath)
        java.nio.file.Files.write(f.toPath, "garbage".getBytes)
        ()
      }
    corrupt(new java.io.File(primary), inData = false)
    CdcStream.restoreReplica(spark, primary, toVersion = 1L,
      recordChanges = true)
    saved.foreach { case (p, b) => java.nio.file.Files.write(p, b) }
    assert(content(primary).take(2) == Seq((1L, "base1"), (2L, "base2")))
    // the delta-computed entry replays into the follower exactly
    CdcStream.replayFeedInto(spark, primary, follower,
      Seq("id"), Seq(col("v")), fromVersionExclusive = cursor)
    assert(content(follower) == content(primary),
      "the pruned restore diff must carry the full rollback")
  }

  test("a restore feed entry rolls back columns added AFTER the target") {
    val primary = freshDir()
    val follower = freshDir()
    CdcStream.applyBatchToReplica(primary,
      batch(Seq((1L, "a1", "update"))),
      idCols = Seq("id"), orderCols = Seq(col("v")), recordChanges = true)
    // v2 evolves the schema: column w appears after the restore target
    CdcStream.applyBatchToReplica(primary,
      Seq((1L, "a2", "x", "update")).toDF("id", "v", "w", "op"),
      idCols = Seq("id"), orderCols = Seq(col("v")), recordChanges = true)
    val cursor = CdcStream.replayFeedInto(spark, primary, follower,
      Seq("id"), Seq(col("v")))
    // the follower holds w='x'; the restored primary has no w at all —
    // the diff must span the UNION of columns so w rolls back to null
    CdcStream.restoreReplica(spark, primary, toVersion = 1L,
      recordChanges = true)
    CdcStream.replayFeedInto(spark, primary, follower,
      Seq("id"), Seq(col("v")), fromVersionExclusive = cursor)
    val row = CdcStream.readReplica(spark, follower).get
      .select($"id", $"v", $"w").head()
    assert((row.getLong(0), row.getString(1)) == (1L, "a1"))
    assert(row.isNullAt(2),
      "the post-target column must roll back to null on the follower")
  }

  test("a conditional store refuses the rewind-shaped restore feed entry") {
    val dir = freshDir()
    def applyCond(rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(dir,
        rows.toDF("id", "v", "seq", "op"),
        Seq("id"), Seq(col("seq")), conditionalOrder = true,
        recordChanges = true)
    applyCond(Seq((1L, "a1", 1L, "update")))
    applyCond(Seq((1L, "a2", 2L, "update")))
    // greatest-order-wins followers would silently drop the rollback's
    // lower-order rows — the entry must refuse, not poison the feed
    val e = intercept[IllegalStateException] {
      CdcStream.restoreReplica(spark, dir, toVersion = 1L,
        recordChanges = true)
    }
    assert(e.getMessage.contains("greatest-order-wins"))
  }

  test("manifest records the union schema; evolution widens it") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((1L, "a", "update"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    def manifestJson(): String = {
      val cur = java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "CURRENT")).trim
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, cur, "manifest.json"))
    }
    // the union schema is persisted, so key-pruned lookups never need
    // a footer-merge over every bucket file
    assert(manifestJson().contains("\"schema\""))
    // column names appear inside the escaped schema JSON string
    assert(manifestJson().contains("\\\"id\\\"") &&
      manifestJson().contains("\\\"v\\\""))
    assert(!manifestJson().contains("extra"))
    // an evolving batch touching ONE key widens the recorded union
    CdcStream.applyBatchToReplica(dir,
      Seq((1L, "a2", "x", "update")).toDF("id", "v", "extra", "op"),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    assert(manifestJson().contains("extra"))
    // compaction carries the union schema through unchanged
    CdcStream.compactReplica(spark, dir)
    assert(manifestJson().contains("extra"))
  }

  test("a genuinely stale commit lock is broken and the commit proceeds") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((1L, "a", "update"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    val lock = new java.io.File(dir, ".commit-lock")
    java.nio.file.Files.writeString(lock.toPath, "crashed-writer-token")
    assert(lock.setLastModified(System.currentTimeMillis() - 120000L))
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((2L, "b", "update"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    assert(content(dir) == Seq((1L, "a"), (2L, "b")))
    assert(!lock.exists(), "broken stale lock must not survive the commit")
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(".commit-lock-broken-")),
      "a clean break leaves no aside debris")
  }

  test("lock break verifies its victim: a live lock replacing the stale one survives") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((1L, "a", "update"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    val lock = new java.io.File(dir, ".commit-lock")
    // a crashed writer's stale lock...
    java.nio.file.Files.writeString(lock.toPath, "crashed-writer-token")
    assert(lock.setLastModified(System.currentTimeMillis() - 120000L))
    // ...that a COMPETING breaker breaks and re-acquires exactly inside
    // our breaker's staleness-check → aside-rename window
    val armed = CommitFaults.arm(dir, 1, CommitFaults.LockBreak) {
      java.nio.file.Files.delete(lock.toPath)
      java.nio.file.Files.writeString(lock.toPath, "live-competitor-token")
    }
    try {
      intercept[CdcStream.ConcurrentReplicaWriteException] {
        CdcStream.applyBatchToReplica(dir,
          batch(Seq((2L, "b", "update"))),
          idCols = Seq("id"), orderCols = Seq(col("v")))
      }
    } finally armed.disarm()
    // the competitor's live lock was handed back untouched, and the
    // displaced-lock aside file did not leak
    assert(java.nio.file.Files.readString(lock.toPath) == "live-competitor-token",
      "the live successor's lock must survive the aborted break")
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(".commit-lock-broken-")))
    // the loser's batch is absent; the replica is still consistent
    assert(content(dir) == Seq((1L, "a")))
  }

  test("a crashed breaker's leaked broken-lock file is swept by a later commit") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((1L, "a", "update"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    val leaked = new java.io.File(dir, ".commit-lock-broken-12345")
    java.nio.file.Files.writeString(leaked.toPath, "crashed-breaker-victim")
    assert(leaked.setLastModified(System.currentTimeMillis() - 2 * 3600L * 1000))
    // a FRESH aside file (a break in flight, or a stolen live lock
    // mid-restore) must NOT be swept
    val fresh = new java.io.File(dir, ".commit-lock-broken-67890")
    java.nio.file.Files.writeString(fresh.toPath, "in-flight")
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((2L, "b", "update"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    assert(!leaked.exists(), "hour-old broken-lock debris must be collected")
    assert(fresh.exists(), "a fresh aside file must be left alone")
    fresh.delete()
  }

  test("schema evolution admits safe widening and rejects type " +
      "replacement without corrupting the replica") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir,
      Seq((1L, "a", 1, "update")).toDF("id", "v", "n", "op"),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    // int → bigint is on the widening ladder (r15): admitted, manifest
    // records the wide type, narrow files upcast at read time
    // (SchemaWidenSpec covers the full surface)
    CdcStream.applyBatchToReplica(dir,
      Seq((1L, "a2", 2L, "update")).toDF("id", "v", "n", "op"),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    val widened = CdcStream.readReplica(spark, dir).get
    assert(widened.schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(widened.select($"id", $"n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    // off the ladder (bigint → string) still rejects loudly — a
    // replacement would leave untouched buckets unreadable under the
    // recorded schema
    val ex = intercept[IllegalArgumentException] {
      CdcStream.applyBatchToReplica(dir,
        Seq((1L, "a3", "two", "update")).toDF("id", "v", "n", "op"),
        idCols = Seq("id"), orderCols = Seq(col("v")))
    }
    assert(ex.getMessage.contains("'n'") && ex.getMessage.contains("WIDENING"))
    // the rejected batch left no trace: same versions, same content
    assert(CdcStream.replicaVersions(dir) == Seq(1L, 2L))
    assert(content(dir) == Seq((1L, "a2")))
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(".staging-")))
  }

  test("time travel: the previous version reads back its exact state") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((1L, "v1", "update"), (2L, "v1", "update"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((2L, "v2", "update"), (3L, "v2", "update"),
        (1L, "", "delete"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    assert(CdcStream.replicaVersions(dir) == Seq(1L, 2L))
    val snap = CdcStream.readReplicaAt(spark, dir, 1).get
      .select($"id", $"v").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq.sorted
    assert(snap == Seq((1L, "v1"), (2L, "v1")))
    assert(content(dir) == Seq((2L, "v2"), (3L, "v2")))
    // a never-committed version is None, not an error
    assert(CdcStream.readReplicaAt(spark, dir, 99).isEmpty)
  }

  test("consistent snapshot: the fast table serves its older version at the laggard's watermark") {
    val fast = freshDir(); val slow = freshDir()
    def apply(dir: String, rows: Seq[(Long, String, String)], wm: Long): Unit =
      CdcStream.applyBatchToReplica(dir, batch(rows),
        idCols = Seq("id"), orderCols = Seq(col("v")), watermark = Some(wm))
    apply(fast, Seq((1L, "f1", "update")), 10L)
    apply(fast, Seq((2L, "f2", "update")), 20L)
    apply(fast, Seq((3L, "f3", "update")), 30L) // fast is at wm 30
    apply(slow, Seq((9L, "s1", "update")), 10L)
    apply(slow, Seq((8L, "s2", "update")), 20L) // slow lags at wm 20
    val (point, Seq(f, sl)) =
      CdcStream.readConsistentSnapshot(spark, Seq(fast, slow))
    assert(point === 20L)
    // fast must time-travel back to its wm-20 version: row 3 invisible
    assert(f.select($"id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    assert(sl.select($"id").as[Long].collect().sorted.toSeq === Seq(8L, 9L))
    // watermark metadata round-trips per version
    assert(CdcStream.replicaVersions(fast)
      .flatMap(CdcStream.replicaWatermark(fast, _)) === Seq(10L, 20L, 30L))
    // a table with no watermarked version cannot join a consistent read
    val bare = freshDir()
    CdcStream.applyBatchToReplica(bare, batch(Seq((1L, "x", "update"))),
      idCols = Seq("id"), orderCols = Seq(col("v")))
    intercept[IllegalStateException] {
      CdcStream.readConsistentSnapshot(spark, Seq(fast, bare))
    }
  }

  test("anti-entropy audit: replica digests equal the changelog's; tampering surfaces") {
    import graft.queries.EventQueries
    def digests(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
      df.withColumn("rh", graft.llm.TextOps.hash32(concat_ws(":",
          $"user_id", $"event_id", $"value_cents")))
        .groupBy(($"user_id" % 16L).as("shard"))
        .agg(count(lit(1)).as("n"), sum($"user_id").as("ks"), sum($"rh").as("ds"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq.sortBy(_._1)
    // the audit query (replica-side digests) vs the same digests over
    // the direct latest-state query — must agree shard for shard
    val audit = EventQueries.defs("cdc_replica_audit")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sortBy(_._1)
    val truth = EventQueries.defs("cdc_apply_changelog")(spark, sfDir)
      .select($"user_id", $"value_cents")
      .join(EventQueries.defs("cdc_latest_state")(spark, sfDir)
        .select($"user_id", $"last_event_id".as("event_id")), "user_id")
    assert(audit == digests(truth))
    // sensitivity: corrupt ONE row's value — exactly that row's shard
    // must change its digest, every other shard must not
    val minKey = truth.agg(min($"user_id")).head.getLong(0)
    val tampered = digests(truth.withColumn("value_cents",
      when($"user_id" === minKey, $"value_cents" + 1L)
        .otherwise($"value_cents")))
    val diff = audit.zip(tampered).filter { case (a, b) => a != b }
    assert(diff.size == 1)
    assert(diff.head._1._1 == minKey % 16)
  }
}
