package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Merge-on-read (deferred MERGE) behavior of the replica store:
  * deferred commits append per-bucket delta files without touching
  * base buckets, every read path folds base ∪ deltas newest-net-wins,
  * eager merges and compaction fold deltas back into base files, and
  * the incompatible modes refuse loudly.
  */
class MergeOnReadSpec extends SparkSuite {

  import graft.SparkSuite.spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("mor").toString

  private def batch(rows: Seq[(Long, String, Long, String)]) =
    rows.toDF("id", "v", "seq", "op")

  private def applyDefer(dir: String,
      rows: Seq[(Long, String, Long, String)]): Unit =
    CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
      Seq(col("seq")), deferMerge = true)

  private def content(dir: String): Seq[(Long, String)] =
    CdcStream.readReplica(spark, dir).get
      .select($"id", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  private def manifestJson(dir: String): String = {
    val cur = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "CURRENT")).trim
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, cur, "manifest.json"))
  }

  /** Remove the conditional metadata from the CURRENT manifest — the
    * shape a store had before it recorded its order columns and
    * tombstone mins.
    */
  private def stripConditionalMetadata(dir: String): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val cur = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "CURRENT")).trim
    val path = java.nio.file.Paths.get(dir, cur, "manifest.json")
    val node = om.readTree(java.nio.file.Files.readString(path))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("condOrderCols"); node.remove("tombstoneMins")
    java.nio.file.Files.writeString(path, om.writeValueAsString(node))
  }

  private def legacyFieldNames(dir: String, field: String): Set[String] =
    Option(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(manifestJson(dir)).get(field)).map { o =>
      val it = o.fieldNames()
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }.getOrElse(Set.empty)

  test("deferred commits append deltas; reads fold newest-net-wins") {
    val dir = freshDir()
    applyDefer(dir, Seq((1L, "a", 1L, "update"), (2L, "b", 1L, "update"),
      (3L, "c", 1L, "update")))
    // v1 is delta-only: no base buckets were written at all
    assert(manifestJson(dir).contains("\"deltas\""))
    assert(!new java.io.File(s"$dir/v000000001/data").exists(),
      "a deferred commit must not write base buckets")
    assert(content(dir) == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // second deferred batch: update 1, delete 2, insert 4
    applyDefer(dir, Seq((1L, "a2", 2L, "update"), (2L, "b", 2L, "delete"),
      (4L, "d", 2L, "update")))
    assert(content(dir) == Seq((1L, "a2"), (3L, "c"), (4L, "d")))
    // within-batch net still applies: last op per key wins
    applyDefer(dir, Seq((4L, "dX", 3L, "update"), (4L, "d3", 4L, "update")))
    assert(content(dir) == Seq((1L, "a2"), (3L, "c"), (4L, "d3")))
    // pruned lookup folds deltas too
    val hit = CdcStream.readReplicaForKeys(spark, dir, Seq("id"),
      Seq(1L, 2L).toDF("id")).get
      .select($"id", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(hit == Seq((1L, "a2")))
    // time travel: v1 predates the second batch
    val v1 = CdcStream.readReplicaAt(spark, dir, 1L).get
      .select($"id", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(v1 == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("an eager merge folds the touched buckets' deltas") {
    val dir = freshDir()
    applyDefer(dir, (0L until 32L).map(i => (i, s"a$i", 1L, "update")))
    applyDefer(dir, Seq((1L, "a1x", 2L, "update")))
    // eager batch touches key 1's bucket (and others)
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((1L, "a1y", 3L, "update"), (2L, "a2y", 3L, "update"))),
      Seq("id"), Seq(col("seq")))
    val c = content(dir)
    assert(c.contains((1L, "a1y")) && c.contains((2L, "a2y")))
    assert(c.size == 32)
    // untouched buckets may keep deltas; the touched ones folded — and
    // content stays exact either way
    CdcStream.compactReplica(spark, dir)
    assert(!manifestJson(dir).contains("\"deltas\""),
      "compaction must fold every pending delta")
    assert(content(dir) == c)
    val files = {
      val cur = java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "CURRENT")).trim
      Option(new java.io.File(s"$dir/$cur/data").listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.startsWith("__bucket="))
        .map(_.listFiles().count(f => f.getName.endsWith(".parquet")))
    }
    assert(files.nonEmpty && files.forall(_ == 1))
  }

  test("deferred change feed records nets; guards refuse bad mixes") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((1L, "a", 1L, "update"))), Seq("id"), Seq(col("seq")),
      recordChanges = true, deferMerge = true)
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((1L, "a2", 2L, "update"), (2L, "b", 2L, "delete"))),
      Seq("id"), Seq(col("seq")), recordChanges = true, deferMerge = true)
    val feed = CdcStream.readReplicaChanges(spark, dir).get
      .select($"_commit_version", $"id", $"op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted
    assert(feed == Seq((1L, 1L, "update"), (2L, 1L, "update"),
      (2L, 2L, "delete")))
    // a CONDITIONAL deferred commit cannot mix with pending SEQUENCE
    // deltas (the fold would have no coherent winner rule)
    intercept[IllegalStateException] {
      CdcStream.applyBatchToReplica(dir,
        batch(Seq((3L, "c", 3L, "update"))), Seq("id"), Seq(col("seq")),
        conditionalOrder = true, deferMerge = true)
    }
    // reshard / erasure COMPOSE with pending deltas: the reshard folds
    // them into the new layout, erasure folds the touched buckets
    CdcStream.rebucketReplica(spark, dir, Seq("id"), 5)
    assert(!manifestJson(dir).contains("\"deltas\""),
      "a reshard is a full rewrite — deltas must fold into it")
    assert(content(dir) == Seq((1L, "a2")))
    CdcStream.eraseKeys(spark, dir, Seq("id"), Seq(1L).toDF("id"))
    // key 1 was the only live row — the erased store reads as empty
    assert(CdcStream.readReplica(spark, dir)
      .forall(_.isEmpty))
  }

  test("erasure with pending deltas folds the touched buckets and purges delta files") {
    val dir = freshDir()
    applyDefer(dir, Seq((1L, "a", 1L, "update"), (2L, "b", 1L, "update")))
    applyDefer(dir, Seq((1L, "a2", 2L, "update"), (3L, "c", 2L, "update")))
    CdcStream.eraseKeys(spark, dir, Seq("id"), Seq(1L).toDF("id"))
    assert(content(dir) == Seq((2L, "b"), (3L, "c")))
    // no on-disk trace: every delta file of key 1's bucket purged, and
    // no remaining parquet file anywhere in the store holds id=1
    val remaining = new scala.collection.mutable.ArrayBuffer[String]
    def walk(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      else if (f.getName.endsWith(".parquet")) remaining += f.toString
    }
    walk(new java.io.File(dir))
    val ids = spark.read.parquet(remaining.toSeq: _*)
      .select($"id").distinct().as[Long].collect().toSet
    assert(!ids.contains(1L), "an erased key must not survive in ANY file")
  }

  test("conditional deferred commits fold greatest-order-wins") {
    val dir = freshDir()
    def applyCond(rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
        Seq(col("seq")), conditionalOrder = true, deferMerge = true)
    applyCond(Seq((1L, "a@5", 5L, "update"), (2L, "b@5", 5L, "update")))
    // LATE batch (lower order) arrives after: it must lose, even though
    // its delta commit is newer
    applyCond(Seq((1L, "a@3", 3L, "update"), (3L, "c@3", 3L, "update")))
    assert(content(dir) == Seq((1L, "a@5"), (2L, "b@5"), (3L, "c@3")))
    // a delete BELOW a key's stored order is ignored; ABOVE removes it
    applyCond(Seq((2L, "x", 4L, "delete"), (3L, "x", 9L, "delete")))
    assert(content(dir) == Seq((1L, "a@5"), (2L, "b@5")))
    // compaction materializes the winning delete as a TOMBSTONE whose
    // late-loser protection survives: an order-7 update on key 3 still
    // loses to the order-9 tombstone, eager or deferred
    CdcStream.compactReplica(spark, dir)
    assert(!manifestJson(dir).contains("\"deltas\""))
    assert(manifestJson(dir).contains("tombstoneMins"),
      "compaction must record per-bucket tombstone metadata")
    applyCond(Seq((3L, "c@7", 7L, "update")))
    assert(content(dir) == Seq((1L, "a@5"), (2L, "b@5")))
    // ...and an order-10 update resurrects past it
    applyCond(Seq((3L, "c@10", 10L, "update")))
    assert(content(dir) == Seq((1L, "a@5"), (2L, "b@5"), (3L, "c@10")))
  }

  test("an eager conditional merge folds conditional pending deltas") {
    val dir = freshDir()
    def applyCond(rows: Seq[(Long, String, Long, String)], defer: Boolean): Unit =
      CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
        Seq(col("seq")), conditionalOrder = true, deferMerge = defer)
    applyCond(Seq((1L, "a@5", 5L, "update"), (2L, "b@9", 9L, "delete")),
      defer = true)
    // an UNCONDITIONAL merge cannot fold conditional deltas
    intercept[IllegalStateException] {
      CdcStream.applyBatchToReplica(dir, batch(Seq((1L, "z", 1L, "update"))),
        Seq("id"), Seq(col("seq")))
    }
    // the eager conditional merge folds them: key 2's delete-winner
    // becomes a tombstone the late order-4 update loses to
    applyCond(Seq((1L, "a@7", 7L, "update"), (2L, "b@4", 4L, "update")),
      defer = false)
    assert(content(dir) == Seq((1L, "a@7")))
    // a sequence deferred commit routed into a tombstone-holding bucket
    // refuses (no order compare in its fold); other buckets are fine
    assert(manifestJson(dir).contains("tombstoneMins"))
    intercept[IllegalStateException] {
      applyDefer(dir, Seq((2L, "seq", 99L, "update")))
    }
  }

  test("conditional-delta time travel and pruned lookups fold by order") {
    val dir = freshDir()
    def applyCond(rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
        Seq(col("seq")), conditionalOrder = true, deferMerge = true)
    applyCond(Seq((1L, "new@8", 8L, "update")))
    applyCond(Seq((1L, "old@2", 2L, "update"), (2L, "b@2", 2L, "update")))
    val hit = CdcStream.readReplicaForKeys(spark, dir, Seq("id"),
      Seq(1L).toDF("id")).get
      .select($"id", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hit == Seq((1L, "new@8")),
      "the key-pruned fold must pick the greatest ORDER, not the newest commit")
    // time travel at v1: only the first delta layer
    val v1 = CdcStream.readReplicaAt(spark, dir, 1L).get
      .select($"id", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(v1 == Seq((1L, "new@8")))
  }

  test("watermark time travel folds each version's pending deltas") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((1L, "a", 1L, "update"), (2L, "b", 1L, "update"))),
      Seq("id"), Seq(col("seq")), watermark = Some(10L), deferMerge = true)
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((1L, "a2", 2L, "update"), (3L, "c", 2L, "update"))),
      Seq("id"), Seq(col("seq")), watermark = Some(20L), deferMerge = true)
    def at(wm: Long): Seq[(Long, String)] =
      CdcStream.readReplicaAtWatermark(spark, dir, wm).get
        .select($"id", $"v").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(at(15L) == Seq((1L, "a"), (2L, "b")),
      "watermark 15 must serve v1's fold (one delta layer)")
    assert(at(25L) == Seq((1L, "a2"), (2L, "b"), (3L, "c")))
    assert(CdcStream.replicaWatermark(dir, 1L) == Some(10L))
  }

  test("maintainReplica folds only when a delta chain reaches the threshold") {
    val dir = freshDir()
    applyDefer(dir, (0L until 8L).map(i => (i, s"a$i", 1L, "update")))
    applyDefer(dir, Seq((1L, "a1b", 2L, "update")))
    val v2 = CdcStream.replicaVersions(dir).max
    // chains of length ≤2 are healthy under maxDeltas=3: no fold
    assert(!CdcStream.maintainReplica(spark, dir, maxDeltas = 3))
    assert(CdcStream.replicaVersions(dir).max == v2)
    assert(manifestJson(dir).contains("\"deltas\""))
    // a third layer on key 1's bucket trips the threshold
    applyDefer(dir, Seq((1L, "a1c", 3L, "update")))
    assert(CdcStream.maintainReplica(spark, dir, maxDeltas = 3))
    assert(!manifestJson(dir).contains("\"deltas\""))
    assert(content(dir).contains((1L, "a1c")))
    // compact store: policy is a cheap no-op
    assert(!CdcStream.maintainReplica(spark, dir, maxDeltas = 3))
  }

  test("maintainReplica is a no-op on a healthy eager store with carried-over buckets") {
    // the sink calls maintainReplica after EVERY commit; on an eager
    // store whose untouched buckets still point at older version dirs
    // (the normal steady state) it must NOT trigger compactReplica's
    // carried-over near-full rewrite — only real fragmentation or
    // pending chains past the threshold may compact
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir,
      batch((0L until 32L).map(i => (i, s"a$i", 1L, "update"))),
      Seq("id"), Seq(col("seq")))
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((1L, "a1b", 2L, "update"))), Seq("id"), Seq(col("seq")))
    val v = CdcStream.replicaVersions(dir).max
    assert(!CdcStream.maintainReplica(spark, dir, maxDeltas = 3),
      "healthy store: auto-maintenance must not rewrite carried-over buckets")
    assert(CdcStream.replicaVersions(dir).max == v)
    // explicit compaction still consolidates them (the GC path)
    CdcStream.compactReplica(spark, dir)
    assert(CdcStream.replicaVersions(dir).max > v)
  }

  test("sequence deferred commits refuse per tombstone-holding BUCKET") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((1L, "a", 5L, "update"))), Seq("id"), Seq(col("seq")),
      conditionalOrder = true)
    CdcStream.applyBatchToReplica(dir,
      batch(Seq((1L, "a", 9L, "delete"))), Seq("id"), Seq(col("seq")),
      conditionalOrder = true)
    // key 1's bucket holds its tombstone: a sequence fold there has no
    // order compare — refuse
    intercept[IllegalStateException] {
      applyDefer(dir, Seq((1L, "back", 1L, "update")))
    }
    // a tombstone-FREE bucket accepts sequence deferred commits (the
    // manifest's per-bucket metadata makes the exclusivity exact,
    // not store-wide)
    applyDefer(dir, Seq((2L, "b", 1L, "update")))
    assert(content(dir) == Seq((2L, "b")))
  }

  test("expiry detection is metadata-only: unreadable bucket files still decide a no-op") {
    val dir = freshDir()
    def applyCond(rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
        Seq(col("seq")), conditionalOrder = true)
    applyCond(Seq((1L, "a", 5L, "update"), (2L, "b", 5L, "update")))
    applyCond(Seq((1L, "x", 9L, "delete")))
    // compaction leaves one file per bucket and records the per-bucket
    // tombstone min (seq = 9)
    CdcStream.compactReplica(spark, dir)
    assert(manifestJson(dir).contains("tombstoneMins"))
    // now make every bucket file UNREADABLE: any detection path that
    // opens a parquet file will throw, so a clean no-op decision below
    // proves detection ran off the manifest alone
    def corrupt(f: java.io.File): Unit =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(corrupt)
      else if (f.getName.endsWith(".parquet"))
        java.nio.file.Files.write(f.toPath, "garbage".getBytes)
    corrupt(new java.io.File(dir))
    // horizon below the recorded min: metadata says nothing expired,
    // fragmentation is a dir-stat walk — maintenance must decide false
    // without touching a data file
    assert(!CdcStream.maintainReplica(spark, dir,
      tombstoneHorizon = Some(col("seq") <= lit(1L))),
      "a below-min horizon must be a metadata-decided no-op")
  }

  test("legacy tombstone stores: the upgrading conditional merge backfills every bucket's mins") {
    val dir = freshDir()
    def applyCond(rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
        Seq(col("seq")), conditionalOrder = true)
    // tombstones across several buckets (ids spread over the 16 default
    // buckets), plus live keys
    applyCond((0L until 12L).map(i => (i, s"a$i", 5L, "update")))
    applyCond(Seq((1L, "x", 9L, "delete"), (3L, "x", 9L, "delete"),
      (7L, "x", 9L, "delete")))
    val tombBuckets = legacyFieldNames(dir, "tombstoneMins")
    assert(tombBuckets.size >= 2, s"fixture needs ≥2 tombstone buckets: $tombBuckets")
    // the shape written before the store recorded its order columns
    stripConditionalMetadata(dir)
    // the conditional merge refuses the legacy store and names the
    // upgrade, which does the backfill
    val refused = intercept[IllegalStateException] {
      applyCond(Seq((2L, "a2b", 6L, "update")))
    }
    assert(refused.getMessage.contains("upgradeReplica"), refused.getMessage)
    // the tombstones' order columns are not on record: the caller names them
    val noOrder = intercept[IllegalArgumentException] {
      CdcStream.upgradeReplica(spark, dir, Seq("id"))
    }
    assert(noOrder.getMessage.contains("orderCols"), noOrder.getMessage)
    CdcStream.upgradeReplica(spark, dir, Seq("id"), Seq(col("seq")))
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(manifestJson(dir)).get("condOrderCols").get(0).asText == "seq")
    assert(legacyFieldNames(dir, "tombstoneMins") == tombBuckets,
      "the upgrade must record every legacy bucket's tombstone min")
    applyCond(Seq((2L, "a2b", 6L, "update")))
    // the per-bucket exclusivity check now sees the legacy tombstones:
    // a sequence deferred commit on a deleted key's bucket refuses
    intercept[IllegalStateException] {
      applyDefer(dir, Seq((3L, "back", 1L, "update")))
    }
    // and metadata-decided expiry ages the legacy tombstones out
    assert(CdcStream.maintainReplica(spark, dir,
      tombstoneHorizon = Some(col("seq") <= lit(9L))),
      "maintenance must detect the legacy buckets' expired tombstones")
    assert(!manifestJson(dir).contains("tombstoneMins"),
      "expired legacy tombstones must age out via the metadata path")
    // content unchanged by the maintenance: deleted keys stay gone
    val expected = (0L until 12L).filterNot(Set(1L, 3L, 7L))
      .map(i => (i, if (i == 2L) "a2b" else s"a$i")).sorted
    assert(content(dir) == expected)
  }

  test("a horizon referencing non-order columns falls back to the sweep " +
      "instead of throwing, and still ages tombstones out") {
    val dir = freshDir()
    def applyCond(rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
        Seq(col("seq")), conditionalOrder = true)
    applyCond(Seq((1L, "a", 5L, "update"), (2L, "b", 5L, "update")))
    applyCond(Seq((1L, "gone", 9L, "delete")))
    CdcStream.compactReplica(spark, dir)
    assert(manifestJson(dir).contains("tombstoneMins"))
    // `v` is a stored column but NOT an order column: the recorded min
    // structs can't evaluate this horizon — pre-fix this threw
    // AnalysisException inside maintainReplica; now it runs the full
    // column-pruned sweep (per call, documented) and works
    assert(CdcStream.maintainReplica(spark, dir,
      tombstoneHorizon = Some(col("v") === lit("gone"))),
      "the fallback sweep must detect and expire the tombstone")
    assert(!manifestJson(dir).contains("tombstoneMins"),
      "the expired tombstone's min must leave the manifest")
    assert(content(dir) == Seq((2L, "b")))
  }

  test("legacy tombstone stores with a horizon: ONE sweep records " +
      "horizon-keyed mins, then detection is metadata-only") {
    val dir = freshDir()
    def applyCond(rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
        Seq(col("seq")), conditionalOrder = true)
    applyCond(Seq((1L, "a", 5L, "update"), (2L, "b", 5L, "update")))
    applyCond(Seq((1L, "x", 9L, "delete")))
    // twice: the second run folds the carried-over buckets into ONE
    // version so the maintain below has no fragmentation work left
    CdcStream.compactReplica(spark, dir)
    CdcStream.compactReplica(spark, dir)
    stripConditionalMetadata(dir)
    // the upgrade is the ONE sweep: it reads the data once and records
    // the mins keyed by the order columns the horizon names
    CdcStream.upgradeReplica(spark, dir, Seq("id"), Seq(col("seq")))
    val mj = manifestJson(dir)
    assert(mj.contains("condOrderCols") && mj.contains("tombstoneMins"),
      s"the sweep must record horizon-keyed mins: $mj")
    // corrupt every data file: the next detection must decide from the
    // manifest alone, with no further sweep
    def corrupt(f: java.io.File): Unit =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(corrupt)
      else if (f.getName.endsWith(".parquet"))
        java.nio.file.Files.write(f.toPath, "garbage".getBytes)
    corrupt(new java.io.File(dir))
    val horizon = Some(col("seq") <= lit(1L))
    assert(!CdcStream.maintainReplica(spark, dir, tombstoneHorizon = horizon),
      "detection must be a metadata-decided no-op (no data file read)")
  }

  test("a null-order tombstone neither blocks its bucket's age-out nor " +
      "is silently dropped by the sweep") {
    val dir = freshDir()
    def applyCond(rows: Seq[(Long, String, Long, String)]): Unit =
      CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
        Seq(col("seq")), conditionalOrder = true)
    applyCond(Seq((1L, "a", 5L, "update")))
    applyCond(Seq((1L, "x", 9L, "delete")))
    CdcStream.compactReplica(spark, dir)
    // doctor key 1's bucket: add a second tombstone whose order is NULL
    // (an upstream feed can emit deletes with unknown order)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val cur = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "CURRENT")).trim
    val node = om.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, cur, "manifest.json")))
    val bucketPath = {
      val it = node.get("buckets").fields()
      var p: String = null
      while (it.hasNext) { val e = it.next(); if (p == null) p = e.getValue.asText() }
      s"$dir/$p"
    }
    val rows = spark.read.parquet(bucketPath)
    val nullOrder = rows.limit(1)
      .withColumn("seq", lit(null).cast("long"))
      .withColumn("id", lit(99L))
    val doctored = rows.unionByName(nullOrder).collect()
    val doctoredDf = spark.createDataFrame(
      spark.sparkContext.parallelize(doctored.toSeq), rows.schema)
    val tmp = freshDir()
    doctoredDf.write.mode("overwrite").parquet(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(bucketPath))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(tmp), new java.io.File(bucketPath))
    // the recorded min (seq=9, non-null) still decides: the seq=9
    // tombstone expires; the null-order one must be RETAINED (its
    // late-loser protection can't be judged expired) — pre-fix the
    // three-valued filter silently deleted it
    assert(CdcStream.maintainReplica(spark, dir,
      tombstoneHorizon = Some(col("seq") <= lit(9L))))
    val after = {
      val c2 = java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "CURRENT")).trim
      val n2 = om.readTree(java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, c2, "manifest.json")))
      val it = n2.get("buckets").fields()
      val ps = scala.collection.mutable.Buffer.empty[String]
      while (it.hasNext) ps += s"$dir/${it.next().getValue.asText()}"
      spark.read.parquet(ps.toSeq: _*)
    }
    assert(after.filter(col("id") === 99L).count() == 1,
      "the null-order tombstone must survive the sweep")
    assert(after.filter(col("id") === 1L).count() == 0,
      "the expired seq=9 tombstone must age out")
    // and its bucket is NOT re-flagged forever: the re-recorded mins
    // exclude null-order rows, so the same horizon is now a no-op
    assert(!CdcStream.maintainReplica(spark, dir,
      tombstoneHorizon = Some(col("seq") <= lit(9L))),
      "no churn: null-order tombstones stay out of the recorded mins")
    // the bucket still holds an UNORDERABLE tombstone, so it must stay
    // in the exclusivity clash set (the sentinel entry): a sequence
    // deferred commit into it has no order compare and must refuse —
    // dropping the bucket from the mins map would silently admit it.
    // Key 1 routes to the doctored bucket (the null row kept key 99's
    // id but lives in key 1's bucket file, which rewrites in place).
    intercept[IllegalStateException] {
      applyDefer(dir, Seq((1L, "back", 1L, "update")))
    }
  }

  /** `n` rows over 150 keys, several per key; `seq` is unique and rises
    * with `seed`, so later batches carry greater orders.
    */
  private def churn(seed: Long, n: Int): Seq[(Long, String, Long, String)] =
    (0 until n).map { i =>
      val id = (i * 7919L + seed * 31L) % 150L
      (id, s"v$seed-$i", seed * 10000L + i, if (i % 7 == 0) "delete" else "update")
    }

  /** `rows` as a scanned batch: an RDD, not a local relation, whose
    * filters the optimizer would evaluate once on the driver.
    */
  private def scanned(rows: Seq[(Long, String, Long, String)]) =
    spark.sparkContext.parallelize(rows, 2).toDF("id", "v", "seq", "op")

  /** Per key, the row with the greatest `seq` (the batch's last op). */
  private def lastPerKey(rows: Seq[(Long, String, Long, String)]) =
    rows.groupBy(_._1).values.map(_.maxBy(_._3)).toSeq

  /** The state a fold of `batches` leaves: deleted keys are absent. */
  private def folded(batches: Seq[Seq[(Long, String, Long, String)]]) =
    lastPerKey(batches.flatten).filter(_._4 != "delete")
      .map(r => (r._1, r._2)).sorted

  test("job budget: an un-indexed deferred commit runs at most 2 Spark " +
      "jobs, and its store equals the fold") {
    // measured: 2 jobs (the routing shuffle, which also reduces the
    // batch, and the delta write) against 3 when the reduce ran its own
    // window shuffle before the routing one
    Seq(false, true).foreach { conditional =>
      val dir = freshDir()
      def commit(rows: Seq[(Long, String, Long, String)]): Unit =
        CdcStream.applyBatchToReplica(dir, scanned(rows), Seq("id"),
          Seq(col("seq")), conditionalOrder = conditional, deferMerge = true)
      val batches = (1L to 3L).map(churn(_, 600))
      commit(batches.head)
      batches.tail.foreach { b =>
        val jobs = countJobs(commit(b))
        assert(jobs <= 2, s"deferred commit (conditional=$conditional) ran $jobs jobs")
      }
      assert(content(dir) == folded(batches), s"conditional=$conditional")
    }
  }

  test("a deferred commit with a change feed evaluates its batch once") {
    val dir = freshDir()
    val sink = new graft.sources.replica.ReplicaSink(
      graft.sources.replica.ReplicaSinkConfig(Map(
        "path" -> dir, "keys" -> "id", "orderColumns" -> "seq",
        "deferMerge" -> "true", "changeFeed" -> "true")))
    val evaluated = spark.sparkContext.longAccumulator("deferred-feed-input")
    val counted = udf((_: Long) => { evaluated.add(1); true }).asNondeterministic()
    val batches = (1L to 2L).map(churn(_, 400))
    batches.zipWithIndex.foreach { case (rows, i) =>
      sink.addBatch(i.toLong, scanned(rows).filter(counted($"id")))
    }
    // each version's feed entry is its batch's net, in the batch's
    // column order
    val feed = CdcStream.readReplicaChanges(spark, dir).get
    assert(feed.columns.filterNot(_.startsWith("_")).toSeq ==
      Seq("id", "v", "seq", "op"))
    val got = feed.select($"_commit_version", $"id", $"v", $"seq", $"op")
      .as[(Long, Long, String, Long, String)].collect().toSeq.sorted
    val want = batches.zipWithIndex.flatMap { case (rows, i) =>
      lastPerKey(rows).map { case (id, v, seq, op) => (i + 1L, id, v, seq, op) }
    }.sorted
    assert(got == want)
    assert(evaluated.value == batches.map(_.size).sum,
      "each input row is evaluated once")
    assert(content(dir) == folded(batches))
  }
}
