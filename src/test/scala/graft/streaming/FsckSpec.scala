package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** FSCK ([[CdcStream.fsckReplica]]) — the store doctor. The oracle
  * gate (`cdc_fsck`) pins the healthy path; this spec drives each
  * corruption class and asserts the NAMED finding surfaces — the
  * operator's value is that it turns every lazily-enforced invariant
  * (a dangling clone ref fails at read time, a feed gap at drain
  * time, a stale GSI cursor at maintenance time) into one proactive
  * metadata-cost report.
  */
class FsckSpec extends SparkSuite {

  import graft.SparkSuite.spark.implicits._

  private def freshDir(prefix: String = "fsck-spec"): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def batch(rows: Seq[(Long, String, String)]) =
    rows.toDF("id", "v", "op")

  private def commit(dir: String, rows: Seq[(Long, String, String)],
      rec: Boolean = false): Unit =
    CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
      Seq(col("v")), numBuckets = 4, recordChanges = rec)

  private val b1 = Seq((1L, "a1", "update"), (2L, "b1", "update"),
    (3L, "c1", "update"))
  private val b2 = Seq((1L, "a2", "update"), (4L, "d2", "update"))

  private def checks(dir: String, idx: Seq[String] = Nil): Map[String, String] =
    CdcStream.fsckReplica(spark, dir, idx).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  test("a healthy store reports zero findings; a never-committed dir " +
      "reports the missing pointer") {
    val dir = freshDir()
    commit(dir, b1, rec = true); commit(dir, b2, rec = true)
    assert(CdcStream.fsckReplica(spark, dir).collect().isEmpty)
    val empty = freshDir()
    assert(checks(empty) == Map("current_pointer" -> "error"))
  }

  test("a deleted referenced bucket dir surfaces as dangling_ref; an " +
      "emptied one as empty_bucket_dir") {
    val dir = freshDir()
    commit(dir, b1); commit(dir, b2)
    // find a referenced bucket dir under the current version
    val cur = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "CURRENT")).trim
    val buckets = Option(new java.io.File(s"$dir/$cur/data").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("__bucket="))
    assert(buckets.nonEmpty)
    // empty the first (delete its parquet files, keep the dir)
    buckets.head.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(_.delete())
    val after1 = checks(dir)
    assert(after1.get("empty_bucket_dir").contains("warn"), s"$after1")
    // delete the second entirely
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete(); ()
    }
    rm(buckets(1))
    val after2 = CdcStream.fsckReplica(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(after2.exists(f => f._1 == "dangling_ref" && f._2 == "error" &&
      f._3.startsWith("bucket=")), s"${after2.toSeq}")
  }

  test("a feed hole (pre-retention GC) surfaces as feed_gap; a " +
      "truncated prefix does not") {
    val dir = freshDir()
    commit(dir, b1, rec = true); commit(dir, b2, rec = true)
    commit(dir, Seq((5L, "e3", "update")), rec = true)
    // legit VACUUM: prefix truncation leaves no hole
    CdcStream.truncateReplicaFeed(dir, 2L)
    assert(!checks(dir).contains("feed_gap"))
    // simulate pre-retention GC: delete a MIDDLE version's feed
    // surface and manifest (v2 was already swept from live dirs by the
    // v3 commit's grace rule — its surface lives in _feed)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(s"$dir/_feed/v000000002"))
    rm(new java.io.File(s"$dir/v000000002"))
    val after = checks(dir)
    assert(after.get("feed_gap").contains("warn"), s"$after")
  }

  test("a crashed writer's orphan surfaces as orphan_version (info) " +
      "and a stale lock as stale_lock (warn)") {
    val dir = freshDir()
    commit(dir, b1)
    val disarm = CommitFaults.armClaimKill(dir, 1)
    try intercept[RuntimeException] { commit(dir, b2) }
    finally disarm()
    val after = checks(dir)
    assert(after.get("orphan_version").contains("info"), s"$after")
    // plant a stale lock (the injected kill released its own)
    val lock = new java.io.File(dir, ".commit-lock")
    java.nio.file.Files.write(lock.toPath, "stale-owner".getBytes)
    lock.setLastModified(System.currentTimeMillis() - 120000L)
    assert(checks(dir).get("stale_lock").contains("warn"))
  }

  test("GSI cursor findings: missing cursor, lag after an unmaintained " +
      "commit, ahead after a primary rollback-by-hand") {
    val root = freshDir("fsck-gsi")
    val spec = SecondaryIndex.IndexSpec(s"$root/i", col("id") % 2, "band")
    SecondaryIndex.applyBatchWithIndexes(spark, s"$root/p", Seq(spec),
      Seq((1L, "a1", 1L, "update"), (2L, "b1", 1L, "update"))
        .toDF("id", "v", "seq", "op"),
      Seq("id"), Seq("seq"), numBuckets = 4)
    assert(!checks(s"$root/p", Seq(s"$root/i")).contains("index_lag"),
      "in-sync index must not flag")
    // an ordinary un-indexed commit: the index is now owed maintenance
    CdcStream.applyBatchToReplica(s"$root/p",
      Seq((3L, "c2", 2L, "update")).toDF("id", "v", "seq", "op"),
      Seq("id"), Seq(col("seq")), numBuckets = 4)
    assert(checks(s"$root/p", Seq(s"$root/i"))
      .get("index_lag").contains("warn"))
    // a non-index store as indexDir: cursor missing
    assert(checks(s"$root/p", Seq(s"$root/p"))
      .get("index_cursor_missing").contains("error"))
    // cursor ahead: an index stamped at the primary's v2 checked
    // against a fresh primary that only reached v1
    val spec2 = SecondaryIndex.IndexSpec(s"$root/i2", col("id") % 2, "band")
    SecondaryIndex.buildIndex(spark, s"$root/p", spec2, Seq("id"),
      Seq("seq"), numBuckets = 4)
    assert(SecondaryIndex.appliedPrimaryVersion(s"$root/i2").contains(2L))
    val short = freshDir("fsck-short")
    commit(short, b1)
    assert(checks(short, Seq(s"$root/i2"))
      .get("index_ahead").contains("error"))
  }

  test("frozen and retention-pin state surface as info findings") {
    val dir = freshDir()
    commit(dir, b1)
    CdcStream.pinReplicaRetention(dir, 1L)
    CdcStream.freezeReplica(dir, "fsck test")
    val after = checks(dir)
    assert(after.get("frozen").contains("info") &&
      after.get("retention_pin").contains("info"), s"$after")
  }

  test("fsck reports exactly the debris the commit sweep deletes: a slow " +
      "writer's staging dir is neither, a stale tmp file is both") {
    val dir = freshDir()
    commit(dir, b1)
    val hourAgo2 = System.currentTimeMillis() - 2 * 3600L * 1000
    // a slow live writer: its staging root is old, but it just wrote
    val slow = new java.io.File(dir, ".staging-slow")
    new java.io.File(slow, "data").mkdirs()
    java.nio.file.Files.write(new java.io.File(slow, "data/part").toPath,
      Array[Byte](1))
    assert(slow.setLastModified(hourAgo2))
    // a crashed metadata writer's tmp file, and a live one's
    val staleTmp = new java.io.File(dir,
      graft.io.AtomicFiles.TmpPrefix + "crashed-CURRENT")
    val freshTmp = new java.io.File(dir,
      graft.io.AtomicFiles.TmpPrefix + "live-_retain.json")
    Seq(staleTmp, freshTmp).foreach(f =>
      java.nio.file.Files.write(f.toPath, "v000000001".getBytes))
    assert(staleTmp.setLastModified(hourAgo2))
    def debris: Set[String] = CdcStream.fsckReplica(spark, dir).collect()
      .filter(_.getString(0) == "stale_debris").map(_.getString(2)).toSet
    assert(debris == Set(staleTmp.getName))
    commit(dir, b2)
    assert(slow.isDirectory, "the sweep must keep a live writer's staging")
    assert(!staleTmp.exists(), "the sweep must delete a stale tmp file")
    assert(freshTmp.exists(), "the sweep must keep a fresh tmp file")
    assert(debris.isEmpty)
  }
}
