package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The store's metadata sidecars, byte for byte. Each file below is
  * hand-written exactly as the streaming-Jackson writers of earlier
  * graft versions wrote it (compact JSON, fields in this order), so a
  * store written by any version reads the same, and a store written now
  * is readable by them:
  *
  *  - the readers return the recorded values, and keep their contract on
  *    a missing or malformed file (None; a malformed fan-out intent
  *    throws);
  *  - the writers produce these bytes exactly.
  */
class SidecarFormatSpec extends SparkSuite {

  import graft.SparkSuite.spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("sidecar-format").toString

  private def put(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(UTF_8))
  }

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  private def commit(dir: String, rows: Seq[(Long, String, Long, String)],
      rec: Boolean = false, watermark: Option[Long] = None): Unit =
    CdcStream.applyBatchToReplica(dir, rows.toDF("id", "v", "seq", "op"),
      Seq("id"), Seq(col("seq")), numBuckets = 1, recordChanges = rec,
      watermark = watermark)

  private val malformed = Seq("", "not json", "[1, 2]", "{\"a\": ")

  test("readers: hand-written sidecars read back their values; missing " +
      "or malformed ones read None") {
    val dir = freshDir()
    val promo = Paths.get(dir, "_promotion.json")
    assert(CdcStream.promotionRecord(dir).isEmpty)
    put(promo, """{"demotedDir":"/data/old \"p\"","demotedFork":3,"promotionVersion":4}""")
    assert(CdcStream.promotionRecord(dir).contains(("/data/old \"p\"", 3L, 4L)))
    put(promo, """{"demotedDir":"/d","demotedFork":3}""")
    assert(CdcStream.promotionRecord(dir).isEmpty, "a missing field")

    val retain = Paths.get(dir, "_retain.json")
    assert(CdcStream.retentionPin(dir).isEmpty)
    put(retain, """{"retainFromVersion":7}""")
    assert(CdcStream.retentionPin(dir).contains(7L))
    put(retain, """{"retainFromVersion":"7"}""")
    assert(CdcStream.retentionPin(dir).isEmpty, "a string is not a version")

    val clone = Paths.get(dir, "v000000002", "_clone.json")
    assert(CdcStream.cloneProvenance(dir, 2L).isEmpty)
    put(clone, """{"source":"/data/src","sourceVersion":1}""")
    assert(CdcStream.cloneProvenance(dir, 2L).contains(("/data/src", 1L)))
    // a GC-retired version's sidecar lives under _feed
    put(Paths.get(dir, "_feed", "v000000003", "_clone.json"),
      """{"source":"/data/other","sourceVersion":2}""")
    assert(CdcStream.cloneProvenance(dir, 3L).contains(("/data/other", 2L)))

    val refresh = Paths.get(dir, "_refresh.json")
    assert(CdcStream.refreshCursor(dir).isEmpty)
    put(refresh, """{"source":"/data/src","appliedSourceVersion":5}""")
    assert(CdcStream.refreshCursor(dir).contains(5L))

    val meta = Paths.get(dir, "_feed", "v000000004", "meta.json")
    assert(CdcStream.feedMeta(dir, 4L).isEmpty)
    put(meta, """{"kind":"compact","watermark":42}""")
    assert(CdcStream.feedMeta(dir, 4L).contains((Some("compact"), Some(42L))))
    put(meta, """{"kind":"merge"}""")
    assert(CdcStream.feedMeta(dir, 4L).contains((Some("merge"), None)))
    put(meta, "{}")
    assert(CdcStream.feedMeta(dir, 4L).contains((None, None)))

    for (bad <- malformed) {
      Seq(promo, retain, clone, refresh, meta).foreach(put(_, bad))
      assert(CdcStream.promotionRecord(dir).isEmpty, bad)
      assert(CdcStream.retentionPin(dir).isEmpty, bad)
      assert(CdcStream.cloneProvenance(dir, 2L).isEmpty, bad)
      assert(CdcStream.refreshCursor(dir).isEmpty, bad)
      assert(CdcStream.feedMeta(dir, 4L).isEmpty, bad)
    }

    // the GSI cursor and CURRENT are plain text
    val idx = freshDir()
    assert(SecondaryIndex.appliedPrimaryVersion(idx).isEmpty)
    put(Paths.get(idx, "_applied_primary_version"), "12")
    assert(SecondaryIndex.appliedPrimaryVersion(idx).contains(12L))
    put(Paths.get(idx, "_applied_primary_version"), "x")
    assert(SecondaryIndex.appliedPrimaryVersion(idx).isEmpty)
    Files.createDirectories(Paths.get(idx, "v000000003"))
    put(Paths.get(idx, "CURRENT"), "v000000003")
    assert(CdcStream.replicaCurrentVersion(idx).contains(3L))
  }

  test("readers: a hand-written fan-out intent drives its flips; a " +
      "malformed one throws") {
    val root = freshDir()
    val store = s"$root/t"
    commit(store, Seq((1L, "a", 1L, "update")))
    val intent = Paths.get(root, "_fanout_txn.json")
    // already at v1: the replayed flip is a no-op and the intent clears
    put(intent, s"""[{"dir":"$store","version":1}]""")
    assert(CdcStream.recoverFanOutIntent(root))
    assert(!Files.exists(intent))
    // v5 was never prepared: the flip names the parsed store and version
    put(intent, s"""[{"dir":"$store","version":5}]""")
    val e = intercept[IllegalStateException](CdcStream.recoverFanOutIntent(root))
    assert(e.getMessage.contains(s"$store has no prepared version v000000005"),
      e.getMessage)
    for (bad <- malformed :+ s"""{"dir":"$store","version":1}""" :+
        s"""[{"dir":"$store"}]""") {
      put(intent, bad)
      intercept[IllegalStateException](CdcStream.recoverFanOutIntent(root))
    }
    assert(CdcStream.replicaCurrentVersion(store).contains(1L))
  }

  test("writers: every sidecar is byte-identical to the hand-written form") {
    val root = freshDir()
    CdcStream.writeFanOutIntent(root, Seq(("/data/a \"q\"", 3L), ("/data/b", 4L)))
    assert(read(Paths.get(root, "_fanout_txn.json")) ==
      """[{"dir":"/data/a \"q\"","version":3},{"dir":"/data/b","version":4}]""")

    val demoted = freshDir()
    CdcStream.writePromotionRecord(s"$root/f", demoted, 3L, 4L)
    val canonical = new java.io.File(demoted).getCanonicalPath
    assert(read(Paths.get(root, "f", "_promotion.json")) ==
      s"""{"demotedDir":"$canonical","demotedFork":3,"promotionVersion":4}""")

    CdcStream.pinReplicaRetention(s"$root/p", 7L)
    assert(read(Paths.get(root, "p", "_retain.json")) == """{"retainFromVersion":7}""")

    SecondaryIndex.recordAppliedPrimaryVersion(s"$root/i", 12L)
    assert(read(Paths.get(root, "i", "_applied_primary_version")) == "12")

    // CURRENT, the clone sidecar, the refresh cursor and the feed meta
    // from real commits
    val src = s"$root/src"
    commit(src, Seq((1L, "a", 1L, "update")), rec = true, watermark = Some(10L))
    assert(read(Paths.get(src, "CURRENT")) == "v000000001")
    val srcAbs = new java.io.File(src).getAbsolutePath
    CdcStream.cloneReplica(src, s"$root/c")
    assert(read(Paths.get(root, "c", "v000000002", "_clone.json")) ==
      s"""{"source":"$srcAbs","sourceVersion":1}""")
    commit(src, Seq((2L, "b", 2L, "update")), rec = true)
    CdcStream.refreshClone(spark, s"$root/c", Seq("id"), Seq(col("seq")))
    assert(read(Paths.get(root, "c", "_refresh.json")) ==
      s"""{"source":"$srcAbs","appliedSourceVersion":2}""")
    // the third commit rewrites the one bucket, so GC retires v1 into
    // _feed with its kind and watermark
    commit(src, Seq((1L, "c", 3L, "update")), rec = true)
    assert(read(Paths.get(src, "_feed", "v000000001", "meta.json")) ==
      """{"kind":"merge","watermark":10}""")
    assert(read(Paths.get(src, "CURRENT")) == "v000000003")
    // no writer leaves a tmp file behind
    Seq(root, src, s"$root/c", s"$root/f", s"$root/p", s"$root/i",
        s"$src/_feed/v000000001").foreach { d =>
      assert(!new java.io.File(d).list().exists(_.startsWith(
        graft.io.AtomicFiles.TmpPrefix)), d)
    }
  }
}
