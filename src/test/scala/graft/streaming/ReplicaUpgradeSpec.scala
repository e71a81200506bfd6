package graft.streaming

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Stores in an older format — the shapes earlier graft versions wrote,
  * made here by hand or by stripping manifest fields: a pre-bucket flat
  * version dir, a manifest without a schema or keyCols, and a tombstone
  * min with a null field. Every entry point refuses such a store and
  * names [[CdcStream.upgradeReplica]]; after the upgrade the store
  * reads, serves key lookups, compacts and ages tombstones out as it
  * did before. Tombstones without recorded order columns are covered
  * by the legacy tombstone cases of [[MergeOnReadSpec]].
  */
class ReplicaUpgradeSpec extends SparkSuite {

  import graft.SparkSuite.spark.implicits._

  private val om = new ObjectMapper()

  private def freshDir(): String =
    Files.createTempDirectory("replica-upgrade").toString

  private def batch(rows: Seq[(Long, String, Long, String)]) =
    rows.toDF("id", "v", "seq", "op")

  private def apply(dir: String, rows: Seq[(Long, String, Long, String)],
      conditional: Boolean = false, defer: Boolean = false): Unit =
    CdcStream.applyBatchToReplica(dir, batch(rows), Seq("id"),
      Seq(col("seq")), conditionalOrder = conditional, deferMerge = defer)

  private def content(dir: String): Seq[(Long, String)] =
    CdcStream.readReplica(spark, dir).get
      .select($"id", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  private def lookup(dir: String, ids: Long*): Seq[(Long, String)] =
    CdcStream.readReplicaForKeys(spark, dir, Seq("id"), ids.toDF("id")).get
      .select($"id", $"v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  private def manifestPath(dir: String) = {
    val cur = Files.readString(Paths.get(dir, "CURRENT")).trim
    Paths.get(dir, cur, "manifest.json")
  }

  private def manifest(dir: String): ObjectNode =
    om.readTree(Files.readString(manifestPath(dir))).asInstanceOf[ObjectNode]

  /** Rewrite the CURRENT manifest in place — the older shape. */
  private def edit(dir: String)(f: ObjectNode => Unit): Unit = {
    val n = manifest(dir)
    f(n)
    Files.writeString(manifestPath(dir), om.writeValueAsString(n))
  }

  private def fieldNames(n: ObjectNode, field: String): Set[String] =
    Option(n.get(field)).map { o =>
      val it = o.fieldNames()
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }.getOrElse(Set.empty)

  private def refused(body: => Any): Unit = {
    val e = intercept[IllegalStateException](body)
    assert(e.getMessage.contains("upgradeReplica"), e.getMessage)
  }

  test("flat layout") {
    // a version dir holding the rows directly, no manifest
    val dir = freshDir()
    val rows = (0L until 20L).map(i => (i, s"a$i"))
    rows.toDF("id", "v").write.parquet(s"$dir/v000000001")
    Files.writeString(Paths.get(dir, "CURRENT"), "v000000001")
    refused(CdcStream.readReplica(spark, dir))
    CdcStream.upgradeReplica(spark, dir, Seq("id"))
    assert(CdcStream.replicaCurrentVersion(dir).contains(2L))
    val m = manifest(dir)
    assert(m.get("numBuckets").asInt == CdcStream.DefaultReplicaBuckets)
    assert(m.get("commitKind").asText == "upgrade")
    assert(content(dir) == rows)
    assert(lookup(dir, 3L, 7L, 99L) == Seq((3L, "a3"), (7L, "a7")))
    // merges and compaction run on the upgraded store
    apply(dir, Seq((3L, "b3", 1L, "update"), (7L, "x", 1L, "delete")))
    CdcStream.compactReplica(spark, dir)
    assert(content(dir) ==
      rows.filterNot(_._1 == 7L).map { case (i, v) => (i, if (i == 3L) "b3" else v) })
    // an upgrade is content-identical: the feed and history say so
    val kinds = CdcStream.describeReplicaHistory(spark, dir)
      .select($"version", $"kind").as[(Long, Option[String])].collect().toMap
    assert(kinds(1L).isEmpty && kinds(2L).contains("upgrade"))
  }

  test("manifest without a schema") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir,
      (0L until 16L).map(i => (i, s"a$i", "update")).toDF("id", "v", "op"),
      Seq("id"), Seq(col("v")))
    // additive evolution: the touched buckets gain `w`, the others
    // carry over without it — the union comes from a footer merge
    CdcStream.applyBatchToReplica(dir,
      Seq((1L, "b1", 10L, "update")).toDF("id", "v", "w", "op"),
      Seq("id"), Seq(col("v")))
    val before = CdcStream.readReplica(spark, dir).get
      .select($"id", $"v", $"w").as[(Long, String, Option[Long])].collect()
      .toSeq.sortBy(_._1)
    edit(dir)(_.remove("schema"))
    refused(CdcStream.readReplica(spark, dir))
    CdcStream.upgradeReplica(spark, dir, Seq("id"))
    assert(manifest(dir).get("schema").asText.contains("\"w\""))
    val after = CdcStream.readReplica(spark, dir).get
      .select($"id", $"v", $"w").as[(Long, String, Option[Long])].collect()
      .toSeq.sortBy(_._1)
    assert(after == before)
    assert(lookup(dir, 1L, 2L) == Seq((1L, "b1"), (2L, "a2")))
    CdcStream.compactReplica(spark, dir)
    assert(content(dir) == before.map(r => (r._1, r._2)))
  }

  test("manifest without keyCols") {
    val dir = freshDir()
    CdcStream.applyBatchToReplica(dir,
      (0L until 16L).map(i => (i, s"a$i", "update")).toDF("id", "v", "op"),
      Seq("id"), Seq(col("v")))
    val before = content(dir)
    edit(dir) { n => n.remove("keyCols"); n.remove("opCol") }
    refused(CdcStream.rebucketReplica(spark, dir, Seq("id"), 7))
    CdcStream.upgradeReplica(spark, dir, Seq("id"))
    val m = manifest(dir)
    assert(m.get("keyCols").get(0).asText == "id" && m.get("opCol").asText == "op")
    assert(content(dir) == before)
    // the recorded keyCols now check the caller's routing
    intercept[IllegalArgumentException] {
      CdcStream.rebucketReplica(spark, dir, Seq("v"), 7)
    }
    CdcStream.rebucketReplica(spark, dir, Seq("id"), 7)
    assert(lookup(dir, 5L) == Seq((5L, "a5")))
    CdcStream.compactReplica(spark, dir)
    assert(content(dir) == before)
  }

  test("a tombstone min with a null field") {
    val dir = freshDir()
    apply(dir, Seq((1L, "a", 5L, "update"), (2L, "b", 5L, "update")), conditional = true)
    apply(dir, Seq((1L, "x", 9L, "delete")), conditional = true)
    CdcStream.compactReplica(spark, dir)
    // the min an older writer recorded when a null order value
    // entered the aggregate: to_json drops the null field
    val b = fieldNames(manifest(dir), "tombstoneMins").head
    edit(dir)(_.get("tombstoneMins").asInstanceOf[ObjectNode].put(b, "{}"))
    refused(CdcStream.maintainReplica(spark, dir,
      tombstoneHorizon = Some(col("seq") <= lit(9L))))
    CdcStream.upgradeReplica(spark, dir, Seq("id"))
    assert(manifest(dir).get("tombstoneMins").get(b).asText == """{"seq":9}""")
    assert(lookup(dir, 1L, 2L) == Seq((2L, "b")))
    assert(CdcStream.maintainReplica(spark, dir,
      tombstoneHorizon = Some(col("seq") <= lit(9L))))
    assert(!manifest(dir).has("tombstoneMins"))
    assert(content(dir) == Seq((2L, "b")))
    // converged: the same horizon is now a no-op
    assert(!CdcStream.maintainReplica(spark, dir,
      tombstoneHorizon = Some(col("seq") <= lit(9L))))
  }

  test("every entry point refuses an older store") {
    val dir = freshDir()
    apply(dir, (0L until 8L).map(i => (i, s"a$i", 1L, "update")))
    apply(dir, Seq((1L, "b1", 2L, "update")))
    edit(dir)(_.remove("keyCols"))
    val keys = Seq(1L).toDF("id")
    refused(CdcStream.readReplica(spark, dir))
    refused(CdcStream.readReplicaForKeys(spark, dir, Seq("id"), keys))
    refused(apply(dir, Seq((2L, "b2", 3L, "update"))))
    refused(apply(dir, Seq((2L, "b2", 3L, "update")), defer = true))
    refused(CdcStream.compactReplica(spark, dir))
    refused(CdcStream.maintainReplica(spark, dir))
    refused(CdcStream.rebucketReplica(spark, dir, Seq("id"), 4))
    refused(CdcStream.eraseKeys(spark, dir, Seq("id"), keys))
    refused(CdcStream.restoreReplica(spark, dir, 1L))
    refused(CdcStream.cloneReplica(dir, freshDir()))
    val fsck = CdcStream.fsckReplica(spark, dir)
      .filter($"check" === "current_pointer").select($"severity", $"detail")
      .as[(String, String)].collect()
    assert(fsck.length == 1 && fsck.head._1 == "error" &&
      fsck.head._2.contains("upgradeReplica"))
    // nothing was committed by any of them
    assert(CdcStream.replicaCurrentVersion(dir).contains(2L))
    // a historical version in the older format reads like a GC'd one
    CdcStream.upgradeReplica(spark, dir, Seq("id"))
    assert(CdcStream.readReplicaAt(spark, dir, 2L).isEmpty)
    assert(content(dir) == (0L until 8L).map(i => (i, if (i == 1L) "b1" else s"a$i")))
    // upgrading a store already in the current format changes nothing
    CdcStream.upgradeReplica(spark, dir, Seq("id"))
    assert(CdcStream.replicaCurrentVersion(dir).contains(3L))
  }
}
