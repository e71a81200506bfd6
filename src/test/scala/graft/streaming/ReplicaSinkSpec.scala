package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}
import graft.cdc.ChangelogGenerator
import graft.sources.replica.{ReplicaSink, ReplicaSinkConfig, ReplicaSinkProvider}

/** The `graft-replica` sink FORMAT (`writeStream.format("graft-replica")`)
  * — the user-facing path into the bucket-scoped MERGE replica, replacing
  * hand-written `foreachBatch` bodies. Covers all three input shapes
  * (typed rows, single-table envelopes, `{db}/{table}` fan-out), the
  * per-replica batch-commit markers (exactly-once under replay), and
  * fail-fast option validation.
  */
class ReplicaSinkSpec extends SparkSuite {
  private lazy val sp = spark
  import sp.implicits._

  private def freshChangelog(byType: Boolean = false): String = {
    val d = Files.createTempDirectory("graft-sink-log").toString
    ChangelogGenerator.generate(Tables(spark, sfDir).events, d,
      recordsPerFile = 300, tableByEventType = byType)
    d
  }

  private def ck(): String = Files.createTempDirectory("graft-sink-ck").toString

  /** Expected latest state per user over the events fixture: last op in
    * (ts, event_id) order; a final `error` (delete) removes the key.
    */
  private def expectedState(): Map[Long, Long] = {
    val w = Window.partitionBy($"user_id").orderBy(desc("ts_ms"), desc("event_id"))
    Tables(spark, sfDir).events
      .select($"user_id", $"event_id", unix_millis($"ts").as("ts_ms"), $"event_type")
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .filter($"event_type" =!= "error")
      .select($"user_id", $"event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("typed rows through writeStream.format reach the merged latest state") {
    val log = freshChangelog()
    val replica = Files.createTempDirectory("graft-sink-replica").toString
    val raw = spark.readStream.format("graft-binlog")
      .option("path", log)
      .option("maxEventsPerTrigger", "200") // several micro-batches
      .load()
    val rowSchema = graft.queries.SourceQueries.eventsRowSchema
    val q = CdcStream.parsed(raw, rowSchema)
      .select($"user_id", $"event_id", $"ts_ms", $"op")
      .writeStream.format("graft-replica")
      .option("path", replica)
      .option("keys", "user_id")
      .option("orderColumns", "ts_ms,event_id")
      .option("watermarkColumn", "ts_ms")
      .option("checkpointLocation", ck())
      .start()
    try q.processAllAvailable() finally q.stop()

    val got = CdcStream.readReplica(spark, replica).get
      .select($"user_id", $"event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expectedState())
    // several micro-batches committed => several versions, all marked
    assert(CdcStream.replicaVersions(replica).size > 1)
    // the watermark column was tracked on the latest version
    val v = CdcStream.replicaVersions(replica).max
    assert(CdcStream.replicaWatermark(replica, v).nonEmpty)
  }

  test("deferMerge through the sink: delta-only commits, identical state, " +
      "compaction folds") {
    val log = freshChangelog()
    val replica = Files.createTempDirectory("graft-sink-mor").toString
    val raw = spark.readStream.format("graft-binlog")
      .option("path", log)
      .option("maxEventsPerTrigger", "200")
      .load()
    val rowSchema = graft.queries.SourceQueries.eventsRowSchema
    val q = CdcStream.parsed(raw, rowSchema)
      .select($"user_id", $"event_id", $"ts_ms", $"op")
      .writeStream.format("graft-replica")
      .option("path", replica)
      .option("keys", "user_id")
      .option("orderColumns", "ts_ms,event_id")
      .option("deferMerge", "true")
      .option("checkpointLocation", ck())
      .start()
    try q.processAllAvailable() finally q.stop()
    // every commit was delta-only: no version dir holds base buckets
    val versionDirs = new java.io.File(replica).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v[0-9]{9}"))
    assert(versionDirs.nonEmpty &&
      versionDirs.forall(d => !new java.io.File(d, "data").exists()),
      "deferMerge commits must never write base buckets")
    val got = CdcStream.readReplica(spark, replica).get
      .select($"user_id", $"event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expectedState())
    // the registered READ format folds pending deltas transparently
    val viaFormat = spark.read.format("graft-replica")
      .option("path", replica).load()
      .select($"user_id", $"event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFormat === expectedState())
    CdcStream.compactReplica(spark, replica)
    val after = CdcStream.readReplica(spark, replica).get
      .select($"user_id", $"event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after === expectedState())
  }

  test("deferMerge + conditionalOrder compose through the sink") {
    val replica = Files.createTempDirectory("graft-sink-morcond").toString
    val sink = new ReplicaSink(ReplicaSinkConfig(Map(
      "path" -> replica, "keys" -> "user_id", "orderColumns" -> "ord",
      "deferMerge" -> "true", "conditionalOrder" -> "true")))
    def b(rows: (Long, Long, String, String)*) =
      rows.toSeq.toDF("user_id", "ord", "v", "op")
    // batches arrive OUT of source order; deferred order-fold converges
    sink.addBatch(0, b((1L, 50L, "v50", "update"), (2L, 50L, "w50", "update")))
    sink.addBatch(1, b((1L, 30L, "v30", "update"), (2L, 80L, "x", "delete")))
    sink.addBatch(2, b((2L, 60L, "w60", "update"), (3L, 10L, "y10", "update")))
    // commits were delta-only
    val versionDirs = new java.io.File(replica).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v[0-9]{9}"))
    assert(versionDirs.nonEmpty &&
      versionDirs.forall(d => !new java.io.File(d, "data").exists()),
      "deferred conditional commits must never write base buckets")
    // key 1: ord-50 beats the later-committed ord-30; key 2: the ord-80
    // delete beats both updates; key 3 lives
    val got = CdcStream.readReplica(spark, replica).get
      .select($"user_id", $"v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "v50", 3L -> "y10"))
    // compaction materializes key 2's tombstone; a later low-order
    // update through the sink still loses to it
    CdcStream.compactReplica(spark, replica)
    sink.addBatch(3, b((2L, 70L, "w70", "update")))
    val after = CdcStream.readReplica(spark, replica).get
      .select($"user_id", $"v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after === Map(1L -> "v50", 3L -> "y10"),
      "an update below a stored tombstone's order must stay dead")
  }

  test("autoCompactDeltas keeps the deferred sink's chains bounded") {
    val log = freshChangelog()
    val replica = Files.createTempDirectory("graft-sink-auto").toString
    val raw = spark.readStream.format("graft-binlog")
      .option("path", log)
      .option("maxEventsPerTrigger", "120") // many micro-batches
      .load()
    val rowSchema = graft.queries.SourceQueries.eventsRowSchema
    val q = CdcStream.parsed(raw, rowSchema)
      .select($"user_id", $"event_id", $"ts_ms", $"op")
      .writeStream.format("graft-replica")
      .option("path", replica)
      .option("keys", "user_id")
      .option("orderColumns", "ts_ms,event_id")
      .option("deferMerge", "true")
      .option("autoCompactDeltas", "3")
      .option("checkpointLocation", ck())
      .start()
    try q.processAllAvailable() finally q.stop()
    // ≥8 deferred commits happened, but no bucket's pending chain may
    // ever have passed the fold threshold
    val cur = java.nio.file.Files.readString(
      java.nio.file.Paths.get(replica, "CURRENT")).trim
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(replica, cur, "manifest.json"))
    val chains = "\"\\d+\":\\[[^\\]]*\\]".r.findAllIn(manifest)
      .map(_.count(_ == ',') + 1).toSeq
    assert(chains.forall(_ <= 3), s"chains=$chains")
    val got = CdcStream.readReplica(spark, replica).get
      .select($"user_id", $"event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expectedState())
  }

  test("indexColumn through the sink: a value index tracks the stream " +
      "and serves pruned lookups") {
    val log = freshChangelog()
    val replica = Files.createTempDirectory("graft-sink-gsi-p").toString
    val index = Files.createTempDirectory("graft-sink-gsi-i").toString
    val raw = spark.readStream.format("graft-binlog")
      .option("path", log)
      .option("maxEventsPerTrigger", "250")
      .load()
    val rowSchema = graft.queries.SourceQueries.eventsRowSchema
    val q = CdcStream.parsed(raw, rowSchema)
      .select($"user_id", $"event_id", $"ts_ms", $"op")
      .withColumn("band", $"event_id" % 7L)
      .writeStream.format("graft-replica")
      .option("path", replica)
      .option("keys", "user_id")
      .option("orderColumns", "ts_ms,event_id")
      .option("indexColumn", "band")
      .option("indexPath", index)
      .option("deferMerge", "true") // index side commits merge-on-read
      .option("checkpointLocation", ck())
      .start()
    try q.processAllAvailable() finally q.stop()
    val want = expectedState()
    val got = CdcStream.readReplica(spark, replica).get
      .select($"user_id", $"event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    // the index serves exactly the latest-state keys of the probed band
    val hits = graft.streaming.SecondaryIndex.lookupByIndex(spark,
        replica, index, Seq("user_id"), $"event_id" % 7L, "band",
        Seq(3L).toDF("band"))
      .select($"user_id").collect().map(_.getLong(0)).toSet
    assert(hits === want.filter(_._2 % 7 == 3).keySet)
  }

  test("an indexColumn absent from the batch fails by name at apply " +
      "time (comma mis-splits surface, never phantom indexes)") {
    val replica = Files.createTempDirectory("graft-sink-gsi-bad").toString
    val index = Files.createTempDirectory("graft-sink-gsi-badix").toString
    val sink = new ReplicaSink(ReplicaSinkConfig(Map(
      "path" -> replica, "keys" -> "id", "orderColumns" -> "seq",
      // the comma-list syntax has no escaping: a column name that
      // contains a comma arrives here as two bogus specs — the
      // apply-time schema check is what surfaces it
      "indexColumn" -> "no_such_col", "indexPath" -> index)))
    val batch = Seq((1L, "a", 1L, "update")).toDF("id", "v", "seq", "op")
    val e = intercept[IllegalArgumentException] {
      sink.addBatch(0, batch)
    }
    assert(e.getMessage.contains("no_such_col"),
      s"the error must name the missing column: ${e.getMessage}")
    assert(e.getMessage.contains("no escaping"),
      s"the error must explain the comma syntax: ${e.getMessage}")
  }

  test("multiple indexColumns through the sink: both indexes track, a key move cleans both") {
    val log = freshChangelog()
    val replica = Files.createTempDirectory("graft-sink-mgsi-p").toString
    val ixA = Files.createTempDirectory("graft-sink-mgsi-a").toString
    val ixB = Files.createTempDirectory("graft-sink-mgsi-b").toString
    val raw = spark.readStream.format("graft-binlog")
      .option("path", log)
      .option("maxEventsPerTrigger", "250")
      .load()
    val rowSchema = graft.queries.SourceQueries.eventsRowSchema
    val q = CdcStream.parsed(raw, rowSchema)
      .select($"user_id", $"event_id", $"ts_ms", $"op")
      .withColumn("band", $"event_id" % 7L)
      .withColumn("res", $"event_id" % 5L)
      .writeStream.format("graft-replica")
      .option("path", replica)
      .option("keys", "user_id")
      .option("orderColumns", "ts_ms,event_id")
      .option("indexColumn", "band,res") // comma-separated = two GSIs
      .option("indexPath", s"$ixA,$ixB")
      .option("checkpointLocation", ck())
      .start()
    try q.processAllAvailable() finally q.stop()
    val want = expectedState()
    // the primary converged
    val got = CdcStream.readReplica(spark, replica).get
      .select($"user_id", $"event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    // BOTH indexes serve exactly the latest-state keys of their probe:
    // any stale (old event_id's band/res, key) pointer a moved key left
    // behind would surface here if either index missed its delete
    val hitsA = graft.streaming.SecondaryIndex.lookupByIndex(spark,
        replica, ixA, Seq("user_id"), $"event_id" % 7L, "band",
        Seq(3L).toDF("band"))
      .select($"user_id").collect().map(_.getLong(0)).toSet
    assert(hitsA === want.filter(_._2 % 7 == 3).keySet)
    val hitsB = graft.streaming.SecondaryIndex.lookupByIndex(spark,
        replica, ixB, Seq("user_id"), $"event_id" % 5L, "res",
        Seq(2L).toDF("res"))
      .select($"user_id").collect().map(_.getLong(0)).toSet
    assert(hitsB === want.filter(_._2 % 5 == 2).keySet)
    // mismatched list lengths refuse at config time
    intercept[IllegalArgumentException] {
      graft.sources.replica.ReplicaSinkConfig(Map(
        "path" -> replica, "keys" -> "user_id",
        "indexColumn" -> "band,res", "indexPath" -> ixA))
    }
  }

  test("single-table envelope input parses under the registry schema") {
    val log = freshChangelog()
    val replica = Files.createTempDirectory("graft-sink-replica1").toString
    val q = spark.readStream.format("graft-binlog")
      .option("path", log).load() // raw envelopes: value STRING
      .writeStream.format("graft-replica")
      .option("path", replica)
      .option("schemaRegistry", log)
      .option("table", "graft.events")
      .option("keys", "user_id")
      .option("orderColumns", "ts_ms,event_id")
      .option("checkpointLocation", ck())
      .start()
    try q.processAllAvailable() finally q.stop()

    val got = CdcStream.readReplica(spark, replica).get
      .select($"user_id", $"event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expectedState())
  }

  test("fan-out template routes tables from the registry with global keys") {
    val log = freshChangelog(byType = true)
    val root = Files.createTempDirectory("graft-sink-fan").toString
    val q = spark.readStream.format("graft-binlog")
      .option("path", log).load()
      .writeStream.format("graft-replica")
      .option("path", s"$root/{db}/{table}")
      .option("schemaRegistry", log)
      .option("keys", "event_id")
      .option("checkpointLocation", ck())
      .start()
    try q.processAllAvailable() finally q.stop()

    val byType = Tables(spark, sfDir).events
      .groupBy($"event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // click/purchase/view/signup upsert on unique event_id => all rows kept
    Seq("click", "purchase", "view").foreach { t =>
      val n = CdcStream.readReplica(spark, s"$root/graft/$t").get.count()
      assert(n === byType(t), s"table $t")
    }
    // `error` maps to delete: every op is a tombstone => empty table
    assert(CdcStream.readReplica(spark, s"$root/graft/error")
      .map(_.count()).getOrElse(0L) === 0L)
  }

  test("a replayed batch id is skipped; fan-out replays only unfinished tables") {
    val replica = Files.createTempDirectory("graft-sink-replay").toString
    val cfg = ReplicaSinkConfig(Map(
      "path" -> replica, "keys" -> "user_id", "orderColumns" -> "ord"))
    val sink = new ReplicaSink(cfg)
    def batch(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, i * 10, "insert")).toDF("user_id", "ord", "op")

    sink.addBatch(0, batch(Seq(1, 2, 3)))
    val v1 = CdcStream.replicaVersions(replica)
    sink.addBatch(0, batch(Seq(1, 2, 3))) // replay: marker short-circuits
    assert(CdcStream.replicaVersions(replica) === v1, "no version churn on replay")
    sink.addBatch(1, batch(Seq(4)))
    assert(CdcStream.replicaVersions(replica).size === v1.size + 1)
    assert(CdcStream.readReplica(spark, replica).get.count() === 4)

    // fan-out: two tables committed, one marker removed => only that
    // table re-merges on replay
    val log = freshChangelog(byType = true)
    val root = Files.createTempDirectory("graft-sink-fanreplay").toString
    val fanCfg = ReplicaSinkConfig(Map(
      "path" -> s"$root/{db}/{table}", "schemaRegistry" -> log,
      "keys" -> "event_id"))
    val fanSink = new ReplicaSink(fanCfg)
    val envelopes = spark.read.format("graft-binlog").option("path", log).load()
    fanSink.addBatch(7, envelopes)
    val clickV = CdcStream.replicaVersions(s"$root/graft/click")
    val purchV = CdcStream.replicaVersions(s"$root/graft/purchase")
    // simulate a crash after click committed but before purchase marked
    val marker = new java.io.File(s"$root/graft/purchase/_sink_batches/b7")
    assert(marker.exists()); marker.delete()
    fanSink.addBatch(7, envelopes)
    assert(CdcStream.replicaVersions(s"$root/graft/click") === clickV,
      "marked table untouched by replay")
    assert(CdcStream.replicaVersions(s"$root/graft/purchase").size === purchV.size + 1,
      "unmarked table re-merged")
  }

  test("per-table keys.<db>.<table> overrides select which tables materialize") {
    val log = freshChangelog(byType = true)
    val root = Files.createTempDirectory("graft-sink-keyed").toString
    val cfg = ReplicaSinkConfig(Map(
      "path" -> s"$root/{db}/{table}", "schemaRegistry" -> log,
      "keys.graft.click" -> "event_id"))
    new ReplicaSink(cfg).addBatch(0,
      spark.read.format("graft-binlog").option("path", log).load())
    assert(CdcStream.readReplica(spark, s"$root/graft/click").nonEmpty)
    assert(CdcStream.readReplica(spark, s"$root/graft/view").isEmpty,
      "unkeyed table skipped")
  }

  test("spark.read.format reads current state, time travel, and prunes key lookups") {
    val replica = Files.createTempDirectory("graft-read-fmt").toString
    val cfg = ReplicaSinkConfig(Map(
      "path" -> replica, "keys" -> "user_id", "orderColumns" -> "ord",
      "watermarkColumn" -> "ord"))
    val sink = new ReplicaSink(cfg)
    sink.addBatch(0, Seq((1L, 10L, "insert"), (2L, 20L, "insert"), (3L, 30L, "insert"))
      .toDF("user_id", "ord", "op"))
    sink.addBatch(1, Seq((2L, 40L, "update"), (4L, 50L, "insert"), (3L, 60L, "delete"))
      .toDF("user_id", "ord", "op"))

    // current state through the format
    val cur = spark.read.format("graft-replica").option("path", replica).load()
    assert(cur.select($"user_id", $"ord").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet === Set((1L, 10L), (2L, 40L), (4L, 50L)))

    // version time travel
    val v1 = CdcStream.replicaVersions(replica).min
    val old = spark.read.format("graft-replica")
      .option("path", replica).option("version", v1.toString).load()
    assert(old.count() === 3)

    // watermark time travel: as of ord 35 only batch 0 qualifies
    val wm = spark.read.format("graft-replica")
      .option("path", replica).option("asOfWatermark", "35").load()
    assert(wm.count() === 3)

    // key-equality pushdown prunes to candidate buckets; all filters
    // are re-applied by Spark so results stay exact
    val rel = new graft.sources.replica.ReplicaRelation(
      spark.sqlContext, replica, None, None, Seq("user_id"))
    val df = spark.sqlContext.baseRelationToDataFrame(rel)
    assert(df.filter($"user_id" === 2L).select($"ord").as[Long].collect()
      === Array(40L))
    assert(rel.lastScanPruned, "equality lookup took the bucket-pruned path")
    assert(df.filter($"user_id".isin(1L, 4L)).count() === 2)
    assert(rel.lastScanPruned, "IN lookup took the bucket-pruned path")
    assert(df.count() === 3)
    assert(!rel.lastScanPruned, "unfiltered scan reads the full replica")
    // a miss prunes AND returns nothing
    assert(df.filter($"user_id" === 999L).count() === 0)
  }

  test("spark.read.format takes its schema from the manifest — the read's " +
      "own schema for eager, deferred, conditional, version and watermark " +
      "reads — and still refuses a store with no readable state at load") {
    val root = Files.createTempDirectory("graft-read-schema").toString
    def load(path: String, opts: (String, String)*) = opts
      .foldLeft(spark.read.format("graft-replica").option("path", path)) {
        case (r, (k, v)) => r.option(k, v) }
      .load()
    // nested and non-nullable columns: the parquet read makes them nullable
    def batch(rows: Seq[(Long, String, Long, String)]) =
      rows.toDF("id", "v", "seq", "op")
        .withColumn("tags", array(lit(1L)))
        .withColumn("meta", struct($"seq".as("s")))
    def apply(dir: String, rows: Seq[(Long, String, Long, String)],
        wm: Long = 0L, defer: Boolean = false, cond: Boolean = false,
        extra: Boolean = false): Unit =
      CdcStream.applyBatchToReplica(dir,
        if (extra) batch(rows).withColumn("extra", $"seq" * 2) else batch(rows),
        Seq("id"), Seq(col("seq")), numBuckets = 4, watermark = Some(wm),
        deferMerge = defer, conditionalOrder = cond)
    val b1 = Seq((1L, "a", 1L, "update"), (2L, "b", 1L, "update"))
    val b2 = Seq((1L, "a2", 2L, "update"), (3L, "c", 2L, "update"))

    // eager, its second commit adding a column
    val eager = s"$root/eager"
    apply(eager, b1, wm = 10L); apply(eager, b2, wm = 20L, extra = true)
    assert(load(eager).schema === CdcStream.readReplica(spark, eager).get.schema)
    assert(load(eager).schema.fieldNames.contains("extra"))
    // versionAsOf and asOfWatermark serve the narrower first version
    assert(load(eager, "version" -> "1").schema ===
      CdcStream.readReplicaAt(spark, eager, 1L).get.schema)
    assert(load(eager, "asOfWatermark" -> "15").schema ===
      CdcStream.readReplicaAtWatermark(spark, eager, 15L).get.schema)
    assert(!load(eager, "version" -> "1").schema.fieldNames.contains("extra"))

    // deferred, with pending deltas
    val deferred = s"$root/deferred"
    apply(deferred, b1, defer = true); apply(deferred, b2, defer = true)
    assert(load(deferred).schema === CdcStream.readReplica(spark, deferred).get.schema)

    // conditional, holding a tombstone (the read drops the column)
    val cond = s"$root/cond"
    apply(cond, b1, cond = true)
    apply(cond, Seq((2L, "b", 5L, "delete")), cond = true)
    assert(load(cond).schema === CdcStream.readReplica(spark, cond).get.schema)
    assert(!load(cond).schema.fieldNames.contains(CdcStream.Tombstone))

    // no readable state: refused when the relation loads
    Seq(() => load(s"$root/never"), () => load(eager, "version" -> "99"),
        () => load(eager, "asOfWatermark" -> "5")).foreach { attempt =>
      val e = intercept[IllegalArgumentException](attempt())
      assert(e.getMessage.contains("no readable state"), e.getMessage)
    }
  }

  test("checkpoint restart: a re-served batch commits no duplicate version") {
    val log = freshChangelog()
    val replica = Files.createTempDirectory("graft-sink-restart").toString
    val checkpoint = ck()
    val rowSchema = graft.queries.SourceQueries.eventsRowSchema
    def start() = {
      val raw = spark.readStream.format("graft-binlog")
        .option("path", log)
        .option("maxEventsPerTrigger", "200")
        .load()
      CdcStream.parsed(raw, rowSchema)
        .select($"user_id", $"event_id", $"ts_ms", $"op")
        .writeStream.format("graft-replica")
        .option("path", replica)
        .option("keys", "user_id")
        .option("orderColumns", "ts_ms,event_id")
        .option("checkpointLocation", checkpoint)
        .start()
    }
    // first run: stop after at least one batch committed
    val q1 = start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (CdcStream.replicaVersions(replica).isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally q1.stop()
    val midVersions = CdcStream.replicaVersions(replica)
    assert(midVersions.nonEmpty, "first run committed something")
    // restart from the same checkpoint: the engine re-serves the
    // last uncommitted batch; the sink's markers make re-served work
    // idempotent and the final state complete
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = CdcStream.readReplica(spark, replica).get
      .select($"user_id", $"event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expectedState(), "state complete after restart")
  }

  test("change feed: committed nets stream out in version order and rebuild the state") {
    val replica = Files.createTempDirectory("graft-cf").toString
    val cfg = ReplicaSinkConfig(Map(
      "path" -> replica, "keys" -> "user_id", "orderColumns" -> "ord",
      "changeFeed" -> "true"))
    val sink = new ReplicaSink(cfg)
    // batch nets: intra-batch (2,20)+(2,25) nets to (2,25)
    sink.addBatch(0, Seq((1L, 10L, "insert"), (2L, 20L, "insert"), (2L, 25L, "update"))
      .toDF("user_id", "ord", "op"))
    sink.addBatch(1, Seq((1L, 30L, "delete"), (3L, 40L, "insert"))
      .toDF("user_id", "ord", "op"))

    val feed = CdcStream.readReplicaChanges(spark, replica).get
    assert(feed.select($"user_id", $"ord", $"op", $"_commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet === Set((1L, 10L, "insert", 1L), (2L, 25L, "update", 1L),
        (1L, 30L, "delete", 2L), (3L, 40L, "insert", 2L)),
      "feed = per-version nets, deletes included, intra-batch losers absent")

    // REPLAY INVARIANT: merging the feed (ordered by commit version)
    // into a fresh replica rebuilds the live state exactly
    val rebuilt = Files.createTempDirectory("graft-cf-rebuild").toString
    CdcStream.applyBatchToReplica(rebuilt,
      feed.select($"user_id", $"ord", $"op", $"_commit_version"),
      Seq("user_id"), Seq(col("_commit_version"), col("ord")))
    assert(CdcStream.readReplica(spark, rebuilt).get
      .select($"user_id", $"ord").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === CdcStream.readReplica(spark, replica).get
        .select($"user_id", $"ord").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)

    // streaming: existing versions replay, then a NEW commit arrives
    val q = spark.readStream.format("graft-replica")
      .option("path", replica).option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("cf_stream")
      .option("checkpointLocation", ck())
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("cf_stream").count() === 4)
      sink.addBatch(2, Seq((4L, 50L, "insert")).toDF("user_id", "ord", "op"))
      q.processAllAvailable()
      val got = spark.table("cf_stream")
        .select($"user_id", $"_commit_version").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((4L, 3L)), "mid-stream commit served as version 3")
      assert(spark.table("cf_stream").count() === 5)
    } finally q.stop()

    // checkpointed feed restart: committed offsets (version numbers)
    // recover through deserialization; only NEW commits are delivered
    // (memory sink refuses recovery, so collect through foreachBatch)
    val cfCk = ck()
    val cfOut = Files.createTempDirectory("graft-cf-out").toString
    def cfStream() = spark.readStream.format("graft-replica")
      .option("path", replica).option("readChangeFeed", "true").load()
      .writeStream
      .option("checkpointLocation", cfCk)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(cfOut); ()
      }
      .start()
    val q1b = cfStream()
    try { q1b.processAllAvailable() } finally q1b.stop()
    assert(spark.read.parquet(cfOut).count() === 5)
    sink.addBatch(3, Seq((5L, 60L, "insert")).toDF("user_id", "ord", "op"))
    val q2b = cfStream()
    try {
      q2b.processAllAvailable()
      val vs = spark.read.parquet(cfOut).select($"_commit_version")
        .as[Long].collect()
      assert(vs.max === 4L, "the post-restart commit was delivered")
      assert(vs.count(_ == 4L) === 1, "version 4 delivered exactly once")
      assert(vs.length === 6, "no pre-restart rows re-delivered")
    } finally q2b.stop()

    // startingVersion skips history
    val q2 = spark.readStream.format("graft-replica")
      .option("path", replica).option("readChangeFeed", "true")
      .option("startingVersion", "2").load()
      .writeStream.format("memory").queryName("cf_from2")
      .option("checkpointLocation", ck())
      .start()
    try {
      q2.processAllAvailable()
      assert(spark.table("cf_from2").select($"_commit_version").as[Long]
        .collect().toSet === Set(3L, 4L))
    } finally q2.stop()

    // batch reads of the feed through the FORMAT (table_changes analog)
    val changes = spark.read.format("graft-replica")
      .option("path", replica).option("readChangeFeed", "true").load()
    assert(changes.count() === 6)
    val slice = spark.read.format("graft-replica")
      .option("path", replica).option("readChangeFeed", "true")
      .option("fromVersion", "1").option("toVersion", "2").load()
    assert(slice.select($"_commit_version").as[Long].collect().toSet === Set(2L))

    // a GC'd version in range is a LOUD gap, never a silent skip
    val v1dir = new java.io.File(replica).listFiles()
      .filter(_.getName == "v000000001").head
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(v1dir)
    intercept[IllegalStateException](
      CdcStream.readReplicaChanges(spark, replica).get.count())
  }

  test("conditionalOrder: out-of-order batches converge to last-writer state") {
    val replica = Files.createTempDirectory("graft-cond").toString
    val sink = new ReplicaSink(ReplicaSinkConfig(Map(
      "path" -> replica, "keys" -> "user_id", "orderColumns" -> "ord",
      "conditionalOrder" -> "true", "changeFeed" -> "true")))
    def state(): Map[Long, (Long, String)] =
      CdcStream.readReplica(spark, replica).get
        .select($"user_id", $"ord", $"payload")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap

    sink.addBatch(0, Seq((1L, 50L, "a", "insert"), (2L, 10L, "b", "insert"))
      .toDF("user_id", "ord", "payload", "op"))
    // LATE batch: lower-order update for 1 loses, lower-order delete
    // for 2 is ignored, new key 3 inserts
    sink.addBatch(1, Seq((1L, 40L, "stale", "update"), (2L, 5L, "x", "delete"),
      (3L, 7L, "c", "insert")).toDF("user_id", "ord", "payload", "op"))
    assert(state() === Map(1L -> (50L, "a"), 2L -> (10L, "b"), 3L -> (7L, "c")))
    // the change feed records the merge's OUTCOME: version 2 carries
    // only the one incoming winner, not the two conditional losers
    val v2feed = CdcStream.readReplicaChanges(spark, replica, 1, Some(2)).get
      .select($"user_id", $"ord", $"op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(v2feed.toSeq === Seq((3L, 7L, "insert")))
    // higher-order delete wins
    sink.addBatch(2, Seq((2L, 20L, "x", "delete"))
      .toDF("user_id", "ord", "payload", "op"))
    assert(state() === Map(1L -> (50L, "a"), 3L -> (7L, "c")))
    // exact order tie: the incoming row wins (deterministic)
    sink.addBatch(3, Seq((1L, 50L, "B", "update"))
      .toDF("user_id", "ord", "payload", "op"))
    assert(state() === Map(1L -> (50L, "B"), 3L -> (7L, "c")))
  }

  test("conditionalOrder + indexColumn through the sink: late-losing " +
      "batches leave the index exact (r14 composition)") {
    val replica = Files.createTempDirectory("graft-cond-gsi-p").toString
    val index = Files.createTempDirectory("graft-cond-gsi-i").toString
    val sink = new ReplicaSink(ReplicaSinkConfig(Map(
      "path" -> replica, "keys" -> "user_id", "orderColumns" -> "ord",
      "conditionalOrder" -> "true",
      "indexColumn" -> "city", "indexPath" -> index)))
    def batch(rows: (Long, String, Long, String)*) =
      rows.toSeq.toDF("user_id", "city", "ord", "op")
    def hits(city: String): Set[Long] =
      graft.streaming.SecondaryIndex.lookupByIndex(spark, replica, index,
          Seq("user_id"), $"city", "city", Seq(city).toDF("city"))
        .select($"user_id").collect().map(_.getLong(0)).toSet
    sink.addBatch(0, batch((1L, "oslo", 50L, "insert"),
      (2L, "lima", 50L, "insert"), (3L, "oslo", 50L, "insert")))
    // late batch: key 1's move LOSES (40 < 50) — the index must not
    // plant (lima, 1); key 3's delete WINS; key 4 is fresh
    sink.addBatch(1, batch((1L, "lima", 40L, "update"),
      (3L, "oslo", 60L, "delete"), (4L, "rome", 10L, "insert")))
    assert(hits("oslo") === Set(1L))
    assert(hits("lima") === Set(2L))
    assert(hits("rome") === Set(4L))
    // sub-tombstone resurrect attempt on dead key 3 (55 < 60): the
    // index derivation's tombstone-keeping old read must reject it
    sink.addBatch(2, batch((3L, "lima", 55L, "update")))
    assert(hits("lima") === Set(2L))
    val liveIdx = CdcStream.readReplica(spark, index).get
      .select($"city", $"user_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(liveIdx === Set(("oslo", 1L), ("lima", 2L), ("rome", 4L)),
      s"stale or phantom conditional index entries: $liveIdx")
  }

  test("conditionalOrder: tombstones survive compaction") {
    val replica = Files.createTempDirectory("graft-cond-compact").toString
    val sink = new ReplicaSink(ReplicaSinkConfig(Map(
      "path" -> replica, "keys" -> "user_id", "orderColumns" -> "ord",
      "conditionalOrder" -> "true")))
    def batch(rows: (Long, Long, String)*) =
      rows.toSeq.toDF("user_id", "ord", "op")
    // spread keys over buckets, then tombstone key 1
    sink.addBatch(0, batch((1 to 20).map(i => (i.toLong, 10L, "insert")): _*))
    sink.addBatch(1, batch((1L, 60L, "delete")))
    // touch a different key so the tombstone's bucket carries over,
    // then compact — the rewrite must PRESERVE tombstone rows
    sink.addBatch(2, batch((2L, 70L, "update")))
    CdcStream.compactReplica(spark, replica)
    // a late, lower-order update must still lose to the tombstone
    sink.addBatch(3, batch((1L, 55L, "resurrect-attempt")))
    val live = CdcStream.readReplica(spark, replica).get
      .select($"user_id").as[Long].collect().toSet
    assert(!live.contains(1L), "tombstone outlived compaction")
    assert(live === (2L to 20L).toSet)
  }

  test("conditionalOrder: tombstoneHorizon ages expired tombstones out of storage") {
    val replica = Files.createTempDirectory("graft-tomb-gc").toString
    val sink = new ReplicaSink(ReplicaSinkConfig(Map(
      "path" -> replica, "keys" -> "user_id", "orderColumns" -> "ord",
      "conditionalOrder" -> "true")))
    def batch(rows: (Long, Long, String)*) =
      rows.toSeq.toDF("user_id", "ord", "op")
    // the read path filters tombstones; the GC assertions must go UNDER
    // it and inspect the stored rows of the current version's buckets
    def rawTombstones(): Set[Long] = {
      val cur = java.nio.file.Files.readString(
        java.nio.file.Paths.get(replica, "CURRENT")).trim
      val json = java.nio.file.Files.readString(
        java.nio.file.Paths.get(replica, cur, "manifest.json"))
      val paths = "v[0-9]{9}/data/__bucket=[0-9]+".r.findAllIn(json).toSeq
        .distinct.sorted.map(p => s"$replica/$p")
      if (paths.isEmpty) Set.empty
      else spark.read.option("mergeSchema", "true").parquet(paths: _*)
        .filter(coalesce(col("__tombstone"), lit(false)))
        .select($"user_id").as[Long].collect().toSet
    }
    sink.addBatch(0, batch((1 to 20).map(i => (i.toLong, 10L, "insert")): _*))
    sink.addBatch(1, batch((1L, 60L, "delete"), (2L, 80L, "delete")))
    assert(rawTombstones() === Set(1L, 2L))
    // horizon: no batch below ord 70 can still arrive — key 1's
    // tombstone (ord 60) is expired and physically dropped, key 2's
    // (ord 80) is still within the out-of-order window and survives
    CdcStream.compactReplica(spark, replica,
      tombstoneHorizon = Some(col("ord") < 70))
    assert(rawTombstones() === Set(2L))
    assert(CdcStream.readReplica(spark, replica).get
      .select($"user_id").as[Long].collect().toSet === (3L to 20L).toSet)
    // the documented trade: a below-horizon late update for the GC'd
    // key now resurrects it (the horizon asserted this cannot happen),
    // while the retained tombstone still wins against its late update
    sink.addBatch(2, batch((1L, 55L, "update"), (2L, 75L, "update")))
    val after = CdcStream.readReplica(spark, replica).get
      .select($"user_id").as[Long].collect().toSet
    assert(after.contains(1L) && !after.contains(2L))
  }

  test("tombstoneHorizon: a bucket emptied by GC leaves the manifest") {
    val replica = Files.createTempDirectory("graft-tomb-empty").toString
    val sink = new ReplicaSink(ReplicaSinkConfig(Map(
      "path" -> replica, "keys" -> "user_id", "orderColumns" -> "ord",
      "conditionalOrder" -> "true")))
    sink.addBatch(0, Seq((1L, 10L, "insert")).toDF("user_id", "ord", "op"))
    sink.addBatch(1, Seq((1L, 20L, "delete")).toDF("user_id", "ord", "op"))
    // the store is one bucket holding exactly one tombstone row;
    // aging it out must remove the bucket from the manifest, and the
    // read path must keep serving the (now empty) replica
    CdcStream.compactReplica(spark, replica,
      tombstoneHorizon = Some(lit(true)))
    // readReplica's contract maps "committed but empty" to None
    assert(CdcStream.readReplica(spark, replica).forall(_.count() == 0L))
    val cur = java.nio.file.Files.readString(
      java.nio.file.Paths.get(replica, "CURRENT")).trim
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(replica, cur, "manifest.json"))
    assert(!"__bucket=".r.findFirstIn(json).isDefined,
      s"manifest still references a bucket the GC emptied: $json")
  }

  test("eraseKeys: live state, historical buckets, and the change feed all forget") {
    val replica = Files.createTempDirectory("graft-erase").toString
    val sink = new ReplicaSink(ReplicaSinkConfig(Map(
      "path" -> replica, "keys" -> "user_id", "orderColumns" -> "ord",
      "changeFeed" -> "true")))
    def batch(rows: (Long, Long, String)*) =
      rows.toSeq.toDF("user_id", "ord", "op")
    sink.addBatch(0, batch((1 to 20).map(i => (i.toLong, 10L, "insert")): _*))
    sink.addBatch(1, batch((7L, 20L, "update"), (8L, 20L, "update")))
    CdcStream.eraseKeys(spark, replica, Seq("user_id"),
      Seq(7L).toDF("user_id"))
    // 1: live state forgot key 7, kept everything else
    val live = CdcStream.readReplica(spark, replica).get
      .select($"user_id").as[Long].collect().toSet
    assert(live === ((1L to 20L).toSet - 7L))
    // pruned lookup path agrees
    assert(CdcStream.readReplicaForKeys(spark, replica, Seq("user_id"),
      Seq(7L, 8L).toDF("user_id")).get
      .select($"user_id").as[Long].collect().toSet === Set(8L))
    // 2: no parquet file under ANY version dir still contains key 7
    val allParquet = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(replica)).map(_.toString)
    }
    assert(allParquet.nonEmpty)
    val leftover = spark.read.option("mergeSchema", "true")
      .parquet(allParquet: _*)
      .filter($"user_id" === 7L).count()
    assert(leftover === 0L, "an on-disk file still holds the erased key")
    // 3: the feed lost exactly key 7's rows, versions stayed dense
    // (strict=false: a scrub-verification read, not a replay — the
    // strict default refuses to serve a range crossing the erasure)
    val feed = CdcStream.readReplicaChanges(spark, replica,
      strict = false).get
      .select($"user_id").as[Long].collect().toSeq
    assert(!feed.contains(7L))
    assert(feed.count(_ == 8L) === 2) // both of 8's nets survive
    // erasure is idempotent
    CdcStream.eraseKeys(spark, replica, Seq("user_id"),
      Seq(7L).toDF("user_id"))
    assert(CdcStream.readReplica(spark, replica).get
      .select($"user_id").as[Long].collect().toSet === ((1L to 20L).toSet - 7L))
  }

  test("eraseKeys feed scrub rewrites ONLY the versions carrying the " +
      "keys (single-probe selection, concurrent scrubs — r16)") {
    // pins the r16 internals change: the per-version semi-join probe
    // became ONE union probe selecting touched versions, and touched
    // versions scrub concurrently. Selection must stay EXACT — an
    // untouched version's changes dir is not rewritten (its files stay
    // byte-identical in place), a touched one is.
    val replica = Files.createTempDirectory("graft-erase-sel").toString
    val sink = new ReplicaSink(ReplicaSinkConfig(Map(
      "path" -> replica, "keys" -> "user_id", "orderColumns" -> "ord",
      "changeFeed" -> "true")))
    def batch(rows: (Long, Long, String)*) =
      rows.toSeq.toDF("user_id", "ord", "op")
    sink.addBatch(0, batch((1L, 10L, "insert"), (2L, 10L, "insert")))
    sink.addBatch(1, batch((3L, 20L, "insert"), (4L, 20L, "insert")))
    sink.addBatch(2, batch((2L, 30L, "update"), (5L, 30L, "insert")))
    def changesFiles(v: Long): Map[String, Long] = {
      val d = new java.io.File(replica, f"v$v%09d/changes")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val v1Before = changesFiles(1)
    val v2Before = changesFiles(2)
    val v3Before = changesFiles(3)
    assert(v1Before.nonEmpty && v2Before.nonEmpty && v3Before.nonEmpty)
    // key 3 lives only in version 2's net — versions 1 and 3 must not
    // be selected by the probe (their files stay untouched in place)
    CdcStream.eraseKeys(spark, replica, Seq("user_id"),
      Seq(3L).toDF("user_id"))
    // version 2's changes dir was rewritten (different file set)…
    assert(changesFiles(2) !== v2Before,
      "the touched version's feed entry must be scrubbed")
    // …the untouched versions were NOT rewritten (same files, same
    // mtimes — the probe selected exactly the carrying version)…
    assert(changesFiles(1) === v1Before,
      "an untouched version's feed entry must not be rewritten")
    assert(changesFiles(3) === v3Before,
      "an untouched version's feed entry must not be rewritten")
    // …and no feed entry anywhere still carries the key, while every
    // other net row survived
    val feed = CdcStream.readReplicaChanges(spark, replica, strict = false)
      .get.select($"user_id").as[Long].collect().toSeq
    assert(!feed.contains(3L))
    assert(feed.sorted === Seq(1L, 2L, 2L, 4L, 5L))
  }

  test("eraseKeys refuses a feed entry whose key type is off the widening " +
      "ladder instead of silently keeping the key") {
    val replica = Files.createTempDirectory("graft-erase-type").toString
    val sink = new ReplicaSink(ReplicaSinkConfig(Map(
      "path" -> replica, "keys" -> "user_id", "orderColumns" -> "ord",
      "changeFeed" -> "true")))
    def batch(rows: (String, Long, String)*) =
      rows.toSeq.toDF("user_id", "ord", "op")
    sink.addBatch(0, batch(("1", 10L, "insert"), ("2", 10L, "insert")))
    sink.addBatch(1, batch(("7", 20L, "insert"), ("8", 20L, "insert")))
    // hand-written feed entry: version 2's string keys rewritten as
    // doubles — the probe's cast would render key "7" as "7.0" and
    // never match it
    val changes = new java.io.File(replica, "v000000002/changes")
    val doubled = Files.createTempDirectory("graft-erase-type-entry").toString
    spark.read.parquet(changes.toString)
      .withColumn("user_id", $"user_id".cast("double"))
      .write.mode("overwrite").parquet(doubled)
    org.apache.commons.io.FileUtils.deleteDirectory(changes)
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(doubled), changes)
    val e = intercept[IllegalStateException] {
      CdcStream.eraseKeys(spark, replica, Seq("user_id"),
        Seq("7").toDF("user_id"))
    }
    assert(e.getMessage.contains("v000000002"), e.getMessage)
    assert(e.getMessage.contains("`user_id`"), e.getMessage)
    assert(e.getMessage.contains("double"), e.getMessage)
  }

  test("SQL DDL: CREATE TEMPORARY VIEW USING graft-replica serves SQL readers") {
    val replica = Files.createTempDirectory("graft-sql-view").toString
    val sink = new ReplicaSink(ReplicaSinkConfig(Map(
      "path" -> replica, "keys" -> "user_id", "orderColumns" -> "ord")))
    sink.addBatch(0, Seq((1L, 10L, "insert"), (2L, 20L, "insert"))
      .toDF("user_id", "ord", "op"))
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW graft_replica_sql
         |USING `graft-replica`
         |OPTIONS (path '$replica', keys 'user_id')""".stripMargin)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft_replica_sql WHERE user_id = 1")
      .head().getLong(0) === 1L)
    assert(spark.sql("SELECT sum(ord) FROM graft_replica_sql")
      .head().getLong(0) === 30L)
    spark.sql("DROP VIEW graft_replica_sql")
  }

  test("composed pipeline kill/restart: two GSIs stay exact and the " +
      "change feed stays continuous across the restart and data GC") {
    // the cdc_e2e_pipeline gate's deterministic twin: binlog source →
    // typed projection → sink with TWO GSIs + change feed + deferred
    // merges + autoCompact, KILLED mid-stream and restarted from the
    // checkpoint, a follower draining the feed at the kill point and
    // after the final drain. Pins what the oracle hash can't name:
    // each index's LIVE ENTRIES equal the primary-derived truth (the
    // covered-lookup contract — no read repair to hide behind), and
    // the feed stays contiguous across autoCompact's data GC (feed
    // retention), so the lagging follower needs no resnapshot.
    val log = freshChangelog()
    val out = Files.createTempDirectory("graft-sink-e2e").toString
    val primary = s"$out/p"
    val ckDir = ck()
    val ord = Seq(col("ts_ms"), col("event_id"))
    val rowSchema = graft.queries.SourceQueries.eventsRowSchema
    val total = Tables(spark, sfDir).events.count()
    def start() = CdcStream.parsed(
        spark.readStream.format("graft-binlog")
          .option("path", log)
          .option("maxEventsPerTrigger", math.max(total / 8, 50L).toString)
          .load(), rowSchema)
      .select($"user_id", $"event_id", $"ts_ms", $"event_type", $"op")
      .withColumn("band", expr("event_id % 7"))
      .writeStream.format("graft-replica")
      .option("path", primary)
      .option("keys", "user_id")
      .option("orderColumns", "ts_ms,event_id")
      .option("changeFeed", "true")
      .option("deferMerge", "true")
      .option("autoCompactDeltas", "2")
      .option("indexColumn", "band,event_type")
      .option("indexPath", s"$out/i1,$out/i2")
      .option("checkpointLocation", ckDir)
      .start()
    // phase 1: let ≥2 data batches commit, then KILL (stop interrupts
    // whatever commit is in flight — the crash windows the marker
    // protocol, index-first order, and cursor redo-allowance recover)
    val q1 = start()
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    try
      while (q1.isActive && System.nanoTime() < deadline &&
          q1.recentProgress.count(_.numInputRows > 0) < 2)
        Thread.sleep(20)
    finally q1.stop()
    val atKill = CdcStream.replicaCurrentVersion(primary).getOrElse(0L)
    assert(atKill >= 1L, "the kill must land after at least one commit")
    val phase1Rows = q1.recentProgress.map(_.numInputRows).sum
    // the follower drains the feed THROUGH the kill point
    val follower = s"$out/f"
    val cursor = CdcStream.replayFeedInto(spark, primary, follower,
      Seq("user_id"), ord)
    // phase 2: restart from the checkpoint, drain the rest
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    if (phase1Rows < total)
      assert(CdcStream.replicaCurrentVersion(primary).exists(_ > atKill),
        "the restart must commit the remaining log")
    // feed continuity: the lagging follower catches up from its cursor
    // ACROSS autoCompact's data GC — feed retention keeps the range
    // contiguous (pre-retention, the GC'd versions were a gap error)
    CdcStream.replayFeedInto(spark, primary, follower, Seq("user_id"),
      ord, fromVersionExclusive = cursor)
    val fState = CdcStream.readReplica(spark, follower).get
      .select($"user_id", $"event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fState === expectedState(),
      "follower-via-feed must equal the global last-writer state")
    // autoCompact's data GC retired early version dirs, yet the
    // follower's from-zero drain above succeeded — feed retention at
    // work. Assert the retirement really happened so the drill can't
    // silently weaken into a no-GC run.
    val liveVs = CdcStream.replicaVersions(primary)
    assert(liveVs.min > 1L,
      s"fixture: autoCompact+GC should retire early version dirs, kept $liveVs")
    assert(new java.io.File(primary, "_feed").isDirectory,
      "retired feed surfaces must live under _feed")
    // index exactness, entry-for-entry against primary-derived truth
    val prim = CdcStream.readReplica(spark, primary).get
      .select($"band", $"event_type", $"user_id").collect()
    def live(dir: String, vIdx: Int): Set[(Any, Long)] =
      CdcStream.readReplica(spark, dir)
        .map(_.select(col(if (vIdx == 0) "band" else "event_type"),
            $"user_id")
          .collect().map(r => (r.get(0), r.getLong(1))).toSet)
        .getOrElse(Set.empty)
    assert(live(s"$out/i1", 0) ===
      prim.map(r => (r.get(0), r.getLong(2))).toSet,
      "the band index must hold exactly the live (band, key) pairs")
    assert(live(s"$out/i2", 1) ===
      prim.map(r => (r.get(1), r.getLong(2))).toSet,
      "the event_type index must hold exactly the live (type, key) pairs")
  }

  test("options fail fast at query start") {
    val provider = new ReplicaSinkProvider
    def create(opts: Map[String, String], partitions: Seq[String] = Nil) =
      provider.createSink(spark.sqlContext, opts, partitions,
        org.apache.spark.sql.streaming.OutputMode.Append())
    intercept[IllegalArgumentException](create(Map.empty)) // no path
    intercept[IllegalArgumentException](
      create(Map("path" -> "/tmp/x/{db}/{table}", "keys" -> "id"))) // no registry
    intercept[IllegalArgumentException](
      create(Map("path" -> "/tmp/x/{db}/{table}",
        "schemaRegistry" -> "/tmp/reg"))) // no keys at all
    intercept[IllegalArgumentException](
      create(Map("path" -> "/tmp/x", "keys" -> "id"), partitions = Seq("p")))
  }
}
