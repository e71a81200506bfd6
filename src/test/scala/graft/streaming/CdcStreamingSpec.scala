package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSuite, Tables}
import graft.cdc._

/** Streaming-semantics suite: cross-batch exactly-once dedup (F7/ST7),
  * commit-time retention (ST5), the crash-safe replica swap, and the
  * event-time window/session twins of the oracle-checked batch queries
  * q19/q20 (ST9).
  */
class CdcStreamingSpec extends SparkSuite {
  private lazy val sp = spark
  import sp.implicits._

  private val rowSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private def freshChangelog(recordsPerFile: Long = 300): String = {
    val d = Files.createTempDirectory("graft-stream").toString
    ChangelogGenerator.generate(Tables(spark, sfDir).events, d, recordsPerFile)
    d
  }

  test("streaming exact-dedup twin: cross-batch content-hash state matches the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // the planted-dupe corpus of llm_exact_dedup: first 20 docs
    // re-appear upper-cased under doc_id+10000
    val dupes = base.filter(_._1 < 20).map { case (id, t) => (id + 10000, t.toUpperCase) }

    val in = MemoryStream[(Long, String)]
    val q = in.toDS().toDF("doc_id", "text")
      .withColumn("content_hash", md5(trim(lower($"text"))))
      .dropDuplicates("content_hash") // Spark streaming-state dedup
      .writeStream.format("memory").queryName("stream_dedup")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .outputMode("append").start()
    // originals arrive first, duplicates in a LATER micro-batch — only
    // cross-batch state can drop them
    in.addData(base.toSeq: _*)
    q.processAllAvailable()
    in.addData(dupes.toSeq: _*)
    q.processAllAvailable()
    q.stop()

    val kept = spark.table("stream_dedup")
      .select("doc_id").as[Long].collect().toSet
    assert(kept.size === base.length, "each hash kept exactly once")
    // the survivor of every planted pair is the original (min doc_id) —
    // the same keep_id the batch operator (llm_exact_dedup) reports
    val keeps = graft.llm.DedupQueries.defs("llm_exact_dedup")(spark, sfDir)
      .select("keep_id").as[Long].collect().toSet
    assert(keeps.subsetOf(kept))
    assert(dupes.map(_._1).toSet.intersect(kept).isEmpty,
      "no upper-cased duplicate may survive")
  }

  test("fan-out sink: one multi-table stream materializes {db}/{table} replicas") {
    val d = Files.createTempDirectory("fanout-log").toString
    def rec(pos: Long, op: String, table: String,
        row: Map[String, EnvelopeValue]): String =
      ChangelogRecord.write(ChangelogRecord(pos, op, "shop", table, pos, row)) + "\n"
    def order(id: Long, amount: Long) = Map(
      "id" -> EnvelopeValue.VLong(id), "amount" -> EnvelopeValue.VLong(amount))
    def user(id: Long, name: String) = Map(
      "id" -> EnvelopeValue.VLong(id), "name" -> EnvelopeValue.VString(name))
    java.nio.file.Files.write(
      new java.io.File(d, "graft-bin.000001").toPath,
      Seq(
        rec(1, "insert", "orders", order(1, 10)),
        rec(2, "insert", "users", user(1, "a")),
        rec(3, "insert", "orders", order(2, 20)),
        rec(4, "insert", "users", user(2, "b")),
        rec(5, "update", "orders", order(1, 15)),
        rec(6, "update", "users", user(2, "c")),
        rec(7, "delete", "orders", order(2, 20))
      ).mkString.getBytes("UTF-8"))

    val schemas = Map(
      "shop.orders" -> StructType(Seq(
        StructField("id", LongType), StructField("amount", LongType))),
      "shop.users" -> StructType(Seq(
        StructField("id", LongType), StructField("name", StringType))))
    val idCols = Map("shop.orders" -> Seq("id"), "shop.users" -> Seq("id"))

    val root = Files.createTempDirectory("fanout-replicas").toString
    val template = s"$root/{db}/{table}"
    val q = spark.readStream.format("graft-binlog").option("path", d)
      .option("maxEventsPerTrigger", "3") // force the upsert across batches
      .load().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        CdcStream.fanOutToReplicas(batch, template, schemas, idCols); ()
      }
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()

    val orders = CdcStream.readReplica(spark, s"$root/shop/orders").get
      .select("id", "amount").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(orders === Map(1L -> 15L), "update applied, delete dropped")
    val users = CdcStream.readReplica(spark, s"$root/shop/users").get
      .select("id", "name").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(users === Map(1L -> "a", 2L -> "c"))

    // regex filtering upstream restricts which replicas materialize
    val root2 = Files.createTempDirectory("fanout-filtered").toString
    val q2 = spark.readStream.format("graft-binlog").option("path", d)
      .option("tableNamePattern", "orders")
      .load().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        CdcStream.fanOutToReplicas(batch, s"$root2/{db}/{table}", schemas, idCols); ()
      }
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(CdcStream.readReplica(spark, s"$root2/shop/orders").isDefined)
    assert(CdcStream.readReplica(spark, s"$root2/shop/users").isEmpty)
  }

  test("maintainAggView: the streaming view tracks deltas and survives batch replay") {
    import graft.SparkSuite.spark.implicits._
    import java.nio.file.Files
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val viewDir = Files.createTempDirectory("ivm-view").toString
    val replicaDir = Files.createTempDirectory("ivm-replica").toString
    val in = MemoryStream[(Long, Long, Long, String)] // (user, event, cents, op)
    val q = in.toDF().toDF("user_id", "event_id", "cents", "op")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        CdcStream.maintainAggView(viewDir, replicaDir, batch, id,
          idCols = Seq("user_id"), orderCols = Seq(col("event_id")),
          segment = pmod(col("user_id"), lit(2L)), valueCol = "cents")
        ()
      }
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    def view(): Map[Long, (Long, Long)] = {
      val cur = Files.readString(
        java.nio.file.Paths.get(viewDir, "CURRENT")).trim
      graft.SparkSuite.spark.read.parquet(s"$viewDir/$cur/data").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    try {
      // batch 1: four live keys
      in.addData((1L, 1L, 10L, "insert"), (2L, 2L, 20L, "insert"),
        (3L, 3L, 30L, "insert"), (4L, 4L, 40L, "insert"))
      q.processAllAvailable()
      assert(view() == Map(0L -> (2L, 60L), 1L -> (2L, 40L)))
      // batch 2: update key 1 (10→15), delete key 2, insert key 5 —
      // the view moves by the retraction delta only
      in.addData((1L, 5L, 15L, "update"), (2L, 6L, 0L, "delete"),
        (5L, 7L, 50L, "insert"))
      q.processAllAvailable()
      assert(view() == Map(0L -> (1L, 40L), 1L -> (3L, 95L)))
    } finally q.stop()
    // replaying an already-applied batch id must not double-apply
    val before = view()
    val replay = Seq((1L, 5L, 15L, "update"), (2L, 6L, 0L, "delete"),
      (5L, 7L, 50L, "insert")).toDF("user_id", "event_id", "cents", "op")
    CdcStream.maintainAggView(viewDir, replicaDir, replay, batchId = 0L,
      idCols = Seq("user_id"), orderCols = Seq(col("event_id")),
      segment = pmod(col("user_id"), lit(2L)), valueCol = "cents")
    assert(view() == before, "replayed batch must be a no-op")
    // crash window: replica already advanced but the pointer never
    // flipped (the batchId guard doesn't fire). The pending version's
    // completeness marker must make the replay SKIP the recompute —
    // recomputing the delta against the post-apply replica would
    // double-count it — and just re-apply + flip.
    val cur = Files.readString(java.nio.file.Paths.get(viewDir, "CURRENT"))
      .trim
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(viewDir, "CURRENT"), "v000000001")
    val replayed = CdcStream.maintainAggView(viewDir, replicaDir, replay,
      batchId = 1L, idCols = Seq("user_id"),
      orderCols = Seq(col("event_id")),
      segment = pmod(col("user_id"), lit(2L)), valueCol = "cents")
    assert(Files.readString(
      java.nio.file.Paths.get(viewDir, "CURRENT")).trim == cur)
    assert(view() == before,
      "mid-batch crash replay must not double-count the delta")
    assert(replayed.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap == before)
    // the replica state agrees with the view
    val live = CdcStream.readReplica(graft.SparkSuite.spark, replicaDir).get
      .select($"user_id", $"cents").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(live == Map(1L -> 15L, 3L -> 30L, 4L -> 40L, 5L -> 50L))
  }

  test("maintainScd2: streaming history equals the batch SCD2 semantics, replay-safe") {
    import graft.SparkSuite.spark.implicits._
    import java.nio.file.Files
    val historyDir = Files.createTempDirectory("scd2-hist").toString
    val currentDir = Files.createTempDirectory("scd2-cur").toString
    val ev = Tables(spark, sfDir).events
      .select($"user_id", $"event_id", $"ts",
        graft.queries.Q.cents($"value").as("value_cents"),
        graft.cdc.OpMapping.col($"event_type").as("op"))
    val mm = ev.agg(min(unix_millis($"ts")), max(unix_millis($"ts"))).head()
    val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    val parts = Seq(ev.filter(unix_millis($"ts") < cut),
      ev.filter(unix_millis($"ts") >= cut))
    def apply(i: Int): Unit =
      CdcStream.maintainScd2(historyDir, currentDir, parts(i), i,
        idCols = Seq("user_id"), orderCols = Seq(col("ts"), col("event_id")),
        validFrom = unix_millis(col("ts")))
    apply(0); apply(1)
    type V = (Long, Long, Long, Long, Option[Long], Boolean)
    def snapshot(): Seq[V] =
      CdcStream.readScd2(spark, historyDir, currentDir).get
        .select($"user_id", $"event_id", $"value_cents",
          $"valid_from", $"valid_to", $"is_current")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3),
          Option(r.getAs[java.lang.Long]("valid_to")).map(_.toLong),
          r.getBoolean(5)))
        .toSeq.sortBy(t => (t._1, t._4, t._2))
    val got = snapshot()
    val want = graft.SparkEntry.queries("cdc_scd2_history")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getAs[Long]("valid_from_ms"),
        Option(r.getAs[java.lang.Long]("valid_to_ms")).map(_.toLong),
        r.getAs[Boolean]("is_current")))
      .toSeq.sortBy(t => (t._1, t._4, t._2))
    assert(got.size == want.size, s"${got.size} vs ${want.size}")
    assert(got == want)
    // replaying an applied batch must not corrupt closed history
    apply(1)
    assert(snapshot() == got, "replay must be a no-op")
    // crash window: replica advanced but _last_batch never written.
    // The partition's _complete marker must keep the replay from
    // recomputing closures against the POST-apply replica (which
    // would close batch-1's own versions at batch-1 timestamps and
    // lose batch-0's closures)
    Files.delete(java.nio.file.Paths.get(historyDir, "_last_batch"))
    apply(1)
    assert(snapshot() == got,
      "mid-batch crash replay must preserve closed history")
  }

  test("dedupMonotonic: re-served overlapping ranges yield exactly-once output") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[KeyedOffsetEvent]
    val q = CdcStream.dedupMonotonic(in.toDS()).writeStream
      .format("memory").queryName("dedup_out")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .outputMode("append").start()
    def ev(off: Long) = KeyedOffsetEvent("graft.events", off, s"""{"n":$off}""")

    in.addData((1L to 100L).map(ev): _*)
    q.processAllAvailable()
    // a retry re-serves 50..150 — the 50..100 overlap must be dropped
    in.addData((50L to 150L).map(ev): _*)
    q.processAllAvailable()
    // a full re-serve of everything must add nothing; a coordinate-less
    // event (offset 0) must pass through, never be swallowed
    in.addData(KeyedOffsetEvent("graft.events", 0L, """{"n":"coordless"}"""))
    in.addData((1L to 150L).map(ev): _*)
    q.processAllAvailable()
    q.stop()

    val offs = spark.table("dedup_out").select("offset")
      .as[Long].collect().sorted
    assert(offs.length === 151, s"expected 150 + 1 coordless, got ${offs.length}")
    assert(offs.toSeq === (0L +: (1L to 150L)))
  }

  test("source envelopes carry monotonic offsets usable for keyed dedup") {
    val dir = freshChangelog()
    val df = spark.read.format("graft-binlog").option("path", dir).load()
    val keyed = CdcStream.keyedByTable(df).collect()
    assert(keyed.length === 1000)
    assert(keyed.forall(_.key == "graft.events"))
    val offs = keyed.map(_.offset).sorted
    assert(offs.distinct.length === 1000, "offsets must be unique")
    assert(offs.head === BinlogOffset(1, 1).packed)
    assert(offs.last === BinlogOffset(4, 100).packed)
  }

  test("pruneCommitted: fully-consumed files are deleted on commit and restart still works") {
    val dir = freshChangelog()
    val ck = Files.createTempDirectory("ck-prune").toString
    def run(name: String): Long = {
      val q = spark.readStream.format("graft-binlog")
        .option("path", dir).option("pruneCommitted", "true")
        .option("maxEventsPerTrigger", "250")
        .load().writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ck).start()
      try { q.processAllAvailable(); spark.table(name).count() }
      finally q.stop()
    }
    assert(run("prune1") === 1000L)
    // commit(end_k) fires when batch k+1 starts, so the last batch's
    // prune point is one behind: files 1-2 are gone, 3-4 remain
    val remaining = ChangelogFiles.listFiles(dir).map(_._1)
    assert(remaining === Seq(3L, 4L), s"files left: $remaining")
    // restart on the same checkpoint: offsets point at/past pruned files,
    // the manifest proves they were fully consumed → no data-loss error
    // (foreachBatch sink — memory sink cannot recover from a checkpoint)
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q2 = spark.readStream.format("graft-binlog")
      .option("path", dir).option("pruneCommitted", "true")
      .load().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.addAndGet(batch.count()); ()
      }
      .option("checkpointLocation", ck).start()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(seen.get() === 0L) // nothing new
  }

  test("replica merge is bucket-scoped: untouched buckets carry over, unreferenced versions GC'd") {
    val dir = Files.createTempDirectory("replica-v").toString + "/r"
    def batchDf(rows: Seq[(Long, String, Long)]) =
      rows.toDF("user_id", "op", "event_id")
    def apply(rows: (Long, String, Long)*): Unit =
      CdcStream.applyBatchToReplica(dir, batchDf(rows),
        idCols = Seq("user_id"), orderCols = Seq(col("event_id")))
    // the same murmur3 bucket expression the store uses
    def bucketOf(u: Long): Int = spark.range(1)
      .select(pmod(hash(lit(u)), lit(CdcStream.DefaultReplicaBuckets)))
      .first().getInt(0)
    val u1 = 1L
    val u2 = (2L to 60L).find(u => bucketOf(u) != bucketOf(u1)).get
    val u3 = ((u2 + 1) to 120L)
      .find(u => bucketOf(u) != bucketOf(u1) && bucketOf(u) != bucketOf(u2)).get

    apply((u1, "insert", 10L), (u2, "insert", 11L))
    assert(CdcStream.readReplica(spark, dir).get.count() === 2)
    assert(new java.io.File(dir, "v000000001").isDirectory)

    apply((u2, "delete", 12L), (u3, "insert", 13L))
    val after2 = CdcStream.readReplica(spark, dir).get
      .select("user_id").as[Long].collect().sorted
    assert(after2.toSeq === Seq(u1, u3))
    // u1's bucket was untouched: v2's manifest must still reference its
    // files inside v1 — the partition-scoped MERGE property
    val m2 = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "v000000002/manifest.json").toPath), "UTF-8")
    assert(m2.contains("v000000001/"), s"untouched bucket not carried over: $m2")

    // churn only u3's bucket twice: versions no manifest references
    // anymore are GC'd, while v1 (still referenced by u1's bucket)
    // survives arbitrarily many flips
    apply((u3, "update", 14L))
    apply((u3, "update", 15L))
    assert(new java.io.File(dir, "v000000001").isDirectory, "referenced version GC'd")
    assert(!new java.io.File(dir, "v000000002").exists(),
      "unreferenced version beyond the grace window must be GC'd")
    val fin = CdcStream.readReplica(spark, dir).get
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(fin === Map(u1 -> 10L, u3 -> 15L))
  }

  test("replica key lookup prunes to candidate buckets (read-side MERGE half)") {
    val dir = Files.createTempDirectory("replica-lookup").toString + "/r"
    def apply(rows: (Long, String, Long)*): Unit =
      CdcStream.applyBatchToReplica(dir, rows.toDF("user_id", "op", "event_id"),
        idCols = Seq("user_id"), orderCols = Seq(col("event_id")))
    def bucketOf(u: Long): Int = spark.range(1)
      .select(pmod(hash(lit(u)), lit(CdcStream.DefaultReplicaBuckets)))
      .first().getInt(0)
    // three users in three distinct buckets
    val u1 = 1L
    val u2 = (2L to 60L).find(u => bucketOf(u) != bucketOf(u1)).get
    val u3 = ((u2 + 1) to 120L)
      .find(u => bucketOf(u) != bucketOf(u1) && bucketOf(u) != bucketOf(u2)).get
    apply((u1, "insert", 10L), (u2, "insert", 11L), (u3, "insert", 12L))

    def bucketsRead(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.inputFiles.flatMap(_.split("/").find(_.startsWith("__bucket="))).toSet

    // point lookup: exactly one bucket's files are scanned
    val one = CdcStream.readReplicaForKeys(spark, dir, Seq("user_id"),
      Seq(u2).toDF("user_id")).get
    assert(one.select("user_id", "event_id").as[(Long, Long)].collect().toSeq ===
      Seq((u2, 11L)))
    assert(bucketsRead(one) === Set(s"__bucket=${bucketOf(u2)}"))

    // two keys in two buckets: two buckets scanned, third untouched
    val two = CdcStream.readReplicaForKeys(spark, dir, Seq("user_id"),
      Seq(u1, u3).toDF("user_id")).get
    assert(two.select("user_id").as[Long].collect().sorted.toSeq === Seq(u1, u3))
    assert(bucketsRead(two) ===
      Set(s"__bucket=${bucketOf(u1)}", s"__bucket=${bucketOf(u3)}"))

    // a key hashing to a bucket with no files yet: empty result, and
    // nothing but footer reads (schema) happen
    val miss = (u3 + 1 to 500L)
      .find(u => !Set(bucketOf(u1), bucketOf(u2), bucketOf(u3)).contains(bucketOf(u)))
      .get
    val none = CdcStream.readReplicaForKeys(spark, dir, Seq("user_id"),
      Seq(miss).toDF("user_id")).get
    assert(none.count() === 0L)

    // full read still sees everything (pruning is opt-in by API)
    assert(CdcStream.readReplica(spark, dir).get.count() === 3L)

    // type-skewed lookup keys (Int vs the replica's Long) are cast
    // BEFORE bucket derivation — Catalyst hash() is type-sensitive, so
    // without the cast the pruning would aim at the wrong bucket and
    // silently return nothing
    val intKeyed = CdcStream.readReplicaForKeys(spark, dir, Seq("user_id"),
      Seq(u2.toInt).toDF("user_id")).get
    assert(intKeyed.select("event_id").as[Long].collect().toSeq === Seq(11L))
  }

  test("streaming event-time window twin matches batch q19 (ST9)") {
    val dir = freshChangelog()
    val stream = spark.readStream.format("graft-binlog").option("path", dir).load()
    val parsed = CdcStream.parsed(stream, rowSchema)
      .withColumn("ts", timestamp_millis($"ts_ms"))
    val agg = parsed
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
      .select(unix_millis($"window.start").as("hour_start_ms"),
        $"event_type", $"n_events")
    val q = agg.writeStream.format("memory").queryName("q19_stream")
      .outputMode("complete")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("q19_stream")
      .orderBy("hour_start_ms", "event_type").collect().toSeq
    val want = Tables(spark, sfDir).events
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
      .select(unix_millis($"window.start").as("hour_start_ms"),
        $"event_type", $"n_events")
      .orderBy("hour_start_ms", "event_type").collect().toSeq
    assert(got === want)
  }

  test("watermark drops late events: a closed window's append output is final (ST9)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)] // (event_id, ts_ms)
    val agg = in.toDS().toDF("event_id", "ts_ms")
      .withColumn("ts", timestamp_millis($"ts_ms"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour")).agg(count(lit(1)).as("n"))
      .select(unix_millis($"window.start").as("w"), $"n")
    val q = agg.writeStream.format("memory").queryName("late_drop")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    val h = 3600L * 1000
    // batch 1: two on-time events in hour-0 plus one far ahead — the
    // watermark advances well past hour-0's close
    in.addData((1L, 10 * 60 * 1000L), (2L, 20 * 60 * 1000L), (3L, 3 * h))
    q.processAllAvailable()
    // batch 2: a LATE hour-0 event, now behind the watermark — dropped
    in.addData((4L, 30 * 60 * 1000L))
    q.processAllAvailable()
    // batch 3: advance far enough to close every still-open window
    in.addData((5L, 6 * h))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("late_drop").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out(0L) == 2L,
      "hour-0 must close with only the on-time events — the late one dropped")
    assert(out.values.forall(_ <= 2L))
  }

  test("stream-stream watermarked join: purchases enrich with same-user signups") {
    val dir = freshChangelog()
    def parsedStream() = CdcStream.parsed(
        spark.readStream.format("graft-binlog").option("path", dir).load(),
        rowSchema)
      .withColumn("ts", timestamp_millis($"ts_ms"))

    val signups = parsedStream().filter($"event_type" === "signup")
      .select($"user_id".as("s_user"), $"event_id".as("signup_id"), $"ts".as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val purchases = parsedStream().filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"event_id".as("purchase_id"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "1 hour")

    // signup at-or-before the purchase, within 30 days — the time-range
    // condition bounds join state on both sides
    val joined = purchases.join(signups,
      expr("""p_user = s_user AND
             |s_ts <= p_ts AND s_ts >= p_ts - INTERVAL 30 DAYS""".stripMargin))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("ss_join").count()
    // batch oracle over the same fixture
    val ev = Tables(spark, sfDir).events
    val want = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"))
      .join(ev.filter($"event_type" === "signup")
          .select($"user_id".as("s_user"), $"ts".as("s_ts")),
        expr("""p_user = s_user AND
               |s_ts <= p_ts AND s_ts >= p_ts - INTERVAL 30 DAYS""".stripMargin))
      .count()
    assert(want > 0, "fixture should produce some joined rows")
    assert(got === want)
  }

  test("streaming session-window twin matches batch q20 (ST9)") {
    val dir = freshChangelog()
    val stream = spark.readStream.format("graft-binlog").option("path", dir).load()
    val parsed = CdcStream.parsed(stream, rowSchema)
      .withColumn("ts", timestamp_millis($"ts_ms"))
    val agg = parsed
      .withWatermark("ts", "1 hour")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", unix_millis($"session_window.start").as("session_start_ms"),
        $"n_events")
    val q = agg.writeStream.format("memory").queryName("q20_stream")
      .outputMode("complete")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("q20_stream")
      .orderBy("user_id", "session_start_ms").collect().toSeq
    val want = Tables(spark, sfDir).events
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", unix_millis($"session_window.start").as("session_start_ms"),
        $"n_events")
      .orderBy("user_id", "session_start_ms").collect().toSeq
    assert(got === want)
  }

  test("parsed runs from_json once per envelope and emits the rows explode emits") {
    val envelopes = Seq(
      """{"type":"insert","timestamp":1,"offset":1,"rows":[{"event_id":1},{"event_id":2}]}""",
      """{"type":"insert","timestamp":2,"offset":2,"rows":[]}""",
      """{"type":"ddl","timestamp":3,"offset":3}""",
      """{"type":"delete","timestamp":4,"offset":4,"rows":[null,{"event_id":5}]}""",
      "not an envelope")
    // a scanned relation, not a local one the optimizer would fold
    val scanned = spark.sparkContext.parallelize(envelopes, 2).toDF("value")
    val out = CdcStream.parsed(scanned, rowSchema)
    val parses = out.queryExecution.optimizedPlan.collect { case n => n.expressions }
      .flatten.flatMap(_.collect {
        case j: org.apache.spark.sql.catalyst.expressions.JsonToStructs => j
      })
    assert(parses.size === 1, out.queryExecution.optimizedPlan)
    val explodedRows = scanned
      .select(from_json($"value", CdcStream.envelopeSchema(rowSchema)).as("e"))
      .select($"e.timestamp".as("ts_ms"), explode($"e.rows").as("row"))
      .select($"ts_ms", $"row.event_id".as("event_id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"ts_ms", $"event_id").as[(Long, Option[Long])].collect().toSeq.sorted
    assert(rows(out) === rows(explodedRows))
    assert(rows(out) === Seq((1L, Some(1L)), (1L, Some(2L)), (4L, None), (4L, Some(5L))))
  }
}
