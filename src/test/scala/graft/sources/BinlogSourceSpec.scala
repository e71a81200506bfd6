package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSuite, Tables}
import graft.cdc._
import graft.streaming.CdcStream

/** End-to-end Structured Streaming tests of the graft-binlog DSv2
  * source against a generated changelog at sf0.001 (1000 events) —
  * the "minimum end-to-end slice" of SURVEY.md §7 with zero external
  * services: offset packing, schema embedding, regex filter, range
  * serving, admission control, checkpoint recovery, upsert sink.
  */
class BinlogSourceSpec extends SparkSuite {
  private lazy val sp = spark
  import sp.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-src").toString
    ChangelogGenerator.generate(Tables(spark, sfDir).events, d, recordsPerFile = 300)
    d
  }

  private val rowSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private def readAll(extraOpts: Map[String, String] = Map.empty,
      queryName: String = "sink"): org.apache.spark.sql.DataFrame = {
    var r = spark.readStream.format("graft-binlog").option("path", dir)
    extraOpts.foreach { case (k, v) => r = r.option(k, v) }
    val q = r.load().writeStream.format("memory").queryName(queryName)
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  test("streams every record as a parseable JSON envelope") {
    val out = readAll(queryName = "all_events")
    assert(out.count() === 1000L)
    val first = out.select("value").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().head
    val ev = EnvelopeCodec.parse(first)
    assert(Set("insert", "update", "delete").contains(ev.eventType))
    assert(ev.databaseName === "graft" && ev.tableName === "events")
    val st = DataType.fromJson(ev.schemaJson).asInstanceOf[StructType]
    assert(st.fieldNames.toSet === rowSchema.fieldNames.toSet)
  }

  test("typed expansion matches the batch op-mix oracle") {
    val out = readAll(queryName = "typed_events")
    val typed = CdcStream.parsed(out, rowSchema)
    val mix = typed.groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // same op mapping as the DuckDB-checked batch query cdc_envelope_roundtrip
    val want = Tables(spark, sfDir).events
      .groupBy(when($"event_type" === "signup", "insert")
        .when($"event_type" === "error", "delete").otherwise("update").as("op"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mix === want)
  }

  test("tableNamePattern regex filters at the source (F1)") {
    val none = readAll(Map("tableNamePattern" -> "nomatch.*"), "filtered_none")
    assert(none.count() === 0L)
    val all = readAll(Map("tableNamePattern" -> "ev.*", "databaseNamePattern" -> "gr.ft"),
      "filtered_all")
    assert(all.count() === 1000L)
  }

  test("maxEventsPerTrigger caps each micro-batch (admission control)") {
    val q = spark.readStream.format("graft-binlog")
      .option("path", dir).option("maxEventsPerTrigger", "250")
      .load().writeStream.format("memory").queryName("capped")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("capped").count() === 1000L)
    val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(sizes.nonEmpty && sizes.forall(_ <= 250L), s"batch sizes: ${sizes.mkString(",")}")
    assert(sizes.length >= 4)
  }

  test("checkpoint restart resumes after log rotation without duplicates") {
    // phase 1: only the first two binlog files exist (600 records)
    val growDir = Files.createTempDirectory("grow").toString
    val srcFiles = ChangelogFiles.listFiles(dir)
    def copyFile(id: Long): Unit = {
      val f = srcFiles.find(_._1 == id).get._2
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(growDir, f.getName).toPath)
    }
    java.nio.file.Files.copy(new java.io.File(dir, "schemas.json").toPath,
      new java.io.File(growDir, "schemas.json").toPath)
    copyFile(1); copyFile(2)

    // The memory sink cannot recover from a checkpoint, so the restart
    // goes through foreachBatch into an append-only parquet dir — the
    // shape a real consumer has, and one that exercises the source's
    // DSv2 offset recovery for real.
    val ck = Files.createTempDirectory("ck-restart").toString
    val outDir = Files.createTempDirectory("restart-out").toString + "/rows"
    def run(): Long = {
      val q = spark.readStream.format("graft-binlog")
        .option("path", growDir).option("maxEventsPerTrigger", "250")
        .load().writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ck).start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(outDir).count()
    }
    assert(run() === 600L)

    // phase 2: the log rotates — two new files appear; a fresh query on
    // the same checkpoint serves ONLY the new records (total 1000, no
    // duplicates, no loss across the restart boundary)
    copyFile(3); copyFile(4)
    assert(run() === 1000L)
    val ids = CdcStream.parsed(spark.read.parquet(outDir), rowSchema)
      .select("event_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
    assert(ids.length === 1000)
    assert(ids.toSet.size === 1000, "duplicate event_ids across restart")
  }

  test("startingOffsets=latest sees nothing; explicit packed offset mid-log") {
    val latest = readAll(Map("startingOffsets" -> "latest"), "from_latest")
    assert(latest.count() === 0L)
    val mid = BinlogOffset(3, 1).packed // skip files 1-2 (600 records)
    val fromMid = readAll(Map("startingOffsets" -> mid.toString), "from_mid")
    assert(fromMid.count() === 400L)
    val viaIndex = readAll(Map("binlogIndex" -> "4", "binlogFileOffset" -> "51"), "via_index")
    assert(viaIndex.count() === 50L)
  }

  test("batch read (spark.read) covers the whole log — bootstrap path") {
    val df = spark.read.format("graft-binlog").option("path", dir).load()
    assert(df.count() === 1000L)
    assert(df.schema === BinlogDataSourceSchema)
  }

  private val BinlogDataSourceSchema =
    graft.sources.binlog.BinlogDataSource.Schema

  test("failOnDataLoss: empty-dir sentinel and fully-consumed purged head are not losses") {
    import scala.jdk.CollectionConverters._
    import graft.sources.binlog.{BinlogPartitioning, BinlogSourceConf}
    def confFor(d: String) = BinlogSourceConf(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(Map("path" -> d).asJava))

    // sentinel (0,1): stream began on an empty dir, files appeared later
    val parts = BinlogPartitioning.plan(confFor(dir),
      BinlogOffset(0, 1), ChangelogFiles.latestOffset(dir))
    assert(parts.nonEmpty, "sentinel start must serve from the beginning, not throw")

    // prune the head file but keep the manifest: a reader that fully
    // consumed it (pos = count+1) is fine; one mid-file is a real loss
    val pruned = Files.createTempDirectory("pruned").toString
    ChangelogFiles.listFiles(dir).filter(_._1 >= 2).foreach { case (_, f) =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(pruned, f.getName).toPath)
    }
    for (aux <- Seq("schemas.json", ChangelogFiles.ManifestName)) {
      java.nio.file.Files.copy(new java.io.File(dir, aux).toPath,
        new java.io.File(pruned, aux).toPath)
    }
    val latest = ChangelogFiles.latestOffset(pruned)
    assert(BinlogPartitioning.plan(confFor(pruned), BinlogOffset(1, 301), latest).nonEmpty)
    intercept[IllegalStateException] {
      BinlogPartitioning.plan(confFor(pruned), BinlogOffset(1, 200), latest)
    }

    // gap loss: prune files 1 AND 2; a reader that fully consumed file
    // 1 but never read file 2 must still fail — file 2's manifest
    // entry proves unread records were purged
    val gap = Files.createTempDirectory("gap").toString
    ChangelogFiles.listFiles(dir).filter(_._1 >= 3).foreach { case (_, f) =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(gap, f.getName).toPath)
    }
    for (aux <- Seq("schemas.json", ChangelogFiles.ManifestName)) {
      java.nio.file.Files.copy(new java.io.File(dir, aux).toPath,
        new java.io.File(gap, aux).toPath)
    }
    intercept[IllegalStateException] {
      BinlogPartitioning.plan(confFor(gap), BinlogOffset(1, 301),
        ChangelogFiles.latestOffset(gap))
    }

    // total purge: ALL files gone but the manifest proves unread
    // records existed at/after the start — must throw even though the
    // range collapses to empty
    val total = Files.createTempDirectory("total").toString
    for (aux <- Seq("schemas.json", ChangelogFiles.ManifestName)) {
      java.nio.file.Files.copy(new java.io.File(dir, aux).toPath,
        new java.io.File(total, aux).toPath)
    }
    intercept[IllegalStateException] {
      BinlogPartitioning.plan(confFor(total), BinlogOffset(1, 200), BinlogOffset(1, 200))
    }
    // ...but a reader past the end of everything purged is fine
    assert(BinlogPartitioning.plan(confFor(total),
      BinlogOffset(4, 101), BinlogOffset(4, 101)).isEmpty)
  }

  test("per-table map offsets: tables advance independently; checkpoint round-trips the map") {
    import scala.jdk.CollectionConverters._
    import graft.sources.binlog._
    import org.apache.spark.sql.connector.read.streaming.ReadLimit

    val d = Files.createTempDirectory("two-table").toString
    def rec(pos: Long, table: String, id: Long) = ChangelogRecord.write(
      ChangelogRecord(pos, "insert", "shop", table, id,
        Map("id" -> EnvelopeValue.VLong(id)))) + "\n"
    def writeFile(fid: Long, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        new java.io.File(d, f"graft-bin.$fid%06d").toPath,
        lines.mkString.getBytes("UTF-8"))
    // file 1: orders and users interleaved in one shared log
    writeFile(1, Seq(rec(1, "orders", 1), rec(2, "users", 1), rec(3, "orders", 2),
      rec(4, "users", 2), rec(5, "orders", 3)))

    val conf = BinlogSourceConf(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(Map("path" -> d).asJava))
    val stream = new BinlogMicroBatchStream(conf)
    val init = stream.initialOffset().asInstanceOf[BinlogTableOffsets]
    assert(init.tables === Map.empty) // earliest: every table from 0

    val end1 = stream.latestOffset(init, ReadLimit.allAvailable())
      .asInstanceOf[BinlogTableOffsets]
    assert(end1.tables === Map("shop.orders" -> 3L, "shop.users" -> 2L))
    // checkpoint round-trip of the map format
    assert(stream.deserializeOffset(end1.json()) === end1)
    // on-disk format pin: sorted keys, bare long values
    assert(end1.json() === """{"shop.orders":3,"shop.users":2}""")
    assert(BinlogTableOffsets(Map("shop.users" -> 7L, "a.b" -> 0L)).json() ===
      """{"a.b":0,"shop.users":7}""")

    // append a file containing ONLY orders: just that table's offset moves
    writeFile(2, Seq(rec(1, "orders", 4), rec(2, "orders", 5)))
    val end2 = stream.latestOffset(end1, ReadLimit.allAvailable())
      .asInstanceOf[BinlogTableOffsets]
    assert(end2.tables === Map("shop.orders" -> 5L, "shop.users" -> 2L))

    // the delta batch serves exactly the two new orders records, with
    // 1-based table-local indices as envelope offsets
    val parts = stream.planInputPartitions(end1, end2)
    val factory = stream.createReaderFactory()
    val served = parts.flatMap { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[CdcEvent]
      while (r.next()) buf += EnvelopeCodec.parse(r.get().getString(0))
      r.close()
      buf
    }
    assert(served.map(e => (e.tableName, e.offset)).toSet ===
      Set(("orders", 4L), ("orders", 5L)))

    // under a row cap the budget splits per table: from scratch, a
    // 2-row limit advances BOTH tables by 1 — neither starves the other
    val capped = stream.latestOffset(init, ReadLimit.maxRows(2))
      .asInstanceOf[BinlogTableOffsets]
    assert(capped.tables === Map("shop.orders" -> 1L, "shop.users" -> 1L))

    // regex filter restricts the offset space itself (F1 at offset level)
    val confFiltered = BinlogSourceConf(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        Map("path" -> d, "tableNamePattern" -> "users").asJava))
    val fStream = new BinlogMicroBatchStream(confFiltered)
    val fEnd = fStream.latestOffset(fStream.initialOffset(), ReadLimit.allAvailable())
      .asInstanceOf[BinlogTableOffsets]
    assert(fEnd.tables === Map("shop.users" -> 2L))
  }

  test("map-offset budget is backlog-aware: idle tables never dilute active ones") {
    import scala.jdk.CollectionConverters._
    import graft.sources.binlog._
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val d = Files.createTempDirectory("budget").toString
    def rec(pos: Long, table: String, id: Long) = ChangelogRecord.write(
      ChangelogRecord(pos, "insert", "shop", table, id,
        Map("id" -> EnvelopeValue.VLong(id)))) + "\n"
    // 2 records for each of 3 quiet tables, then 30 more for "hot"
    val quiet = for (t <- Seq("a", "b", "c"); i <- 1L to 2L) yield rec(i, t, i)
    val hot = (1L to 30L).map(i => rec(i, "hot", i))
    java.nio.file.Files.write(new java.io.File(d, "graft-bin.000001").toPath,
      (quiet ++ hot).mkString.getBytes("UTF-8"))
    val conf = BinlogSourceConf(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(Map("path" -> d).asJava))
    val stream = new BinlogMicroBatchStream(conf)
    // consume everything except hot's last 20: only "hot" has backlog
    val caughtUp = BinlogTableOffsets(Map(
      "shop.a" -> 2L, "shop.b" -> 2L, "shop.c" -> 2L, "shop.hot" -> 10L))
    val end = stream.latestOffset(caughtUp, ReadLimit.maxRows(8))
      .asInstanceOf[BinlogTableOffsets]
    // the whole 8-row budget goes to the one backlogged table (the old
    // even split would have granted it only 8/4 = 2)
    assert(end.tables === Map(
      "shop.a" -> 2L, "shop.b" -> 2L, "shop.c" -> 2L, "shop.hot" -> 18L))
  }

  test("map-offset mode refuses a legacy checkpoint without explicit opt-in") {
    import scala.jdk.CollectionConverters._
    import graft.sources.binlog._
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val d = Files.createTempDirectory("legacy-upg").toString
    def rec(pos: Long, table: String, id: Long) = ChangelogRecord.write(
      ChangelogRecord(pos, "insert", "shop", table, id,
        Map("id" -> EnvelopeValue.VLong(id)))) + "\n"
    java.nio.file.Files.write(new java.io.File(d, "graft-bin.000001").toPath,
      (1L to 6L).map(i => rec(i, if (i % 2 == 0) "users" else "orders", i))
        .mkString.getBytes("UTF-8"))
    val conf = BinlogSourceConf(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(Map("path" -> d).asJava))
    val stream = new BinlogMicroBatchStream(conf)
    val legacy = BinlogSourceOffset(BinlogOffset(1, 4).packed)
    // on-disk format pin: the packed (fileId, pos) long as a decimal
    assert(legacy.json() === "10000000000004")
    assert(stream.deserializeOffset("10000000000004") === legacy)
    // default: refused with an actionable message — the upgrade changes
    // envelope offset semantics and would break downstream dedup state
    val ex = intercept[IllegalStateException] {
      stream.latestOffset(legacy, ReadLimit.allAvailable())
    }
    assert(ex.getMessage.contains("offsetsByTable=false"))
    assert(ex.getMessage.contains("upgradeLegacyCheckpoint=true"))
    // with the opt-in: exact global->table-local conversion (records
    // 1-3 consumed: 2 orders, 1 users)
    val upConf = BinlogSourceConf(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        Map("path" -> d, "upgradeLegacyCheckpoint" -> "true").asJava))
    val upStream = new BinlogMicroBatchStream(upConf)
    val end = upStream.latestOffset(legacy, ReadLimit.allAvailable())
      .asInstanceOf[BinlogTableOffsets]
    assert(end.tables === Map("shop.orders" -> 3L, "shop.users" -> 3L))
  }

  test("per-table map offsets: large in-range files chunk into bounded partitions") {
    import scala.jdk.CollectionConverters._
    import graft.sources.binlog._
    val d = Files.createTempDirectory("chunked").toString
    val lines = (1L to 10L).map(i => ChangelogRecord.write(
      ChangelogRecord(i, "insert", "shop", if (i <= 6) "orders" else "users", i,
        Map("id" -> EnvelopeValue.VLong(i)))) + "\n")
    java.nio.file.Files.write(new java.io.File(d, "graft-bin.000001").toPath,
      lines.mkString.getBytes("UTF-8"))
    val conf = BinlogSourceConf(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        Map("path" -> d, "maxRecordsPerPartition" -> "4").asJava))
    val parts = BinlogPartitioning.planByTable(conf,
      Map.empty, Map("shop.orders" -> 6L, "shop.users" -> 4L))
      .map(_.asInstanceOf[BinlogMapInputPartition])
    // 10 in-range records > 4 → per-table chunks: orders 6→2, users 4→1
    assert(parts.length === 3)
    assert(parts.forall(p =>
      p.ranges.valuesIterator.map { case (lo, hi) => hi - lo }.sum <= 4))
    // chunks partition the index space exactly (no overlap, no gap)
    val served = parts.flatMap(p => p.ranges.toSeq.flatMap {
      case (t, (lo, hi)) => (lo until hi).map(t -> _)
    })
    assert(served.length === served.distinct.length)
    assert(served.toSet ===
      ((0L until 6L).map("shop.orders" -> _) ++
        (0L until 4L).map("shop.users" -> _)).toSet)
  }

  test("map-offset windows split along the manifest sync spine with byte seeks") {
    import scala.jdk.CollectionConverters._
    import graft.sources.binlog._
    val d = Files.createTempDirectory("spine").toString
    // multi-table log WITH a fine-grained spine: sync every 5 records
    ChangelogGenerator.generate(Tables(spark, sfDir).events.limit(100), d,
      recordsPerFile = 60, tableByEventType = true, syncEvery = 5)
    val totals: Map[String, Long] = ChangelogFiles
      .manifest(d).values.flatMap(_.tables).groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(_._2).sum }
    val conf = BinlogSourceConf(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        Map("path" -> d, "maxRecordsPerPartition" -> "10").asJava))
    val parts = BinlogPartitioning.planByTable(conf, Map.empty, totals)
      .map(_.asInstanceOf[BinlogMapInputPartition])
    // windows actually split mid-file, with exact byte seeks
    assert(parts.length > 2)
    assert(parts.exists(p => p.scanFrom > 1 && p.seekBytes > 0))
    // windows partition every table's index space exactly
    val served = parts.flatMap(p => p.ranges.toSeq.flatMap {
      case (t, (lo, hi)) => (lo until hi).map(t -> _)
    })
    assert(served.length === served.distinct.length)
    assert(served.toSet ===
      totals.toSeq.flatMap { case (t, n) => (0L until n).map(t -> _) }.toSet)
    // and the served content is IDENTICAL to an unsplit read
    val fine = spark.read.format("graft-binlog").option("path", d)
      .option("maxRecordsPerPartition", "10").load()
      .select("value").as[String].collect().sorted
    val whole = spark.read.format("graft-binlog").option("path", d)
      .load().select("value").as[String].collect().sorted
    assert(fine.length === 100 && fine.toSeq === whole.toSeq)
  }

  test("per-table map offsets stream end-to-end and resume from a map checkpoint") {
    import graft.sources.binlog._
    val d = Files.createTempDirectory("two-table-e2e").toString
    def rec(pos: Long, table: String, id: Long) = ChangelogRecord.write(
      ChangelogRecord(pos, "insert", "shop", table, id,
        Map("id" -> EnvelopeValue.VLong(id)))) + "\n"
    def writeFile(fid: Long, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        new java.io.File(d, f"graft-bin.$fid%06d").toPath,
        lines.mkString.getBytes("UTF-8"))
    writeFile(1, (1L to 6L).map(i =>
      rec(i, if (i % 3 == 0) "users" else "orders", i)))

    val ck = Files.createTempDirectory("ck-map").toString
    val outDir = Files.createTempDirectory("map-out").toString + "/rows"
    def run(): Seq[CdcEvent] = {
      val q = spark.readStream.format("graft-binlog").option("path", d)
        .load().writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ck).start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(outDir).collect()
        .map(r => EnvelopeCodec.parse(r.getString(0))).toSeq
    }
    assert(run().size === 6)
    // restart after appending to ONE table only — no duplicates, no loss
    writeFile(2, Seq(rec(1, "users", 7), rec(2, "users", 8)))
    val all = run()
    assert(all.size === 8)
    val byTable = all.groupBy(_.tableName).view.mapValues(_.map(_.offset).sorted).toMap
    assert(byTable("orders") === Seq(1L, 2L, 3L, 4L))
    assert(byTable("users") === Seq(1L, 2L, 3L, 4L))
  }

  test("schema registry updates are picked up by subsequent micro-batches") {
    // The reference caches table schemas forever (BSSE:88 — DDL during
    // streaming unsupported); here the registry is re-read per batch,
    // so a column added between batches shows up in new envelopes.
    val d = Files.createTempDirectory("schema-drift").toString
    def writeSchemas(st: StructType): Unit =
      java.nio.file.Files.write(new java.io.File(d, "schemas.json").toPath,
        s"""{"graft.t": ${com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
          .writeValueAsString(st.json)}}""".getBytes("UTF-8"))
    def writeFile(id: Long, rec: ChangelogRecord): Unit = {
      val f = new java.io.File(d, f"graft-bin.$id%06d")
      java.nio.file.Files.write(f.toPath,
        (ChangelogRecord.write(rec) + "\n").getBytes("UTF-8"))
    }
    val v1 = StructType(Seq(StructField("id", LongType)))
    val v2 = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    writeSchemas(v1)
    writeFile(1, ChangelogRecord(1, "insert", "graft", "t", 1L,
      Map("id" -> EnvelopeValue.VLong(1))))

    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = spark.readStream.format("graft-binlog").option("path", d)
      .load().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("value").collect()
          .foreach(r => seen.synchronized { seen += r.getString(0) }); ()
      }
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try {
      q.processAllAvailable()
      writeSchemas(v2) // DDL between batches
      writeFile(2, ChangelogRecord(1, "insert", "graft", "t", 2L,
        Map("id" -> EnvelopeValue.VLong(2), "name" -> EnvelopeValue.VString("x"))))
      q.processAllAvailable()
    } finally q.stop()

    val schemas = seen.map(EnvelopeCodec.parse).sortBy(_.timestamp)
      .map(e => DataType.fromJson(e.schemaJson).asInstanceOf[StructType])
    assert(schemas.length === 2)
    assert(schemas.head.fieldNames.toSeq === Seq("id"))
    assert(schemas.last.fieldNames.toSeq === Seq("id", "name"))
  }

  test("foreachBatch upsert materializes the same replica as the batch oracle query") {
    val replicaDir = Files.createTempDirectory("replica").toString + "/state"
    val q = spark.readStream.format("graft-binlog")
      .option("path", dir).option("maxEventsPerTrigger", "250")
      .load().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val typed = CdcStream.parsed(batch, rowSchema)
        CdcStream.applyBatchToReplica(replicaDir, typed,
          idCols = Seq("user_id"),
          orderCols = Seq(col("ts_ms"), col("event_id")))
        ()
      }
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()

    val replica = CdcStream.readReplica(spark, replicaDir).get
      .select($"user_id", $"event_id".as("last_event_id"))
    // oracle: the DuckDB-checked batch query (last op per user, delete drops)
    val expect = graft.SparkEntry.queries("cdc_apply_changelog")(spark, sfDir)
      .select($"user_id")
    assert(replica.count() === expect.count())
    assert(replica.select("user_id").exceptAll(expect).count() === 0L)
  }

  test("latestOffset stays a metadata stat walk at 1000-file scale") {
    // SCALING.md's invariant, pinned: per-trigger offset resolution is
    // an O(#files) directory walk with NO record reads — measured at
    // ~5 us/file by ScaleBench (SCALEBENCH.json). The bound here is
    // ~40x that measurement so only a record-read leak (ms/file) can
    // trip it, not machine noise.
    val d = Files.createTempDirectory("graft-scale").toString
    ChangelogGenerator.generate(Tables(spark, sfDir).events, d,
      recordsPerFile = 1) // 1000 events -> 1000 files
    // settle the dir past the listing cache's mtime-granularity guard
    // (the steady-state shape: 1000 rotated files, none created just
    // now) — per-trigger offset resolution is then O(1) stats, not a
    // per-file walk (r12 incremental latestOffset)
    java.nio.file.Files.setLastModifiedTime(java.nio.file.Paths.get(d),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60000L))
    assert(ChangelogFiles.listFiles(d).size === 1000)
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", d, "maxEventsPerTrigger", "100",
        "offsetsByTable", "false"))
    val stream = new graft.sources.binlog.BinlogMicroBatchStream(
      graft.sources.binlog.BinlogSourceConf(opts))
    val limit = org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(100L)
    val start = stream.initialOffset()
    stream.latestOffset(start, limit) // warm the page cache
    val reps = 5
    val t0 = System.nanoTime()
    (1 to reps).foreach(_ => stream.latestOffset(start, limit))
    val perCallMs = (System.nanoTime() - t0) / 1e6 / reps
    assert(perCallMs < 20.0,
      f"latestOffset took $perCallMs%.1f ms/call over 1000 files — " +
        "the settled-dir listing cache is not engaging, or a record " +
        "read leaked into the trigger metadata path")
  }

  test("envelopeColumns widens the scan; wide columns match the envelopes") {
    val df = spark.read.format("graft-binlog").option("path", dir)
      .option("envelopeColumns", "true").load()
    assert(df.columns.toSeq === Seq("value", "db", "table", "op", "offset"))
    val rows = df.collect()
    assert(rows.length === 1000)
    rows.foreach { r =>
      val ev = EnvelopeCodec.parse(r.getString(0))
      assert(r.getString(1) === ev.databaseName)
      assert(r.getString(2) === ev.tableName)
      assert(r.getString(3) === ev.eventType)
      assert(r.getLong(4) === ev.offset)
    }
    // a routing-only projection (no `value`) still answers correctly —
    // the reader skips envelope serialization for it
    val ops = df.select("op").as[String].collect()
    assert(ops.length === 1000 && ops.toSet === Set("insert", "update", "delete"))
  }

  test("plan-level filters push into the scan and stay exact") {
    val df = spark.read.format("graft-binlog").option("path", dir)
      .option("envelopeColumns", "true").load()
    val q = df.filter($"op".isin("insert", "delete") && $"table" === "events")
    // the executed plan advertises the pushed filters on the scan node
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan.take(1500))
    val all = df.collect().filter(r =>
      Set("insert", "delete")(r.getString(3)) && r.getString(2) == "events")
    assert(q.count() === all.length.toLong)
    // a non-matching table equality empties the read at the source
    assert(df.filter($"table" === "no_such_table").count() === 0L)
  }

  test("offset range predicates clamp the batch plan to in-range chunks") {
    val df = spark.read.format("graft-binlog").option("path", dir)
      .option("envelopeColumns", "true").load()
    val offsets = df.select("offset").as[Long].collect().sorted
    val cut = offsets(offsets.length / 2)
    val hi = offsets(offsets.length * 3 / 4)
    val got = df.filter($"offset" >= cut && $"offset" <= hi)
      .select("offset").as[Long].collect().sorted
    assert(got.toSeq === offsets.filter(o => o >= cut && o <= hi).toSeq)
    // the bounds reach the batch planner: the clamped plan emits
    // strictly fewer partitions than the full scan (file/chunk pruning
    // off the manifest spine — recordsPerFile=300 → 4 files here)
    val optsMap = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", dir, "envelopeColumns", "true"))
    val conf = graft.sources.binlog.BinlogSourceConf(optsMap)
    val fullParts = new graft.sources.binlog.BinlogBatch(conf)
      .planInputPartitions().length
    val clamped = new graft.sources.binlog.BinlogBatch(conf.copy(
      offsetLowerBound = Some(cut), offsetUpperBound = Some(hi + 1)))
      .planInputPartitions().length
    assert(clamped < fullParts,
      s"clamped plan ($clamped) must prune partitions vs full ($fullParts)")
    // EqualTo prunes to a single record's chunk
    assert(df.filter($"offset" === cut).count() === 1L)
  }

  test("out-of-range and extreme offset bounds: empty plan, never a crash or wrap") {
    val df = spark.read.format("graft-binlog").option("path", dir)
      .option("envelopeColumns", "true").load()
    val offsets = df.select("offset").as[Long].collect()
    val maxOff = offsets.max
    // lower bound past the log's tail — the natural "everything after
    // my last-consumed offset" poll with no new data — must plan an
    // EMPTY range, not crash planning with a data-loss error
    assert(df.filter($"offset" > maxOff).count() === 0L)
    assert(df.filter($"offset" >= maxOff + 1).count() === 0L)
    // Long.MaxValue boundaries: `<=` matches everything (a naive +1
    // would wrap to MinValue and silently empty the scan); `>` matches
    // nothing (a naive +1 would wrap and return everything)
    assert(df.filter($"offset" <= Long.MaxValue).count() === offsets.length.toLong)
    assert(df.filter($"offset" > Long.MaxValue).count() === 0L)
    // crossed bounds: empty result, not a planning error
    assert(df.filter($"offset" > maxOff && $"offset" < 10L).count() === 0L)
  }
}
