package graft.cdc

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Deterministic changelog-fixture generator: turns a batch DataFrame
  * (the `events` fixture table) into a file-backed changelog the
  * streaming source replays — the test double the reference never had
  * (its suite needs a live MySQL; SURVEY.md §5).
  *
  * Ops are derived from `event_type`: signup→insert, error→delete,
  * else update — the same mapping the batch CDC queries use, so the
  * streamed result can be cross-checked against the DuckDB oracle.
  * Records are ordered by (ts, event_id) — log order is arrival order,
  * like a real binlog.
  *
  * This is a fixture WRITER (driver-side, test-scale); the reading
  * path is what's built for scale.
  */
object ChangelogGenerator {

  /** @param driftFromMs when set below `Long.MaxValue`, models an
    *   `ALTER TABLE ADD COLUMN score BIGINT` landing mid-stream: records
    *   with `ts_ms >= driftFromMs` carry an extra `score = event_id % 1000`
    *   field, and `schemas.json` publishes the WIDENED (current) table
    *   schema — the registry state a reader probes after the DDL
    *   (SURVEY §1.3: schemas are dynamic, re-read per batch). Earlier
    *   records simply lack the column; a correct reader surfaces them as
    *   NULL under the widened schema.
    * @param tableByEventType when true, each record routes to the table
    *   NAMED BY ITS event_type (`db.click`, `db.purchase`, …) — one
    *   shared log interleaving several tables, the real binlog shape;
    *   `schemas.json` registers every routed table and the manifest
    *   carries per-file PER-TABLE counts so map offsets advance tables
    *   independently without content scans.
    * @param txnSize when > 0, groups consecutive records (log order)
    *   into transactions of this size: each record carries
    *   `txn = (globalIndex-1)/txnSize` (the BEGIN…XID grouping of a
    *   MySQL binlog), files ROTATE ONLY AT COMMIT BOUNDARIES (a file
    *   due to roll defers until the current txn completes — binlog
    *   rotation semantics), and the manifest records each file's
    *   txn-commit positions (`txnEnds`) so txn-aligned batch planning
    *   is metadata-only. Closing the log commits the final (possibly
    *   short) transaction.
    * @param beforeImages when true, models `binlog_row_image=full`
    *   (FIXTURES §1): each UPDATE record carries the row's previous
    *   image, maintained per key exactly as a database would — the
    *   image is the key's last written row, and a delete clears it
    *   (an update arriving after a delete has no before image, like a
    *   row re-created by the application).
    * @param ddlAtDrift when true (requires `driftFromMs`), a DDL
    *   record — op `ddl`, row `{"sql": "ALTER TABLE …"}` — is written
    *   in log order immediately before the first drifted record: the
    *   binlog QUERY event that carries the ALTER TABLE itself. It
    *   consumes a position like any record (manifest counts agree) and
    *   is dropped by readers unless they opt in (`includeDdl`).
    */
  /** @param syncEvery when > 0, the manifest records an intra-file
    *   scan-spine [[ChangelogFiles.SyncPoint]] every this many records:
    *   (pos, per-table counts among records [1, pos) of the file).
    *   Lets the map-offset planner split ONE shared log file across
    *   tasks with exact per-table index bases — no partition re-parses
    *   the prefix it skips.
    */
  /** @param logOrder SQL expressions fixing the LOG (offset) order of
    *   the records — default source order `(ts_ms, event_id)`. An
    *   override models a log whose delivery order DIVERGES from the
    *   rows' own version order (a backfill appended after live
    *   traffic, a replayed segment): downstream sinks then need
    *   order-conditional merges to converge, which is exactly what the
    *   out-of-order fixtures exist to exercise.
    */
  def generate(events: DataFrame, outDir: String, recordsPerFile: Long,
      db: String = "graft", table: String = "events",
      prefix: String = ChangelogFiles.DefaultPrefix,
      driftFromMs: Long = Long.MaxValue,
      tableByEventType: Boolean = false,
      txnSize: Long = 0L,
      beforeImages: Boolean = false,
      ddlAtDrift: Boolean = false,
      syncEvery: Long = 5000L,
      logOrder: Seq[String] = Seq("ts_ms", "event_id")): Unit = {
    require(!ddlAtDrift || driftFromMs < Long.MaxValue,
      "ddlAtDrift requires driftFromMs")
    val dir = new File(outDir)
    dir.mkdirs()

    val baseFields = Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType))
    val schema = StructType(
      if (driftFromMs == Long.MaxValue) baseFields
      else baseFields :+ StructField("score", LongType))

    val tables: Seq[String] =
      if (!tableByEventType) Seq(table)
      else events.select("event_type").distinct()
        .collect().map(_.getString(0)).sorted.toSeq

    // schemas.json — the feed's TABLE_MAP/JDBC-probe equivalent
    val schemas = graft.io.AtomicFiles.Json.createObjectNode()
    tables.foreach(t => schemas.put(s"$db.$t", schema.json))
    java.nio.file.Files.write(new File(dir, "schemas.json").toPath,
      graft.io.AtomicFiles.Json.writeValueAsBytes(schemas))

    val ordered = events
      .selectExpr("event_id", "user_id", "event_type", "value", "props",
        "unix_millis(ts) AS ts_ms")
      .orderBy(logOrder.map(org.apache.spark.sql.functions.expr): _*)

    var fileId = 1L
    var posInFile = 0L
    var globalIdx = 0L
    var bytesInFile = 0L
    var out: java.io.BufferedOutputStream = null
    var current: File = null
    def writeLine(s: String): Unit = {
      val b = (s + "\n").getBytes(StandardCharsets.UTF_8)
      out.write(b)
      bytesInFile += b.length
    }
    val perTable = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val fileTxnEnds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val fileSync =
      scala.collection.mutable.ArrayBuffer.empty[ChangelogFiles.SyncPoint]
    val written =
      scala.collection.mutable.LinkedHashMap.empty[String, (File, Long, Map[String, Long])]
    val allTxnEnds = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Long]]
    val allSync = scala.collection.mutable
      .LinkedHashMap.empty[String, Seq[ChangelogFiles.SyncPoint]]
    // after the record at posInFile is written: counts among [1, pos+1),
    // plus the byte offset where line pos+1 starts (= bytes so far)
    def maybeSync(): Unit =
      if (syncEvery > 0 && posInFile % syncEvery == 0)
        fileSync += ChangelogFiles.SyncPoint(posInFile + 1, perTable.toMap,
          bytesInFile)
    val rowState =
      scala.collection.mutable.HashMap.empty[Long, Map[String, EnvelopeValue]]
    var ddlWritten = false
    def roll(): Unit = {
      if (out != null) {
        out.close()
        written += current.getName -> (current, posInFile, perTable.toMap)
        if (fileTxnEnds.nonEmpty) allTxnEnds += current.getName -> fileTxnEnds.toSeq
        if (fileSync.nonEmpty) allSync += current.getName -> fileSync.toSeq
        perTable.clear()
        fileTxnEnds.clear()
        fileSync.clear()
      }
      val f = new File(dir, f"$prefix.$fileId%06d")
      current = f
      bytesInFile = 0L
      out = new java.io.BufferedOutputStream(new FileOutputStream(f), 64 * 1024)
    }
    roll()

    val it = ordered.toLocalIterator()
    while (it.hasNext) {
      val r: Row = it.next()
      // rotate only at a commit boundary: a file due to roll waits for
      // the current transaction to complete (binlog rotation semantics)
      val atTxnStart = txnSize <= 0 || globalIdx % txnSize == 0
      if (posInFile >= recordsPerFile && atTxnStart) {
        fileId += 1; roll(); posInFile = 0 // roll() records the closed file's count
      }
      val et = r.getString(2)
      val op = OpMapping.op(et)
      val tsMs = r.getLong(5)
      val recTable = if (tableByEventType) et else table
      // the ALTER TABLE lands in the log right before the first record
      // that carries the new column — a binlog QUERY event
      if (ddlAtDrift && !ddlWritten && tsMs >= driftFromMs) {
        posInFile += 1
        perTable.updateWith(s"$db.$recTable")(c => Some(c.getOrElse(0L) + 1L))
        writeLine(ChangelogRecord.write(ChangelogRecord(posInFile, "ddl",
          db, recTable, tsMs, Map("sql" -> EnvelopeValue.VString(
            s"ALTER TABLE $db.$recTable ADD COLUMN score BIGINT")))))
        ddlWritten = true
        maybeSync()
      }
      posInFile += 1
      globalIdx += 1
      perTable.updateWith(s"$db.$recTable")(c => Some(c.getOrElse(0L) + 1L))
      val base = Map[String, EnvelopeValue](
        "event_id" -> EnvelopeValue.VLong(r.getLong(0)),
        "user_id" -> EnvelopeValue.VLong(r.getLong(1)),
        "event_type" -> EnvelopeValue.VString(et),
        "value" -> EnvelopeValue.VDouble(r.getDouble(3)),
        "props" -> (if (r.isNullAt(4)) EnvelopeValue.VNull
                    else EnvelopeValue.VString(r.getString(4))))
      val row =
        if (tsMs >= driftFromMs)
          base + ("score" -> EnvelopeValue.VLong(r.getLong(0) % 1000L))
        else base
      val txn = if (txnSize > 0) Some((globalIdx - 1) / txnSize) else None
      // per-key row state for before images: last written image, cleared
      // by delete — what binlog_row_image=full captures for UPDATEs
      val before =
        if (beforeImages && op == "update") rowState.get(r.getLong(1))
        else None
      if (beforeImages) {
        if (op == "delete") rowState.remove(r.getLong(1))
        else rowState.put(r.getLong(1), row)
      }
      val rec = ChangelogRecord(posInFile, op, db, recTable, tsMs, row,
        before = before, txn = txn)
      writeLine(ChangelogRecord.write(rec))
      // record at pos ends its txn when it is the txn's last record or
      // the log's last record (closing the log commits the tail txn)
      if (txnSize > 0 && (globalIdx % txnSize == 0 || !it.hasNext))
        fileTxnEnds += posInFile
      maybeSync()
    }
    out.close()
    written += current.getName -> (current, posInFile, perTable.toMap)
    if (fileTxnEnds.nonEmpty) allTxnEnds += current.getName -> fileTxnEnds.toSeq
    if (fileSync.nonEmpty) allSync += current.getName -> fileSync.toSeq

    // manifest.json sidecar: per-file (length, count, per-table counts,
    // txn-commit positions, intra-file sync spine) so the source's
    // per-trigger latestOffset never re-scans completed files — in
    // global, per-table, or txn-aligned offset mode — and mid-file
    // partition starts stay metadata-only
    ChangelogFiles.writeManifest(dir, written, txnEnds = allTxnEnds.toMap,
      sync = allSync.toMap)
  }
}
