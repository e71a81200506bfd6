package graft.cdc

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import java.io.{File, FileInputStream, StringWriter}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

/** One record of the file-backed changelog the deterministic feed
  * replays — the stand-in for a MySQL binlog event (no live DB exists
  * in this environment; SURVEY.md §7 step 2). `pos` is the record's
  * 1-based index within its file, so (fileId, pos) is a
  * [[BinlogOffset]].
  *
  * `row` carries the after-image for insert/update and the before-image
  * for delete — the reference's exact emission semantics
  * (InsertRowsWriter/UpdateRowsWriter emit after-images, update
  * before-images are discarded, DeleteRowsWriter emits the
  * before-image; UpdateRowsWriter.java:54-57, DeleteRowsWriter.java:48-56).
  */
final case class ChangelogRecord(
    pos: Long,
    op: String, // insert | update | delete (binlog) | put (wal)
    db: String,
    table: String,
    tsMillis: Long,
    row: Map[String, EnvelopeValue],
    /** Update before-image, when the log captured one (FIXTURES §1:
      * `binlog_row_image=full`). The source emits it only under its
      * `includeBeforeImage` option.
      */
    before: Option[Map[String, EnvelopeValue]] = None,
    /** Transaction id when the log writer groups records into
      * transactions (MySQL binlog BEGIN…XID; the reference's client
      * consumes XID events to delimit commits). None = autocommit —
      * the record is its own transaction.
      */
    txn: Option[Long] = None)

object ChangelogRecord {
  private val factory = new JsonFactory()

  /** Raw cells serialize as single-key tagged objects so the changelog
    * can carry pre-conversion values (FIXTURES §2 per-type matrix):
    * `{"$b64":"…"}` bytes, `{"$bits":[0,3]}` BIT set-bits,
    * `{"$dt":ms}` DATETIME, `{"$d":ms}` DATE, `{"$ts":ms}` TIMESTAMP.
    */
  private def writeCell(g: com.fasterxml.jackson.core.JsonGenerator,
      k: String, v: EnvelopeValue): Unit = v match {
    case EnvelopeValue.VNull       => g.writeNullField(k)
    case EnvelopeValue.VString(s)  => g.writeStringField(k, s)
    case EnvelopeValue.VLong(l)    => g.writeNumberField(k, l)
    case EnvelopeValue.VDouble(d)  => g.writeNumberField(k, d)
    case EnvelopeValue.VBool(b)    => g.writeBooleanField(k, b)
    case EnvelopeValue.VDecimal(d) => g.writeNumberField(k, d)
    case EnvelopeValue.VBytes(b64) =>
      g.writeObjectFieldStart(k); g.writeStringField("$b64", b64); g.writeEndObject()
    case EnvelopeValue.VBits(bits) =>
      g.writeObjectFieldStart(k); g.writeArrayFieldStart("$bits")
      bits.foreach(g.writeNumber); g.writeEndArray(); g.writeEndObject()
    case EnvelopeValue.VDatetime(ms) =>
      g.writeObjectFieldStart(k); g.writeNumberField("$dt", ms); g.writeEndObject()
    case EnvelopeValue.VDate(ms) =>
      g.writeObjectFieldStart(k); g.writeNumberField("$d", ms); g.writeEndObject()
    case EnvelopeValue.VTimestamp(ms) =>
      g.writeObjectFieldStart(k); g.writeNumberField("$ts", ms); g.writeEndObject()
  }

  private def writeRow(g: com.fasterxml.jackson.core.JsonGenerator,
      field: String, row: Map[String, EnvelopeValue]): Unit = {
    g.writeObjectFieldStart(field)
    row.foreach { case (k, v) => writeCell(g, k, v) }
    g.writeEndObject()
  }

  def write(r: ChangelogRecord): String = {
    val sw = new StringWriter(192)
    val g = factory.createGenerator(sw)
    g.writeStartObject()
    g.writeNumberField("pos", r.pos)
    g.writeStringField("op", r.op)
    g.writeStringField("db", r.db)
    g.writeStringField("table", r.table)
    g.writeNumberField("ts", r.tsMillis)
    r.txn.foreach(t => g.writeNumberField("txn", t))
    writeRow(g, "row", r.row)
    r.before.foreach(b => writeRow(g, "before", b))
    g.writeEndObject()
    g.close()
    sw.toString
  }

  private def parseTaggedCell(p: com.fasterxml.jackson.core.JsonParser): EnvelopeValue = {
    // positioned at START_OBJECT of a tagged raw cell
    var v: EnvelopeValue = null
    while (p.nextToken() != JsonToken.END_OBJECT) {
      val tag = p.currentName()
      p.nextToken()
      v = tag match {
        case "$b64" => EnvelopeValue.VBytes(p.getText)
        case "$bits" =>
          require(p.currentToken() == JsonToken.START_ARRAY, "$bits must be an array")
          val b = mutable.ArrayBuffer.empty[Int]
          while (p.nextToken() != JsonToken.END_ARRAY) b += p.getIntValue
          EnvelopeValue.VBits(b.toSeq)
        case "$dt" => EnvelopeValue.VDatetime(p.getLongValue)
        case "$d"  => EnvelopeValue.VDate(p.getLongValue)
        case "$ts" => EnvelopeValue.VTimestamp(p.getLongValue)
        case t => throw new IllegalArgumentException(s"unknown raw-cell tag $t")
      }
    }
    require(v != null, "empty tagged cell")
    v
  }

  private def parseRow(p: com.fasterxml.jackson.core.JsonParser): Map[String, EnvelopeValue] = {
    val m = mutable.LinkedHashMap.empty[String, EnvelopeValue]
    while (p.nextToken() != JsonToken.END_OBJECT) {
      val col = p.currentName()
      p.nextToken() match {
        case JsonToken.VALUE_NULL         => m += col -> EnvelopeValue.VNull
        case JsonToken.VALUE_STRING       => m += col -> EnvelopeValue.VString(p.getText)
        case JsonToken.VALUE_NUMBER_INT   => m += col -> EnvelopeValue.VLong(p.getLongValue)
        case JsonToken.VALUE_NUMBER_FLOAT => m += col -> EnvelopeValue.VDouble(p.getDoubleValue)
        case JsonToken.VALUE_TRUE         => m += col -> EnvelopeValue.VBool(true)
        case JsonToken.VALUE_FALSE        => m += col -> EnvelopeValue.VBool(false)
        case JsonToken.START_OBJECT       => m += col -> parseTaggedCell(p)
        case t => throw new IllegalArgumentException(s"unsupported cell token $t")
      }
    }
    m.toMap
  }

  def parse(line: String): ChangelogRecord = {
    val p = factory.createParser(line)
    var pos = 0L; var op: String = null; var db: String = null
    var table: String = null; var ts = 0L
    var row: Map[String, EnvelopeValue] = Map.empty
    var before: Option[Map[String, EnvelopeValue]] = None
    var txn: Option[Long] = None
    require(p.nextToken() == JsonToken.START_OBJECT, "record must be a JSON object")
    while (p.nextToken() != JsonToken.END_OBJECT) {
      val name = p.currentName()
      p.nextToken()
      name match {
        case "pos"    => pos = p.getLongValue
        case "op"     => op = p.getValueAsString
        case "db"     => db = p.getValueAsString
        case "table"  => table = p.getValueAsString
        case "ts"     => ts = p.getLongValue
        case "txn"    => txn = Some(p.getLongValue)
        case "row"    => row = parseRow(p)
        case "before" => before = Some(parseRow(p))
        case _ => p.skipChildren()
      }
    }
    p.close()
    ChangelogRecord(pos, op, db, table, ts, row, before, txn)
  }
}

/** Directory layout + index of a file-backed changelog:
  * `<dir>/<prefix>.%06d` newline-delimited record files plus
  * `<dir>/schemas.json` mapping `db.table` → StructType JSON (the
  * stand-in for the reference's JDBC schema probe,
  * BinLogSocketServerInExecutor.scala:264-275) and an optional
  * `<dir>/manifest.json` sidecar with per-file record counts written by
  * the generator.
  *
  * Line accounting rule (ONE rule, used everywhere): one line = one
  * pos, counted as newline bytes. `recordCount` counts newlines;
  * `readRange` assigns pos per line read and silently skips blank
  * lines at emission (a blank line is a no-op record that still
  * consumes its pos) — so a stray blank can never desynchronize
  * offsets from records.
  *
  * Scale: `latestOffset` runs every trigger on the driver, so it must
  * never do I/O proportional to data size. Completed files resolve
  * from the manifest (an O(1) stat + cached map); the active tail file
  * is counted INCREMENTALLY — only bytes appended since the last look
  * are scanned. The cache keys by path with stale-entry replacement,
  * so a long-running stream cannot leak one entry per append.
  */
object ChangelogFiles {
  val DefaultPrefix = "graft-bin"
  private final val BlockSize = 64 * 1024
  val ManifestName = "manifest.json"

  private final case class CountState(len: Long, mtime: Long, count: Long)
  private val countCache = new ConcurrentHashMap[String, CountState]()

  /** One manifest row: byte length, record count, and (optionally)
    * per-`db.table` record counts of the file — the metadata that lets
    * per-table map offsets advance without scanning file contents —
    * plus (optionally) the file's mutation-start positions (`bounds`),
    * written at roll/close time by cell-per-record WAL writers so
    * grouping-mode batch alignment never has to scan a completed file,
    * and (optionally) the file's transaction-commit positions
    * (`txnEnds`) — the positions whose record is the LAST of a
    * transaction, written by transactional log writers so txn-aligned
    * batch planning stays metadata-only on completed files.
    */
  final case class ManifestEntry(length: Long, count: Long,
      tables: Map[String, Long], bounds: Seq[Long] = Nil,
      txnEnds: Seq[Long] = Nil, sync: Seq[SyncPoint] = Nil)

  /** Intra-file scan spine: at record position `pos` (1-based),
    * `tables` holds each table's record count among positions
    * [1, pos) of the file, and `byte` (when >= 0) is the exact byte
    * offset where line `pos` starts. Written by multi-table log
    * writers every `syncEvery` records so a partition can start
    * scanning MID-FILE with exact per-table index bases — and, with
    * `byte`, SEEK there directly: no partition reads bytes it does
    * not serve.
    */
  final case class SyncPoint(pos: Long, tables: Map[String, Long],
      byte: Long = -1L)

  private final case class ManifestState(len: Long, mtime: Long,
      entries: Map[String, ManifestEntry])
  private val manifestCache = new ConcurrentHashMap[String, ManifestState]()

  /** Per-table count cache for live files: `len` is the CONSUMED prefix
    * (position just past the last complete line scanned), so a partial
    * trailing line under concurrent append is re-read next time, never
    * double- or under-counted. `mtime` guards the pure-hit path like
    * [[CountState]]: a file rewritten to the same byte length must not
    * return stale counts.
    */
  private final case class TableCountState(len: Long, mtime: Long,
      counts: Map[String, Long])
  private val tableCountCache = new ConcurrentHashMap[String, TableCountState]()

  /** Incremental directory listing state: the sorted log-file list is
    * reusable while the DIRECTORY's mtime is unchanged — on POSIX,
    * creating/deleting/renaming an entry updates the dir mtime, while
    * appending to an existing file does not (appends are what
    * `recordCount`/`tableCounts` track per file). `trusted` is false
    * while the dir mtime is within [[MtimeTrustLagMs]] of the wall
    * clock at caching time: a file created in the same mtime tick as
    * the enumeration would be invisible to the mtime compare, so a
    * recently-modified dir re-enumerates every call until its mtime
    * ages past the granularity guard. This makes the per-trigger
    * listing O(1) stats on a settled log dir (the year-long-log case:
    * 10k rotated files, none created in the last 2 s) instead of a
    * linear per-file stat walk — the reference's trigger path is one
    * socket request (MLSQLBinLogDataSource.scala:351-404, constant
    * time), and this matches that property at any file count.
    */
  private final case class DirListState(mtimeNs: Long, trusted: Boolean,
      files: Seq[(Long, File)])
  private val dirListCache = new ConcurrentHashMap[String, DirListState]()

  /** Positive-only name→fileId cache: a name that was once a regular
    * prefix-matching log file keeps its identity forever (the id is a
    * pure function of the name; content changes never re-key it), so
    * an untrusted re-enumeration skips the per-file `isFile` stat for
    * every already-known name — O(new files) stats per re-list.
    */
  private val fileIdCache = new ConcurrentHashMap[String, java.lang.Long]()

  /** Dir-mtime granularity guard (coarse filesystems stamp at 1 s). */
  private val MtimeTrustLagMs = 2000L

  def listFiles(dir: String, prefix: String = DefaultPrefix): Seq[(Long, File)] = {
    val d = new File(dir)
    val key = d.getPath + "\u0000" + prefix
    val mtimeNs =
      try java.nio.file.Files.getLastModifiedTime(d.toPath)
        .to(java.util.concurrent.TimeUnit.NANOSECONDS)
      catch { case _: java.io.IOException => -1L }
    val cached = dirListCache.get(key)
    if (cached != null && cached.trusted && mtimeNs >= 0 &&
        cached.mtimeNs == mtimeNs) return cached.files
    val dot = prefix + "."
    val names = Option(d.list()).getOrElse(Array.empty[String])
    val fs = names.iterator.filter(_.startsWith(dot)).flatMap { n =>
      val f = new File(d, n)
      val hit = fileIdCache.get(f.getPath)
      if (hit != null) Some((hit.longValue(), f))
      else if (f.isFile) {
        val id = BinlogOffset.fileIdOf(n)
        fileIdCache.put(f.getPath, id)
        Some((id, f))
      } else None
    }.toArray.sortBy(_._1).toSeq
    val trusted = mtimeNs >= 0 &&
      System.currentTimeMillis() - mtimeNs / 1000000L > MtimeTrustLagMs
    dirListCache.put(key, DirListState(mtimeNs, trusted, fs))
    fs
  }

  /** Raw newline-byte count in [from, until) — no UTF-8 decode, no line
    * materialization. The scan is BOUNDED at `until` (the caller's
    * stat-snapshotted length): under concurrent append, reading to EOF
    * would count newlines past the snapshot and the cached
    * (length, count) pair would double-count those bytes on the next
    * incremental update — silently skipping records later.
    */
  private def countNewlines(f: File, from: Long, until: Long): Long = {
    val lines = new LineScanner(f, from, until)
    try { var n = 0L; while (lines.skip()) n += 1; n } finally lines.close()
  }

  /** Per-file manifest entries; empty if absent. Cached, reloaded only
    * when the manifest changes.
    */
  def manifest(dir: String): Map[String, ManifestEntry] = {
    val mf = new File(dir, ManifestName)
    if (!mf.exists()) return Map.empty
    val len = mf.length(); val mtime = mf.lastModified()
    val prev = manifestCache.get(dir)
    if (prev != null && prev.len == len && prev.mtime == mtime) return prev.entries
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath), StandardCharsets.UTF_8)
    val p = new JsonFactory().createParser(txt)
    val m = mutable.LinkedHashMap.empty[String, ManifestEntry]
    require(p.nextToken() == JsonToken.START_OBJECT)
    while (p.nextToken() != JsonToken.END_OBJECT) {
      val name = p.currentName()
      require(p.nextToken() == JsonToken.START_OBJECT)
      var l = -1L; var c = -1L
      val tabs = mutable.LinkedHashMap.empty[String, Long]
      val bounds = mutable.ArrayBuffer.empty[Long]
      val txnEnds = mutable.ArrayBuffer.empty[Long]
      val sync = mutable.ArrayBuffer.empty[SyncPoint]
      while (p.nextToken() != JsonToken.END_OBJECT) {
        val k = p.currentName(); p.nextToken()
        k match {
          case "length" => l = p.getLongValue
          case "count"  => c = p.getLongValue
          case "tables" =>
            require(p.currentToken() == JsonToken.START_OBJECT)
            while (p.nextToken() != JsonToken.END_OBJECT) {
              val t = p.currentName(); p.nextToken(); tabs += t -> p.getLongValue
            }
          case "bounds" =>
            require(p.currentToken() == JsonToken.START_ARRAY)
            while (p.nextToken() != JsonToken.END_ARRAY) bounds += p.getLongValue
          case "txnEnds" =>
            require(p.currentToken() == JsonToken.START_ARRAY)
            while (p.nextToken() != JsonToken.END_ARRAY) txnEnds += p.getLongValue
          case "sync" =>
            require(p.currentToken() == JsonToken.START_ARRAY)
            while (p.nextToken() != JsonToken.END_ARRAY) {
              require(p.currentToken() == JsonToken.START_OBJECT)
              var pos = -1L
              var byte = -1L
              val st = mutable.LinkedHashMap.empty[String, Long]
              while (p.nextToken() != JsonToken.END_OBJECT) {
                val sk = p.currentName(); p.nextToken()
                sk match {
                  case "pos" => pos = p.getLongValue
                  case "byte" => byte = p.getLongValue
                  case "tables" =>
                    require(p.currentToken() == JsonToken.START_OBJECT)
                    while (p.nextToken() != JsonToken.END_OBJECT) {
                      val t = p.currentName(); p.nextToken()
                      st += t -> p.getLongValue
                    }
                  case _ => p.skipChildren()
                }
              }
              sync += SyncPoint(pos, st.toMap, byte)
            }
          case _ => p.skipChildren()
        }
      }
      m += name -> ManifestEntry(l, c, tabs.toMap, bounds.toSeq, txnEnds.toSeq,
        sync.toSeq)
    }
    p.close()
    manifestCache.put(dir, ManifestState(len, mtime, m.toMap))
    m.toMap
  }

  /** Record count of a (possibly since-purged) file, from the manifest
    * only — used for the data-loss check on missing files.
    */
  def manifestCount(dir: String, name: String): Option[Long] =
    manifest(dir).get(name).map(_.count)

  /** Manifest entries keyed by PARSED fileId (non-log / non-prefix
    * names skipped), cached with the manifest map instance: the
    * per-trigger data-loss checks iterate this instead of re-parsing
    * every manifest name on every plan call.
    */
  private val manifestIdCache =
    new ConcurrentHashMap[String, (AnyRef, Map[Long, ManifestEntry])]()
  def manifestById(dir: String, prefix: String = DefaultPrefix)
      : Map[Long, ManifestEntry] = {
    val m = manifest(dir)
    val key = new File(dir).getPath + "\u0000" + prefix
    val c = manifestIdCache.get(key)
    if (c != null && (c._1 eq m)) c._2
    else {
      val byId = m.flatMap {
        case (name, e) if name.startsWith(prefix + ".") =>
          try Some(BinlogOffset.fileIdOf(name) -> e)
          catch { case _: Exception => None }
        case _ => None
      }
      manifestIdCache.put(key, (m, byId))
      byId
    }
  }

  /** The listed fileIds as a Set, cached with the listing instance —
    * settled-dir membership checks without an O(#files) rebuild.
    */
  private val idSetCache = new ConcurrentHashMap[String, (AnyRef, Set[Long])]()
  def listedIdSet(dir: String, prefix: String = DefaultPrefix): Set[Long] = {
    val files = listFiles(dir, prefix)
    val key = new File(dir).getPath + "\u0000" + prefix
    val c = idSetCache.get(key)
    if (c != null && (c._1 eq files)) c._2
    else {
      val s = files.map(_._1).toSet
      idSetCache.put(key, (files, s))
      s
    }
  }

  /** Write `manifest.json` for a directory of generated files — shared
    * by the fixture generators. Per-table counts ride along so map
    * offsets can advance tables independently without content scans;
    * mutation-start `bounds` (when the writer tracks them) let
    * grouping-mode alignment stay metadata-only on completed files.
    */
  def writeManifest(dir: File,
      entries: Iterable[(String, (File, Long, Map[String, Long]))],
      bounds: Map[String, Seq[Long]] = Map.empty,
      txnEnds: Map[String, Seq[Long]] = Map.empty,
      sync: Map[String, Seq[SyncPoint]] = Map.empty): Unit = {
    val sw = new java.io.StringWriter()
    val g = new JsonFactory().createGenerator(sw)
    g.writeStartObject()
    entries.foreach { case (name, (f, count, tables)) =>
      g.writeObjectFieldStart(name)
      g.writeNumberField("length", f.length())
      g.writeNumberField("count", count)
      g.writeObjectFieldStart("tables")
      tables.toSeq.sortBy(_._1).foreach { case (t, n) => g.writeNumberField(t, n) }
      g.writeEndObject()
      bounds.get(name).filter(_.nonEmpty).foreach { bs =>
        g.writeArrayFieldStart("bounds")
        bs.foreach(g.writeNumber)
        g.writeEndArray()
      }
      txnEnds.get(name).filter(_.nonEmpty).foreach { ts =>
        g.writeArrayFieldStart("txnEnds")
        ts.foreach(g.writeNumber)
        g.writeEndArray()
      }
      sync.get(name).filter(_.nonEmpty).foreach { sps =>
        g.writeArrayFieldStart("sync")
        sps.foreach { sp =>
          g.writeStartObject()
          g.writeNumberField("pos", sp.pos)
          if (sp.byte >= 0) g.writeNumberField("byte", sp.byte)
          g.writeObjectFieldStart("tables")
          sp.tables.toSeq.sortBy(_._1)
            .foreach { case (t, n) => g.writeNumberField(t, n) }
          g.writeEndObject()
          g.writeEndObject()
        }
        g.writeEndArray()
      }
      g.writeEndObject()
    }
    g.writeEndObject()
    g.close()
    java.nio.file.Files.write(new File(dir, ManifestName).toPath,
      sw.toString.getBytes(StandardCharsets.UTF_8))
  }

  def recordCount(f: File): Long = {
    val path = f.getAbsolutePath
    val len = f.length(); val mtime = f.lastModified()
    val prev = countCache.get(path)
    if (prev != null && prev.len == len && prev.mtime == mtime) return prev.count
    val fromManifest = manifest(f.getParent).get(f.getName)
      .collect { case e if e.length == len => e.count }
    val count = fromManifest.getOrElse {
      if (prev != null && len > prev.len) prev.count + countNewlines(f, prev.len, len)
      else countNewlines(f, 0L, len)
    }
    countCache.put(path, CountState(len, mtime, count))
    count
  }

  // ----------------------------------------------------- per-table index

  /** Per-`db.table` record counts of one LIVE file. Manifest-backed when
    * current; otherwise an incremental scan of appended bytes. The cache
    * tracks the consumed PREFIX length (up to the last complete line),
    * so concurrent appends and partial trailing lines stay consistent.
    */
  def tableCounts(f: File): Map[String, Long] = {
    val path = f.getAbsolutePath
    val len = f.length(); val mtime = f.lastModified()
    val prev = tableCountCache.get(path)
    if (prev != null && prev.len == len && prev.mtime == mtime) return prev.counts
    manifest(f.getParent).get(f.getName) match {
      case Some(e) if e.length == len && e.tables.nonEmpty =>
        val tabs = e.tables
        tableCountCache.put(path, TableCountState(len, mtime, tabs))
        tabs
      case _ =>
        val from = if (prev != null && len > prev.len) prev.len else 0L
        val base = if (from > 0) prev.counts else Map.empty[String, Long]
        val (inc, consumed) = scanTableCounts(f, from, len)
        val merged = inc.foldLeft(base) { case (acc, (t, n)) =>
          acc.updated(t, acc.getOrElse(t, 0L) + n)
        }
        tableCountCache.put(path, TableCountState(consumed, mtime, merged))
        merged
    }
  }

  /** Stream the COMPLETE lines of byte range [from, until) through the
    * [[LineScanner]], invoking `onLine` for EVERY newline-terminated
    * line (blank lines surface as empty strings — one line = one pos);
    * returns the byte position just past the last complete line. The
    * torn trailing tail is never surfaced. THE shared driver-side
    * metadata scanner (per-table counts, mutation boundaries): the
    * range can be a whole unmanifested file, and buffering it at once
    * would break both the 2 GB array limit and the driver-memory
    * contract (SCALING.md).
    */
  def forEachCompleteLine(f: File, from: Long, until: Long)(
      onLine: String => Unit): Long = {
    val lines = new LineScanner(f, from, until)
    try { while (lines.next()) onLine(lines.line()); lines.consumed }
    finally lines.close()
  }

  /** Per-`db.table` record counts over the complete lines of
    * [from, until); returns (counts, consumed prefix).
    */
  private def scanTableCounts(f: File, from: Long, until: Long): (Map[String, Long], Long) = {
    val counts = mutable.HashMap.empty[String, Long]
    val consumed = forEachCompleteLine(f, from, until) { line =>
      if (line.nonEmpty) {
        val r = ChangelogRecord.parse(line)
        val k = s"${r.db}.${r.table}"
        counts.put(k, counts.getOrElse(k, 0L) + 1)
      }
    }
    (counts.toMap, consumed)
  }

  /** Every file the log has EVER known (live ∪ manifest, the latter
    * covering since-purged files), sorted by fileId, with its per-table
    * counts — the spine of the per-table offset space. Table-local
    * indices must be computed over this full history so pruning a
    * consumed head file never shifts later indices.
    */
  def fileTableCounts(dir: String, prefix: String = DefaultPrefix)
      : Seq[(Long, Option[File], Map[String, Long])] = {
    val live = listFiles(dir, prefix).toMap
    val fromManifest = manifest(dir).toSeq.flatMap {
      case (name, e) if name.startsWith(prefix + ".") =>
        try Some(BinlogOffset.fileIdOf(name) -> e.tables)
        catch { case _: Exception => None } // non-log manifest entry
      case _ => None
    }.toMap
    (live.keySet ++ fromManifest.keySet).toSeq.sorted.map { id =>
      live.get(id) match {
        case Some(f) => (id, Some(f), tableCounts(f))
        case None    => (id, None, fromManifest.getOrElse(id, Map.empty))
      }
    }
  }

  /** ROLLED-file record counts, stat-free: a manifest-backed file that
    * is NOT its dir's live tail (max fileId) is closed by the writer
    * contract — rolls write the manifest entry at close, and the one
    * in-place mutation path ([[LogRedaction]]) is same-length and
    * count-preserving — so once its manifest length matches the file,
    * its count is permanent and needs no further stats. The TAIL file
    * (max id) is NEVER finalized here: generators manifest it at the
    * current length and appends may still land (the (len,mtime) caches
    * in [[recordCount]]/[[tableCounts]] track that). This is what
    * keeps count sweeps over a long rotated history ([[advanceOf]],
    * [[countBetweenOf]], [[totalsByTable]]) metadata-free for every
    * file but the live tail.
    */
  private val finalCounts = new ConcurrentHashMap[String, java.lang.Long]()

  private def prefixOf(name: String): String = {
    val dot = name.lastIndexOf('.')
    if (dot > 0) name.substring(0, dot) else name
  }

  /** Public variant for planners that already hold the listed files. */
  def recordCountRolled(id: Long, f: File, maxId: Long): Long =
    rolledCount(id, f, maxId)

  private def rolledCount(id: Long, f: File, maxId: Long): Long = {
    if (id == maxId) return recordCount(f)
    val path = f.getAbsolutePath
    val fin = finalCounts.get(path)
    if (fin != null) return fin.longValue()
    manifestById(f.getParent, prefixOf(f.getName)).get(id) match {
      case Some(e) if e.length == f.length() =>
        finalCounts.put(path, e.count); e.count
      case _ => recordCount(f)
    }
  }

  /** Per-(dir,prefix) running totals over COMPLETED files, keyed by the
    * settled listing's identity: while [[listFiles]] serves the same
    * cached instance (no structural change), the completed files'
    * contribution is one cached map and only the LIVE files (the
    * max-id tail plus any unmanifested stragglers) are re-read per
    * trigger — the map-offset twin of the legacy path's O(1) trigger.
    */
  private final case class TotalsState(filesRef: AnyRef,
      completedTotals: Map[String, Long], live: Seq[File])
  private val totalsCache = new ConcurrentHashMap[String, TotalsState]()

  private def addCounts(acc: Map[String, Long],
      counts: Map[String, Long]): Map[String, Long] =
    counts.foldLeft(acc) { case (a, (t, n)) =>
      a.updated(t, a.getOrElse(t, 0L) + n)
    }

  /** Total per-table record counts over the full log history — the
    * per-table `latestOffset`. Settled-dir triggers cost the live
    * tail's stats only; a structural change (roll, prune, redaction
    * rename) recomputes the completed-files total once.
    */
  def totalsByTable(dir: String, prefix: String = DefaultPrefix): Map[String, Long] = {
    val files = listFiles(dir, prefix)
    val key = new File(dir).getPath + "\u0000" + prefix
    val cached = totalsCache.get(key)
    val state =
      if (cached != null && (cached.filesRef eq files)) cached
      else {
        val maxId = files.lastOption.map(_._1).getOrElse(-1L)
        val mf = manifest(dir)
        val (completed, live) = fileTableCounts(dir, prefix).partition {
          case (_, None, _) => true // pruned: manifest-only, immutable
          case (id, Some(f), _) => id != maxId &&
            mf.get(f.getName).exists(e =>
              e.tables.nonEmpty && e.length == f.length())
        }
        val totals = completed.foldLeft(Map.empty[String, Long]) {
          case (acc, (_, _, counts)) => addCounts(acc, counts)
        }
        val s = TotalsState(files, totals, live.flatMap(_._2))
        totalsCache.put(key, s)
        s
      }
    state.live.foldLeft(state.completedTotals) {
      case (acc, f) => addCounts(acc, tableCounts(f))
    }
  }

  /** Convert a GLOBAL (fileId, pos) offset into per-table consumed
    * counts — the number of each table's records strictly before it.
    * Used to resolve packed `startingOffsets` and to upgrade legacy
    * single-long checkpoints to map offsets. Scans only the boundary
    * file (once, at stream start).
    */
  def tableCountsBefore(dir: String, off: BinlogOffset,
      prefix: String = DefaultPrefix): Map[String, Long] = {
    if (off.fileId <= 0) return Map.empty
    val acc = mutable.HashMap.empty[String, Long]
    def add(counts: Map[String, Long]): Unit =
      counts.foreach { case (t, n) => acc.put(t, acc.getOrElse(t, 0L) + n) }
    fileTableCounts(dir, prefix).foreach {
      case (id, _, counts) if id < off.fileId => add(counts)
      case (id, Some(f), _) if id == off.fileId && off.pos > 1 =>
        val it = readRange(f, 1L, off.pos)
        try it.foreach { r =>
          val k = s"${r.db}.${r.table}"
          acc.put(k, acc.getOrElse(k, 0L) + 1)
        } finally it.close()
      case (id, None, counts) if id == off.fileId && off.pos > 1 =>
        // boundary file since PURGED (normal retention for a checkpoint
        // at the file's end): when the offset proves the file was fully
        // consumed, its whole manifest count belongs below the offset.
        // A mid-file position in a purged file stays unknowable — the
        // planner surfaces that as data loss.
        val total = manifest(dir).collectFirst {
          case (name, e) if (try BinlogOffset.fileIdOf(name) == id
                             catch { case _: Exception => false }) => e.count
        }
        // count defaults to -1 when the manifest field is absent — an
        // unknown total must never satisfy the fully-consumed proof
        if (total.exists(c => c >= 0 && off.pos > c)) add(counts)
      case _ => ()
    }
    acc.toMap
  }

  /** Record count in [from, until) across a directory's files — the
    * BACKLOG of one WAL region / legacy stream, from cached metadata
    * only (manifest counts + incremental tail count).
    */
  def countBetween(dir: String, from: BinlogOffset, until: BinlogOffset,
      prefix: String = DefaultPrefix): Long =
    countBetweenOf(listFiles(dir, prefix), from, until)

  /** [[countBetween]] over an explicit (id-sorted) file list — for
    * sources whose log spans several directories (live + archive).
    */
  def countBetweenOf(files: Seq[(Long, File)], from: BinlogOffset,
      until: BinlogOffset): Long = {
    if (until.packed <= from.packed) return 0L
    val maxId = files.lastOption.map(_._1).getOrElse(-1L)
    files.iterator
      .filter { case (id, _) => id >= from.fileId && id <= until.fileId }
      .map { case (id, f) =>
        val n = rolledCount(id, f, maxId)
        val lo = if (id == from.fileId) from.pos else 1L
        val hi = if (id == until.fileId) math.min(until.pos, n + 1) else n + 1
        math.max(0L, hi - lo)
      }.sum
  }

  /** [[earliestOffset]] over an explicit file list. */
  def earliestOffsetOf(files: Seq[(Long, File)]): BinlogOffset =
    if (files.isEmpty) BinlogOffset(0, 1) else BinlogOffset(files.head._1, 1)

  /** [[latestOffset]] over an explicit file list. */
  def latestOffsetOf(files: Seq[(Long, File)]): BinlogOffset =
    if (files.isEmpty) BinlogOffset(0, 1)
    else {
      val (id, f) = files.last
      BinlogOffset(id, recordCount(f) + 1)
    }

  /** [[advance]] over an explicit file list. */
  def advanceOf(files: Seq[(Long, File)], start: BinlogOffset,
      maxRecords: Long): BinlogOffset = {
    require(maxRecords > 0)
    val maxId = files.lastOption.map(_._1).getOrElse(-1L)
    var remaining = maxRecords
    var end = start
    for ((id, f) <- files.dropWhile(_._1 < start.fileId) if remaining > 0) {
      val n = rolledCount(id, f, maxId)
      val from = if (id == start.fileId) start.pos else 1L
      val avail = math.max(0L, n - from + 1)
      val take = math.min(avail, remaining)
      remaining -= take
      end = BinlogOffset(id, from + take)
    }
    end
  }

  /** Offset of the first record (inclusive): (firstFileId, 1); (0, 1)
    * for an empty dir.
    */
  def earliestOffset(dir: String, prefix: String = DefaultPrefix): BinlogOffset =
    earliestOffsetOf(listFiles(dir, prefix))

  /** Exclusive end offset: one past the last record of the last file. */
  def latestOffset(dir: String, prefix: String = DefaultPrefix): BinlogOffset =
    latestOffsetOf(listFiles(dir, prefix))

  /** Advance `start` by at most `maxRecords` records (admission control
    * for maxEventsPerTrigger — the reference has no per-trigger cap,
    * its getOffset always returns latest; SURVEY.md §4 back-pressure row).
    */
  def advance(dir: String, start: BinlogOffset, maxRecords: Long,
      prefix: String = DefaultPrefix): BinlogOffset =
    advanceOf(listFiles(dir, prefix), start, maxRecords)

  /** THE line scanner under every changelog read ([[RecordIterator]],
    * [[forEachCompleteLine]], [[recordCount]]): it reads [from, until)
    * in 64 KiB blocks into one byte array (grown for a longer line) and
    * finds each `'\n'`. [[skip]] passes a line without keeping it;
    * [[next]] keeps it for [[line]] to decode. A line is complete only
    * when `'\n'` ends it, so a torn tail (or a line cut at `until`) is
    * never surfaced; a `'\r'` before the `'\n'` is content.
    */
  private[cdc] final class LineScanner(f: File, from: Long, until: Long)
      extends AutoCloseable {
    private val in = new FileInputStream(f)
    try in.getChannel.position(from)
    catch { case e: Throwable => in.close(); throw e }
    private var buf = new Array[Byte](BlockSize)
    private var base = from        // file offset of buf(0)
    private var head = 0           // first byte of the line being scanned
    private var end = 0            // bytes of buf that hold data
    private var left = until - from
    private var lineStart = 0      // the last line is buf[lineStart, lineEnd)
    private var lineEnd = 0
    private var done = false
    private var consumedAt = from

    /** File offset just past the last complete line. */
    def consumed: Long = consumedAt

    /** Passes the next complete line; false at EOF, `until` or a torn tail. */
    def next(): Boolean = advance(keep = true)
    def skip(): Boolean = advance(keep = false)

    /** The line the last [[next]] passed, without its `'\n'`. */
    def line(): String =
      new String(buf, lineStart, lineEnd - lineStart, StandardCharsets.UTF_8)

    private def advance(keep: Boolean): Boolean = {
      var i = head
      while (!done) {
        val b = buf; val e = end
        while (i < e && b(i) != '\n') i += 1
        if (i < e) {
          lineStart = head; lineEnd = i; head = i + 1
          consumedAt = base + head
          return true
        }
        // no '\n' in [head, end): carry the partial line (or drop it,
        // when skipping) to the array's start and read the next block
        val carry = if (keep) end - head else 0
        if (carry == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
        else if (carry > 0 && head > 0) System.arraycopy(buf, head, buf, 0, carry)
        base += end - carry
        head = 0; end = carry; i = carry
        val n = if (left <= 0) -1
          else in.read(buf, end, math.min(buf.length - end, left).toInt)
        if (n <= 0) done = true
        else { end += n; left -= n }
      }
      false
    }

    override def close(): Unit = { done = true; in.close() }
  }

  /** Iterator over changelog records that exposes `close()` so an
    * abandoned/cancelled task can release the file handle early
    * (`PartitionReader.close` calls it); exhaustion also closes.
    *
    * TORN-LINE SAFETY lives in the [[LineScanner]], once for every
    * caller: only lines terminated by a newline are ever parsed. Under
    * concurrent append the file can end in a partial line (truncated
    * JSON); a terminated line earlier in the file is complete by
    * filesystem append semantics. The unterminated tail is treated as
    * end-of-stream — it has no pos yet (recordCount's newline
    * accounting agrees) and will be served once its newline lands.
    *
    * One line is one pos: a blank line consumes its pos but emits
    * nothing. Lines before `fromPos` are counted, not decoded, and no
    * line at or past `untilPos` is parsed — including the one-record
    * prefetch — so a caller may bound the scan at a planning-time
    * complete-line count.
    *
    * @param seekBytes when >= 0, the EXACT byte offset where line
    *   `seekPos` starts (from a manifest [[SyncPoint]]): the iterator
    *   seeks there directly and line-skips only [seekPos, fromPos) —
    *   at most one sync interval — instead of the whole prefix, so a
    *   mid-file partition reads (almost) only the bytes it serves.
    * @param seekPos the 1-based record position whose line starts at
    *   `seekBytes`; must satisfy `seekPos <= fromPos`.
    */
  final class RecordIterator(f: File, fromPos: Long, untilPos: Long,
      seekBytes: Long = -1L, seekPos: Long = 1L)
      extends Iterator[ChangelogRecord] with AutoCloseable {
    require(seekBytes < 0 || seekPos <= fromPos,
      s"seekPos $seekPos past fromPos $fromPos")
    private val lines = new LineScanner(f, math.max(seekBytes, 0L), Long.MaxValue)
    // pos of the last line passed; a seek lands at the start of line seekPos
    private var idx = if (seekBytes >= 0) seekPos - 1 else 0L
    private var nextRec: ChangelogRecord = advance()

    private def advance(): ChangelogRecord = {
      while (idx + 1 < untilPos) {
        val serve = idx + 1 >= fromPos
        if (!(if (serve) lines.next() else lines.skip())) { close(); return null }
        idx += 1
        if (serve) { val l = lines.line(); if (l.nonEmpty) return ChangelogRecord.parse(l) }
      }
      close(); null
    }
    override def hasNext: Boolean = nextRec != null
    override def next(): ChangelogRecord = {
      val v = nextRec; nextRec = advance(); v
    }
    override def close(): Unit = lines.close()
  }

  /** Read records of one file with `fromPos <= pos < untilPos`;
    * `seekBytes >= 0` seeks straight to line `seekPos` (see
    * [[RecordIterator]]).
    */
  def readRange(f: File, fromPos: Long, untilPos: Long,
      seekBytes: Long = -1L, seekPos: Long = 1L): RecordIterator =
    new RecordIterator(f, fromPos, untilPos, seekBytes, seekPos)

  /** schemas.json: `{"db.table": "<StructType.json>", …}`. */
  def readSchemas(dir: String): Map[String, String] = {
    val f = new File(dir, "schemas.json")
    if (!f.exists()) return Map.empty
    val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
    val p = new JsonFactory().createParser(txt)
    val m = mutable.LinkedHashMap.empty[String, String]
    require(p.nextToken() == JsonToken.START_OBJECT)
    while (p.nextToken() != JsonToken.END_OBJECT) {
      val k = p.currentName(); p.nextToken(); m += k -> p.getValueAsString
    }
    m.toMap
  }
}

/** Backlog-aware admission-budget allocation shared by the map-offset
  * sources: instead of splitting `maxRows` evenly across ALL tracked
  * keys (which throttles one active table among N idle ones to 1/N of
  * the configured rate), budget is granted only against BACKLOG, with
  * unused shares rolling over to keys that still have one — the same
  * iterative refill Kafka-style rate allocation uses.
  */
object AdmissionBudget {

  /** Grant per key, `0 <= grant(k) <= backlog(k)`, `Σ grants <= budget`.
    * Deterministic: keys are processed in the given (sorted) order, so
    * when the budget cannot cover even one record per backlogged key,
    * the earliest keys win — and every granted key gets at least 1, so
    * an over-subscribed trigger still progresses.
    */
  def allocate(keys: Seq[String], backlog: String => Long,
      budget: Long): Map[String, Long] = {
    val granted = mutable.LinkedHashMap(keys.map(_ -> 0L): _*)
    var remaining = math.max(0L, budget)
    var active = keys.filter(backlog(_) > 0)
    while (remaining > 0 && active.nonEmpty) {
      val share = math.max(1L, remaining / active.size)
      val still = mutable.ArrayBuffer.empty[String]
      val it = active.iterator
      while (it.hasNext && remaining > 0) {
        val k = it.next()
        val need = backlog(k) - granted(k)
        val g = math.min(need, math.min(share, remaining))
        granted(k) += g
        remaining -= g
        if (granted(k) < backlog(k)) still += k
      }
      // keys the inner loop never reached (budget ran dry) are dropped:
      // the loop exits on remaining == 0
      active = still.toSeq
    }
    granted.toMap
  }
}
