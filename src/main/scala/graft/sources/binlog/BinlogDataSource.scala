package graft.sources.binlog

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc._
import graft.sources.log._

/** DataSource V2 CDC streaming source over a file-backed changelog —
  * the Spark-4-native re-expression of the reference's v1
  * `StreamSourceProvider` (MLSQLBinLogDataSource.scala:33-253).
  *
  * Architectural deltas from the reference, by design (SURVEY.md §7):
  *  - no executor-resident socket server / RPC (R1-R7): partition
  *    readers read the shared log directly, so fetch parallelism is
  *    N partitions instead of the reference's single partition
  *    ("todo: optimize", MLSQLBinLogDataSource.scala:394-397);
  *  - offsets/checkpointing ride on `MicroBatchExecution` instead of a
  *    hand-rolled HDFSMetadataLog + offset-dir scan (MBDS:112-134,300-343);
  *  - admission control (`maxEventsPerTrigger`) replaces connect/
  *    disconnect back-pressure (BinLogSocketServerInExecutor.scala:334-362).
  *
  * Public surface (same option names as the reference where one
  * exists): `path`, `databaseNamePattern`, `tableNamePattern`,
  * `startingOffsets` (earliest|latest|<packed long>), `binlogIndex` +
  * `binlogFileOffset`, `maxEventsPerTrigger`, `maxRecordsPerPartition`,
  * `failOnDataLoss`, `offsetsByTable`.
  *
  * Streaming offsets are PER-TABLE maps by default (`offsetsByTable`,
  * Kafka-style `{db.table: consumedCount}` — the reference's
  * CommonSourceOffset.scala:14-53 shape): each table tracks how many of
  * ITS records are consumed, so one slow/capped table never stalls the
  * others, and the admission-control budget splits across tables. The
  * per-table "partition offset" is the table-local record index — O(1)
  * to advance from manifest metadata, stable under head-file pruning.
  * `offsetsByTable=false` restores the reference-compatible single
  * packed (fileId, pos) long.
  *
  * Output schema: a single `value: String` column of JSON envelopes —
  * the Kafka-source shape the reference emits (MBDS:40-44).
  */
class BinlogDataSource
    extends LogDataSource("graft-binlog", BinlogDataSource.WideSchema) {
  override protected def scanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BinlogScanBuilder(options)
}

object BinlogDataSource {
  val Schema: StructType = LogDataSource.Schema

  /** `envelopeColumns=true` widens the scan with the envelope's
    * routing fields as TYPED TOP-LEVEL COLUMNS (`db`, `table`, `op`,
    * `offset`) next to `value` — the handle plan-level predicate
    * pushdown needs: Catalyst cannot push a filter through
    * `get_json_object(value, …)`, but an `EqualTo(table, …)` or an
    * `offset` range on a real column reaches
    * [[BinlogScanBuilder.pushFilters]] and prunes at the source
    * (offset bounds prune files/chunks off the batch plan; db/table/op
    * equality prunes records pre-materialization). Column pruning
    * composes: a query not selecting `value` skips envelope
    * serialization entirely.
    */
  val WideSchema: StructType = LogDataSource.wideSchema()

  def schemaFor(options: CaseInsensitiveStringMap): StructType =
    LogDataSource.schemaFor(options, WideSchema)
}

/** Plan-level pushdown (SURVEY §4 (b)) for the wide-schema scan: on
  * top of the shared db/table/op cuts ([[LogScanBuilder]]), `offset`
  * range predicates written in the PLAN clamp the batch plan's
  * [start, end) so out-of-range files/chunks are never partitioned
  * (manifest pruning, the same spine the option path uses).
  */
final class BinlogScanBuilder(options: CaseInsensitiveStringMap)
    extends LogScanBuilder(options, BinlogDataSource.schemaFor(options)) {
  import org.apache.spark.sql.sources._

  private var offLo: Option[Long] = None // inclusive
  private var offHi: Option[Long] = None // exclusive

  private def lo(v: Long): Unit = offLo = Some(offLo.fold(v)(math.max(_, v)))
  private def hi(v: Long): Unit = offHi = Some(offHi.fold(v)(math.min(_, v)))

  override protected def acceptOwn(f: Filter): Boolean = f match {
    // `> MaxValue` matches nothing — a MaxValue lower bound planes to
    // zero partitions; `<= MaxValue` matches everything — record no
    // bound. Both guards exist because v + 1 would wrap to MinValue
    // and silently invert the bound.
    case GreaterThan("offset", v: Long) =>
      lo(if (v == Long.MaxValue) Long.MaxValue else v + 1); true
    case GreaterThanOrEqual("offset", v: Long) => lo(v); true
    case LessThan("offset", v: Long) => hi(v); true
    case LessThanOrEqual("offset", v: Long) =>
      if (v != Long.MaxValue) hi(v + 1); true
    case EqualTo("offset", v: Long) => lo(v); hi(v + 1); true
    case _ => false
  }

  override def build(): Scan = {
    val base = BinlogSourceConf(options)
    val conf = base.copy(log = narrowed(base.log),
      offsetLowerBound = offLo, offsetUpperBound = offHi)
    new BinlogScan(conf, required, pushed)
  }
}

final class BinlogScan(conf: BinlogSourceConf, required: StructType,
    pushed: Array[org.apache.spark.sql.sources.Filter])
    extends LogScan("graft-binlog", conf.dir, required, pushed) {
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new BinlogMicroBatchStream(conf.copy(
      // plan-level offset bounds describe a BATCH range; a streaming
      // checkpoint owns its own progression
      offsetLowerBound = None, offsetUpperBound = None), required)
  override def toBatch: Batch = new BinlogBatch(conf, required)
}

/** Validated source configuration (serializable, shipped to readers). */
final case class BinlogSourceConf(
    log: LogConf,
    startingOffsets: String,
    binlogIndex: Option[Long],
    binlogFileOffset: Option[Long],
    /** Explicit per-partition record bound; when unset the planner
      * adapts to the session's parallelism ([[BinlogPartitioning.chunkSize]]).
      */
    maxRecordsPerPartition: Option[Long],
    pruneCommitted: Boolean,
    offsetsByTable: Boolean,
    /** Explicit opt-in for resuming a legacy single-long checkpoint in
      * map-offset mode. The upgrade changes the envelope `offset` field
      * from packed-global to table-local values, so any downstream
      * state keyed on the old offsets (per-key monotonic dedup
      * high-water marks) MUST be reset — silently upgrading would make
      * that state drop every new event as a "duplicate".
      */
    upgradeLegacyCheckpoint: Boolean,
    /** Emit update before-images as `beforeRows` (SURVEY §1.6 — the
      * reference silently drops them, UpdateRowsWriter.java:54-57).
      */
    includeBeforeImage: Boolean,
    /** Never split a committed transaction across micro-batches: batch
      * end offsets snap to txn-commit boundaries ([[TxnBoundaries]]) —
      * the BEGIN…XID delivery contract of a MySQL binlog consumer.
      * Transactions are positions in the GLOBAL log order, so this
      * requires `offsetsByTable=false`.
      */
    txnAligned: Boolean,
    /** Surface DDL records (binlog QUERY events carrying ALTER TABLE)
      * as `type: "ddl"` envelopes whose row is the statement and whose
      * `schema` is the post-DDL registry schema. Default false — the
      * reference skips QUERY events entirely; row-change consumers
      * should not see them unless they ask.
      */
    includeDdl: Boolean,
    /** Plan-pushed offset bounds ([[BinlogScanBuilder]]) — never set
      * from options. They clamp the BATCH plan's [start, end) range
      * (inclusive lower, exclusive upper, over packed offsets).
      */
    offsetLowerBound: Option[Long] = None,
    offsetUpperBound: Option[Long] = None) extends LogSourceConf {

  /** db/table regex filters applied to a `db.table` offset key (split
    * at the FIRST dot — fixture dbs are dot-free).
    */
  @transient lazy val tableKeyMatches: String => Boolean = {
    val dbP = databaseNamePattern.map(Pattern.compile)
    val tblP = tableNamePattern.map(Pattern.compile)
    key => {
      val i = key.indexOf('.')
      val (db, tbl) = if (i < 0) ("", key) else (key.take(i), key.drop(i + 1))
      dbP.forall(_.matcher(db).matches()) && tblP.forall(_.matcher(tbl).matches())
    }
  }
}

object BinlogSourceConf {
  def apply(options: CaseInsensitiveStringMap): BinlogSourceConf = {
    val log = LogConf(options, "changelog directory")
    require(!Option(options.get("txnAligned")).exists(_.toBoolean) ||
        !Option(options.get("offsetsByTable")).forall(_.toBoolean),
      "txnAligned=true requires offsetsByTable=false: transactions are " +
        "positions in the global log order (a txn may span tables), so " +
        "batch alignment needs the single packed (fileId, pos) offset space")
    BinlogSourceConf(
      log = log,
      startingOffsets = Option(options.get("startingOffsets")).getOrElse("earliest"),
      binlogIndex = Option(options.get("binlogIndex")).map(_.toLong),
      binlogFileOffset = Option(options.get("binlogFileOffset")).map(_.toLong),
      maxRecordsPerPartition =
        Option(options.get("maxRecordsPerPartition")).map(_.toLong),
      pruneCommitted =
        Option(options.get("pruneCommitted")).exists(_.toBoolean),
      offsetsByTable =
        Option(options.get("offsetsByTable")).forall(_.toBoolean),
      upgradeLegacyCheckpoint =
        Option(options.get("upgradeLegacyCheckpoint")).exists(_.toBoolean),
      includeBeforeImage =
        Option(options.get("includeBeforeImage")).exists(_.toBoolean),
      txnAligned =
        Option(options.get("txnAligned")).exists(_.toBoolean),
      includeDdl =
        Option(options.get("includeDdl")).exists(_.toBoolean))
  }
}

/** Streaming offset: the packed (fileId, pos) long, serialized as its
  * decimal string — checkpoint-format-compatible with the reference's
  * LongOffset-wrapped packing (MBDS:98, protocols.scala:24-26).
  */
final case class BinlogSourceOffset(packed: Long) extends Offset {
  override def json(): String = packed.toString
  def offset: BinlogOffset = BinlogOffset.unpack(packed)
}

/** Kafka-style per-table map offset `{db.table: consumedCount}` in
  * the shared sorted-key JSON ([[MapOffsetJson]]). The value is the
  * table-LOCAL count of records consumed, computed over the full log
  * history (manifest ∪ live files), so it is stable under head-file
  * retention pruning.
  */
final case class BinlogTableOffsets(tables: Map[String, Long]) extends Offset {
  override def json(): String = MapOffsetJson.write(tables)
}

object BinlogTableOffsets {
  def parse(json: String): BinlogTableOffsets =
    BinlogTableOffsets(MapOffsetJson.parse(json, "binlog table offset"))
}

final class BinlogMicroBatchStream(conf: BinlogSourceConf,
    required: StructType = BinlogDataSource.Schema)
    extends LogMicroBatchStream {

  override protected def log: LogConf = conf.log

  /** The configured global starting position (legacy mode; also the
    * conversion anchor for map-offset mode).
    */
  private def configuredStart: BinlogOffset =
    (conf.binlogIndex, conf.binlogFileOffset) match {
      case (Some(idx), pos) => BinlogOffset(idx, pos.getOrElse(1L))
      case _ => conf.startingOffsets.toLowerCase match {
        case "earliest" => ChangelogFiles.earliestOffset(conf.dir, conf.prefix)
        case "latest"   => ChangelogFiles.latestOffset(conf.dir, conf.prefix)
        case n          => BinlogOffset.unpack(n.toLong)
      }
    }

  override def initialOffset(): Offset =
    if (!conf.offsetsByTable) BinlogSourceOffset(configuredStart.packed)
    else {
      val base = (conf.binlogIndex, conf.binlogFileOffset) match {
        case (Some(_), _) =>
          ChangelogFiles.tableCountsBefore(conf.dir, configuredStart, conf.prefix)
        case _ => conf.startingOffsets.toLowerCase match {
          case "earliest" => Map.empty[String, Long] // every table from 0
          case "latest"   => ChangelogFiles.totalsByTable(conf.dir, conf.prefix)
          case _ =>
            ChangelogFiles.tableCountsBefore(conf.dir, configuredStart, conf.prefix)
        }
      }
      BinlogTableOffsets(base.filter { case (k, _) => conf.tableKeyMatches(k) })
    }

  /** Upgrade path: a legacy single-long checkpoint read under map-offset
    * mode converts via the global→table-local index mapping — but ONLY
    * with the explicit `upgradeLegacyCheckpoint` opt-in. The upgrade is
    * offset-exact for the source itself, yet it switches the envelope
    * `offset` field from packed-global (huge) to table-local (small)
    * values mid-stream; downstream per-key monotonic dedup state keyed
    * on the old high-water marks would then silently drop every new
    * event. Refusing by default turns that silent loss into an
    * actionable error.
    */
  private def asTableOffsets(o: Offset): Map[String, Long] = o match {
    case m: BinlogTableOffsets => m.tables
    case s: BinlogSourceOffset =>
      if (!conf.upgradeLegacyCheckpoint) throw new IllegalStateException(
        "this checkpoint was written with a legacy single-long offset but the " +
          "source now runs with offsetsByTable=true (the default). Resuming " +
          "would change the envelope `offset` field from packed-global to " +
          "table-local values, breaking any downstream state keyed on the old " +
          "offsets. Either set offsetsByTable=false to stay in the legacy " +
          "offset space, or opt in with upgradeLegacyCheckpoint=true AND reset " +
          "downstream offset-keyed dedup state")
      ChangelogFiles.tableCountsBefore(conf.dir, s.offset, conf.prefix)
        .filter { case (k, _) => conf.tableKeyMatches(k) }
  }

  /** A map-offset checkpoint cannot be downgraded to the single-long
    * space (the global position of a per-table count mix is not
    * recoverable) — fail with the remedy instead of a bare cast error.
    */
  private def requireLegacy(o: Offset): BinlogSourceOffset = o match {
    case s: BinlogSourceOffset => s
    case _: BinlogTableOffsets => throw new IllegalStateException(
      "this checkpoint was written with offsetsByTable=true (per-table map " +
        "offsets); it cannot resume with offsetsByTable=false — remove the " +
        "option or start a fresh checkpoint")
  }

  /** Per-table independent advance (map-offset mode): under a row cap,
    * the budget is allocated against BACKLOG ([[AdmissionBudget]]) — a
    * stalled/slow table can neither stall the others nor starve itself,
    * and idle tables never dilute the rate of active ones.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    if (!conf.offsetsByTable) {
      val startOff = requireLegacy(start).offset
      val latest = ChangelogFiles.latestOffset(conf.dir, conf.prefix)
      val end = limit match {
        case r: ReadMaxRows =>
          val capped = ChangelogFiles.advance(conf.dir, startOff, r.maxRows(), conf.prefix)
          if (capped < latest) capped else latest
        case _ => latest
      }
      // txn alignment: never end a batch mid-transaction (metadata-only
      // for completed files, incremental tail parse for the live one)
      val aligned =
        if (conf.txnAligned)
          TxnBoundaries.snap(conf.dir, conf.prefix, startOff, end, latest)
        else end
      BinlogSourceOffset(math.max(aligned.packed, startOff.packed))
    } else {
      val startMap = asTableOffsets(start)
      val totals = ChangelogFiles.totalsByTable(conf.dir, conf.prefix)
        .filter { case (k, _) => conf.tableKeyMatches(k) }
      // tables discovered now ∪ tables already tracked (a table going
      // quiet must not drop its checkpointed offset)
      val keys = (totals.keys ++ startMap.keys).toSeq.distinct.sorted
      val bounds = keys.map { t =>
        val from = startMap.getOrElse(t, 0L) // new table: all records are new
        t -> (from, math.max(totals.getOrElse(t, 0L), from))
      }.toMap
      // budget allocation is backlog-aware: idle tables consume none of
      // it, so one active table among N quiet ones gets the full rate
      // (not 1/N of it) — unused shares roll over until spent
      val grants = limit match {
        case r: ReadMaxRows =>
          AdmissionBudget.allocate(keys,
            t => { val (from, total) = bounds(t); total - from }, r.maxRows())
        case _ => keys.map(t => t -> (bounds(t)._2 - bounds(t)._1)).toMap
      }
      BinlogTableOffsets(keys.map { t =>
        val (from, _) = bounds(t)
        t -> (from + grants(t))
      }.toMap)
    }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    (start, end) match {
      case (_, e: BinlogTableOffsets) =>
        BinlogPartitioning.planByTable(conf, asTableOffsets(start), e.tables)
      case _ =>
        BinlogPartitioning.plan(conf,
          requireLegacy(start).offset, requireLegacy(end).offset)
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new BinlogReaderFactory(conf, ChangelogFiles.readSchemas(conf.dir), required)

  override def deserializeOffset(json: String): Offset =
    if (json.trim.startsWith("{")) BinlogTableOffsets.parse(json)
    else BinlogSourceOffset(json.toLong)

  /** ST5 retention: once a batch end-offset is committed, fully-consumed
    * files can (with `pruneCommitted=true`) be deleted — the reference's
    * WAL cleanup (BinlogWriteAheadLog.scala:42-48, 1 h / 3 d retention).
    * The manifest entry survives, so a later restart whose checkpoint
    * points at the pruned file's end passes the data-loss check, and
    * table-local indices stay stable. In map-offset mode a file is
    * fully consumed when every regex-matched table has consumed its
    * records through that file; non-matched tables are never served, so
    * they do not block retention.
    */
  override def commit(end: Offset): Unit = if (conf.pruneCommitted) end match {
    case s: BinlogSourceOffset =>
      ChangelogFiles.listFiles(conf.dir, conf.prefix)
        .filter(_._1 < s.offset.fileId)
        .foreach { case (_, f) => f.delete() }
    case m: BinlogTableOffsets =>
      val fts = ChangelogFiles.fileTableCounts(conf.dir, conf.prefix)
      val maxLive = fts.collect { case (id, Some(_), _) => id }
        .foldLeft(0L)(math.max)
      // only files whose per-table counts are MANIFEST-backed AT THE
      // CURRENT LENGTH may be deleted: a pruned file with scan-only (or
      // stale — appended-to after the manifest was written) counts
      // would vanish from the index spine and silently shift every
      // later table-local index
      val man = ChangelogFiles.manifest(conf.dir)
      val cum = scala.collection.mutable.HashMap.empty[String, Long]
      fts.foreach { case (id, fOpt, counts) =>
        counts.foreach { case (t, n) => cum.put(t, cum.getOrElse(t, 0L) + n) }
        val fully = counts.forall { case (t, _) =>
          !conf.tableKeyMatches(t) || m.tables.getOrElse(t, 0L) >= cum(t)
        }
        // keep the newest file: it is the append tail
        fOpt.foreach { f =>
          val backed = man.get(f.getName)
            .exists(e => e.tables.nonEmpty && e.length == f.length())
          if (fully && id < maxLive && backed) f.delete()
        }
      }
  }
}

/** Batch read of the whole log (earliest → latest) — lets users run
  * the bootstrap full-sync (SURVEY.md §2.1 S4) through the same source.
  */
final class BinlogBatch(conf: BinlogSourceConf,
    required: StructType = BinlogDataSource.Schema) extends Batch {
  override def planInputPartitions(): Array[InputPartition] = {
    // plan-pushed offset bounds clamp the range BEFORE partitioning:
    // out-of-range files and chunks are never planned — the same
    // manifest-spine pruning the startingOffsets option rides
    val earliest = ChangelogFiles.earliestOffset(conf.dir, conf.prefix)
    val latest = ChangelogFiles.latestOffset(conf.dir, conf.prefix)
    val startPacked = conf.offsetLowerBound
      .map(b => math.max(b, earliest.packed)).getOrElse(earliest.packed)
    val endPacked = conf.offsetUpperBound
      .map(b => math.min(b, latest.packed)).getOrElse(latest.packed)
    // a lower bound past the log's tail (the natural "everything after
    // my last-consumed offset" poll with no new data) is an EMPTY
    // range, not a planning error — without this, plan()'s
    // end >= start invariant would throw a misleading data-loss error
    if (startPacked > endPacked) Array.empty
    else BinlogPartitioning.plan(conf, BinlogOffset.unpack(startPacked),
      BinlogOffset.unpack(endPacked))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new BinlogReaderFactory(conf, ChangelogFiles.readSchemas(conf.dir), required)
}

object BinlogPartitioning {

  /** Per-partition record bound: the explicit option when set, else
    * adapted to the session's parallelism so the scan fills the
    * cluster in ~2 task waves instead of one task per 100k-record
    * file (the fixed default left a 32-core local session reading a
    * 2-file log with 2 tasks). The floor keeps a small micro-batch in
    * one partition (no per-trigger task confetti); the cap bounds
    * planner output on huge ranges. Planning stays metadata-only —
    * `total` comes from the manifest spine, never a scan.
    */
  def chunkSize(conf: BinlogSourceConf, total: Long): Long =
    conf.maxRecordsPerPartition.getOrElse {
      val par = org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sparkContext.defaultParallelism).getOrElse(8).max(1)
      ((total + 2L * par - 1) / (2L * par)).max(2000L).min(100000L)
    }

  /** Slice [start, end) into one partition per file, further split into
    * [[chunkSize]] chunks — N-way fetch parallelism where
    * the reference served every batch through one partition
    * (MBDS:394-397). Also the ST8 regression check (HWDS:220-241).
    */
  def plan(conf: BinlogSourceConf, start: BinlogOffset, end: BinlogOffset): Array[InputPartition] = {
    require(end.packed >= start.packed,
      s"end offset $end < start offset $start — some data may have been missed")
    // data-loss check BEFORE the empty-range early return, so a total
    // purge (all files gone, end collapses to start) still surfaces
    LogScan.requireNoUnreadPurge(conf.log, conf.dir,
      ChangelogFiles.listedIdSet(conf.dir, conf.prefix), start, "", "changelog")
    val files = ChangelogFiles.listFiles(conf.dir, conf.prefix)
    if (end.packed == start.packed) return Array.empty
    val maxId = files.lastOption.map(_._1).getOrElse(-1L)
    val ranges = for {
      (id, f) <- files
      if id >= start.fileId && id <= end.fileId
      n = ChangelogFiles.recordCountRolled(id, f, maxId)
      from = if (id == start.fileId) start.pos else 1L
      until = if (id == end.fileId) math.min(end.pos, n + 1) else n + 1
      if until > from
    } yield (id, f, from, until)
    val chunk = chunkSize(conf, ranges.iterator.map(r => r._4 - r._3).sum)
    val mf = ChangelogFiles.manifest(conf.dir)
    val parts = for {
      (id, f, from, until) <- ranges
      // byte-addressed spine (when the writer recorded one): each chunk
      // seeks to the nearest sync point at-or-before its start and
      // line-skips at most one sync interval, instead of line-reading
      // the whole prefix — a chunked scan reads ~only the bytes it serves
      sync = mf.get(f.getName).map(_.sync).getOrElse(Nil)
        .filter(_.byte >= 0).sortBy(_.pos)
      chunkStart <- from until until by chunk
      anchor = sync.takeWhile(_.pos <= chunkStart).lastOption
    } yield BinlogInputPartition(f.getAbsolutePath, id, chunkStart,
      math.min(chunkStart + chunk, until),
      seekBytes = anchor.map(_.byte).getOrElse(-1L),
      seekPos = anchor.map(_.pos).getOrElse(1L))
    parts.toArray
  }

  /** Map-offset planning: one partition per file that holds any
    * in-range record of any table — the file is scanned ONCE for all
    * tables (no per-table read amplification over the shared log).
    * Each partition carries, per table, the table-local index range to
    * serve plus the table's cumulative index at the file start; the
    * reader reconstructs local indices by counting as it scans.
    *
    * Data loss in this mode falls out of the index spine: a purged
    * (manifest-only) file whose range still overlaps [start, end) for
    * some table means unread records were lost.
    */
  def planByTable(conf: BinlogSourceConf, start: Map[String, Long],
      end: Map[String, Long]): Array[InputPartition] = {
    // A PURGED file whose manifest entry predates per-table counts
    // (records exist but no `tables` map) cannot be placed in the
    // per-table index space at all — its absence would silently shift
    // every later index. Conservative: that is a loss condition.
    if (conf.failOnDataLoss) {
      val live = ChangelogFiles.listedIdSet(conf.dir, conf.prefix)
      val unplaceable = ChangelogFiles.manifestById(conf.dir, conf.prefix)
        .collect {
          case (id, e) if e.count > 0 && e.tables.isEmpty &&
              !live.contains(id) => id
        }
      if (unplaceable.nonEmpty) {
        throw new IllegalStateException(
          s"purged changelog files ${unplaceable.mkString(",")} have no " +
            "per-table manifest counts — their records cannot be placed in " +
            "the per-table offset space (set failOnDataLoss=false to ignore, " +
            "or use offsetsByTable=false)")
      }
    }
    // pass 1 (metadata-only): per-file in-range table slices, with the
    // cumulative per-table index carried across files
    final case class FileSlice(f: java.io.File, id: Long,
        bases: Map[String, Long], ranges: Map[String, (Long, Long)],
        counts: Map[String, Long], scanUntil: Long)
    val lost = scala.collection.mutable.ArrayBuffer.empty[Long]
    val cum = scala.collection.mutable.HashMap.empty[String, Long]
    val slices = scala.collection.mutable.ArrayBuffer.empty[FileSlice]
    ChangelogFiles.fileTableCounts(conf.dir, conf.prefix).foreach {
      case (id, fOpt, counts) =>
        val ranges: Map[String, (Long, Long)] = counts.flatMap { case (t, n) =>
          end.get(t).flatMap { endT =>
            val base = cum.getOrElse(t, 0L)
            val lo = math.max(start.getOrElse(t, 0L), base)
            val hi = math.min(endT, base + n)
            if (hi > lo) Some(t -> (lo, hi)) else None
          }
        }
        if (ranges.nonEmpty) fOpt match {
          case Some(f) =>
            val bases = ranges.keys.map(t => t -> cum.getOrElse(t, 0L)).toMap
            slices += FileSlice(f, id, bases, ranges, counts,
              ChangelogFiles.recordCount(f) + 1)
          case None => lost += id
        }
        counts.foreach { case (t, n) => cum.put(t, cum.getOrElse(t, 0L) + n) }
    }
    if (lost.nonEmpty && conf.failOnDataLoss) {
      throw new IllegalStateException(
        s"changelog files ${lost.mkString(",")} were purged with unread " +
          "records for some tables — data was lost (set failOnDataLoss=false to ignore)")
    }
    // pass 2: chunk — the bound adapts to the session's parallelism
    // over the WHOLE range, so a multi-file backlog splits finely
    val chunk = chunkSize(conf, slices.iterator.map(
      _.ranges.valuesIterator.map { case (lo, hi) => hi - lo }.sum).sum)
    val mf = ChangelogFiles.manifest(conf.dir)
    val parts = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    slices.foreach { case FileSlice(f, id, bases, ranges, counts, scanUntil) =>
      val total = ranges.valuesIterator.map { case (lo, hi) => hi - lo }.sum
      // intra-file scan spine: sync points strictly inside the scanned
      // prefix let windows start mid-file with exact per-table bases
      val sync = mf.get(f.getName).map(_.sync).getOrElse(Nil)
        .filter(sp => sp.pos > 1 && sp.pos < scanUntil).sortBy(_.pos)
      // a file with NO spine can only split by re-scanning its prefix
      // per partition (each skipped line is still parsed to count table
      // occurrences) — so without sync data the split threshold stays
      // at the explicit option / legacy 100k default, never the finer
      // adaptive chunk: splitting there would multiply parse cost, not
      // parallelism
      val splitAt =
        if (sync.nonEmpty) chunk
        else conf.maxRecordsPerPartition.getOrElse(100000L)
      if (total <= splitAt) {
        // common case: one partition scans the file once for all tables
        parts += BinlogMapInputPartition(f.getAbsolutePath, id, bases,
          ranges, scanUntil)
      } else if (sync.nonEmpty) {
        // window split along the spine: each window scans ONLY its own
        // [from, to) slice of the file — no partition re-parses or even
        // re-reads the prefix it skips — and serves every table's
        // in-range records that fall inside the window. Greedy merge of
        // consecutive spine segments up to ~chunk in-range records.
        val bounds = (ChangelogFiles.SyncPoint(1L, Map.empty) +: sync) :+
          ChangelogFiles.SyncPoint(scanUntil, counts)
        def inRange(i: Int, j: Int): Map[String, (Long, Long)] =
          ranges.flatMap { case (t, (lo, hi)) =>
            val winLo = bases(t) + bounds(i).tables.getOrElse(t, 0L)
            val winHi = bases(t) + bounds(j).tables.getOrElse(t, 0L)
            val l = math.max(lo, winLo); val h = math.min(hi, winHi)
            if (h > l) Some(t -> (l, h)) else None
          }
        var segStart = 0
        var i = 1
        while (i < bounds.length) {
          val win = inRange(segStart, i)
          val n = win.valuesIterator.map { case (lo, hi) => hi - lo }.sum
          if (n >= chunk || i == bounds.length - 1) {
            if (win.nonEmpty) {
              val effBases = win.keys.map(t =>
                t -> (bases(t) + bounds(segStart).tables.getOrElse(t, 0L))).toMap
              val seek =
                if (segStart == 0) 0L else bounds(segStart).byte // -1 = skip
              parts += BinlogMapInputPartition(f.getAbsolutePath, id,
                effBases, win, bounds(i).pos, scanFrom = bounds(segStart).pos,
                seekBytes = seek)
            }
            segStart = i
          }
          i += 1
        }
      } else {
        // no spine (pre-sync manifest or live tail): split per table,
        // then chunk each table's local range so partitions stay
        // bounded — each partition re-scans the file, so the bound is
        // the coarse splitAt, never the adaptive chunk
        for {
          (t, (lo, hi)) <- ranges.toSeq.sortBy(_._1)
          chunkLo <- lo until hi by splitAt
        } parts += BinlogMapInputPartition(f.getAbsolutePath, id,
          Map(t -> bases(t)),
          Map(t -> (chunkLo, math.min(chunkLo + splitAt, hi))),
          scanUntil)
      }
    }
    parts.toArray
  }
}

/** Global-offset scan slice; `seekBytes`/`seekPos` (when the manifest
  * spine knows them) let the reader seek near `fromPos` instead of
  * line-skipping the whole prefix.
  */
final case class BinlogInputPartition(
    filePath: String, fileId: Long, fromPos: Long, untilPos: Long,
    seekBytes: Long = -1L, seekPos: Long = 1L) extends InputPartition

/** Map-offset scan slice. `base` is each table's global index at
  * `scanFrom` (file base + manifest-sync prefix counts when the slice
  * starts mid-file); `ranges` are the table-local index ranges this
  * slice serves, all falling inside [scanFrom, scanUntil).
  * `scanUntil` is the planner's complete-line count + 1: the reader
  * must never parse at or past it, because under concurrent append the
  * bytes beyond the planning snapshot can end in a torn line.
  */
final case class BinlogMapInputPartition(
    filePath: String, fileId: Long,
    base: Map[String, Long],
    ranges: Map[String, (Long, Long)],
    scanUntil: Long,
    scanFrom: Long = 1L,
    /** Byte offset of line `scanFrom` when the manifest spine knows it
      * (seek directly); -1 = line-skip from the file start.
      */
    seekBytes: Long = -1L) extends InputPartition

final class BinlogReaderFactory(conf: BinlogSourceConf,
    schemas: Map[String, String],
    required: StructType = BinlogDataSource.Schema)
    extends PartitionReaderFactory {

  // parsed StructTypes for kernel dispatch — once per factory, not per
  // partition (the map is fixed at construction)
  @transient private lazy val structs: Map[String, StructType] =
    schemas.map { case (k, v) =>
      k -> DataType.fromJson(v).asInstanceOf[StructType]
    }

  /** Changelog record → JSON envelope. `offset` is the packed global
    * offset (legacy partitions) or the 1-based table-local index
    * (map-offset partitions) — monotonic per (db, table) either way,
    * which is all the downstream exactly-once dedup (F7) requires.
    */
  private def envelope(current: ChangelogRecord, offset: Long): UTF8String = {
    val key = s"${current.db}.${current.table}"
    val st = structs.getOrElse(key, null)
    // raw byte[]/BIT/temporal cells → envelope form via the type
    // kernels, driven by schema type + binlog.field.decode.* conf
    val row = TypeKernels.convertRow(current.row, st,
      conf.sessionTimeZone, conf.fieldDecode)
    val before =
      if (conf.includeBeforeImage)
        current.before.map(TypeKernels.convertRow(_, st,
          conf.sessionTimeZone, conf.fieldDecode))
      else None
    val ev = CdcEvent(current.op, current.tsMillis, current.db, current.table,
      schemas.getOrElse(key, null), row, offset = offset, beforeRow = before,
      txnId = current.txn)
    UTF8String.fromString(EnvelopeCodec.write(ev))
  }

  // column pruning: `value` (the envelope serialization — the only
  // expensive column) is built ONLY when the pruned schema asks for it
  private def rows(): LogRows = new LogRows(required, BinlogDataSource.Schema,
    envelope(_, _), PartialFunction.empty)

  /** Record ops this scan emits: row changes always; DDL only by
    * opt-in. Every other op consumes its position silently.
    */
  private def served(op: String): Boolean =
    op == "insert" || op == "update" || op == "delete" ||
      (conf.includeDdl && op == "ddl")

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: BinlogInputPartition =>
        new PartitionReader[InternalRow] {
          // db/table regex filters applied at the source, pre-materialization
          // (reference BinLogSocketServerInExecutor.scala:239-250, compile :278-281)
          private val cut = new RecordFilter(conf.log)
          private val out = rows()
          private val raw = ChangelogFiles.readRange(
            new java.io.File(p.filePath), p.fromPos, p.untilPos,
            p.seekBytes, p.seekPos)
          private val it = raw.filter(r => cut.keeps(r) && served(r.op))
          private var current: ChangelogRecord = _

          override def next(): Boolean =
            if (it.hasNext) { current = it.next(); true } else false
          override def get(): InternalRow =
            out.row(current, BinlogOffset(p.fileId, current.pos).packed)
          // release the file handle even if the task is cancelled mid-range
          override def close(): Unit = raw.close()
        }

      case p: BinlogMapInputPartition =>
        new PartitionReader[InternalRow] {
          // one scan serves every table's range: local indices are
          // reconstructed by counting each table's records from the
          // file start (base + seen-so-far). The scan is BOUNDED at the
          // planner's complete-line count (`scanUntil` — RecordIterator
          // never parses a line at or past its untilPos, including its
          // one-line prefetch) and additionally stops as soon as every
          // range is exhausted: under concurrent append the bytes past
          // the planning snapshot can end in a torn line that must not
          // be parsed.
          private val cut = new RecordFilter(conf.log)
          private val out = rows()
          private val raw = ChangelogFiles.readRange(
            new java.io.File(p.filePath), p.scanFrom, p.scanUntil,
            p.seekBytes, seekPos = p.scanFrom)
          private val seen = scala.collection.mutable.HashMap.empty[String, Long]
          private var remaining =
            p.ranges.valuesIterator.map { case (lo, hi) => hi - lo }.sum
          private var current: ChangelogRecord = _
          private var currentIdx = 0L

          override def next(): Boolean = {
            while (remaining > 0 && raw.hasNext) {
              val r = raw.next()
              val k = s"${r.db}.${r.table}"
              p.ranges.get(k) match {
                case Some((lo, hi)) =>
                  val idx = p.base(k) + seen.getOrElse(k, 0L)
                  seen.put(k, seen.getOrElse(k, 0L) + 1)
                  if (idx >= lo && idx < hi) {
                    remaining -= 1
                    if (served(r.op) && cut.keepsOp(r.op)) {
                      current = r; currentIdx = idx; return true
                    }
                  }
                case None => () // table not served by this batch
              }
            }
            close()
            false
          }
          override def get(): InternalRow = out.row(current, currentIdx + 1)
          override def close(): Unit = raw.close()
        }
    }
}
