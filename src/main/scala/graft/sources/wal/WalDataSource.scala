package graft.sources.wal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc._
import graft.sources.log._
import graft.sources.log.BoundaryIndex.{contains, largestAtOrBelow, smallestAbove}

/** Multi-partition WAL-tailing CDC source — the analog of the
  * reference's HBase-WAL module (MLSQLHBaseWALDataSource.scala), which
  * proves the envelope/offset machinery generalizes past one table
  * shape:
  *
  *  - the log is REGION-PARTITIONED: `<path>/<region>/<prefix>.%06d`
  *    sub-logs that advance independently;
  *  - the offset is a Kafka-style MAP `{region → packed(fileId,pos)}`
  *    (reference CommonSourceOffset.scala:14-53 mirrors
  *    KafkaSourceOffset the same way) — a slow region never stalls the
  *    others, the scalable shape the single-long binlog offset lacks;
  *  - events are put/delete mutations with HBase-ish rows
  *    (`rowkey` + `family:qualifier` cells), schema-less envelopes
  *    (hbase AbstractEventWriter.java:39 embeds null);
  *  - planInputPartitions emits one partition set PER REGION
  *    (reference HWDS:248 runs one partition per region; we further
  *    chunk large ranges for reader parallelism);
  *  - rotated files moved to `<root>/oldWALs/<region>/` keep serving
  *    with offsets intact — the reference polls live WAL dirs AND the
  *    `oldWALs/` archive the same way (HBaseWALClient.scala:47-151).
  */
class WalDataSource
    extends LogDataSource("graft-wal", WalDataSource.WideSchema) {
  override protected def scanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WalScanBuilder(options)
}

object WalDataSource {
  val Schema: StructType = LogDataSource.Schema

  /** `envelopeColumns=true` widens the scan with typed routing columns
    * (`region`, `db`, `table`, `op`, `offset`) next to `value` — the
    * plan-pushdown handle ([[WalScanBuilder]]): a `region` equality
    * prunes WHOLE REGIONS off the partition plan (the WAL analog of
    * partition pruning — each region is an independent sub-log), and
    * db/table/op cuts apply in the readers. `offset` is the region-
    * LOCAL packed position (regions number files independently), so it
    * is exposed for inspection/dedup but never accepted as a pushed
    * global range.
    */
  val WideSchema: StructType =
    LogDataSource.wideSchema(StructField("region", StringType))

  def schemaFor(options: CaseInsensitiveStringMap): StructType =
    LogDataSource.schemaFor(options, WideSchema)

  /** Archive sub-dir for rotated logs — the `oldWALs/` analog
    * (reference HBaseWALClient.scala:47-151 polls BOTH the live
    * `WALs/<regionserver>/` dirs and `oldWALs/`): a rolled file moved to
    * `<root>/oldWALs/<region>/` keeps serving with its offsets intact.
    */
  val ArchiveSubDir = "oldWALs"

  /** The archive root: the reference's `oldWALLogPath` option when
    * given (an absolute directory, possibly outside the WAL root —
    * HBase keeps `oldWALs` beside, not inside, the live dirs), else
    * `<root>/oldWALs`.
    */
  def archiveRoot(root: String, oldWalLogPath: Option[String]): String =
    oldWalLogPath.getOrElse(s"$root/$ArchiveSubDir")

  /** Region sub-dirs under the WAL root (live ∪ archived), sorted for
    * determinism (W2). A region whose files were ALL archived still
    * lists — its records remain addressable.
    */
  def listRegions(dir: String,
      oldWalLogPath: Option[String] = None): Seq[String] = {
    def subDirs(d: String): Seq[String] = {
      val f = new java.io.File(d)
      Option(f.listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getName).toSeq
    }
    (subDirs(dir).filterNot(_ == ArchiveSubDir) ++
      subDirs(archiveRoot(dir, oldWalLogPath))).distinct.sorted
  }

  /** One region's log files across the live dir and the archive,
    * id-sorted; on an id present in both (mid-move race), the LIVE copy
    * wins. The region's manifest stays in the live dir.
    */
  def regionFiles(root: String, region: String, prefix: String,
      oldWalLogPath: Option[String] = None): Seq[(Long, java.io.File)] = {
    val live = ChangelogFiles.listFiles(s"$root/$region", prefix)
    val liveIds = live.map(_._1).toSet
    val archived = ChangelogFiles
      .listFiles(s"${archiveRoot(root, oldWalLogPath)}/$region", prefix)
      .filterNot { case (id, _) => liveIds.contains(id) }
    (live ++ archived).sortBy(_._1)
  }

  /** True when `f` lives under `<archive>/<region>/` — files are
    * only moved there AFTER rotation, so residence in the archive is
    * itself a completeness proof for grouping-mode alignment.
    */
  def isArchived(f: java.io.File,
      oldWalLogPath: Option[String] = None): Boolean =
    oldWalLogPath match {
      case Some(a) =>
        Option(f.getParentFile).flatMap(r => Option(r.getParentFile))
          .exists(_.getCanonicalPath == new java.io.File(a).getCanonicalPath)
      case None =>
        Option(f.getParentFile).flatMap(r => Option(r.getParentFile))
          .exists(_.getName == ArchiveSubDir)
    }

  /** The other location a WAL file can legally be: live ↔ archived.
    * Used to tolerate a file moving between the driver's listing (or
    * partition planning) and the open — the mid-move race. With an
    * external archive the mapping needs both roots.
    */
  def twinPath(path: String, root: Option[String] = None,
      oldWalLogPath: Option[String] = None): String = {
    val f = new java.io.File(path)
    val region = f.getParentFile
    (root, oldWalLogPath) match {
      case (Some(r), Some(a)) if region != null &&
          Option(region.getParentFile).exists(
            _.getCanonicalPath == new java.io.File(a).getCanonicalPath) =>
        // archived → live
        new java.io.File(new java.io.File(r, region.getName), f.getName).getPath
      case (Some(r), Some(a)) if region != null &&
          Option(region.getParentFile).exists(
            _.getCanonicalPath == new java.io.File(r).getCanonicalPath) =>
        // live → archived
        new java.io.File(new java.io.File(a, region.getName), f.getName).getPath
      case _ =>
        val parent = if (region == null) null else region.getParentFile
        if (region == null || parent == null) path
        else if (parent.getName == ArchiveSubDir) // archived → live
          new java.io.File(
            new java.io.File(parent.getParentFile, region.getName), f.getName).getPath
        else // live → archived
          new java.io.File(new java.io.File(
            new java.io.File(parent, ArchiveSubDir), region.getName), f.getName).getPath
    }
  }
}

/** Plan-level pushdown for the wide-schema WAL scan: on top of the
  * shared db/table/op cuts ([[LogScanBuilder]]), `region` equality|IN
  * prunes whole regions off the partition plan (each region is an
  * independent sub-log — this is genuine partition pruning, the planner
  * never lists the skipped regions' files). BATCH scans only —
  * [[WalScan]] drops every plan-derived override on the streaming path
  * (see its doc for the checkpoint rationale).
  */
final class WalScanBuilder(options: CaseInsensitiveStringMap)
    extends LogScanBuilder(options, WalDataSource.schemaFor(options)) {

  private val region = new Cut("region")

  override protected def acceptOwn(
      f: org.apache.spark.sql.sources.Filter): Boolean = region.accept(f)

  override def build(): Scan = {
    val base = WalSourceConf(options)
    val conf = base.copy(log = narrowed(base.log), regionFilter = region.values)
    new WalScan(conf, base, required, pushed)
  }
}

/** `conf` carries the plan-pushed overrides; `optionConf` is the
  * option-only configuration. BATCH scans use `conf` (region pruning +
  * reader-side cuts are pure optimization — Spark re-evaluates every
  * pushed filter above the scan). STREAMING scans use `optionConf`:
  * plan-pushed filters are TRANSPARENT to users, but `latestOffset`
  * advances every region's offsets into the checkpoint regardless —
  * pruning regions off a checkpointed stream's partition plan would
  * silently skip their history if the user later widens the plan
  * filter and resumes. Spark's retained plan filters still cut the
  * streamed rows, so results are identical either way; only explicit
  * OPTION-level patterns (documented as position-intact) narrow a
  * stream at the source. Same conservatism as BinlogScan's stripping
  * of plan-pushed offset bounds in its toMicroBatchStream.
  */
final class WalScan(val conf: WalSourceConf, val optionConf: WalSourceConf,
    required: StructType,
    pushed: Array[org.apache.spark.sql.sources.Filter])
    extends LogScan("graft-wal", conf.dir, required, pushed) {
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new WalMicroBatchStream(optionConf, required)
  override def toBatch: Batch = new WalBatch(conf, required)
}

/** The WAL's own options on top of the shared [[LogConf]]. Its
  * `databaseNamePattern`/`tableNamePattern` cut is applied AFTER cell
  * grouping (a mutation either emits whole or not at all — same
  * layering as `startTime`), and is position-intact: filtered mutations
  * still advance offsets, so checkpoints, admission budgets, and
  * manifest counts are unaffected by the filter and the pattern can be
  * changed on an existing checkpoint. An HBase region server's WAL
  * interleaves EVERY table it hosts, so a per-table consumer needs the
  * cut at the source.
  */
final case class WalSourceConf(
    log: LogConf,
    maxRecordsPerPartition: Long,
    /** Read-path cell grouping (T5): the log carries one record per
      * `family:qualifier` cell and the reader folds consecutive cells
      * of the same (rowkey, op, timestamp) into one mutation — the
      * reference's HBaseWALClient.scala:157-203 fold. With this on,
      * partitions are file-granular (a mutation never spans files, but
      * could span an arbitrary record chunk).
      */
    groupRawCells: Boolean,
    /** Reference `startTime` (MLSQLHBaseWALDataSource / HBaseWALClient):
      * WAL entries whose write time predates this epoch-ms instant are
      * dropped AT THE SOURCE. Offsets stay position-intact — filtered
      * records still advance the position, exactly like the redaction
      * skip path — so checkpoints and manifest counts are unaffected.
      */
    startTimeMs: Option[Long],
    /** Reference `oldWALLogPath`: an EXTERNAL archive root for rotated
      * files (HBase keeps `oldWALs` beside the live dirs, not inside);
      * unset = the in-root `<root>/oldWALs` layout.
      */
    oldWalLogPath: Option[String],
    /** Plan-pushed region cut ([[WalScanBuilder]]) — never set from
      * options: prunes whole regions off the partition plan.
      */
    regionFilter: Option[Set[String]] = None) extends LogSourceConf

object WalSourceConf {
  def apply(options: CaseInsensitiveStringMap): WalSourceConf =
    WalSourceConf(
      log = LogConf(options, "WAL root directory"),
      maxRecordsPerPartition =
        Option(options.get("maxRecordsPerPartition")).map(_.toLong).getOrElse(100000L),
      groupRawCells =
        Option(options.get("groupRawCells")).exists(_.toBoolean),
      startTimeMs = Option(options.get("startTime")).map(_.toLong),
      oldWalLogPath = Option(options.get("oldWALLogPath")))
}

/** Kafka-style map offset `{region: packedLong}` in the shared
  * sorted-key JSON ([[MapOffsetJson]]; W3 deterministic ordering).
  */
final case class WalOffset(regions: Map[String, Long]) extends Offset {
  override def json(): String = MapOffsetJson.write(regions)
}

object WalOffset {
  def parse(json: String): WalOffset =
    WalOffset(MapOffsetJson.parse(json, "wal offset"))
}

final class WalMicroBatchStream(val conf: WalSourceConf,
    required: StructType = WalDataSource.Schema)
    extends LogMicroBatchStream {

  override protected def log: LogConf = conf.log

  private def regionDir(r: String): String = s"${conf.dir}/$r"
  private def files(r: String): Seq[(Long, java.io.File)] =
    WalDataSource.regionFiles(conf.dir, r, conf.prefix, conf.oldWalLogPath)

  override def initialOffset(): Offset =
    WalOffset(WalDataSource.listRegions(conf.dir, conf.oldWalLogPath).map { r =>
      r -> ChangelogFiles.earliestOffsetOf(files(r)).packed
    }.toMap)

  /** Cell-grouping batch alignment: an end offset must never split the
    * cells of one (rowkey, op, ts) mutation across micro-batches — the
    * reader folds within a batch only, so a split would emit two
    * partial mutations (and a downstream upsert would apply a partial
    * row image). Snaps the end DOWN to the nearest mutation boundary;
    * at the LIVE tail (no later file, no current manifest entry), the
    * trailing mutation is DEFERRED entirely, because its completeness
    * cannot be known while the writer may still be appending cells — it
    * is served as soon as any later record or file appears, or the
    * manifest declares the file complete (a finished/archived WAL whose
    * writer closed it must not withhold its last mutation forever).
    *
    * Metadata-only per trigger: boundaries come from
    * [[MutationBoundaries]] — the manifest `bounds` field for completed
    * files, an appended-bytes-only incremental parse for the live tail.
    * No record range is ever re-read from the batch start.
    */
  private def mutationAlignedEnd(region: String, from: BinlogOffset,
      end: BinlogOffset): BinlogOffset = {
    if (!conf.groupRawCells || end.pos <= 1) return end
    if (end.packed <= from.packed) return end // idle/caught-up: nothing to align
    val regionDir = this.regionDir(region) // manifest home (live dir)
    val files = this.files(region)
    val f = files.find(_._1 == end.fileId).map(_._2).getOrElse(return end)
    val (n, bounds) = MutationBoundaries.of(regionDir, f)
    val laterFileExists = files.exists(_._1 > end.fileId)
    // completeness proof: a later file (writers never split a mutation
    // across a roll), a manifest entry matching the file's length (the
    // writer recorded it at close — checked in the live dir AND next to
    // the file, in case the archiver moved the manifest along), or
    // residence in the archive itself (files only move there after
    // rotation) — without the last two, a fully-archived region whose
    // live dir was cleaned up would defer its final mutation forever
    val fileComplete = laterFileExists || WalDataSource.isArchived(f, conf.oldWalLogPath) ||
      ChangelogFiles.manifest(regionDir).get(f.getName).exists(_.length == f.length) ||
      ChangelogFiles.manifest(f.getParent).get(f.getName).exists(_.length == f.length)
    val atEof = end.pos > n
    if (atEof && fileComplete) return end
    if (atEof) {
      // live tail: defer the possibly-growing trailing mutation; the
      // caller maxes with `from`, so "no progress" is a clean stall
      return bounds.lastOption
        .map(BinlogOffset(end.fileId, _)).getOrElse(end)
    }
    // mid-file end: complete iff the first excluded record starts a new
    // mutation
    if (contains(bounds, end.pos)) return end
    // snap DOWN to the start of the mutation containing the last
    // included record
    val downPos = largestAtOrBelow(bounds, end.pos - 1)
    if (downPos > 0) {
      val down = BinlogOffset(end.fileId, downPos)
      if (down.packed > from.packed) return down
    }
    // snapping down would make no progress: the mutation is LARGER than
    // the admission budget. Extend UP to its end instead (soft cap
    // overrun bounded by one mutation) — unless it runs to a live EOF,
    // where completeness is unknowable and the defer stands.
    val upPos = smallestAbove(bounds, end.pos)
    if (upPos > 0) BinlogOffset(end.fileId, upPos)
    else if (fileComplete) BinlogOffset(end.fileId, n + 1)
    else BinlogOffset(end.fileId, math.max(downPos, 1L)) // defer at live tail
  }

  /** Per-region independent advance. Under a row cap, the budget is
    * allocated against BACKLOG ([[AdmissionBudget.allocate]]): idle
    * regions consume none of it, a stalled/slow region can neither
    * stall the others nor starve itself, and one active region among N
    * quiet ones gets the full configured rate.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    // one retry on a file vanishing mid-computation (moved to the
    // archive between listing and open): the re-attempt re-lists and
    // finds it at its new home; a second miss is a genuine loss
    try latestOffsetAttempt(start, limit)
    catch { case _: java.io.FileNotFoundException =>
      latestOffsetAttempt(start, limit)
    }

  private def latestOffsetAttempt(start: Offset, limit: ReadLimit): Offset = {
    val startMap = start.asInstanceOf[WalOffset].regions
    // regions discovered now ∪ regions already tracked (a region dir
    // disappearing must not drop its checkpointed offset)
    val regions = (WalDataSource.listRegions(conf.dir, conf.oldWalLogPath) ++ startMap.keys).distinct.sorted
    val regionFs = regions.map(r => r -> files(r)).toMap
    val froms = regions.map { r =>
      r -> startMap.get(r)
        .map(BinlogOffset.unpack)
        .getOrElse(ChangelogFiles.earliestOffsetOf(regionFs(r))) // new region: from its start (HWDS new-region -1 analog)
    }.toMap
    val latests = regions.map { r =>
      r -> ChangelogFiles.latestOffsetOf(regionFs(r))
    }.toMap
    val grants = limit match {
      case l: ReadMaxRows =>
        // backlog precomputed ONCE per region: allocate() re-reads its
        // backlog function every refill round
        val backlog = regions.map(r =>
          r -> ChangelogFiles.countBetweenOf(regionFs(r), froms(r), latests(r))).toMap
        Some(AdmissionBudget.allocate(regions, backlog, l.maxRows()))
      case _ => None
    }
    WalOffset(regions.map { r =>
      val from = froms(r)
      val end = grants match {
        case Some(g) =>
          if (g(r) <= 0) from
          else {
            val capped = ChangelogFiles.advanceOf(regionFs(r), from, g(r))
            if (capped < latests(r)) capped else latests(r)
          }
        case None => latests(r)
      }
      r -> math.max(mutationAlignedEnd(r, from, end).packed, from.packed)
    }.toMap)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    WalPartitioning.plan(conf,
      start.asInstanceOf[WalOffset], end.asInstanceOf[WalOffset])

  override def createReaderFactory(): PartitionReaderFactory =
    new WalReaderFactory(conf, required)

  override def deserializeOffset(json: String): Offset = WalOffset.parse(json)
  override def commit(end: Offset): Unit = ()
}

final class WalBatch(conf: WalSourceConf,
    required: StructType = WalDataSource.Schema) extends Batch {
  private def full: (WalOffset, WalOffset) = {
    val regions = WalDataSource.listRegions(conf.dir, conf.oldWalLogPath)
    val fs = regions.map(r =>
      r -> WalDataSource.regionFiles(conf.dir, r, conf.prefix, conf.oldWalLogPath)).toMap
    (WalOffset(regions.map(r =>
       r -> ChangelogFiles.earliestOffsetOf(fs(r)).packed).toMap),
     WalOffset(regions.map(r =>
       r -> ChangelogFiles.latestOffsetOf(fs(r)).packed).toMap))
  }
  override def planInputPartitions(): Array[InputPartition] = {
    val (s, e) = full
    WalPartitioning.plan(conf, s, e)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new WalReaderFactory(conf, required)
}

object WalPartitioning {
  /** One partition set per region (reference HWDS:248), each region's
    * [start, end) range further chunked by maxRecordsPerPartition.
    */
  def plan(conf: WalSourceConf, start: WalOffset, end: WalOffset): Array[InputPartition] =
    // one retry on a file vanishing mid-plan (archived between listing
    // and stat): the re-attempt re-lists each region
    try planAttempt(conf, start, end)
    catch { case _: java.io.FileNotFoundException => planAttempt(conf, start, end) }

  private def planAttempt(conf: WalSourceConf, start: WalOffset,
      end: WalOffset): Array[InputPartition] = {
    end.regions.toSeq.sortBy(_._1)
      // plan-pushed region pruning: skipped regions' files are never
      // even listed; their offsets still advance (latestOffset never
      // consults the filter), so checkpoints stay filter-independent
      .filter { case (region, _) => conf.regionFilter.forall(_.contains(region)) }
      .flatMap { case (region, endPacked) =>
      val regionDir = s"${conf.dir}/$region" // manifest home (live dir)
      val files = WalDataSource.regionFiles(conf.dir, region, conf.prefix, conf.oldWalLogPath)
      val startOff = start.regions.get(region)
        .map(BinlogOffset.unpack)
        .getOrElse(ChangelogFiles.earliestOffsetOf(files))
      val endOff = BinlogOffset.unpack(endPacked)
      require(endOff.packed >= startOff.packed,
        s"region $region: end $endOff < start $startOff — data may have been missed")
      // per-region data-loss check: silently skipping a purged file
      // would drop region records
      LogScan.requireNoUnreadPurge(conf.log, regionDir,
        files.map(_._1).toSet, startOff, s"region $region: ", "WAL")
      // grouping mode assumes batch starts are mutation boundaries (the
      // aligned ends guarantee it for checkpoints this source wrote). A
      // mid-mutation start — a user-configured offset, or a checkpoint
      // written with groupRawCells OFF then resumed with it ON — would
      // make the reader emit a partial leading row image; REFUSE it
      // rather than silently corrupt (toggling grouping on an existing
      // checkpoint requires re-aligning the offset first).
      if (conf.groupRawCells && endOff.packed > startOff.packed && startOff.pos > 1) {
        files.find(_._1 == startOff.fileId).foreach { case (_, f) =>
          val (n, bounds) = MutationBoundaries.of(regionDir, f)
          val aligned = startOff.pos > n || contains(bounds, startOff.pos)
          if (!aligned) throw new IllegalStateException(
            s"region $region: start offset $startOff is not a mutation boundary — " +
              "groupRawCells must resume from an aligned checkpoint or a " +
              "boundary/start-of-file startingOffsets (was this checkpoint " +
              "written without groupRawCells?)")
        }
      }
      if (endOff.packed == startOff.packed) Seq.empty
      else {
        // cell-grouping mode must not split a mutation mid-file: chunk
        // at file granularity only (mutations never span files)
        val chunk =
          if (conf.groupRawCells) Long.MaxValue else conf.maxRecordsPerPartition
        for {
          (id, f) <- files
          if id >= startOff.fileId && id <= endOff.fileId
          n = ChangelogFiles.recordCount(f)
          from = if (id == startOff.fileId) startOff.pos else 1L
          until = if (id == endOff.fileId) math.min(endOff.pos, n + 1) else n + 1
          if until > from
          chunkStart <- from until until by chunk
          chunkEnd = if (chunk >= until - chunkStart) until else chunkStart + chunk
        } yield WalInputPartition(region, f.getAbsolutePath, id, chunkStart, chunkEnd)
      }
    }.toArray
  }
}

final case class WalInputPartition(
    region: String, filePath: String, fileId: Long,
    fromPos: Long, untilPos: Long) extends InputPartition

final class WalReaderFactory(conf: WalSourceConf,
    required: StructType = WalDataSource.Schema)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[WalInputPartition]
    new PartitionReader[InternalRow] {
      // the file may have been archived (or restored) between planning
      // and execution — fall back to its twin location before failing
      private val file = {
        val f = new java.io.File(p.filePath)
        if (f.exists()) f
        else {
          val twin = new java.io.File(WalDataSource.twinPath(p.filePath, Some(conf.dir), conf.oldWalLogPath))
          if (twin.exists()) twin else f // let the original error surface
        }
      }
      private val raw = ChangelogFiles.readRange(file, p.fromPos, p.untilPos)
      // startTime filters BEFORE cell grouping: a mutation's cells share
      // one timestamp, so the cut can never split a mutation
      private val cells = raw.filter(r =>
        (r.op == "put" || r.op == "delete") &&
          conf.startTimeMs.forall(r.tsMillis >= _))
      // T5 read-path cell grouping: fold consecutive records that share
      // (rowkey, op, timestamp) into ONE mutation, merging their cells —
      // the reference reassembles mutations from per-cell WAL entries
      // the same way (HBaseWALClient.scala:157-203). The merged record
      // takes the LAST cell's pos, so offsets stay resumable.
      private val grouped: Iterator[ChangelogRecord] =
        if (!conf.groupRawCells) cells
        else new Iterator[ChangelogRecord] {
          private var pending: ChangelogRecord =
            if (cells.hasNext) cells.next() else null
          override def hasNext: Boolean = pending != null
          override def next(): ChangelogRecord = {
            var acc = pending
            pending = null
            while (pending == null && cells.hasNext) {
              val n = cells.next()
              val sameMutation = n.op == acc.op && n.tsMillis == acc.tsMillis &&
                n.row.get("rowkey") == acc.row.get("rowkey")
              if (sameMutation) acc = acc.copy(pos = n.pos, row = acc.row ++ n.row)
              else pending = n
            }
            acc
          }
        }
      // db/table regex cut AFTER grouping: a mutation either emits
      // whole or not at all (filtering raw cells first could fuse two
      // surviving same-key mutations across a filtered-out gap).
      // Position-intact: a filtered mutation's positions were already
      // consumed by the range read, so offsets advance identically
      // with or without the filter.
      private val cut = new RecordFilter(conf.log)
      private val it: Iterator[ChangelogRecord] =
        if (cut.passesAll) grouped else grouped.filter(cut.keeps)
      private var current: ChangelogRecord = _

      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false

      // HBase-family envelope: schema is null, row carries rowkey +
      // family:qualifier cells (PutWriter.java:25-39). Raw tagged cells
      // still convert through the kernels (null schema → BIT defaults to
      // LongType), under the shared kernel options.
      private def envelope(r: ChangelogRecord, offset: Long): UTF8String = {
        val row = TypeKernels.convertRow(r.row, null,
          conf.sessionTimeZone, conf.fieldDecode)
        val ev = CdcEvent(r.op, r.tsMillis, r.db, r.table,
          schemaJson = null, row = row, offset = offset)
        UTF8String.fromString(EnvelopeCodec.write(ev))
      }

      // column pruning: `value` (envelope serialization — the expensive
      // column) is built only when the pruned schema asks for it
      private val out = new LogRows(required, WalDataSource.Schema,
        envelope(_, _), {
          case "region" =>
            val region = UTF8String.fromString(p.region)
            (_, _) => region
        })

      override def get(): InternalRow =
        out.row(current, BinlogOffset(p.fileId, current.pos).packed)
      override def close(): Unit = raw.close()
    }
  }
}
