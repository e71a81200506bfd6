package graft.streaming

import graft.io.AtomicFiles
import graft.io.AtomicFiles.Json
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import ReplicaStore._

/** One envelope keyed for cross-batch dedup: `key` = `db.table`,
  * `offset` = the packed log coordinate the source stamped into the
  * envelope, `value` = the raw envelope JSON.
  */
final case class KeyedOffsetEvent(key: String, offset: Long, value: String)

/** Consumer-side surface for the CDC envelope stream: typed expansion
  * of the `value: String` JSON envelopes, cross-batch exactly-once
  * dedup, and the upsert materialization pattern the reference
  * delegates to delta-plus (README.md:88-99 — `syncType=binlog`,
  * `idCols`).
  */
object CdcStream {

  /** Envelope schema parameterized by the per-table row schema — the
    * pair (`schema` JSON, `rows`) is designed for `from_json`
    * consumption (SURVEY.md §2.7).
    */
  def envelopeSchema(rowSchema: StructType): StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("timestamp", LongType),
    StructField("databaseName", StringType),
    StructField("tableName", StringType),
    StructField("schema", StringType),
    StructField("offset", LongType),
    StructField("rows", ArrayType(rowSchema))))

  /** Expand a `value: String` envelope stream into typed columns:
    * op/timestamp/db/table/offset + one output row per changed row.
    * Pure Catalyst (`from_json` + `explode`) — codegen'd, no UDF.
    *
    * ONE `from_json` per envelope: for a plain `explode` the optimizer
    * infers `size(rows) > 0` and pushes it below the projection, where
    * it parses every envelope a second time. `posexplode_outer` infers
    * nothing; the null `pos` it gives a null or empty `rows` marks the
    * rows a plain `explode` would not emit, so the output is the same.
    */
  def parsed(envelopes: DataFrame, rowSchema: StructType): DataFrame = {
    val e = envelopes
      .select(from_json(col("value"), envelopeSchema(rowSchema)).as("e"))
      .select(
        col("e.type").as("op"),
        col("e.timestamp").as("ts_ms"),
        col("e.databaseName").as("databaseName"),
        col("e.tableName").as("tableName"),
        col("e.offset").as("offset"),
        posexplode_outer(col("e.rows")).as(Seq("__pos", "row")))
      .where(col("__pos").isNotNull).drop("__pos")
    rowSchema.fieldNames.foldLeft(e) { (d, f) => d.withColumn(f, col(s"row.$f")) }
      .drop("row")
  }

  /** Key a raw envelope stream by `db.table` with its packed offset —
    * the input shape for [[dedupMonotonic]]. ONE `from_json` with a
    * three-field schema extracts the names and offset (three
    * `get_json_object` calls would each re-parse the envelope).
    */
  def keyedByTable(envelopes: DataFrame): Dataset[KeyedOffsetEvent] = {
    import envelopes.sparkSession.implicits._
    // offset parses as STRING + cast, preserving get_json_object's
    // coercion: a string-quoted numeric offset must still key/route
    // (a LongType field would null the whole struct in PERMISSIVE mode)
    val header = StructType(Seq(
      StructField("databaseName", StringType),
      StructField("tableName", StringType),
      StructField("offset", StringType)))
    envelopes.select(from_json(col("value"), header).as("h"), col("value"))
      .select(
        concat(col("h.databaseName"), lit("."), col("h.tableName")).as("key"),
        coalesce(col("h.offset").cast("long"), lit(0L)).as("offset"),
        col("value"))
      .as[KeyedOffsetEvent]
  }

  /** Cross-batch per-key monotonic-offset dedup (F7/ST7): drop any
    * event whose offset is <= the maximum already served for its key —
    * the reference's at-least-once re-read filter
    * (OriginalSourceServerInExecutor.scala:165-171), held here in
    * Spark's state store so it survives restarts via the checkpoint.
    *
    * Contract: exactly-once FOR COORDINATED EVENTS (offset > 0, which
    * every graft source stamps). Events WITHOUT a log coordinate
    * (offset <= 0 — foreign producers, pre-offset logs) cannot be
    * deduplicated and pass through at-least-once instead of being
    * dropped.
    *
    * Scale: state is ONE long per (db, table) key — bounded by table
    * count, not row count (SURVEY.md §7 hard part #5). The group
    * iterator is consumed in a SINGLE STREAMING PASS: working memory is
    * one 8-byte offset per batch row of the key (the intra-batch dedup
    * set), never the envelope payloads themselves — a hot table's JSON
    * strings are not buffered. State advances monotonically as events
    * are actually emitted, so a partially-consumed batch can only
    * re-serve (at-least-once), never mark-unserved-as-served.
    */
  def dedupMonotonic(events: Dataset[KeyedOffsetEvent]): Dataset[KeyedOffsetEvent] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (_: String, it: Iterator[KeyedOffsetEvent], state: GroupState[Long]) =>
        val seen = state.getOption.getOrElse(Long.MinValue)
        // intra-batch duplicate offsets (e.g. a re-served overlapping
        // range split across partitions) — offsets only, not payloads
        val emitted = new java.util.HashSet[java.lang.Long]()
        var high = seen
        it.flatMap { e =>
          // offset <= 0 means the producer stamped no log coordinate —
          // such events CANNOT be deduplicated, so they pass through
          // (at-least-once) rather than being silently dropped against
          // a positive high-water mark they can never exceed
          if (e.offset <= 0L) Some(e)
          else if (e.offset > seen && emitted.add(e.offset)) {
            if (e.offset > high) { high = e.offset; state.update(high) }
            Some(e)
          } else None
        }
    }
  }

  /** Phase-2 pointer flip of a PREPARED commit (phase 1 =
    * `applyBatchToReplica(prepareOnly = true)`): make the claimed,
    * reader-invisible version current in one atomic rename. Idempotent
    * — a store already at or past the version no-ops (the crash-redo
    * window of [[fanOutToReplicasAtomic]]'s intent replay). Throws
    * when the prepared dir is gone AND the pointer never advanced: a
    * later commit orphan-swept an abandoned prepare, so the batch must
    * re-run from phase 1.
    *
    * SINGLE-WRITER assumption (the same contract the sink's marker
    * protocol already carries): between prepare and flip, no FOREIGN
    * writer may commit to the store — a foreign commit would
    * orphan-sweep the prepared dir, take its version number, and make
    * the idempotence check unable to tell "our flip landed" from "a
    * stranger took the number" (the batch's data for this table would
    * be silently lost). The streaming sink serializes batches per
    * path, which is the intended caller.
    */
  def flipPreparedVersion(replicaDir: String, version: Long): Unit =
    ReplicaStore.flipPrepared(replicaDir, version)

  // ---------------------------------------- cross-table atomic fan-out
  // The fan-out's per-table commits used to be only batch-idempotent: a
  // crash between two tables' merges left the committed tables VISIBLY
  // ahead of the batch boundary until the batch replayed (an arbitrary
  // mixed-visibility window spanning the whole data-sized merge
  // sequence). The two-phase protocol shrinks that window to N pointer
  // renames and makes recovery FORWARD (metadata-only — no source
  // replay needed once the intent is durable):
  //   phase 1  every table's merge runs PREPARE-ONLY: data written,
  //            version dir claimed, CURRENT untouched — a crash here
  //            publishes NOTHING anywhere (orphaned prepares are
  //            swept by the next commit's existing crashed-writer
  //            machinery);
  //   intent   one atomic file listing (table dir → prepared version)
  //            — the transaction's commit record;
  //   phase 2  flip every pointer (ms apiece), delete the intent.
  // A crash after the intent recovers by REPLAYING THE INTENT (each
  // flip idempotent); a crash before it re-runs phase 1. No table is
  // ever observably ahead of the batch boundary except during the
  // flip sequence itself, and that window is bounded by metadata
  // renames, not data work.

  private def fanOutIntentFile(intentDir: String): java.io.File =
    new java.io.File(intentDir, "_fanout_txn.json")

  private[streaming] def writeFanOutIntent(intentDir: String,
      prepared: Seq[(String, Long)]): Unit = {
    new java.io.File(intentDir).mkdirs()
    val a = Json.createArrayNode()
    prepared.foreach { case (d, v) => a.addObject().put("dir", d).put("version", v) }
    AtomicFiles.replaceJson(fanOutIntentFile(intentDir).toPath, a)
  }

  /** Complete a crashed atomic fan-out's pending flips from its
    * durable intent — forward recovery, metadata-only. Returns true
    * when an intent was found and completed. Runs automatically at the
    * start of every [[fanOutToReplicasAtomic]] batch. A malformed
    * intent throws: its flips cannot be told apart from a lost batch.
    */
  def recoverFanOutIntent(intentDir: String): Boolean = {
    import scala.jdk.CollectionConverters._
    val f = fanOutIntentFile(intentDir)
    if (!f.exists()) return false
    def malformed = new IllegalStateException(
      s"recoverFanOutIntent: malformed fan-out intent $f")
    val entries = AtomicFiles.readJson(f.toPath).filter(_.isArray)
      .getOrElse(throw malformed).elements.asScala.toSeq
      .map(e => (textField(e, "dir"), longField(e, "version")) match {
        case (Some(d), Some(v)) => (d, v)
        case _ => throw malformed
      })
    entries.foreach { case (d, v) => flipPreparedVersion(d, v) }
    f.delete()
    true
  }

  /** Cross-table ATOMIC fan-out: same routing and per-table merges as
    * [[fanOutToReplicas]], committed under the two-phase protocol
    * above. `intentDir` holds the transaction's intent file (one
    * in-flight batch per intent dir — the streaming sink's batches are
    * serialized, which is the intended caller).
    */
  def fanOutToReplicasAtomic(
      envelopes: DataFrame,
      pathTemplate: String,
      intentDir: String,
      schemas: Map[String, StructType],
      idCols: Map[String, Seq[String]],
      orderCols: Seq[Column] = Seq(col("offset")),
      watermark: Option[Long] = None,
      recordChanges: Boolean = false,
      conditionalOrder: Boolean = false,
      deferMerge: Boolean = false): Seq[String] = {
    // forward recovery first: a crashed predecessor's intent completes
    // before any new work (its flips are idempotent renames)
    recoverFanOutIntent(intentDir)
    val results = fanOutImpl(envelopes, pathTemplate, schemas, idCols,
      orderCols, watermark, recordChanges, conditionalOrder, deferMerge,
      prepareOnly = true)
    val prepared = results.collect { case (path, Some(v)) => (path, v) }
    if (prepared.nonEmpty) {
      writeFanOutIntent(intentDir, prepared)
      prepared.foreach { case (p, v) => flipPreparedVersion(p, v) }
      fanOutIntentFile(intentDir).delete()
    }
    results.map(_._1)
  }

  /** Fan a multi-table envelope micro-batch out to per-table replicas —
    * the reference's delta-plus consumer pattern where the sink `path`
    * carries `{db}`/`{table}` placeholders (README.md:61-67). Each
    * table present in the batch is routed to
    * `pathTemplate.replace("{db}", db).replace("{table}", table)` and
    * upserted there with ITS row schema and id columns via
    * [[applyBatchToReplica]].
    *
    * The default order column is `offset` — under per-table map offsets
    * that is the table-local record index, a total order per table.
    *
    * Scale: the driver-side work is one tiny distinct over (db, table)
    * — bounded by table count — and one upsert job per table; the
    * per-table filter is a pushed-down `get_json_object` predicate, no
    * full envelope parse. Returns the materialized replica paths.
    */
  def fanOutToReplicas(
      envelopes: DataFrame,
      pathTemplate: String,
      schemas: Map[String, StructType],
      idCols: Map[String, Seq[String]],
      orderCols: Seq[Column] = Seq(col("offset")),
      watermark: Option[Long] = None,
      recordChanges: Boolean = false,
      conditionalOrder: Boolean = false,
      deferMerge: Boolean = false): Seq[String] =
    fanOutImpl(envelopes, pathTemplate, schemas, idCols, orderCols,
      watermark, recordChanges, conditionalOrder, deferMerge,
      prepareOnly = false).map(_._1)

  private def fanOutImpl(
      envelopes: DataFrame,
      pathTemplate: String,
      schemas: Map[String, StructType],
      idCols: Map[String, Seq[String]],
      orderCols: Seq[Column],
      watermark: Option[Long],
      recordChanges: Boolean,
      conditionalOrder: Boolean,
      deferMerge: Boolean,
      prepareOnly: Boolean): Seq[(String, Option[Long])] = {
    // ONE from_json extracts both routing names per envelope
    val nameHeader = StructType(Seq(
      StructField("databaseName", StringType),
      StructField("tableName", StringType)))
    val hdr = from_json(col("value"), nameHeader)
    val dbCol = hdr.getField("databaseName")
    val tblCol = hdr.getField("tableName")
    // ROUTE ONCE: write the raw envelopes into a (db, table)-partitioned
    // scratch table in ONE pass. Each per-table merge then reads only
    // its own partition directory (partition pruning), instead of every
    // merge re-scanning and re-extracting JSON over the WHOLE batch —
    // at T tables that was T full passes. The present-table set falls
    // out of the directory listing, replacing a full distinct() scan.
    val (routedDir, dropRouted) = {
      val p = graft.llm.IndexArtifacts.tempDir("fanout-routed")
      val routed = envelopes
        .select(col("value"), dbCol.as("__db"), tblCol.as("__tbl"))
        .filter(col("__db").isNotNull && col("__tbl").isNotNull) // malformed
      // CLUSTER BEFORE partitionBy: without it every input task opens
      // a writer per (db, table) it sees — N tasks × T tables tiny
      // parquet files, a small-file fsync surface that ambient I/O
      // pressure amplifies ~5× (r12 judge measurement: 4.7 s quiet vs
      // 22.5 s loaded for the same plan). Hash-clustering on the
      // routing key bounds the file count at filesPerTable per table.
      // filesPerTable=1 is right up to ~one executor-core's worth of
      // rows per table per batch; a cluster-scale batch where one
      // table dominates raises it (salt fans the big table across
      // that many writers/files while small tables still get few).
      val filesPerTable = envelopes.sparkSession.conf
        .getOption("graft.fanout.scratchFilesPerTable")
        .map(_.toInt).getOrElse(1).max(1)
      val clustered =
        if (filesPerTable == 1)
          routed.repartition(col("__db"), col("__tbl"))
        else routed.repartition(col("__db"), col("__tbl"),
          pmod(crc32(col("value")), lit(filesPerTable)))
      clustered.write.partitionBy("__db", "__tbl").parquet(p)
      (p, () => FileUtils.deleteQuietly(new java.io.File(p)))
    }
    val spark = envelopes.sparkSession
    def partitionValues(dir: java.io.File, prefix: String): Seq[String] =
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith(prefix))
        .map(f => java.net.URLDecoder.decode(
          f.getName.stripPrefix(prefix), "UTF-8")).toSeq
    val present = (for {
      db <- partitionValues(new java.io.File(routedDir), "__db=")
      tbl <- partitionValues(
        new java.io.File(s"$routedDir/__db=$db"), "__tbl=")
    } yield (db, tbl)).sorted
    try fanOutRouted(spark, routedDir, present, pathTemplate, schemas,
      idCols, orderCols, watermark, recordChanges, conditionalOrder,
      deferMerge, prepareOnly)
    finally dropRouted()
  }

  private def fanOutRouted(
      spark: org.apache.spark.sql.SparkSession,
      routedDir: String,
      present: Seq[(String, String)],
      pathTemplate: String,
      schemas: Map[String, StructType],
      idCols: Map[String, Seq[String]],
      orderCols: Seq[Column],
      watermark: Option[Long],
      recordChanges: Boolean = false,
      conditionalOrder: Boolean = false,
      deferMerge: Boolean = false,
      prepareOnly: Boolean = false): Seq[(String, Option[Long])] = {
    // per-table merges target DISJOINT replica dirs — schedule them as
    // concurrent Spark jobs (a fan-out over T tables is T independent
    // merges; running them serially would leave the cluster idle
    // between each table's small stages). Result order stays `present`
    // order. A failed merge cancels its siblings' jobs and waits for
    // them before rethrowing, so no sibling races a caller's retry of
    // the same batch (the atomic path's replay re-prepares the same
    // stores).
    val jobs = present.flatMap { case (db, tbl) =>
      val key = s"$db.$tbl"
      // a table needs BOTH a schema and id columns to materialize;
      // surface config skew instead of a bare NoSuchElementException
      (schemas.get(key), idCols.get(key)) match {
        case (Some(schema), Some(ids)) =>
          val path = pathTemplate.replace("{db}", db).replace("{table}", tbl)
          Some(() => {
            // partition-pruned read: only this table's routed files
            val v = applyBatchToReplica(path,
              parsed(spark.read.parquet(routedDir)
                .filter(col("__db") === db && col("__tbl") === tbl)
                .select(col("value")), schema),
              ids, orderCols, watermark = watermark,
              recordChanges = recordChanges,
              conditionalOrder = conditionalOrder,
              deferMerge = deferMerge,
              prepareOnly = prepareOnly)
            (path, v)
          })
        case (Some(_), None) => throw new IllegalArgumentException(
          s"fanOutToReplicas: table $key has a schema but no idCols entry")
        // the SCHEMAS map selects which tables materialize: a table with
        // only an idCols entry (e.g. a shared broad idCols config) is
        // skipped like a fully-unconfigured one
        case (None, _) => None
      }
    }
    ConcurrentJobs.runAll(spark, jobs)
  }

  /** Reduce a CDC micro-batch to its net effect: the last op per key in
    * (orderCol, then any total tiebreak already baked into orderCol)
    * order — the reference's per-key MAX(offset) semantics
    * (OriginalSourceServerInExecutor.scala:123-150).
    */
  def lastOpPerKey(batch: DataFrame, idCols: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(idCols.map(col): _*).orderBy(orderCols.map(_.desc): _*)
    batch.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // ------------------------------------------------------- replica store
  // The on-disk layout and commit protocol live in [[ReplicaStore]];
  // this object builds every read and write on it.

  val DefaultReplicaBuckets: Int = ReplicaStore.DefaultBuckets

  /** Reserved column storing order-conditional delete TOMBSTONES
    * (see [[applyBatchToReplica]]'s `conditionalOrder`). Live read
    * paths filter it; only conditional merges write it.
    */
  val Tombstone: String = ReplicaStore.Tombstone

  /** Resolve a manifest-recorded bucket/delta path. Ordinary stores
    * record paths RELATIVE to their own directory; a SHALLOW CLONE's
    * initial manifest ([[cloneReplica]]) records ABSOLUTE paths into
    * its source store — zero data copied, the Delta SHALLOW CLONE
    * shape. Every read/merge/compact/erase path resolves through
    * here, so copy-on-write falls out of the existing
    * carried-over-by-reference machinery: a merge rewrites only
    * touched buckets (locally), untouched buckets keep their absolute
    * source references until a compaction materializes them.
    */
  private def resolveStorePath(replicaDir: String, p: String): String =
    if (p.startsWith("/")) p else s"$replicaDir/$p"

  /** Drop tombstoned rows (and the marker column) from a replica scan
    * — identity for replicas that never merged conditionally.
    */
  private def filterTombstones(df: DataFrame): DataFrame =
    if (!df.columns.contains(Tombstone)) df
    else df.filter(!coalesce(col(Tombstone), lit(false))).drop(Tombstone)

  /** Reserved column carrying a delta file's commit version during a
    * merge-on-read scan (never stored).
    */
  private val DeltaSeq = "__delta_seq"

  /** MERGE-ON-READ view of a manifest's buckets (optionally filtered
    * to a candidate set): base rows ∪ pending per-bucket delta nets.
    * In the default (sequence) fold the NEWEST net per key wins (delta
    * commit version is the sequence; base rows sit at seq 0); when the
    * manifest marks its deltas CONDITIONAL, the GREATEST order-tuple
    * per key wins instead (ties → later commit) and stored tombstones
    * join the compare as deletes at their recorded order — the
    * deferred twin of the eager order-conditional merge. A manifest
    * without deltas reads exactly as before — no window, no op column,
    * zero overhead on the eager path. Keys/op come from the manifest.
    * None when the selected buckets hold no files at all.
    *
    * `keepDeletes = false` (read paths) returns the LIVE view: winning
    * deletes and tombstones drop. `keepDeletes = true` (write paths —
    * eager-merge base, compaction, erasure) preserves delete state:
    * conditional delete-winners come back as `__tombstone = true` rows
    * carrying their order values (their late-loser protection must
    * survive the rewrite), and stored base tombstones pass through
    * under the sequence fold too.
    */
  private def mergedBucketRead(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, m: ReplicaManifest,
      keep: Int => Boolean = _ => true,
      keepDeletes: Boolean = false): Option[DataFrame] = {
    val basePaths = m.buckets.collect {
      case (k, p) if keep(k) => resolveStorePath(replicaDir, p)
    }.toSeq.sorted
    val deltaPaths = m.deltas.toSeq.sortBy(_._1).collect {
      case (k, ps) if keep(k) => ps
    }.flatten
    if (basePaths.isEmpty && deltaPaths.isEmpty) return None
    val sc = m.schema
    def readBase(): DataFrame = spark.read.schema(sc).parquet(basePaths: _*)
    if (deltaPaths.isEmpty) return Some(
      if (keepDeletes) readBase() else filterTombstones(readBase()))
    val kc = m.keyCols
    val oc = m.opColName
    val deltaSc = StructType(sc.fields :+ StructField(oc, StringType))
    val condOrd: Option[Seq[String]] =
      if (m.deltasConditional) Some(m.condOrderCols.getOrElse(
        throw new IllegalStateException(s"replica $replicaDir: conditional " +
          "deltas without recorded condOrderCols")))
      else None
    val rawBase =
      if (basePaths.isEmpty)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), sc)
      else readBase()
    val hasTs = rawBase.columns.contains(Tombstone)
    // base rows enter the fold: under the CONDITIONAL fold a stored
    // tombstone is a delete at its recorded order (so late lower-order
    // deltas still lose to it); under the sequence fold tombstone rows
    // pass through as plain stored rows (per-bucket exclusivity keeps
    // sequence-folded delta buckets tombstone-free, so no compare is
    // ever needed — keepDeletes decides whether they surface)
    val base = (condOrd match {
      case Some(_) if hasTs => rawBase
        .withColumn(oc, when(coalesce(col(Tombstone), lit(false)), "delete")
          .otherwise("update"))
      case _ => rawBase.withColumn(oc, lit("update"))
    }).withColumn(DeltaSeq, lit(0L))
    // the delta path's version prefix IS its global sequence number
    // (commits are dense and per-bucket deltas are version-ordered).
    // ONE read per delta COMMIT, not per (commit, bucket) path — a
    // version's selected bucket dirs share a sequence, and a per-path
    // union would put |versions|·|buckets| scan legs in the plan.
    val byVersion = deltaPaths.groupBy(p => owningVersion(p).getOrElse(
      throw new IllegalStateException(
        s"replica $replicaDir: delta path $p names no version"))).toSeq.sortBy(_._1)
    val all = byVersion.foldLeft(base) { case (acc, (seq, ps)) =>
      acc.unionByName(
        spark.read.schema(deltaSc)
          .parquet(ps.distinct.sorted
            .map(p => resolveStorePath(replicaDir, p)): _*)
          .withColumn(DeltaSeq, lit(seq)),
        allowMissingColumns = true)
    }
    val ordering: Seq[Column] = condOrd match {
      // greatest order wins; a same-order tie goes to the later commit
      // (the eager merge's "incoming wins exact ties")
      case Some(ocs) => ocs.map(c => col(c).desc) :+ col(DeltaSeq).desc
      case None => Seq(col(DeltaSeq).desc)
    }
    val w = Window.partitionBy(kc.map(col): _*).orderBy(ordering: _*)
    val winners = all.withColumn("__mor_rn", row_number().over(w))
      .filter(col("__mor_rn") === 1)
    Some((condOrd, keepDeletes) match {
      case (Some(_), true) => // delete-winners persist as tombstones
        winners.withColumn(Tombstone, col(oc) === "delete")
          .drop("__mor_rn", DeltaSeq, oc)
      case (_, false) => // live view: winning deletes and tombstones drop
        winners.filter(col(oc) =!= "delete")
          .drop("__mor_rn", DeltaSeq, oc).transform(filterTombstones)
      case (None, true) => // sequence fold: base tombstones pass through
        winners.filter(col(oc) =!= "delete")
          .drop("__mor_rn", DeltaSeq, oc)
    })
  }

  /** The column names a horizon predicate references (resolved or
    * not — callers hand unresolved `col(...)` trees). Multi-part names
    * compare by their last segment.
    */
  private def horizonRefNames(horizon: Column): Seq[String] =
    org.apache.spark.sql.GraftColumnBridge.convertedExpression(horizon).collect {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        u.nameParts.last
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        a.name
    }.distinct

  /** Buckets holding at least one tombstone EXPIRED under `horizon`,
    * decided from manifest metadata alone: the recorded per-bucket min
    * order tuples re-hydrate as ≤ numBuckets driver-local rows and the
    * horizon predicate evaluates over them — O(manifest), no bucket
    * file is read. None when the horizon references columns outside
    * the recorded order columns (the caller falls back to the full
    * column-pruned sweep). Sound because an age-out horizon is
    * DOWNWARD-CLOSED in the order (a row is expired ⇒ every lower-order
    * row is too), so a bucket has an expired tombstone iff its MIN
    * tombstone is expired.
    */
  private def expiredFromMeta(spark: org.apache.spark.sql.SparkSession,
      m: ReplicaManifest, horizon: Column): Option[Set[Int]] = {
    val refs = horizonRefNames(horizon)
    // a horizon referencing columns outside the recorded min key
    // cannot be decided from metadata — None sends the caller to the
    // full column-pruned sweep instead of throwing AnalysisException
    // against the min-struct schema
    m.condOrderCols
      .filter(ocs => refs.forall(r => ocs.exists(_.equalsIgnoreCase(r))))
      .map { ocs =>
      if (m.tombstoneMins.isEmpty) Set.empty
      else {
        val types = m.schema.fields.map(f => f.name -> f.dataType).toMap
        val minSchema = StructType(ocs.map(c =>
          StructField(c, types.getOrElse(c, StringType))))
        import spark.implicits._
        // the [[NullOrderSentinel]] marks a bucket whose only tombstones
        // are null-order — unorderable, it can NEVER expire, and is
        // recorded only to keep the bucket in the exclusivity clash set
        // → filtered before parsing (no sweep churn)
        m.tombstoneMins.toSeq.toDF("__b", "j")
          .filter(col("j") =!= NullOrderSentinel)
          .select(col("__b"), from_json(col("j"), minSchema).as("m"))
          .select(col("__b"), col("m.*"))
          .filter(horizon)
          .select("__b").collect().map(_.getInt(0)).toSet
      }
    }
  }

  /** The stored-column NAMES of a conditional merge's order columns —
    * they are required to be stored columns, so each resolves to a
    * plain field name against the batch.
    */
  private def orderColNames(df: DataFrame, ord: Seq[Column]): Seq[String] =
    ord.map(c => df.select(c).schema.head.name)

  /** Is `from → to` a SAFE type widening — one Spark 4's parquet
    * readers serve losslessly when a file holding the narrow physical
    * type is read under the wider requested schema? (The widening
    * promotions of the vectorized reader: the integral ladder and
    * float→double.) This is exactly the set the merge path may admit
    * as a type change: old bucket files stay readable in place, no
    * rewrite, no precision loss.
    */
  private[streaming] def isTypeWidening(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType |
        org.apache.spark.sql.types.IntegerType |
        org.apache.spark.sql.types.LongType) => true
      case (org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType |
        org.apache.spark.sql.types.LongType) => true
      case (org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType) => true
      case (org.apache.spark.sql.types.FloatType,
        org.apache.spark.sql.types.DoubleType) => true
      case _ => false
    }

  /** Thrown when a commit loses the optimistic-concurrency race: another
    * writer committed a version with the same number first. The loser's
    * staging data is cleaned up; retry by re-running the batch against
    * the new current version.
    */
  final class ConcurrentReplicaWriteException(message: String)
    extends RuntimeException(message)

  /** Commit kinds that leave the store's content unchanged. */
  private val IdenticalKinds = Set("compact", "reshard", "upgrade")

  /** Read the live replica (the current manifest's bucket union).
    * None when no version was ever committed or the replica is empty.
    * The union schema comes from the MANIFEST (recorded at write time):
    * buckets written at different versions may differ after additive
    * evolution, and the explicit schema both null-fills missing columns
    * and skips a footer merge. Pending deltas (merge-on-read) fold
    * newest-net-wins inside [[mergedBucketRead]].
    */
  def readReplica(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String): Option[DataFrame] =
    readableManifest(replicaDir, None).flatMap(mergedBucketRead(spark, replicaDir, _))

  /** The manifest a read of `version` (None: CURRENT) serves. CURRENT
    * refuses dangling inherited references loudly
    * ([[requireInheritedRefsLive]]); a historical version whose
    * referenced files were GC'd is simply gone (None).
    */
  private def readableManifest(replicaDir: String,
      version: Option[Long]): Option[ReplicaManifest] = version match {
    case None => currentManifest(replicaDir).map { case (_, m) =>
      requireInheritedRefsLive(replicaDir, m); m
    }
    // a referenced older version dir may itself have been GC'd only
    // if nothing points at it — verify the files are still present
    case Some(v) => readManifest(replicaDir, v).filter(missingRefs(replicaDir, _).isEmpty)
  }

  /** `m`'s recorded data paths that no longer exist. */
  private def missingRefs(replicaDir: String, m: ReplicaManifest): Seq[String] =
    m.refs.filterNot(p => new java.io.File(resolveStorePath(replicaDir, p)).exists())

  /** The schema of the rows [[readReplica]] (`version` and
    * `asOfWatermark` None), [[readReplicaAt]] or
    * [[readReplicaAtWatermark]] returns, from the manifest alone: the
    * recorded union schema without the tombstone column, every field
    * nullable as the parquet read makes it. None exactly when that read
    * returns None.
    */
  private[graft] def readSchema(replicaDir: String, version: Option[Long],
      asOfWatermark: Option[Long]): Option[StructType] =
    (version, asOfWatermark) match {
      case (None, Some(w)) =>
        versionAtWatermark(replicaDir, w)
          .flatMap(v => readSchema(replicaDir, Some(v), None))
      case _ => readableManifest(replicaDir, version)
        .filter(m => m.buckets.nonEmpty || m.deltas.nonEmpty)
        .map(m => org.apache.spark.sql.GraftColumnBridge.asNullable(
          StructType(m.schema.filterNot(_.name == Tombstone))))
    }

  /** Key-predicate read path — the read-side half of the
    * partition-scoped MERGE: scan ONLY the buckets that can contain the
    * given key tuples. Because rows are hash-bucketed by
    * `pmod(hash(idCols), numBuckets)`, the candidate bucket of an
    * equality lookup DERIVES from the key itself — exact pruning,
    * strictly sharper than per-bucket min/max stats could be (under mod
    * partitioning every bucket spans the full key range). `keys` is the
    * bounded lookup set carrying exactly the `idCols` columns; its
    * bucket ids are computed with the SAME Catalyst hash expression the
    * writer bucketed with. A point lookup on a 16-bucket replica reads
    * one bucket's files, not 16.
    *
    * Cost: a LOCAL `keys` (its optimized plan is a LocalRelation, as
    * `Seq(...).toDF` gives) resolves its buckets on the driver and
    * filters the pruned scan with `In` over its typed keys, so the read
    * runs ONE Spark job, the caller's scan. Any other `keys` plan
    * collects its distinct bucket ids (one int per bucket) and selects
    * matching rows with a broadcast semi-join.
    *
    * None when no version was ever committed or the replica is empty.
    */
  def readReplicaForKeys(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, idCols: Seq[String], keys: DataFrame): Option[DataFrame] =
    currentManifest(replicaDir).flatMap { case (_, m) =>
      readForKeysAt(spark, replicaDir, m, idCols, keys)
    }

  /** Key-pruned read that PRESERVES conditional delete state: a key
    * whose latest outcome is an order-conditional delete comes back as
    * a `__tombstone = true` row carrying the delete's recorded order
    * values (the live view filters such rows entirely). Consumers that
    * re-run the merge's order compare OUTSIDE the merge itself —
    * [[graft.streaming.SecondaryIndex]] deriving index deltas under
    * `conditionalOrder` — need the tombstones' late-loser protection in
    * the compare, or a losing late update would look like a fresh
    * insert and plant a stale index entry on a dead key. Rows from
    * stores that never merged conditionally carry `__tombstone = false`.
    * Same bucket pruning and cost shape as [[readReplicaForKeys]].
    */
  def readReplicaForKeysWithTombstones(
      spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, idCols: Seq[String],
      keys: DataFrame): Option[DataFrame] =
    currentManifest(replicaDir).flatMap { case (_, m) =>
      readForKeysAt(spark, replicaDir, m, idCols, keys,
        keepDeletes = true)
    }.map(withTombstoneFlag)

  /** A non-null `__tombstone` flag on every row (false on stores that
    * never merged conditionally).
    */
  private def withTombstoneFlag(df: DataFrame): DataFrame =
    if (df.columns.contains(Tombstone))
      df.withColumn(Tombstone, coalesce(col(Tombstone), lit(false)))
    else df.withColumn(Tombstone, lit(false))

  /** Key-pruned read of one version's manifest `m` — CURRENT's, or a
    * historical one for time travel (same exact hash-derived bucket
    * pruning). The delta-sized restore diff reads the rollback target
    * through this: O(touched buckets), not O(store), even when the
    * target is a historical version. A local `keys` prunes and filters
    * on the driver (`In` over its typed keys, no job before the scan);
    * any other plan collects its buckets and semi-joins.
    * `buckets`: the candidate buckets when the caller already knows
    * them (an [[EagerCommit]]'s touched set) — skips the collect that
    * derives them from the keys, and keeps the semi-join. None when `m`
    * is committed-but-empty.
    */
  private def readForKeysAt(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, m: ReplicaManifest, idCols: Seq[String],
      keys: DataFrame, keepDeletes: Boolean = false,
      buckets: Option[Set[Int]] = None): Option[DataFrame] =
    if (m.buckets.isEmpty && m.deltas.isEmpty) None
    else {
      // same dangling-clone refusal as the full read: a pruned
      // lookup (the GSI hot path) must name the recovery too, not
      // throw FileNotFoundException from a scan task
      requireInheritedRefsLive(replicaDir, m)
      // Catalyst hash() is TYPE-sensitive (hash(5) != hash(5L)): the
      // lookup keys must be cast to the replica's column types
      // before bucket derivation, or a type-skewed caller would be
      // pruned to the WRONG bucket and silently get no rows (the
      // semi-join alone would have coerced and matched). The union
      // schema comes from the MANIFEST (recorded at write time) —
      // a footer-merge over every bucket file here would cost a
      // full-index metadata scan per lookup, the exact amplification
      // the pruned path exists to avoid.
      val replicaTypes = m.schema.fields.map(f => f.name -> f.dataType).toMap
      val typedKeys = keys.select(idCols.map { c =>
        val t = replicaTypes.getOrElse(c, throw new IllegalArgumentException(
          s"readReplicaForKeys: idCol $c not in replica schema " +
            replicaTypes.keys.mkString("[", ",", "]")))
        keys(c).cast(t).as(c)
      }: _*)
      // a bucketCols-routed replica (secondary-index layout) prunes
      // by the recorded subset — the caller's key tuples must carry
      // those columns (they do whenever bucketCols ⊆ idCols)
      val bc = m.bucketCols.getOrElse(idCols)
      bc.filterNot(idCols.contains).foreach(c =>
        throw new IllegalArgumentException(
          s"readReplicaForKeys: replica routes by bucketCol '$c' " +
            s"which is not among the lookup idCols $idCols"))
      val bucketOf = pmod(hash(bc.map(typedKeys(_)): _*), lit(m.numBuckets))
      // a LOCAL key set (a `Seq(...).toDF`): the optimizer folds the
      // cast and the bucket projection into its LocalRelation, so the
      // typed keys and their buckets come off the driver with no job.
      // A caller's known buckets keep the semi-join path unchanged.
      val local = if (buckets.nonEmpty) None
        else localRows(typedKeys.select(idCols.map(typedKeys(_)) :+ bucketOf: _*))
      val candidate = buckets
        .orElse(local.map(_.map(_.getInt(idCols.size)).toSet))
        .getOrElse(typedKeys.select(bucketOf.as("__bucket")).distinct()
          .collect().map(_.getInt(0)).toSet)
      // reading with the explicit FULL schema both null-fills
      // columns a pruned bucket predates (additive evolution) and
      // avoids a per-lookup footer merge; pending deltas on the
      // candidate buckets fold newest-net-wins inside
      // mergedBucketRead (the pruning itself is unchanged — delta
      // rows route by the same hash)
      val base = mergedBucketRead(spark, replicaDir, m, candidate,
          keepDeletes = keepDeletes)
        .getOrElse(spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), m.schema))
      val folded = if (keepDeletes) base else filterTombstones(base)
      Some(local match {
        case Some(rows) => folded.filter(
          tupleIn(idCols, typedKeys.schema.map(_.dataType), rows))
        case None => folded.join(broadcast(typedKeys), idCols, "left_semi")
      })
    }

  /** The rows of `df` when its optimized plan is a LocalRelation — read
    * on the driver, no job; None for any other plan.
    */
  private[streaming] def localRows(df: DataFrame)
      : Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        Some(r.data)
      case _ => None
    }

  /** `cols` IN the tuples of `rows`' leading fields (typed `types`): the
    * filter twin of an equi-semi-join against them — a tuple with a null
    * field matches nothing, as under `=`. An `InSet`, not an `In` of
    * literals: the keys ride in the plan as data, so reads of different
    * keys share one generated class instead of compiling one each, and a
    * single column still pushes down to the parquet scan.
    */
  private[streaming] def tupleIn(cols: Seq[String], types: Seq[DataType],
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, InSet}
    val tuples = rows.map(r => cols.indices.map(i => r.get(i, types(i))))
      .filterNot(_.contains(null)).distinct
    val typed = cols.zip(types).map { case (c, t) => col(c).cast(t) }
    if (tuples.isEmpty) lit(false)
    else if (cols.size == 1) column(InSet(expression(typed.head),
      tuples.map(_.head).toSet))
    else column(InSet(expression(struct(typed: _*)),
      tuples.map(t => new GenericInternalRow(t.toArray): Any).toSet))
  }

  /** Public face of [[readForKeysAt]]: key-pruned read of a specific
    * committed VERSION (the time-travel twin of [[readReplicaForKeys]]).
    * None when the version dir is gone (GC'd / never committed) or the
    * version is committed-but-empty. Referenced data files must still
    * exist (same grace rules as [[readReplicaAt]]).
    */
  def readReplicaForKeysAt(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, version: Long, idCols: Seq[String],
      keys: DataFrame): Option[DataFrame] =
    readManifest(replicaDir, version)
      .flatMap(readForKeysAt(spark, replicaDir, _, idCols, keys))

  /** ZONE-MAP range read: serve `column ∈ [lo, hi]` over the replica's
    * CURRENT state while SKIPPING bucket files whose parquet-footer
    * min/max provably miss the range — the non-key-predicate twin of
    * [[readReplicaForKeys]]'s hash pruning (which can only serve
    * equality on the routing columns). The footer stats ARE the zone
    * map ([[graft.operators.ZoneMaps]]); cost is O(base files) driver
    * metadata + a scan over only the surviving files.
    *
    * Where it pays: a store ROUTED by the predicate column
    * (`bucketCols` — the secondary-index layout clusters each indexed
    * value into one bucket, so bucket files carry tight, mostly
    * disjoint ranges) or written time-clustered. A store whose files
    * all straddle the range keeps every file — pruning never changes
    * results, only skips provably-miss files.
    *
    * Correctness under merge-on-read: a bucket with PENDING DELTAS is
    * never file-pruned — dropping a base row could flip that key's
    * fold winner (a pruned base row can no longer suppress an
    * in-range delta row that should have lost) — those buckets read
    * through the ordinary fold and the predicate applies to the
    * folded rows. Tombstoned rows drop as in every live read. The
    * exact predicate is re-applied to every surviving row (zones
    * admit false-positive files, never false-negative rows).
    *
    * The column must be stored as a 64-bit integer (bigint /
    * timestamp-micros) — other physical types fall back to a full
    * (unpruned) filtered read. Returns (rows, keptFiles, totalFiles)
    * where the counts cover the zone-scannable base files; None when
    * the store was never committed or is committed-empty.
    */
  def readReplicaRange(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, column: String, lo: Long, hi: Long)
      : Option[(DataFrame, Int, Int)] =
    readReplicaRangeMulti(spark, replicaDir, Seq((column, lo, hi)))

  /** [[readReplicaRange]] over a CONJUNCTION of range predicates
    * and/or a pinned VERSION (time travel).
    *
    * Multi-column: a file survives only if its zone overlaps EVERY
    * bounded column's range — the intersection is strictly tighter
    * than any single column alone whenever the store clusters on more
    * than one axis (e.g. value-banded buckets written in time order:
    * the band bound drops off-band buckets, the time bound drops each
    * surviving bucket's early files). Columns without usable footer
    * stats contribute no pruning (their files conservatively survive),
    * and the exact conjunction re-applies to every surviving row.
    *
    * Version pinning: `atVersion` serves the range read over a
    * committed historical version. Version dirs are IMMUTABLE — zone
    * pruning is exactly as safe there as on the current version (the
    * footer cache already keys on the version-dir path); the
    * GC-liveness rules of [[readReplicaAt]] apply (a version whose
    * referenced files were collected reads as None).
    */
  def readReplicaRangeMulti(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, colBounds: Seq[(String, Long, Long)],
      atVersion: Option[Long] = None)
      : Option[(DataFrame, Int, Int)] = {
    require(colBounds.nonEmpty, "readReplicaRangeMulti: no bounds given")
    val (column, lo, hi) = colBounds.head
    // liveness as readReplicaAt's: current-version reads enforce
    // inherited refs loudly; a historical read's GC'd references mean
    // "gone" (None)
    readableManifest(replicaDir, atVersion)
      .filter(m => m.buckets.nonEmpty || m.deltas.nonEmpty)
      .map { m =>
        def colType(c: String) =
          m.schema.fields.find(_.name == c).map(_.dataType)
        // UNIT PARITY with the footer stats: a TimestampType column's
        // parquet min/max are epoch MICROS, so the residual predicate
        // must compare micros too — cast("long") on a timestamp
        // yields SECONDS and would silently empty the result
        def asLong(c: String) =
          if (colType(c).contains(org.apache.spark.sql.types.TimestampType))
            unix_micros(col(c))
          else col(c).cast("long")
        def longTyped(c: String) = colType(c).exists(t =>
          t == org.apache.spark.sql.types.LongType ||
            t == org.apache.spark.sql.types.TimestampType)
        // the exact CONJUNCTION re-applies to every surviving row
        val pred = colBounds.map { case (c, l, h) =>
          asLong(c).between(l, h) }.reduce(_ && _)
        val deltaBuckets = m.deltas.keySet
        // delta-carrying buckets: full fold, no file pruning (see
        // scaladoc — a pruned base row could flip a fold winner)
        val foldSide: Option[DataFrame] =
          if (deltaBuckets.isEmpty) None
          else mergedBucketRead(spark, replicaDir, m,
            keep = deltaBuckets.contains)
        val scannable = m.buckets.collect {
          case (k, p) if !deltaBuckets(k) =>
            resolveStorePath(replicaDir, p)
        }.toSeq.sorted
        // per-column zones over the same file universe; a column
        // without footer-scannable stats yields stat-less zones
        // (keeps every file — no pruning, never wrong results)
        def zonesFor(c: String): Seq[graft.operators.ZoneMaps.FileZone] =
          if (longTyped(c))
            // cached: committed bucket dirs are immutable, so
            // repeated range scans pay the footer pass once
            scannable.flatMap(d =>
              graft.operators.ZoneMaps.fileZonesLongCached(d, c))
          else scannable.flatMap(d => Option(new java.io.File(d)
              .listFiles()).getOrElse(Array.empty).toSeq
            .filter(f => f.isFile && f.getName.endsWith(".parquet"))
            .map(f => graft.operators.ZoneMaps.FileZone(
              f.getPath, 0L, None, None)))
        val zones = zonesFor(column)
        // INTERSECTION across bounds: a file survives only if every
        // bounded column's zone overlaps that column's range
        val otherBounds = colBounds.tail.map { case (c, l, h) =>
          (zonesFor(c).map(z => z.path -> z).toMap, l, h) }
        val keep = graft.operators.ZoneMaps.overlapping(zones, lo, hi)
          .filter(z => otherBounds.forall { case (zm, l, h) =>
            zm.get(z.path).forall(zz =>
              graft.operators.ZoneMaps.overlaps(zz, l, h)) })
        val baseSide: Option[DataFrame] =
          if (keep.isEmpty) None
          else Some(filterTombstones(
            spark.read.schema(m.schema).parquet(keep.map(_.path): _*)))
        val rows = (baseSide.toSeq ++ foldSide.toSeq)
          .reduceOption(_.unionByName(_, allowMissingColumns = true))
          .getOrElse(spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            m.schema))
          .filter(pred)
        (rows.drop(Tombstone), keep.size, zones.size)
      }
  }

  /** Stream-side dimension enrichment — the "lookup join" every CDC
    * consumer runs in `foreachBatch`: left-join a micro-batch's rows
    * to the replica's CURRENT state for exactly the keys the batch
    * carries. The batch's distinct key set drives
    * [[readReplicaForKeys]], so the dimension read scans only the
    * buckets those keys can live in and the join side broadcasts —
    * per-batch cost is O(batch keys), never O(replica), no matter how
    * large the dimension grows. Rows without a live replica record
    * (never inserted, or deleted) keep NULL dimension columns.
    */
  def enrichBatch(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, idCols: Seq[String], batch: DataFrame,
      dimCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val keys = batch.select(idCols.map(col): _*).distinct()
    readReplicaForKeys(spark, replicaDir, idCols, keys) match {
      case Some(dim) =>
        val d = dim.select((idCols ++ dimCols).map(col): _*)
        batch.join(broadcast(d), idCols, "left")
      case None => // empty / never-committed replica: all-NULL dims
        dimCols.foldLeft(batch)((b, c) =>
          b.withColumn(c, lit(null).cast("string")))
    }
  }

  /** Read a SPECIFIC committed version — the time-travel read. A
    * version stays readable while any bucket of the current or
    * previous manifest still references its directory (carried-over
    * buckets keep old version dirs alive indefinitely; fully-rewritten
    * ones survive exactly one GC grace window, so the PREVIOUS version
    * is always readable). None when the version was GC'd, never
    * committed, is committed-but-empty, or predates the current store
    * format.
    */
  def readReplicaAt(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, version: Long): Option[DataFrame] =
    readableManifest(replicaDir, Some(version))
      .flatMap(mergedBucketRead(spark, replicaDir, _))

  /** A feed version's changes dir, wherever it lives: the version dir
    * itself, or `_feed/` after data GC retired it (feed retention is
    * decoupled from data retention, so compaction never shortens the
    * readable feed).
    */
  private[graft] def feedChangesDir(replicaDir: String, v: Long): Option[java.io.File] =
    Seq(versionDir(replicaDir, v), retiredDir(replicaDir, v))
      .map(new java.io.File(_, "changes")).find(_.isDirectory)

  /** A retired version's `_feed` meta: (commitKind, watermark). */
  private[streaming] def feedMeta(replicaDir: String, v: Long)
      : Option[(Option[String], Option[Long])] =
    AtomicFiles.readJson(new java.io.File(retiredDir(replicaDir, v), "meta.json").toPath)
      .filter(_.isObject)
      .map(n => (textField(n, "kind"), longField(n, "watermark")))

  /** Version `v`'s commit kind: from its live manifest, or from its
    * `_feed` meta once data GC retired the version dir.
    */
  private def commitKindOf(replicaDir: String, v: Long): Option[String] =
    readManifest(replicaDir, v).map(_.commitKind)
      .orElse(feedMeta(replicaDir, v).flatMap(_._1))

  /** Whether the store RECORDS a change feed: any committed version —
    * live, or retired into `_feed` by data GC — carries a changes dir.
    * The mode switch feed-sensitive operations consult: a
    * feed-recording store's RESTORE must record its rollback diff so
    * followers replay it (checking only LIVE version dirs misses a
    * store whose every recorded feed surface was retired — e.g. all
    * content commits aged into `_feed` behind a compaction).
    */
  def replicaHasFeed(replicaDir: String): Boolean =
    replicaVersions(replicaDir).exists(v =>
      new java.io.File(versionDir(replicaDir, v), "changes").isDirectory) ||
      retiredVersions(replicaDir).exists(v =>
        new java.io.File(retiredDir(replicaDir, v), "changes").isDirectory)

  /** Versions whose FEED surface is still on disk: live version dirs ∪
    * `_feed`-retired ones. The contiguity/gap contract runs over this
    * set, so data GC never creates a feed gap — only
    * [[truncateReplicaFeed]] (the VACUUM analog) does.
    */
  private def feedVersions(replicaDir: String): Seq[Long] =
    (committedVersions(replicaDir) ++ retiredVersions(replicaDir)).distinct.sorted

  /** Change-feed read (the Delta-CDF analog): the committed per-key
    * NETS of versions in `(fromVersionExclusive, toVersion]`, each row
    * stamped `_commit_version` / `_commit_watermark`. Requires the
    * writer to have merged with `recordChanges = true`; versions
    * without a changes dir (compaction rewrites, reshards, upgrades)
    * contribute NO rows — they are content-identical, so that is the
    * correct empty change set.
    *
    * Version numbers are DENSE (each commit increments by one), so a
    * missing version dir in the requested range is provably a GC'd
    * commit: the feed THROWS a gap error instead of silently serving a
    * stream with a hole — the consumer must restart from a full sync
    * (same contract as Delta CDF after VACUUM). None when no version in
    * range carries changes.
    *
    * CHANGELESS versions in the range are classified by their
    * recorded `commitKind` (`strict = true`, the default):
    * compaction/reshard commits are content-identical and correctly
    * contribute no rows, but an ERASURE mutates content with no feed
    * entry (a consumer that already applied earlier versions would
    * silently RETAIN the erased keys) and a merge committed with
    * `recordChanges = false` is a commit the feed never carried — both
    * REFUSE instead of letting the consumer silently diverge. This
    * guards EVERY feed surface: the batch drain ([[replayFeedInto]]),
    * the batch change-feed relation, and the streaming feed source's
    * `getBatch`. A changeless version with no classification at all
    * (its manifest GC'd without a `_feed` meta, or in an older store
    * format) refuses like a gap. `strict = false`
    * opts out for reads that INSPECT scrubbed history rather than
    * replay it (erasure-compliance verification, schema inference).
    *
    * Scale: each version's changes are delta-sized (the batch net, not
    * the replica), version selection and the strict classification are
    * directory/manifest metadata only.
    */
  def readReplicaChanges(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, fromVersionExclusive: Long = 0L,
      toVersion: Option[Long] = None,
      strict: Boolean = true): Option[DataFrame] = {
    val all = feedVersions(replicaDir)
    if (all.isEmpty) return None
    val hi = toVersion.getOrElse(all.max)
    val want = (fromVersionExclusive + 1) to hi
    val missing = want.filterNot(all.toSet)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"replica $replicaDir change feed gap: version(s) " +
        s"${missing.mkString(",")} were truncated from the feed; it " +
        "cannot be read contiguously — restart the consumer from a " +
        "full snapshot")
    if (strict) want.foreach { v =>
      if (feedChangesDir(replicaDir, v).isEmpty) {
        // changeless version: classify by commit kind
        commitKindOf(replicaDir, v) match {
          case Some(k) if IdenticalKinds(k) => ()
          case None => throw new IllegalStateException(
            s"replica $replicaDir: version $v has no changes and no " +
              "commit kind to classify it (GC'd, or written in an older " +
              "store format) — the feed cannot be read across it; " +
              "restart the consumer from a full snapshot")
          case Some("clone") => throw new IllegalStateException(
            s"replica $replicaDir: version $v is the store's SHALLOW-CLONE " +
              "initial version — its content equals the clone source at " +
              "the fork and the feed starts after it; seed the consumer " +
              "from a snapshot at this version, then drain from it " +
              "exclusive")
          case Some("erase") => throw new IllegalStateException(
            s"replica $replicaDir: version $v is an ERASURE — erasure " +
              "rewrites history with no feed entry, so a feed consumer " +
              "replaying past it would silently retain the erased keys; " +
              "apply eraseKeys to the consumer's store separately, then " +
              "resume the feed past this version")
          case Some(k) => throw new IllegalStateException(
            s"replica $replicaDir: version $v is a content commit " +
              s"($k) with no recorded changes (recordChanges=false) — " +
              "the feed never carried it, so draining it is impossible; " +
              "re-seed the consumer from a snapshot instead")
        }
      }
    }
    val parts = want.flatMap { v =>
      feedChangesDir(replicaDir, v).map { d =>
        val wmCol = replicaWatermark(replicaDir, v)
          .map(w => lit(w)).getOrElse(lit(null)).cast("long")
        spark.read.parquet(d.toString)
          .withColumn("_commit_version", lit(v))
          .withColumn("_commit_watermark", wmCol)
      }
    }
    // unionByName: additive schema evolution across versions null-fills
    parts.reduceOption(_.unionByName(_, allowMissingColumns = true))
  }

  /** TRUNCATE the retained feed below `beforeVersion` — the VACUUM
    * analog, the ONLY operation that shortens the readable feed (data
    * GC retires feed surfaces into `_feed` instead of deleting them).
    * Metadata-only: deletes `_feed` entries AND any LIVE version dir's
    * changes below the cut (a live version's data is untouched — only
    * its feed surface goes). Consumers positioned before the cut hit
    * the explicit gap refusal, never a silent skip. Returns the number
    * of feed entries removed.
    */
  def truncateReplicaFeed(replicaDir: String, beforeVersion: Long): Int = {
    var n = 0
    feedVersions(replicaDir).filter(_ < beforeVersion).foreach { v =>
      val retired = retiredDir(replicaDir, v)
      if (retired.isDirectory) { FileUtils.deleteQuietly(retired); n += 1 }
      val live = new java.io.File(versionDir(replicaDir, v), "changes")
      if (live.isDirectory) { FileUtils.deleteQuietly(live); n += 1 }
    }
    n
  }

  /** The DISTINCT key tuples touched by feed versions in
    * `(fromVersionExclusive, toVersion]` — the divergence bound the
    * delta-sized rewind/restore diffs prune by. Some(keys) ONLY when
    * every version in the range is accounted for: it records changes,
    * or its `commitKind` proves it content-identical (compact /
    * reshard / upgrade). A version that mutated content outside the
    * feed (an erasure, a recordChanges=false merge) — or a GC'd or
    * unclassifiable version dir — returns outer None:
    * the feed cannot bound the divergence, so the caller must fall
    * back to the full-store diff. `Some(None)` means the range is
    * PROVABLY divergence-free (all versions content-identical).
    * Cost: the changes files' key columns only (delta-sized), no
    * store data touched.
    */
  private def feedTouchedKeys(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, fromVersionExclusive: Long, toVersion: Long,
      idCols: Seq[String]): Option[Option[DataFrame]] = {
    val parts = ((fromVersionExclusive + 1) to toVersion).map { v =>
      feedChangesDir(replicaDir, v) match {
        case Some(changes) =>
          val df = spark.read.parquet(changes.toString)
          if (idCols.forall(df.columns.contains))
            Some(Some(df.select(idCols.map(col): _*)))
          else None // pre-keyCols feed entry: keys not enumerable
        case None =>
          // changeless version — classify from the live manifest or
          // the `_feed` meta a data GC left behind; a version with
          // NEITHER (truncated feed / pre-retention GC) is unknowable
          commitKindOf(replicaDir, v) match {
            case Some(k) if IdenticalKinds(k) => Some(None)
            case _ => None // mutated outside the feed, or gone
          }
      }
    }
    if (parts.contains(None)) None
    else Some(parts.flatMap(_.flatten)
      .reduceOption(_.unionByName(_))
      .map(_.distinct()))
  }

  /** True iff the store's content at version `fromV` PROVABLY equals
    * its content at version `toV` (fromV ≤ toV): every version in
    * `(fromV, toV]` is a content-identical commit ([[IdenticalKinds]]).
    * Metadata-only (manifest `commitKind` reads). A GC'd or
    * unclassifiable version dir, or any content-mutating kind
    * (merge / erase / restore) returns false — the conservative
    * answer. Used by the GSI cursor checks: an index in sync at
    * `fromV` is still in sync at `toV` across pure maintenance
    * commits, which carry nothing an index could miss.
    */
  private[streaming] def contentIdenticalRange(replicaDir: String,
      fromV: Long, toV: Long): Boolean =
    ((fromV + 1) to toV).forall { v =>
      // the `_feed` meta fallback keeps an in-sync index from reading
      // as lagging once an intervening compact/reshard dir ages out
      commitKindOf(replicaDir, v).exists(IdenticalKinds)
    }

  /** The CURRENT committed version number (the pointer's target) —
    * None when nothing was ever committed. Distinct from
    * `replicaVersions(dir).max`: a crashed writer's unpublished orphan
    * dir can sit ABOVE the pointer and must not be mistaken for state.
    */
  def replicaCurrentVersion(replicaDir: String): Option[Long] =
    currentVersion(replicaDir)

  /** Version dirs still on disk (newest last) — the time-travel
    * surface [[readReplicaAt]] serves. NOTE: may include a crashed
    * writer's unpublished orphan ABOVE the CURRENT pointer (renamed
    * aside by the next commit); version-PICKING logic must use
    * [[committedVersions]] so an orphan is never selected.
    */
  def replicaVersions(replicaDir: String): Seq[Long] = versionDirs(replicaDir)

  /** The source watermark a committed version's manifest recorded
    * (None for versions written without one, or pre-watermark
    * manifests).
    */
  def replicaWatermark(replicaDir: String, version: Long): Option[Long] =
    readManifest(replicaDir, version).flatMap(_.watermark)
      .orElse(feedMeta(replicaDir, version).flatMap(_._2))

  /** The newest committed version whose recorded watermark is `<= wm`
    * — the version a watermark time-travel read serves.
    */
  def versionAtWatermark(replicaDir: String, wm: Long): Option[Long] =
    committedVersions(replicaDir).reverse
      .find(v => replicaWatermark(replicaDir, v).exists(_ <= wm))

  /** Watermark time travel: read the replica AS OF source watermark
    * `wm` — the newest committed version whose recorded watermark is
    * <= wm. Versions without a watermark are skipped (their source
    * position is unknown). None when no committed version qualifies.
    */
  def readReplicaAtWatermark(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, wm: Long): Option[DataFrame] =
    versionAtWatermark(replicaDir, wm)
      .flatMap(v => readReplicaAt(spark, replicaDir, v))

  /** CROSS-TABLE consistent snapshot — the read every multi-table CDC
    * consumer eventually needs: per-table replicas apply their batches
    * independently (per-table map offsets, per-table lag), so "read
    * all the tables now" observes different source moments per table.
    * Writers that stamp each version with the SOURCE WATERMARK it
    * reached ("every source event with position < w is applied") make
    * a consistent read cheap: the global consistency point is the
    * minimum of the tables' LATEST watermarks, and each table reads AT
    * that point through watermark time travel — a laggard table pins
    * the snapshot, a fast table serves its matching older version
    * (kept readable by the versioned layout's GC grace). Pure manifest
    * metadata — no data is read to choose versions, so the decision
    * cost is O(tables), not O(replica), at any scale.
    *
    * Returns (consistency point, per-dir snapshot DataFrames, in the
    * given order). Throws when a table has no watermarked version to
    * serve (nothing consistent can be read).
    */
  def readConsistentSnapshot(spark: org.apache.spark.sql.SparkSession,
      replicaDirs: Seq[String]): (Long, Seq[DataFrame]) = {
    val (point, vs) = consistentVersions(replicaDirs, "read")
    (point, replicaDirs.zip(vs).map { case (d, v) =>
      readReplicaAt(spark, d, v).getOrElse(throw new IllegalStateException(
        s"consistent read: replica $d cannot serve watermark $point"))
    })
  }

  /** The consistency point of `dirs` — `at`, or the minimum over them of
    * each store's newest recorded watermark — and each store's version
    * at it ([[versionAtWatermark]]), every one resolved before the
    * caller acts on any. `what` names the caller in the refusals.
    */
  private def consistentVersions(dirs: Seq[String], what: String,
      at: Option[Long] = None): (Long, Seq[Long]) = {
    val point = at.getOrElse(dirs.map { d =>
      committedVersions(d).flatMap(replicaWatermark(d, _)).maxOption
        .getOrElse(throw new IllegalStateException(
          s"consistent $what: replica $d has no watermarked version"))
    }.min)
    (point, dirs.map(d => versionAtWatermark(d, point).getOrElse(
      throw new IllegalStateException(
        s"consistent $what: replica $d cannot serve watermark $point"))))
  }

  // ---------------------------------------------- failover / promotion

  /** Fence the store against writers (the failover demotion step): a
    * [[ReplicaStore.FrozenMarker]] file, under which every content write
    * path (merge — eager and deferred — erasure, reshard) refuses;
    * reads, compaction and the change feed stay available. Idempotent;
    * the reason is recorded for the refusal message.
    *
    * The fence is ATOMIC with respect to in-flight commits: after the
    * marker lands, this call waits for the commit lock to clear, so a
    * writer that entered its critical section before the fence
    * FINISHES before we return (a subsequent drain sees its commit),
    * while one entering after re-checks the marker inside the lock and
    * aborts — no successful commit can land behind the fence unseen.
    * The wait is bounded: a lock older than the 60 s stale threshold is
    * a crashed writer's debris the next commit would break anyway.
    */
  def freezeReplica(replicaDir: String, reason: String = "failover"): Unit =
    freeze(replicaDir, reason)

  def unfreezeReplica(replicaDir: String): Unit = unfreeze(replicaDir)

  /** The fence reason when the store is frozen, None otherwise. */
  def replicaFrozen(replicaDir: String): Option[String] = frozen(replicaDir)

  /** Apply a primary's change feed `(fromVersionExclusive, latest]`
    * into a follower store as ONE commit-ordered merge — the canonical
    * follower catch-up. Cross-version nets MUST fold by commit order
    * (each key's net from its newest feed version; the order columns
    * only tie-break within a version): a sequence store applies
    * batches last-commit-wins, so a later commit may legitimately
    * write a LOWER order value, and folding the whole range by order
    * columns would resurrect the overwritten row. Returns the feed
    * version the follower is now caught up to (the next call's
    * `fromVersionExclusive`).
    *
    * CHANGELESS versions in the range are classified by their
    * recorded `commitKind` — the strict [[readReplicaChanges]] read
    * this drain delegates to: compaction/reshard commits are
    * content-identical and correctly contribute nothing, but an
    * ERASURE mutates content with no feed entry (a follower caught up
    * through the feed would silently RETAIN the erased keys — apply
    * [[eraseKeys]] to the follower separately), and a merge committed
    * with `recordChanges = false` is a commit the feed simply never
    * carried — both REFUSE instead of silently diverging.
    *
    * `conditionalApply` replays into an ORDER-CONDITIONAL follower:
    * the fold still runs by commit order (a conditional primary's
    * feed records only incoming WINNERS, so per key the newest feed
    * version's row is the greatest-order row), and the follower's
    * merge applies with `conditionalOrder = true` so winning deletes
    * materialize as tombstones and late replays keep losing to them.
    */
  def replayFeedInto(spark: org.apache.spark.sql.SparkSession,
      primaryDir: String, followerDir: String,
      idCols: Seq[String], orderCols: Seq[Column],
      fromVersionExclusive: Long = 0L,
      recordChanges: Boolean = false,
      conditionalApply: Boolean = false,
      /** Commit classification for the catch-up merge — "merge" for
        * follower drains; [[refreshClone]] stamps "refresh". */
      kind: String = "merge"): Long = {
    val latest = currentVersion(primaryDir).getOrElse(0L)
    if (latest <= fromVersionExclusive) return fromVersionExclusive
    readReplicaChanges(spark, primaryDir, fromVersionExclusive,
        Some(latest)).foreach { net =>
      val w = Window.partitionBy(idCols.map(col): _*)
        .orderBy((col("_commit_version") +: orderCols).map(_.desc): _*)
      val latestNet = net.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", "_commit_version", "_commit_watermark")
      applyBatchToReplica(followerDir, latestNet, idCols, orderCols,
        recordChanges = recordChanges,
        conditionalOrder = conditionalApply, kind = kind)
    }
    latest
  }

  /** PROMOTE a change-feed follower to primary — the operational
    * failover step every CDC replica deployment needs:
    *
    *  1. FENCE the old primary ([[freezeReplica]]) so no writer can
    *     commit behind the switchover (split-brain guard);
    *  2. optionally DRAIN (`drain = true`, the planned-failover path):
    *     replay the old primary's remaining feed versions
    *     `(lastAppliedVersion, latest]` into the follower in ONE
    *     catch-up merge, so nothing committed before the fence is
    *     lost. A CRASH failover (`drain = false` — the old primary is
    *     unreachable or untrusted) promotes the follower as-is; old
    *     primary commits the feed never delivered are LOST by design
    *     (async replication semantics) and are rolled back when the
    *     old store rejoins via [[resyncAsFollower]].
    *
    * The catch-up applies with `recordChanges = true`, so the NEW
    * primary's own change feed is continuous for its followers.
    * Returns the promotion version — the new primary's current version
    * after catch-up; subsequent writes go to `followerDir`.
    */
  def promoteFollower(spark: org.apache.spark.sql.SparkSession,
      followerDir: String, oldPrimaryDir: String,
      idCols: Seq[String], orderCols: Seq[Column],
      lastAppliedVersion: Long, drain: Boolean = true,
      /** Apply the drain with `conditionalOrder` — required when the
        * follower is an order-conditional store (its tombstones have
        * no coherent meaning under a sequence fold).
        */
      conditionalApply: Boolean = false): Long = {
    freezeReplica(oldPrimaryDir, s"demoted: follower $followerDir promoted")
    val demotedFork =
      if (drain)
        replayFeedInto(spark, oldPrimaryDir, followerDir, idCols, orderCols,
          fromVersionExclusive = lastAppliedVersion, recordChanges = true,
          conditionalApply = conditionalApply)
      else lastAppliedVersion
    val promoV = currentVersion(followerDir).getOrElse(0L)
    // record the fork pair THE PROMOTION ITSELF established — the
    // ground truth [[resyncAsFollower]]'s delta path cross-checks a
    // caller's fork arguments against (a too-new fork would silently
    // truncate the divergence bound). Written after the drain: a
    // crashed promotion leaves no record, and the documented recovery
    // (re-run promoteFollower) writes it on the replay.
    writePromotionRecord(followerDir, oldPrimaryDir, demotedFork, promoV)
    promoV
  }

  /** `_promotion.json` in the NEW primary's dir: which store it was
    * promoted over and the fork pair — `demotedFork` (the last demoted
    * version the follower had applied at promotion, post-drain) and
    * `promotionVersion` (the follower's version at promotion). Sidecar
    * metadata (the store sweep never deletes it, see [[isStaleDebris]]),
    * atomically replaced at each promotion so it always describes the
    * LATEST failover this store won.
    */
  private[streaming] def writePromotionRecord(followerDir: String,
      demotedDir: String, demotedFork: Long, promotionVersion: Long): Unit = {
    val canonical =
      try new java.io.File(demotedDir).getCanonicalPath
      catch { case _: java.io.IOException => demotedDir }
    val dir = java.nio.file.Paths.get(followerDir)
    java.nio.file.Files.createDirectories(dir)
    AtomicFiles.replaceJson(dir.resolve("_promotion.json"),
      Json.createObjectNode().put("demotedDir", canonical)
        .put("demotedFork", demotedFork)
        .put("promotionVersion", promotionVersion))
  }

  private[streaming] def promotionRecord(newPrimaryDir: String)
      : Option[(String, Long, Long)] =
    AtomicFiles.readJson(
      java.nio.file.Paths.get(newPrimaryDir, "_promotion.json")).flatMap(n =>
      for (d <- textField(n, "demotedDir"); fk <- longField(n, "demotedFork");
           pv <- longField(n, "promotionVersion")) yield (d, fk, pv))

  /** RE-SYNC a demoted (possibly diverged) store as a follower of the
    * new primary — the pg_rewind analog. The old primary may hold
    * commits the follower never replicated before a crash failover;
    * they lost the failover and must roll back. One content rewind
    * commit makes the demoted store equal the new primary's snapshot:
    *
    *  - UPSERT every new-primary row whose content differs from (or is
    *    absent in) the demoted store — a full-outer content-hash diff,
    *    so the commit is DIVERGENCE-sized, not store-sized;
    *  - DELETE every demoted-store key the new primary no longer has
    *    (keys created only by the lost divergent commits).
    *
    * The rewind applies through the normal merge (bypassing the fence
    * — it is the sanctioned rejoin path), then lifts the fence.
    * Returns the new-primary version the rewind snapshot corresponds
    * to: the position to follow the new primary's change feed from.
    * Overlap is safe — replaying feed versions at-or-before the
    * returned version re-applies content-identical nets.
    *
    * Sequence (non-conditional) stores only: a conditional store's
    * tombstone late-loser protection is designed to REFUSE exactly the
    * kind of backward state move a rewind is; a conditional store
    * rejoins through [[reseedAsFollower]] (compact-and-reseed)
    * instead.
    *
    * DELTA-SIZED when the fork is known: with `demotedDivergedAfter`
    * (the last primary version the follower had applied before the
    * failover — everything after is the demoted store's lost
    * divergence) and `newPrimaryForkVersion` (the new primary's
    * version at promotion — everything after is its own new history),
    * the candidate divergence keys are the UNION of both stores' feed
    * keys past their forks ([[feedTouchedKeys]]) — every other key was
    * content-equal at the fork and untouched since, PROVIDED both
    * ranges are feed-complete. Both sides then read only those keys'
    * buckets (the [[readReplicaForKeys]] pruning), so the rewind READ
    * is divergence-sized too — at 100 TB the difference between a
    * failover drill and a double full-store scan per rejoin. Any
    * version in either range that mutated content outside the feed
    * (erasure, recordChanges=false) falls back to the full diff —
    * correct, never silently partial.
    *
    * ==The fork invariant — REQUIRED for the delta path==
    * The new primary's content at `newPrimaryForkVersion` must EQUAL
    * the demoted store's content at `demotedDivergedAfter` (the states
    * the two histories forked from). Passing a fork NEWER than the
    * true one excludes commits from the divergence bound and the
    * rewind is SILENTLY PARTIAL — the one failure the unconditional
    * full diff cannot have. Passing an OLDER fork is safe
    * (over-inclusion only widens the diff). Guards, all metadata-only:
    * a fork beyond either store's current version throws; and when the
    * new primary holds a promotion record for THIS demoted store
    * (written by [[promoteFollower]] — the fork pair the failover
    * itself established), fork arguments newer than the recorded pair
    * throw. When unsure of the fork, pass None: the full diff is
    * always correct.
    */
  def resyncAsFollower(spark: org.apache.spark.sql.SparkSession,
      demotedDir: String, newPrimaryDir: String,
      idCols: Seq[String], orderCols: Seq[Column],
      opCol: String = "op",
      demotedDivergedAfter: Option[Long] = None,
      newPrimaryForkVersion: Option[Long] = None): Long = {
    val (vp, pm) = currentManifest(newPrimaryDir).getOrElse(
      throw new IllegalStateException(
        s"resync: new primary $newPrimaryDir has no committed version"))
    val demoted = currentManifest(demotedDir)
    demoted.foreach { case (_, m) =>
      require(m.condOrderCols.isEmpty && !m.deltasConditional,
        "resyncAsFollower supports sequence stores; a conditional " +
          "store rejoins via reseedAsFollower (compact-and-reseed)")
    }
    val vd = demoted.map(_._1).getOrElse(0L)
    // divergence bound off the two change feeds (None = unbounded →
    // full diff): demoted keys past the delivery fork ∪ new-primary
    // keys past the promotion fork
    val bound: Option[Option[DataFrame]] =
      (demotedDivergedAfter, newPrimaryForkVersion) match {
        case (Some(fd), Some(fp)) =>
          // fork-invariant guards (see the Scaladoc): a future fork is
          // provably a caller error, and a fork newer than what the
          // promotion itself recorded would make the rewind silently
          // partial — the failure mode the full diff cannot have
          if (fd > vd || fp > vp) throw new IllegalArgumentException(
            s"resync: fork versions (demoted $fd, new-primary $fp) lie " +
              s"beyond the stores' current versions ($vd, $vp) — not a " +
              "state either history ever had")
          promotionRecord(newPrimaryDir).foreach { case (dDir, recFd, recFp) =>
            val canonical =
              try new java.io.File(demotedDir).getCanonicalPath
              catch { case _: java.io.IOException => demotedDir }
            if (dDir == canonical && (fd > recFd || fp > recFp))
              throw new IllegalArgumentException(
                s"resync: fork versions (demoted $fd, new-primary $fp) " +
                  s"are NEWER than the promotion-recorded fork ($recFd, " +
                  s"$recFp) of $newPrimaryDir — commits between them " +
                  "would be excluded from the divergence bound and the " +
                  "rewind would be silently partial; pass the recorded " +
                  "fork, or None for the always-correct full diff")
          }
          for {
            a <- feedTouchedKeys(spark, demotedDir, fd, vd, idCols)
            b <- feedTouchedKeys(spark, newPrimaryDir, fp, vp, idCols)
          } yield (a, b) match {
            case (Some(x), Some(y)) => Some(x.unionByName(y).distinct())
            case (x, y) => x.orElse(y)
          }
        case _ => None
      }
    val rewind = bound match {
      case Some(None) => None // provably divergence-free: no rewind row
      case Some(Some(keys)) =>
        // both sides restricted to the candidate keys' buckets — the
        // diff (and its read) is divergence-sized
        val want = readForKeysAt(spark, newPrimaryDir, pm, idCols, keys)
        val have = readReplicaForKeys(spark, demotedDir, idCols, keys)
        (want, have) match {
          case (None, None) => None
          case _ =>
            val ref = want.orElse(have).get
            Some(stateDiff(want.getOrElse(ref.limit(0)),
              have.getOrElse(ref.limit(0)), idCols, opCol))
        }
      case None => // no fork info / feed-incomplete: full-store diff
        val want = readReplicaAt(spark, newPrimaryDir, vp).getOrElse(
          throw new IllegalStateException(
            s"resync: new primary $newPrimaryDir version $vp is unreadable"))
        val have = readReplica(spark, demotedDir).getOrElse(want.limit(0))
        Some(stateDiff(want, have, idCols, opCol))
    }
    rewind.foreach { rw =>
      applyNetToReplica(demotedDir, rw, rw.columns,
        idCols, opCol, DefaultReplicaBuckets, bypassFreeze = true,
        reduceBy = Some(orderCols))
    }
    unfreezeReplica(demotedDir)
    vp
  }

  /** COMPACT-AND-RESEED — the CONDITIONAL store's failover rejoin
    * (the path [[resyncAsFollower]] refuses by design): a conditional
    * store's greatest-order-wins tombstone protection REFUSES exactly
    * the backward state move a rewind is, so a demoted conditional
    * store cannot be converged by a diff merge. Instead its content is
    * REPLACED wholesale by the new primary's snapshot:
    *
    *  1. require the demoted store FENCED ([[freezeReplica]] — the
    *     promotion raised it); reseeding wipes content, so an unfenced
    *     call refuses rather than destroy a store that might still be
    *     taking writes;
    *  2. COMPACT the new primary: pending conditional delta chains
    *     fold and winning deletes MATERIALIZE as tombstone rows, so
    *     the snapshot carries every key's late-loser protection, not
    *     just its live rows (no-op on a healthy store);
    *  3. pin the new primary's post-compaction version — the returned
    *     FEED POSITION the reseeded follower resumes from;
    *  4. wipe the demoted store (its divergent commits lost the
    *     failover — unlike the sequence rewind nothing of them can be
    *     kept) and seed it with ONE conditional merge of the
    *     snapshot: tombstones re-apply as deletes carrying their
    *     stored order values, so they materialize again in the fresh
    *     store and a late below-order batch still loses;
    *  5. lift the fence.
    *
    * Cost is O(new-primary store) — inherent to a reseed (this is
    * pg_basebackup, not pg_rewind); the conditional semantics are WHY
    * the delta path cannot exist, which is the trade the store's
    * out-of-order tolerance bought. Returns the feed position.
    */
  def reseedAsFollower(spark: org.apache.spark.sql.SparkSession,
      demotedDir: String, newPrimaryDir: String,
      idCols: Seq[String], orderCols: Seq[Column],
      opCol: String = "op"): Long = {
    require(new java.io.File(demotedDir).getCanonicalPath !=
      new java.io.File(newPrimaryDir).getCanonicalPath,
      "reseedAsFollower: demoted and new-primary dirs must differ")
    if (replicaFrozen(demotedDir).isEmpty) throw new IllegalStateException(
      s"reseedAsFollower: $demotedDir is not fenced — reseeding wipes " +
        "the store, so freezeReplica it first (promoteFollower already " +
        "does during a failover)")
    compactReplica(spark, newPrimaryDir)
    val (vp, m) = currentManifest(newPrimaryDir).getOrElse(
      throw new IllegalStateException(
        s"reseed: new primary $newPrimaryDir has no committed version"))
    // raw snapshot INCLUDING tombstone rows (keepDeletes): the
    // late-loser protection must survive the reseed
    val snapshot = mergedBucketRead(spark, newPrimaryDir, m, keepDeletes = true)
    // MATERIALIZE the snapshot BEFORE the wipe: the read must succeed
    // while the demoted store still exists — a lazy read executed
    // after the wipe would, on an unreadable new primary (e.g. the
    // disk fault that caused the failover), destroy the only
    // surviving copy and then throw. Total data loss; this ordering
    // makes the failure mode "reseed aborts, demoted store intact".
    val seedMat: Option[(DataFrame, () => Unit)] = snapshot.map { snap =>
      val hasTomb = snap.columns.contains(Tombstone)
      val seed = (if (hasTomb)
        snap.withColumn(opCol,
          when(coalesce(col(Tombstone), lit(false)), "delete")
            .otherwise("update"))
          .drop(Tombstone)
      else snap.withColumn(opCol, lit("update")))
      graft.llm.IndexArtifacts.materializeOwned(spark, seed, "reseed-snap")
    }
    try {
      // wipe the fenced store's content — versions, pointer, staging —
      // keeping only the fence marker (lifted below)
      Option(new java.io.File(demotedDir).listFiles()).getOrElse(Array.empty)
        .filterNot(_.getName == FrozenMarker)
        .foreach(FileUtils.deleteQuietly)
      seedMat.foreach { case (seed, _) =>
        applyNetToReplica(demotedDir, seed,
          seed.columns.toArray, idCols, opCol,
          numBuckets = m.numBuckets,
          conditional = Some(orderCols), bypassFreeze = true,
          reduceBy = Some(orderCols))
      }
    } finally seedMat.foreach(_._2())
    unfreezeReplica(demotedDir)
    vp
  }

  /** DIVERGENCE-sized state diff: the batch that turns `have`'s state
    * into `want`'s — upserts for every `want` row whose content
    * differs from (or is absent in) `have`, deletes for every `have`
    * key `want` no longer holds. The diff spans the UNION of both
    * sides' columns (null-filling whichever side predates a column):
    * a column added AFTER a restore target must roll back to null in
    * the emitted rows, or a feed follower would keep its post-target
    * values while the restored store has none — exactly the silent
    * divergence the feed entry exists to prevent.
    */
  private def stateDiff(want0: DataFrame, have0: DataFrame,
      idCols: Seq[String], opCol: String): DataFrame = {
    val cols = (want0.columns ++ have0.columns).distinct.sorted.toSeq
    // a side's missing column null-fills with the OTHER side's type —
    // a bare NullType column would trip the consumer store's
    // type-change guard when the diff batch merges
    def widen(d0: DataFrame, other: DataFrame): DataFrame =
      cols.filterNot(d0.columns.contains)
        .foldLeft(d0)((d, c) =>
          d.withColumn(c, lit(null).cast(other.schema(c).dataType)))
    val want = widen(want0, have0)
    val have = widen(have0, want0)
    val contentHash = md5(to_json(struct(cols.map(col): _*)))
    val upserts = want.withColumn("__h", contentHash)
      .join(have.select((idCols.map(col) :+
          contentHash.as("__hh")): _*),
        idCols, "left")
      .filter(col("__hh").isNull || col("__hh") =!= col("__h"))
      .drop("__h", "__hh")
      .withColumn(opCol, lit("update"))
    val deletes = have
      .join(want.select(idCols.map(col): _*), idCols, "left_anti")
      .withColumn(opCol, lit("delete"))
    upserts.unionByName(deletes, allowMissingColumns = true)
  }

  /** POINT-IN-TIME RESTORE (the Delta RESTORE analog): make committed
    * version `toVersion`'s content the CURRENT state again via one
    * METADATA-ONLY commit — the new manifest reuses the target
    * version's bucket/delta file references verbatim, so NO data file
    * is read or written at any store size (restoring a 100 TB store
    * costs one manifest). History is preserved: the restore is itself
    * a new version (auditable, itself restorable), and the target's
    * recorded schema/watermark/ordering metadata travel with it —
    * routing included, so a post-`toVersion` reshard rolls back too.
    *
    * `recordChanges = true` additionally writes the restore's CHANGE
    * FEED entry — the divergence-sized diff (current → target) —
    * computed like the failover rewind, so feed followers replay the
    * restore instead of silently diverging. Without it a store that
    * records changes refuses (a silent feed gap poisons every
    * follower).
    *
    * Versions between the target and the restore lose their manifest
    * references at this commit and age out under the normal GC rules —
    * the same contract as any rewrite retiring a version.
    */
  def restoreReplica(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, toVersion: Long,
      recordChanges: Boolean = false,
      /** Run every refusal check, then return WITHOUT committing —
        * the dry-run half of [[restoreConsistentTables]]'s two-phase
        * contract (all refusals before the first commit).
        */
      validateOnly: Boolean = false): Unit = {
    requireUnfrozen(replicaDir)
    val (v, prev) = currentManifest(replicaDir).getOrElse(
      throw new IllegalStateException(
        s"restore: $replicaDir has no committed version"))
    if (toVersion == v) return
    // only committed PREDECESSORS restore: a version dir above CURRENT
    // is a crashed writer's unpublished orphan — restoring "to" it
    // would collide with this commit's own next version name and
    // publish dangling references over the deleted orphan
    if (toVersion > v) throw new IllegalArgumentException(
      s"restore: version $toVersion is ahead of the current version $v " +
        "(an unpublished crashed-writer orphan, not a committed state)")
    val target = readManifest(replicaDir, toVersion).getOrElse(
      throw new IllegalArgumentException(
        s"restore: $replicaDir has no manifest for version $toVersion " +
          "(never committed, GC'd past the retained window, or written " +
          "in an older store format)"))
    // every referenced data path must still exist — a half-GC'd target
    // would publish dangling references
    val missing = missingRefs(replicaDir, target)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"restore: version $toVersion's data was GC'd " +
        s"(missing: ${missing.take(3).mkString(", ")}…)")
    val feedActive = replicaHasFeed(replicaDir)
    if (feedActive && !recordChanges) throw new IllegalStateException(
      s"restore: $replicaDir records a change feed — restore with " +
        "recordChanges = true so followers replay the restore instead " +
        "of silently diverging")
    // a restore feed entry is rewind-shaped: its upserts carry the
    // target's OLDER order values, which a conditional (greatest-
    // order-wins) follower would silently ignore — the same conflict
    // resyncAsFollower refuses
    if (recordChanges &&
        (target.condOrderCols.nonEmpty || target.deltasConditional ||
          prev.condOrderCols.nonEmpty || prev.deltasConditional))
      throw new IllegalStateException(
        "restore: a conditional store's feed followers fold greatest-" +
          "order-wins and would drop the rollback rows — re-seed " +
          "followers from the restored snapshot (reseedAsFollower) " +
          "instead of a restore feed entry")
    if (validateOnly) return
    ReplicaStore.commit(replicaDir, Some((v, prev)), "restore", fenced = true) { txn =>
      if (recordChanges) {
        val opCol = target.opColName
        val ids = target.keyCols
        // DELTA-SIZED when the feed covers (toVersion, current]: the
        // divergence between the target and the current state is bounded
        // by the keys those versions' feed entries touched, so both
        // sides read only the touched keys' buckets ([[readForKeysAt]]
        // pruning — O(rolled-back delta), never O(store)). A version in
        // the range that mutated content outside the feed (erasure,
        // recordChanges=false) falls back to the full diff.
        val bound: Option[DataFrame] =
          feedTouchedKeys(spark, replicaDir, toVersion, v, ids) match {
            case Some(Some(keys)) => Some(keys)
            case Some(None) => // provably identical: empty feed entry
              Some(readReplica(spark, replicaDir)
                .map(_.select(ids.map(col): _*).limit(0))
                .getOrElse(spark.emptyDataFrame))
            case None => None
          }
        // committed-but-empty versions read as None: an empty side is a
        // legitimate diff endpoint (restore-to-empty = all-delete entry)
        val (wantOpt, haveOpt) = bound match {
          case Some(keys) if keys.columns.nonEmpty =>
            (readForKeysAt(spark, replicaDir, target, ids, keys),
              readForKeysAt(spark, replicaDir, prev, ids, keys))
          case Some(_) => (None, None) // empty-schema sentinel: no diff
          case None =>
            (readReplicaAt(spark, replicaDir, toVersion),
              readReplica(spark, replicaDir))
        }
        (wantOpt, haveOpt) match {
          case (None, None) => () // empty → empty: nothing to record
          case _ =>
            val ref = wantOpt.orElse(haveOpt).get
            stateDiff(wantOpt.getOrElse(ref.limit(0)),
              haveOpt.getOrElse(ref.limit(0)), ids, opCol)
              .write.parquet(txn.path("changes"))
        }
      }
      Some(target)
    }
  }

  /** Fail a CURRENT-state read of a store whose INHERITED
    * (shallow-clone, absolute) data references dangle — with the
    * documented recovery, instead of a raw FileNotFoundException
    * surfacing from a scan task. Zero-cost for ordinary stores (their
    * refs are relative — no absolute ref, no existence probe) and
    * O(inherited refs) driver-side `exists` calls for clones.
    */
  private def requireInheritedRefsLive(replicaDir: String,
      m: ReplicaManifest): Unit = {
    val dangling = m.refs.filter(_.startsWith("/"))
      .filterNot(p => new java.io.File(p).exists()).toSeq.sorted
    if (dangling.nonEmpty) throw new IllegalStateException(
      s"replica $replicaDir: ${dangling.size} inherited shallow-clone data " +
        s"reference(s) are DANGLING (first: ${dangling.head}) — the clone " +
        "source GC'd or deleted them. Source commits do not retain " +
        "clone-referenced files; recover by RE-CLONING from the live " +
        "source (clone-local commits are not recoverable), and prevent " +
        "it by materializing promptly (compactReplica) or pinning " +
        "source retention at clone time (pinReplicaRetention)")
  }

  /** Integrity check of the CURRENT manifest's referenced data paths —
    * O(manifest) local existence probes, no data read. Returns the
    * MISSING references as (label, resolved path) pairs, empty when
    * the store is intact. The operational detector for the documented
    * shallow-clone hazard: a clone's inherited ABSOLUTE references
    * point into its source store, and the source's GC knows nothing of
    * clones — ANY source commit's GC (two ordinary merges touching a
    * bucket, not just a compaction) can delete files a live clone
    * still references. Run it after source churn or before trusting a
    * clone; [[readReplica]] raises the same condition with a recovery
    * message instead of a raw scan-time FileNotFoundException.
    */
  def verifyReplicaIntegrity(replicaDir: String): Seq[(String, String)] =
    (for {
      v <- currentVersion(replicaDir)
      m <- readManifest(replicaDir, v)
    } yield {
      val refs =
        m.buckets.toSeq.sortBy(_._1)
          .map { case (b, p) => (s"bucket=$b", p) } ++
          m.deltas.toSeq.sortBy(_._1)
            .flatMap { case (b, ps) => ps.map(p => (s"delta bucket=$b", p)) }
      refs.collect {
        case (label, p)
            if !new java.io.File(resolveStorePath(replicaDir, p)).exists() =>
          (label, resolveStorePath(replicaDir, p))
      }
    }).getOrElse(Seq.empty)

  /** FSCK — the store doctor: audit a replica's physical and logical
    * invariants in ONE metadata-cost pass and return findings as
    * (check, severity, subject, detail) rows (empty = healthy). What a
    * 100 TB operator runs before trusting a store, after an incident,
    * or on a schedule; it unifies the point checks the engine already
    * enforces lazily (a dangling clone ref fails at read time, a feed
    * gap at drain time, a stale GSI cursor at maintenance time) into
    * one proactive report. Checks — all O(versions + manifest refs)
    * driver-side metadata, no data rows read:
    *
    *  - `current_pointer` (error): CURRENT names a version dir with a
    *    manifest in the current store format (an older one names
    *    [[upgradeReplica]]);
    *  - `dangling_ref` (error): a current-manifest bucket/delta path
    *    does not exist ([[verifyReplicaIntegrity]] — the shallow-clone
    *    churn hazard, or manual deletion);
    *  - `empty_bucket_dir` (warn): a referenced bucket dir exists but
    *    holds no parquet file (half-deleted data);
    *  - `schema` (error): the manifest, its recorded schema included,
    *    fails to parse;
    *  - `conditional_meta` (error): deltas are marked conditional but
    *    no order columns are recorded;
    *  - `delta_sequence` (error): a bucket's delta chain is not in
    *    strictly increasing version order (fold order would be
    *    ambiguous);
    *  - `feed_gap` (warn): a committed version INSIDE the retained
    *    feed range has neither a feed surface nor a manifest to
    *    classify it (pre-retention GC) — consumers positioned before
    *    it will refuse;
    *  - `orphan_version` (info): a claimed-but-unpublished version dir
    *    above CURRENT (a crashed writer; renamed aside by the next
    *    commit);
    *  - `stale_lock` (warn): the commit lock is older than the 60 s
    *    stale-break horizon (a crashed writer died holding it);
    *  - `stale_debris` (info): staging/GC-aside/broken-lock leftovers
    *    older than the hour sweep horizon;
    *  - `frozen` (info) and `retention_pin` (info): operational state
    *    a reader should know about;
    *  - per `indexDirs` entry: `index_cursor_missing` (error),
    *    `index_ahead` (error — cursor above the primary's CURRENT:
    *    the index claims commits the primary does not have),
    *    `index_lag` (warn — maintenance owed).
    *
    * ADVISORY ON A LIVE STORE: with an active writer, the wall-clock
    * checks (`stale_lock`, `stale_debris`) and the mid-commit-window
    * checks (`orphan_version`, a CURRENT-adjacent dir race) can fire
    * transiently on a perfectly healthy store — a lock is "stale" only
    * if its writer is actually dead, which one metadata pass cannot
    * know. (A cross-table atomic fan-out's PREPARED version —
    * [[fanOutToReplicasAtomic]], claimed but pending its flip — also
    * reads as `orphan_version` while its transaction is in flight.) Treat error-severity structural findings (dangling refs,
    * schema, delta order, index_ahead) as actionable always; treat the
    * time-based and liveness findings as a prompt to re-run quiesced
    * before acting.
    */
  def fsckReplica(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, indexDirs: Seq[String] = Nil): DataFrame = {
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, String)]
    def add(check: String, sev: String, subject: String, detail: String): Unit =
      out += ((check, sev, subject, detail))
    val cur = try Right(currentVersion(replicaDir)) catch {
      case e: DanglingCurrentException => Left(e)
    }
    cur match {
      case Left(e) => add("current_pointer", "error", e.name, e.getMessage)
      case Right(None) =>
        add("current_pointer", "error", replicaDir,
          "no CURRENT pointer — nothing was ever committed, or the " +
            "pointer file was deleted")
      case Right(Some(v)) =>
        val name = versionName(v)
        (try Right(readManifest(replicaDir, v)) catch {
          case e: Exception => Left(e)
        }) match {
          case Left(e) =>
            add("schema", "error", name,
              s"manifest does not parse: ${e.getMessage}")
          case Right(None) =>
            add("current_pointer", "error", name, olderFormat(replicaDir, v))
          case Right(Some(m)) =>
            if (m.deltasConditional && m.condOrderCols.isEmpty)
              add("conditional_meta", "error", name,
                "deltas marked conditional but no order columns recorded")
            // referenced paths exist
            verifyReplicaIntegrity(replicaDir).foreach { case (label, p) =>
              add("dangling_ref", "error", label, s"missing: $p")
            }
            // referenced bucket dirs actually hold parquet
            m.buckets.foreach { case (b, p) =>
              val d = new java.io.File(resolveStorePath(replicaDir, p))
              if (d.isDirectory && !Option(d.listFiles()).getOrElse(Array.empty)
                  .exists(f => f.isFile && f.getName.endsWith(".parquet")))
                add("empty_bucket_dir", "warn", s"bucket=$b",
                  s"referenced dir holds no parquet file: $p")
            }
            // delta chains strictly increasing by version segment
            m.deltas.foreach { case (b, ps) =>
              val seq = ps.flatMap(owningVersion)
              if (seq.sliding(2).exists(w => w.length == 2 && w(0) >= w(1)))
                add("delta_sequence", "error", s"bucket=$b",
                  s"delta chain not strictly version-ordered: $seq")
            }
        }
        // feed contiguity over the retained range
        val fv = feedVersions(replicaDir)
        if (fv.nonEmpty) {
          val lo = fv.min
          (lo to v).filterNot(fv.toSet).foreach { missing =>
            add("feed_gap", "warn", versionName(missing),
              "committed version inside the retained feed range has " +
                "neither a feed surface nor a manifest to classify it — " +
                "consumers positioned before it will refuse the drain")
          }
        }
        // orphans above CURRENT
        replicaVersions(replicaDir).filter(_ > v).foreach { o =>
          add("orphan_version", "info", versionName(o),
            "claimed-but-unpublished version above CURRENT (crashed " +
              "writer); the next commit renames it aside")
        }
    }
    // lock + debris + operational state
    if (lockStale(replicaDir))
      add("stale_lock", "warn", LockFile,
        "older than the 60 s stale-break horizon — a crashed writer " +
          "died holding it; the next commit breaks it")
    val now = System.currentTimeMillis()
    Option(new java.io.File(replicaDir).listFiles()).getOrElse(Array.empty)
      .filter(isStaleDebris(_, now))
      .foreach(f => add("stale_debris", "info", f.getName,
        "crashed-writer leftover older than the sweep horizon"))
    replicaFrozen(replicaDir).foreach(r =>
      add("frozen", "info", replicaDir, s"writes fenced: $r"))
    retentionPin(replicaDir).foreach(p =>
      add("retention_pin", "info", replicaDir,
        s"GC floor pinned at ${versionName(p)} — version dirs at or above it " +
          "are never swept"))
    // GSI cursors vs the primary's CURRENT (none to compare against
    // while CURRENT dangles)
    if (cur.isRight) indexDirs.foreach { idx =>
      SecondaryIndex.appliedPrimaryVersion(idx) match {
        case None =>
          add("index_cursor_missing", "error", idx,
            "index store records no applied-primary-version cursor")
        case Some(applied) =>
          val pv = cur.toOption.flatten.getOrElse(0L)
          if (applied > pv)
            add("index_ahead", "error", idx,
              s"cursor at $applied but primary CURRENT is $pv — the " +
                "index claims commits the primary does not have")
          else if (applied < pv &&
              !contentIdenticalRange(replicaDir, applied, pv))
            add("index_lag", "warn", idx,
              s"cursor at $applied, primary at $pv — maintenance owed " +
                s"for versions ${applied + 1}..$pv")
      }
    }
    out.toSeq.toDF("check", "severity", "subject", "detail")
  }

  /** PIN the store's GC floor: version dirs numbered `fromVersion` or
    * above survive every commit's post-flip GC until [[unpinReplicaRetention]]
    * — the clone-aware retention knob. A shallow clone's inherited
    * references live in its source's version dirs, which the source's
    * own GC sweeps after one commit of grace; pinning the source at
    * the cloned version keeps every file the clone can reference alive
    * while the clone materializes. Use [[retentionFloorFor]] to derive
    * `fromVersion` for a clone fork — the fork manifest references
    * OLDER dirs for carried-over buckets, so the fork version number
    * alone is NOT a safe floor. One metadata sidecar, read once per
    * commit — no effect on the data path.
    */
  def pinReplicaRetention(replicaDir: String, fromVersion: Long): Unit = {
    val dir = java.nio.file.Paths.get(replicaDir)
    java.nio.file.Files.createDirectories(dir)
    AtomicFiles.replaceJson(dir.resolve("_retain.json"),
      Json.createObjectNode().put("retainFromVersion", fromVersion))
  }

  /** The GC floor that protects EVERYTHING version `version`'s
    * manifest references: the MINIMUM version-dir number among its
    * bucket/delta refs (a manifest references OLDER dirs for
    * carried-over buckets, so pinning at the version number itself
    * would still let the churn GC the carried-over files). Pass the
    * result to [[pinReplicaRetention]] when protecting a shallow
    * clone's fork. Metadata-only (one manifest read).
    */
  def retentionFloorFor(replicaDir: String, version: Long): Long = {
    val m = readManifest(replicaDir, version).getOrElse(
      throw new IllegalArgumentException(
        s"retentionFloorFor: $replicaDir has no manifest for version " +
          s"$version"))
    (m.refs.flatMap(owningVersion) :+ version).min
  }

  /** Drop the [[pinReplicaRetention]] pin; the next commit's GC sweeps
    * normally. */
  def unpinReplicaRetention(replicaDir: String): Unit = {
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(replicaDir, "_retain.json"))
    ()
  }

  private[streaming] def retentionPin(replicaDir: String): Option[Long] =
    ReplicaStore.retentionPin(replicaDir)

  /** SHALLOW CLONE (the Delta `CREATE TABLE … SHALLOW CLONE` analog):
    * make `cloneDir` an independent store whose initial version
    * REFERENCES the source's current data files by absolute path —
    * ONE metadata commit, zero data read or written, so cloning a
    * 100 TB store costs one manifest. Writes to the clone are
    * copy-on-write for free: a merge rewrites only its touched
    * buckets (into the clone's own version dirs) and carries
    * untouched buckets' absolute source references forward;
    * [[compactReplica]] doubles as MATERIALIZE (absolute-referenced
    * buckets never start with the current version name, so the
    * fragmented-bucket rewrite localizes them). The clone's version
    * numbering starts at source-current + 1, which keeps the deferred
    * fold's path-derived delta sequence monotonic: an inherited
    * source delta always loses to a clone-local delta. Clones chain
    * (a clone of a clone copies already-absolute references as-is).
    *
    * CONTRACTS (the same ones Delta documents for shallow clones):
    *  - the clone depends on the source's files, and ANY source commit
    *    can break it: the store GCs on EVERY commit with one
    *    version of grace, so two ordinary source merges touching a
    *    bucket delete files the clone still references — not just a
    *    compaction or erasure. Clone-side GC can never delete source
    *    files (absolute references are invisible to the local
    *    version-dir sweep), but the source's GC knows nothing of
    *    clones. Either materialize promptly ([[compactReplica]]), or
    *    pin the source's GC floor at the cloned version for the
    *    clone's grace period ([[pinReplicaRetention]]);
    *    [[verifyReplicaIntegrity]] detects a clone gone dangling, and
    *    [[readReplica]] refuses one with the recovery spelled out;
    *  - erasure on a clone erases the CLONE's view only (touched
    *    buckets rewrite locally; the purge deletes local historical
    *    copies). The source store holds its own copy of the data and
    *    must be erased separately — clones are enumerated compliance
    *    surfaces, exactly like any other downstream copy;
    *  - the clone starts its OWN change feed: its initial version has
    *    no changes entry (kind "clone" — [[readReplicaChanges]]
    *    refuses to drain across it), so feed consumers seed from a
    *    snapshot at the clone version and drain from it exclusive.
    *
    * `atVersion` clones a COMMITTED HISTORICAL version instead of
    * CURRENT (time-travel branch — rehearse a backfill from last
    * week's state without a restore): same one-manifest cost, same
    * validation as RESTORE (the version's manifest and every
    * referenced data file must still exist), and the clone's version
    * numbering still starts above the source's CURRENT version, so
    * the delta-sequence monotonicity argument is independent of which
    * version was cloned.
    *
    * Returns the clone's initial version number.
    */
  def cloneReplica(sourceDir: String, cloneDir: String,
      atVersion: Option[Long] = None): Long = {
    val srcAbs = new java.io.File(sourceDir).getAbsolutePath
    val (curV, curM) = currentManifest(srcAbs).getOrElse(
      throw new IllegalStateException(
        s"cloneReplica: source $sourceDir has no committed version"))
    val (v, m) = atVersion match {
      case None => (curV, curM)
      case Some(av) =>
        // same rule as RESTORE: only committed predecessors — a dir
        // above CURRENT is a crashed writer's unpublished orphan
        if (av > curV) throw new IllegalArgumentException(
          s"cloneReplica: version $av is ahead of the current version " +
            s"$curV (an unpublished crashed-writer orphan, not a " +
            "committed state)")
        (av, readManifest(srcAbs, av).getOrElse(
          throw new IllegalStateException(s"cloneReplica: source " +
            s"$sourceDir has no manifest for version $av (never " +
            "committed, GC'd past the retained window, or written in an " +
            "older store format)")))
    }
    // every referenced data path must still exist — a clone of a
    // half-GC'd historical version would publish dangling references
    val missing = missingRefs(srcAbs, m)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"cloneReplica: version $v's data was GC'd " +
        s"(missing: ${missing.take(3).mkString(", ")}…)")
    // Refuse only a PUBLISHED store (CURRENT exists): version dirs
    // without a pointer are a crashed clone's unpublished debris —
    // the commit renames the orphan aside, so the documented crash
    // recovery is simply "re-run cloneReplica; if CURRENT already
    // exists the clone committed and recovery is a no-op"
    // (CommitFaultSweepSpec drives all three crash points).
    if (currentVersion(cloneDir).nonEmpty)
      throw new IllegalStateException(
        s"cloneReplica: $cloneDir already holds a store — clone targets " +
          "must be fresh (an in-place overwrite racing readers has no " +
          "safe ordering)")
    new java.io.File(cloneDir).mkdirs()
    def abs(p: String): String = if (p.startsWith("/")) p else s"$srcAbs/$p"
    // numbering is keyed to the source's CURRENT (not the cloned
    // version): every inherited delta path's segment is <= curV, so
    // clone-local deltas always outrank inherited ones
    ReplicaStore.commit(cloneDir, None, "clone", version = Some(curV + 1)) { txn =>
      // provenance sidecar rides in the version dir: atomic with the
      // commit, auditable for the store's lifetime — when data GC
      // retires the (data-less) clone-initial dir, the sidecar moves to
      // `_feed/<vname>/` with the rest of the feed surface, so
      // [[describeReplicaHistory]] and the idempotent-retry provenance
      // match keep working after GC. Jackson-serialized: a source path
      // containing a quote or backslash must round-trip (raw
      // interpolation produced invalid JSON there and broke the
      // crash-retry match).
      AtomicFiles.replaceJson(java.nio.file.Paths.get(txn.path("_clone.json")),
        Json.createObjectNode().put("source", srcAbs).put("sourceVersion", v))
      Some(m.copy(buckets = m.buckets.map { case (k, p) => k -> abs(p) },
        deltas = m.deltas.map { case (k, ps) => k -> ps.map(abs) }))
    }
    curV + 1
  }

  /** CONSISTENT multi-table shallow clone: branch N per-table
    * replicas — which lag the source independently — at ONE source
    * moment. The global point is [[readConsistentSnapshot]]'s rule
    * (min over tables of each table's newest recorded watermark); each
    * table clones the newest committed version whose watermark is at
    * or below it (the laggard clones CURRENT, fast tables clone the
    * matching older version the GC grace window keeps readable). Cost:
    * O(tables) manifest metadata + one manifest write per table — a
    * transactionally consistent branch of a whole multi-table CDC
    * deployment for the price of N small files. Refuses BEFORE any
    * commit when a table has no watermarked version or cannot serve
    * the point (same conditions as the consistent read). Returns the
    * watermark point the clones were cut at.
    */
  def cloneConsistentTables(tables: Seq[(String, String)]): Long = {
    // every table's version resolves BEFORE the first commit: a table
    // that cannot serve the point must abort the whole composition
    // with nothing published
    val (point, vs) = consistentVersions(tables.map(_._1), "clone")
    tables.zip(vs).foreach { case ((src, dst), v) => cloneOrSkip(src, dst, v) }
    point
  }

  /** CONSISTENT multi-table RESTORE — the rollback twin of
    * [[cloneConsistentTables]]: roll N per-table replicas — which lag
    * the source independently — back to ONE source moment. The global
    * point defaults to [[readConsistentSnapshot]]'s rule (min over
    * tables of each table's newest recorded watermark) and can be
    * pinned explicitly (`atWatermark`) for a deeper rollback. Each
    * table restores to its newest committed version whose watermark is
    * at or below the point — N metadata-only [[restoreReplica]]
    * commits, O(tables) manifest metadata total.
    *
    * TWO-PHASE: every table's restore is first DRY-RUN validated
    * (point servability, GC'd target data, frozen fence, feed
    * contract), so a table that cannot serve the point aborts the
    * whole composition before anything is published. A crash between
    * the commit-phase restores recovers by RE-RUNNING with the same
    * explicit point: an already-restored table picks its own restore
    * version (same watermark) and no-ops, the rest complete — the
    * idempotent-retry shape of the composed clones. Returns the
    * watermark point the fleet was rolled back to.
    *
    * QUIESCENCE ASSUMPTION: the "every refusal before the first
    * commit" contract holds for a SINGLE operator over a quiesced
    * fleet. A freeze or concurrent commit landing between the
    * validation pass and a table's commit still aborts mid-fleet
    * (every commit re-checks the fence inside the commit lock —
    * correctly: the late fence wins). Recovery for such a mid-fleet
    * abort is the same retry-at-the-explicit-point path documented
    * above for crashes: resolve the contention, re-run with the same
    * `atWatermark`, restored tables no-op.
    */
  def restoreConsistentTables(spark: org.apache.spark.sql.SparkSession,
      tables: Seq[String], atWatermark: Option[Long] = None,
      recordChanges: Boolean = false): Long = {
    val (point, vs) = consistentVersions(tables, "restore", atWatermark)
    val picks = tables.zip(vs)
    picks.foreach { case (src, v) =>
      restoreReplica(spark, src, v, recordChanges, validateOnly = true)
    }
    picks.foreach { case (src, v) =>
      restoreReplica(spark, src, v, recordChanges)
    }
    point
  }

  /** Clone `src`@`atVersion` into `dst`, SKIPPING a target that is
    * this exact clone's own durable commit — provenance must match the
    * (source, version) PAIR, not just the source: a source that
    * advanced between a crash and the retry would otherwise pass the
    * path check and silently re-label stale content as current. The
    * idempotent-retry primitive of the composed clones
    * ([[cloneConsistentTables]], [[SecondaryIndex.cloneIndexedReplica]]).
    */
  private[streaming] def cloneOrSkip(src: String, dst: String,
      atVersion: Long): Unit = {
    val sAbs = new java.io.File(src).getAbsolutePath
    currentVersion(dst) match {
      case Some(v) =>
        if (!cloneProvenance(dst, v).contains((sAbs, atVersion)))
          throw new IllegalStateException(
            s"cloneOrSkip: $dst already holds a store that is not this " +
              s"clone of $src@$atVersion — if a crashed composition left " +
              "it behind and the source has since advanced, delete the " +
              "partial targets and re-clone")
      case None => cloneReplica(sAbs, dst, atVersion = Some(atVersion)); ()
    }
  }

  /** The `_clone.json` provenance a [[cloneReplica]] initial version
    * recorded — (absolute source path, source version) — None for any
    * other version. The idempotent-retry check of composed clones
    * ([[SecondaryIndex.cloneIndexedReplica]]) keys on this: a target
    * whose CURRENT version carries provenance for the same source is
    * a crash-recovered clone, not a conflicting store.
    */
  def cloneProvenance(replicaDir: String, version: Long): Option[(String, Long)] = {
    // the live version dir first; after data GC retired the dir, the
    // sidecar lives with the rest of the feed surface under `_feed`
    Seq(versionDir(replicaDir, version), retiredDir(replicaDir, version))
      .map(new java.io.File(_, "_clone.json")).find(_.exists())
      .flatMap(f => AtomicFiles.readJson(f.toPath))
      .flatMap(n => for (src <- textField(n, "source");
          sv <- longField(n, "sourceVersion")) yield (src, sv))
  }

  /** REFRESH an UNdiverged shallow clone to its source's CURRENT state
    * (the Delta `CREATE OR REPLACE … CLONE` analog, priced as a CDC
    * catch-up instead of a re-clone): drain the source's change feed
    * from the fork point the clone provenance recorded into the clone
    * in ONE catch-up merge — O(changed keys since the fork), zero full
    * re-copy, and the clone keeps its own version history. Requires a
    * feed-recording source (a source version the feed never carried
    * refuses inside [[readReplicaChanges]] with the re-seed recovery).
    *
    * DIVERGENCE REFUSAL, metadata-exact: replaying source changes over
    * a clone that committed its own writes would silently interleave
    * two histories, so every clone commit after the clone-initial
    * version must be a prior refresh's own commit (kind "refresh" —
    * stamped by this method) or content-identical maintenance
    * ([[IdenticalKinds]], so a MATERIALIZED clone still refreshes).
    * Anything else refuses before any commit. O(versions) manifest
    * metadata; GC-retired versions classify via their `_feed` meta.
    *
    * The applied-source-version cursor (`_refresh.json`) advances
    * AFTER the catch-up commit; a crash between the two re-replays an
    * already-applied range on retry, which is harmless — a feed net
    * re-applied over the state it produced is idempotent (same
    * last-writer outcome), the same property follower re-drains rely
    * on. Returns the source version the clone is now caught up to.
    */
  def refreshClone(spark: org.apache.spark.sql.SparkSession,
      cloneDir: String, idCols: Seq[String], orderCols: Seq[Column],
      recordChanges: Boolean = false,
      conditionalApply: Boolean = false): Long = {
    val versions = feedVersions(cloneDir)
    val initial = versions
      .find(v => cloneProvenance(cloneDir, v).isDefined)
      .getOrElse(throw new IllegalStateException(
        s"refreshClone: $cloneDir records no clone provenance — " +
          "not a shallow clone (or its ancestry was truncated)"))
    val (srcDir, srcForkV) = cloneProvenance(cloneDir, initial).get
    val foreign = versions.filter(_ > initial).filter { v =>
      !commitKindOf(cloneDir, v).exists(k => k == "refresh" || IdenticalKinds(k))
    }
    if (foreign.nonEmpty) throw new IllegalStateException(
      s"refreshClone: clone $cloneDir DIVERGED from $srcDir — version(s) " +
        s"${foreign.mkString(",")} are clone-local commits, and replaying " +
        "source changes over them would interleave two histories; keep " +
        "the branch as-is, or discard it and re-clone")
    val applied = refreshCursor(cloneDir).getOrElse(srcForkV)
    val newApplied = replayFeedInto(spark, srcDir, cloneDir, idCols,
      orderCols, fromVersionExclusive = applied,
      recordChanges = recordChanges, conditionalApply = conditionalApply,
      kind = "refresh")
    if (newApplied != applied)
      AtomicFiles.replaceJson(java.nio.file.Paths.get(cloneDir, "_refresh.json"),
        Json.createObjectNode().put("source", srcDir)
          .put("appliedSourceVersion", newApplied))
    newApplied
  }

  /** The last source version a [[refreshClone]] applied — None before
    * the first refresh (the fork point from provenance applies). */
  private[streaming] def refreshCursor(cloneDir: String): Option[Long] =
    AtomicFiles.readJson(java.nio.file.Paths.get(cloneDir, "_refresh.json"))
      .flatMap(longField(_, "appliedSourceVersion"))

  /** Row count of the parquet files under `path` (a file, or a dir of
    * files) straight off their FOOTERS — driver-local metadata IO,
    * zero Spark jobs. DESCRIBE HISTORY prices V versions' feed entries
    * and written files through this; spinning up a count JOB per
    * version (the previous shape) cost ~100 ms of scheduling each and
    * made the "metadata-priced" claim only half true.
    */
  // one Configuration for every footer read: constructing it loads the
  // Hadoop XML config chain (~10 ms) — per-call construction made the
  // footer path as slow as the count jobs it replaced
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  private def footerRowCount(path: String): Long = {
    val root = new java.io.File(path)
    val files =
      if (root.isFile) Seq(root)
      else Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), footerConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** DESCRIBE HISTORY (the Delta analog): one row per version with
    * any surviving surface — live version dirs plus versions data GC
    * retired into `_feed`. Columns: the commit kind (null for a version
    * whose manifest is in an older store format), the recorded
    * source watermark, the change rows its feed entry carries (null
    * when the feed never carried it), `rows_written` /
    * `buckets_changed` derived from the version's OWN manifest refs
    * (never null while the manifest lives — a recordChanges=false
    * merge or a compaction is priced by what it physically wrote, and
    * a metadata-only clone/restore prices 0), whether it is CURRENT,
    * and the clone provenance if the version was a [[cloneReplica]].
    * Cost: O(versions) manifest metadata + parquet FOOTER row counts
    * (no data rows read) — a store audit priced at metadata no matter
    * the store size.
    */
  def describeReplicaHistory(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String): DataFrame = {
    import spark.implicits._
    val curV = currentVersion(replicaDir)
    // every version with ANY surviving surface: live dirs (manifests)
    // plus versions data GC retired into `_feed` — so the audit log
    // keeps pricing commits (kind, watermark, feed counts, clone
    // provenance) after their data aged out, and a clone's ancestry
    // row survives the GC of its data-less initial dir
    val rows = feedVersions(replicaDir).map { v =>
      val m = readManifest(replicaDir, v)
      val kind = m.map(_.commitKind)
        .orElse(feedMeta(replicaDir, v).flatMap(_._1))
      val wm = replicaWatermark(replicaDir, v)
      val changeRows: Option[Long] =
        feedChangesDir(replicaDir, v).map(d => footerRowCount(d.toString))
      // MANIFEST-DIFF pricing for versions the feed never carried
      // (recordChanges=false merges, compactions, clones, restores):
      // the files a version WROTE are exactly its manifest refs living
      // under its own version dir — no predecessor manifest needed, so
      // the diff survives the predecessor's GC. rows_written comes
      // from those files' parquet FOOTER counts (zero-column scan),
      // buckets_changed from the manifest key sets — both metadata-
      // priced at any store size. A metadata-only commit (clone,
      // restore) correctly prices 0/0; a retired version (manifest
      // gone) prices null.
      def own(p: String) = owningVersion(p).contains(v)
      val ownBuckets = m.map(mm =>
        mm.buckets.filter { case (_, p) => own(p) }.keySet ++
          mm.deltas.filter { case (_, ps) => ps.exists(own) }.keySet)
      val ownRefs = m.toSeq.flatMap(_.refs).filter(own)
      val rowsWritten: Option[Long] = m.map(_ =>
        ownRefs.map(p => footerRowCount(resolveStorePath(replicaDir, p))).sum)
      val cloneSrc = cloneProvenance(replicaDir, v)
        .map { case (src, sv) => s"$src@v$sv" }
      (v, kind, wm, changeRows, rowsWritten,
        ownBuckets.map(_.size.toLong), curV.contains(v), cloneSrc)
    }
    rows.toDF("version", "kind", "watermark", "change_rows",
      "rows_written", "buckets_changed", "is_current", "clone_provenance")
  }

  /** Compact the live replica: rewrite into one fresh version every
    * bucket that is either MULTI-FILE (more than `targetFilesPerBucket`
    * parquet files — small-file read amplification) or CARRIED OVER
    * from an older version dir (version sprawl: a bucket untouched for
    * N batches pins its N-batches-old version directory alive, so the
    * version-dir count — and the GC floor — grows with update skew).
    * One job — rows hash-route by bucket id, so each bucket lands in
    * one task and one output file. Content-identical to the
    * pre-compaction replica; after the flip the manifest references a
    * single version dir and everything older becomes GC-able as soon
    * as the previous-version reader grace expires. Cost is
    * O(rewritten buckets), not O(versions).
    *
    * `tombstoneHorizon` is the tombstone AGE-OUT policy the
    * order-conditional merge defers to (the Cassandra `gc_grace` /
    * Kafka-compaction `delete.retention.ms` analog): a predicate over
    * the stored row's order columns that is true exactly when NO
    * late batch carrying a lower order value can still arrive — the
    * caller's out-of-order delivery bound. Buckets holding expired
    * tombstones join the rewrite set and the rewrite DROPS those rows;
    * after that, a below-horizon update for the key would resurrect
    * it, which is precisely the contract the horizon asserts cannot
    * happen. Finding expired tombstones is one column-pruned scan of
    * (tombstone flag + order columns) across the store — the full
    * sweep any tombstone GC pays, run at compaction cadence, never
    * per merge.
    */
  def compactReplica(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, targetFilesPerBucket: Int = 1,
      tombstoneHorizon: Option[Column] = None): Unit = {
    import org.apache.spark.sql.functions.lit
    val (v, m) = currentManifest(replicaDir).getOrElse(return)
    def parquetFiles(p: String): Int =
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val fragmented = m.buckets.filter { case (_, p) =>
      !p.startsWith(versionName(v) + "/") ||
        parquetFiles(resolveStorePath(replicaDir, p)) > targetFilesPerBucket
    }
    // rewritten buckets refresh their recorded tombstone mins (a
    // one-job agg over the files just written); the rest keep theirs
    def rewriteBuckets(k: Set[Int], folded: Option[DataFrame])(
        write: ReplicaStore.Txn => Unit): Unit =
      ReplicaStore.commit(replicaDir, Some((v, m)), "compact") { txn =>
        write(txn)
        Some(txn.rewritten(spark, m, k, folded, minsBy = m.condOrderCols))
      }
    // MERGE-ON-READ fold: every bucket with pending deltas (plus the
    // usual fragmented set) rewrites as a fresh single-file base
    // bucket; delta lists drop from the manifest in the same commit.
    // keepDeletes keeps the rewrite content-faithful: a conditional
    // store's delete-winners materialize as tombstone rows (their
    // late-loser protection must survive the fold), and fragmented
    // buckets' stored tombstones pass through untouched.
    if (m.deltas.nonEmpty) {
      val rewriteKeys: Set[Int] = m.deltas.keySet ++ fragmented.keys
      val routeBy = pmod(hash(m.routing.map(col): _*), lit(m.numBuckets))
      val folded = mergedBucketRead(spark, replicaDir, m, rewriteKeys,
        keepDeletes = true)
      rewriteBuckets(rewriteKeys, folded) { txn =>
        folded.foreach { r =>
          r.withColumn("__bucket", routeBy)
            .repartition(math.max(rewriteKeys.size, 1), col("__bucket"))
            .write.partitionBy("__bucket").parquet(txn.path("data"))
        }
      }
      return
    }
    // replicas that never merged conditionally carry no tombstone
    // column — the sweep is skipped without reading any data. Buckets
    // written before the store's first conditional merge lack the
    // column, so the sweep reads every bucket THROUGH the union schema
    // (absent columns null-fill)
    val expiredTombstone = tombstoneHorizon
      .filter(_ => m.schema.fieldNames.contains(Tombstone))
      .map(h => coalesce(col(Tombstone), lit(false)) && h)
    val expired: Set[Int] = (tombstoneHorizon, expiredTombstone) match {
      case (Some(h), Some(pred)) =>
        // detection is an O(manifest) predicate over the recorded
        // per-bucket min tombstone orders — no bucket file is read. A
        // horizon over non-order columns falls back to the full
        // column-pruned sweep, per call (the mins stay keyed by the
        // order columns every merge path refreshes them under).
        expiredFromMeta(spark, m, h).getOrElse {
          m.buckets.toSeq.sortBy(_._1)
            .map { case (k, p) =>
              spark.read.schema(m.schema)
                .parquet(resolveStorePath(replicaDir, p))
                .agg(max(coalesce(pred, lit(false))).as("__x"))
                .withColumn("__bucket", lit(k))
            }
            .reduce(_.unionByName(_))
            .select(col("__bucket"), col("__x"))
            .collect()
            .collect { case r if !r.isNullAt(1) && r.getBoolean(1) => r.getInt(0) }
            .toSet
        }
      case _ => Set.empty
    }
    val rewrite = fragmented ++ m.buckets.filter { case (k, _) => expired(k) }
    if (rewrite.isEmpty) return
    // content-identical rewrite (minus aged-out tombstones): the union
    // schema carries over, and a bucket the GC emptied drops out
    rewriteBuckets(rewrite.keySet, None) { txn =>
      rewrite.toSeq.sortBy(_._1)
        .map { case (k, p) =>
          spark.read.parquet(resolveStorePath(replicaDir, p))
            .withColumn("__bucket", lit(k)) }
        .reduce(_.unionByName(_, allowMissingColumns = true))
        .transform(df => expiredTombstone match {
          // null-safe: a null-order tombstone evaluates the horizon to
          // null — it is RETAINED (its late-loser protection can't be
          // judged expired), not silently dropped by three-valued filter
          case Some(pred) => df.filter(!coalesce(pred, lit(false)))
          case None => df
        })
        .repartition(rewrite.size, org.apache.spark.sql.functions.col("__bucket"))
        .write.partitionBy("__bucket").parquet(txn.path("data"))
    }
  }

  /** Metadata-driven maintenance policy — the call a `foreachBatch`
    * sink makes after every commit, cheap until it trips. Decides from
    * the CURRENT manifest alone (O(manifest), no data read):
    *
    *  - pending merge-on-read delta chains are HEALTHY below
    *    `maxDeltas` — folding them eagerly would defeat the deferred
    *    write's latency win — and trip a compaction once any bucket's
    *    chain reaches the threshold (the fold cost readers pay grows
    *    with chain length);
    *  - without pending deltas, delegate to [[compactReplica]]'s own
    *    fragmentation / carried-over / tombstone-horizon logic (which
    *    no-ops cheaply on a healthy store).
    *
    * Returns true when a compaction actually committed a new version.
    */
  def maintainReplica(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, maxDeltas: Int = 8,
      targetFilesPerBucket: Int = 1,
      tombstoneHorizon: Option[Column] = None): Boolean = {
    val (v, m) = currentManifest(replicaDir).getOrElse(return false)
    val chains = m.deltas.values.map(_.size)
    // no pending deltas: the auto-maintenance cadence (the sink calls
    // this after EVERY commit) must be a near-no-op on a healthy store
    // — gate on real fragmentation (multi-file buckets; a dir-stat
    // walk, no data read) and metadata-decided tombstone expiry, NOT
    // compactReplica's carried-over rule, which would rewrite every
    // bucket not referenced from the current version dir after every
    // micro-batch
    def dueNoDeltas = m.buckets.exists { case (_, p) =>
      Option(new java.io.File(resolveStorePath(replicaDir, p)).listFiles())
        .getOrElse(Array.empty)
        .count(f => f.isFile && f.getName.endsWith(".parquet")) >
        targetFilesPerBucket
    } || tombstoneHorizon.exists { h =>
      m.schema.fieldNames.contains(Tombstone) &&
        // a horizon over non-order columns can't be decided from the
        // recorded mins: compactReplica runs its pruned sweep, per call
        expiredFromMeta(spark, m, h).map(_.nonEmpty).getOrElse(true)
    }
    if (chains.isEmpty && !dueNoDeltas) false
    else if (chains.nonEmpty && chains.max < maxDeltas) false
    else {
      compactReplica(spark, replicaDir, targetFilesPerBucket,
        tombstoneHorizon)
      currentVersion(replicaDir).exists(_ > v)
    }
  }

  /** ONLINE BUCKET-COUNT MIGRATION (the HBase region-split / Kafka
    * partition-expansion analog for the replica store). The bucket
    * count is pinned at replica creation — correct for routing, but a
    * store sized for day-1 keys eventually holds buckets too big for
    * one task (or one executor's memory) at merge and compaction time;
    * resharding is the only cure. Doing it as a NORMAL versioned
    * commit keeps it online: the current state rewrites into a fresh
    * version routed by `pmod(hash(idCols), newNumBuckets)` and the
    * manifest's `numBuckets` flips in the same atomic rename, so
    * readers that already hold the old manifest keep resolving old
    * buckets (version dirs survive the reader-grace GC window),
    * late-arriving readers resolve the new layout, and a concurrent
    * merge loses the optimistic-concurrency commit race and retries
    * against the new manifest. Key-pruned lookups need no code path
    * change — `readReplicaForKeys` always derives `bucketOf` from the
    * manifest it read. Cost is one full-store rewrite — O(replica),
    * inherent to resharding — executed as ONE hash-routed job with one
    * task and one output file per new bucket; tombstones and the
    * change-feed history carry over untouched (content-identical).
    */
  def rebucketReplica(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, idCols: Seq[String], newNumBuckets: Int): Unit = {
    require(newNumBuckets > 0, s"newNumBuckets must be positive: $newNumBuckets")
    requireUnfrozen(replicaDir)
    val (v, m) = currentManifest(replicaDir).getOrElse(return)
    // routing is a pure function of the RECORDED columns: recorded
    // bucketCols alone route and idCols is ignored, so any caller value
    // is safe; otherwise the recorded keyCols route and the caller's
    // idCols must match them
    if (m.bucketCols.isEmpty) require(m.keyCols == idCols,
      s"rebucketReplica: $replicaDir records keyCols " +
        s"(${m.keyCols.mkString(",")}) but the caller passed " +
        s"(${idCols.mkString(",")})")
    if (m.numBuckets == newNumBuckets) return
    if (m.buckets.isEmpty && m.deltas.isEmpty)
      // empty store: flip the count with a manifest-only commit
      ReplicaStore.commit(replicaDir, Some((v, m)), "reshard", fenced = true)(
        _ => Some(m.copy(numBuckets = newNumBuckets)))
    // pending merge-on-read deltas FOLD into the reshard (it is a full
    // rewrite anyway — refusing would only force an extra compaction
    // pass over the same bytes); keepDeletes keeps the rewrite
    // content-faithful, so tombstones and their order values survive
    else rewriteStore(spark, replicaDir, v, m,
      mergedBucketRead(spark, replicaDir, m, keepDeletes = true),
      newNumBuckets, "reshard")
  }

  /** Rewrite a store's whole state `source` — content-identical, the
    * rows of manifest `m` — into version `v + 1`, routed by `m`'s
    * columns into `numBuckets` buckets: ONE hash-routed job with one
    * task and one output file per bucket. The new manifest is `m` with
    * the new layout, no pending deltas, the schema widened by any
    * tombstones the fold materialized, and the tombstone mins of the
    * written files. The writer behind [[rebucketReplica]] and
    * [[upgradeReplica]].
    */
  private def rewriteStore(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, v: Long, m: ReplicaManifest,
      source: Option[DataFrame], numBuckets: Int, kind: String): Unit =
    ReplicaStore.commit(replicaDir, Some((v, m)), kind, fenced = true) { txn =>
      source.getOrElse(spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), m.schema))
        .withColumn("__bucket",
          pmod(hash(m.routing.map(col): _*), lit(numBuckets)))
        .repartition(numBuckets, col("__bucket"))
        .write.partitionBy("__bucket").parquet(txn.path("data"))
      Some(txn.rewritten(spark, m.copy(numBuckets = numBuckets,
          buckets = Map.empty, deltas = Map.empty, tombstoneMins = Map.empty),
        (0 until numBuckets).toSet, source, minsBy = m.condOrderCols))
    }

  /** UPGRADE a store an older graft wrote into the current store format
    * — the one entry point that reads the older formats
    * ([[currentFormat]]); every other entry point refuses such a store
    * and names this one. Reads the current state ONCE — a pre-bucket
    * flat version dir whole, or the manifest's buckets (and pending
    * deltas) through one footer merge when it records no schema,
    * tombstones kept — and rewrites it through [[rebucketReplica]]'s
    * full-rewrite writer as one published, content-identical version
    * (kind "upgrade"). The version keeps the recorded bucket count and
    * routing ([[DefaultReplicaBuckets]] for a flat dir) and records the
    * schema, `keyCols` = `idCols`, the op column and, from the written
    * files, the tombstone mins.
    *
    * `orderCols` names the order columns a store holding tombstones
    * (a tombstone column in its schema) compares them by; required
    * when its manifest records none. A store already in the current
    * format, or never committed, is left as it is.
    */
  def upgradeReplica(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, idCols: Seq[String],
      orderCols: Seq[Column] = Nil): Unit = {
    requireUnfrozen(replicaDir)
    val v = currentVersion(replicaDir).getOrElse(return)
    if (readManifest(replicaDir, v).nonEmpty) return
    val raw = parseManifest(replicaDir, v)
    // the flat layout: no manifest, the version dir holds the rows
    val old = raw.getOrElse(ReplicaManifest(DefaultReplicaBuckets,
      Map.empty, new StructType(), Nil, "", ""))
    if (old.keyCols.nonEmpty) require(old.keyCols == idCols,
      s"upgradeReplica: $replicaDir records keyCols " +
        s"(${old.keyCols.mkString(",")}) but the caller passed " +
        s"(${idCols.mkString(",")})")
    val paths = raw match {
      case Some(_) => old.buckets.values.toSeq.sorted
        .map(p => resolveStorePath(replicaDir, p))
      case None => Seq(versionDir(replicaDir, v).getPath)
    }
    val schema =
      if (old.schema.nonEmpty || paths.isEmpty) old.schema
      else spark.read.option("mergeSchema", "true").parquet(paths: _*).schema
    require(schema.nonEmpty, s"upgradeReplica: $replicaDir holds no data " +
      "and records no schema — there is nothing to upgrade; remove it")
    val tombstones = schema.fieldNames.contains(Tombstone)
    val orderNames = orderColNames(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema), orderCols)
    (old.condOrderCols, orderNames) match {
      case (Some(rec), given) if given.nonEmpty && rec != given =>
        throw new IllegalArgumentException(s"upgradeReplica: $replicaDir " +
          s"orders conditionally by (${rec.mkString(",")}) but the caller " +
          s"passed (${given.mkString(",")})")
      case (None, Nil) if tombstones =>
        throw new IllegalArgumentException(s"upgradeReplica: $replicaDir " +
          "holds tombstones but records no order columns for them — pass " +
          "orderCols, the stored columns its conditional merges ordered by")
      case _ =>
    }
    val m = old.copy(schema = schema, keyCols = idCols,
      opColName = Some(old.opColName).filter(_.nonEmpty).getOrElse("op"),
      condOrderCols = old.condOrderCols.orElse(
        Some(orderNames).filter(_ => tombstones)),
      tombstoneMins = Map.empty)
    val source =
      if (raw.isEmpty) Some(spark.read.schema(schema).parquet(paths: _*))
      else mergedBucketRead(spark, replicaDir, m, keepDeletes = true)
    rewriteStore(spark, replicaDir, v, m, source, m.numBuckets, "upgrade")
  }

  /** COMPLIANCE ERASURE (right-to-be-forgotten — the Delta
    * DELETE+VACUUM+CDF-purge rolled into one maintenance op): remove
    * every stored trace of the given keys from the replica. This is
    * deliberately NOT a CDC delete — a delete is an EVENT that merges
    * forward and propagates through the change feed; erasure REWRITES
    * HISTORY so the rows stop being readable from any surface:
    *
    *  1. live version: the keys' buckets (exact hash pruning, the
    *     merge's own routing) rewrite without the keys' rows —
    *     tombstones included — and publish as a new version through
    *     the same optimistic-concurrency commit as every merge;
    *  2. historical copies: older version dirs still hold the touched
    *     buckets' previous files (reader grace / time travel). Every
    *     on-disk copy of a touched bucket that the NEW manifest does
    *     not reference is deleted — time travel for those buckets
    *     intentionally breaks (that is the point of erasure), while
    *     untouched buckets keep their history because hash routing
    *     proves they never held the keys;
    *  3. change feed: every remaining version's changes files drop the
    *     keys' rows (two-phase: write `.next`, swap). Versions stay
    *     DENSE so feed consumers keep their position; they simply
    *     never see the erased keys again (Delta's CDF-purge
    *     contract). A crash mid-swap fails SAFE for erasure: that
    *     version's change set reads as empty, nothing resurrects.
    *
    * Cost: O(touched buckets + versions), never O(replica). Readers
    * mid-scan of a purged historical bucket can fail; erasure is a
    * maintenance op, scheduled like compaction.
    */
  def eraseKeys(spark: org.apache.spark.sql.SparkSession,
      replicaDir: String, idCols: Seq[String], keys: DataFrame): Unit = {
    import org.apache.spark.sql.functions.lit
    requireUnfrozen(replicaDir)
    val (v, m) = currentManifest(replicaDir).getOrElse(return)
    // type-faithful keys (Catalyst hash is type-sensitive — same rule
    // as the pruned lookup path)
    val types = m.schema.fields.map(f => f.name -> f.dataType).toMap
    val typedKeys = keys.select(idCols.map { c =>
      types.get(c).map(t => keys(c).cast(t).as(c)).getOrElse(keys(c))
    }: _*).distinct()
    // materialize the typed key set ONCE (r15): the erasure consumes
    // it from several actions (touched-bucket collect, bucket rewrite
    // anti-joins, the per-version feed scrub) — each would otherwise
    // re-run the caller's whole key derivation (often a table scan +
    // distinct).
    val (keysM, dropKeys) = graft.llm.IndexArtifacts.materializeOwned(
      spark, typedKeys, "erase-keys")
    try {
    val bucketOf = pmod(
      hash(m.bucketCols.getOrElse(idCols).map(keysM(_)): _*),
      lit(m.numBuckets))
    val touched = keysM.select(bucketOf.as("__bucket")).distinct()
      .collect().map(_.getInt(0)).toSet
    val rewrite = m.buckets.filter { case (k, _) => touched(k) }
    val touchedDeltas = m.deltas.keySet.filter(touched)
    if (rewrite.nonEmpty || touchedDeltas.nonEmpty) {
      // no broadcast hint: a routine GDPR batch is small (AQE
      // broadcasts it), but a bulk takedown can carry millions of
      // keys — that case must be allowed to shuffle
      val folded =
        if (touchedDeltas.isEmpty) None
        else mergedBucketRead(spark, replicaDir, m, touched, keepDeletes = true)
      ReplicaStore.commit(replicaDir, Some((v, m)), "erase", fenced = true) { txn =>
        if (touchedDeltas.isEmpty) {
          rewrite.toSeq.sortBy(_._1)
            .map { case (k, p) =>
              spark.read.schema(m.schema)
                .parquet(resolveStorePath(replicaDir, p))
                .join(keysM, idCols, "left_anti")
                .withColumn("__bucket", lit(k)) }
            .reduce(_.unionByName(_))
            .repartition(rewrite.size, col("__bucket"))
            .write.partitionBy("__bucket").parquet(txn.path("data"))
        } else {
          // touched buckets hold pending merge-on-read deltas: the
          // erasure rewrite FOLDS them (the same content-faithful fold
          // compaction runs — keepDeletes keeps surviving keys'
          // tombstones and their late-loser protection), anti-joins the
          // keys, and drops those buckets' delta lists in the SAME
          // commit. Every pre-fold copy — base and delta — purges below.
          val routeBy = pmod(hash(m.routing.map(col): _*), lit(m.numBuckets))
          folded.foreach { r =>
            r.join(keysM, idCols, "left_anti")
              .withColumn("__bucket", routeBy)
              .repartition(math.max(touched.size, 1), col("__bucket"))
              .write.partitionBy("__bucket").parquet(txn.path("data"))
          }
        }
        Some(txn.rewritten(spark, m, touched, folded, minsBy = m.condOrderCols))
      }
    }
    // 2: purge historical on-disk copies of the touched buckets —
    // base files AND pending delta files (their lists dropped from the
    // manifest above, so nothing references them)
    val referenced: Set[String] = currentManifest(replicaDir)
      .map { case (_, mm) => mm.refs.toSet }
      .getOrElse(Set.empty)
    replicaVersions(replicaDir).foreach { vv =>
      touched.foreach { k =>
        Seq("data", "delta").map(sub => s"${versionName(vv)}/$sub/__bucket=$k")
          .foreach { rel =>
            if (!referenced(rel))
              FileUtils.deleteQuietly(new java.io.File(s"$replicaDir/$rel"))
          }
      }
    }
    // 3: scrub the change feed (only versions whose nets carry the
    // keys) — INCLUDING `_feed`-retained entries: feed retention must
    // not let an erased key outlive the erasure in GC'd history.
    // ONE probe job decides WHICH versions carry the keys (r16): the
    // old shape paid one semi-join driver job PER feed version; the
    // versions' key projections union (cast to the key set's types —
    // the store's recorded widest, so the cast is the same lossless
    // widening every reader applies) and semi-join ONCE, returning the
    // touched version ids in a single bounded collect. The touched
    // versions' rewrites are then independent (distinct directories,
    // each its own atomic two-move swap), so they run as CONCURRENT
    // Spark jobs from a bounded pool (guide §2.6) instead of paying
    // one serial job latency apiece.
    val keyTypes = keysM.schema.fields.map(f => f.name -> f.dataType).toMap
    // each dir is READ ONCE (relation resolution pays a listing/schema
    // pass per spark.read call — the old shape paid it three times:
    // schema gate, probe, rewrite)
    val scrubbable: Seq[(Long, java.io.File, DataFrame)] =
      feedVersions(replicaDir).flatMap { vv =>
        feedChangesDir(replicaDir, vv).map(vv -> _)
      }.flatMap { case (vv, d) =>
        val df = spark.read.parquet(d.toString)
        if (idCols.forall(df.columns.contains)) Some((vv, d, df)) else None
      }
    // the probe's cast must be a lossless widening: a feed entry whose
    // key type is off the ladder (corrupt or hand-written) could cast to
    // values the key set never matches, silently keeping the erased key
    for ((vv, _, df) <- scrubbable; c <- idCols) {
      val t = df.schema(c).dataType
      if (t != keyTypes(c) && !isTypeWidening(t, keyTypes(c)))
        throw new IllegalStateException(
          s"eraseKeys: feed version ${versionName(vv)} of $replicaDir stores key " +
            s"column `$c` as ${t.simpleString}, which is neither the " +
            s"store's ${keyTypes(c).simpleString} nor a widening of it — " +
            "the scrub cannot match its keys exactly; repair that feed " +
            "entry (or truncate the feed past it) and re-run the erase")
    }
    if (scrubbable.nonEmpty) {
      val touchedVs: Set[Long] = scrubbable.map { case (vv, _, df) =>
        df.select(idCols.map(c => col(c).cast(keyTypes(c)).as(c)): _*)
          .withColumn("__v", lit(vv))
      }.reduce(_.unionByName(_))
        .join(keysM, idCols, "left_semi")
        .select(col("__v")).distinct()
        .collect().map(_.getLong(0)).toSet
      val jobs = scrubbable.filter { case (vv, _, _) => touchedVs(vv) }
      // a failed scrub must not leave sibling scrub jobs racing the
      // caller's cleanup (keysM drops below): the runner cancels and
      // awaits them before rethrowing — the swap is replay-safe (a
      // re-run erase re-derives the same anti-join)
      ConcurrentJobs.run(spark, jobs.map { case (_, d, df) => () =>
        val next = new java.io.File(d.toString + ".next")
        FileUtils.deleteQuietly(next)
        df.join(keysM, idCols, "left_anti")
          .write.parquet(next.toString)
        AtomicFiles.swapDir(d.toPath, next.toPath, java.nio.file.Paths.get(
          d.getParent, s".changes-erased-${System.nanoTime()}"))
      })
    }
    } finally dropKeys()
  }

  /** Apply one CDC micro-batch to the bucketed versioned parquet
    * replica (idCols upsert + delete) — `foreachBatch` body reproducing
    * the reference's downstream partition-scoped `MERGE` pattern
    * (README.md:88-99). Only buckets containing a touched key are read
    * and rewritten; untouched buckets carry over by reference. At
    * production scale the same logic targets a Delta/Iceberg MERGE
    * (which brings real atomic commit); the versioned-pointer swap
    * keeps the test environment dependency-free while staying
    * crash-safe.
    *
    * @param conditionalOrder when true, the merge is ORDER-CONDITIONAL
    *   (the Delta `whenMatched(newer)` / Debezium version-compare
    *   shape): per key, the row with the GREATEST `orderCols` value
    *   among {stored row, batch net} wins, with the incoming row
    *   winning exact ties — so batches may arrive out of source order
    *   (replays, backfills, late partitions) and the state still
    *   converges to the global last-writer outcome. A delete below the
    *   stored row's order is IGNORED; a delete above it removes the
    *   key. Requires every `orderCols` column to be a STORED column of
    *   the row (it is compared against base rows). The change feed
    *   records the merge's OUTCOME: only incoming winners (their
    *   original op, deletes included) — a conditionally LOSING row
    *   appears nowhere, so feed replay stays state-faithful.
    * @param bucketCols optional PROPER SUBSET of `idCols` to hash-route
    *   rows by (recorded in the manifest at creation, ignored on an
    *   existing replica). Routing by a subset clusters every row
    *   sharing the subset's values into one bucket, so equality
    *   lookups on just those columns prune exactly — the secondary-
    *   index layout ([[graft.streaming.SecondaryIndex]]). The merge
    *   stays correct because a key's bucket is still a pure function
    *   of the key.
    */
  def applyBatchToReplica(
      replicaDir: String,
      batch: DataFrame,
      idCols: Seq[String],
      orderCols: Seq[Column],
      opCol: String = "op",
      numBuckets: Int = DefaultReplicaBuckets,
      watermark: Option[Long] = None,
      recordChanges: Boolean = false,
      conditionalOrder: Boolean = false,
      bucketCols: Option[Seq[String]] = None,
      deferMerge: Boolean = false,
      /** Commit classification recorded in the manifest (see
        * [[applyNetToReplica]]). */
      kind: String = "merge",
      /** Phase-1 (prepare-only) commit for the cross-store atomic flip
        * — see [[flipPreparedVersion]]. */
      prepareOnly: Boolean = false): Option[Long] = {
    bucketCols.foreach(_.filterNot(idCols.contains).foreach(c =>
      throw new IllegalArgumentException(
        s"applyBatchToReplica: bucketCol '$c' must be one of idCols $idCols")))
    // both paths reduce the batch inside the commit's one routing
    // shuffle: the deferred path's delta write ([[applyNetToReplica]]),
    // the eager path's net write ([[routeNet]])
    applyNetToReplica(replicaDir, batch, batch.columns, idCols, opCol,
      numBuckets, watermark, recordChanges,
      conditional = if (conditionalOrder) Some(orderCols) else None,
      bucketCols = bucketCols, defer = deferMerge, kind = kind,
      prepareOnly = prepareOnly, reduceBy = Some(orderCols))
  }

  /** TYPE-FAITHFUL NET: batch columns that arrived NARROWER than the
    * manifest's recorded type upcast to it before anything hashes or
    * writes — the bucket hash is type-sensitive (hash(5: int) !=
    * hash(5L: long)), so an int-keyed batch against a long-keyed
    * store would otherwise compute `touched` against the wrong
    * buckets and split keys across two homes. The cast is the same
    * lossless widening ladder the reader upcasts by; a batch column
    * WIDER than the store is left alone for the schema-evolution
    * checks to admit (eager, non-routing) or refuse loudly.
    */
  private def castNetToStore(net: DataFrame,
      prev: Option[ReplicaManifest]): DataFrame =
    prev.map(_.schema) match {
      case Some(ps) =>
        val types = ps.fields.map(f => f.name -> f.dataType).toMap
        val narrow = net.schema.fields.filter(bf =>
          types.get(bf.name).exists(t =>
            !org.apache.spark.sql.GraftColumnBridge
              .sameTypeIgnoreNullability(t, bf.dataType) &&
              isTypeWidening(bf.dataType, t)))
        narrow.foldLeft(net)((d, bf) =>
          d.withColumn(bf.name, col(bf.name).cast(types(bf.name))))
      case None => net
    }

  /** What a commit resolves from the store's CURRENT manifest, once,
    * before any Spark job: the base version, the type-faithful net
    * ([[castNetToStore]]), the bucket count and routing columns (fixed
    * at replica creation), and the order columns a conditional store
    * is pinned to.
    */
  private final case class CommitPlan(
      base: Option[(Long, ReplicaManifest)],
      netT: DataFrame,
      dataCols: Array[String],
      nb: Int,
      resolvedBucketCols: Option[Seq[String]],
      bc: Seq[String],
      metaOrd: Option[Seq[String]]) {
    def prev: Option[ReplicaManifest] = base.map(_._2)
    def bucketOf: Column = pmod(hash(bc.map(col): _*), lit(nb))
  }

  private def planCommit(replicaDir: String, net: DataFrame,
      batchCols: Array[String], idCols: Seq[String], opCol: String,
      numBuckets: Int, conditional: Option[Seq[Column]],
      bucketCols: Option[Seq[String]], bypassFreeze: Boolean): CommitPlan = {
    // split-brain fence: a demoted store refuses writers until it
    // rejoins (resyncAsFollower sets bypassFreeze — the rewind itself
    // is the sanctioned write)
    if (!bypassFreeze) requireUnfrozen(replicaDir)
    val dataCols = batchCols.filterNot(_ == opCol)

    new java.io.File(replicaDir).mkdirs()
    val base = currentManifest(replicaDir)
    val prev = base.map(_._2)
    // type-faithful net — see [[castNetToStore]]. The cast runs HERE,
    // for every entry point (a net a caller pre-cast under an
    // equal-or-narrower snapshot re-casts losslessly, the widening
    // ladder being transitive)
    val netT = castNetToStore(net, prev)
    // bucket count AND routing columns are fixed at replica creation
    // (stored in the manifest). On an existing replica a caller-passed
    // bucketCols must MATCH the recorded routing: recording one thing
    // while hash-routing by another would silently prune every later
    // lookup/erasure to the wrong buckets. The manifest is always
    // written with exactly the resolution the routing used.
    val nb = prev.map(_.numBuckets).getOrElse(numBuckets)
    val resolvedBucketCols: Option[Seq[String]] = prev match {
      case Some(p) =>
        bucketCols.foreach { c =>
          val effective = p.bucketCols.getOrElse(idCols)
          require(c == effective, s"replica $replicaDir routes by " +
            s"(${effective.mkString(",")}) but the caller passed " +
            s"bucketCols (${c.mkString(",")})")
        }
        p.bucketCols
      case None => bucketCols
    }
    // conditional merges pin the store's order columns at first use —
    // comparing stored rows written under one ordering against batches
    // ordered by another would be meaningless
    val condNames: Option[Seq[String]] =
      conditional.map(ord => orderColNames(netT, ord))
    condNames.foreach { ns =>
      ns.foreach(n => require(dataCols.contains(n),
        s"conditionalOrder: order column '$n' must be a stored batch column"))
      prev.flatMap(_.condOrderCols).foreach(rec => require(rec == ns,
        s"replica $replicaDir orders conditionally by " +
          s"(${rec.mkString(",")}) but the batch passed (${ns.mkString(",")})"))
    }
    CommitPlan(base, netT, dataCols, nb, resolvedBucketCols,
      resolvedBucketCols.getOrElse(idCols),
      prev.flatMap(_.condOrderCols).orElse(condNames))
  }

  /** The bucket ids a write saw, recorded by the write's own tasks —
    * the touched set with no driver collect and no per-bucket files.
    * Set semantics: a retried task adding its ids again changes
    * nothing.
    */
  private final class BucketSet
      extends org.apache.spark.util.AccumulatorV2[Int, Set[Int]] {
    private var ids = Set.empty[Int]
    def isZero: Boolean = ids.isEmpty
    def copy(): BucketSet = { val c = new BucketSet; c.ids = ids; c }
    def reset(): Unit = ids = Set.empty
    def add(v: Int): Unit = ids += v
    def merge(o: org.apache.spark.util.AccumulatorV2[Int, Set[Int]]): Unit =
      ids ++= o.value
    def value: Set[Int] = ids
  }

  /** One EAGER commit of a per-key net into one store, in three steps
    * so a caller can run its Spark jobs beside other stores' commits
    * and publish it later:
    *
    *  1. [[routeNet]] builds it: the net, reduced and cast to the
    *     store's types, is written once into the commit's staging dir,
    *     and that write records the buckets it touched (no driver
    *     collect) — which [[readCommitKeys]] then prunes by;
    *  2. [[stage]] runs every remaining Spark job into the same staging
    *     dir: the touched buckets' rewrite, and the feed entry of a
    *     conditional merge;
    *  3. [[publish]] is metadata only: the net files become the feed
    *     entry (or go), then the transaction claims the version and
    *     flips the pointer.
    *
    * [[abort]] deletes an unpublished staging dir. One a crashed writer
    * leaves behind is debris the store's commits sweep once stale.
    */
  private[streaming] final class EagerCommit private[CdcStream] (
      p: CommitPlan,
      txn: ReplicaStore.Txn,
      batchCols: Array[String],
      val idCols: Seq[String],
      opCol: String,
      /** The buckets the net's rows route to. */
      val touched: Set[Int],
      watermark: Option[Long],
      recordChanges: Boolean,
      conditional: Option[Seq[Column]],
      prepareOnly: Boolean) {

    def replicaDir: String = txn.dir

    /** The net: one row per key, cast to the store's types. */
    val net: DataFrame = p.netT

    /** The manifest the commit routed against. */
    private[CdcStream] def base: Option[ReplicaManifest] = p.prev

    def stage(): Unit = {
      val CommitPlan(_, netT, dataCols, nb, resolvedBucketCols, _, metaOrd) = p
      val prev = p.prev
      val spark = net.sparkSession
      val prevBuckets = prev.map(_.buckets).getOrElse(Map.empty[Int, String])
      val touchedPaths = prevBuckets.collect {
        case (k, path) if touched(k) => resolveStorePath(replicaDir, path)
      }.toSeq.sorted
      val prevHasDeltas =
        prev.exists(_.deltas.keys.exists(touched))
      // a SEQUENCE (unconditional) eager merge cannot fold CONDITIONAL
      // pending deltas: its merge keeps no order compare, so a folded
      // delete-winner's late-loser protection would silently drop. A
      // conditional eager merge folds either mode (the fold surfaces
      // delete state as tombstones; see below).
      if (prevHasDeltas && conditional.isEmpty &&
          prev.exists(_.deltasConditional))
        throw new IllegalStateException(
          s"replica $replicaDir holds order-conditional pending deltas; " +
            "an unconditional merge cannot fold them — run compactReplica " +
            "first or merge with conditionalOrder")
      val noBase = netT.select(dataCols.map(col): _*).limit(0)
      val base =
        // an EAGER merge over buckets with pending deltas folds them in:
        // keepDeletes preserves delete state across the rewrite —
        // sequence-folded stores pass stored tombstones through
        // untouched, conditional-folded stores materialize delete-
        // winners AS tombstones so the conditional compare below (and
        // any late batch after it) still loses to them. The rewritten
        // buckets drop their delta lists.
        if (prevHasDeltas)
          mergedBucketRead(spark, replicaDir, prev.get, touched,
              keepDeletes = true)
            .getOrElse(noBase)
        else if (touchedPaths.isEmpty) noBase
        // manifest union schema: null-fills evolution gaps without a
        // per-merge footer scan
        else spark.read.schema(prev.get.schema).parquet(touchedPaths: _*)
      // ONE window per (bucket, key) over the touched buckets' rows ∪
      // the net picks each key's survivor. The rows are hash-routed to
      // their bucket's writer FIRST — one task and ONE output file per
      // touched bucket, instead of every shuffle partition spraying a
      // small file into every bucket dir (exactly the fragmentation
      // compactReplica exists to undo) — and the window's (bucket, key)
      // clustering rides that same shuffle. Unconditional: the incoming
      // row wins every key it names; base rows of other keys pass
      // through (stored tombstones included); incoming deletes drop.
      // ADDITIVE SCHEMA EVOLUTION: a batch introducing a new column
      // widens the replica (carried-over rows read back NULL for it); a
      // batch missing a replica column null-fills it.
      val baseB = base.withColumn("__bucket", p.bucketOf)
      val incoming = net.withColumn("__bucket", p.bucketOf)
      val (all, ord) = conditional match {
        case Some(ord) =>
          // order-conditional merge: greatest orderCols value per key
          // wins across {stored, incoming}; incoming wins exact ties. A
          // WINNING delete is stored as a TOMBSTONE row (`__tombstone =
          // true`, filtered by every read path): without it, a
          // later-arriving LOWER-order update would find no stored row
          // to lose against and resurrect the key. Tombstones carry the
          // delete's order value, so the compare keeps working; they
          // persist until [[compactReplica]]'s `tombstoneHorizon` ages
          // them out (same trade Kafka compaction and Cassandra make).
          val baseLive = baseB.columns.find(_ == Tombstone) match {
            case Some(_) => baseB.withColumn(Tombstone,
              coalesce(col(Tombstone), lit(false)))
            case None => baseB.withColumn(Tombstone, lit(false))
          }
          (baseLive
            .withColumn(opCol, when(col(Tombstone), "delete").otherwise("update"))
            .withColumn("__incoming", lit(0))
            .unionByName(
              incoming.withColumn(Tombstone, col(opCol) === "delete")
                .withColumn("__incoming", lit(1)),
              allowMissingColumns = true), ord)
        case None =>
          (baseB.withColumn("__incoming", lit(0))
            .unionByName(incoming.withColumn("__incoming", lit(1)),
              allowMissingColumns = true), Nil)
      }
      val w = Window.partitionBy((col("__bucket") +: idCols.map(col)): _*)
        .orderBy((ord.map(_.desc) :+ col("__incoming").desc): _*)
      val winners = all.repartition(math.max(touched.size, 1), col("__bucket"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
      val mergedB = (conditional match {
        case Some(_) => winners
        case None =>
          winners.filter(!(col("__incoming") === 1 && col(opCol) === "delete"))
      }).drop("__rn", "__incoming", opCol)
      val merged = mergedB.drop("__bucket")
      // SCHEMA EVOLUTION: additive columns always; TYPE changes only
      // along the safe WIDENING ladder, checked in [[routeNet]]. Widening
      // works because every read path serves files through the
      // manifest's recorded union schema (`spark.read.schema(...)`) and
      // Spark 4's parquet readers upcast a narrower physical type into
      // the requested wider one — so the UNTOUCHED buckets' int32 files
      // read back as longs with no rewrite, while this commit's touched
      // buckets write the wide type directly (`unionByName` already
      // coerced `merged`). The manifest records the replica's UNION
      // schema so the pruned lookup path never needs a footer-merge over
      // every bucket file; `merged` only covers touched buckets, so the
      // previous union widens.
      val unionSchema = prev.map(_.schema) match {
        case Some(ps) =>
          StructType(ps.fields.map { pf =>
            netT.schema.fields.find(_.name == pf.name) match {
              case Some(f) if !org.apache.spark.sql.GraftColumnBridge
                  .sameTypeIgnoreNullability(pf.dataType, f.dataType) &&
                  isTypeWidening(pf.dataType, f.dataType) =>
                pf.copy(dataType = f.dataType) // record the WIDENED type
              case _ => pf
            }
          } ++
            merged.schema.fields.filterNot(f => ps.fieldNames.contains(f.name)))
        case None => merged.schema
      }
      mergedB.write.mode("overwrite").partitionBy("__bucket")
        .parquet(txn.path("data"))
      // CHANGE FEED (opt-in, Delta-CDF shape): the version records its
      // own per-key NET — exactly the rows this commit applied, op
      // included — inside the version dir, so changes commit atomically
      // with the data in the same rename. An unconditional merge applied
      // the net as written: its files become the entry at [[publish]], at
      // no cost. Under a conditional merge the feed records the OUTCOME
      // (incoming winners), not the batch's intent — otherwise feed
      // replay would re-apply conditionally-LOST rows. Retention: a
      // version's changes live as long as its dir — indefinitely while
      // any of its buckets is still current, and at least the GC
      // reader-grace window after a full rewrite (readReplicaChanges
      // FAILS on a gap, never skips).
      if (recordChanges && conditional.nonEmpty)
        winners.filter(col("__incoming") === 1)
          .select(batchCols.toSeq.map(col): _*)
          .write.parquet(txn.path("changes"))

      // the written buckets (a delete can empty one entirely) replace
      // the touched ones, and the rewrite FOLDS their deltas (the base
      // read merged them); untouched buckets keep theirs. Tombstone
      // mins of the rewritten buckets are re-derived once the store has
      // an order-column record.
      val m = prev.getOrElse(ReplicaManifest(nb, Map.empty, unionSchema,
        idCols, opCol, txn.kind, bucketCols = resolvedBucketCols))
      txn.stage(txn.rewritten(spark, m.copy(schema = unionSchema,
          watermark = watermark, condOrderCols = metaOrd),
        touched, minsBy = metaOrd.filter(_ =>
          conditional.nonEmpty || unionSchema.fieldNames.contains(Tombstone))))
    }

    /** Publish the staged version; returns its number. */
    def publish(): Option[Long] = {
      val netDir = java.nio.file.Paths.get(txn.path("net"))
      if (recordChanges && conditional.isEmpty)
        java.nio.file.Files.move(netDir, netDir.resolveSibling("changes"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      else FileUtils.deleteQuietly(netDir.toFile)
      Some(txn.publish(prepareOnly))
    }

    def abort(): Unit = txn.close()
  }

  /** Start an eager commit ([[EagerCommit]]): resolve the manifest
    * ([[planCommit]]), refuse a batch the schema contract rejects —
    * before any job, so a refused batch leaves nothing behind — and
    * write the net into a fresh staging dir, recording the buckets its
    * rows hash to as the write runs: the touched set with no driver
    * collect and no per-bucket files. With `reduceBy` the batch is
    * reduced to its last op per key on the way (one shuffle); without
    * it the caller's frame must already hold one row per key. `defer`
    * builds the net for a caller that commits it through the deferred
    * path instead, which checks its own schema contract.
    *
    * The commit's base version is read AFTER the write: evaluating the
    * batch may itself commit to the store, and the merge builds on
    * whatever that left. Should the store have changed its routing
    * meanwhile (a reshard), the written net routes again.
    */
  private[streaming] def routeNet(
      replicaDir: String,
      net: DataFrame,
      batchCols: Array[String],
      idCols: Seq[String],
      opCol: String,
      numBuckets: Int,
      watermark: Option[Long] = None,
      recordChanges: Boolean = false,
      conditional: Option[Seq[Column]] = None,
      bucketCols: Option[Seq[String]] = None,
      bypassFreeze: Boolean = false,
      kind: String = "merge",
      prepareOnly: Boolean = false,
      reduceBy: Option[Seq[Column]] = None,
      defer: Boolean = false): EagerCommit = {
    val spark = net.sparkSession
    def plan(in: DataFrame) = planCommit(replicaDir, in, batchCols, idCols,
      opCol, numBuckets, conditional, bucketCols, bypassFreeze)
    def checked(p: CommitPlan): Unit =
      // SCHEMA EVOLUTION: TYPE changes only along the safe WIDENING ladder
      // ([[isTypeWidening]] — int→long, float→double …), and only on
      // NON-ROUTING columns. This is where the contract is ENFORCED, not
      // assumed. A ROUTING column (bucketCols / keyCols) must refuse: the
      // bucket hash is TYPE-SENSITIVE (hash(5: int) != hash(5L: long)), so
      // a widened routing column would silently send every later pruned
      // lookup to the wrong bucket — the named migration is a
      // clone-rewrite into a fresh store with the widened key type.
      // Anything off the ladder (narrowing, int→string, …) rejects loudly
      // instead of corrupting. The check compares the BATCH's own types
      // (netT), never a union's: union type-coercion would blur the
      // distinction (int ⋈ string resolves to a runtime cast that would
      // masquerade as a "widening" here and then blow up mid-write).
      if (!defer) p.prev.map(_.schema).foreach { ps =>
        p.netT.schema.fields.filter(f => p.dataCols.contains(f.name))
          .foreach { f =>
          ps.fields.find(_.name == f.name).foreach { pf =>
            val same = org.apache.spark.sql.GraftColumnBridge
              .sameTypeIgnoreNullability(pf.dataType, f.dataType)
            if (!same && p.bc.contains(f.name))
              throw new IllegalArgumentException(
                s"replica $replicaDir: batch changes ROUTING column " +
                  s"'${f.name}' from ${pf.dataType.catalogString} to " +
                  s"${f.dataType.catalogString}; the bucket hash is " +
                  "type-sensitive, so widening a routing column would " +
                  "mis-route every later pruned lookup — migrate via " +
                  "cloneReplica into a new store with the widened key type")
            if (!same && !isTypeWidening(pf.dataType, f.dataType))
              throw new IllegalArgumentException(
                s"replica $replicaDir: batch changes column '${f.name}' from " +
                  s"${pf.dataType.catalogString} to ${f.dataType.catalogString}; " +
                  "replica schema evolution is additive columns and safe " +
                  "type WIDENING (int→long, float→double), never " +
                  "narrowing or type replacement")
          }
        }
      }
    def routing(p: CommitPlan) =
      (p.nb, p.bc, p.bc.map(c => p.netT.schema(c).dataType))
    val p0 = plan(net)
    checked(p0)
    val txn = new ReplicaStore.Txn(replicaDir, p0.base, kind, !bypassFreeze, None)
    try {
      val touched = new BucketSet
      spark.sparkContext.register(touched)
      val record = udf((b: Int) => { touched.add(b); true }).asNondeterministic()
      val reduced = reduceBy.fold(p0.netT)(lastOpPerKey(p0.netT, idCols, _))
      reduced.filter(record(p0.bucketOf)).write.parquet(txn.path("net"))
      val written = graft.llm.IndexArtifacts.readWritten(spark,
        txn.path("net"), reduced.schema)
      val p = plan(written)
      if (routing(p) != routing(p0)) {
        val again = routeNet(replicaDir, written, batchCols, idCols, opCol,
          numBuckets, watermark, recordChanges, conditional, bucketCols,
          bypassFreeze, kind, prepareOnly, defer = defer)
        txn.close()
        again
      } else {
        if (p.base.map(_._1) != p0.base.map(_._1)) checked(p)
        // the net's files name no version: the commit builds on the
        // base read after they were written
        txn.base = p.base
        new EagerCommit(p, txn, batchCols, idCols, opCol, touched.value,
          watermark, recordChanges, conditional, prepareOnly)
      }
    } catch {
      case e: Throwable =>
        txn.close()
        throw e
    }
  }

  /** The store's rows for exactly an [[EagerCommit]]'s net keys, read
    * from the version the commit routed against and pruned to its
    * touched buckets — the key-pruned read with no key distinct and no
    * bucket collect. `keepDeletes` keeps conditional delete state as
    * `__tombstone` rows ([[readReplicaForKeysWithTombstones]]).
    */
  private[streaming] def readCommitKeys(
      spark: org.apache.spark.sql.SparkSession, c: EagerCommit,
      keepDeletes: Boolean): Option[DataFrame] =
    c.base.flatMap { m =>
      readForKeysAt(spark, c.replicaDir, m, c.idCols,
        c.net.select(c.idCols.map(col): _*), keepDeletes,
        buckets = Some(c.touched))
    }.map(df => if (keepDeletes) withTombstoneFlag(df) else df)

  /** Package-private for [[SecondaryIndex]] and the failover paths: a
    * net that is already last-op-per-key commits without a second
    * per-key window; `reduceBy` reduces a raw batch inside the commit's
    * routing shuffle instead.
    */
  private[streaming] def applyNetToReplica(
      replicaDir: String,
      net: DataFrame,
      batchCols: Array[String],
      idCols: Seq[String],
      opCol: String,
      numBuckets: Int,
      watermark: Option[Long] = None,
      recordChanges: Boolean = false,
      conditional: Option[Seq[Column]] = None,
      bucketCols: Option[Seq[String]] = None,
      defer: Boolean = false,
      bypassFreeze: Boolean = false,
      /** Commit classification recorded in the manifest — "merge" for
        * every ordinary batch; [[refreshClone]] stamps "refresh" so
        * clone-divergence detection is metadata-exact. */
      kind: String = "merge",
      prepareOnly: Boolean = false,
      reduceBy: Option[Seq[Column]] = None): Option[Long] = {
    if (!defer) {
      val c = routeNet(replicaDir, net, batchCols, idCols, opCol, numBuckets,
        watermark, recordChanges, conditional, bucketCols, bypassFreeze,
        kind, prepareOnly, reduceBy)
      // a net-empty batch commits nothing: bumping the version would only
      // churn the manifest, and recording the batch's DataFrame columns
      // in the union schema would advertise columns no parquet file
      // carries (the pruned and full read paths must agree)
      try if (c.touched.isEmpty) None else { c.stage(); c.publish() }
      finally c.abort()
    } else {
      val p = planCommit(replicaDir, net, batchCols, idCols, opCol,
        numBuckets, conditional, bucketCols, bypassFreeze)
      val CommitPlan(_, netT, dataCols, nb, resolvedBucketCols, _, metaOrd) = p
      val prev = p.prev
      val bucketOf = p.bucketOf
      // -------- DEFERRED (merge-on-read) commit: append the net as
      // per-bucket delta files — NO base read, NO base rewrite, and NO
      // touched-bucket pre-collect (the write's own partition dirs say
      // which buckets the batch hit). TWO Spark jobs + manifest (the
      // routing shuffle, which also reduces the batch, and the delta
      // write; a change feed copies the delta files) — the latency
      // floor a streaming upsert sink needs for small micro-batches;
      // reads fold deltas newest-net-wins, compaction folds them back
      // into base files.
      // ONE ordering model per delta chain set: folding sequence-
      // committed and order-committed deltas together has no coherent
      // winner rule — compaction resets the mode
      prev.filter(_.deltas.nonEmpty).foreach { p =>
        if (p.deltasConditional != conditional.nonEmpty)
          throw new IllegalStateException(
            s"replica $replicaDir holds " +
              (if (p.deltasConditional) "order-conditional" else "sequence") +
              "-folded pending deltas; a " +
              (if (conditional.nonEmpty) "conditional" else "sequence") +
              "-ordered deferred commit cannot mix with them — " +
              "compactReplica first")
      }
      prev.map(_.schema).foreach { ps =>
        val extra = dataCols.filterNot(ps.fieldNames.contains)
        if (extra.nonEmpty) throw new IllegalArgumentException(
          s"deferMerge: batch adds column(s) ${extra.mkString(",")} — " +
            "schema evolution requires an eager merge")
        // a deferred commit never updates the recorded schema, so the
        // delta's columns must be SERVABLE under it: identical types,
        // or narrower ones the parquet reader upcasts at fold time. A
        // batch that WIDENS a column (or changes it off the ladder)
        // must refuse here — admitting it would write a delta file the
        // manifest-schema read path cannot open. Named recovery: one
        // eager merge (deferMerge=false), which records the widened
        // union schema and rewrites the touched buckets.
        val widened = dataCols.flatMap { c =>
          for {
            pf <- ps.fields.find(_.name == c)
            bf <- netT.schema.fields.find(_.name == c)
            if !org.apache.spark.sql.GraftColumnBridge
              .sameTypeIgnoreNullability(pf.dataType, bf.dataType) &&
              !isTypeWidening(bf.dataType, pf.dataType)
          } yield s"$c: ${pf.dataType.catalogString} → " +
            s"${bf.dataType.catalogString}"
        }
        if (widened.nonEmpty) throw new IllegalArgumentException(
          s"deferMerge: batch changes column type(s) " +
            s"${widened.mkString("; ")} — type widening requires an " +
            "eager merge (deferMerge=false), which records the widened " +
            "schema and rewrites the touched buckets")
      }
      prev.map(_.keyCols).foreach(k => require(k == idCols,
        s"deferMerge: replica records keyCols $k but batch uses $idCols"))
      ReplicaStore.commit(replicaDir, p.base, kind, fenced = !bypassFreeze,
          prepareOnly = prepareOnly) { txn =>
        // hash-repartition by bucket id (no explicit count — no driver
        // pre-collect): each bucket's rows land in exactly one shuffle
        // partition, so partitionBy still writes one file per bucket.
        // The reduce runs after the routing, over (__bucket, keys): the
        // bucket is a function of the key, so the winners are the same
        // and the window needs no second shuffle
        val routed = netT.withColumn("__bucket", bucketOf)
          .repartition(col("__bucket"))
        reduceBy.fold(routed)(lastOpPerKey(routed, "__bucket" +: idCols, _))
          .write.partitionBy("__bucket").parquet(txn.path("delta"))
        val written = bucketDirs(txn.path("delta"))
        // net-empty batch: nothing to commit (same contract as eager)
        if (written.isEmpty) None
        else {
          // per-bucket exclusivity for sequence-folded deltas: a SEQUENCE-
          // folded deferred commit must not land in a bucket holding
          // conditional tombstones (its fold has no order compare — a
          // tombstone's late-loser protection would silently drop). The
          // touched buckets fall out of the write's own partition dirs, so
          // the check costs no extra job
          if (conditional.isEmpty && prev.exists(_.condOrderCols.nonEmpty)) {
            val clash = written.intersect(
              prev.map(_.tombstoneMins.keySet).getOrElse(Set.empty))
            if (clash.nonEmpty) throw new IllegalStateException(
              s"deferMerge: bucket(s) ${clash.toSeq.sorted.mkString(",")} " +
                "hold conditional tombstones a sequence fold cannot order " +
                "against; compactReplica(tombstoneHorizon) first")
          }
          // the feed entry is a copy of the delta files, so no job runs
          // the batch's scan and reduce a second time
          if (recordChanges) txn.copyBucketFiles("delta", "changes")
          val prevDeltas = prev.map(_.deltas).getOrElse(Map.empty[Int, Seq[String]])
          val newDeltas = prevDeltas ++ written.map(k =>
            k -> (prevDeltas.getOrElse(k, Seq.empty) :+ txn.ref("delta", k))).toMap
          Some(ReplicaManifest(nb, prev.map(_.buckets).getOrElse(Map.empty),
            prev.map(_.schema).getOrElse(netT.select(dataCols.map(col): _*).schema),
            keyCols = idCols, opColName = opCol, commitKind = kind,
            watermark = watermark, bucketCols = resolvedBucketCols,
            deltas = newDeltas,
            condOrderCols = metaOrd,
            deltasConditional = conditional.nonEmpty,
            tombstoneMins = prev.map(_.tombstoneMins).getOrElse(Map.empty)))
        }
      }
    }
  }

  // ------------------------------------------- incremental view (IVM)

  /** Streaming materialized-view maintenance — the `foreachBatch` body
    * that keeps a downstream per-group aggregate (live-key count + sum
    * of `valueCol`) current with O(changed keys) work per micro-batch:
    *
    *  1. the batch nets to one op per key ([[lastOpPerKey]]);
    *  2. each touched key's OLD contribution comes from the replica via
    *     the BUCKET-PRUNED lookup ([[readReplicaForKeys]] — the batch's
    *     key set derives the buckets, so state reads scale with the
    *     batch, not the corpus);
    *  3. the view merges `new − old` retraction deltas — a
    *     |groups|-sized full-outer join;
    *  4. the batch applies to the replica ([[applyBatchToReplica]]),
    *     advancing the per-key state for the next delta.
    *
    * Exactly-once under micro-batch REPLAY: the view version dir
    * records `batchId`, and a batch at or below the recorded id is
    * skipped (the replica apply is keyed-idempotent, so re-running it
    * is harmless). The view swap is an [[AtomicFiles.replace]] pointer
    * flip — foreachBatch serializes writers, so no commit lock is
    * needed here. `segment` is any expression over the batch/replica
    * columns (it must name the same columns in both).
    *
    * Returns the updated view (segment, n_keys, sum_cents).
    */
  def maintainAggView(
      viewDir: String, replicaDir: String, batch: DataFrame, batchId: Long,
      idCols: Seq[String], orderCols: Seq[Column], segment: Column,
      valueCol: String, opCol: String = "op",
      numBuckets: Int = DefaultReplicaBuckets): DataFrame = {
    import java.nio.charset.StandardCharsets.UTF_8
    val spark = batch.sparkSession
    new java.io.File(viewDir).mkdirs()
    val cur = currentVersion(viewDir)
    def readView(v: Long): DataFrame =
      spark.read.parquet(new java.io.File(versionDir(viewDir, v), "data").getPath)
    val lastBatch: Long = cur.map(v => java.nio.file.Files.readString(
      versionDir(viewDir, v).toPath.resolve("batch")).trim.toLong).getOrElse(-1L)
    if (batchId <= lastBatch) return readView(cur.get) // replayed batch
    val next = cur.fold(1L)(_ + 1)
    // CRASH-SAFE ORDER — the delta only makes sense against the
    // PRE-batch replica, so the pending view version (data, then its
    // `batch` completeness marker) is written BEFORE the replica
    // advances, and the pointer flips only AFTER. Replay windows:
    //  - before the marker: recompute from the unchanged replica and
    //    overwrite the partial pending dir;
    //  - after the marker, before/through the replica apply: the
    //    pending version is already correct — skip the recompute
    //    (a post-apply recompute would double-count the delta),
    //    re-apply the batch (keyed-idempotent), and flip;
    //  - after the flip: the batchId guard above no-ops the replay.
    val pendingBatch = versionDir(viewDir, next).toPath.resolve("batch")
    val pendingComplete = java.nio.file.Files.exists(pendingBatch) &&
      java.nio.file.Files.readString(pendingBatch).trim.toLong == batchId
    if (!pendingComplete) {
      val net = lastOpPerKey(batch, idCols, orderCols)
      val keys = net.select(idCols.map(col): _*).distinct()
      def contrib(df: DataFrame): DataFrame =
        df.select(segment.as("segment"), col(valueCol).cast("long").as("v"))
          .groupBy(col("segment"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      // OLD contributions: live rows for exactly the touched keys —
      // bucket-pruned, so the state read is batch-sized
      val oldC = readReplicaForKeys(spark, replicaDir, idCols, keys)
        .map(contrib)
      val newC = contrib(net.filter(col(opCol) =!= "delete"))
      val delta = oldC match {
        case None => newC.select(col("segment"), col("n").as("d_n"),
          col("s").as("d_s"))
        case Some(o) => newC.join(o.select(col("segment"),
            col("n").as("n_old"), col("s").as("s_old")), Seq("segment"),
            "full_outer")
          .select(col("segment"),
            (coalesce(col("n"), lit(0L)) - coalesce(col("n_old"), lit(0L)))
              .as("d_n"),
            (coalesce(col("s"), lit(0L)) - coalesce(col("s_old"), lit(0L)))
              .as("d_s"))
      }
      val prevView = cur.map(readView)
      val updated = prevView match {
        case None => delta.select(col("segment"), col("d_n").as("n_keys"),
          col("d_s").as("sum_cents"))
        case Some(v) => v.join(delta, Seq("segment"), "full_outer")
          .select(col("segment"),
            (coalesce(col("n_keys"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
              .as("n_keys"),
            (coalesce(col("sum_cents"), lit(0L)) + coalesce(col("d_s"), lit(0L)))
              .as("sum_cents"))
      }
      updated.filter(col("n_keys") > 0)
        .write.mode("overwrite").parquet(versionDir(viewDir, next).getPath + "/data")
      AtomicFiles.replace(pendingBatch, batchId.toString.getBytes(UTF_8))
    }
    // advance the per-key state; a replayed apply nets idempotent
    applyBatchToReplica(replicaDir, batch, idCols, orderCols, opCol,
      numBuckets)
    writePointer(viewDir, next)
    // previous view versions: keep one for in-flight readers, GC older
    versionDirs(viewDir).filter(_ < cur.getOrElse(next))
      .foreach(v => FileUtils.deleteQuietly(versionDir(viewDir, v)))
    readView(next)
  }

  // ------------------------------------------------- streaming SCD2

  /** Streaming SCD2 history maintenance — the `foreachBatch` body that
    * builds a type-2 history table from a CDC stream, matching the
    * batch `cdc_scd2_history` semantics exactly: every non-delete
    * change is a version valid `[its valid_from, next change's
    * valid_from)`, the newest version stays OPEN, and a delete closes
    * the key's history without emitting a version.
    *
    * Layout: closed versions append to `historyDir/batch=<id>/`
    * (mode=overwrite per batch partition ⇒ micro-batch REPLAY is
    * idempotent), while each key's OPEN version lives in the bucketed
    * replica at `currentDir` (so closing it on the key's next change
    * is a bucket-pruned lookup, not a history scan — state IO scales
    * with the batch). Per batch:
    *
    *  1. within-batch version chaining via one per-key lead() window;
    *  2. versions superseded INSIDE the batch close immediately;
    *  3. each touched key's previous open version (replica lookup)
    *     closes at the key's FIRST change in this batch;
    *  4. the replica advances by the batch's net op per key — the new
    *     open version upserts, a trailing delete removes the key.
    *
    * `validFrom` must be a monotone function of the `orderCols`
    * ordering (e.g. unix_millis(ts) under (ts, event_id)). Read the
    * full history back with [[readScd2]].
    */
  def maintainScd2(historyDir: String, currentDir: String, batch: DataFrame,
      batchId: Long, idCols: Seq[String], orderCols: Seq[Column],
      validFrom: Column, opCol: String = "op",
      numBuckets: Int = DefaultReplicaBuckets): Unit = {
    val spark = batch.sparkSession
    // exactly-once under replay: a batch at or below the recorded id
    // already closed the previous open versions AND advanced the
    // replica — re-running it would close the post-batch state at a
    // pre-batch timestamp. The `_last_batch` marker is written LAST;
    // replays inside the batch use the history partition's own
    // `_complete` marker (below) to decide whether the closure rows
    // may be recomputed (replica not yet advanced) or must be kept.
    new java.io.File(historyDir).mkdirs()
    val marker = java.nio.file.Paths.get(historyDir, "_last_batch")
    val lastApplied =
      if (java.nio.file.Files.exists(marker))
        java.nio.file.Files.readString(marker).trim.toLong
      else -1L
    if (batchId <= lastApplied) return
    val w = Window.partitionBy(idCols.map(col): _*)
      .orderBy(orderCols.map(_.asc): _*)
    val b = batch.withColumn("valid_from", validFrom)
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
    // the history partition computes against the PRE-batch replica, so
    // it is written (with a `_complete` marker, LAST) before the
    // replica advances; a replay that finds the marker skips the
    // recompute — recomputing after the apply would close the
    // POST-batch open versions at pre-batch timestamps
    val partMarker = java.nio.file.Paths.get(
      s"$historyDir/batch=$batchId", "_complete")
    if (!java.nio.file.Files.exists(partMarker)) {
      // a version row = every batch column except the op, plus interval
      val dataCols = batch.columns.filterNot(_ == opCol).toSeq
      def versionCols(df: DataFrame): DataFrame =
        df.select((dataCols.map(col) :+ col("valid_from") :+
          col("valid_to")): _*)
      val closedInBatch = versionCols(
        b.filter(col("valid_to").isNotNull && col(opCol) =!= "delete"))
      // close the key's PREVIOUS open version at its first change here
      val firstChange = b.groupBy(idCols.map(col): _*)
        .agg(min(col("valid_from")).as("__close_at"))
      val closedPrev = readReplicaForKeys(spark, currentDir, idCols,
          firstChange.select(idCols.map(col): _*))
        .map(open => versionCols(open.join(firstChange, idCols)
          .withColumn("valid_to", col("__close_at"))))
      val history = closedPrev.fold(closedInBatch)(p =>
        closedInBatch.unionByName(p, allowMissingColumns = true))
      history.write.mode("overwrite").parquet(s"$historyDir/batch=$batchId")
      java.nio.file.Files.write(partMarker, Array.emptyByteArray)
    }
    // advance the open-version state (net op per key; deletes remove)
    applyBatchToReplica(currentDir, b.drop("valid_to"), idCols, orderCols,
      opCol, numBuckets)
    AtomicFiles.replace(marker,
      batchId.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The full SCD2 history: closed versions from `historyDir` plus the
    * open versions (valid_to NULL, is_current true) from the current
    * replica. None only before the FIRST batch — a replica whose every
    * key was deleted still returns the closed history (all rows
    * is_current = false), not None.
    */
  def readScd2(spark: org.apache.spark.sql.SparkSession, historyDir: String,
      currentDir: String): Option[DataFrame] = {
    val openV = readReplica(spark, currentDir)
      .map(_.withColumn("valid_to", lit(null).cast("long")))
    val closed =
      if (Option(new java.io.File(historyDir).listFiles())
          .exists(_.exists(_.getName.startsWith("batch="))))
        Some(spark.read.parquet(historyDir).drop("batch"))
      else None
    val all = (closed, openV) match {
      case (Some(c), Some(o)) => Some(c.unionByName(o, allowMissingColumns = true))
      case (c, o) => c.orElse(o)
    }
    all.map(_.withColumn("is_current", col("valid_to").isNull))
  }
}
