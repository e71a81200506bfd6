package graft.sources.replica

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SQLContext}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{DataType, StringType, StructType}

import graft.streaming.CdcStream

/** `writeStream.format("graft-replica")` — the user-facing sink format
  * completing the reference's end-to-end story
  * (`readStream.format("binlog") → writeStream.format(delta)` with
  * `syncType=binlog` and a `{db}/{table}` path template,
  * README.md:61-67,88-99): CDC envelopes stream straight into the
  * bucket-scoped versioned MERGE replica without the consumer writing a
  * `foreachBatch` body.
  *
  * Three input shapes, chosen per batch from the path template and the
  * incoming schema:
  *
  *  - '''fan-out''' (path contains `{db}` or `{table}`): raw envelopes
  *    (`value: string`, as emitted by `graft-binlog`/`graft-wal`) route
  *    to per-table replicas at the expanded path. Per-table row schemas
  *    come from the `schemaRegistry` option (a changelog dir's
  *    `schemas.json` — the same registry the source reads); id columns
  *    from `keys` (global) or `keys.<db>.<table>` overrides.
  *  - '''single-table envelope''' (plain path, input is exactly
  *    `value: string`): envelopes parse under one row schema —
  *    `table=db.tbl` naming a registry entry, or an inline
  *    `schemaJson` — then upsert into the one replica.
  *  - '''typed''' (plain path, any other schema): rows already carry
  *    the op + key columns (e.g. a `CdcStream.parsed` projection
  *    upstream in the same streaming query); they merge as-is.
  *
  * Exactly-once: the MERGE itself is replay-idempotent (the per-key
  * net of the same batch reapplied yields the same state), and the sink
  * additionally records committed batch ids per replica dir
  * (`_sink_batches/b<id>`), so a restarted query re-serving a batch
  * skips the merge entirely — state NEVER regresses and the version
  * history doesn't churn. In fan-out mode markers are per table, so a
  * crash between two tables' merges replays only the unfinished tables.
  *
  * Scale: everything data-sized is the existing merge machinery —
  * route-once scratch, per-key net, touched-bucket rewrites
  * ([[CdcStream.applyBatchToReplica]], [[CdcStream.fanOutToReplicas]]).
  * The sink layer adds only O(tables) marker checks per batch. The
  * batch DataFrame is re-wrapped from its already-planned physical RDD
  * ([[GraftColumnBridge.fromExecutedPlan]]) so the incremental plan is
  * never re-analyzed, and the commit's one write of the per-key net is
  * the only full read of the batch (plus one bounded max() when
  * `trackWatermark` is on). That write also records the buckets the
  * batch touches, so an eager commit is 4 Spark jobs (net, then the
  * touched buckets' rewrite), and the net's files become the change
  * feed entry. With `indexColumn` the index commits run beside the
  * primary's stage and publish before it
  * ([[graft.streaming.SecondaryIndex.applyBatchWithIndexes]]): 13 jobs
  * with two indexes and `changeFeed`. A `deferMerge` commit without an
  * index is 2 jobs (the routing shuffle, which also reduces the batch,
  * then the delta write); with `changeFeed` the feed entry is a copy of
  * the delta files, with no third job.
  */
class ReplicaSinkProvider extends StreamSinkProvider with RelationProvider
    with StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-replica"

  private def changeFeedParams(
      parameters: Map[String, String]): (String, Long) = {
    val lower = parameters.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v }
    require(lower.get("readchangefeed").exists(_.toBoolean),
      "graft-replica: streaming reads serve the CHANGE FEED — set " +
        "readChangeFeed=true (and write with changeFeed=true)")
    val path = lower.getOrElse("path",
      throw new IllegalArgumentException("graft-replica: 'path' is required"))
    (path, lower.get("startingversion").map(_.toLong).getOrElse(0L))
  }

  /** `readStream.format("graft-replica").option("readChangeFeed","true")`
    * — the streaming change feed ([[ReplicaChangeSource]]).
    */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val (path, _) = changeFeedParams(parameters)
    (shortName(),
      schema.getOrElse(ReplicaChangeSource.changeSchema(sqlContext, path)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val (path, startingVersion) = changeFeedParams(parameters)
    new ReplicaChangeSource(sqlContext, path, startingVersion)
  }

  /** `spark.read.format("graft-replica")` — current state, `version=N`
    * time travel, or `asOfWatermark=W`; `keys=a,b` enables key-equality
    * bucket pruning ([[ReplicaRelation]]). With `readChangeFeed=true`
    * the batch read serves the CHANGE FEED instead (the `table_changes`
    * analog): committed per-key nets of versions in
    * `(fromVersion, toVersion]`, default all still on disk.
    */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val lower = parameters.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v }
    val path = lower.getOrElse("path",
      throw new IllegalArgumentException("graft-replica: 'path' is required"))
    require(!path.contains("{db}") && !path.contains("{table}"),
      "graft-replica reads take a concrete replica dir, not a template")
    if (lower.get("readchangefeed").exists(_.toBoolean))
      new ReplicaChangesRelation(sqlContext, path,
        fromVersion = lower.get("fromversion").map(_.toLong).getOrElse(0L),
        toVersion = lower.get("toversion").map(_.toLong))
    else new ReplicaRelation(sqlContext, path,
      version = lower.get("version").map(_.toLong),
      asOfWatermark = lower.get("asofwatermark").map(_.toLong),
      idCols = lower.get("keys").map(_.split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq).getOrElse(Nil))
  }

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft-replica: partitionBy is not supported — the replica store " +
        "hash-buckets by the key columns")
    new ReplicaSink(ReplicaSinkConfig(parameters))
  }
}

/** Parsed, validated sink options (fail at query START, not first batch). */
final case class ReplicaSinkConfig(
    path: String,
    keysGlobal: Seq[String],
    keysByTable: Map[String, Seq[String]],
    schemaRegistry: Option[String],
    singleTable: Option[String],
    schemaJson: Option[String],
    orderColumns: Seq[String],
    opColumn: String,
    numBuckets: Int,
    trackWatermark: Boolean,
    watermarkColumn: Option[String],
    changeFeed: Boolean = false,
    conditionalOrder: Boolean = false,
    deferMerge: Boolean = false,
    indexColumn: Option[String] = None,
    indexPath: Option[String] = None,
    /** Fan-out batches commit CROSS-TABLE ATOMICALLY (two-phase: all
      * tables' merges prepare reader-invisible versions, one durable
      * intent file, then N pointer flips) — a crash between tables
      * never leaves one table observably ahead of the batch boundary;
      * recovery completes the flips forward from the intent. See
      * [[graft.streaming.CdcStream.fanOutToReplicasAtomic]].
      */
    atomicFanOut: Boolean = false,
    /** When set, run [[CdcStream.maintainReplica]] after each commit:
      * merge-on-read delta chains fold once any bucket's chain reaches
      * this length — the self-maintaining deferred sink. O(manifest)
      * no-op until the policy trips.
      */
    autoCompactDeltas: Option[Int] = None) {

  val isFanOut: Boolean = path.contains("{db}") || path.contains("{table}")

  /** Parsed (column, dir) pairs — `indexColumn`/`indexPath` accept
    * comma-separated lists (a store rarely stops at one GSI); a single
    * value behaves exactly as before. The list syntax has NO escaping:
    * a column or path containing a literal comma cannot be expressed
    * (it would silently split into bogus specs) — each parsed column
    * is therefore validated against the batch schema at apply time
    * ([[ReplicaSink.applyMaybeIndexed]]), so a mis-split surfaces as a
    * named error on the first batch, never as a phantom index.
    */
  val indexSpecs: Seq[(String, String)] = {
    def csv(v: String): Seq[String] =
      v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val cols = indexColumn.map(csv).getOrElse(Nil)
    val dirs = indexPath.map(csv).getOrElse(Nil)
    require(cols.size == dirs.size,
      s"graft-replica: indexColumn lists ${cols.size} column(s) but " +
        s"indexPath lists ${dirs.size} dir(s) — they pair positionally")
    cols.zip(dirs)
  }

  def keysFor(table: String): Option[Seq[String]] =
    keysByTable.get(table).orElse(
      if (keysGlobal.nonEmpty) Some(keysGlobal) else None)
}

object ReplicaSinkConfig {
  private def csv(v: String): Seq[String] =
    v.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  def apply(parameters: Map[String, String]): ReplicaSinkConfig = {
    // DataStreamWriter hands options through verbatim — normalize the
    // FIXED names case-insensitively; `keys.<db>.<table>` table parts
    // stay case-sensitive (table identity is case-sensitive in the log)
    val lower = parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    def opt(name: String): Option[String] = lower.get(name.toLowerCase(java.util.Locale.ROOT))
    val path = opt("path").getOrElse(
      throw new IllegalArgumentException("graft-replica: 'path' is required"))
    val keysByTable = parameters.collect {
      case (k, v) if k.toLowerCase(java.util.Locale.ROOT).startsWith("keys.") =>
        k.substring("keys.".length) -> csv(v)
    }
    val cfg = ReplicaSinkConfig(
      path = path,
      keysGlobal = opt("keys").map(csv).getOrElse(Nil),
      keysByTable = keysByTable,
      schemaRegistry = opt("schemaRegistry"),
      singleTable = opt("table"),
      schemaJson = opt("schemaJson"),
      orderColumns = opt("orderColumns").map(csv).getOrElse(Seq("offset")),
      opColumn = opt("opColumn").getOrElse("op"),
      numBuckets = opt("numBuckets").map(_.toInt)
        .getOrElse(CdcStream.DefaultReplicaBuckets),
      trackWatermark = opt("trackWatermark").exists(_.toBoolean),
      watermarkColumn = opt("watermarkColumn"),
      changeFeed = opt("changeFeed").exists(_.toBoolean),
      conditionalOrder = opt("conditionalOrder").exists(_.toBoolean),
      deferMerge = opt("deferMerge").exists(_.toBoolean),
      indexColumn = opt("indexColumn"),
      indexPath = opt("indexPath"),
      atomicFanOut = opt("atomicFanOut").exists(_.toBoolean),
      autoCompactDeltas = opt("autoCompactDeltas").map(_.toInt))
    if (cfg.isFanOut) {
      require(cfg.schemaRegistry.nonEmpty,
        "graft-replica: fan-out paths ({db}/{table}) require 'schemaRegistry' " +
          "(a changelog dir whose schemas.json names each table's row schema)")
      require(cfg.keysGlobal.nonEmpty || cfg.keysByTable.nonEmpty,
        "graft-replica: fan-out requires 'keys' (global id columns) or " +
          "at least one 'keys.<db>.<table>' override")
      if (cfg.atomicFanOut)
        require(path.indexOf('{') > 0,
          "graft-replica: atomicFanOut derives its intent dir from the " +
            "path template's prefix before the first '{' — the template " +
            "must carry one")
    }
    require(!cfg.atomicFanOut || cfg.isFanOut,
      "graft-replica: atomicFanOut applies to fan-out paths only")
    require(cfg.numBuckets > 0, "graft-replica: numBuckets must be > 0")
    // conditionalOrder + deferMerge compose since r9: deferred commits
    // append order-tagged deltas and every read path folds them by
    // greatest order (CdcStream.mergedBucketRead's conditional fold)
    require(cfg.indexColumn.isEmpty || cfg.indexPath.nonEmpty,
      "graft-replica: indexColumn requires indexPath (the secondary " +
        "index replica's directory)")
    require(cfg.indexColumn.isEmpty || !cfg.isFanOut,
      "graft-replica: indexColumn is not supported on fan-out paths")
    // indexColumn + conditionalOrder compose since r14: the index
    // delta is the POST-STATE DIFF of the conditional fold — a
    // late-losing batch contributes nothing to any index
    // (SecondaryIndex.applyBatchWithIndexes(conditionalOrder = true))
    cfg
  }
}

class ReplicaSink(cfg: ReplicaSinkConfig) extends Sink {

  /** schemas.json entries, re-read per batch — the same
    * always-fresh-registry contract as the source side (SURVEY §1.3):
    * a table added to the registry mid-stream starts materializing on
    * the next batch with no restart.
    */
  private def registrySchemas(): Map[String, StructType] =
    cfg.schemaRegistry.map { dir =>
      graft.cdc.ChangelogFiles.readSchemas(dir).map { case (k, json) =>
        k -> DataType.fromJson(json).asInstanceOf[StructType]
      }
    }.getOrElse(Map.empty)

  private def markerFile(replicaDir: String, batchId: Long): File =
    new File(new File(replicaDir, "_sink_batches"), s"b$batchId")

  private def committed(replicaDir: String, batchId: Long): Boolean =
    markerFile(replicaDir, batchId).exists()

  private def markCommitted(replicaDir: String, batchId: Long): Unit = {
    val f = markerFile(replicaDir, batchId)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, "committed".getBytes(UTF_8))
  }

  private def isEnvelopeSchema(schema: StructType): Boolean =
    schema.fields.length == 1 && schema.fields(0).name == "value" &&
      schema.fields(0).dataType == StringType

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // re-wrap the incremental execution's physical plan as a plain
    // batch DataFrame: actions re-run the planned RDD, never re-analyze
    // the streaming plan
    val df = GraftColumnBridge.fromExecutedPlan(data)
    if (cfg.isFanOut) addFanOut(batchId, df)
    else if (isEnvelopeSchema(df.schema)) addSingleEnvelope(batchId, df)
    else addTyped(batchId, df)
  }

  private def orderCols = cfg.orderColumns.map(col)

  private def addFanOut(batchId: Long, df: DataFrame): Unit = {
    val schemas = registrySchemas()
    require(schemas.nonEmpty,
      s"graft-replica: schemaRegistry ${cfg.schemaRegistry.get} has no schemas.json entries")
    // a table both keyed and not yet committed for this batch is a
    // candidate; tables the registry knows but the config gives no keys
    // for are skipped (same contract as fanOutToReplicas' schemas map)
    val candidates = schemas.flatMap { case (tbl, schema) =>
      cfg.keysFor(tbl).map { ids =>
        val Array(db, t) = tbl.split("\\.", 2)
        val dir = cfg.path.replace("{db}", db).replace("{table}", t)
        (tbl, schema, ids, dir)
      }
    }.toSeq.filterNot { case (_, _, _, dir) => committed(dir, batchId) }
    if (candidates.isEmpty) return // full replay — nothing to merge
    val watermark =
      if (!cfg.trackWatermark) None
      else Option(df
        .select(max(get_json_object(col("value"), "$.timestamp").cast("long"))
          .as("wm")).head().get(0)).map(_.asInstanceOf[Long])
    if (cfg.atomicFanOut)
      CdcStream.fanOutToReplicasAtomic(df, cfg.path,
        intentDir = cfg.path.substring(0, cfg.path.indexOf('{')),
        schemas = candidates.map(c => c._1 -> c._2).toMap,
        idCols = candidates.map(c => c._1 -> c._3).toMap,
        orderCols = orderCols,
        watermark = watermark,
        recordChanges = cfg.changeFeed,
        conditionalOrder = cfg.conditionalOrder,
        deferMerge = cfg.deferMerge)
    else
      CdcStream.fanOutToReplicas(df, cfg.path,
        schemas = candidates.map(c => c._1 -> c._2).toMap,
        idCols = candidates.map(c => c._1 -> c._3).toMap,
        orderCols = orderCols,
        watermark = watermark,
        recordChanges = cfg.changeFeed,
        conditionalOrder = cfg.conditionalOrder,
        deferMerge = cfg.deferMerge)
    candidates.foreach { case (_, _, _, dir) => markCommitted(dir, batchId) }
  }

  private def addSingleEnvelope(batchId: Long, df: DataFrame): Unit = {
    if (committed(cfg.path, batchId)) return
    val schema = (cfg.schemaJson, cfg.singleTable) match {
      case (Some(json), _) => DataType.fromJson(json).asInstanceOf[StructType]
      case (None, Some(tbl)) => registrySchemas().getOrElse(tbl,
        throw new IllegalArgumentException(
          s"graft-replica: table $tbl not in schemaRegistry ${cfg.schemaRegistry}"))
      case (None, None) => throw new IllegalArgumentException(
        "graft-replica: envelope input on a plain path needs 'table' " +
          "(a schemaRegistry entry) or an inline 'schemaJson'")
    }
    val ids = cfg.keysFor(cfg.singleTable.getOrElse("")).getOrElse(
      throw new IllegalArgumentException("graft-replica: 'keys' is required"))
    val parsed = CdcStream.parsed(df, schema)
    val watermark =
      if (!cfg.trackWatermark) None
      else Option(parsed.select(max(col("ts_ms")).as("wm")).head().get(0))
        .map(_.asInstanceOf[Long])
    applyMaybeIndexed(parsed, ids, watermark)
    autoMaintain(parsed.sparkSession)
    markCommitted(cfg.path, batchId)
  }

  private def addTyped(batchId: Long, df: DataFrame): Unit = {
    if (committed(cfg.path, batchId)) return
    val ids =
      if (cfg.keysGlobal.nonEmpty) cfg.keysGlobal
      else throw new IllegalArgumentException("graft-replica: 'keys' is required")
    val watermark = cfg.watermarkColumn.map { c =>
      val v = df.select(max(
        if (df.schema(c).dataType == org.apache.spark.sql.types.TimestampType)
          unix_millis(col(c)) else col(c).cast("long")).as("wm")).head()
      if (v.isNullAt(0)) Long.MinValue else v.getLong(0)
    }.filter(_ != Long.MinValue)
    applyMaybeIndexed(df, ids, watermark)
    autoMaintain(df.sparkSession)
    markCommitted(cfg.path, batchId)
  }

  /** Post-commit policy maintenance (opt-in): fold delta chains past
    * the configured length on the primary and, when present, the
    * secondary index. Runs BEFORE the batch marker so a crash inside
    * maintenance re-runs it with the batch — compaction is idempotent
    * (content-identical), so the replay converges.
    */
  private def autoMaintain(spark: org.apache.spark.sql.SparkSession): Unit =
    cfg.autoCompactDeltas.foreach { n =>
      CdcStream.maintainReplica(spark, cfg.path, maxDeltas = n)
      cfg.indexSpecs.foreach { case (_, ix) =>
        CdcStream.maintainReplica(spark, ix, maxDeltas = n)
      }
      ()
    }

  /** Primary merge, with synchronized secondary-index maintenance when
    * `indexColumn`/`indexPath` are configured. [[SecondaryIndex]]
    * commits the INDEX FIRST: a crash between the two commits leaves
    * the primary unmerged, so the re-served batch recomputes the same
    * stale-delete set from the pre-batch values and the index apply is
    * idempotent. (The reverse order would be unrecoverable — the
    * replay's old-value read against the already-merged primary sees
    * old == new, the delete set comes back empty, and the moved keys'
    * stale entries accrete in the index forever.)
    */
  private def applyMaybeIndexed(batch: DataFrame, ids: Seq[String],
      watermark: Option[Long]): Unit =
    if (cfg.indexSpecs.nonEmpty) {
      // case-insensitive, matching Spark's default column resolution —
      // a differently-cased indexColumn must keep resolving like the
      // col(ic) below does, never hard-fail the stream
      val missing = cfg.indexSpecs.map(_._1)
        .filterNot(ic => batch.columns.exists(_.equalsIgnoreCase(ic)))
      require(missing.isEmpty,
        s"graft-replica: indexColumn ${missing.mkString(", ")} not in " +
          s"the batch schema (${batch.columns.mkString(", ")}); note " +
          "indexColumn/indexPath split on commas with no escaping")
      graft.streaming.SecondaryIndex.applyBatchWithIndexes(
        batch.sparkSession, cfg.path,
        cfg.indexSpecs.map { case (ic, dir) =>
          graft.streaming.SecondaryIndex.IndexSpec(dir, col(ic), ic,
            defer = cfg.deferMerge)
        },
        batch, ids, cfg.orderColumns, opCol = cfg.opColumn,
        numBuckets = cfg.numBuckets, watermark = watermark,
        recordChanges = cfg.changeFeed,
        deferPrimaryMerge = cfg.deferMerge,
        conditionalOrder = cfg.conditionalOrder)
    } else
      CdcStream.applyBatchToReplica(cfg.path, batch, ids, orderCols,
        opCol = cfg.opColumn, numBuckets = cfg.numBuckets,
        watermark = watermark,
        recordChanges = cfg.changeFeed,
        conditionalOrder = cfg.conditionalOrder,
        deferMerge = cfg.deferMerge)
}
