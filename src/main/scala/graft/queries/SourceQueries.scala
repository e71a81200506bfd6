package graft.queries

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.cdc.{ChangelogGenerator, WalGenerator}
import graft.streaming.CdcStream

/** Source-through-oracle queries: batch-read the graft-binlog and
  * graft-wal DSv2 sources over changelogs DERIVED from the `events`
  * fixture, then aggregate the parsed envelopes so DuckDB can verify
  * the same numbers straight off `events.parquet`. This puts the
  * sources themselves — generator → files → partition readers →
  * envelope codec → typed expansion — inside the driver's correctness
  * gate, not just unit tests.
  */
object SourceQueries {

  type QFn = (SparkSession, String) => DataFrame

  val eventsRowSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val NumWalRegions = 4

  /** Generate-once cache of fixture logs per sf dir (atomic dir-move
    * publish; concurrent callers in other JVMs fall back to whoever
    * won the rename).
    */
  private def cachedLog(sfDir: String, kind: String)(gen: String => Unit): String = synchronized {
    val key = sfDir.replaceAll("[^a-zA-Z0-9.]", "_")
    // the generation counter invalidates fixtures cached by earlier
    // builds when the GENERATOR's output changes (e.g. the manifest
    // sync spine) — bump it with any generator format change
    val target = new File(s"/tmp/graft-fixture-logs/$key/$kind-g2")
    if (new File(target, "_SUCCESS").exists()) return target.toString
    val tmp = new File(s"${target}.tmp-${ProcessHandle.current().pid()}")
    tmp.mkdirs()
    gen(tmp.toString)
    Files.write(Paths.get(tmp.toString, "_SUCCESS"), Array.empty[Byte])
    target.getParentFile.mkdirs()
    try Files.move(tmp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
    catch {
      // another writer won the publish: rename onto an existing dir
      // surfaces as FileAlreadyExists OR DirectoryNotEmpty (Linux
      // ENOTEMPTY) — both mean "use theirs"
      case _: java.nio.file.FileSystemException
          if new File(target, "_SUCCESS").exists() =>
        org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
    target.toString
  }

  /** Records per file of the plain binlog fixture — shared with the
    * bootstrap-handoff query's offset arithmetic.
    */
  val BinlogRecordsPerFile = 50000L

  def binlogDir(s: SparkSession, sfDir: String): String =
    cachedLog(sfDir, "binlog") { out =>
      ChangelogGenerator.generate(Tables(s, sfDir).events, out,
        recordsPerFile = BinlogRecordsPerFile)
    }

  /** Midpoint of the events table's ts range in epoch-ms — the
    * deterministic "DDL landed here" cut the drift fixture and its
    * oracle share (same integer arithmetic in both engines).
    */
  def driftCutMs(s: SparkSession, sfDir: String): Long = {
    import org.apache.spark.sql.functions.{max, min, unix_millis}
    val mm = Tables(s, sfDir).events
      .agg(min(unix_millis(org.apache.spark.sql.functions.col("ts"))),
        max(unix_millis(org.apache.spark.sql.functions.col("ts")))).head()
    mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
  }

  /** DuckDB-side twin of [[driftCutMs]], as a scalar subquery body. */
  private def driftCutSql: String =
    """SELECT min(epoch_ms(CAST(ts AS TIMESTAMP)))
      |  + (max(epoch_ms(CAST(ts AS TIMESTAMP)))
      |     - min(epoch_ms(CAST(ts AS TIMESTAMP)))) // 2 FROM events""".stripMargin

  def binlogDriftDir(s: SparkSession, sfDir: String): String = {
    val cut = driftCutMs(s, sfDir)
    cachedLog(sfDir, "binlog-drift") { out =>
      ChangelogGenerator.generate(Tables(s, sfDir).events, out,
        recordsPerFile = 50000, driftFromMs = cut)
    }
  }

  /** One shared log interleaving five tables (records route to the
    * table named by their event_type) — the real multi-table binlog
    * shape served with per-table map offsets.
    */
  /** Drift fixture WITH the DDL record itself in the log (a binlog
    * QUERY event right before the first post-ALTER row).
    */
  def binlogDdlDir(s: SparkSession, sfDir: String): String = {
    val cut = driftCutMs(s, sfDir)
    cachedLog(sfDir, "binlog-ddl") { out =>
      ChangelogGenerator.generate(Tables(s, sfDir).events, out,
        recordsPerFile = 50000, driftFromMs = cut, ddlAtDrift = true)
    }
  }

  /** OUT-OF-SOURCE-ORDER log: the odd-event_id half of the changelog
    * precedes the even half in log (offset) order, each half spanning
    * the whole time range — a backfill appended after live traffic.
    * Micro-batches streamed off this log deliver rows whose version
    * order (ts_ms, event_id) disagrees with arrival order, so only an
    * order-conditional sink converges to the source's last-writer
    * state (the conditional e2e drill's fixture).
    */
  def binlogOooDir(s: SparkSession, sfDir: String): String =
    cachedLog(sfDir, "binlog-ooo") { out =>
      ChangelogGenerator.generate(Tables(s, sfDir).events, out,
        recordsPerFile = 50000,
        logOrder = Seq("event_id % 2 = 0", "ts_ms", "event_id"))
    }

  def binlogByTypeDir(s: SparkSession, sfDir: String): String =
    cachedLog(sfDir, "binlog-bytype") { out =>
      ChangelogGenerator.generate(Tables(s, sfDir).events, out,
        recordsPerFile = 50000, tableByEventType = true)
    }

  def walDir(s: SparkSession, sfDir: String): String =
    cachedLog(sfDir, "wal") { out =>
      WalGenerator.generate(Tables(s, sfDir).events, out, NumWalRegions,
        recordsPerFile = 50000)
    }

  /** Transactional changelog: consecutive records group into BEGIN…XID
    * transactions of this size — shared constant with the oracle's
    * `(rn-1)/TxnSize` twin.
    */
  val TxnSize = 7L

  /** `binlog_row_image=full` fixture: updates carry per-key before
    * images maintained by the generator's row state.
    */
  def binlogBeforeDir(s: SparkSession, sfDir: String): String =
    cachedLog(sfDir, "binlog-before") { out =>
      ChangelogGenerator.generate(Tables(s, sfDir).events, out,
        recordsPerFile = BinlogRecordsPerFile, beforeImages = true)
    }

  def binlogTxnDir(s: SparkSession, sfDir: String): String =
    cachedLog(sfDir, "binlog-txn") { out =>
      // recordsPerFile not a txn multiple: rolls defer to commit
      // boundaries (rotate-at-commit), exercising the deferral path
      ChangelogGenerator.generate(Tables(s, sfDir).events, out,
        recordsPerFile = 20001, txnSize = TxnSize)
    }

  val defs: Map[String, QFn] = Map(

    // --- binlog source → typed expansion → content checksums ------------
    "src_binlog_opmix" -> { (s, dir) =>
      import s.implicits._
      val df = s.read.format("graft-binlog")
        .option("path", binlogDir(s, dir)).load()
      CdcStream.parsed(df, eventsRowSchema)
        .groupBy($"op")
        .agg(count(lit(1)).as("n_events"),
          sum($"event_id").as("sum_event_id"),
          sum($"user_id").as("sum_user_id"))
        .orderBy($"op")
    },

    // --- source-level compliance redaction ------------------------------
    // The source half of the erasure story (cdc_erasure covers replica
    // + change feed; [[graft.cdc.LogRedaction]] covers the LOG): the
    // erased users' records are redacted IN PLACE with byte length
    // preserved, so every offset / per-table count / sync coordinate
    // stays valid, and the source scan simply never emits them. The
    // oracle is the same op-mix aggregate minus the erased users —
    // proving the log forgot exactly those rows and nothing else.
    // Redaction mutates, so it runs against a file copy of the shared
    // fixture (the cdc_replica_compact pattern).
    "src_binlog_redaction" -> { (s, dir) =>
      import s.implicits._
      val src = new File(binlogDir(s, dir))
      val work = new File(graft.llm.IndexArtifacts.tempDir("binlog-redact"))
      work.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty).filter(_.isFile)
        .foreach(org.apache.commons.io.FileUtils.copyFileToDirectory(_, work, false))
      val erased = Tables(s, dir).events
        .select($"user_id").distinct().filter($"user_id" % 97 === 0)
        .collect().map(_.getLong(0)).toSet
      graft.cdc.LogRedaction.redactKeys(work.toString, "user_id", erased)
      val df = s.read.format("graft-binlog")
        .option("path", work.toString).load()
      CdcStream.parsed(df, eventsRowSchema)
        .groupBy($"op")
        .agg(count(lit(1)).as("n_events"),
          sum($"event_id").as("sum_event_id"),
          sum($"user_id").as("sum_user_id"))
        .orderBy($"op")
    },

    // --- binlog source under mid-stream schema drift ---------------------
    // ALTER TABLE ADD COLUMN landing mid-changelog (SURVEY §1.3: the
    // reference's schema is dynamic, embedded per event, registry
    // re-read per batch): the fixture's later half carries a new
    // `score` column and schemas.json publishes the WIDENED schema.
    // Reading through the source + typed expansion must surface
    // pre-DDL records as NULL score under the widened schema — the
    // compatible-widening contract every CDC consumer relies on. The
    // aggregate pins per-op row counts, how many rows carry the new
    // column, and its exact content sum; the oracle derives all three
    // from the raw events table with the same midpoint cut.
    "src_binlog_schema_drift" -> { (s, dir) =>
      import s.implicits._
      val df = s.read.format("graft-binlog")
        .option("path", binlogDriftDir(s, dir)).load()
      val driftedSchema = StructType(eventsRowSchema.fields :+
        StructField("score", LongType))
      CdcStream.parsed(df, driftedSchema)
        .groupBy($"op")
        .agg(count(lit(1)).as("n_events"),
          count($"score").as("n_scored"),
          sum($"score").as("sum_score"),
          sum($"event_id").as("sum_event_id"))
        .orderBy($"op")
    },

    // --- DDL events in the stream (binlog QUERY events, opt-in) ---------
    // The ALTER TABLE that caused the drift is itself a log record;
    // under `includeDdl` it surfaces as a `type: "ddl"` envelope whose
    // row carries the statement and whose schema field is the
    // POST-DDL registry schema — consumers see the schema-change
    // marker in order, between the last old-schema row and the first
    // new-schema one. Without the option (every other src_ query) the
    // record silently consumes its position, the reference's behavior.
    // The aggregate pins the op mix including exactly one ddl event
    // and its statement text; the oracle derives row counts from
    // events and the ddl row as literals.
    "src_binlog_ddl_stream" -> { (s, dir) =>
      import s.implicits._
      val df = s.read.format("graft-binlog")
        .option("path", binlogDdlDir(s, dir))
        .option("includeDdl", "true").load()
      // ONE from_json parses the envelope once; three get_json_object
      // calls would each re-parse the JSON (3x the scan's CPU at scale)
      val ddlRow = StructType(Seq(
        StructField("sql", StringType),
        StructField("event_id", LongType)))
      val env = StructType(Seq(
        StructField("type", StringType),
        StructField("rows", ArrayType(ddlRow))))
      df.select(from_json($"value", env).as("e"))
        .select($"e.type".as("op"),
          $"e.rows".getItem(0).getField("sql").as("sql"),
          $"e.rows".getItem(0).getField("event_id").as("event_id"))
        .groupBy($"op")
        .agg(count(lit(1)).as("n_events"),
          count($"sql").as("n_stmts"),
          min($"sql").as("stmt"),
          sum($"event_id").as("sum_event_id"))
        .orderBy($"op")
    },

    // --- multi-table log + source-side table regex filter (F1) ----------
    // A single changelog interleaving five tables (routed by
    // event_type); the source serves each table under its own map
    // offset, and `tableNamePattern` drops non-matching tables AT THE
    // SOURCE — filtered tables are never deserialized into envelopes,
    // the CDC analog of partition pruning. The aggregate pins per-table
    // row counts + content sums for the two selected tables; the
    // oracle filters the raw events the same way.
    "src_binlog_multitable" -> { (s, dir) =>
      import s.implicits._
      val df = s.read.format("graft-binlog")
        .option("path", binlogByTypeDir(s, dir))
        .option("tableNamePattern", "click|purchase").load()
      CdcStream.parsed(df, eventsRowSchema)
        .groupBy($"tableName".as("table_name"))
        .agg(count(lit(1)).as("n_events"),
          sum($"event_id").as("sum_event_id"),
          sum(Q.cents($"value")).as("value_cents"))
        .orderBy($"table_name")
    },

    // --- multi-table log → {db}/{table} fan-out sink → read-back ---------
    // The K1b sink under the oracle gate: the interleaved five-table
    // log fans out through fanOutToReplicas (one bucket-scoped MERGE
    // per table, net-op semantics), then two tables' replicas read
    // back and aggregate. The 'error' table's records are deletes of
    // never-inserted keys, so its replica nets to empty — exactly the
    // tombstone semantics the oracle's event_type filter mirrors by
    // exclusion. Scale: driver work is one bounded (db,table) distinct;
    // each table's merge is its own keyed job.
    // --- the graft-replica SINK FORMAT, end to end under the gate -------
    // The user-facing swap for the reference's delta-plus consumer
    // (README.md:61-67): `readStream.format("graft-binlog")` piped
    // straight into `writeStream.format("graft-replica")` with a
    // {db}/{table} path template — no foreachBatch body. Schemas come
    // from the log's own registry, keys/watermark from options; the
    // read-back per-table states must equal DuckDB on raw events.
    // (src_binlog_fanout covers the same MERGE layer called as a
    // library; THIS query covers the registered sink format.)
    "src_binlog_sink_format" -> { (s, dir) =>
      import s.implicits._
      val logDir = binlogByTypeDir(s, dir)
      val root = graft.llm.IndexArtifacts.tempDir("sink-format")
      val q = s.readStream.format("graft-binlog")
        .option("path", logDir)
        .load()
        .writeStream.format("graft-replica")
        .option("path", s"$root/{db}/{table}")
        .option("schemaRegistry", logDir)
        .option("keys", "event_id")
        .option("trackWatermark", "true")
        .option("checkpointLocation",
          graft.llm.IndexArtifacts.tempDir("sink-format-ck"))
        .start()
      try q.processAllAvailable() finally q.stop()
      Seq("signup", "view").map { t =>
        CdcStream.readReplica(s, s"$root/graft/$t").get
          .select(lit(t).as("table_name"), $"event_id", $"user_id", $"value")
      }.reduce(_.unionByName(_))
        .groupBy($"table_name")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"user_id").as("n_users"),
          sum(Q.cents($"value")).as("value_cents"),
          max($"event_id").as("max_event_id"))
        .orderBy($"table_name")
    },

    "src_binlog_fanout" -> { (s, dir) =>
      import s.implicits._
      val root = graft.llm.IndexArtifacts.tempDir("fanout")
      val df = s.read.format("graft-binlog")
        .option("path", binlogByTypeDir(s, dir)).load()
      // no caller-side materialization needed: fanOutToReplicas routes
      // the envelopes into a (db, table)-partitioned scratch table in
      // one pass, so the changelog is read and parsed exactly once
      val tables = Seq("click", "error", "purchase", "signup", "view")
      CdcStream.fanOutToReplicas(df, s"$root/{db}/{table}",
        schemas = tables.map(t => s"graft.$t" -> eventsRowSchema).toMap,
        idCols = tables.map(t => s"graft.$t" -> Seq("event_id")).toMap)
      Seq("click", "purchase").map { t =>
        CdcStream.readReplica(s, s"$root/graft/$t").get
          .select(lit(t).as("table_name"), $"event_id", $"user_id", $"value")
      }.reduce(_.unionByName(_))
        .groupBy($"table_name")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"user_id").as("n_users"),
          sum(Q.cents($"value")).as("value_cents"))
        .orderBy($"table_name")
    },

    // --- cdc: cross-table ATOMIC fan-out (two-phase commit, r14) ---------
    // The fan-out's per-table commits used to be only batch-idempotent:
    // a crash between two tables' merges left the committed tables
    // VISIBLY ahead of the batch boundary until the batch replayed.
    // fanOutToReplicasAtomic runs every table's merge PREPARE-ONLY
    // (version claimed, CURRENT untouched), writes one durable intent,
    // then flips all pointers — ms apiece, forward-recoverable. The
    // gate injects a kill BETWEEN table commits (the `purchase` table's
    // prepare claim, among five concurrent prepares), asserts IN-QUERY that no table is
    // observably ahead (none has a readable committed state — the old
    // protocol would already be serving the killed batch's early
    // tables), replays, and the oracle pins the converged per-table
    // content. AtomicFanoutSpec covers the mid-flip kill + pure
    // forward recovery from the intent.
    "cdc_atomic_fanout" -> { (s, dir) =>
      import s.implicits._
      val root = graft.llm.IndexArtifacts.tempDir("fanout-atomic")
      val df = s.read.format("graft-binlog")
        .option("path", binlogByTypeDir(s, dir)).load()
      val tables = Seq("click", "error", "purchase", "signup", "view")
      val schemas = tables.map(t => s"graft.$t" -> eventsRowSchema).toMap
      val ids = tables.map(t => s"graft.$t" -> Seq("event_id")).toMap
      def run(): Unit = {
        CdcStream.fanOutToReplicasAtomic(df, s"$root/{db}/{table}",
          intentDir = root, schemas = schemas, idCols = ids)
        ()
      }
      val disarm = graft.streaming.CommitFaults.armClaimKill(
        s"$root/graft/purchase", 1)
      val killed =
        try { run(); false }
        catch {
          case e: RuntimeException if Option(e.getMessage)
              .exists(_.contains("injected mid-commit kill")) => true
        } finally disarm()
      require(killed, "the injected kill must land mid-batch")
      // NO table is observably ahead of the batch boundary: pointers
      // only flip after every table prepared + the intent is durable
      tables.foreach(t => require(
        CdcStream.readReplica(s, s"$root/graft/$t").isEmpty,
        s"table $t became visible before the batch's atomic flip"))
      run() // replay: re-prepare (orphaned prepares swept), flip all
      Seq("click", "purchase").map { t =>
        CdcStream.readReplica(s, s"$root/graft/$t").get
          .select(lit(t).as("table_name"), $"event_id", $"user_id", $"value")
      }.reduce(_.unionByName(_))
        .groupBy($"table_name")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"user_id").as("n_users"),
          sum(Q.cents($"value")).as("value_cents"))
        .orderBy($"table_name")
    },

    // --- update before-images through the source (binlog_row_image=full)
    // The reference DISCARDS update before-images
    // (UpdateRowsWriter.java:54-57); this engine keeps them behind
    // `includeBeforeImage` (SURVEY §1.6) — here the whole path is
    // oracle-gated: the generator maintains per-key row state (last
    // written image, cleared by delete), every update's envelope
    // carries `beforeRows`, and the aggregate pins how many updates
    // have one plus the exact content sums of the before images. The
    // oracle reconstructs the same state with a per-user lag: the
    // before image IS the previous event's row unless that event was
    // a delete.
    "src_binlog_before_images" -> { (s, dir) =>
      import s.implicits._
      val df = s.read.format("graft-binlog")
        .option("path", binlogBeforeDir(s, dir))
        .option("includeBeforeImage", "true").load()
      // ONE from_json per envelope (the ddl_stream model): string-typed
      // fields + cast keep get_json_object's exact coercion semantics
      val beforeRow = StructType(Seq(
        StructField("event_id", StringType),
        StructField("value", StringType)))
      val env = StructType(Seq(
        StructField("type", StringType),
        StructField("beforeRows", ArrayType(beforeRow))))
      df.select(from_json($"value", env).as("e"))
        .select(
          $"e.type".as("op"),
          $"e.beforeRows".getItem(0).getField("event_id").cast("long")
            .as("before_id"),
          $"e.beforeRows".getItem(0).getField("value").cast("double")
            .as("before_value"))
        .groupBy($"op")
        .agg(count(lit(1)).as("n_events"),
          count($"before_id").as("n_with_before"),
          sum($"before_id").as("sum_before_id"),
          sum(Q.cents($"before_value")).as("before_value_cents"))
        .orderBy($"op")
    },

    // --- bootstrap full-sync → streaming handoff (S4 → S1 lifecycle) ----
    // The reference's documented deployment: an initial full-table sync
    // (JDBC snapshot) and then the binlog stream FROM THE SNAPSHOT'S
    // POSITION (README bootstrap pattern; binlogIndex/binlogFileOffset
    // are its option names). Here: the pre-cut latest state applies to
    // the replica as a snapshot (insert batch, deleted keys absent),
    // the handoff offset is derived from the snapshot boundary by
    // offset arithmetic alone, and a REAL readStream resumes at that
    // (fileId, pos) — no gap, no overlap. The final replica must equal
    // the one-shot latest state over the whole log, which only holds if
    // the seek lands exactly between the two halves.
    "src_binlog_bootstrap_handoff" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.streaming.CdcStream
      val logDir = binlogDir(s, dir)
      val replica = graft.llm.IndexArtifacts.tempDir("bootstrap-replica")
      val ev = Tables(s, dir).events
      val mm = ev.agg(min(unix_millis($"ts")), max(unix_millis($"ts"))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val w = Window.partitionBy($"user_id")
        .orderBy(unix_millis($"ts").desc, $"event_id".desc)
      val snap = ev.filter(unix_millis($"ts") < cut)
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .filter($"event_type" =!= "error") // last pre-cut op delete => absent
        .select($"user_id", $"event_id", unix_millis($"ts").as("ts_ms"),
          Q.cents($"value").as("value_cents"), lit("insert").as("op"))
      val orderCols = Seq(col("ts_ms"), col("event_id"))
      CdcStream.applyBatchToReplica(replica, snap, Seq("user_id"), orderCols)
      // handoff position: records strictly before the cut, in the
      // generator's (ts, event_id) log order — pure offset arithmetic
      val consumed = ev.filter(unix_millis($"ts") < cut).count()
      val fileId = consumed / BinlogRecordsPerFile + 1
      val pos = consumed % BinlogRecordsPerFile + 1
      val q = s.readStream.format("graft-binlog")
        .option("path", logDir)
        .option("offsetsByTable", "false")
        .option("binlogIndex", fileId.toString)
        .option("binlogFileOffset", pos.toString)
        .load()
        .writeStream
        .option("checkpointLocation",
          graft.llm.IndexArtifacts.tempDir("bootstrap-ck"))
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val b = CdcStream.parsed(batch, eventsRowSchema)
            .select($"user_id", $"event_id", $"ts_ms",
              Q.cents($"value").as("value_cents"), $"op")
          CdcStream.applyBatchToReplica(replica, b, Seq("user_id"), orderCols)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      CdcStream.readReplica(s, replica).get
        .select($"user_id", $"event_id".as("last_event_id"), $"value_cents")
        .orderBy($"user_id")
    },

    // --- txn-aligned streaming: no micro-batch splits a transaction -----
    // The transactional changelog (BEGIN…XID groups of TxnSize records)
    // streams under a maxEventsPerTrigger cap chosen to land mid-txn;
    // txnAligned snaps every batch end to a commit boundary (manifest
    // txnEnds for completed files — zero content I/O — and an
    // incremental tail parse for the live one). Each batch records its
    // batch_id; the per-txn aggregate then PROVES atomic delivery:
    // n_batches must be exactly 1 for every transaction, which the
    // oracle pins as a literal — a split txn would surface as 2.
    "src_binlog_txn_batches" -> { (s, dir) =>
      import s.implicits._
      val logDir = binlogTxnDir(s, dir)
      val total = Tables(s, dir).events.count()
      // ~6 batches; +3 keeps the cap off txn multiples in general
      val budget = math.max(1L, total / 6L) + 3L
      val out = graft.llm.IndexArtifacts.tempDir("txn-batches")
      val ck = graft.llm.IndexArtifacts.tempDir("txn-batches-ck")
      val q = s.readStream.format("graft-binlog")
        .option("path", logDir)
        .option("offsetsByTable", "false")
        .option("txnAligned", "true")
        .option("maxEventsPerTrigger", budget.toString)
        .load()
        .writeStream
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.select(col("value"), lit(id).as("batch_id"))
            .write.mode("append").parquet(out)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      // ONE from_json per envelope (the ddl_stream model)
      val txnRow = StructType(Seq(StructField("event_id", StringType)))
      val txnEnv = StructType(Seq(
        StructField("txnId", StringType),
        StructField("rows", ArrayType(txnRow))))
      s.read.parquet(out)
        .select(from_json($"value", txnEnv).as("e"), $"batch_id")
        .select(
          $"e.txnId".cast("long").as("txn_id"),
          $"e.rows".getItem(0).getField("event_id").cast("long").as("event_id"),
          $"batch_id")
        .groupBy($"txn_id")
        .agg(count(lit(1)).as("n_records"),
          countDistinct($"batch_id").as("n_batches"),
          sum($"event_id").as("sum_event_id"))
        .orderBy($"txn_id")
    },

    // --- wal source → MERGE sink → latest state (HBase replication) ----
    // The WAL side of the sink story: all regions' put/delete
    // mutations (parsed from the HBase-shaped envelopes) merge into
    // ONE keyed replica — the cross-region table view HBase
    // replication consumers build — and the read-back latest state
    // must equal the oracle's. Proves the WAL source feeds the same
    // bucket-scoped MERGE layer the binlog path uses: one keyed job,
    // deletes as tombstones, region boundaries invisible downstream.
    "src_wal_replica_state" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val replica = graft.llm.IndexArtifacts.tempDir("wal-replica")
      val df = s.read.format("graft-wal")
        .option("path", walDir(s, dir)).load()
      // ONE from_json per envelope (the ddl_stream model) — five
      // get_json_object calls re-parsed every envelope 5x
      val walRow = StructType(Seq(
        StructField("rowkey", StringType),
        StructField("d:event_id", StringType),
        StructField("d:value", StringType)))
      val walEnv = StructType(Seq(
        StructField("type", StringType),
        StructField("timestamp", StringType),
        StructField("rows", ArrayType(walRow))))
      val rows = df.select(from_json($"value", walEnv).as("e"))
        .select(
          $"e.type".as("wop"),
          $"e.timestamp".cast("long").as("ts_ms"),
          $"e.rows".getItem(0).getField("rowkey").cast("long").as("user_id"),
          $"e.rows".getItem(0).getField("d:event_id").cast("long").as("event_id"),
          $"e.rows".getItem(0).getField("d:value").cast("double").as("v"))
        .select($"user_id", $"event_id", $"ts_ms", Q.cents($"v").as("value_cents"),
          when($"wop" === "delete", "delete").otherwise("insert").as("op"))
      CdcStream.applyBatchToReplica(replica, rows, Seq("user_id"),
        Seq(col("ts_ms"), col("event_id")))
      CdcStream.readReplica(s, replica).get
        .select($"user_id", $"event_id".as("last_event_id"), $"value_cents")
        .orderBy($"user_id")
    },

    // --- wal source → per-region put/delete mix with content sums -------
    "src_wal_region_mix" -> { (s, dir) =>
      import s.implicits._
      val df = s.read.format("graft-wal")
        .option("path", walDir(s, dir)).load()
      // ONE from_json per envelope (fields as strings, cast after — the
      // 4 get_json_object calls re-parsed every envelope 4x)
      val env = StructType(Seq(
        StructField("tableName", StringType),
        StructField("type", StringType),
        StructField("rows", ArrayType(StructType(Seq(
          StructField("rowkey", StringType),
          StructField("d:event_id", StringType)))))))
      df.select(from_json($"value", env).as("e"))
        .select(
          $"e.tableName".as("region"),
          $"e.type".as("op"),
          $"e.rows".getItem(0).getField("rowkey").cast("long").as("rowkey"),
          $"e.rows".getItem(0).getField("d:event_id").cast("long").as("event_id"))
        .groupBy($"region", $"op")
        .agg(count(lit(1)).as("n_events"),
          sum($"rowkey").as("sum_rowkey"),
          sum($"event_id").as("sum_event_id"))
        .orderBy($"region", $"op")
    },

    // --- binlog source → SQL DDL entry (CREATE ... USING graft-binlog) --
    // The TableProvider serves SQL readers with no DataFrame code at
    // all: a TEMPORARY VIEW ... USING `graft-binlog` registration, then
    // pure SQL text over it — the swap-in path for a SQL-only consumer.
    // The wide `op` column groups without parsing; ONE from_json lifts
    // the row images; numbers must equal src_binlog_opmix's.
    "src_binlog_sql_table" -> { (s, dir) =>
      s.sql("CREATE OR REPLACE TEMPORARY VIEW binlog_sql_tbl " +
        "USING `graft-binlog` OPTIONS " +
        s"(path '${binlogDir(s, dir)}', envelopeColumns 'true')")
      s.sql("""
        SELECT op, count(*) AS n_events,
          CAST(sum(e.rows[0].event_id) AS BIGINT) AS sum_event_id,
          CAST(sum(e.rows[0].user_id) AS BIGINT) AS sum_user_id
        FROM (
          SELECT op, from_json(value,
            'rows ARRAY<STRUCT<event_id: BIGINT, user_id: BIGINT>>') AS e
          FROM binlog_sql_tbl)
        GROUP BY op ORDER BY op""")
    },

    // --- binlog source → PLAN-LEVEL pushdown (DSv2 filter pushdown) -----
    // envelopeColumns=true widens the scan with typed db/table/op/offset
    // columns, and the .filter(...) below is written in the PLAN, not as
    // an option: Catalyst hands it to BinlogScanBuilder.pushFilters,
    // which turns the db/table equalities into source patterns and the
    // op IN into a reader-side cut (PlanSpec pins PushedFilters in the
    // executed plan; the filters also stay in the plan as the
    // correctness boundary). The oracle is the raw-events twin of the
    // op cut.
    "src_binlog_pushdown" -> { (s, dir) =>
      import s.implicits._
      val df = s.read.format("graft-binlog")
        .option("path", binlogDir(s, dir))
        .option("envelopeColumns", "true").load()
        .filter($"db" === "graft" && $"table" === "events" &&
          $"op".isin("insert", "delete"))
      CdcStream.parsed(df, eventsRowSchema)
        .groupBy($"op")
        .agg(count(lit(1)).as("n_events"),
          sum($"event_id").as("sum_event_id"),
          sum($"user_id").as("sum_user_id"))
        .orderBy($"op")
    },

    // --- wal source → PLAN-LEVEL region pushdown ------------------------
    // The WAL twin of src_binlog_pushdown: with envelopeColumns the
    // region/op predicates are written in the PLAN and
    // WalScanBuilder prunes the two skipped regions off the partition
    // plan before their files are even listed (the WAL's partition
    // pruning — each region is an independent sub-log). region ==
    // user_id % 4 shard in the fixture, so the oracle is the same
    // modulo cut.
    "src_wal_pushdown" -> { (s, dir) =>
      import s.implicits._
      val df = s.read.format("graft-wal")
        .option("path", walDir(s, dir))
        .option("envelopeColumns", "true").load()
        .filter($"region".isin("region-002", "region-003") && $"op" === "put")
      // ONE from_json per envelope (was 2 get_json_object re-parses)
      val env = StructType(Seq(
        StructField("rows", ArrayType(StructType(Seq(
          StructField("rowkey", StringType),
          StructField("d:event_id", StringType)))))))
      df.select(
          $"region",
          from_json($"value", env).as("e"))
        .select(
          $"region",
          $"e.rows".getItem(0).getField("rowkey").cast("long").as("rowkey"),
          $"e.rows".getItem(0).getField("d:event_id").cast("long").as("event_id"))
        .groupBy($"region")
        .agg(count(lit(1)).as("n_puts"),
          sum($"rowkey").as("sum_rowkey"),
          sum($"event_id").as("sum_event_id"))
        .orderBy($"region")
    },

    // --- wal source → db/table regex cut at the source ------------------
    // The HBase parity gap closed in r9: a region server's WAL
    // interleaves every table it hosts, and the reference filters by
    // databaseNamePattern/tableNamePattern inside the source
    // (HBaseWALSocketServerInExecutor.scala:131-137). The fixture's
    // table IS the region name, so a `region-00[01]` pattern must keep
    // exactly the user_id % 4 ∈ {0,1} shards — verified against raw
    // events. Offsets stay position-intact (WalSourceSpec proves the
    // filtered stream checkpoints identically to the unfiltered one).
    "src_wal_table_filter" -> { (s, dir) =>
      import s.implicits._
      val df = s.read.format("graft-wal")
        .option("path", walDir(s, dir))
        .option("databaseNamePattern", "wal")
        .option("tableNamePattern", "region-00[01]")
        .load()
      // ONE from_json per envelope (was 4 get_json_object re-parses)
      val env = StructType(Seq(
        StructField("tableName", StringType),
        StructField("type", StringType),
        StructField("rows", ArrayType(StructType(Seq(
          StructField("rowkey", StringType),
          StructField("d:event_id", StringType)))))))
      df.select(from_json($"value", env).as("e"))
        .select(
          $"e.tableName".as("region"),
          $"e.type".as("op"),
          $"e.rows".getItem(0).getField("rowkey").cast("long").as("rowkey"),
          $"e.rows".getItem(0).getField("d:event_id").cast("long").as("event_id"))
        .groupBy($"region", $"op")
        .agg(count(lit(1)).as("n_events"),
          sum($"rowkey").as("sum_rowkey"),
          sum($"event_id").as("sum_event_id"))
        .orderBy($"region", $"op")
    }
  )

  val oracles: Map[String, String] = Map(

    "src_binlog_opmix" ->
      s"""SELECT ${graft.cdc.OpMapping.sql} AS op, count(*) AS n_events,
         |  CAST(sum(event_id) AS BIGINT) AS sum_event_id,
         |  CAST(sum(user_id) AS BIGINT) AS sum_user_id
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "src_binlog_redaction" ->
      s"""SELECT ${graft.cdc.OpMapping.sql} AS op, count(*) AS n_events,
         |  CAST(sum(event_id) AS BIGINT) AS sum_event_id,
         |  CAST(sum(user_id) AS BIGINT) AS sum_user_id
         |FROM events WHERE user_id % 97 <> 0
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "src_binlog_schema_drift" ->
      s"""SELECT ${graft.cdc.OpMapping.sql} AS op, count(*) AS n_events,
         |  count(CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP)) >= ($driftCutSql)
         |        THEN 1 END) AS n_scored,
         |  CAST(sum(CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP)) >= ($driftCutSql)
         |        THEN event_id % 1000 END) AS BIGINT) AS sum_score,
         |  CAST(sum(event_id) AS BIGINT) AS sum_event_id
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "src_binlog_ddl_stream" ->
      s"""SELECT op, count(*) AS n_events,
         |  CAST(0 AS BIGINT) AS n_stmts, CAST(NULL AS VARCHAR) AS stmt,
         |  CAST(sum(event_id) AS BIGINT) AS sum_event_id
         |FROM (SELECT ${graft.cdc.OpMapping.sql} AS op, event_id FROM events)
         |GROUP BY op
         |UNION ALL
         |SELECT 'ddl', CAST(1 AS BIGINT), CAST(1 AS BIGINT),
         |  'ALTER TABLE graft.events ADD COLUMN score BIGINT',
         |  CAST(NULL AS BIGINT)
         |ORDER BY op""".stripMargin,

    "src_binlog_multitable" ->
      s"""SELECT event_type AS table_name, count(*) AS n_events,
         |  CAST(sum(event_id) AS BIGINT) AS sum_event_id,
         |  CAST(sum(${graft.queries.Q.centsSql("value")}) AS BIGINT) AS value_cents
         |FROM events WHERE event_type IN ('click', 'purchase')
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "src_binlog_sink_format" ->
      s"""SELECT event_type AS table_name, count(*) AS n_rows,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  CAST(sum(${graft.queries.Q.centsSql("value")}) AS BIGINT) AS value_cents,
         |  max(event_id) AS max_event_id
         |FROM events WHERE event_type IN ('signup', 'view')
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "src_binlog_fanout" ->
      s"""SELECT event_type AS table_name, count(*) AS n_rows,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  CAST(sum(${graft.queries.Q.centsSql("value")}) AS BIGINT) AS value_cents
         |FROM events WHERE event_type IN ('click', 'purchase')
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the replayed atomic batch converges to the same per-table content
    // the non-atomic fan-out serves
    "cdc_atomic_fanout" ->
      s"""SELECT event_type AS table_name, count(*) AS n_rows,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  CAST(sum(${graft.queries.Q.centsSql("value")}) AS BIGINT) AS value_cents
         |FROM events WHERE event_type IN ('click', 'purchase')
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "src_binlog_before_images" ->
      s"""WITH lagged AS (
         |  SELECT ${graft.cdc.OpMapping.sql} AS op,
         |    lag(event_id) OVER w AS prev_id,
         |    lag(event_type) OVER w AS prev_type,
         |    lag(value) OVER w AS prev_value
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id
         |               ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)), event_id))
         |SELECT op, count(*) AS n_events,
         |  count(CASE WHEN op = 'update' AND prev_type <> 'error'
         |        THEN 1 END) AS n_with_before,
         |  CAST(sum(CASE WHEN op = 'update' AND prev_type <> 'error'
         |        THEN prev_id END) AS BIGINT) AS sum_before_id,
         |  CAST(sum(CASE WHEN op = 'update' AND prev_type <> 'error'
         |        THEN ${graft.queries.Q.centsSql("prev_value")} END)
         |    AS BIGINT) AS before_value_cents
         |FROM lagged GROUP BY 1 ORDER BY 1""".stripMargin,

    "src_binlog_bootstrap_handoff" ->
      s"""SELECT user_id, event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id,
         |    ${graft.queries.Q.centsSql("value")} AS value_cents,
         |    ${graft.cdc.OpMapping.sql} AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete'
         |ORDER BY user_id""".stripMargin,

    "src_binlog_txn_batches" ->
      s"""WITH ordered AS (
         |  SELECT event_id,
         |    row_number() OVER (ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)), event_id) AS rn
         |  FROM events)
         |SELECT CAST((rn - 1) // $TxnSize AS BIGINT) AS txn_id,
         |  count(*) AS n_records,
         |  CAST(1 AS BIGINT) AS n_batches,
         |  CAST(sum(event_id) AS BIGINT) AS sum_event_id
         |FROM ordered GROUP BY 1 ORDER BY 1""".stripMargin,

    // deletes tombstone their key; latest state per rowkey across all
    // regions == latest state per user over raw events
    "src_wal_replica_state" ->
      s"""SELECT user_id, event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id,
         |    ${graft.queries.Q.centsSql("value")} AS value_cents, event_type,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND event_type <> 'error'
         |ORDER BY user_id""".stripMargin,

    "src_wal_region_mix" ->
      s"""SELECT
         |  'region-' || lpad(CAST(user_id % $NumWalRegions AS VARCHAR), 3, '0') AS region,
         |  CASE WHEN event_type = 'error' THEN 'delete' ELSE 'put' END AS op,
         |  count(*) AS n_events,
         |  CAST(sum(user_id) AS BIGINT) AS sum_rowkey,
         |  CAST(sum(event_id) AS BIGINT) AS sum_event_id
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "src_binlog_sql_table" ->
      s"""SELECT ${graft.cdc.OpMapping.sql} AS op, count(*) AS n_events,
         |  CAST(sum(event_id) AS BIGINT) AS sum_event_id,
         |  CAST(sum(user_id) AS BIGINT) AS sum_user_id
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "src_binlog_pushdown" ->
      s"""SELECT ${graft.cdc.OpMapping.sql} AS op, count(*) AS n_events,
         |  CAST(sum(event_id) AS BIGINT) AS sum_event_id,
         |  CAST(sum(user_id) AS BIGINT) AS sum_user_id
         |FROM events WHERE event_type IN ('signup', 'error')
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "src_wal_pushdown" ->
      s"""SELECT
         |  'region-' || lpad(CAST(user_id % $NumWalRegions AS VARCHAR), 3, '0') AS region,
         |  count(*) AS n_puts,
         |  CAST(sum(user_id) AS BIGINT) AS sum_rowkey,
         |  CAST(sum(event_id) AS BIGINT) AS sum_event_id
         |FROM events
         |WHERE user_id % $NumWalRegions IN (2, 3) AND event_type <> 'error'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "src_wal_table_filter" ->
      s"""SELECT
         |  'region-' || lpad(CAST(user_id % $NumWalRegions AS VARCHAR), 3, '0') AS region,
         |  CASE WHEN event_type = 'error' THEN 'delete' ELSE 'put' END AS op,
         |  count(*) AS n_events,
         |  CAST(sum(user_id) AS BIGINT) AS sum_rowkey,
         |  CAST(sum(event_id) AS BIGINT) AS sum_event_id
         |FROM events WHERE user_id % $NumWalRegions IN (0, 1)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
