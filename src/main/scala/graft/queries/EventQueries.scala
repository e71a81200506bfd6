package graft.queries

import graft.Tables
import graft.functions.CdcColumns
import graft.operators.AsOfJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Q.{cents, centsSql}

/** Queries over the `events` stream table: event-time windowing,
  * sessionization, pivot, as-of join, and the batch-shaped CDC
  * semantics of the reference (latest-state upsert, changelog apply,
  * offset arithmetic, envelope round-trip). The streaming twins of
  * these run in the Structured Streaming test suites; these batch
  * forms are what the DuckDB oracle can check.
  */
object EventQueries {

  type QFn = (SparkSession, String) => DataFrame

  /** JSON envelope schema (FIXTURES.md §3): type/timestamp/db/table/
    * schema + rows array — the reference's event shape (AbstractEventWriter).
    */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("timestamp", LongType),
    StructField("databaseName", StringType),
    StructField("tableName", StringType),
    StructField("schema", StringType),
    StructField("rows", ArrayType(StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("value", DoubleType)))))))

  /** Build-once replica store shared by the `cdc_replica_*` READ
    * queries (lookup / snapshot / diff / audit): the events changelog
    * applied to a bucket-scoped versioned replica in TWO time-split
    * micro-batches — v1 = pre-midpoint state, v2 = final state. One
    * store serving many read paths is the honest deployment shape (a
    * CDC sink is built once, then looked up, snapshotted, diffed and
    * audited against the same files); rebuilding it inside each read
    * query would time the MERGE four times. The build cost is reported
    * by Bench under `artifacts` ("cdc-replica"), nothing is hidden.
    * Mutating queries (`cdc_replica_compact`, `cdc_replica_evolve`)
    * keep their own private builds.
    */
  /** Recursive file copy — mutating replica queries (erasure) operate
    * on a copy of the build-once store, never the artifact itself.
    */
  private def copyDir(from: String, to: String): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(from), new java.io.File(to), false)

  /** Run two INDEPENDENT store operations as concurrent Spark jobs
    * (guide §2.6: actions are only sequential because driver code
    * calls them sequentially). Used where a gate drives the same
    * mutation against two disjoint stores (SQL copy vs API copy) and
    * only compares AFTER both land — the second op back-fills the
    * executor tail the first leaves idle. On failure the other side's
    * Spark jobs are cancelled and its thread awaited before the
    * rethrow ([[graft.streaming.ConcurrentJobs.run]]), so no mutation
    * outlives the call.
    */
  private[queries] def par2[A, B](s: SparkSession)(a: => A, b: => B): (A, B) = {
    var ra: Option[A] = None
    var rb: Option[B] = None
    graft.streaming.ConcurrentJobs.run(s,
      Seq(() => ra = Some(a), () => rb = Some(b)))
    (ra.get, rb.get)
  }

  private[queries] def sharedReplica(s: SparkSession, dir: String): String =
    graft.llm.IndexArtifacts.cachedPath(dir, "cdc-replica") { out =>
      import s.implicits._
      import graft.streaming.CdcStream
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", $"ts",
          cents($"value").as("value_cents"), opCol($"event_type").as("op"))
      // time-split: both halves ordered, so the second apply's net is
      // each key's global last op (rows in one millisecond never split)
      val mm = ev.agg(min(unix_millis($"ts")), max(unix_millis($"ts"))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val orderCols = Seq(col("ts"), col("event_id"))
      // recordChanges: the same store also serves the change-feed read
      // queries — each version carries its committed net (delta-sized)
      CdcStream.applyBatchToReplica(out,
        ev.filter(unix_millis($"ts") < cut), Seq("user_id"), orderCols,
        recordChanges = true)
      CdcStream.applyBatchToReplica(out,
        ev.filter(unix_millis($"ts") >= cut), Seq("user_id"), orderCols,
        recordChanges = true)
    }

  /** Build-once SOURCE + SHALLOW-CLONE store pair shared by
    * `cdc_replica_clone` and `cdc_store_history`: the standard
    * two-time-split-merge source (versions 1–2, recordChanges), a
    * zero-copy [[graft.streaming.CdcStream.cloneReplica]] of it
    * (clone version 3 = source current + 1 — the numbering that keeps
    * the deferred fold's path-derived delta sequence monotonic), and
    * one divergent copy-on-write batch on the clone: a delete of
    * every `user_id % 5 == 0` key, ordered past the source's max
    * (ts + 60 s, event_id above the max), so it wins every per-key
    * net it touches (version 4, recordChanges).
    */
  private def clonedStores(s: SparkSession, dir: String): String =
    graft.llm.IndexArtifacts.cachedPath(dir, "cdc-clone",
        inputs = Seq(s"$dir/events.parquet")) { out =>
      import s.implicits._
      import graft.streaming.CdcStream
      val src = s"$out/source"; val clone = s"$out/clone"
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", $"ts",
          cents($"value").as("value_cents"), opCol($"event_type").as("op"))
      val mm = ev.agg(min(unix_millis($"ts")), max(unix_millis($"ts")),
        max($"event_id")).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val orderCols = Seq(col("ts"), col("event_id"))
      CdcStream.applyBatchToReplica(src,
        ev.filter(unix_millis($"ts") < cut), Seq("user_id"), orderCols,
        recordChanges = true)
      CdcStream.applyBatchToReplica(src,
        ev.filter(unix_millis($"ts") >= cut), Seq("user_id"), orderCols,
        recordChanges = true)
      CdcStream.cloneReplica(src, clone)
      val divergent = ev.filter($"user_id" % 5 === 0)
        .select($"user_id").distinct()
        .select($"user_id",
          ($"user_id" + lit(mm.getLong(2) + 1L)).as("event_id"),
          timestamp_millis(lit(mm.getLong(1) + 60000L)).as("ts"),
          lit(0L).as("value_cents"), lit("delete").as("op"))
      CdcStream.applyBatchToReplica(clone, divergent, Seq("user_id"),
        orderCols, recordChanges = true)
    }

  /** Build-once CLONE-REFRESH pair: source merges its first third
    * (v1, recordChanges), a zero-copy clone branches (clone-initial
    * v2), source retention is PINNED at the cloned version (the
    * clone-aware GC knob — without it the source's TWO subsequent
    * commits GC v1 files the clone still references), the source
    * advances two feed-recorded versions (second third → v2, rest →
    * v3), and [[graft.streaming.CdcStream.refreshClone]] drains the
    * source feed from the fork in ONE catch-up merge. After refresh
    * the clone's state must equal the source's — the gate reads both
    * stores under one hash.
    */
  private def refreshedClone(s: SparkSession, dir: String): String =
    graft.llm.IndexArtifacts.cachedPath(dir, "cdc-clone-refresh",
        inputs = Seq(s"$dir/events.parquet")) { out =>
      import s.implicits._
      import graft.streaming.CdcStream
      val src = s"$out/source"; val clone = s"$out/clone"
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", $"ts",
          cents($"value").as("value_cents"), opCol($"event_type").as("op"))
      val mm = ev.agg(min(unix_millis($"ts")), max(unix_millis($"ts"))).head()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val cuts = Seq(mn + (mx - mn) / 3, mn + 2 * ((mx - mn) / 3))
      val orderCols = Seq(col("ts"), col("event_id"))
      CdcStream.applyBatchToReplica(src,
        ev.filter(unix_millis($"ts") < cuts(0)), Seq("user_id"), orderCols,
        recordChanges = true)
      val forkV = CdcStream.cloneReplica(src, clone) - 1 // src current at fork
      CdcStream.pinReplicaRetention(src,
        CdcStream.retentionFloorFor(src, forkV))
      CdcStream.applyBatchToReplica(src,
        ev.filter(unix_millis($"ts") >= cuts(0) &&
          unix_millis($"ts") < cuts(1)), Seq("user_id"), orderCols,
        recordChanges = true)
      CdcStream.applyBatchToReplica(src,
        ev.filter(unix_millis($"ts") >= cuts(1)), Seq("user_id"), orderCols,
        recordChanges = true)
      CdcStream.refreshClone(s, clone, Seq("user_id"), orderCols)
    }

  /** Build-once CONSISTENT-RESTORE fleet: the same two-table layout as
    * [[consistentTables]] (clicks 3 watermarked batches, orders lags
    * at 2), then [[graft.streaming.CdcStream.restoreConsistentTables]]
    * rolls the fleet back to the default global point — min over
    * tables of the newest watermark = orders' lag point — so clicks
    * restores one version (metadata-only) and orders no-ops at its
    * current version. Both tables land at the same source moment.
    */
  private def restoredConsistentTables(s: SparkSession, dir: String): String = {
    import s.implicits._
    import graft.streaming.CdcStream
    graft.llm.IndexArtifacts.cachedPath(dir, "restore-consistent",
      inputs = Seq(s"$dir/events.parquet")) { out =>
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
          cents($"value").as("value_cents"), opCol($"event_type").as("op"),
          $"event_type")
      val mm = ev.agg(min($"ms"), max($"ms")).head()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val cuts = Seq(mn + (mx - mn) / 3, mn + 2 * ((mx - mn) / 3))
      val orderCols = Seq(col("ms"), col("event_id"))
      val x = ev.filter($"event_type".isin("click", "view"))
        .drop("event_type")
      val y = ev.filter(!$"event_type".isin("click", "view"))
        .drop("event_type")
      // the two tables are independent stores — their commit chains
      // (each internally version-ordered) overlap as concurrent jobs
      // (guide §2.6, r16)
      par2(s)({
        CdcStream.applyBatchToReplica(s"$out/clicks",
          x.filter($"ms" < cuts(0)), Seq("user_id"), orderCols,
          watermark = Some(cuts(0)))
        CdcStream.applyBatchToReplica(s"$out/clicks",
          x.filter($"ms" >= cuts(0) && $"ms" < cuts(1)), Seq("user_id"),
          orderCols, watermark = Some(cuts(1)))
        CdcStream.applyBatchToReplica(s"$out/clicks",
          x.filter($"ms" >= cuts(1)), Seq("user_id"), orderCols,
          watermark = Some(mx + 1))
      }, {
        CdcStream.applyBatchToReplica(s"$out/orders",
          y.filter($"ms" < cuts(0)), Seq("user_id"), orderCols,
          watermark = Some(cuts(0)))
        CdcStream.applyBatchToReplica(s"$out/orders",
          y.filter($"ms" >= cuts(0) && $"ms" < cuts(1)), Seq("user_id"),
          orderCols, watermark = Some(cuts(1)))
      })
      CdcStream.restoreConsistentTables(s,
        Seq(s"$out/clicks", s"$out/orders"))
    }
  }

  /** Build-once two-table replica pair with per-version source
    * watermarks — clicks applies 3 batches (thirds cuts, then the
    * remainder), orders lags at 2 — shared by the consistent-snapshot
    * read and the lag report.
    */
  private def consistentTables(s: SparkSession, dir: String): String = {
    import s.implicits._
    import graft.streaming.CdcStream
    graft.llm.IndexArtifacts.cachedPath(dir, "consistent-tables",
      inputs = Seq(s"$dir/events.parquet")) { out =>
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
          cents($"value").as("value_cents"), opCol($"event_type").as("op"),
          $"event_type")
      val mm = ev.agg(min($"ms"), max($"ms")).head()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val cuts = Seq(mn + (mx - mn) / 3, mn + 2 * ((mx - mn) / 3))
      val orderCols = Seq(col("ms"), col("event_id"))
      val x = ev.filter($"event_type".isin("click", "view"))
        .drop("event_type")
      val y = ev.filter(!$"event_type".isin("click", "view"))
        .drop("event_type")
      // independent stores: the two commit chains overlap (§2.6, r16)
      par2(s)({
        CdcStream.applyBatchToReplica(s"$out/clicks",
          x.filter($"ms" < cuts(0)), Seq("user_id"), orderCols,
          watermark = Some(cuts(0)))
        CdcStream.applyBatchToReplica(s"$out/clicks",
          x.filter($"ms" >= cuts(0) && $"ms" < cuts(1)), Seq("user_id"),
          orderCols, watermark = Some(cuts(1)))
        CdcStream.applyBatchToReplica(s"$out/clicks",
          x.filter($"ms" >= cuts(1)), Seq("user_id"), orderCols,
          watermark = Some(mx + 1))
      }, {
        CdcStream.applyBatchToReplica(s"$out/orders",
          y.filter($"ms" < cuts(0)), Seq("user_id"), orderCols,
          watermark = Some(cuts(0)))
        CdcStream.applyBatchToReplica(s"$out/orders",
          y.filter($"ms" >= cuts(0) && $"ms" < cuts(1)), Seq("user_id"),
          orderCols, watermark = Some(cuts(1)))
      })
    }
  }

  /** Phase 1 of an e2e kill drill: drain `q` until the armed `kill`
    * stops it; any other failure is rethrown. Three or more data
    * triggers without the kill firing fail the drill: nothing tore, so
    * the restart would prove nothing.
    */
  private def runUntilKilled(q: org.apache.spark.sql.streaming.StreamingQuery,
      kill: graft.streaming.CommitFaults.Arming): Unit = {
    try q.processAllAvailable()
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException
          if graft.streaming.CommitFaults.isInjectedKill(e.getCause) =>
    } finally { kill.disarm(); if (q.isActive) q.stop() }
    val triggers = q.recentProgress.count(_.numInputRows > 0)
    require(kill.fired || triggers < 3, s"e2e drill: $triggers data " +
      "triggers ran but the kill at the primary's third commit never fired")
  }

  /** signup→insert, error→delete, else update — the shared
    * [[graft.cdc.OpMapping]] (generator + queries + oracles). */
  private def opCol(eventType: org.apache.spark.sql.Column) =
    graft.cdc.OpMapping.col(eventType)

  /** ONE builder for the single-bucket two-commit history store BOTH
    * `cdc_history_manifest` and `cdc_sql_maintenance` read (they share
    * the cachedPath key, so a drifting copy-pasted builder would let
    * whichever gate ran first feed the other a store its oracle no
    * longer matches).
    */
  private def historyStore(s: SparkSession, dir: String): String =
    graft.llm.IndexArtifacts.cachedPath(dir, "cdc-history-manifest",
        inputs = Seq(s"$dir/events.parquet")) { out =>
      import s.implicits._
      import graft.streaming.CdcStream
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", $"ts",
          cents($"value").as("value_cents"), opCol($"event_type").as("op"))
      val mm = ev.agg(min(unix_millis($"ts")), max(unix_millis($"ts"))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val ord = Seq(col("ts"), col("event_id"))
      CdcStream.applyBatchToReplica(out,
        ev.filter(unix_millis($"ts") < cut), Seq("user_id"), ord,
        numBuckets = 1)
      CdcStream.applyBatchToReplica(out,
        ev.filter(unix_millis($"ts") >= cut), Seq("user_id"), ord,
        numBuckets = 1, recordChanges = true)
      ()
    }

  /** ONE builder for the band-indexed (primary, index) pair BOTH
    * `cdc_index_range` and `cdc_replica_zonemap` read (they share the
    * `gsi-shared` cachedPath key — the same drifting-copy-paste hazard
    * [[historyStore]] closes for the history pair: if one copy were
    * edited, whichever gate ran first would feed the other a store its
    * oracle no longer matches).
    */
  private def gsiSharedStore(s: SparkSession, dir: String): String =
    graft.llm.IndexArtifacts.cachedPath(dir, "gsi-shared",
        inputs = Seq(s"$dir/events.parquet")) { out =>
      import s.implicits._
      import graft.streaming.SecondaryIndex
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
          cents($"value").as("value_cents"), opCol($"event_type").as("op"))
      SecondaryIndex.applyBatchWithIndex(s, s"$out/primary", s"$out/index",
        ev, Seq("user_id"), Seq("ms", "event_id"),
        expr("value_cents div 1000"), "band")
    }

  /** fsck checks EXCLUDED from correctness gates: time/liveness-based
    * findings fsckReplica documents as transient-capable on a live or
    * long-cached store (shared by `cdc_fsck` and `cdc_sql_maintenance`).
    */
  private val FsckAdvisoryChecks = Seq("stale_lock", "stale_debris",
    "orphan_version", "frozen", "retention_pin")

  private val opSql = graft.cdc.OpMapping.sql

  val defs: Map[String, QFn] = Map(
    // --- q19: event-time tumbling window aggregation --------------------
    "q19_events_hourly" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir).events
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n_events"), sum(cents($"value")).as("value_cents"))
        .select(unix_millis($"window.start").as("hour_start_ms"),
          $"event_type", $"n_events", $"value_cents")
        .orderBy($"hour_start_ms", $"event_type")
    },

    // --- q20: sessionization (30-min gap session windows) ---------------
    "q20_sessionize" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir).events
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"), sum(cents($"value")).as("value_cents"))
        .select($"user_id", unix_millis($"session_window.start").as("session_start_ms"),
          $"n_events", $"value_cents")
        .orderBy($"user_id", $"session_start_ms")
    },

    // --- q21: pivot (counts per event_type per user) --------------------
    "q21_pivot" -> { (s, dir) =>
      import s.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = Tables(s, dir).events
        .groupBy($"user_id")
        .pivot("event_type", types)
        .count()
      types.foldLeft(p) { (d, t) => d.withColumn(t, coalesce(col(t), lit(0L))) }
        .orderBy($"user_id")
    },

    // --- q22: as-of join (latest click at-or-before each purchase) ------
    "q22_asof_last_click" -> { (s, dir) =>
      import s.implicits._
      AsOfJoin.lastAtOrBefore(
          Tables(s, dir).events,
          key = $"user_id", time = $"ts", tiebreak = $"event_id",
          leftPred = $"event_type" === "purchase",
          rightPred = $"event_type" === "click",
          valueCol = $"event_id", asName = "last_click_id")
        .select($"event_id", $"user_id", cents($"value").as("value_cents"), $"last_click_id")
        .orderBy($"event_id")
    },

    // --- q53: the NATIVE as-of join (custom LogicalPlan → Strategy →
    // SparkPlan chain) — same semantics as q22, different executor: two
    // hash-clustered sorted children and ONE O(|L|+|R|) merge per
    // partition (graft.plans.AsOfJoinExec), no window buffering, no
    // union re-sort. The oracle is q22's window formulation: two
    // implementations, one fixpoint — which is exactly what gates the
    // custom operator's correctness.
    "q53_asof_native" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables(s, dir).events
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts", cents($"value").as("value_cents"))
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"ts", $"event_id".as("click_id"))
      AsOfJoin.joinNative(purchases, clicks, Seq("user_id"),
          struct($"ts", $"event_id"), struct($"ts", $"click_id"),
          Seq("click_id" -> "last_click_id"))
        .select($"event_id", $"user_id", $"value_cents", $"last_click_id")
        .orderBy($"event_id")
    },

    // --- q38: forward as-of join (next purchase at-or-after each click) --
    // The mirror of q22: per click, the NEXT purchase — the
    // time-to-conversion / label-attribution lookup every
    // click-attribution pipeline runs. Same union + carry plan with
    // the frame reversed (first over CURRENT ROW..UNBOUNDED
    // FOLLOWING), still one keyed shuffle, linear in |L|+|R|.
    "q38_asof_next_purchase" -> { (s, dir) =>
      import s.implicits._
      AsOfJoin.firstAtOrAfter(
          Tables(s, dir).events,
          key = $"user_id", time = $"ts", tiebreak = $"event_id",
          leftPred = $"event_type" === "click",
          rightPred = $"event_type" === "purchase",
          valueCol = $"event_id", asName = "next_purchase_id")
        .select($"event_id", $"user_id", $"next_purchase_id")
        .orderBy($"event_id")
    },

    // --- q43: ordered conversion funnel ----------------------------------
    // The product-analytics staple: how many users performed
    // view → click → purchase IN ORDER (each step strictly after the
    // previous one, not merely "did all three")? Sequencing is pure
    // conditional window aggregation — t1 = first view, t2 = first
    // click AFTER t1, t3 = first purchase AFTER t2 — so every step
    // and the per-user rollup share ONE hashpartitioning(user_id)
    // exchange; the cross-user summary is a single partial+final agg
    // to 3 rows. No self-joins (the naive k-step formulation is k−1
    // corpus self-joins), no state machine, and the same plan at any
    // user count. Conversion rates are exact integer ppm.
    "q43_funnel" -> { (s, dir) =>
      import s.implicits._
      val wU = Window.partitionBy($"user_id")
      val staged = Tables(s, dir).events
        .withColumn("t1",
          min(when($"event_type" === "view", $"ts")).over(wU))
        .withColumn("t2",
          min(when($"event_type" === "click" && $"ts" > $"t1", $"ts")).over(wU))
        .withColumn("t3",
          min(when($"event_type" === "purchase" && $"ts" > $"t2", $"ts")).over(wU))
      val perUser = staged.groupBy($"user_id")
        .agg(max($"t1").as("t1"), max($"t2").as("t2"), max($"t3").as("t3"))
      val counts = perUser.agg(
        sum(when($"t1".isNotNull, 1L).otherwise(0L)).as("n1"),
        sum(when($"t2".isNotNull, 1L).otherwise(0L)).as("n2"),
        sum(when($"t3".isNotNull, 1L).otherwise(0L)).as("n3"))
      counts.select(expr(
          """stack(3,
            |  1, 'view', n1, 1000000L,
            |  2, 'click', n2, CASE WHEN n1 > 0 THEN n2 * 1000000L div n1 ELSE 0L END,
            |  3, 'purchase', n3, CASE WHEN n2 > 0 THEN n3 * 1000000L div n2 ELSE 0L END)
            |AS (step, event_type, n_users, conv_ppm)""".stripMargin))
        .orderBy($"step")
    },

    // --- q44: weekly cohort retention matrix -----------------------------
    // The other product-analytics staple next to q43's funnel: bucket
    // users by the week of their FIRST activity (their cohort), then
    // for each later week count how many are still active —
    // the (cohort, offset) retention matrix. Shape: distinct
    // (user, week) first (a keyed partial agg that collapses any
    // per-user event skew map-side), cohort = min(week) per user on
    // the SAME user-keyed exchange, then a (cohort, offset) agg whose
    // output is |weeks|² rows — trivially small at any user count.
    // The k=0 diagonal IS the cohort size, so retention_ppm needs no
    // extra pass. Week arithmetic is Monday-aligned date_trunc in
    // both engines; offsets are exact integer day-diffs DIV 7.
    "q44_cohort_retention" -> { (s, dir) =>
      import s.implicits._
      val uw = Tables(s, dir).events
        .select($"user_id", to_date(date_trunc("week", $"ts")).as("wk"))
        .distinct()
      val cohort = uw.groupBy($"user_id").agg(min($"wk").as("cw"))
      val act = uw.join(cohort, "user_id")
        .select($"cw", expr("datediff(wk, cw) div 7").cast("long").as("k"))
        .groupBy($"cw", $"k").agg(count(lit(1)).as("n_active"))
      val sizes = act.filter($"k" === 0)
        .select($"cw", $"n_active".as("n_cohort"))
      act.join(broadcast(sizes), "cw")
        .select($"cw".cast("string").as("cohort_week"),
          $"k".as("week_offset"), $"n_active", $"n_cohort",
          expr("n_active * 1000000L div n_cohort").as("retention_ppm"))
        .orderBy($"cohort_week", $"week_offset")
    },

    // --- q23: salted join (hot-key mitigation, identical result) --------
    // The fact side gets a deterministic salt shard and the dim side is
    // replicated ×SaltN, so the shuffle key becomes (user_id, salt): a
    // hot user spreads over SaltN tasks instead of hotspotting one.
    // Result is provably identical to the plain join — the oracle runs
    // the UNsalted SQL.
    "q23_salted_join" -> { (s, dir) =>
      import s.implicits._
      val t = Tables(s, dir)
      val SaltN = 8
      val fact = t.events.withColumn("fsalt", pmod($"event_id", lit(SaltN.toLong)))
      val dim = t.customer.select($"c_custkey", $"c_mktsegment")
        .withColumn("dsalt",
          explode(sequence(lit(0L), lit(SaltN.toLong - 1))))
      fact.join(dim, $"user_id" === $"c_custkey" && $"fsalt" === $"dsalt")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_events"), sum(cents($"value")).as("value_cents"))
        .orderBy($"c_mktsegment")
    },

    // --- cdc: latest-state materialization (upsert semantics) -----------
    "cdc_latest_state" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      Tables(s, dir).events
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id".as("last_event_id"),
          $"event_type".as("last_type"), cents($"value").as("last_value_cents"))
        .orderBy($"user_id")
    },

    // --- cdc: apply an insert/update/delete changelog to a replica ------
    "cdc_apply_changelog" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      val wAll = Window.partitionBy($"user_id")
      Tables(s, dir).events
        .withColumn("op", opCol($"event_type"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_ops", count(lit(1)).over(wAll))
        .filter($"rn" === 1 && $"op" =!= "delete")
        .select($"user_id", cents($"value").as("value_cents"), $"n_ops")
        .orderBy($"user_id")
    },

    // --- cdc: replica build + bucket-pruned key lookup -------------------
    // End-to-end MERGE surface: the events changelog applies to the
    // bucket-scoped versioned replica store in TWO time-split
    // micro-batches (the later batch's per-key net op wins, exactly the
    // streaming foreachBatch shape), then a bounded key set reads back
    // through readReplicaForKeys — candidate buckets derive from the
    // keys, so the lookup scans only their buckets' files. The oracle
    // is the plain global latest-state query filtered to the key set.
    // The replica store itself is the build-once [[sharedReplica]]
    // artifact: one store, many read paths, like a real CDC sink.
    "cdc_replica_lookup" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val replica = sharedReplica(s, dir)
      val keys = Tables(s, dir).events.filter($"user_id" % 3 === 1)
        .select($"user_id").distinct()
      CdcStream.readReplicaForKeys(s, replica, Seq("user_id"), keys).get
        .select($"user_id", $"event_id".as("last_event_id"), $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: compaction of the replica store ----------------------------
    // Three time-split micro-batches leave the manifest referencing
    // buckets across several version dirs (any bucket the last batch
    // didn't touch is carried over); compactReplica consolidates every
    // carried-over or multi-file bucket into one fresh version (one
    // job, hash-routed by bucket id) WITHOUT changing content — the
    // oracle is the same global latest-state the un-compacted replica
    // serves. The maintenance operation every CDC sink needs at scale:
    // update skew otherwise pins ever more version dirs and small
    // files alive.
    "cdc_replica_compact" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val replica = graft.llm.IndexArtifacts.tempDir("replica-compact")
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", $"ts",
          cents($"value").as("value_cents"), opCol($"event_type").as("op"))
      val mm = ev.agg(min(unix_millis($"ts")), max(unix_millis($"ts"))).head()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val cuts = Seq(mn + (mx - mn) / 3, mn + 2 * ((mx - mn) / 3))
      val orderCols = Seq(col("ts"), col("event_id"))
      val parts = Seq(
        ev.filter(unix_millis($"ts") < cuts(0)),
        ev.filter(unix_millis($"ts") >= cuts(0) &&
          unix_millis($"ts") < cuts(1)),
        ev.filter(unix_millis($"ts") >= cuts(1)))
      parts.foreach(b =>
        CdcStream.applyBatchToReplica(replica, b, Seq("user_id"), orderCols))
      CdcStream.compactReplica(s, replica)
      CdcStream.readReplica(s, replica).get
        .select($"user_id", $"event_id".as("last_event_id"), $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: merge-on-read (deferred MERGE) ------------------------------
    // The streaming-upsert latency path (Hudi MoR / Delta deletion-
    // vector cousin): four time-split batches append their per-key
    // nets as per-bucket DELTA files — one write job each, no base
    // bucket read or rewrite — and the read folds base ∪ deltas
    // newest-net-wins per key. Write amplification per batch drops
    // from O(touched buckets' rows) to O(net), which is the difference
    // between a 0.9 s and a 0.3 s micro-batch floor (STREAMBENCH.json);
    // compaction folds deltas back into single-file base buckets
    // out-of-band. The oracle is the same global last-writer state the
    // eager merge produces — deferral must be invisible to readers.
    "cdc_defer_merge" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val replica = graft.llm.IndexArtifacts.tempDir("replica-mor")
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
          cents($"value").as("value_cents"), opCol($"event_type").as("op"))
      val mm = ev.agg(min($"ms"), max($"ms")).head()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val cuts = (1 to 3).map(i => mn + i * ((mx - mn) / 4))
      val parts = Seq(
        ev.filter($"ms" < cuts(0)),
        ev.filter($"ms" >= cuts(0) && $"ms" < cuts(1)),
        ev.filter($"ms" >= cuts(1) && $"ms" < cuts(2)),
        ev.filter($"ms" >= cuts(2)))
      parts.foreach(b => CdcStream.applyBatchToReplica(replica, b,
        Seq("user_id"), Seq(col("ms"), col("event_id")), deferMerge = true))
      CdcStream.readReplica(s, replica).get
        .select($"user_id", $"event_id".as("last_event_id"), $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: online bucket-count migration (resharding) -----------------
    // The replica's bucket count is pinned at creation; a store that
    // outgrows it must reshard WITHOUT downtime. rebucketReplica
    // rewrites the current state into a fresh version under a 3× finer
    // hash layout and flips the manifest count in the same atomic
    // commit (readers mid-scan keep the old layout; the commit-lock
    // serializes against concurrent merges). The timed op is the
    // migration itself against a file copy of the shared store, then a
    // KEY-PRUNED lookup through the new manifest — proving routed
    // reads survive the reshard, since a count mismatch between
    // manifest and files would hash keys to the wrong bucket and
    // silently drop them. Oracle: last-writer state for the looked-up
    // shard, straight off the changelog.
    "cdc_rebucket" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val replica = graft.llm.IndexArtifacts.tempDir("replica-rebucket")
      copyDir(sharedReplica(s, dir), replica)
      CdcStream.rebucketReplica(s, replica, Seq("user_id"),
        CdcStream.DefaultReplicaBuckets * 3)
      val keys = Tables(s, dir).events.filter($"user_id" % 3 === 2)
        .select($"user_id").distinct()
      CdcStream.readReplicaForKeys(s, replica, Seq("user_id"), keys).get
        .select($"user_id", $"event_id".as("last_event_id"), $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: global secondary index (value-keyed lookup) ----------------
    // The DynamoDB-GSI / Phoenix-index deployment: a second replica
    // keyed by (indexed value, primary key), hash-routed by the VALUE
    // alone (manifest bucketCols), maintained delta-sized from each
    // batch's net — stale pointers are deleted by consulting the
    // primary's pre-merge state for exactly the touched keys (a
    // key-pruned O(batch) read). The timed op is two batch applies with
    // synchronized index maintenance, then a value-equality lookup that
    // prunes to the values' index buckets, drives a key-pruned primary
    // read, and read-repairs against the primary. Updates that MOVE a
    // key across bands are the interesting case (the oracle's
    // last-writer state catches any stale entry the delete path
    // missed). Never an O(table) scan on either side.
    "cdc_secondary_index" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.SecondaryIndex
      val primary = graft.llm.IndexArtifacts.tempDir("gsi-primary")
      val index = graft.llm.IndexArtifacts.tempDir("gsi-index")
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
          cents($"value").as("value_cents"), opCol($"event_type").as("op"))
      val mm = ev.agg(min($"ms"), max($"ms")).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val band = expr("value_cents div 1000")
      // the INDEX side merges deferred (delta-sized by construction);
      // the primary stays eager here — with batches this large relative
      // to the store, deferring the primary makes every subsequent
      // old-value read pay a fold that costs more than the saved
      // rewrite (measured: 3.6s -> 5.7s), the opposite trade of the
      // small-micro-batch streaming case deferPrimaryMerge exists for
      SecondaryIndex.applyBatchWithIndex(s, primary, index,
        ev.filter($"ms" < cut), Seq("user_id"), Seq("ms", "event_id"),
        band, "band", deferIndexMerge = true)
      SecondaryIndex.applyBatchWithIndex(s, primary, index,
        ev.filter($"ms" >= cut), Seq("user_id"), Seq("ms", "event_id"),
        band, "band", deferIndexMerge = true)
      SecondaryIndex.lookupByIndex(s, primary, index, Seq("user_id"),
          band, "band", Seq(2L, 3L).toDF("band"))
        .select($"band", $"user_id", $"event_id".as("last_event_id"),
          $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: GSI × ORDER-CONDITIONAL merge (r14 composition) ------------
    // The engine's one former self-documented refusal, closed: GSI
    // maintenance under OUT-OF-ORDER batches. The index delta is the
    // POST-STATE DIFF of the conditional fold, not the batch — per
    // key, the incoming net row transitions any index only when it
    // WINS the merge's order compare against the stored row (or a
    // stored tombstone at its recorded order; the old-value read keeps
    // tombstones for exactly this). A late-losing batch must neither
    // erase a winning entry, nor insert its own, nor resurrect a
    // tombstoned key's entry. The changelog splits by event_id PARITY
    // (each half spans the whole time range) and applies odd-half
    // first with TWO synchronized GSIs: for every user whose true last
    // event sits in the first-applied half, the second batch's rows
    // LOSE — only the post-state-diff derivation keeps the indexes
    // exact, which the banded lookup (bucket-pruned, read-repaired)
    // proves against the oracle's global last-writer fold. Cost shape
    // is unchanged: one key-pruned tombstone-keeping read + one window
    // over (stored ∪ net) per batch — never O(table).
    "cdc_gsi_conditional" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.SecondaryIndex
      val primary = graft.llm.IndexArtifacts.tempDir("gsi-cond-primary")
      val idxBand = graft.llm.IndexArtifacts.tempDir("gsi-cond-band")
      val idxType = graft.llm.IndexArtifacts.tempDir("gsi-cond-type")
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
          cents($"value").as("value_cents"), $"event_type",
          opCol($"event_type").as("op"))
      // index side merges DEFERRED — the delta-sized index batch is the
      // natural merge-on-read shape (same trade cdc_secondary_index
      // documents); the primary stays eager at this batch/store ratio
      val specs = Seq(
        SecondaryIndex.IndexSpec(idxBand, expr("value_cents div 1000"),
          "band", defer = true),
        SecondaryIndex.IndexSpec(idxType, col("event_type"), "etype",
          defer = true))
      Seq(1, 0).foreach { parity =>
        SecondaryIndex.applyBatchWithIndexes(s, primary, specs,
          ev.filter($"event_id" % 2 === parity), Seq("user_id"),
          Seq("ms", "event_id"), conditionalOrder = true)
      }
      SecondaryIndex.lookupByIndex(s, primary, idxBand, Seq("user_id"),
          expr("value_cents div 1000"), "band", Seq(2L, 3L).toDF("band"))
        .select($"band", $"user_id", $"event_id".as("last_event_id"),
          $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: CREATE INDEX on an existing store (bootstrap, r10) --------
    // The primary exists FIRST with history and no index; buildIndex
    // bootstraps the banded GSI from its CURRENT state in one
    // value-routed pass, then the ordinary incremental maintenance
    // composes on top for the second half — the lookup must equal the
    // always-indexed store's answer exactly (same oracle as
    // cdc_secondary_index).
    "cdc_index_bootstrap" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.SecondaryIndex
      val primary = graft.llm.IndexArtifacts.tempDir("gsi-boot-primary")
      val index = graft.llm.IndexArtifacts.tempDir("gsi-boot-index")
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
          cents($"value").as("value_cents"), opCol($"event_type").as("op"))
      val mm = ev.agg(min($"ms"), max($"ms")).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val band = expr("value_cents div 1000")
      graft.streaming.CdcStream.applyBatchToReplica(primary,
        ev.filter($"ms" < cut), Seq("user_id"),
        Seq(col("ms"), col("event_id")))
      SecondaryIndex.buildIndex(s, primary,
        SecondaryIndex.IndexSpec(index, band, "band"),
        Seq("user_id"), Seq("ms", "event_id"))
      SecondaryIndex.applyBatchWithIndex(s, primary, index,
        ev.filter($"ms" >= cut), Seq("user_id"), Seq("ms", "event_id"),
        band, "band", deferIndexMerge = true)
      SecondaryIndex.lookupByIndex(s, primary, index, Seq("user_id"),
          band, "band", Seq(2L, 3L).toDF("band"))
        .select($"band", $"user_id", $"event_id".as("last_event_id"),
          $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: RESTORE × GSI composition (r11; sized recovery r16) -------
    // restoreReplica rolls an indexed primary back METADATA-ONLY,
    // leaving any index stale by documented design. The recovery is
    // SIZE-CONDITIONAL (r16): the restore's feed entry IS the
    // divergence-sized rollback diff, and when the diff is small
    // relative to the rolled-back state — every production rollback at
    // 100 TB — maintainIndexesFromFeed replays that one entry and
    // converges the EXISTING index at O(diff) cost, never a primary
    // scan. When the diff RIVALS the store (this fixture's rollback
    // unwinds half of it), the replay's per-key window + pruned
    // old-value read + index merge measurably cost MORE jobs than the
    // O(store) buildIndex-into-fresh-dir it exists to avoid (78 vs 68
    // jobs, 5.4 vs 4.3 s at sf0.1) — so the policy picks by the two
    // row counts, both free parquet-footer metadata (no Spark job).
    // Both arms are spec-pinned bit-identical in SecondaryIndexSpec,
    // so the choice cannot change the result; the oracle (the first
    // half's last-writer fold, banded) pins either.
    "cdc_restore_indexed" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.{CdcStream, SecondaryIndex}
      val primary = graft.llm.IndexArtifacts.tempDir("gsi-rst-primary")
      val index = graft.llm.IndexArtifacts.tempDir("gsi-rst-index")
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
          cents($"value").as("value_cents"), opCol($"event_type").as("op"))
      val mm = ev.agg(min($"ms"), max($"ms")).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val band = expr("value_cents div 1000")
      SecondaryIndex.applyBatchWithIndex(s, primary, index,
        ev.filter($"ms" < cut), Seq("user_id"), Seq("ms", "event_id"),
        band, "band", recordChanges = true)
      SecondaryIndex.applyBatchWithIndex(s, primary, index,
        ev.filter($"ms" >= cut), Seq("user_id"), Seq("ms", "event_id"),
        band, "band", recordChanges = true)
      CdcStream.restoreReplica(s, primary, toVersion = 1L,
        recordChanges = true)
      val restoredV = CdcStream.replicaCurrentVersion(primary).get
      // diff rows = the restore entry's net; target-state rows = v1's
      // recorded net (exactly the live rows the rollback lands on) —
      // both from parquet footers, zero jobs
      def feedRows(v: Long) = CdcStream.feedChangesDir(primary, v)
        .map(d => graft.llm.IndexArtifacts.parquetRowCount(d.getPath)).getOrElse(0L)
      val diffRows = feedRows(restoredV)
      val targetRows = feedRows(1L)
      val lookupVia =
        if (diffRows * 4 < targetRows) {
          // small diff: replay it through the EXISTING index (whose
          // cursor sits at the pre-restore version — exactly the state
          // the entry's old-value read resolves against)
          SecondaryIndex.maintainIndexesFromFeed(s, primary,
            Seq(SecondaryIndex.IndexSpec(index, band, "band")),
            restoredV, Seq("user_id"), Seq("ms", "event_id"))
          index
        } else {
          // store-sized diff: rebuild into a FRESH dir and swap (the
          // in-place-rebuild refusal is the documented contract);
          // `index` stays as the stale husk
          val index2 = graft.llm.IndexArtifacts.tempDir("gsi-rst-index2")
          SecondaryIndex.buildIndex(s, primary,
            SecondaryIndex.IndexSpec(index2, band, "band"),
            Seq("user_id"), Seq("ms", "event_id"))
          index2
        }
      SecondaryIndex.lookupByIndex(s, primary, lookupVia, Seq("user_id"),
          band, "band", Seq(2L, 3L).toDF("band"))
        .select($"band", $"user_id", $"event_id".as("last_event_id"),
          $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: RANGE lookup through the banded secondary index ------------
    // A hash-routed index can only prune equality probes — but a
    // BANDED index key (value div bandWidth) turns a range predicate
    // into a small IN-list of bands: probe the covering bands through
    // the value-clustered index (each an exact bucket prune), then
    // re-apply the exact range to the read-repaired rows so band
    // edges never leak. This is the DynamoDB "partition key = coarse
    // range, filter the remainder" idiom; cost is O(covering bands + hit
    // keys), never a table scan, and the band width is the knob
    // trading probe fan-out against residual filtering.
    "cdc_index_range" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.SecondaryIndex
      // READ-ONLY query → the (primary, index) pair is a build-once
      // artifact (the sharedReplica convention); the timed op is the
      // banded range probe itself
      val root = gsiSharedStore(s, dir)
      // range [2500, 4500) cents covers bands 2..4; exact bounds
      // re-apply after the read-repair
      val bands = (2L to 4L).toDF("band")
      SecondaryIndex.lookupByIndex(s, s"$root/primary", s"$root/index",
          Seq("user_id"), expr("value_cents div 1000"), "band", bands)
        .filter($"value_cents" >= 2500L && $"value_cents" < 4500L)
        .select($"user_id", $"event_id".as("last_event_id"),
          $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: ZONE-MAP range read over the replica store (r14) -----------
    // Non-key predicates on a replica used to scan every bucket file —
    // only key equality pruned (hash routing). readReplicaRange wires
    // the q54 zone-map machinery into the store's read path: parquet
    // footer min/max stats over the bucket files drop whole files that
    // provably miss the range. The value-clustered index layout makes
    // the stats tight (each indexed value lives in one bucket), so an
    // OPEN-ENDED band range — which hash routing cannot serve at all
    // (no finite IN-list to enumerate; contrast cdc_index_range's
    // bounded band probe) — prunes to the overlapping index files,
    // drives the ordinary key-pruned primary read, and read-repairs
    // with the exact range. Delta-carrying buckets are never
    // file-pruned (a dropped base row could flip a fold winner —
    // documented in readReplicaRange); ZoneMapReplicaSpec asserts the
    // file-count reduction on disjoint-range buckets.
    "cdc_replica_zonemap" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.SecondaryIndex
      // same build-once (primary, banded index) pair as cdc_index_range
      val root = gsiSharedStore(s, dir)
      SecondaryIndex.lookupByIndexRange(s, s"$root/primary", s"$root/index",
          Seq("user_id"), expr("value_cents div 1000"), "band",
          3L, Long.MaxValue)
        .select($"band", $"user_id", $"event_id".as("last_event_id"),
          $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: COVERED index lookup (projected attributes) ----------------
    // The DynamoDB projected-attributes read: the index entries carry
    // the queried columns themselves, so a value probe is ONE index
    // bucket read — the primary is never touched. The build (shared
    // artifact) maintains the index with includeCols; the timed op is
    // the covered probe. At 100 TB this is the difference between one
    // bucket's files and one bucket + a key-pruned primary fan-out —
    // the trade being index storage (entries carry the projection) and
    // the loss of read-repair, both the same trades DynamoDB documents.
    "cdc_gsi_covered" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.SecondaryIndex
      val root = graft.llm.IndexArtifacts.cachedPath(dir, "gsi-covered",
        inputs = Seq(s"$dir/events.parquet")) { out =>
        val ev = Tables(s, dir).events
          .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
            cents($"value").as("value_cents"), opCol($"event_type").as("op"))
        SecondaryIndex.applyBatchWithIndex(s, s"$out/primary", s"$out/index",
          ev, Seq("user_id"), Seq("ms", "event_id"),
          expr("value_cents div 1000"), "band",
          includeCols = Seq("value_cents"))
      }
      SecondaryIndex.lookupCovered(s, s"$root/index", "band",
          Seq(5L, 6L).toDF("band"))
        .select($"band", $"user_id", $"event_id".as("last_event_id"),
          $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: MULTI-INDEX maintenance + index-intersection probe ---------
    // Real stores rarely stop at one GSI. One batch apply maintains TWO
    // indexes (value band; a mod-97 residue class) with a SINGLE
    // key-pruned old-value read shared between them, every index commit
    // landing before the primary's (the crash-recoverable order
    // generalizes: replay recomputes identical delete sets for all
    // indexes from the still-unmerged primary). The probe is the
    // classic multi-index AND: each predicate resolves to its index's
    // bucket(s), the KEY SETS intersect (a semi join of two bounded hit
    // lists), and only the intersection drives the key-pruned primary
    // read. Cost: two index buckets + |intersection| primary buckets —
    // never a table scan, and never reading rows matching only one
    // predicate.
    "cdc_multi_gsi" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.{CdcStream, SecondaryIndex}
      val root = graft.llm.IndexArtifacts.cachedPath(dir, "gsi-multi",
        inputs = Seq(s"$dir/events.parquet")) { out =>
        val ev = Tables(s, dir).events
          .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
            cents($"value").as("value_cents"), opCol($"event_type").as("op"))
        SecondaryIndex.applyBatchWithIndexes(s, s"$out/primary",
          Seq(
            SecondaryIndex.IndexSpec(s"$out/ix-band",
              expr("value_cents div 1000"), "band"),
            SecondaryIndex.IndexSpec(s"$out/ix-res",
              expr("value_cents % 97"), "res")),
          ev, Seq("user_id"), Seq("ms", "event_id"))
      }
      val byBand = SecondaryIndex.lookupByIndex(s, s"$root/primary",
          s"$root/ix-band", Seq("user_id"),
          expr("value_cents div 1000"), "band", Seq(2L, 3L).toDF("band"))
        .select($"user_id")
      val byRes = SecondaryIndex.lookupByIndex(s, s"$root/primary",
          s"$root/ix-res", Seq("user_id"),
          expr("value_cents % 97"), "res",
          (0L to 9L).toDF("res"))
        .select($"user_id")
      val keys = byBand.join(byRes, Seq("user_id"), "left_semi")
      CdcStream.readReplicaForKeys(s, s"$root/primary", Seq("user_id"), keys)
        .get
        .select($"user_id", $"event_id".as("last_event_id"), $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: COMPOSITE index probe (partition key + sort key) -----------
    // The DynamoDB composite-key idiom on top of the GSI machinery: the
    // LEADING attribute (coarse band10 = value div 10000) is the hash
    // partition key — one equality probe, one index bucket — and the
    // covered fine-grained attribute is the SORT key, range-filtered
    // IN-INDEX before any primary I/O. Contrast cdc_index_range: a
    // sort-key range spanning many fine bands costs that path one
    // bucket probe PER band; the composite serves an arbitrary range
    // under one leading value with ONE bucket read + an index-local
    // filter, and only the SURVIVORS drive the key-pruned primary
    // fetch. The final aggregate reads the primary's current state
    // (not the index copy), so stale covered entries cannot leak into
    // the result. Scale: index bucket + |survivors| primary buckets —
    // never a scan of either store.
    "cdc_index_composite" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.{CdcStream, SecondaryIndex}
      val root = graft.llm.IndexArtifacts.cachedPath(dir, "gsi-composite",
        inputs = Seq(s"$dir/events.parquet")) { out =>
        val ev = Tables(s, dir).events
          .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
            cents($"value").as("value_cents"), opCol($"event_type").as("op"))
        SecondaryIndex.applyBatchWithIndex(s, s"$out/primary", s"$out/index",
          ev, Seq("user_id"), Seq("ms", "event_id"),
          expr("value_cents div 10000"), "band10",
          includeCols = Seq("value_cents"))
      }
      val survivors = SecondaryIndex.lookupCovered(s, s"$root/index",
          "band10", Seq(0L).toDF("band10"))
        .filter($"value_cents" >= 1500L && $"value_cents" < 7500L)
        .select($"user_id")
      CdcStream.readReplicaForKeys(s, s"$root/primary", Seq("user_id"),
          survivors).get
        .filter($"value_cents" >= 1500L && $"value_cents" < 7500L)
        .groupBy(expr("value_cents div 1000").as("band"))
        .agg(count(lit(1)).as("n_keys"),
          sum($"value_cents").as("sum_value_cents"))
        .orderBy($"band")
    },

    // --- cdc: compliance erasure (right-to-be-forgotten) -----------------
    // Erasure is NOT a delete event: it rewrites history so the keys
    // stop being readable from the live state, historical bucket
    // copies, AND the change feed (CdcStream.eraseKeys). The timed op
    // is erasure itself against a file copy of the shared store (the
    // mutating-query pattern of cdc_replica_compact); the oracle is
    // the changelog's last-writer state with the erased users
    // filtered out — exactly what a compliant store must serve.
    "cdc_erasure" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val replica = graft.llm.IndexArtifacts.tempDir("replica-erase")
      copyDir(sharedReplica(s, dir), replica)
      val toErase = Tables(s, dir).events
        .select($"user_id").distinct().filter($"user_id" % 97 === 0)
      CdcStream.eraseKeys(s, replica, Seq("user_id"), toErase)
      // the feed must have forgotten the keys too: fold the scrubbed
      // change feed's per-user row count into the output so the oracle
      // check covers both surfaces. Version GC already dropped v1 (all
      // its buckets were rewritten by batch 2, then erasure's commit
      // released it), so read the RETAINED tail — the restart-from-
      // snapshot position a feed consumer would hold: v2's scrubbed
      // net (erasure's own commit writes no changes)
      val vs = CdcStream.replicaVersions(replica)
      // strict=false: this read INSPECTS the scrubbed history to prove
      // the feed forgot the keys — it replays nothing, so the strict
      // erasure refusal (which protects feed consumers holding
      // pre-scrub state) does not apply
      val feed = CdcStream.readReplicaChanges(s, replica, vs.min - 1,
        strict = false).get
        .groupBy($"user_id").agg(count(lit(1)).as("n_feed_rows"))
      CdcStream.readReplica(s, replica).get
        .select($"user_id", $"event_id".as("last_event_id"), $"value_cents")
        .join(feed, Seq("user_id"), "left")
        .select($"user_id", $"last_event_id", $"value_cents",
          coalesce($"n_feed_rows", lit(0L)).as("n_feed_rows"))
        .orderBy($"user_id")
    },

    // --- cdc: erasure over PENDING merge-on-read deltas (r9) -------------
    // Compliance erasure used to refuse while deltas pended (forcing a
    // full compaction pass first); now the touched buckets FOLD their
    // deltas inside the erasure rewrite itself and every historical
    // base + delta copy purges in the same op. The store here is
    // delta-only (four deferred commits, never compacted) when the
    // erasure lands, so the gate exercises the fold-within-erasure
    // path end to end: surviving keys must read back with their exact
    // global last-writer state, erased keys nowhere.
    "cdc_erasure_mor" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val replica = graft.llm.IndexArtifacts.tempDir("replica-erase-mor")
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
          cents($"value").as("value_cents"), opCol($"event_type").as("op"))
      val mm = ev.agg(min($"ms"), max($"ms")).head()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val cuts = (1 to 3).map(i => mn + i * ((mx - mn) / 4))
      Seq(
        ev.filter($"ms" < cuts(0)),
        ev.filter($"ms" >= cuts(0) && $"ms" < cuts(1)),
        ev.filter($"ms" >= cuts(1) && $"ms" < cuts(2)),
        ev.filter($"ms" >= cuts(2))
      ).foreach(b => CdcStream.applyBatchToReplica(replica, b,
        Seq("user_id"), Seq(col("ms"), col("event_id")), deferMerge = true))
      val toErase = Tables(s, dir).events
        .select($"user_id").distinct().filter($"user_id" % 97 === 0)
      CdcStream.eraseKeys(s, replica, Seq("user_id"), toErase)
      CdcStream.readReplica(s, replica).get
        .select($"user_id", $"event_id".as("last_event_id"), $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: change-feed REPLICATION (primary feed → follower store) ----
    // The contract the change feed exists for (the Delta-CDF marquee
    // use): a downstream FOLLOWER subscribes to the primary's feed and
    // applies each version's committed net as its OWN bucketed MERGE —
    // it never reads a primary data file. The query returns the
    // follower's final state plus the per-user count of feed rows it
    // consumed; the oracle recomputes both from events alone (global
    // last-writer state; a user contributes one net row per half it
    // appears in). Scale: each replication step is delta-sized — feed
    // version selection is directory metadata, the read is net-sized
    // files, the follower's merge rewrites only touched buckets — and
    // the two stores share nothing: this is cross-cluster replication
    // shaped as a query, with the feed as the only channel.
    "cdc_feed_replay" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val primary = sharedReplica(s, dir)
      val follower = graft.llm.IndexArtifacts.cachedPath(dir,
        "cdc-replica-follower", inputs = Seq(s"$dir/events.parquet")) { out =>
        CdcStream.replicaVersions(primary).sorted.foreach { v =>
          val net = CdcStream.readReplicaChanges(s, primary, v - 1, Some(v))
            .get.drop("_commit_version", "_commit_watermark")
          CdcStream.applyBatchToReplica(out, net, Seq("user_id"),
            Seq(col("ts"), col("event_id")))
        }
      }
      val feedCounts = CdcStream.readReplicaChanges(s, primary).get
        .groupBy($"user_id").agg(count(lit(1)).as("n_feed_rows"))
      CdcStream.readReplica(s, follower).get
        .select($"user_id", $"event_id".as("last_event_id"), $"value_cents")
        .join(feedCounts, Seq("user_id"), "left")
        .select($"user_id", $"last_event_id", $"value_cents",
          coalesce($"n_feed_rows", lit(0L)).as("n_feed_rows"))
        .orderBy($"user_id")
    },

    // --- cdc: FAILOVER — follower promotion + old-primary rewind (r10) --
    // The operational half of the replication story (cdc_feed_replay is
    // the data-plane half): quartile-sequenced commits; a CRASH
    // failover with an UNDELIVERED divergent commit built to win
    // last-writer if it survives (ts +36500 days, doubled values,
    // ghost keys); promotion WITHOUT drain (the old primary is
    // unreachable — its fence rises, the lost commit stays lost);
    // writes flipping to the new primary; the demoted store rejoining
    // via the pg_rewind-style resyncAsFollower (divergence-sized
    // rewind commit) and then following the NEW primary's change feed.
    // The audited output is the REJOINED old primary's state: it must
    // equal the last-writer fold over ALL real events — any surviving
    // trace of the divergent commit, any rewind over/under-delete, or
    // any missed post-rewind feed version breaks the hash.
    "cdc_failover_promote" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val root = graft.llm.IndexArtifacts.cachedPath(dir,
        "cdc-failover", inputs = Seq(s"$dir/events.parquet")) { out =>
        val old = s"$out/old"; val nu = s"$out/new"
        val ids = Seq("user_id")
        val ord = Seq(col("ts"), col("event_id"))
        val ev = Tables(s, dir).events
          .select($"user_id", $"event_id", $"ts",
            cents($"value").as("value_cents"), opCol($"event_type").as("op"))
        val mm = ev.agg(min(unix_millis($"ts")), max(unix_millis($"ts"))).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        def cut(k: Int) = lo + (hi - lo) * k / 4
        def slice(a: Option[Long], b: Option[Long]) = ev
          .filter(a.map(unix_millis($"ts") >= _).getOrElse(lit(true)) &&
            b.map(unix_millis($"ts") < _).getOrElse(lit(true)))
        def commit(dir0: String, df: org.apache.spark.sql.DataFrame): Unit =
          CdcStream.applyBatchToReplica(dir0, df, ids, ord,
            recordChanges = true)
        commit(old, slice(None, Some(cut(1))))            // v1
        commit(old, slice(Some(cut(1)), Some(cut(2))))    // v2
        // follower replicates everything delivered so far
        CdcStream.readReplicaChanges(s, old, 0L, Some(2L)).foreach { net =>
          commit(nu, net.drop("_commit_version", "_commit_watermark"))
        }
        // v3: committed on the primary, never delivered — the
        // divergence a crash failover loses. Built to WIN last-writer
        // everywhere if the rewind misses it.
        commit(old, slice(Some(cut(2)), Some(cut(3)))
          .withColumn("ts", $"ts" + expr("INTERVAL 36500 DAYS"))
          .withColumn("event_id", $"event_id" + 1000000000L)
          .withColumn("value_cents", $"value_cents" * 2)
          .withColumn("user_id", when($"event_id" % 5 === 0,
            $"user_id" + 1000000L).otherwise($"user_id")))
        val promoV = CdcStream.promoteFollower(s, nu, old, ids, ord,
          lastAppliedVersion = 2L, drain = false)
        commit(nu, slice(Some(cut(2)), Some(cut(3))))     // real Q3
        // fork versions make the rewind diff DELTA-sized: both sides
        // read only the post-fork feed keys' buckets, never the full
        // stores (FeedReplicationSpec pins the pruning with the
        // corrupted-untouched-file trick)
        val from = CdcStream.resyncAsFollower(s, old, nu, ids, ord,
          demotedDivergedAfter = Some(2L),
          newPrimaryForkVersion = Some(promoV))
        commit(nu, slice(Some(cut(3)), None))             // Q4
        CdcStream.replayFeedInto(s, nu, old, ids, ord,
          fromVersionExclusive = from)
      }
      CdcStream.readReplica(s, s"$root/old").get
        .select($"user_id", $"event_id".as("last_event_id"), $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: CONDITIONAL-store failover — compact-and-reseed (r11) -----
    // The failover path resyncAsFollower refuses by design: a
    // conditional store's greatest-order-wins tombstones refuse
    // exactly the backward move a rewind is, so the demoted store
    // rejoins by COMPACT-AND-RESEED instead (fence → compact the new
    // primary, materializing tombstone winners → wipe + snapshot-seed
    // the demoted store in one conditional merge → follow the feed
    // from the returned position). The divergent commit is built to
    // WIN the order compare everywhere if any trace survives — ghost
    // keys, +36500-day timestamps, doubled values — and the audited
    // output is the REJOINED old primary, which must equal the
    // last-writer fold over ALL real events exactly.
    "cdc_failover_conditional" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val root = graft.llm.IndexArtifacts.cachedPath(dir,
        "cdc-failover-cond", inputs = Seq(s"$dir/events.parquet")) { out =>
        val old = s"$out/old"; val nu = s"$out/new"
        val ids = Seq("user_id")
        val ord = Seq(col("ts"), col("event_id"))
        val ev = Tables(s, dir).events
          .select($"user_id", $"event_id", $"ts",
            cents($"value").as("value_cents"), opCol($"event_type").as("op"))
        val mm = ev.agg(min(unix_millis($"ts")), max(unix_millis($"ts"))).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        def cut(k: Int) = lo + (hi - lo) * k / 4
        def slice(a: Option[Long], b: Option[Long]) = ev
          .filter(a.map(unix_millis($"ts") >= _).getOrElse(lit(true)) &&
            b.map(unix_millis($"ts") < _).getOrElse(lit(true)))
        def commit(dir0: String, df: org.apache.spark.sql.DataFrame): Unit =
          CdcStream.applyBatchToReplica(dir0, df, ids, ord,
            recordChanges = true, conditionalOrder = true)
        commit(old, slice(None, Some(cut(1))))            // v1
        commit(old, slice(Some(cut(1)), Some(cut(2))))    // v2
        CdcStream.replayFeedInto(s, old, nu, ids, ord,
          conditionalApply = true)
        // v3: committed, never delivered — the divergence a crash
        // failover loses, built to WIN greatest-order if it survives
        commit(old, slice(Some(cut(2)), Some(cut(3)))
          .withColumn("ts", $"ts" + expr("INTERVAL 36500 DAYS"))
          .withColumn("event_id", $"event_id" + 1000000000L)
          .withColumn("value_cents", $"value_cents" * 2)
          .withColumn("user_id", when($"event_id" % 5 === 0,
            $"user_id" + 1000000L).otherwise($"user_id")))
        CdcStream.promoteFollower(s, nu, old, ids, ord,
          lastAppliedVersion = 2L, drain = false)
        commit(nu, slice(Some(cut(2)), Some(cut(3))))     // real Q3
        val from = CdcStream.reseedAsFollower(s, old, nu, ids, ord)
        commit(nu, slice(Some(cut(3)), None))             // Q4
        CdcStream.replayFeedInto(s, nu, old, ids, ord,
          fromVersionExclusive = from, conditionalApply = true)
      }
      CdcStream.readReplica(s, s"$root/old").get
        .select($"user_id", $"event_id".as("last_event_id"), $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: END-TO-END COMPOSED STREAMING PIPELINE (capstone, r12) ----
    // Every operational feature in ONE pipeline, the deployment shape
    // the pieces exist for: `readStream.format("graft-binlog")` over
    // the changelog fixture → typed projection → `writeStream.format
    // ("graft-replica")` with TWO GSIs (banded value + event_type),
    // change feed, deferred merges, and autoCompact — KILLED mid-stream
    // (q.stop() interrupts whatever commit is in flight: exactly the
    // crash windows the marker protocol + index-first order + cursor
    // redo-allowance recover) and RESTARTED from the checkpoint, with
    // a follower draining the change feed both at the kill point and
    // after the drain. (conditionalOrder composes with GSI maintenance
    // since r14 — the out-of-order drill variant is cdc_e2e_conditional
    // below.)
    // The audited output reads through the banded GSI against the
    // FOLLOWER store (read-repair verifies every hit against it), so
    // one hash pins source offsets across the restart, sink
    // exactly-once, index exactness, and feed continuity at once. The
    // streaming drill builds once (reported under `artifacts`); the
    // spec twin (ReplicaSinkSpec) pins the mid-stream kill and both
    // indexes batch-deterministically.
    "cdc_e2e_pipeline" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.{CdcStream, SecondaryIndex}
      val root = graft.llm.IndexArtifacts.cachedPath(dir,
        "cdc-e2e", inputs = Seq(s"$dir/events.parquet")) { out =>
        val logDir = SourceQueries.binlogDir(s, dir)
        val primary = s"$out/primary"; val follower = s"$out/follower"
        val ord = Seq(col("ts_ms"), col("event_id"))
        // ~6 micro-batches at any sf, so the kill provably lands
        // mid-stream at verification scales
        val perTrigger =
          math.max(Tables(s, dir).events.count() / 6, 200L)
        def start() = s.readStream.format("graft-binlog")
          .option("path", logDir)
          .option("maxEventsPerTrigger", perTrigger.toString)
          .load()
          .transform(df =>
            CdcStream.parsed(df, SourceQueries.eventsRowSchema))
          .select($"user_id", $"event_id", $"ts_ms",
            cents($"value").as("value_cents"), $"event_type", $"op")
          .withColumn("band", expr("value_cents div 1000"))
          .writeStream.format("graft-replica")
          .option("path", primary)
          .option("keys", "user_id")
          .option("orderColumns", "ts_ms,event_id")
          .option("changeFeed", "true")
          .option("deferMerge", "true")
          .option("autoCompactDeltas", "3")
          .option("indexColumn", "band,event_type")
          .option("indexPath", s"$out/idx-band,$out/idx-type")
          .option("checkpointLocation", s"$out/ck")
          .start()
        // phase 1: DETERMINISTIC mid-commit kill (the old wall-clock
        // progress poll let the kill land at a host-speed-dependent
        // commit). The kill throws at the PRIMARY's third commit claim
        // — after the version-dir rename, before the pointer flip, a
        // genuinely torn commit. Each data batch commits each store
        // once, indexes first, so the kill falls inside batch 3's
        // commit group with 2 full batches already durable, on every
        // host. A sub-smoke source whose few batches never reach 3
        // commits completes phase 1 unkilled.
        val kill = graft.streaming.CommitFaults.armClaimKill(primary, 3)
        runUntilKilled(start(), kill)
        // the follower drains the feed THROUGH the kill point —
        // whatever committed is replicable, nothing torn is visible
        val cursor = CdcStream.replayFeedInto(s, primary, follower,
          Seq("user_id"), ord)
        // phase 2: restart from the checkpoint (the re-served batch's
        // marker skips, half-landed commits converge), drain the rest
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
        CdcStream.replayFeedInto(s, primary, follower, Seq("user_id"),
          ord, fromVersionExclusive = cursor)
      }
      SecondaryIndex.lookupByIndex(s, s"$root/follower", s"$root/idx-band",
          Seq("user_id"), col("band"), "band", Seq(2L, 3L).toDF("band"))
        .select($"band", $"user_id", $"event_id".as("last_event_id"),
          $"value_cents", $"event_type")
        .orderBy($"user_id")
    },

    // --- cdc: e2e drill, ORDER-CONDITIONAL variant (r14) ------------------
    // The full sink pipeline under OUT-OF-ORDER delivery: the fixture
    // log's odd-event_id half precedes the even half in offset order
    // (binlogOooDir — a backfill appended after live traffic), so
    // later micro-batches carry EARLIER-versioned rows and an
    // arrival-order merge would corrupt both the store and its
    // indexes. The sink runs conditionalOrder + deferMerge + TWO GSIs,
    // takes the same deterministic mid-commit kill as
    // cdc_e2e_pipeline (the primary's third commit claim — inside
    // batch 3's index-first commit group), and restarts from the checkpoint.
    // The audited read goes THROUGH the banded GSI (bucket-pruned,
    // read-repaired against the primary), so one hash pins source
    // offsets across the restart, sink exactly-once, the conditional
    // fold, and post-state-diff index exactness at once against the
    // oracle's global last-writer fold.
    "cdc_e2e_conditional" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.{CdcStream, SecondaryIndex}
      val root = graft.llm.IndexArtifacts.cachedPath(dir,
        "cdc-e2e-cond", inputs = Seq(s"$dir/events.parquet")) { out =>
        val logDir = SourceQueries.binlogOooDir(s, dir)
        val primary = s"$out/primary"
        val perTrigger =
          math.max(Tables(s, dir).events.count() / 6, 200L)
        def start() = s.readStream.format("graft-binlog")
          .option("path", logDir)
          .option("maxEventsPerTrigger", perTrigger.toString)
          .load()
          .transform(df =>
            CdcStream.parsed(df, SourceQueries.eventsRowSchema))
          .select($"user_id", $"event_id", $"ts_ms",
            cents($"value").as("value_cents"), $"event_type", $"op")
          .withColumn("band", expr("value_cents div 1000"))
          .writeStream.format("graft-replica")
          .option("path", primary)
          .option("keys", "user_id")
          .option("orderColumns", "ts_ms,event_id")
          .option("conditionalOrder", "true")
          .option("deferMerge", "true")
          .option("indexColumn", "band,event_type")
          .option("indexPath", s"$out/idx-band,$out/idx-type")
          .option("checkpointLocation", s"$out/ck")
          .start()
        val kill = graft.streaming.CommitFaults.armClaimKill(primary, 3)
        runUntilKilled(start(), kill)
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
      }
      SecondaryIndex.lookupByIndex(s, s"$root/primary", s"$root/idx-band",
          Seq("user_id"), col("band"), "band", Seq(2L, 3L).toDF("band"))
        .select($"band", $"user_id", $"event_id".as("last_event_id"),
          $"value_cents", $"event_type")
        .orderBy($"user_id")
    },

    // --- cdc: snapshot (time-travel) read of a previous version ----------
    // Two time-split batches commit v1 then v2; reading AT v1 returns
    // exactly the post-batch-1 state — the versioned-pointer layout's
    // read-side dividend (what Delta calls time travel), and the GC
    // grace window that protects in-flight readers is what keeps the
    // previous version readable.
    "cdc_replica_snapshot" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val replica = sharedReplica(s, dir)
      CdcStream.readReplicaAt(s, replica, 1).get
        .select($"user_id", $"event_id".as("last_event_id"), $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: POINT-IN-TIME RESTORE (Delta RESTORE analog, r10) ---------
    // Two time-split batches commit v1 then v2; RESTORE to v1 makes
    // v1's content CURRENT again through one metadata-only commit (the
    // restore manifest reuses v1's bucket references — no data file is
    // read or written, so restoring a 100 TB store costs one
    // manifest). Distinct evidence from cdc_replica_snapshot: that
    // gate time-travels a read, this one proves the STORE's current
    // state rolled back — the oracle is the first half's last-writer
    // fold, read through the ordinary CURRENT pointer.
    "cdc_restore_version" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val root = graft.llm.IndexArtifacts.cachedPath(dir,
        "cdc-restore", inputs = Seq(s"$dir/events.parquet")) { out =>
        val ev = Tables(s, dir).events
          .select($"user_id", $"event_id", $"ts",
            cents($"value").as("value_cents"), opCol($"event_type").as("op"))
        val mm = ev.agg(min(unix_millis($"ts")), max(unix_millis($"ts"))).head()
        val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
        val ord = Seq(col("ts"), col("event_id"))
        CdcStream.applyBatchToReplica(out,
          ev.filter(unix_millis($"ts") < cut), Seq("user_id"), ord)
        CdcStream.applyBatchToReplica(out,
          ev.filter(unix_millis($"ts") >= cut), Seq("user_id"), ord)
        CdcStream.restoreReplica(s, out, toVersion = 1L)
      }
      CdcStream.readReplica(s, root).get
        .select($"user_id", $"event_id".as("last_event_id"), $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: SHALLOW CLONE (zero-copy branch of the store) --------------
    // `cloneReplica` makes an independent store whose initial version
    // REFERENCES the source's data files (one metadata commit — cloning
    // a 100 TB store costs one manifest; the Delta SHALLOW CLONE
    // shape). Writes to the clone are copy-on-write: the divergent
    // delete batch rewrites only its touched buckets locally, untouched
    // buckets keep reading the source's files. The gate reads BOTH
    // stores: the source must show the undiverged fold (the clone's
    // writes leaked nowhere) and the clone the diverged one — one hash
    // pins isolation in both directions. CloneSpec pins the zero-copy
    // and copy-on-write file layout; this gate pins the semantics.
    "cdc_replica_clone" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val root = clonedStores(s, dir)
      val src = CdcStream.readReplica(s, s"$root/source").get
        .select(lit("source").as("store"), $"user_id",
          $"event_id".as("last_event_id"), $"value_cents")
      val cl = CdcStream.readReplica(s, s"$root/clone").get
        .select(lit("clone").as("store"), $"user_id",
          $"event_id".as("last_event_id"), $"value_cents")
      src.unionByName(cl).orderBy($"store", $"user_id")
    },

    // --- cdc: DESCRIBE HISTORY (store audit log) --------------------------
    // One row per committed version: what produced it (commitKind) and
    // how many change rows its feed entry carries — the operational
    // "what happened to this store" read, priced at O(versions)
    // manifest metadata plus the delta-sized feed counts. The oracle
    // recomputes every count straight off events: the source's two
    // merge nets are the per-half distinct-user counts; the clone's
    // initial version is the metadata-only clone commit (kind "clone",
    // no feed entry ⇒ null change rows) and its divergence merge nets
    // one delete per user_id % 5 == 0 key.
    "cdc_store_history" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val root = clonedStores(s, dir)
      CdcStream.describeReplicaHistory(s, s"$root/source")
        .withColumn("store", lit("source"))
        .unionByName(CdcStream.describeReplicaHistory(s, s"$root/clone")
          .withColumn("store", lit("clone")))
        .select($"store", $"version", $"kind", $"change_rows")
        .orderBy($"store", $"version")
    },

    // --- cdc: DESCRIBE HISTORY manifest-diff pricing (r13) ---------------
    // The audit log must price EVERY commit, not just feed-recorded
    // ones: rows_written / buckets_changed derive from each version's
    // OWN manifest refs (paths under its own version dir) + parquet
    // footer counts — metadata-only, no predecessor manifest needed,
    // so the pricing survives predecessor GC. The store is built
    // single-bucket so the oracle can reproduce the physical rewrite
    // arithmetic without knowing Spark's hash: v1 is a
    // recordChanges=false merge (change_rows NULL — but rows_written
    // prices it: the first half's live fold), v2 rewrites the bucket
    // (rows_written = the global live fold) and records its feed net.
    "cdc_history_manifest" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val root = historyStore(s, dir)
      CdcStream.describeReplicaHistory(s, root)
        .select($"version", $"kind", $"change_rows", $"rows_written",
          $"buckets_changed")
        .orderBy($"version")
    },

    // --- cdc: SQL procedure surface (r14) ---------------------------------
    // The reference's users are SQL-first (reference README.md:128-153
    // drives everything through spark.sql); the store's maintenance
    // procedures are now SQL text too, via the injected delegating
    // parser (GraftExtensions → graft.sql.GraftSqlParser): DESCRIBE
    // HISTORY / FSCK REPLICA / COMPACT / CLONE / RESTORE / REFRESH
    // CLONE run as eager commands on the SAME CdcStream entry points
    // as the Scala API. This gate drives DESCRIBE HISTORY and FSCK
    // REPLICA from SQL text against the shared history store, asserts
    // the SQL results BIT-IDENTICAL to the API's in-query (a mismatch
    // fails the gate), and emits the history rows + the fsck finding
    // count for the oracle to pin. GraftSqlSpec covers the mutating
    // procedures (COMPACT/CLONE/RESTORE/REFRESH) and parse
    // fall-through.
    "cdc_sql_maintenance" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val root = historyStore(s, dir)
      val histSql = s.sql(s"DESCRIBE HISTORY '$root'")
      val histApi = CdcStream.describeReplicaHistory(s, root)
      require(histSql.orderBy($"version").collect().toSeq ==
          histApi.orderBy($"version").collect().toSeq,
        "DESCRIBE HISTORY via SQL diverged from the Scala API")
      val fsckSql = s.sql(s"FSCK REPLICA '$root'")
      require(fsckSql.orderBy($"check", $"subject").collect().toSeq ==
          CdcStream.fsckReplica(s, root)
            .orderBy($"check", $"subject").collect().toSeq,
        "FSCK REPLICA via SQL diverged from the Scala API")
      val findings = fsckSql
        .filter(!$"check".isin(FsckAdvisoryChecks: _*)).count()
      histSql
        .select($"version", $"kind", $"change_rows", $"rows_written",
          $"buckets_changed")
        .withColumn("n_findings", lit(findings))
        .orderBy($"version")
    },

    // --- cdc: SQL compliance & topology ops (r15) -------------------------
    // The SQL surface's MUTATING half: ERASE KEYS (right-to-be-
    // forgotten — precisely the op an operator wants runnable as an
    // auditable statement), REBUCKET (online resharding), and the
    // FREEZE fence, all as SQL text through the injected parser. The
    // gate drives the SQL statements against one file copy of the
    // shared store and the Scala API against a second, requiring the
    // stores BIT-IDENTICAL after every step (a divergence fails the
    // gate in-query); the freeze drill then proves the fence refuses
    // an ERASE from SQL exactly as from Scala — same exception, same
    // message modulo the store path. Output is the erased+resharded
    // store's state read through the NEW bucket layout; the oracle is
    // the changelog's last-writer fold minus the erased users.
    // GraftSqlSpec covers the remaining ops (PROMOTE FOLLOWER /
    // RESTORE CONSISTENT / VALUES-form erase) and parse fall-through.
    "cdc_sql_ops" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val viaSql = graft.llm.IndexArtifacts.tempDir("sqlops-sql")
      val viaApi = graft.llm.IndexArtifacts.tempDir("sqlops-api")
      // the SQL-driven and API-driven stores are DISJOINT copies and
      // the parity compare only runs after BOTH sides land, so every
      // copy/mutate/read pair below overlaps as concurrent jobs
      // (guide §2.6, r16) — same ops, same compares, half the serial
      // job-latency chain
      val shared = sharedReplica(s, dir)
      par2(s)(copyDir(shared, viaSql), copyDir(shared, viaApi))
      val toErase = Tables(s, dir).events
        .select($"user_id").distinct().filter($"user_id" % 97 === 0)
      toErase.createOrReplaceTempView("__sqlops_erase_keys")
      def state(p: String) = CdcStream.readReplica(s, p).get
        .select($"user_id", $"event_id", $"value_cents")
        .orderBy($"user_id", $"event_id")
      def statesMatch(): (Seq[org.apache.spark.sql.Row],
          Seq[org.apache.spark.sql.Row]) =
        par2(s)(state(viaSql).collect().toSeq, state(viaApi).collect().toSeq)
      par2(s)(
        s.sql(s"ERASE KEYS (user_id) FROM REPLICA '$viaSql' " +
          "USING (SELECT user_id FROM __sqlops_erase_keys)").collect(),
        CdcStream.eraseKeys(s, viaApi, Seq("user_id"), toErase))
      require(statesMatch() match { case (a, b) => a == b },
        "ERASE KEYS via SQL diverged from the Scala API")
      val nb = CdcStream.DefaultReplicaBuckets * 3
      par2(s)(
        s.sql(s"REBUCKET REPLICA '$viaSql' KEYS (user_id) TO $nb BUCKETS")
          .collect(),
        CdcStream.rebucketReplica(s, viaApi, Seq("user_id"), nb))
      require(statesMatch() match { case (a, b) => a == b },
        "REBUCKET via SQL diverged from the Scala API")
      // fence parity: a frozen store's ERASE refuses from SQL exactly
      // as from Scala — the requireUnfrozen exception, not a parse or
      // wrapper error
      val fr = s.sql(s"FREEZE REPLICA '$viaSql' REASON 'fence-drill'")
        .collect()
      require(fr.length == 1 && fr(0).getBoolean(1),
        "FREEZE REPLICA must report the store fenced")
      CdcStream.freezeReplica(viaApi, "fence-drill")
      val sqlRefusal = scala.util.Try(s.sql(
        s"ERASE KEYS (user_id) FROM REPLICA '$viaSql' VALUES (1)")
        .collect()).failed.toOption
      val apiRefusal = scala.util.Try(CdcStream.eraseKeys(s, viaApi,
        Seq("user_id"), Seq(1L).toDF("user_id"))).failed.toOption
      require(
        sqlRefusal.map(_.getMessage.replace(viaSql, "<store>")) ==
          apiRefusal.map(_.getMessage.replace(viaApi, "<store>")) &&
          sqlRefusal.exists(_.getMessage.contains("FROZEN")),
        s"frozen-store ERASE refusal must be identical via SQL and " +
          s"API: sql=$sqlRefusal api=$apiRefusal")
      s.sql(s"UNFREEZE REPLICA '$viaSql'").collect()
      CdcStream.unfreezeReplica(viaApi)
      // a key-pruned read through the post-reshard manifest: routing
      // survived erase + rebucket or keys silently vanish here
      val survivors = Tables(s, dir).events
        .filter($"user_id" % 97 =!= 0)
        .select($"user_id").distinct()
      CdcStream.readReplicaForKeys(s, viaSql, Seq("user_id"),
          survivors).get
        .select($"user_id", $"event_id".as("last_event_id"),
          $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: TYPE WIDENING through the merge sink (r15) ------------------
    // The other Delta-supported evolution a year-long CDC stream
    // eventually hits: upstream ALTERs a column int→bigint and values
    // start exceeding int range. Batch 1 commits value_cents as INT
    // (the narrow original schema); batch 2 arrives as LONG with
    // +5e9 added (provably past int32). The eager merge admits the
    // widening, the manifest records BIGINT, and the buckets batch 2
    // never touched keep their int32 files — read back through the
    // recorded schema they upcast in place (no rewrite). The in-query
    // requires pin the widened read schema and that beyond-int values
    // actually round-tripped; the oracle recomputes the last-writer
    // fold with the widened second-half values. SchemaWidenSpec covers
    // the refusal surface (routing columns, deferred commits, type
    // replacement, rename).
    "cdc_replica_widen" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val replica = graft.llm.IndexArtifacts.tempDir("replica-widen")
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ms"),
          cents($"value").as("value_cents"), opCol($"event_type").as("op"))
      val mm = ev.agg(min($"ms"), max($"ms")).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val ord = Seq(col("ms"), col("event_id"))
      CdcStream.applyBatchToReplica(replica,
        ev.filter($"ms" < cut)
          .withColumn("value_cents", $"value_cents".cast("int")),
        Seq("user_id"), ord)
      CdcStream.applyBatchToReplica(replica,
        ev.filter($"ms" >= cut)
          .withColumn("value_cents", $"value_cents" + 5000000000L),
        Seq("user_id"), ord)
      val out = CdcStream.readReplica(s, replica).get
      require(out.schema("value_cents").dataType ==
        org.apache.spark.sql.types.LongType,
        "the store must serve the WIDENED type after batch 2")
      val res = out
        .select($"user_id", $"event_id".as("last_event_id"),
          $"value_cents")
        .orderBy($"user_id")
      require(res.agg(max($"value_cents")).head().getLong(0) >
        Int.MaxValue.toLong,
        "beyond-int values must round-trip through the widened column")
      res
    },

    // --- cdc: FSCK store doctor (r13) -------------------------------------
    // One metadata-cost pass audits the store's physical and logical
    // invariants (dangling refs, feed contiguity, delta sequence,
    // orphans, locks, GSI cursors) and returns findings rows. The gate
    // runs it on the healthy shared replica: zero findings, with the
    // store's data-derived vitals (live rows = the global last-writer
    // fold, version count, CURRENT) pinned by the oracle so the
    // summary is not a constant. The count EXCLUDES the advisory
    // time/liveness checks (stale_lock, stale_debris, orphan_version,
    // frozen, retention_pin) — fsckReplica documents them as
    // transient-capable on a live or long-cached store, and a shared
    // artifact dir aging past the debris horizon must not flip a
    // correctness gate. FsckSpec drives each corruption (advisory ones
    // included) and asserts the named finding.
    "cdc_fsck" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val replica = sharedReplica(s, dir)
      val findings = CdcStream.fsckReplica(s, replica)
        .filter(!$"check".isin(FsckAdvisoryChecks: _*)).count()
      val live = CdcStream.readReplica(s, replica).get.count()
      Seq((findings, live,
        CdcStream.replicaVersions(replica).size.toLong,
        CdcStream.replicaCurrentVersion(replica).getOrElse(0L)))
        .toDF("n_findings", "live_rows", "versions", "current_version")
    },

    // --- cdc: CLONE REFRESH (Delta CREATE-OR-REPLACE-CLONE analog, r13) --
    // An UNdiverged clone catches up to its source by draining the
    // source's change feed from the fork point in ONE merge —
    // O(changed keys since fork), never a re-copy. The artifact pins
    // source retention at the fork (the clone-aware GC knob) so the
    // source's two post-fork commits cannot strand the clone, then
    // refreshes; the gate reads BOTH stores and one hash pins
    // clone == source. CloneSpec pins the divergence refusal, the
    // kind="refresh" commit stamping, and the crash-retry idempotence.
    "cdc_clone_refresh" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val root = refreshedClone(s, dir)
      val src = CdcStream.readReplica(s, s"$root/source").get
        .select(lit("source").as("store"), $"user_id",
          $"event_id".as("last_event_id"), $"value_cents")
      val cl = CdcStream.readReplica(s, s"$root/clone").get
        .select(lit("clone").as("store"), $"user_id",
          $"event_id".as("last_event_id"), $"value_cents")
      src.unionByName(cl).orderBy($"store", $"user_id")
    },

    // --- cdc: CONSISTENT multi-table RESTORE (r13) ------------------------
    // The rollback twin of the consistent clone: roll a whole fleet
    // back to ONE source moment (min over tables of newest watermark —
    // the laggard pins the point). Clicks rolls back one version
    // (metadata-only restore), orders no-ops at its current version;
    // after the restore both tables read at the same watermark, and
    // the oracle recomputes both folds from events cut at that point.
    // All refusals land before the first commit (two-phase dry run —
    // spec'd in ReplicaSinkSpec's restore suite).
    "cdc_restore_consistent" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val root = restoredConsistentTables(s, dir)
      val clicks = CdcStream.readReplica(s, s"$root/clicks").get
        .select(lit("clicks").as("store"), $"user_id",
          $"event_id".as("last_event_id"), $"value_cents")
      val orders = CdcStream.readReplica(s, s"$root/orders").get
        .select(lit("orders").as("store"), $"user_id",
          $"event_id".as("last_event_id"), $"value_cents")
      clicks.unionByName(orders).orderBy($"store", $"user_id")
    },

    // --- cdc: version diff of the replica store ---------------------------
    // What changed between two committed versions — the audit/debug
    // read every versioned MERGE sink grows ("what did batch 2 do?"):
    // v1 and v2 read through the same time-travel path the snapshot
    // query gates, full-outer-joined on the key, classified
    // added/removed/changed (latest event_id is the change witness —
    // it moves whenever the key's state does). Unchanged keys drop, so
    // the output is delta-sized. At scale both sides are bucket-pruned
    // reads of the SAME store and the join is key-partitioned.
    // --- cdc: CHANGE FEED read (the Delta-CDF analog, CDC *out*) --------
    // Each committed version of the shared replica records the per-key
    // NET it applied (op included) atomically with its data; the feed
    // reads versions (from, to] stamped _commit_version. The oracle
    // recomputes both batches' nets straight off events: rows tag by
    // midpoint half, last op per (half, user) is the net, aggregated
    // per (version, op). Deletes ARE change rows (tombstones flow to
    // consumers). Scale: the feed is delta-sized per version — never a
    // replica scan — and version selection is directory metadata.
    "cdc_change_feed" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val replica = sharedReplica(s, dir)
      CdcStream.readReplicaChanges(s, replica).get
        .groupBy($"_commit_version", $"op")
        .agg(count(lit(1)).as("n_changes"),
          countDistinct($"user_id").as("n_users"),
          sum($"event_id").as("sum_event_id"),
          sum($"value_cents").as("sum_value_cents"))
        .select($"_commit_version".as("commit_version"), $"op",
          $"n_changes", $"n_users", $"sum_event_id", $"sum_value_cents")
        .orderBy($"commit_version", $"op")
    },

    "cdc_replica_diff" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val replica = sharedReplica(s, dir)
      val v1 = CdcStream.readReplicaAt(s, replica, 1).get
        .select($"user_id", $"event_id".as("old_event_id"))
      val v2 = CdcStream.readReplica(s, replica).get
        .select($"user_id", $"event_id".as("new_event_id"))
      v1.join(v2, Seq("user_id"), "full_outer")
        .filter($"old_event_id".isNull || $"new_event_id".isNull ||
          $"old_event_id" =!= $"new_event_id")
        .withColumn("change_type",
          when($"old_event_id".isNull, "added")
            .when($"new_event_id".isNull, "removed")
            .otherwise("changed"))
        .select($"user_id", $"change_type", $"old_event_id", $"new_event_id")
        .orderBy($"user_id")
    },

    // --- cdc: additive schema evolution through the MERGE sink -----------
    // The sink-side twin of src_binlog_schema_drift: batch 2's rows
    // carry a column batch 1 never had (the post-DDL changelog), the
    // merge widens the replica's union schema, and the read-back
    // null-fills rows whose LAST version predates the column — no
    // rewrite of old buckets, no restart. The oracle derives the same
    // widened latest-state directly from events (score only when the
    // key's last change is post-cut).
    "cdc_replica_evolve" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val replica = graft.llm.IndexArtifacts.tempDir("replica-evolve")
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", $"ts",
          cents($"value").as("value_cents"), opCol($"event_type").as("op"))
      val mm = ev.agg(min(unix_millis($"ts")), max(unix_millis($"ts"))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val orderCols = Seq(col("ts"), col("event_id"))
      CdcStream.applyBatchToReplica(replica,
        ev.filter(unix_millis($"ts") < cut), Seq("user_id"), orderCols)
      CdcStream.applyBatchToReplica(replica,
        ev.filter(unix_millis($"ts") >= cut)
          .withColumn("score", pmod($"event_id", lit(1000L))),
        Seq("user_id"), orderCols)
      CdcStream.readReplica(s, replica).get
        .select($"user_id", $"event_id".as("last_event_id"),
          $"value_cents", $"score")
        .orderBy($"user_id")
    },

    // --- cdc: Merkle-style replica anti-entropy audit ---------------------
    // The divergence check every replicated store runs: shard the key
    // space deterministically (user_id % 16 — engine-portable, unlike
    // the physical murmur buckets), and per shard aggregate a digest
    // of the replica's content (row count, key sum, md5-derived
    // row-hash sum — all exact int64, order-free). The Spark side
    // computes the digests FROM THE REPLICA FILES the merge layer
    // wrote; the oracle computes them from the raw changelog — any
    // upsert/merge bug surfaces as a shard digest mismatch. At 100 TB
    // the comparison costs two scans + a 16-row compare, and only
    // mismatched shards need row-level drill-down (the Merkle
    // anti-entropy pattern, two levels deep).
    "cdc_replica_audit" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val replica = sharedReplica(s, dir)
      CdcStream.readReplica(s, replica).get
        .withColumn("rh", graft.llm.TextOps.hash32(concat_ws(":",
          $"user_id", $"event_id", $"value_cents")))
        .groupBy(($"user_id" % 16L).as("shard"))
        .agg(count(lit(1)).as("n_rows"),
          sum($"user_id").as("key_sum"),
          sum($"rh").as("digest_sum"))
        .orderBy($"shard")
    },

    // --- cdc: cross-table CONSISTENT snapshot (watermark time travel) ----
    // Two per-table replicas apply their batches independently and at
    // different paces (clicks is 3 batches ahead, orders lags at 2);
    // every committed version records the SOURCE WATERMARK it reached.
    // readConsistentSnapshot picks the minimum of the latest
    // watermarks as the global consistency point and reads EACH table
    // as of that point — the fast table serves its matching OLDER
    // version through watermark time travel, so both tables observe
    // the same source moment. The oracle is per-table latest-state
    // over events BEFORE that point — which only matches if the
    // version selection is exactly right on both tables. Choosing
    // versions is pure manifest metadata (O(tables), no data read);
    // the replica builds are the build-once consistent-tables
    // artifact (the sink is built once, then read).
    "cdc_consistent_snapshot" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val root = consistentTables(s, dir)
      val (_, dfs) = CdcStream.readConsistentSnapshot(s,
        Seq(s"$root/clicks", s"$root/orders"))
      Seq("clicks", "orders").zip(dfs).map { case (name, df) =>
        df.select(lit(name).as("table_name"), $"user_id",
          $"event_id".as("last_event_id"), $"value_cents")
      }.reduce(_.unionByName(_))
        .orderBy($"table_name", $"user_id")
    },

    // --- cdc: CONSISTENT multi-table shallow clone ------------------------
    // Branch BOTH per-table replicas — which lag the source
    // independently (clicks at 3 watermarked versions, orders at 2) —
    // at one source moment: cloneConsistentTables picks the
    // readConsistentSnapshot point (min of the tables' newest
    // watermarks) and shallow-clones each table's newest version at or
    // below it — O(tables) manifest metadata, zero data copied. The
    // gate reads the CLONES; the oracle is the same global-point
    // reconstruction the consistent read gates, so one hash pins that
    // a metadata-priced branch IS the consistent snapshot.
    "cdc_clone_consistent" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val root = consistentTables(s, dir)
      val out = graft.llm.IndexArtifacts.cachedPath(dir,
        "cdc-clone-consistent", inputs = Seq(s"$dir/events.parquet")) { o =>
        CdcStream.cloneConsistentTables(Seq(
          s"$root/clicks" -> s"$o/clicks", s"$root/orders" -> s"$o/orders"))
        ()
      }
      Seq("clicks", "orders").map { name =>
        CdcStream.readReplica(s, s"$out/$name").get
          .select(lit(name).as("table_name"), $"user_id",
            $"event_id".as("last_event_id"), $"value_cents")
      }.reduce(_.unionByName(_)).orderBy($"table_name", $"user_id")
    },

    // --- cdc: ORDER-CONDITIONAL merge under out-of-order batches --------
    // Backfills, replays, and late partitions deliver CDC batches out
    // of source order; the unconditional MERGE would let the
    // last-APPLIED batch win. conditionalOrder makes the merge a
    // version-compare (Delta whenMatched(newer) / Debezium shape): per
    // key, the greatest (ts, event_id) among {stored, incoming} wins —
    // a late lower-order delete is ignored, a higher-order one still
    // removes the key. Here the changelog is split by event_id PARITY
    // (each half spans the whole time range) and applied odd-half
    // first: only order-conditional semantics converge to the global
    // latest state, which is exactly what the oracle computes. Scale:
    // the conditional path is one window over the same touched-bucket
    // rows ∪ net the unconditional path reads — no extra scan.
    "cdc_out_of_order" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val replica = graft.llm.IndexArtifacts.tempDir("replica-ooo")
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ts_ms"),
          cents($"value").as("value_cents"), opCol($"event_type").as("op"))
      val orderCols = Seq(col("ts_ms"), col("event_id"))
      CdcStream.applyBatchToReplica(replica,
        ev.filter($"event_id" % 2 === 1), Seq("user_id"), orderCols,
        conditionalOrder = true)
      CdcStream.applyBatchToReplica(replica,
        ev.filter($"event_id" % 2 === 0), Seq("user_id"), orderCols,
        conditionalOrder = true)
      CdcStream.readReplica(s, replica).get
        .select($"user_id", $"event_id".as("last_event_id"),
          $"ts_ms".as("last_ts_ms"), $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: ORDER-CONDITIONAL merge-on-read (r9 composition) ----------
    // The two write-path modes that used to refuse each other, composed:
    // out-of-order batches commit as DEFERRED per-bucket deltas (no
    // base read, no rewrite — the streaming-latency shape) and the
    // read fold resolves each key by GREATEST (ts, event_id), not by
    // commit order — deletes win only above the stored order. Batches
    // are applied deliberately out of source order (middle third last),
    // so a newest-commit-wins fold would return the wrong state for
    // every key whose true last event sits in the middle third; only
    // the order-compare fold matches the oracle's global last-writer
    // state. The store is never compacted before the read: the gate is
    // on the FOLD itself.
    "cdc_defer_conditional" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val replica = graft.llm.IndexArtifacts.tempDir("replica-mor-cond")
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", unix_millis($"ts").as("ts_ms"),
          cents($"value").as("value_cents"), opCol($"event_type").as("op"))
      val orderCols = Seq(col("ts_ms"), col("event_id"))
      Seq(0, 2, 1).foreach { part =>
        CdcStream.applyBatchToReplica(replica,
          ev.filter($"event_id" % 3 === part), Seq("user_id"), orderCols,
          conditionalOrder = true, deferMerge = true)
      }
      CdcStream.readReplica(s, replica).get
        .select($"user_id", $"event_id".as("last_event_id"),
          $"ts_ms".as("last_ts_ms"), $"value_cents")
        .orderBy($"user_id")
    },

    // --- cdc: replica freshness / lag report (operational telemetry) ----
    // The question every multi-table CDC deployment monitors: how far
    // behind the source is each replica, and who pins the consistent
    // snapshot? Answered ENTIRELY from manifest metadata — version
    // count and each table's latest recorded source watermark — so the
    // report costs O(tables) at any replica size; no data files are
    // read. Lag is measured against the fleet's most advanced
    // watermark (clicks runs 3 batches ahead; orders lags at the
    // second thirds cut — the oracle pins both by the same integer
    // cut arithmetic).
    "cdc_lag_report" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.CdcStream
      val root = consistentTables(s, dir)
      val rows = Seq("clicks", "orders").map { t =>
        val d = s"$root/$t"
        val vs = CdcStream.replicaVersions(d)
        val wm = vs.flatMap(CdcStream.replicaWatermark(d, _)).max
        // vs.max, not vs.size: GC collects fully-superseded old
        // version dirs, so the commit COUNT on disk is a moving target
        // while the latest committed version number is exact
        (t, vs.max, wm)
      }
      val fleetMax = rows.map(_._3).max
      rows.toDF("table_name", "latest_version", "latest_watermark_ms")
        .withColumn("lag_ms", lit(fleetMax) - $"latest_watermark_ms")
        .orderBy($"table_name")
    },

    // --- q30: semi-structured JSON property extraction -------------------
    // The events table carries a JSON `props` payload (the reference's
    // whole data model is JSON envelopes); extract a typed field with
    // the engine's JSON path primitive and aggregate on it. Stays a
    // single scan + partial+final aggregate — the extraction is
    // per-row expression work, never a UDF.
    "q30_json_extract" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir).events
        .withColumn("k", get_json_object($"props", "$.k").cast("long"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"), sum($"k").as("sum_k"),
          max($"k").as("max_k"),
          sum(when($"k" >= 50, 1L).otherwise(0L)).as("n_high"))
        .orderBy($"event_type")
    },

    // --- cdc: SCD2 history table from the changelog ----------------------
    // The OTHER standard CDC materialization next to latest-state
    // upsert: every non-delete change becomes a version row valid
    // [its ts, next change's ts), the open version has valid_to NULL,
    // and a trailing delete closes the key's history without emitting
    // a row. One ascending per-key window over the changelog — same
    // shuffle shape as cdc_latest_state, linear at any scale; the
    // validity interval derives from lead() BEFORE deletes are
    // filtered, so a delete's timestamp still bounds its predecessor.
    "cdc_scd2_history" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      Tables(s, dir).events
        .withColumn("op", opCol($"event_type"))
        .withColumn("valid_from_ms", unix_millis($"ts"))
        .withColumn("valid_to_ms", lead($"valid_from_ms", 1).over(w))
        .filter($"op" =!= "delete")
        .select($"user_id", $"event_id", cents($"value").as("value_cents"),
          $"valid_from_ms", $"valid_to_ms",
          $"valid_to_ms".isNull.as("is_current"))
        .orderBy($"user_id", $"valid_from_ms", $"event_id")
    },

    // --- q31: join-key skew diagnosis (heavy-hitter report) --------------
    // The profiling step that decides WHEN to salt (q23) or
    // AQE-split: per candidate join key, the top heavy hitters with
    // their absolute count and parts-per-million share of the table.
    // One partial+final count aggregate + a TakeOrderedAndProject
    // top-k; the total row count rides a scalar subquery (broadcast,
    // one row). At 100 TB this is the cheap scan you run BEFORE the
    // expensive join, and the ppm share maps directly to "largest
    // task / average task" imbalance.
    "q31_skew_report" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables(s, dir).events
      val total = ev.select(count(lit(1)).as("total"))
      ev.groupBy($"user_id")
        .agg(count(lit(1)).as("n_rows"))
        .crossJoin(broadcast(total))
        .select($"user_id", $"n_rows",
          expr("(1000000 * n_rows) div total").as("share_ppm"))
        .orderBy($"n_rows".desc, $"user_id".asc)
        .limit(10)
    },

    // --- cdc: incremental view maintenance (IVM) of a downstream agg -----
    // THE reason CDC pipelines exist: keep a pre-aggregated view
    // current with O(changed keys) work instead of rescanning the
    // base table. The view here is per-segment (sum of latest value,
    // count of live keys). Batch 1 builds the view; batch 2 applies
    // as a RETRACTION delta — for every key the batch touches,
    // subtract its old contribution (the before-image the binlog
    // carries / the replica serves) and add its new one; a delete
    // only retracts. The maintained view must equal the direct
    // aggregate over all events — which is exactly what the oracle
    // computes. At 100 TB the delta join touches changed keys only;
    // the view update is |segments|-sized.
    "cdc_ivm_agg" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables(s, dir).events
        .select($"user_id", $"event_id", $"ts",
          cents($"value").as("value_cents"), opCol($"event_type").as("op"),
          pmod($"user_id", lit(8L)).as("segment"))
      val mm = ev.agg(min(unix_millis($"ts")), max(unix_millis($"ts"))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      def latest(df: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("segment"), col("op"),
            col("value_cents"))
      }
      // batch-1 state: per-key latest (live keys contribute)
      val state1 = latest(ev.filter(unix_millis($"ts") < cut))
      val view1 = state1.filter($"op" =!= "delete")
        .groupBy($"segment")
        .agg(count(lit(1)).as("n_keys"), sum($"value_cents").as("sum_cents"))
      // batch-2 net change per key, joined to its OLD contribution
      val net2 = latest(ev.filter(unix_millis($"ts") >= cut))
        .select($"user_id", $"segment", $"op".as("new_op"),
          $"value_cents".as("new_cents"))
      val old = state1.filter($"op" =!= "delete")
        .select($"user_id", $"value_cents".as("old_cents"))
      val delta = net2.join(old, Seq("user_id"), "left")
        .groupBy($"segment")
        .agg(
          sum(when($"new_op" =!= "delete", 1L).otherwise(0L) -
            when($"old_cents".isNotNull, 1L).otherwise(0L)).as("d_keys"),
          sum(when($"new_op" =!= "delete", $"new_cents").otherwise(0L) -
            coalesce($"old_cents", lit(0L))).as("d_cents"))
      // apply the delta: the view update is |segments|-sized
      view1.join(delta, Seq("segment"), "full_outer")
        .select($"segment",
          (coalesce($"n_keys", lit(0L)) + coalesce($"d_keys", lit(0L)))
            .as("n_keys"),
          (coalesce($"sum_cents", lit(0L)) + coalesce($"d_cents", lit(0L)))
            .as("sum_cents"))
        .filter($"n_keys" > 0)
        .orderBy($"segment")
    },

    // --- cdc: incremental JOIN view maintenance (delta join) -------------
    // The other half of IVM next to cdc_ivm_agg: a materialized JOIN
    // view R = E_latest ⋈ orders maintained under deltas on BOTH
    // sides. Batch 1 builds R1 from the first half of the changelog
    // and the even-keyed orders; batch 2 applies the classic delta
    // rule R2 = (R1 − rows of changed users) ∪ (ΔE_net ⋈ O_old) ∪
    // (E_new ⋈ ΔO) — changed users re-derive against the KNOWN order
    // state, new orders join the POST-batch E state, and the three
    // legs are disjoint by construction (unchanged ∪ changed users;
    // even ∪ odd order keys). E_new itself advances incrementally
    // (E1 − changed ∪ ΔE live), never from full history. At 100 TB
    // each leg is one keyed equi-join proportional to the DELTA (plus
    // the changed users' order neighborhoods), not the view; the
    // maintained view must equal the direct join over all data —
    // which is exactly what the oracle computes.
    "cdc_ivm_join" -> { (s, dir) =>
      import s.implicits._
      val t = Tables(s, dir)
      val ev = t.events.select($"user_id", $"event_id", $"ts",
        cents($"value").as("value_cents"), opCol($"event_type").as("op"))
      val mm = ev.agg(min(unix_millis($"ts")), max(unix_millis($"ts"))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      def latest(df: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("op"), col("value_cents"))
      }
      val ord = t.orders.select($"o_custkey", $"o_orderkey",
        cents($"o_totalprice").as("price_cents"))
      val o1 = ord.filter($"o_orderkey" % 2 === 0)
      val dO2 = ord.filter($"o_orderkey" % 2 =!= 0)
      val e1 = latest(ev.filter(unix_millis($"ts") < cut))
        .filter($"op" =!= "delete")
      val r1 = e1.join(o1, $"user_id" === $"o_custkey")
        .select($"user_id", $"o_orderkey", $"value_cents", $"price_cents")
      // batch-2 deltas: net E change per key, plus the odd-keyed orders
      val net2 = latest(ev.filter(unix_millis($"ts") >= cut))
      val changed = net2.select($"user_id")
      val e2 = e1.join(changed, Seq("user_id"), "left_anti")
        .unionByName(net2.filter($"op" =!= "delete"))
      val rKeep = r1.join(changed, Seq("user_id"), "left_anti")
      val rChanged = net2.filter($"op" =!= "delete")
        .join(o1, $"user_id" === $"o_custkey")
        .select($"user_id", $"o_orderkey", $"value_cents", $"price_cents")
      val rNew = e2.join(dO2, $"user_id" === $"o_custkey")
        .select($"user_id", $"o_orderkey", $"value_cents", $"price_cents")
      rKeep.unionByName(rChanged).unionByName(rNew)
        .orderBy($"user_id", $"o_orderkey")
    },

    // --- cdc: packed-offset arithmetic round-trip ------------------------
    "cdc_offset_roundtrip" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir).events
        .select($"event_id",
          ($"event_id" % 997).as("file_id"),
          ($"event_id" * 31).as("pos"))
        .withColumn("offset", CdcColumns.packOffset($"file_id", $"pos"))
        .withColumn("file_id_rt", CdcColumns.offsetFileId($"offset"))
        .withColumn("pos_rt", CdcColumns.offsetPos($"offset"))
        .withColumn("filename", CdcColumns.offsetFilename("graft-bin", $"file_id"))
        .orderBy($"event_id")
    },

    // --- q24: interval (range) join via time-bucket equi-join ------------
    // For each click, count the SAME user's errors in (t, t+10 min].
    // A bare range-predicate join plans as a nested loop — quadratic
    // per user and a non-starter at scale. Bucketing by the window
    // width turns it into an EQUI-join: an error at t1 can only match
    // clicks whose bucket is its own or the previous one, so the error
    // side replicates exactly ×2 and the shuffle key (user_id, bucket)
    // stays uniform; the exact (t0, t0+W] bounds re-check after the
    // join. Zero-match clicks survive via the left join; integer `div`
    // bucketing is engine-exact. PlanSpec asserts no nested loop.
    "q24_interval_join" -> { (s, dir) =>
      import s.implicits._
      val W = 600000L // 10 min in ms == the bucket width
      val ev = Tables(s, dir).events
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id".as("click_id"), $"user_id",
          unix_millis($"ts").as("t0"))
        .withColumn("bkt", expr(s"t0 div $W"))
      val errors = ev.filter($"event_type" === "error")
        .select($"user_id".as("e_user"), unix_millis($"ts").as("t1"))
        .withColumn("bkt",
          explode(array(expr(s"t1 div $W"), expr(s"t1 div $W - 1"))))
      clicks.join(errors,
          clicks("user_id") === errors("e_user") &&
            clicks("bkt") === errors("bkt") &&
            errors("t1") > clicks("t0") &&
            errors("t1") <= clicks("t0") + W,
          "left")
        .groupBy($"click_id", $"user_id")
        .agg(count($"t1").as("n_errors"))
        .orderBy($"click_id")
    },

    // --- cdc: JSON envelope encode → decode → aggregate ------------------
    "cdc_envelope_roundtrip" -> { (s, dir) =>
      import s.implicits._
      val t = Tables(s, dir)
      val rowSchemaJson = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("value", DoubleType))).json
      val envelopes = t.events.select(to_json(struct(
        opCol($"event_type").as("type"),
        unix_millis($"ts").as("timestamp"),
        lit("graft").as("databaseName"),
        lit("events").as("tableName"),
        lit(rowSchemaJson).as("schema"),
        array(struct($"event_id", $"user_id", $"value")).as("rows"))).as("value"))
      envelopes
        .select(from_json($"value", envelopeSchema).as("e"))
        .select($"e.type".as("op"), $"e.timestamp".as("ts_ms"),
          explode($"e.rows").as("r"))
        .groupBy($"op")
        .agg(count(lit(1)).as("n"), max($"ts_ms").as("max_ts_ms"),
          sum(cents($"r.value")).as("value_cents"))
        .orderBy($"op")
    },

    // --- q35: gaps-and-islands (maximal same-type runs per user) ---------
    // The classic run-detection composition the window family still
    // lacked: a change flag from lag(), a running sum of flags to
    // number each island, then one aggregate per island. Two windows
    // over the SAME (user_id; ts, event_id) sort — Catalyst plans one
    // shuffle + one sort and evaluates both frames in a single Window
    // node, so at 100 TB this is a single keyed repartition no matter
    // how long the event history is. All outputs exact ints.
    "q35_islands" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables(s, dir).events
        .select($"user_id", $"event_id", $"ts", $"event_type",
          cents($"value").as("v"))
        .withColumn("brk",
          when(lag($"event_type", 1).over(w).isNull ||
            lag($"event_type", 1).over(w) =!= $"event_type", 1L)
            .otherwise(0L))
        .withColumn("island", sum($"brk").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"island")
        .agg(min($"event_type").as("event_type"),
          count(lit(1)).as("n_events"),
          min(unix_millis($"ts")).as("start_ms"),
          max(unix_millis($"ts")).as("end_ms"),
          sum($"v").as("value_cents"))
        .orderBy($"user_id", $"island")
    },

    // --- q37: trailing-interval RANGE window ------------------------------
    // The VALUE-bounded frame the ROWS family (q10 unbounded, q27
    // 4-row) can't express: per event, how many events / how much
    // value this user produced in the trailing hour — frame membership
    // decided by the ORDER-KEY DISTANCE (sec within 3600), not a row
    // count. RANGE frames make ties well-defined (peers share one
    // frame), so the output is deterministic even at equal timestamps.
    // Same single per-user shuffle as every window here; the frame scan
    // is the streaming-window analog you'd run in batch backfill.
    "q37_trailing_hour" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"sec")
        .rangeBetween(-3600, 0)
      Tables(s, dir).events
        .select($"user_id", $"event_id",
          expr("unix_millis(ts) div 1000").as("sec"),
          cents($"value").as("v"))
        .withColumn("n_trailing", count(lit(1)).over(w))
        .withColumn("cents_trailing", sum($"v").over(w))
        .select($"user_id", $"event_id", $"sec",
          $"n_trailing", $"cents_trailing")
        .orderBy($"user_id", $"sec", $"event_id")
    },

    // --- cdc: temporal (event-time) state lookup --------------------------
    // The SCD2-consistent read every CDC consumer eventually asks for:
    // "what did this user's record look like WHEN the purchase
    // happened?" Because the probe events ride the SAME keyed timeline
    // as the changelog (every event IS a change — OpMapping), the
    // general as-of join (q22/q38's union + carry) degenerates to ONE
    // window: the immediately preceding change per (user; ts, event_id)
    // is the version valid at the probe's timestamp, and a preceding
    // DELETE means the record did not exist — the tombstone semantics a
    // plain as-of value-carry gets wrong. One hashpartitioning(user)
    // exchange, zero joins (plan-asserted); for probes from a DIFFERENT
    // table the same plan shape survives as union-then-window.
    "cdc_temporal_lookup" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      Tables(s, dir).events
        .withColumn("op", opCol($"event_type"))
        .withColumn("p_op", lag($"op", 1).over(w))
        .withColumn("p_id", lag($"event_id", 1).over(w))
        .withColumn("p_cents", lag(cents($"value"), 1).over(w))
        .filter($"event_type" === "purchase")
        .withColumn("had_record", $"p_op".isNotNull && $"p_op" =!= "delete")
        .select($"event_id", $"user_id", $"had_record",
          when($"had_record", $"p_id").as("version_event_id"),
          when($"had_record", $"p_cents").as("value_cents_at_ts"))
        .orderBy($"event_id")
    },

    // --- q45: event-type transition matrix (first-order Markov) ----------
    // The path-analysis staple next to q43's funnel: counts of adjacent
    // (from → to) event-type transitions per user timeline, with each
    // row's share of its from-type's outgoing edges in exact integer
    // ppm. lag() turns the sequence into pairs on ONE
    // hashpartitioning(user) exchange; the (from, to) aggregate is
    // ≤ |types|² rows, so the share window is free. At 100 TB the pair
    // stream never materializes outside the window task — same single
    // exchange, any history length.
    "q45_transitions" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      Tables(s, dir).events
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("from_type", lag($"event_type", 1).over(w))
        .filter($"from_type".isNotNull)
        .groupBy($"from_type", $"event_type".as("to_type"))
        .agg(count(lit(1)).as("n_trans"))
        .withColumn("tot",
          sum($"n_trans").over(Window.partitionBy($"from_type")))
        .select($"from_type", $"to_type", $"n_trans",
          expr("n_trans * 1000000L div tot").as("p_ppm"))
        .orderBy($"from_type", $"to_type")
    },

    // --- q40: per-key exponential moving average (sequential fold) -------
    // The time-series smoother whose recurrence (acc/2 + x/2) cannot be
    // a built-in window aggregate: EWMA depends on EVERY prior value
    // with geometrically decaying weight. Shape: one groupBy shuffle,
    // then a per-key ordered fold over the collected (bounded per-key
    // cardinality) event list. alpha = 1/2 keeps each step a
    // power-of-two scale + one correctly-rounded IEEE add, and the fold
    // order is a total order (ts, event_id) — both engines execute the
    // identical op sequence, so the result is bit-identical. The closed
    // form Σ x_i·2^i / 2^n would overflow long before it vectorized;
    // the fold is the honest formulation.
    "q40_ewma" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir).events
        .select($"user_id", unix_millis($"ts").as("t"), $"event_id",
          cents($"value").cast("double").as("v"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          aggregate(
            sort_array(collect_list(struct($"t", $"event_id", $"v"))),
            lit(0.0),
            (acc, e) => acc / 2 + e.getField("v") / 2).as("ewma_cents"))
        .orderBy($"user_id")
    },

    // --- q54: zone-map file pruning (the data-skipping READ path) -------
    // q32_zorder shows the WRITE side of data skipping (tight per-file
    // min/max boxes); this is the read side: the min/max statistics
    // parquet already keeps in its footers are the zone map, so a time
    // predicate drops whole files BEFORE Spark plans a task for them.
    // The scan target is a build-once range-partitioned copy of events
    // (files carry tight ts ranges — exactly what a time-partitioned
    // ingest layout produces for free); pruning is O(files) driver
    // metadata work, and the exact predicate is re-applied to the
    // surviving rows so zone false-positives can never leak. At 100 TB
    // this is the difference between scheduling a task per file of 30
    // days of data and touching only the 3 queried days — the spec
    // asserts the file-count reduction, the oracle the unchanged
    // result.
    "q54_zonemap_scan" -> { (s, dir) =>
      import s.implicits._
      val zdir = zonemapEventsDir(s, dir)
      val loUs = java.time.Instant.parse("2024-01-10T00:00:00Z")
        .getEpochSecond * 1000000L
      val hiUs = java.time.Instant.parse("2024-01-13T00:00:00Z")
        .getEpochSecond * 1000000L
      val (pruned, _, _) =
        graft.operators.ZoneMaps.prunedRead(s, zdir, "ts", loUs, hiUs - 1L)
      pruned
        .filter($"ts" >= timestamp_micros(lit(loUs)) &&
          $"ts" < timestamp_micros(lit(hiUs)))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(cents($"value")).as("value_cents"))
        .orderBy($"event_type")
    },

    // --- q55: time-series gap fill + staleness (forward fill) -----------
    // The resample/densify operator every monitoring pipeline needs:
    // the hourly grid is materialized for EVERY (event_type, hour) cell
    // between the corpus bounds — gap hours appear with zero counts
    // instead of silently missing — and a forward-fill window carries
    // the last ACTIVE hour so each cell reports its staleness. Scale
    // shape: the grid is |types| × |hours| rows (schedule-sized, never
    // event-sized — the events aggregate to hourly partials first), the
    // fill is one per-type window over grid rows, and the only
    // event-sized work is the initial partial+final hourly aggregate.
    // Hour arithmetic stays on hour-aligned timestamps, so the
    // staleness difference is exact in both engines.
    "q55_gapfill" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables(s, dir).events
        .select($"event_type", date_trunc("hour", $"ts").as("hour"),
          cents($"value").as("v"))
      val hourly = ev.groupBy($"event_type", $"hour")
        .agg(count(lit(1)).as("n_events"), sum($"v").as("sum_cents"))
      val grid = ev.agg(min($"hour").as("h0"), max($"hour").as("h1"))
        .select(explode(sequence($"h0", $"h1", expr("interval 1 hour")))
          .as("hour"))
        .crossJoin(ev.select($"event_type").distinct())
      val w = Window.partitionBy($"event_type").orderBy($"hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("event_type", "hour"), "left")
        .withColumn("n_events", coalesce($"n_events", lit(0L)))
        .withColumn("sum_cents", coalesce($"sum_cents", lit(0L)))
        .withColumn("last_active_hour",
          last(when($"n_events" > 0, $"hour"), ignoreNulls = true).over(w))
        .withColumn("stale_hours",
          expr("timestampdiff(HOUR, last_active_hour, hour)").cast("long"))
        .select($"event_type", unix_millis($"hour").as("hour_ms"),
          $"n_events", $"sum_cents", $"stale_hours")
        .orderBy($"event_type", $"hour_ms")
    }
  )

  /** Build-once range-partitioned copy of `events` — the time-ordered
    * ingest layout the zone-map read path (`q54_zonemap_scan`) prunes
    * against. Shared with the spec so it can assert file-skipping on
    * the same artifact the query reads.
    */
  def zonemapEventsDir(s: SparkSession, dir: String): String =
    graft.llm.IndexArtifacts.cachedPath(dir, "zonemap-events",
      Seq(dir + "/events.parquet")) { out =>
      Tables(s, dir).events
        .repartitionByRange(16, col("ts"))
        .sortWithinPartitions(col("ts"))
        .write.parquet(out)
    }

  val oracles: Map[String, String] = Map(
    "q54_zonemap_scan" ->
      s"""SELECT event_type, count(*) AS n_events,
         |  CAST(sum(${centsSql("value")}) AS BIGINT) AS value_cents
         |FROM events
         |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-13 00:00:00'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q55_gapfill" ->
      s"""WITH e AS (
         |  SELECT event_type,
         |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
         |    ${centsSql("value")} AS v
         |  FROM events),
         |hourly AS (
         |  SELECT event_type, hour, count(*) AS n,
         |    CAST(sum(v) AS BIGINT) AS sc
         |  FROM e GROUP BY 1, 2),
         |hours AS (
         |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
         |  FROM (SELECT min(hour) AS h0, max(hour) AS h1 FROM e)),
         |grid AS (
         |  SELECT t.event_type, h.hour
         |  FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN hours h),
         |f AS (
         |  SELECT g.event_type, g.hour,
         |    CAST(coalesce(h.n, 0) AS BIGINT) AS n_events,
         |    CAST(coalesce(h.sc, 0) AS BIGINT) AS sum_cents
         |  FROM grid g
         |  LEFT JOIN hourly h ON h.event_type = g.event_type AND h.hour = g.hour),
         |ff AS (
         |  SELECT event_type, hour, n_events, sum_cents,
         |    last_value(CASE WHEN n_events > 0 THEN hour END IGNORE NULLS)
         |      OVER (PARTITION BY event_type ORDER BY hour
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS last_active_hour
         |  FROM f)
         |SELECT event_type, epoch_ms(hour) AS hour_ms, n_events, sum_cents,
         |  CAST(date_diff('hour', last_active_hour, hour) AS BIGINT)
         |    AS stale_hours
         |FROM ff ORDER BY 1, 2""".stripMargin,
    "q19_events_hourly" ->
      s"""SELECT epoch_ms(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_start_ms,
         |  event_type,
         |  count(*) AS n_events, CAST(sum(${centsSql("value")}) AS BIGINT) AS value_cents
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q20_sessionize" ->
      s"""WITH e AS (
         |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
         |), m AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
         |         THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         |), sess AS (
         |  SELECT user_id, ts, value,
         |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM m)
         |SELECT user_id, epoch_ms(min(ts)) AS session_start_ms, count(*) AS n_events,
         |  CAST(sum(${centsSql("value")}) AS BIGINT) AS value_cents
         |FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start_ms""".stripMargin,

    "q21_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q23_salted_join" ->
      s"""SELECT c_mktsegment, count(*) AS n_events,
         |  CAST(sum(${centsSql("value")}) AS BIGINT) AS value_cents
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q44_cohort_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events),
        |c AS (SELECT user_id, min(wk) AS cw FROM uw GROUP BY 1),
        |a AS (
        |  SELECT cw, date_diff('day', cw, wk) // 7 AS k
        |  FROM uw JOIN c USING (user_id)),
        |g AS (
        |  SELECT cw, CAST(k AS BIGINT) AS k,
        |    CAST(count(*) AS BIGINT) AS n_active
        |  FROM a GROUP BY 1, 2),
        |s AS (SELECT cw, n_active AS n_cohort FROM g WHERE k = 0)
        |SELECT CAST(g.cw AS VARCHAR) AS cohort_week, g.k AS week_offset,
        |  g.n_active, s.n_cohort,
        |  g.n_active * 1000000 // s.n_cohort AS retention_ppm
        |FROM g JOIN s ON s.cw = g.cw
        |ORDER BY 1, 2""".stripMargin,

    // identical window staging: first view, first click after it,
    // first purchase after that; counts as an explicit UNION ALL melt
    "q43_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, ts, event_type,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t1
        |  FROM events),
        |s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
        |      OVER (PARTITION BY user_id) AS t2
        |  FROM s1),
        |s3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
        |      OVER (PARTITION BY user_id) AS t3
        |  FROM s2),
        |pu AS (
        |  SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
        |  FROM s3 GROUP BY 1),
        |c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n3
        |  FROM pu)
        |SELECT step, event_type, n_users, conv_ppm FROM (
        |  SELECT 1 AS step, 'view' AS event_type, n1 AS n_users,
        |    CAST(1000000 AS BIGINT) AS conv_ppm FROM c
        |  UNION ALL SELECT 2, 'click', n2,
        |    CASE WHEN n1 > 0 THEN n2 * 1000000 // n1 ELSE 0 END FROM c
        |  UNION ALL SELECT 3, 'purchase', n3,
        |    CASE WHEN n2 > 0 THEN n3 * 1000000 // n2 ELSE 0 END FROM c)
        |ORDER BY step""".stripMargin,

    "q22_asof_last_click" ->
      s"""SELECT event_id, user_id, value_cents, last_click_id FROM (
         |  SELECT event_id, user_id, event_type,
         |    ${centsSql("value")} AS value_cents,
         |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id
         |  FROM events)
         |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    // the native operator must reach the same fixpoint as the window form
    "q53_asof_native" ->
      s"""SELECT event_id, user_id, value_cents, last_click_id FROM (
         |  SELECT event_id, user_id, event_type,
         |    ${centsSql("value")} AS value_cents,
         |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id
         |  FROM events)
         |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    "q38_asof_next_purchase" ->
      """SELECT event_id, user_id, next_purchase_id FROM (
        |  SELECT event_id, user_id, event_type,
        |    first_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase_id
        |  FROM events)
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin,

    // the oracle states the range join directly; the Spark plan's
    // bucket replication is provably the same relation
    "q24_interval_join" ->
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS t0
        |  FROM events WHERE event_type = 'click'),
        |e AS (
        |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS t1
        |  FROM events WHERE event_type = 'error')
        |SELECT c.click_id, c.user_id, CAST(count(e.t1) AS BIGINT) AS n_errors
        |FROM c LEFT JOIN e
        |  ON e.user_id = c.user_id AND e.t1 > c.t0 AND e.t1 <= c.t0 + 600000
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    "cdc_latest_state" ->
      s"""SELECT user_id, event_id AS last_event_id, event_type AS last_type,
         |  ${centsSql("value")} AS last_value_cents
         |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "cdc_apply_changelog" ->
      s"""SELECT user_id, ${centsSql("value")} AS value_cents, n_ops FROM (
         |  SELECT *, $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS n_ops
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete' ORDER BY user_id""".stripMargin,

    // the replica's widened latest-state: score exists only for keys
    // whose LAST change is post-cut (the batch that carried the column)
    "cdc_replica_evolve" ->
      s"""SELECT user_id, event_id AS last_event_id, value_cents,
         |  CASE WHEN ts_ms >= (SELECT min(epoch_ms(CAST(ts AS TIMESTAMP)))
         |      + (max(epoch_ms(CAST(ts AS TIMESTAMP)))
         |         - min(epoch_ms(CAST(ts AS TIMESTAMP)))) // 2 FROM events)
         |    THEN event_id % 1000 END AS score
         |FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms, $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete' ORDER BY user_id""".stripMargin,

    "cdc_replica_lookup" ->
      s"""SELECT user_id, event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete' AND user_id % 3 = 1
         |ORDER BY user_id""".stripMargin,

    // follower state = global last-writer state; n_feed_rows = one net
    // row per time-half the user appears in (the primary committed one
    // version per half, each recording its per-key net)
    "cdc_feed_replay" ->
      s"""WITH halves AS (
         |  SELECT user_id, event_id, ts, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP)) <
         |        (SELECT min(epoch_ms(CAST(ts AS TIMESTAMP)))
         |           + (max(epoch_ms(CAST(ts AS TIMESTAMP)))
         |              - min(epoch_ms(CAST(ts AS TIMESTAMP)))) // 2
         |         FROM events)
         |      THEN 0 ELSE 1 END AS half
         |  FROM events),
         |feed AS (
         |  SELECT user_id, CAST(count(DISTINCT half) AS BIGINT) AS n_feed_rows
         |  FROM halves GROUP BY 1),
         |state AS (
         |  SELECT user_id, event_id AS last_event_id, value_cents FROM (
         |    SELECT *, row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts DESC, event_id DESC) AS rn FROM halves)
         |  WHERE rn = 1 AND op <> 'delete')
         |SELECT s.user_id, s.last_event_id, s.value_cents,
         |  coalesce(f.n_feed_rows, 0) AS n_feed_rows
         |FROM state s LEFT JOIN feed f ON s.user_id = f.user_id
         |ORDER BY s.user_id""".stripMargin,

    // the rejoined old primary's state = last-writer over ALL real
    // events (the divergent commit is failover-lost by definition)
    "cdc_failover_promote" ->
      s"""SELECT user_id, event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete'
         |ORDER BY user_id""".stripMargin,

    // conditional twin: greatest-(ts,event_id)-wins over time-sliced
    // batches equals the same last-writer fold — the reseeded old
    // primary must carry no trace of the order-winning divergence
    "cdc_failover_conditional" ->
      s"""SELECT user_id, event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete'
         |ORDER BY user_id""".stripMargin,

    // latest-state keys matching BOTH index predicates
    "cdc_multi_gsi" ->
      s"""SELECT user_id, event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete'
         |  AND value_cents // 1000 IN (2, 3)
         |  AND value_cents % 97 BETWEEN 0 AND 9
         |ORDER BY user_id""".stripMargin,

    // latest-state keys whose value falls in the sort-key range (the
    // leading band10 = 0 condition is implied by range < 10000)
    "cdc_index_composite" ->
      s"""SELECT value_cents // 1000 AS band,
         |  CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(sum(value_cents) AS BIGINT) AS sum_value_cents
         |FROM (
         |  SELECT user_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete'
         |  AND value_cents >= 1500 AND value_cents < 7500
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "cdc_index_range" ->
      s"""SELECT user_id, event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete'
         |  AND value_cents >= 2500 AND value_cents < 4500
         |ORDER BY user_id""".stripMargin,

    "cdc_defer_merge" ->
      s"""SELECT user_id, event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete'
         |ORDER BY user_id""".stripMargin,

    "cdc_gsi_covered" ->
      s"""SELECT value_cents // 1000 AS band, user_id,
         |  event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete' AND value_cents // 1000 IN (5, 6)
         |ORDER BY user_id""".stripMargin,

    // open-ended band range (>= 3) through the zone-pruned index read
    // = the banded last-writer fold above the cut
    "cdc_replica_zonemap" ->
      s"""SELECT value_cents // 1000 AS band, user_id,
         |  event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete' AND value_cents // 1000 >= 3
         |ORDER BY user_id""".stripMargin,

    "cdc_secondary_index" ->
      s"""SELECT value_cents // 1000 AS band, user_id,
         |  event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete' AND value_cents // 1000 IN (2, 3)
         |ORDER BY user_id""".stripMargin,

    // the composed pipeline's banded lookup through the follower =
    // the banded last-writer fold over ALL events: one hash pins the
    // restart's exactly-once, both GSIs' exactness via the probed one,
    // and the feed's continuity (the follower is the store read)
    "cdc_e2e_pipeline" ->
      s"""SELECT value_cents // 1000 AS band, user_id,
         |  event_id AS last_event_id, value_cents, event_type FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    event_type, $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete' AND value_cents // 1000 IN (2, 3)
         |ORDER BY user_id""".stripMargin,

    // out-of-order delivery through the conditional sink + 2 GSIs must
    // converge to the SAME global last-writer fold — the oracle is
    // order-of-application-blind by construction
    "cdc_e2e_conditional" ->
      s"""SELECT value_cents // 1000 AS band, user_id,
         |  event_id AS last_event_id, value_cents, event_type FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    event_type, $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete' AND value_cents // 1000 IN (2, 3)
         |ORDER BY user_id""".stripMargin,

    // parity-split application: a late-losing batch must leave both
    // GSIs showing exactly the last-writer state
    "cdc_gsi_conditional" ->
      s"""SELECT value_cents // 1000 AS band, user_id,
         |  event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete' AND value_cents // 1000 IN (2, 3)
         |ORDER BY user_id""".stripMargin,

    // rebuilt-after-restore index lookup = the FIRST half's banded
    // last-writer fold (the restore rolled the second half back)
    "cdc_restore_indexed" ->
      s"""WITH mm AS (
         |  SELECT min(epoch_ms(CAST(ts AS TIMESTAMP))) AS mn,
         |         max(epoch_ms(CAST(ts AS TIMESTAMP))) AS mx
         |  FROM events),
         |h AS (
         |  SELECT * FROM events, mm
         |  WHERE epoch_ms(CAST(ts AS TIMESTAMP)) < mn + (mx - mn) // 2)
         |SELECT value_cents // 1000 AS band, user_id,
         |  event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM h)
         |WHERE rn = 1 AND op <> 'delete' AND value_cents // 1000 IN (2, 3)
         |ORDER BY user_id""".stripMargin,

    // bootstrapped index + incremental tail = the always-indexed answer
    "cdc_index_bootstrap" ->
      s"""SELECT value_cents // 1000 AS band, user_id,
         |  event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete' AND value_cents // 1000 IN (2, 3)
         |ORDER BY user_id""".stripMargin,

    "cdc_rebucket" ->
      s"""SELECT user_id, event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete' AND user_id % 3 = 2
         |ORDER BY user_id""".stripMargin,

    "cdc_replica_compact" ->
      s"""SELECT user_id, event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete'
         |ORDER BY user_id""".stripMargin,

    // last-writer state minus the erased users; n_feed_rows mirrors the
    // feed's RETAINED tail after GC + erasure: v2's net only (one net
    // row per key the second batch touched; v1 was GC'd when its last
    // bucket reference dropped, erasure's commit carries no changes)
    "cdc_erasure" ->
      s"""WITH cutoff AS (
         |  SELECT min(epoch_ms(CAST(ts AS TIMESTAMP)))
         |    + (max(epoch_ms(CAST(ts AS TIMESTAMP)))
         |       - min(epoch_ms(CAST(ts AS TIMESTAMP)))) // 2 AS cut
         |  FROM events),
         |state AS (
         |  SELECT user_id, event_id, value_cents FROM (
         |    SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |      $opSql AS op,
         |      row_number() OVER (PARTITION BY user_id
         |                         ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events)
         |  WHERE rn = 1 AND op <> 'delete'),
         |feed AS (
         |  SELECT user_id,
         |    CAST(CASE WHEN count(CASE WHEN
         |        epoch_ms(CAST(ts AS TIMESTAMP)) >= (SELECT cut FROM cutoff)
         |        THEN 1 END) > 0 THEN 1 ELSE 0 END AS BIGINT) AS n_feed_rows
         |  FROM events GROUP BY user_id)
         |SELECT s.user_id, s.event_id AS last_event_id, s.value_cents,
         |  f.n_feed_rows
         |FROM state s JOIN feed f USING (user_id)
         |WHERE s.user_id % 97 <> 0
         |ORDER BY s.user_id""".stripMargin,

    // the snapshot at v1 is the latest state over the FIRST HALF only
    // (same midpoint integer arithmetic as the Spark-side time split)
    "cdc_replica_snapshot" ->
      s"""WITH mm AS (
         |  SELECT min(epoch_ms(CAST(ts AS TIMESTAMP))) AS mn,
         |         max(epoch_ms(CAST(ts AS TIMESTAMP))) AS mx
         |  FROM events),
         |h AS (
         |  SELECT * FROM events, mm
         |  WHERE epoch_ms(CAST(ts AS TIMESTAMP)) < mn + (mx - mn) // 2)
         |SELECT user_id, event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM h)
         |WHERE rn = 1 AND op <> 'delete'
         |ORDER BY user_id""".stripMargin,

    // restored CURRENT state = the first half's last-writer fold
    "cdc_restore_version" ->
      s"""WITH mm AS (
         |  SELECT min(epoch_ms(CAST(ts AS TIMESTAMP))) AS mn,
         |         max(epoch_ms(CAST(ts AS TIMESTAMP))) AS mx
         |  FROM events),
         |h AS (
         |  SELECT * FROM events, mm
         |  WHERE epoch_ms(CAST(ts AS TIMESTAMP)) < mn + (mx - mn) // 2)
         |SELECT user_id, event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM h)
         |WHERE rn = 1 AND op <> 'delete'
         |ORDER BY user_id""".stripMargin,

    "cdc_replica_clone" ->
      s"""WITH net AS (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events),
         |live AS (
         |  SELECT user_id, event_id AS last_event_id, value_cents
         |  FROM net WHERE rn = 1 AND op <> 'delete')
         |SELECT * FROM (
         |  SELECT 'source' AS store, user_id, last_event_id, value_cents
         |  FROM live
         |  UNION ALL
         |  SELECT 'clone' AS store, user_id, last_event_id, value_cents
         |  FROM live WHERE user_id % 5 <> 0)
         |ORDER BY store, user_id""".stripMargin,

    "cdc_store_history" ->
      s"""WITH mm AS (
         |  SELECT min(epoch_ms(CAST(ts AS TIMESTAMP))) AS mn,
         |         max(epoch_ms(CAST(ts AS TIMESTAMP))) AS mx
         |  FROM events),
         |h1 AS (SELECT DISTINCT user_id FROM events, mm
         |       WHERE epoch_ms(CAST(ts AS TIMESTAMP)) < mn + (mx - mn) // 2),
         |h2 AS (SELECT DISTINCT user_id FROM events, mm
         |       WHERE epoch_ms(CAST(ts AS TIMESTAMP)) >= mn + (mx - mn) // 2)
         |SELECT * FROM (
         |  SELECT 'source' AS store, CAST(1 AS BIGINT) AS version,
         |    'merge' AS kind, (SELECT count(*) FROM h1) AS change_rows
         |  UNION ALL SELECT 'source', CAST(2 AS BIGINT), 'merge',
         |    (SELECT count(*) FROM h2)
         |  UNION ALL SELECT 'clone', CAST(3 AS BIGINT), 'clone',
         |    CAST(NULL AS BIGINT)
         |  UNION ALL SELECT 'clone', CAST(4 AS BIGINT), 'merge',
         |    (SELECT count(DISTINCT user_id) FROM events WHERE user_id % 5 = 0))
         |ORDER BY store, version""".stripMargin,

    // single-bucket store: v1 = first half's live fold physically
    // written (recordChanges=false ⇒ change_rows NULL but rows_written
    // prices it); v2 rewrites the one bucket to the global live fold
    // and its feed net is the second half's distinct keys
    "cdc_history_manifest" ->
      s"""WITH mm AS (
         |  SELECT min(epoch_ms(CAST(ts AS TIMESTAMP))) AS mn,
         |         max(epoch_ms(CAST(ts AS TIMESTAMP))) AS mx
         |  FROM events),
         |live1 AS (
         |  SELECT count(*) AS n FROM (
         |    SELECT user_id, $opSql AS op,
         |      row_number() OVER (PARTITION BY user_id
         |                         ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events, mm
         |    WHERE epoch_ms(CAST(ts AS TIMESTAMP)) < mn + (mx - mn) // 2)
         |  WHERE rn = 1 AND op <> 'delete'),
         |liveall AS (
         |  SELECT count(*) AS n FROM (
         |    SELECT user_id, $opSql AS op,
         |      row_number() OVER (PARTITION BY user_id
         |                         ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events)
         |  WHERE rn = 1 AND op <> 'delete'),
         |h2 AS (
         |  SELECT count(DISTINCT user_id) AS n FROM events, mm
         |  WHERE epoch_ms(CAST(ts AS TIMESTAMP)) >= mn + (mx - mn) // 2)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS version, 'merge' AS kind,
         |    CAST(NULL AS BIGINT) AS change_rows,
         |    (SELECT n FROM live1) AS rows_written,
         |    CAST(1 AS BIGINT) AS buckets_changed
         |  UNION ALL SELECT CAST(2 AS BIGINT), 'merge',
         |    (SELECT n FROM h2), (SELECT n FROM liveall), CAST(1 AS BIGINT))
         |ORDER BY version""".stripMargin,

    // the SQL surface serves the identical history (the in-query
    // require already pinned SQL == API bit-for-bit) + zero findings
    "cdc_sql_maintenance" ->
      s"""WITH mm AS (
         |  SELECT min(epoch_ms(CAST(ts AS TIMESTAMP))) AS mn,
         |         max(epoch_ms(CAST(ts AS TIMESTAMP))) AS mx
         |  FROM events),
         |live1 AS (
         |  SELECT count(*) AS n FROM (
         |    SELECT user_id, $opSql AS op,
         |      row_number() OVER (PARTITION BY user_id
         |                         ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events, mm
         |    WHERE epoch_ms(CAST(ts AS TIMESTAMP)) < mn + (mx - mn) // 2)
         |  WHERE rn = 1 AND op <> 'delete'),
         |liveall AS (
         |  SELECT count(*) AS n FROM (
         |    SELECT user_id, $opSql AS op,
         |      row_number() OVER (PARTITION BY user_id
         |                         ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events)
         |  WHERE rn = 1 AND op <> 'delete'),
         |h2 AS (
         |  SELECT count(DISTINCT user_id) AS n FROM events, mm
         |  WHERE epoch_ms(CAST(ts AS TIMESTAMP)) >= mn + (mx - mn) // 2)
         |SELECT *, CAST(0 AS BIGINT) AS n_findings FROM (
         |  SELECT CAST(1 AS BIGINT) AS version, 'merge' AS kind,
         |    CAST(NULL AS BIGINT) AS change_rows,
         |    (SELECT n FROM live1) AS rows_written,
         |    CAST(1 AS BIGINT) AS buckets_changed
         |  UNION ALL SELECT CAST(2 AS BIGINT), 'merge',
         |    (SELECT n FROM h2), (SELECT n FROM liveall), CAST(1 AS BIGINT))
         |ORDER BY version""".stripMargin,

    // erase + rebucket driven from SQL text (the in-query requires
    // already pinned SQL == API bit-for-bit at every step): the
    // last-writer fold minus the erased users, content-identical
    // across the reshard
    "cdc_sql_ops" ->
      s"""SELECT user_id, event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete' AND user_id % 97 <> 0
         |ORDER BY user_id""".stripMargin,

    // last-writer fold with the widened second-half values: rows whose
    // winning event is at/after the cutoff carry cents + 5e9 (the
    // widened longs), earlier winners carry the int-committed cents
    "cdc_replica_widen" ->
      s"""WITH cutoff AS (
         |  SELECT min(epoch_ms(CAST(ts AS TIMESTAMP)))
         |    + (max(epoch_ms(CAST(ts AS TIMESTAMP)))
         |       - min(epoch_ms(CAST(ts AS TIMESTAMP)))) // 2 AS cut
         |  FROM events)
         |SELECT user_id, event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id,
         |    CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP)) >=
         |        (SELECT cut FROM cutoff)
         |      THEN ${centsSql("value")} + 5000000000
         |      ELSE ${centsSql("value")} END AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete'
         |ORDER BY user_id""".stripMargin,

    // a healthy store: zero findings; the vitals are data-derived
    // (live rows = global last-writer fold over the whole corpus)
    "cdc_fsck" ->
      s"""WITH live AS (
         |  SELECT count(*) AS n FROM (
         |    SELECT user_id, $opSql AS op,
         |      row_number() OVER (PARTITION BY user_id
         |                         ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events)
         |  WHERE rn = 1 AND op <> 'delete')
         |SELECT CAST(0 AS BIGINT) AS n_findings,
         |  (SELECT n FROM live) AS live_rows,
         |  CAST(2 AS BIGINT) AS versions,
         |  CAST(2 AS BIGINT) AS current_version""".stripMargin,

    // after refresh the clone equals the source: both stores read as
    // the global last-writer fold
    "cdc_clone_refresh" ->
      s"""WITH net AS (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events),
         |live AS (
         |  SELECT user_id, event_id AS last_event_id, value_cents
         |  FROM net WHERE rn = 1 AND op <> 'delete')
         |SELECT * FROM (
         |  SELECT 'source' AS store, user_id, last_event_id, value_cents
         |  FROM live
         |  UNION ALL
         |  SELECT 'clone' AS store, user_id, last_event_id, value_cents
         |  FROM live)
         |ORDER BY store, user_id""".stripMargin,

    // the fleet rolls back to the laggard's watermark (the two-thirds
    // cut): both tables fold only events before it
    "cdc_restore_consistent" ->
      s"""WITH b AS (
         |  SELECT min(epoch_ms(CAST(ts AS TIMESTAMP))) AS mn,
         |    max(epoch_ms(CAST(ts AS TIMESTAMP))) AS mx FROM events),
         |cut AS (SELECT mn + 2 * ((mx - mn) // 3) AS c FROM b),
         |e AS (
         |  SELECT CASE WHEN event_type IN ('click', 'view')
         |           THEN 'clicks' ELSE 'orders' END AS store,
         |    user_id, event_id, event_type,
         |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
         |    ${centsSql("value")} AS value_cents
         |  FROM events),
         |r AS (
         |  SELECT store, user_id, event_id, value_cents, event_type,
         |    row_number() OVER (PARTITION BY store, user_id
         |                       ORDER BY ms DESC, event_id DESC) AS rn
         |  FROM e, cut WHERE ms < c)
         |SELECT store, user_id, event_id AS last_event_id, value_cents
         |FROM r WHERE rn = 1 AND event_type <> 'error'
         |ORDER BY 1, 2""".stripMargin,

    "cdc_change_feed" ->
      s"""WITH mm AS (
         |  SELECT min(epoch_ms(CAST(ts AS TIMESTAMP))) AS mn,
         |         max(epoch_ms(CAST(ts AS TIMESTAMP))) AS mx
         |  FROM events),
         |tagged AS (
         |  SELECT user_id, event_id, ts, $opSql AS op,
         |    ${centsSql("value")} AS value_cents,
         |    CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP)) < mn + (mx - mn) // 2
         |         THEN 1 ELSE 2 END AS commit_version
         |  FROM events, mm),
         |net AS (
         |  SELECT * FROM (
         |    SELECT tagged.*,
         |      row_number() OVER (PARTITION BY commit_version, user_id
         |                         ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM tagged)
         |  WHERE rn = 1)
         |SELECT CAST(commit_version AS BIGINT) AS commit_version, op,
         |  count(*) AS n_changes,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  CAST(sum(event_id) AS BIGINT) AS sum_event_id,
         |  CAST(sum(value_cents) AS BIGINT) AS sum_value_cents
         |FROM net GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "cdc_replica_diff" ->
      s"""WITH mm AS (
         |  SELECT min(epoch_ms(CAST(ts AS TIMESTAMP))) AS mn,
         |         max(epoch_ms(CAST(ts AS TIMESTAMP))) AS mx
         |  FROM events),
         |v1 AS (
         |  SELECT user_id, event_id FROM (
         |    SELECT user_id, event_id, $opSql AS op,
         |      row_number() OVER (PARTITION BY user_id
         |                         ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events, mm
         |    WHERE epoch_ms(CAST(ts AS TIMESTAMP)) < mn + (mx - mn) // 2)
         |  WHERE rn = 1 AND op <> 'delete'),
         |v2 AS (
         |  SELECT user_id, event_id FROM (
         |    SELECT user_id, event_id, $opSql AS op,
         |      row_number() OVER (PARTITION BY user_id
         |                         ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events)
         |  WHERE rn = 1 AND op <> 'delete')
         |SELECT COALESCE(v1.user_id, v2.user_id) AS user_id,
         |  CASE WHEN v1.user_id IS NULL THEN 'added'
         |       WHEN v2.user_id IS NULL THEN 'removed'
         |       ELSE 'changed' END AS change_type,
         |  v1.event_id AS old_event_id, v2.event_id AS new_event_id
         |FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id
         |WHERE v1.user_id IS NULL OR v2.user_id IS NULL
         |   OR v1.event_id <> v2.event_id
         |ORDER BY 1""".stripMargin,

    // out-of-order application must converge to the plain global
    // latest state — the oracle IS that latest state
    "cdc_erasure_mor" ->
      s"""SELECT user_id, event_id AS last_event_id, value_cents FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete' AND user_id % 97 <> 0
         |ORDER BY user_id""".stripMargin,

    "cdc_defer_conditional" ->
      s"""SELECT user_id, event_id AS last_event_id,
         |  epoch_ms(CAST(ts AS TIMESTAMP)) AS last_ts_ms,
         |  ${centsSql("value")} AS value_cents
         |FROM (
         |  SELECT user_id, event_id, ts, value, $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete'
         |ORDER BY user_id""".stripMargin,

    "cdc_out_of_order" ->
      s"""SELECT user_id, event_id AS last_event_id,
         |  epoch_ms(CAST(ts AS TIMESTAMP)) AS last_ts_ms,
         |  ${centsSql("value")} AS value_cents
         |FROM (
         |  SELECT user_id, event_id, ts, value, $opSql AS op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND op <> 'delete'
         |ORDER BY user_id""".stripMargin,

    // watermarks pinned by the builder: clicks ends at mx+1 (3
    // versions), orders at the second thirds cut (2 versions)
    "cdc_lag_report" ->
      s"""WITH b AS (
         |  SELECT min(epoch_ms(CAST(ts AS TIMESTAMP))) AS mn,
         |    max(epoch_ms(CAST(ts AS TIMESTAMP))) AS mx FROM events),
         |w AS (
         |  SELECT 'clicks' AS table_name, CAST(3 AS BIGINT) AS latest_version,
         |    mx + 1 AS wm FROM b
         |  UNION ALL
         |  SELECT 'orders', CAST(2 AS BIGINT), mn + 2 * ((mx - mn) // 3)
         |  FROM b)
         |SELECT table_name, latest_version,
         |  CAST(wm AS BIGINT) AS latest_watermark_ms,
         |  CAST((SELECT max(wm) FROM w) - wm AS BIGINT) AS lag_ms
         |FROM w ORDER BY 1""".stripMargin,

    // the consistency point is the lagging table's watermark (second
    // thirds cut); both tables' states must be latest-state BEFORE it
    "cdc_consistent_snapshot" ->
      s"""WITH b AS (
         |  SELECT min(epoch_ms(CAST(ts AS TIMESTAMP))) AS mn,
         |    max(epoch_ms(CAST(ts AS TIMESTAMP))) AS mx FROM events),
         |cut AS (SELECT mn + 2 * ((mx - mn) // 3) AS c FROM b),
         |e AS (
         |  SELECT CASE WHEN event_type IN ('click', 'view')
         |           THEN 'clicks' ELSE 'orders' END AS table_name,
         |    user_id, event_id, event_type,
         |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
         |    ${centsSql("value")} AS value_cents
         |  FROM events),
         |r AS (
         |  SELECT table_name, user_id, event_id, value_cents, event_type,
         |    row_number() OVER (PARTITION BY table_name, user_id
         |                       ORDER BY ms DESC, event_id DESC) AS rn
         |  FROM e, cut WHERE ms < c)
         |SELECT table_name, user_id, event_id AS last_event_id, value_cents
         |FROM r WHERE rn = 1 AND event_type <> 'error'
         |ORDER BY 1, 2""".stripMargin,

    "cdc_clone_consistent" ->
      s"""WITH b AS (
         |  SELECT min(epoch_ms(CAST(ts AS TIMESTAMP))) AS mn,
         |    max(epoch_ms(CAST(ts AS TIMESTAMP))) AS mx FROM events),
         |cut AS (SELECT mn + 2 * ((mx - mn) // 3) AS c FROM b),
         |e AS (
         |  SELECT CASE WHEN event_type IN ('click', 'view')
         |           THEN 'clicks' ELSE 'orders' END AS table_name,
         |    user_id, event_id, event_type,
         |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
         |    ${centsSql("value")} AS value_cents
         |  FROM events),
         |r AS (
         |  SELECT table_name, user_id, event_id, value_cents, event_type,
         |    row_number() OVER (PARTITION BY table_name, user_id
         |                       ORDER BY ms DESC, event_id DESC) AS rn
         |  FROM e, cut WHERE ms < c)
         |SELECT table_name, user_id, event_id AS last_event_id, value_cents
         |FROM r WHERE rn = 1 AND event_type <> 'error'
         |ORDER BY 1, 2""".stripMargin,

    // the replica's shard digests must equal the changelog's — computed
    // here straight from events (the replica never exists oracle-side)
    "cdc_replica_audit" -> {
      val rh = graft.llm.TextOps.hash32Sql(
        "CAST(user_id AS VARCHAR) || ':' || CAST(event_id AS VARCHAR)" +
          " || ':' || CAST(value_cents AS VARCHAR)")
      s"""WITH latest AS (
         |  SELECT user_id, event_id, value_cents FROM (
         |    SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |      $opSql AS op,
         |      row_number() OVER (PARTITION BY user_id
         |                         ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events)
         |  WHERE rn = 1 AND op <> 'delete')
         |SELECT user_id % 16 AS shard, count(*) AS n_rows,
         |  CAST(sum(user_id) AS BIGINT) AS key_sum,
         |  CAST(sum($rh) AS BIGINT) AS digest_sum
         |FROM latest GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q31_skew_report" ->
      """SELECT user_id, n_rows, (1000000 * n_rows) // total AS share_ppm
        |FROM (SELECT user_id, count(*) AS n_rows FROM events GROUP BY 1),
        |     (SELECT count(*) AS total FROM events)
        |ORDER BY n_rows DESC, user_id ASC LIMIT 10""".stripMargin,

    // the maintained join view must equal the direct join of the
    // latest live state with all orders — the IVM correctness
    // statement for the delta-join rule
    "cdc_ivm_join" ->
      s"""SELECT e.user_id, o.o_orderkey, e.value_cents,
         |  ${centsSql("o.o_totalprice")} AS price_cents
         |FROM (
         |  SELECT user_id, value_cents FROM (
         |    SELECT user_id, ${centsSql("value")} AS value_cents,
         |      $opSql AS op,
         |      row_number() OVER (PARTITION BY user_id
         |                         ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events)
         |  WHERE rn = 1 AND op <> 'delete') e
         |JOIN orders o ON o.o_custkey = e.user_id
         |ORDER BY e.user_id, o.o_orderkey""".stripMargin,

    // the maintained view must equal the direct latest-state aggregate
    // over ALL events — the IVM correctness statement itself
    "cdc_ivm_agg" ->
      s"""SELECT user_id % 8 AS segment, count(*) AS n_keys,
         |  CAST(sum(value_cents) AS BIGINT) AS sum_cents
         |FROM (
         |  SELECT user_id, value_cents, op,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM (SELECT user_id, event_id, ts,
         |          ${centsSql("value")} AS value_cents, $opSql AS op
         |        FROM events))
         |WHERE rn = 1 AND op <> 'delete'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q30_json_extract" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(k) AS BIGINT) AS sum_k, max(k) AS max_k,
        |  CAST(sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "cdc_scd2_history" ->
      s"""SELECT user_id, event_id, value_cents, valid_from_ms, valid_to_ms,
         |  valid_to_ms IS NULL AS is_current
         |FROM (
         |  SELECT user_id, event_id, ${centsSql("value")} AS value_cents,
         |    $opSql AS op,
         |    epoch_ms(CAST(ts AS TIMESTAMP)) AS valid_from_ms,
         |    lead(epoch_ms(CAST(ts AS TIMESTAMP))) OVER (
         |      PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_ms
         |  FROM events)
         |WHERE op <> 'delete'
         |ORDER BY user_id, valid_from_ms, event_id""".stripMargin,

    "cdc_offset_roundtrip" ->
      """SELECT event_id, file_id, pos,
        |  file_id * 10000000000000 + pos AS offset,
        |  (file_id * 10000000000000 + pos) // 10000000000000 AS file_id_rt,
        |  (file_id * 10000000000000 + pos) % 10000000000000 AS pos_rt,
        |  printf('graft-bin.%06d', file_id) AS filename
        |FROM (SELECT event_id, event_id % 997 AS file_id, event_id * 31 AS pos
        |      FROM events) ORDER BY event_id""".stripMargin,

    "cdc_envelope_roundtrip" ->
      s"""SELECT $opSql AS op, count(*) AS n,
         |  max(epoch_ms(CAST(ts AS TIMESTAMP))) AS max_ts_ms,
         |  CAST(sum(${centsSql("value")}) AS BIGINT) AS value_cents
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q35_islands" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         |    ${centsSql("value")} AS v
         |  FROM events),
         |m AS (
         |  SELECT user_id, event_id, ts, event_type, v,
         |    CASE WHEN lag(event_type) OVER w IS NULL
         |         OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |i AS (
         |  SELECT user_id, event_id, ts, event_type, v,
         |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
         |  FROM m)
         |SELECT user_id, island, min(event_type) AS event_type,
         |  count(*) AS n_events,
         |  min(epoch_ms(ts)) AS start_ms, max(epoch_ms(ts)) AS end_ms,
         |  CAST(sum(v) AS BIGINT) AS value_cents
         |FROM i GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q37_trailing_hour" ->
      s"""SELECT user_id, event_id, sec,
         |  count(*) OVER w AS n_trailing,
         |  CAST(sum(v) OVER w AS BIGINT) AS cents_trailing
         |FROM (SELECT user_id, event_id,
         |        epoch_ms(CAST(ts AS TIMESTAMP)) // 1000 AS sec,
         |        ${centsSql("value")} AS v
         |      FROM events)
         |WINDOW w AS (PARTITION BY user_id ORDER BY sec
         |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, sec, event_id""".stripMargin,

    // the version valid at each purchase = the immediately preceding
    // change on the same keyed timeline; a preceding delete tombstones
    "cdc_temporal_lookup" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, event_type, ts,
         |    ${centsSql("value")} AS cents, $opSql AS op
         |  FROM events),
         |p AS (
         |  SELECT event_id, user_id, event_type,
         |    lag(op) OVER w AS p_op,
         |    lag(event_id) OVER w AS p_id,
         |    lag(cents) OVER w AS p_cents
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT event_id, user_id,
         |  (p_op IS NOT NULL AND p_op <> 'delete') AS had_record,
         |  CASE WHEN p_op IS NOT NULL AND p_op <> 'delete'
         |       THEN p_id END AS version_event_id,
         |  CASE WHEN p_op IS NOT NULL AND p_op <> 'delete'
         |       THEN p_cents END AS value_cents_at_ts
         |FROM p WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    "q45_transitions" ->
      """WITH p AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS from_type,
        |         event_type AS to_type
        |  FROM events),
        |g AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_trans
        |  FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_trans,
        |  CAST(n_trans * 1000000 //
        |    (sum(n_trans) OVER (PARTITION BY from_type)) AS BIGINT) AS p_ppm
        |FROM g ORDER BY from_type, to_type""".stripMargin,

    // identical sequential fold over the identical (t, event_id) total
    // order — alpha=1/2 halving is exact scaling, adds are IEEE
    // correctly rounded in both engines
    "q40_ewma" ->
      s"""SELECT user_id, count(*) AS n_events,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(CAST(${centsSql("value")} AS DOUBLE)
         |         ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)), event_id)),
         |    (acc, x) -> acc/2 + x/2) AS ewma_cents
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
