package graft.cdcbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

import graft.cdc.WalGenerator
import graft.streaming.CdcStream

/** `wal_backlog_drain`: a pre-generated, seeded, multi-region raw-cell
  * WAL is drained with `availableNow` by `graft-wal` (`groupRawCells`)
  * into a deferred-merge replica that compacts its own delta chains,
  * with no GSIs. Each drain starts from an empty replica and a fresh
  * checkpoint; the run repeats drains for its measured time.
  *
  * Source-heavy, commit-light: reading, folding cells back into
  * mutations, parsing and partition planning dominate, plus background
  * compaction.
  */
object WalDrain {
  val Shape = graft.cdcbench.Shape(keys = 50000, zipfS = 0.8, deleteShare = 0.1,
    payloadWidth = 32)
  /** Events per drain. Smaller drains were tried for more timed drains
    * per run: at 20,000 and 40,000 events the same limits cut a drain
    * into three triggers, and a drain took longer than one of 60,000.
    */
  val EventCount = 60000
  val RegionsPerCore = 3
  /** Cell records per WAL file (three cells per mutation). */
  val RecordsPerFile = 6000L
  /** Cell records: two triggers per drain. */
  val MaxEventsPerTrigger = 90000L
  val AutoCompactDeltas = 2
  val SetupRepeats = 3
  /** Untimed drains first: the first drains of a fresh JVM run up to 30%
    * slower than later ones while the JIT warms.
    */
  val WarmupDrains = 2
  val MinTimedDrains = 3
  /** Reads issued against the last drain's store. */
  val ReadBackReads = 18

  private val walRowSchema = StructType(Seq("rowkey", "d:event_id", "d:event_type",
    "d:value").map(StructField(_, StringType)))

  /** The seeded events, with distinct increasing timestamps so that no
    * two mutations of one key share a (rowkey, op, ts) cell group.
    */
  def events(seed: Long): Vector[(Ev, Long)] = {
    val gen = new EventGen(seed, Shape)
    Vector.tabulate(EventCount)(i => (gen.next(), 1700000000000L + i))
  }

  private def generate(ctx: Ctx, evs: Vector[(Ev, Long)], dir: File, regions: Int): Unit = {
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("ts", TimestampType)))
    // WalGenerator writes "error" events as deletes and every other
    // event type as a put; the payload rides in event_type
    val rows = evs.map { case (e, ts) => Row(e.id, e.key,
      if (e.op == "delete") "error" else e.payload, e.score.toDouble,
      new java.sql.Timestamp(ts)) }
    val df = ctx.spark.createDataFrame(
      ctx.spark.sparkContext.parallelize(rows, ctx.cpus), schema)
    WalGenerator.generate(df, dir.getPath, regions, RecordsPerFile, cellPerRecord = true)
  }

  private final case class Drain(seconds: Double, store: String, startMs: Long,
      batches: Seq[StreamingQueryProgress], seen: Long => Option[Long],
      compactionsMs: Seq[Double])

  /** One drain of the whole WAL into a fresh replica. */
  private def drain(ctx: Ctx, wal: File, base: File): Drain = {
    val store = new File(base, "replica").getPath
    val src = ctx.spark.readStream.format("graft-wal")
      .option("path", wal.getPath)
      .option("groupRawCells", "true")
      .option("maxEventsPerTrigger", MaxEventsPerTrigger.toString)
      .load()
    val rows = CdcStream.parsed(src, walRowSchema).select(
      col("rowkey").cast("long").as("user_id"),
      col("`d:event_id`").cast("long").as("event_id"),
      col("`d:event_type`").as("payload"), col("op"), col("ts_ms"))
    val observer = new Observer(store)
    val startMs = System.currentTimeMillis()
    val t = System.nanoTime()
    val q = rows.writeStream.format("graft-replica")
      .option("path", store)
      .option("keys", "user_id")
      .option("orderColumns", "ts_ms,event_id")
      .option("deferMerge", "true")
      .option("autoCompactDeltas", AutoCompactDeltas.toString)
      .option("checkpointLocation", new File(base, "ck").getPath)
      .start()
    q.processAllAvailable()
    q.stop()
    val s = (System.nanoTime() - t) / 1e9
    observer.stop()
    Drain(s, store, startMs,
      q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId), observer.seen,
      Store.compactionsMs(store))
  }

  def run(ctx: Ctx): Result = {
    val r = new Result
    val regions = RegionsPerCore * ctx.cpus
    val evs = events(ctx.seed)
    // the single-thread baseline runs in the traced run's JVM after the
    // traced workload, with the JIT warm: one set-up and one timed
    // drain, no read-back
    val baseline = ctx.opts.get("baseline").contains("1")
    val (repeats, warmups, minTimed) =
      if (baseline) (1, 0, 1)
      else if (ctx.brief) (1, 1, 2)
      else (SetupRepeats, WarmupDrains, MinTimedDrains)
    val setups = (1 to repeats).map { i =>
      val dir = new File(ctx.root, s"wal-$i")
      val t = System.nanoTime()
      generate(ctx, evs, dir, regions)
      val s = (System.nanoTime() - t) / 1e9
      if (i < repeats) Dirs.delete(dir)
      (s, dir)
    }
    r.e2e("setup_s") = (Stats.median(setups.map(_._1)), "s")
    val wal = setups.last._2
    val walBytes = Store.diskBytes(Seq(wal.getPath)).toDouble

    // untimed warmup drains, then timed drains for the measured time
    val warm = (1 to warmups).map { i =>
      val d = drain(ctx, wal, ctx.dir(s"warmup-$i"))
      Dirs.delete(new File(ctx.root, s"warmup-$i"))
      d.seconds
    }
    val timed = mutable.ArrayBuffer.empty[Drain]
    while (timed.size < minTimed || (!baseline && timed.map(_.seconds).sum < ctx.seconds)) {
      if (timed.nonEmpty) Dirs.delete(new File(timed.last.store).getParentFile)
      val d = drain(ctx, wal, ctx.dir(s"drain-${timed.size + 1}"))
      timed += d
      val rowsIn = d.batches.map(_.numInputRows).sum
      r.attempted += EventCount
      r.check(s"drain ${timed.size} consumed every event exactly once",
        rowsIn == EventCount, s"$rowsIn rows for $EventCount events")
    }
    val batches = timed.toSeq.flatMap(_.batches)
    // every event is available when its drain starts and visible once
    // the sink has committed the batch that carried it. Each drain gives
    // its own median and tail and the run reports their medians: pooled
    // over the drains, the median would fall between one drain's first
    // commit and another's second
    val fresh = timed.toSeq.map(d => d.batches.flatMap(b =>
      d.seen(b.batchId).toSeq.flatMap(t => Seq.fill(b.numInputRows.toInt)((t - d.startMs).toDouble))))
    r.failed += timed.size * EventCount - fresh.map(_.size).sum
    val tails = fresh.map(Stats.tail)
    r.e2e("freshness_p50_ms") = (Stats.median(fresh.map(Stats.median)), "ms")
    r.e2e("freshness_tail_ms") = (Stats.median(tails.map(_._1)), "ms")
    r.e2e("drain_eps") = (Stats.median(timed.map(d => EventCount / d.seconds).toSeq), "1/s")
    // a drain's first commit goes into an empty store and its second
    // compacts: each trigger position's median, averaged
    val positions = (0 until timed.map(_.batches.size).max).map(i =>
      Stats.median(timed.toSeq.flatMap(_.batches.lift(i)).map(Layers.dur(_, "addBatch"))))
    r.e2e("commit_p50_ms") = (Stats.mean(positions), "ms")
    r.info ++= Seq("events" -> EventCount, "cells" -> EventCount * 3, "regions" -> regions,
      "keys" -> Shape.keys, "zipf_s" -> Shape.zipfS, "delete_share" -> Shape.deleteShare,
      "payload_width" -> Shape.payloadWidth, "records_per_file" -> RecordsPerFile,
      "max_events_per_trigger" -> MaxEventsPerTrigger,
      "auto_compact_deltas" -> AutoCompactDeltas, "wal_bytes" -> walBytes,
      "drains" -> timed.size, "drain_s" -> timed.map(_.seconds), "warmup_drain_s" -> warm,
      "ingest_capacity_eps" -> batches.map(_.numInputRows).sum * 1000.0 /
        math.max(1.0, batches.map(Layers.dur(_, "triggerExecution")).sum),
      "triggers" -> batches.size, "freshness_tail_pct" -> tails.head._2,
      "setup_runs_s" -> setups.map(_._1))

    val last = timed.last
    val expected = Fold(evs)
    val got = CdcStream.readReplica(ctx.spark, last.store).map(_.select("user_id",
      "event_id", "payload").collect().map(x => x.getLong(0) -> (x.getLong(1), x.getString(2)))
      .toMap).getOrElse(Map.empty)
    val (bad, ex) = Fold.diff(expected.map { case (k, row) => k -> (row.eventId, row.payload) }, got)
    r.check("replica equals the fold", bad == 0, s"$bad keys differ: ${ex.mkString("; ")}")

    if (ctx.tracer.enabled) {
      ctx.tracer.drain(ctx.sc)
      val backlog = timed.toSeq.flatMap { d =>
        var before = 0L
        d.batches.map { b =>
          val ts = java.time.Instant.parse(b.timestamp).toEpochMilli
          val bl = ((EventCount - before).toDouble, (ts - d.startMs).toDouble)
          before += b.numInputRows
          b -> bl
        }
      }.toMap
      // versions counted over the last drain only (it started empty)
      val spans = Layers.stream(r, ctx.tracer, batches, backlog, Seq(last.store),
        Store.version(last.store).toDouble / last.batches.size,
        batches.map(_.numInputRows).sum * Events.lineBytes(Shape),
        timed.toSeq.flatMap(_.compactionsMs))
      r.info("spans") = spans
      r.info("self_time") = Layers.selfTable(ctx.tracer, spans, batches.size)
    }
    if (!baseline) Reads.readBack(ctx, r, last.store, None,
      expected.map { case (k, row) => k -> (row.eventId, row.grp) }, Shape, ReadBackReads)
    Dirs.delete(wal)
    Dirs.delete(new File(last.store).getParentFile)
    r
  }
}
