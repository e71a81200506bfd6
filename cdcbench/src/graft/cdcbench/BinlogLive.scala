package graft.cdcbench

import java.io.{BufferedReader, File, InputStreamReader}

import scala.collection.mutable

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.CdcStream

/** `binlog_gsi_live`: an open-loop generator process appends seeded
  * events to a live single-table binlog at a fixed rate while
  * `graft-binlog` → `CdcStream.parsed` → `graft-replica` (eager merge,
  * change feed, two GSIs) keeps a replica current. Freshness runs from
  * each event's due time at the generator to the moment this JVM first
  * sees a replica version that contains it.
  *
  * Commit-heavy, source-light: every trigger pays the store's commit
  * jobs for a few hundred rows, so the per-trigger floor sets
  * freshness.
  *
  * After the live period, backlogs of [[Burst]] events appear at once,
  * one after another, and drain through the same pipeline: the
  * pipeline's rate when
  * saturated, which the open loop cannot show (there each trigger takes
  * what arrived during the one before, so events per trigger time is
  * the offered rate).
  */
object BinlogLive {
  val Shape = graft.cdcbench.Shape(keys = 20000, zipfS = 0.99, deleteShare = 0.1,
    payloadWidth = 64)
  /** Events per second; about half the rate at which freshness stops
    * being flat on a 4-core host (the rate sweep in WORKLOADS.md).
    */
  val Rate = 1600.0
  /** Events per live log file: a roll every 10 s at [[Rate]], so each
    * new file spends its first 2 s inside ChangelogFiles' directory
    * mtime trust window and later triggers list the directory cached.
    */
  val RollEvents = 16000L
  /** Events written before the stream starts; the set-up trigger
    * consumes them (the untimed warmup).
    */
  val Prefix = 200
  /** Backlog events written at once after the live period, and how
    * many such backlogs drain one after another.
    */
  val Burst = 2000
  val BurstRepeats = 3
  val SetupRepeats = 3
  /** Reads issued against the final store after ingest. */
  val ReadBackReads = 16

  private final class Pipe(val base: File, val log: File, val primary: String,
      val gsis: Seq[(String, String)], val query: StreamingQuery,
      val prefix: Vector[(Ev, Long)], val nextFile: Long)

  private def start(ctx: Ctx, i: Int): Pipe = {
    val base = ctx.dir(s"live-$i")
    val log = new File(base, "log")
    Events.writeSchemas(log)
    val gen = new EventGen(ctx.seed, Shape)
    val w = new LogWriter(log, RollEvents, 1L)
    val ts0 = System.currentTimeMillis() - Prefix
    val prefix = (0 until Prefix).map { j =>
      val e = gen.next(); w.append(e, ts0 + j); (e, ts0 + j)
    }.toVector
    w.close()
    val primary = new File(base, "primary").getPath
    val gsis = Seq("grp", "score").map(c => c -> new File(base, s"gsi_$c").getPath)
    val rows = CdcStream.parsed(
      ctx.spark.readStream.format("graft-binlog").option("path", log.getPath).load(),
      Events.rowSchema)
      .select("op", "ts_ms", "event_id", "user_id", "grp", "score", "payload")
    val q = rows.writeStream.format("graft-replica")
      .option("path", primary)
      .option("keys", "user_id")
      .option("orderColumns", "ts_ms,event_id")
      .option("changeFeed", "true")
      .option("indexColumn", gsis.map(_._1).mkString(","))
      .option("indexPath", gsis.map(_._2).mkString(","))
      .option("checkpointLocation", new File(base, "ck").getPath)
      .start()
    q.processAllAvailable()
    new Pipe(base, log, primary, gsis, q, prefix, w.nextFileId)
  }

  def run(ctx: Ctx): Result = {
    val r = new Result
    // set-up: write the prefix, start the query, run the warmup trigger
    val setupRepeats = if (ctx.brief) 1 else SetupRepeats
    val burstRepeats = if (ctx.brief) 1 else BurstRepeats
    val setups = (1 to setupRepeats).map { i =>
      val t = System.nanoTime()
      val p = start(ctx, i)
      val s = (System.nanoTime() - t) / 1e9
      if (i < setupRepeats) { p.query.stop(); Dirs.delete(p.base) }
      (s, p)
    }
    r.e2e("setup_s") = (Stats.median(setups.map(_._1)), "s")
    val p = setups.last._2
    val q = p.query
    val setupBatch = q.lastProgress.batchId
    val stores = p.primary +: p.gsis.map(_._2)
    val v0 = stores.map(Store.version).sum
    val observer = new Observer(p.primary)

    val rate = ctx.opts.get("rate").map(_.toDouble).getOrElse(Rate)
    val n = (rate * ctx.seconds).round.toInt
    val javaBin = new File(System.getProperty("java.home"), "bin/java").getPath
    val pb = new ProcessBuilder(javaBin, "-Xmx256m", "-XX:-UsePerfData",
      s"-Djava.io.tmpdir=${ctx.root.getPath}",
      "-cp", System.getProperty("java.class.path"), "graft.cdcbench.LiveGen",
      p.log.getPath, ctx.seed.toString, Shape.keys.toString, Shape.zipfS.toString,
      Shape.deleteShare.toString, Shape.payloadWidth.toString, rate.toString,
      ctx.seconds.toString, Prefix.toString, RollEvents.toString, p.nextFile.toString)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    val (t0, genDone) =
      try {
        val in = new BufferedReader(new InputStreamReader(proc.getInputStream))
        val t0 = in.readLine().stripPrefix("t0 ").toLong
        val done = in.readLine()
        proc.waitFor()
        (t0, done)
      } finally {
        if (proc.isAlive) { proc.destroy(); proc.waitFor() }
      }
    val Array(_, written, lateP50, lateTail, genNextFile) = genDone.split(" ")
    q.processAllAvailable()
    val liveBatch = q.lastProgress.batchId
    val vLive = stores.map(Store.version).sum

    // the backlogs: each one whole log file moved into place at once, so
    // the source sees all of it in one listing
    val gen = new EventGen(ctx.seed, Shape)
    (0 until Prefix).foreach(_ => gen.next())
    val live = (0 until n).map(i => (gen.next(), LiveGen.due(t0, i, rate)))
    val stage = ctx.dir("burst-stage")
    val bursts = (0 until burstRepeats).map { i =>
      val bw = new LogWriter(stage, Burst, genNextFile.toLong + i)
      val ts = System.currentTimeMillis()
      val evs = (0 until Burst).map { _ => val e = gen.next(); bw.append(e, ts); (e, ts) }
      bw.close()
      val before = q.lastProgress.batchId
      stage.listFiles().foreach(f => java.nio.file.Files.move(f.toPath,
        new File(p.log, f.getName).toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE))
      val at = System.currentTimeMillis()
      q.processAllAvailable()
      (evs, at, before, q.lastProgress.batchId)
    }
    observer.stop()
    q.stop()

    val all = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val timed = all.filter(b => b.batchId > setupBatch && b.batchId <= liveBatch).sortBy(_.batchId)
    val burstBatches = bursts.map { case (_, _, from, to) =>
      all.filter(b => b.batchId > from && b.batchId <= to).sortBy(_.batchId) }
    val total = Prefix + n + Burst * burstRepeats
    def consumed(pr: StreamingQueryProgress): Long =
      "\"[^\"]+\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(pr.sources.head.endOffset)
        .map(_.group(1).toLong).getOrElse(-1L)
    r.check("generator wrote every event", written.toInt == n, s"wrote $written of $n")
    r.check("every event consumed exactly once",
      all.map(_.numInputRows).sum == total && all.lastOption.exists(consumed(_) == total),
      s"rows ${all.map(_.numInputRows).sum}, final offset ${all.lastOption.map(consumed)}, " +
        s"generated $total")

    // freshness of each live event: the first batch that covers it
    val due = (j: Int) => LiveGen.due(t0, j - Prefix, rate)
    val visibleAt = timed.map(b => (consumed(b), observer.seen(b.batchId)))
    val fresh = mutable.ArrayBuffer.empty[Double]
    var k = 0
    (Prefix until Prefix + n).foreach { j =>
      while (k < visibleAt.size && visibleAt(k)._1 <= j) k += 1
      if (k < visibleAt.size) visibleAt(k)._2.foreach(t => fresh += (t - due(j)).toDouble)
    }
    r.attempted = n + Burst * burstRepeats
    r.failed += n - fresh.size
    val (tail, tailPct) = Stats.tail(fresh.toSeq)
    r.e2e("freshness_p50_ms") = (Stats.median(fresh.toSeq), "ms")
    r.e2e("freshness_tail_ms") = (tail, "ms")
    // each backlog drain: from the backlog's arrival to its commit being
    // seen; and, for the record, over its triggers' execution time only
    val drainMs = bursts.zip(burstBatches).zipWithIndex.map { case (((_, at, _, _), bs), i) =>
      val seen = bs.lastOption.flatMap(b => observer.seen(b.batchId))
      r.check(s"backlog ${i + 1} was drained and seen committed",
        seen.nonEmpty && bs.map(_.numInputRows).sum == Burst,
        s"${bs.map(_.numInputRows).sum} of $Burst backlog events committed")
      seen.map(_ - at).getOrElse(Long.MaxValue).toDouble
    }
    r.e2e("drain_eps") = (Burst * 1000.0 / math.max(1.0, Stats.median(drainMs)), "1/s")
    val burstExecMs = burstBatches.flatten.map(Layers.dur(_, "triggerExecution")).sum
    val commitMs = timed.map(Layers.dur(_, "addBatch"))
    r.e2e("commit_p50_ms") = (Stats.median(commitMs), "ms")
    r.info ++= Seq("rate_eps" -> rate, "events" -> n, "prefix_events" -> Prefix,
      "burst_events" -> Burst, "bursts" -> burstRepeats,
      "burst_triggers" -> burstBatches.map(_.size), "burst_drain_ms" -> drainMs,
      "ingest_capacity_eps" -> Burst * burstRepeats * 1000.0 / math.max(burstExecMs, 1.0),
      "rows_per_trigger" -> timed.map(_.numInputRows),
      "keys" -> Shape.keys, "zipf_s" -> Shape.zipfS, "delete_share" -> Shape.deleteShare,
      "payload_width" -> Shape.payloadWidth, "roll_events" -> RollEvents,
      "freshness_samples" -> fresh.size, "freshness_tail_pct" -> tailPct,
      "triggers" -> timed.size,
      "gen_late_p50_ms" -> lateP50.toDouble, "gen_late_tail_ms" -> lateTail.toDouble,
      "setup_runs_s" -> setups.map(_._1))

    // the independent fold of every generated event
    val expected = Fold(p.prefix ++ live ++ bursts.flatMap(_._1))
    checkStores(ctx, r, expected, p.primary, p.gsis)

    if (ctx.tracer.enabled) {
      ctx.tracer.drain(ctx.sc)
      val spans = Layers.stream(r, ctx.tracer, timed, b => {
        val ts = java.time.Instant.parse(b.timestamp).toEpochMilli
        val before = consumed(b) - b.numInputRows
        val writtenBy = Prefix + (0 until n).count(i => LiveGen.due(t0, i, rate) <= ts)
        val age = if (writtenBy > before) ts - due(before.toInt) else 0L
        ((writtenBy - before).toDouble, age.toDouble)
      }, stores, (vLive - v0).toDouble / timed.size,
        timed.map(_.numInputRows).sum * Events.lineBytes(Shape),
        stores.flatMap(Store.compactionsMs))
      Layers.set(r, "gen.late_tail_ms", lateTail.toDouble)
      r.info("spans") = spans
      r.info("self_time") = Layers.selfTable(ctx.tracer, spans, timed.size)
    }
    Reads.readBack(ctx, r, p.primary, Some(p.gsis.head._2),
      expected.map { case (key, row) => key -> (row.eventId, row.grp) }, Shape, ReadBackReads)
    Dirs.delete(p.base)
    r
  }

  /** Primary and every GSI against the fold. */
  def checkStores(ctx: Ctx, r: Result, expected: Map[Long, Fold.Row], primary: String,
      gsis: Seq[(String, String)]): Unit = {
    val got = CdcStream.readReplica(ctx.spark, primary).map(_.select(
      col("user_id"), col("event_id"), col("grp"), col("score"), col("payload"))
      .collect().map(x => x.getLong(0) ->
        Fold.Row(x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4))).toMap)
      .getOrElse(Map.empty)
    val (bad, ex) = Fold.diff(expected, got)
    r.check("primary equals the fold", bad == 0, s"$bad keys differ: ${ex.mkString("; ")}")
    gsis.foreach { case (c, dir) =>
      val want = expected.toSeq.map { case (k, row) =>
        (if (c == "grp") row.grp else row.score, k) }.toSet
      val have = CdcStream.readReplica(ctx.spark, dir).map(_.select(col(c), col("user_id"))
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet).getOrElse(Set.empty)
      r.check(s"GSI $c equals the fold", want == have,
        s"${(want -- have).size} missing, ${(have -- want).size} extra entries")
    }
  }
}
