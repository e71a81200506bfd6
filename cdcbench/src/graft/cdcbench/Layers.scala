package graft.cdcbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.CdcStream

/** On-disk facts about replica store directories, read from the files
  * the store leaves (pointer, manifest, data files).
  */
object Store {
  def version(dir: String): Long = CdcStream.replicaCurrentVersion(dir).getOrElse(0L)

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f) else Nil

  /** Time each compaction took, in ms: from the publish of the version
    * before it to the publish of the version whose manifest records
    * `commitKind = compact` (manifest file times). Streaming jobs all
    * carry the query's start call site, so the store's own record is
    * what tells compaction apart.
    */
  def compactionsMs(dir: String): Seq[Double] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val versions = CdcStream.replicaVersions(dir).flatMap { v =>
      val f = new File(new File(dir, f"v$v%09d"), "manifest.json")
      if (!f.isFile) None
      else Some((Option(mapper.readTree(f).get("commitKind")).map(_.asText()),
        f.lastModified()))
    }
    versions.sliding(2).collect { case Seq((_, before), (Some("compact"), at)) =>
      (at - before).toDouble }.toSeq
  }

  def diskBytes(dirs: Seq[String]): Long = dirs.flatMap(d => walk(new File(d))).map(_.length).sum
  def dataFiles(dirs: Seq[String]): Int =
    dirs.flatMap(d => walk(new File(d))).count(_.getName.endsWith(".parquet"))

  /** Bytes of the data files the current manifest references (buckets
    * and pending deltas): the live data a reader of the current
    * version touches.
    */
  def referencedBytes(dir: String): Long = {
    val cur = new File(dir, "CURRENT")
    if (!cur.exists()) return 0L
    val name = new String(java.nio.file.Files.readAllBytes(cur.toPath)).trim
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(new File(dir, name), "manifest.json"))
    val paths = Seq("buckets", "deltas").flatMap(f => Option(m.get(f)).toSeq)
      .flatMap(_.elements().asScala.toSeq)
      .flatMap(n => if (n.isArray) n.elements().asScala.map(_.asText()).toSeq else Seq(n.asText()))
    paths.distinct.map { p =>
      val f = if (p.startsWith("/")) new File(p) else new File(dir, p)
      walk(f).filterNot(_.getName.startsWith(".")).map(_.length).sum
    }.sum
  }
}

object Dirs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}

/** Records when each micro-batch's commit first became visible: the
  * time this JVM first sees the sink's `_sink_batches/b<id>` marker,
  * which the sink writes right after the batch's store commit. Polls
  * every millisecond on its own thread until [[stop]].
  */
final class Observer(storeDir: String) {
  private val seenAt = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  @volatile private var running = true
  private val dir = new File(storeDir, "_sink_batches")
  private val thread = new Thread(() => {
    while (running) {
      val names = Option(dir.list()).getOrElse(Array.empty[String])
      if (names.length > seenAt.size) {
        val now = System.currentTimeMillis()
        names.foreach(n => seenAt.putIfAbsent(n.stripPrefix("b").toLong, now))
      }
      Thread.sleep(1)
    }
  }, "commit-observer")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { Thread.sleep(5); running = false; thread.join() }
  def seen(batchId: Long): Option[Long] = Option(seenAt.get(batchId))
}

/** Per-layer metrics shared by the workloads, with the full list of
  * names: a traced run reports every one, and a layer a workload does
  * not exercise reads 0.
  */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "source.latest_offset_ms" -> "ms", "source.plan_ms" -> "ms",
    "source.rows_per_trigger" -> "count", "source.scan_tasks_per_trigger" -> "count",
    "source.scan_task_ms" -> "ms", "source.backlog_events" -> "count",
    "source.backlog_age_ms" -> "ms",
    "trigger.count" -> "count", "trigger.exec_ms" -> "ms",
    "trigger.wal_commit_ms" -> "ms", "trigger.commit_offsets_ms" -> "ms",
    "trigger.remainder_ms" -> "ms",
    "sink.add_batch_ms" -> "ms",
    "store.jobs_per_commit" -> "count", "store.stages_per_commit" -> "count",
    "store.task_ms_per_commit" -> "ms", "store.driver_gap_ms" -> "ms",
    "store.versions_per_commit" -> "count", "store.bytes_written_per_commit" -> "B",
    "store.write_amp" -> "ratio", "store.space_amp" -> "ratio",
    "store.files_live" -> "count", "store.compactions" -> "count",
    "store.compaction_ms" -> "ms",
    "read.point_ms" -> "ms", "read.gsi_ms" -> "ms", "read.asof_ms" -> "ms",
    "read.scan_ms" -> "ms", "read.jobs_per_read" -> "count",
    "read.files_per_read" -> "count", "read.bytes_per_read" -> "B",
    "read.rows_examined_per_row_returned" -> "ratio",
    "gen.late_tail_ms" -> "ms", "jvm.gc_ms" -> "ms", "trace.overhead_ratio" -> "ratio")

  def fillZeros(r: Result): Unit = Units.foreach { case (k, u) =>
    if (!r.layer.contains(k)) r.layer(k) = (0.0, u) }

  private def unit(k: String) = Units.find(_._1 == k).map(_._2).getOrElse("count")
  def set(r: Result, k: String, v: Double): Unit = r.layer(k) = (v, unit(k))

  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)

  /** Store-commit layers of the timed micro-batches, from progress and
    * the listener's job records. `backlog` gives (events, age ms) at a
    * batch's trigger start; `inputBytes` is the changelog bytes the
    * timed batches consumed; `versionsPerCommit` the store versions a
    * timed batch published, over all the stores; `compactions` the time
    * of each compaction they ran.
    */
  def stream(r: Result, tr: Tracer, batches: Seq[StreamingQueryProgress],
      backlog: StreamingQueryProgress => (Double, Double), storeDirs: Seq[String],
      versionsPerCommit: Double, inputBytes: Double,
      compactions: Seq[Double]): Seq[Span] = {
    if (batches.isEmpty) return Nil
    val costs = batches.map(b => tr.cost(tr.jobsOfBatch(b)))
    // phase times are means, so that the phases and the remainder add
    // up to trigger.exec_ms exactly
    val mean = (f: StreamingQueryProgress => Double) => Stats.mean(batches.map(f))
    set(r, "source.latest_offset_ms", mean(dur(_, "latestOffset")))
    set(r, "source.plan_ms", mean(b => dur(b, "getBatch") + dur(b, "queryPlanning")))
    set(r, "source.rows_per_trigger", Stats.median(batches.map(_.numInputRows.toDouble)))
    set(r, "source.scan_tasks_per_trigger", Stats.mean(costs.map(_.scanTasks.toDouble)))
    set(r, "source.scan_task_ms", Stats.mean(costs.map(_.scanTaskMs.toDouble)))
    val bl = batches.map(backlog)
    set(r, "source.backlog_events", Stats.median(bl.map(_._1)))
    set(r, "source.backlog_age_ms", Stats.median(bl.map(_._2)))
    set(r, "trigger.count", batches.size.toDouble)
    set(r, "trigger.exec_ms", mean(dur(_, "triggerExecution")))
    set(r, "trigger.wal_commit_ms", mean(dur(_, "walCommit")))
    set(r, "trigger.commit_offsets_ms", mean(dur(_, "commitOffsets")))
    set(r, "trigger.remainder_ms", mean(b =>
      dur(b, "triggerExecution") - Tracer.PhaseOrder.map(dur(b, _)).sum))
    set(r, "sink.add_batch_ms", mean(dur(_, "addBatch")))
    set(r, "store.jobs_per_commit", Stats.mean(costs.map(_.jobs.toDouble)))
    set(r, "store.stages_per_commit", Stats.mean(costs.map(_.stages.toDouble)))
    set(r, "store.task_ms_per_commit", Stats.mean(costs.map(_.taskMs.toDouble)))
    set(r, "store.driver_gap_ms", Stats.median(batches.zip(costs).map { case (b, c) =>
      dur(b, "addBatch") - c.jobUnionMs }))
    set(r, "store.versions_per_commit", versionsPerCommit)
    set(r, "store.bytes_written_per_commit", Stats.mean(costs.map(_.bytesWritten.toDouble)))
    set(r, "store.write_amp", costs.map(_.bytesWritten).sum / math.max(1.0, inputBytes))
    storeLayout(r, storeDirs)
    set(r, "store.compactions", compactions.size.toDouble)
    set(r, "store.compaction_ms", Stats.mean(compactions))
    batches.flatMap(tr.batchSpans)
  }

  def storeLayout(r: Result, storeDirs: Seq[String]): Unit = {
    set(r, "store.space_amp", Store.diskBytes(storeDirs).toDouble /
      math.max(1L, storeDirs.map(Store.referencedBytes).sum))
    set(r, "store.files_live", Store.dataFiles(storeDirs).toDouble)
  }

  /** Self-time table by layer over the given spans. */
  def selfTable(tr: Tracer, spans: Seq[Span], units: Int): Map[String, Any] =
    tr.selfTimes(spans).toSeq.sortBy(-_._2).map { case (layer, ms) =>
      layer -> Map("self_ms" -> ms, "self_ms_per_unit" -> ms.toDouble / math.max(1, units))
    }.toMap
}
