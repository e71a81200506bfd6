package graft.cdcbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Minimal JSON writer for the result line and the trace dump. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance()
      .quoteAsString(s).mkString("\"", "", "\"")
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case raw: Json.Raw => raw.json
    case s: Span => apply(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "key" -> s.key, "start" -> s.start, "end" -> s.end))
    case other => apply(other.toString)
  }
  /** Already-serialized JSON, embedded verbatim. */
  final case class Raw(json: String)
}

/** One recorded span: `layer` names the module boundary it wraps,
  * `key` the batch or request it belongs to.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    key: String, start: Long, end: Long)

/** Spans and Spark-side counts for the traced run. Request spans wrap
  * the benchmark's calls into the public API; the Spark listener tags
  * each job with the request (a local property) or the micro-batch
  * (`streaming.sql.batchId`) that ran it. Everything stays in memory
  * until the run writes its record. When disabled, [[span]] only runs
  * its body.
  */
final class Tracer(val enabled: Boolean) extends SparkListener {
  import Tracer._

  final class StageRec(val id: Int, val numTasks: Int, val scan: Boolean) {
    @volatile var start = 0L
    @volatile var end = 0L
    @volatile var completed = false
    var taskMs = 0L
    var bytesWritten = 0L
    var bytesRead = 0L
    var recordsRead = 0L
  }
  final class JobRec(val id: Int, val start: Long, val req: String,
      val query: String, val batch: Option[Long], val stageIds: Seq[Int],
      val details: String) {
    @volatile var end = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val reqSpans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  def register(sc: SparkContext): Unit = if (enabled) sc.addSparkListener(this)

  def span[T](sc: SparkContext, layer: String, name: String, key: String)(body: => T): T =
    if (!enabled) body
    else {
      sc.setLocalProperty(ReqKey, key)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        reqSpans.add(Span(ids.incrementAndGet(), 0L, layer, name, key, t0,
          System.currentTimeMillis()))
        sc.setLocalProperty(ReqKey, null)
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    e.stageInfos.foreach { si =>
      stages.putIfAbsent(si.stageId, new StageRec(si.stageId, si.numTasks,
        si.rddInfos.exists(_.name.contains("DataSourceRDD"))))
    }
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, prop(ReqKey).orNull,
      prop(QueryKey).orNull, prop(BatchKey).map(_.toLong), e.stageIds,
      e.stageInfos.map(_.details).mkString("\n")))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.start = e.stageInfo.submissionTime.getOrElse(0L)
      s.end = e.stageInfo.completionTime.getOrElse(0L)
      s.completed = true
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get(e.stageId)).foreach { s =>
      Option(e.taskMetrics).foreach { m =>
        s.synchronized {
          s.taskMs += m.executorRunTime
          s.bytesWritten += m.outputMetrics.bytesWritten
          s.bytesRead += m.inputMetrics.bytesRead
          s.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }

  /** Waits until every posted listener event has been handled. */
  def drain(sc: SparkContext): Unit =
    if (enabled) org.apache.spark.CdcBenchBus.drain(sc)

  def jobsOfBatch(p: StreamingQueryProgress): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.query == p.id.toString && j.batch.contains(p.batchId))
      .toSeq.sortBy(_.id)
  def jobsOfReq(r: String): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.req == r).toSeq.sortBy(_.id)
  def requestSpans: Seq[Span] = reqSpans.asScala.toSeq.sortBy(_.start)

  /** Work done by a set of jobs: completed stages only (skipped stages
    * did no work).
    */
  def cost(js: Seq[JobRec]): Cost = {
    val ss = js.flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id)))
      .filter(_.completed)
    Cost(js.size, ss.size, ss.map(_.taskMs).sum, ss.map(_.bytesWritten).sum,
      ss.map(_.bytesRead).sum, ss.map(_.recordsRead).sum,
      Stats.union(js.map(j => (j.start, j.end))),
      ss.filter(_.scan).map(_.numTasks).sum, ss.filter(_.scan).map(_.taskMs).sum)
  }

  /** Spans of one micro-batch: trigger, its phases laid out in the order
    * MicroBatchExecution runs them, and the batch's jobs and stages.
    */
  def batchSpans(p: StreamingQueryProgress): Seq[Span] = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
    val key = s"batch-${p.batchId}"
    val trig = Span(ids.incrementAndGet(), 0L, "trigger", "triggerExecution",
      key, start, start + d.getOrElse("triggerExecution", 0L))
    var t = start
    val phases = PhaseOrder.flatMap { ph =>
      d.get(ph).map { ms =>
        val s = Span(ids.incrementAndGet(), trig.id, PhaseLayer(ph), ph, key, t, t + ms)
        t += ms
        s
      }
    }
    val add = phases.find(_.name == "addBatch").map(_.id).getOrElse(trig.id)
    val js = jobsOfBatch(p)
    trig +: (phases ++ jobSpans(js, add, key))
  }

  def jobSpans(js: Seq[JobRec], parent: Long, key: String): Seq[Span] =
    js.flatMap { j =>
      val job = Span(ids.incrementAndGet(), parent, "spark.job",
        s"job-${j.id} ${j.details.linesIterator.nextOption().getOrElse("")}", key,
        j.start, j.end)
      job +: j.stageIds.flatMap(id => Option(stages.get(id))).filter(_.completed)
        .map(s => Span(ids.incrementAndGet(), job.id, "spark.stage",
          s"stage-${s.id}", key, s.start, s.end))
    }

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end)))
        (s.end - s.start) - Stats.union(cs)
      }.sum
    }
  }
}

object Tracer {
  val ReqKey = "cdcbench.request"
  val BatchKey = "streaming.sql.batchId"
  val QueryKey = "sql.streaming.queryId"
  /** MicroBatchExecution: offsets are resolved and logged before the
    * batch is planned and run, and committed after.
    */
  val PhaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")
  val PhaseLayer = Map("latestOffset" -> "source", "getBatch" -> "source",
    "queryPlanning" -> "source", "walCommit" -> "trigger.wal",
    "addBatch" -> "sink", "commitOffsets" -> "trigger.commit")

  final case class Cost(jobs: Int, stages: Int, taskMs: Long, bytesWritten: Long,
      bytesRead: Long, recordsRead: Long, jobUnionMs: Long, scanTasks: Int,
      scanTaskMs: Long)
}
