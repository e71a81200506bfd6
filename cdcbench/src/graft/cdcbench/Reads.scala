package graft.cdcbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.streaming.{CdcStream, SecondaryIndex}

/** The four replica reads the benchmark issues, each returning
  * key -> event_id:
  *
  *  - `point`: `CdcStream.readReplicaForKeys` on four Zipf keys;
  *  - `gsi`:   `SecondaryIndex.lookupByIndex` on one `grp` value;
  *  - `asof`:  `CdcStream.readReplicaAt` a given version, key range;
  *  - `scan`:  `spark.read.format("graft-replica")` with a key range,
  *             through ReplicaRelation and its zone-map pruning.
  */
object Reads {
  val Kinds = Seq("point", "gsi", "asof", "scan")
  val ScanWidth = 200L

  /** key -> (event_id, grp): the state a read is checked against. */
  type State = Map[Long, (Long, Long)]

  final case class Done(param: Any, got: Map[Long, Long], rows: Int, files: Long)

  def once(ctx: Ctx, kind: String, primary: String, gsiGrp: Option[String],
      keyGen: EventGen, rnd: java.util.SplittableRandom, version: Long): Done = {
    import ctx.spark.implicits._
    val (param: Any, df: DataFrame) = kind match {
      case "point" =>
        val ks = Seq.fill(4)(keyGen.key()).distinct
        (ks, CdcStream.readReplicaForKeys(ctx.spark, primary, Seq("user_id"),
          ks.toDF("user_id")).get)
      case "gsi" =>
        val g = rnd.nextInt(64).toLong
        (g, SecondaryIndex.lookupByIndex(ctx.spark, primary, gsiGrp.get, Seq("user_id"),
          col("grp"), "grp", Seq(g).toDF("grp")))
      case "asof" =>
        val lo = keyGen.key()
        ((lo, version), CdcStream.readReplicaAt(ctx.spark, primary, version).get
          .filter(col("user_id").between(lo, lo + ScanWidth)))
      case "scan" =>
        val lo = keyGen.key()
        (lo, ctx.spark.read.format("graft-replica").option("path", primary)
          .option("keys", "user_id").load()
          .filter(col("user_id").between(lo, lo + ScanWidth)))
    }
    val sel = df.select("user_id", "event_id")
    val out = sel.collect()
    Done(param, out.map(x => x.getLong(0) -> x.getLong(1)).toMap, out.length,
      if (ctx.tracer.enabled) Plans.filesRead(sel) else 0L)
  }

  /** What a read with `param` must return on `state`. */
  def expect(kind: String, param: Any, s: State): Map[Long, Long] = {
    def range(lo: Long) = s.collect { case (k, (id, _)) if k >= lo && k <= lo + ScanWidth => k -> id }
    kind match {
      case "point" => param.asInstanceOf[Seq[Long]].flatMap(k => s.get(k).map(v => k -> v._1)).toMap
      case "gsi" => s.collect { case (k, (id, g)) if g == param.asInstanceOf[Long] => k -> id }
      case "asof" => range(param.asInstanceOf[(Long, Long)]._1)
      case "scan" => range(param.asInstanceOf[Long])
    }
  }

  /** Read-back after ingest: one client issues `n` reads against the
    * final, quiet store, cycling the kinds, and checks every result
    * against `state`. Sets `read_p50_ms`: the mean over the kinds of
    * each kind's median latency.
    */
  def readBack(ctx: Ctx, r: Result, primary: String, gsiGrp: Option[String],
      state: State, shape: Shape, n: Int): Unit = {
    val kinds = Kinds.filter(k => k != "gsi" || gsiGrp.nonEmpty)
    val keyGen = new EventGen(ctx.seed * 17 + 1, shape)
    val rnd = new java.util.SplittableRandom(ctx.seed * 19 + 1)
    val v = Store.version(primary)
    val lat = mutable.ArrayBuffer.empty[Double]
    val done = mutable.ArrayBuffer.empty[Done]
    var wrong = 0
    val t0 = System.nanoTime()
    (0 until n).foreach { i =>
      val kind = kinds(i % kinds.size)
      val t = System.nanoTime()
      val d = ctx.tracer.span(ctx.sc, "read", kind, s"readback-$i") {
        once(ctx, kind, primary, gsiGrp, keyGen, rnd, v)
      }
      lat += (System.nanoTime() - t) / 1e6
      done += d
      if (d.got != expect(kind, d.param, state)) wrong += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    r.attempted += n
    r.failed += wrong
    r.check("read-back results equal the fold", wrong == 0, s"$wrong of $n reads differ")
    // the kinds differ in cost, so the median of the mix would sit on
    // the edge between two kinds; each kind's median, averaged, does not
    val byKind = kinds.indices.map(k => lat.indices.filter(_ % kinds.size == k).map(lat(_)))
    r.e2e("read_p50_ms") = (Stats.mean(byKind.map(Stats.median)), "ms")
    r.info ++= Seq("reads" -> n, "reads_per_s" -> n / wall)
    layers(ctx, r, done.toSeq)
  }

  /** Per-layer read metrics from the traced read spans. */
  def layers(ctx: Ctx, r: Result, done: Seq[Done]): Unit = if (ctx.tracer.enabled) {
    ctx.tracer.drain(ctx.sc)
    val spans = ctx.tracer.requestSpans.filter(_.layer == "read")
    Kinds.foreach(k => Layers.set(r, s"read.${k}_ms",
      Stats.median(spans.filter(_.name == k).map(s => (s.end - s.start).toDouble))))
    val costs = spans.map(s => ctx.tracer.cost(ctx.tracer.jobsOfReq(s.key)))
    Layers.set(r, "read.jobs_per_read", Stats.mean(costs.map(_.jobs.toDouble)))
    Layers.set(r, "read.files_per_read", Stats.mean(done.map(_.files.toDouble)))
    Layers.set(r, "read.bytes_per_read", Stats.mean(costs.map(_.bytesRead.toDouble)))
    Layers.set(r, "read.rows_examined_per_row_returned",
      costs.map(_.recordsRead).sum.toDouble / math.max(1, done.map(_.rows).sum))
    // read call -> job -> stage, keyed by request id
    val all = spans ++ spans.flatMap(s =>
      ctx.tracer.jobSpans(ctx.tracer.jobsOfReq(s.key), s.id, s.key))
    r.info("read_spans") = all
    r.info("read_self_time") = Layers.selfTable(ctx.tracer, all, spans.size)
  }
}

/** Files a finished query's scans read, from the scan nodes' metrics. */
object Plans {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def filesRead(df: DataFrame): Long =
    nodes(df.queryExecution.executedPlan).flatMap(_.metrics.get("numFiles")).map(_.value).sum
}
