package graft.cdcbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: end-to-end metrics (untraced runs
  * report these), per-layer metrics (traced runs), operation counts,
  * correctness checks and context for the record.
  */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) failed += 1
  }
  def correct: Boolean = checks.nonEmpty && checks.forall(_._2)
}

final class Ctx(val spark: SparkSession, val root: File, val seed: Long,
    val seconds: Double, val cpus: Int, val tracer: Tracer,
    val opts: Map[String, String]) {
  def sc = spark.sparkContext
  def dir(name: String): File = { val d = new File(root, name); d.mkdirs(); d }
  /** The passes of a traced run: they report per-layer metrics, so they
    * skip the repeats that steady the end-to-end medians.
    */
  def brief: Boolean = opts.get("brief").contains("1")
}

/** One benchmark run in a fresh JVM:
  *
  *   graft.cdcbench.Main --workload W --seed N --seconds S --trace 0|1
  *                       --root DIR --out FILE [--brief 1] [--baseline 1]
  *
  * Writes the run's record as JSON to `--out`; the launcher turns it
  * into the result line. `--root` is a fresh directory that holds every
  * file the run writes and is deleted at exit. `--baseline 1` (WAL)
  * then drains once more at `local[1]` in this JVM and adds that
  * `drain_eps` to the record as `baseline`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = new File(opts("root"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(root, cpus)
    val tracer = new Tracer(opts.get("trace").contains("1"))
    tracer.register(spark.sparkContext)
    val ctx = new Ctx(spark, root, opts("seed").toLong, opts("seconds").toDouble,
      cpus, tracer, opts - "baseline")
    val gc0 = gcMs()
    val r =
      try opts("workload") match {
        case "binlog_gsi_live" => BinlogLive.run(ctx)
        case "wal_backlog_drain" => WalDrain.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          val f = new Result
          f.attempted = 1
          f.check("run completed", ok = false, e.toString)
          f
      }
    if (tracer.enabled) {
      Layers.set(r, "jvm.gc_ms", (gcMs() - gc0).toDouble)
      Layers.fillZeros(r)
    }
    r.e2e("peak_rss_mb") = (peakRssMb(), "MB")
    val env = graft.Bench.envJson()
    val record = Map(
      "workload" -> opts("workload"), "seed" -> ctx.seed, "cpus" -> cpus,
      "trace" -> tracer.enabled, "correct" -> r.correct,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "e2e" -> r.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layer" -> r.layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "checks" -> r.checks.map { case (n, ok, d) => Map("check" -> n, "ok" -> ok, "detail" -> d) },
      "info" -> r.info, "env" -> Json.Raw(env))
    spark.stop()
    val baseline = if (!opts.get("baseline").contains("1")) Map.empty else {
      // the single-thread baseline: a fresh local[1] session in this
      // JVM, whose JIT the traced workload has warmed
      val one = session(root, 1)
      val b = WalDrain.run(new Ctx(one, root, ctx.seed, ctx.seconds, 1, new Tracer(false), opts))
      one.stop()
      Map("baseline" -> Map("drain_eps" -> b.e2e("drain_eps")._1, "correct" -> b.correct,
        "attempted" -> b.attempted, "failed" -> b.failed,
        "checks" -> b.checks.map { case (n, ok, d) => Map("check" -> n, "ok" -> ok, "detail" -> d) }))
    }
    java.nio.file.Files.write(new File(opts("out")).toPath,
      Json(record ++ baseline).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def session(root: File, cpus: Int): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(root, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.session.timeZone", "UTC")
    graft.Tables.sessionConfigs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Peak resident set of this JVM (VmHWM). */
  private def peakRssMb(): Double = {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/status")))
    s.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}
