package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.Tables
import graft.cdc.{BinlogOffset, ChangelogFiles, ChangelogGenerator}
import graft.sources.binlog.{BinlogMicroBatchStream, BinlogSourceConf, BinlogSourceOffset}

/** File-count scaling of the source's METADATA path — the check behind
  * SCALING.md's "offset spaces are metadata, not data" invariant. A
  * long-lived CDC stream accretes thousands of rotated log files; what
  * must stay cheap per trigger is offset resolution (`latestOffset`)
  * and partition planning, both of which are designed as an O(#files)
  * stat walk over the manifest spine with NO record reads. This bench
  * measures that claim directly: the same 10k-event fixture is written
  * as 100 / 1,000 / 10,000 files and each trigger-path call is timed
  * per layout.
  *
  * Prints ONE JSON line:
  *   {"metric":"scalebench","curve":[{"files":N,"latest_ms":…,
  *     "latest_map_ms":…,"plan_ms":…,"init_map_ms":…,
  *     "latest_relist_ms":…},…]}
  *
  * Reading the curve (r12, incremental listing): on a SETTLED dir (no
  * file created/deleted within the cache's mtime-granularity guard —
  * the steady-state of a long-lived log) `latest_ms`/`latest_map_ms`
  * must be FLAT in file count: the trigger is one dir stat plus the
  * live tail's stats, matching the reference's constant-time socket
  * trigger at any history length. `latest_relist_ms` is the fallback
  * under structural churn (a file created this instant): one getdents
  * sweep + cached name→id mapping, linear with a ~µs/file constant —
  * the bound the OLD per-trigger cost used to pay every call.
  * Milliseconds-per-file anywhere means a record read leaked into the
  * trigger path.
  *
  *   sbt -batch "runMain graft.tools.ScaleBench [sfDir]"
  */
object ScaleBench {

  private def timeMs[A](reps: Int)(f: => A): Double = {
    f // warm (page cache, class init)
    val t0 = System.nanoTime()
    var i = 0
    while (i < reps) { f; i += 1 }
    (System.nanoTime() - t0) / 1e6 / reps
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    Tables.sessionConfigs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val events = Tables(spark, sfDir).events
    val total = events.count()
    val layouts = Seq(100L, 1000L, 10000L).map(n => n.min(total))
      .distinct.map(n => n -> math.max(total / n, 1L))

    val rows = layouts.map { case (files, perFile) =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"scalebench-$files").toString
      ChangelogGenerator.generate(events, dir, recordsPerFile = perFile)
      // settle the dir: the steady-state trigger shape is a log whose
      // last structural change (file roll) is older than the listing
      // cache's mtime-granularity guard
      def setDirMtime(ms: Long): Unit =
        java.nio.file.Files.setLastModifiedTime(
          java.nio.file.Paths.get(dir),
          java.nio.file.attribute.FileTime.fromMillis(ms))
      setDirMtime(System.currentTimeMillis() - 60000L)
      val nFiles = ChangelogFiles.listFiles(dir).size
      val opts = new CaseInsensitiveStringMap(java.util.Map.of(
        "path", dir, "maxEventsPerTrigger", "1000"))
      val conf = BinlogSourceConf(opts)
      val legacy = new BinlogMicroBatchStream(
        conf.copy(offsetsByTable = false))
      val mapped = new BinlogMicroBatchStream(conf)
      val limit = ReadLimit.maxRows(1000L)
      val startLegacy = legacy.initialOffset()
      val startMap = mapped.initialOffset()
      val reps = 5

      // the three per-trigger calls, timed per layout
      val latestMs = timeMs(reps)(legacy.latestOffset(startLegacy, limit))
      val latestMapMs = timeMs(reps)(mapped.latestOffset(startMap, limit))
      val endLegacy = legacy.latestOffset(startLegacy, limit)
      val planMs = timeMs(reps)(legacy.planInputPartitions(startLegacy, endLegacy))
      val initMapMs = timeMs(reps)(mapped.initialOffset())
      // structural-churn fallback: a dir-mtime bump before every call
      // defeats the settled-listing cache, so each trigger pays the
      // re-enumeration sweep (the old always-on cost)
      val relistMs = timeMs(reps) {
        setDirMtime(System.currentTimeMillis())
        legacy.latestOffset(startLegacy, limit)
      }
      // sanity: the capped window really is 1000 records
      val got = ChangelogFiles.countBetween(dir,
        startLegacy.asInstanceOf[BinlogSourceOffset].offset,
        endLegacy.asInstanceOf[BinlogSourceOffset].offset)
      require(got == 1000L.min(total), s"window=$got")

      {
        // Locale.ROOT (not the f-interpolator, which uses the default
        // locale): comma decimals would corrupt the JSON line
        def n(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
        s"""{"files":$nFiles,"latest_ms":${n(latestMs)},""" +
          s""""latest_map_ms":${n(latestMapMs)},"plan_ms":${n(planMs)},""" +
          s""""init_map_ms":${n(initMapMs)},""" +
          s""""latest_relist_ms":${n(relistMs)}}"""
      }
    }

    val line =
      s"""{"metric":"scalebench","unit":"ms_per_call","total_records":$total,"curve":[${rows.mkString(",")}]}"""
    // merge-preserving write: other tools own sibling top-level fields
    // of SCALEBENCH.json (DataScaleBench's data_curve) — refreshing the
    // file-count curve must not clobber them
    try {
      val path = java.nio.file.Paths.get("SCALEBENCH.json")
      val mapper = graft.io.AtomicFiles.Json
      val fresh = mapper.readTree(line)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val merged =
        if (java.nio.file.Files.exists(path)) {
          val prior = mapper.readTree(java.nio.file.Files.readString(path))
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          prior.setAll[com.fasterxml.jackson.databind.JsonNode](fresh)
          prior
        } else fresh
      java.nio.file.Files.writeString(path, merged.toString + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[scalebench] write failed: ${e.getMessage}") }
    println(line)
    spark.stop()
  }
}
