package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Shared layout + maintenance protocol for per-batch streaming state
  * tables (`<dir>/batch=<id>/...` with a `_complete` marker written
  * last) — the layout [[AnnIndexStream]] and [[SketchStream]] maintain.
  *
  * Compaction folds many committed batch dirs into ONE without ever
  * risking double- or under-counting, even against a crash at any
  * point or a concurrent reader:
  *
  *  1. the folded table is written to a temp dir carrying a `_folds`
  *     tombstone file (the source batch ids) and the `_complete`
  *     marker;
  *  2. ONE atomic rename publishes it as `batch=<newId>`;
  *  3. the source dirs are deleted — pure GC, because every reader
  *     already excludes any batch id listed in a live `_folds` file.
  *
  * Crash before the rename: nothing published, sources intact. Crash
  * after: fold live, sources excluded by tombstone whether or not GC
  * finished. A later fold-of-folds lists the previous fold's id the
  * same way.
  */
object BatchDirState {

  private val FoldsFile = "_folds"

  private def completedDirs(dir: String): Array[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch=") &&
        Files.exists(f.toPath.resolve("_complete")))

  private def idOf(f: File): Long = f.getName.stripPrefix("batch=").toLong

  /** Batch ids a reader must serve: committed dirs minus any id a
    * committed fold lists as its source.
    */
  def liveBatchIds(dir: String): Array[Long] = {
    val completed = completedDirs(dir)
    val folded = completed.flatMap { f =>
      val ff = f.toPath.resolve(FoldsFile)
      if (Files.exists(ff))
        Files.readString(ff).split("\n").filter(_.nonEmpty).map(_.toLong)
      else Array.empty[Long]
    }.toSet
    completed.map(idOf).filterNot(folded)
  }

  /** Scan of all live batches (basePath read, so `batch` is a column). */
  def readLive(s: SparkSession, dir: String): DataFrame =
    s.read.option("basePath", dir).parquet(dir)
      .filter(col("batch").isin(liveBatchIds(dir).toIndexedSeq: _*))

  /** Fold all live batches into one when more than `maxDirs` exist.
    * `fold` shrinks the concatenated rows to the state's canonical form
    * (cell-wise sum for CMS, bottom-k for KMV, identity for an index);
    * `write` persists it (plain or partitioned parquet) WITHOUT any
    * marker — markers and tombstone are this protocol's job.
    */
  def compact(s: SparkSession, dir: String, maxDirs: Int)(
      fold: DataFrame => DataFrame)(
      write: (DataFrame, String) => Unit): Unit = {
    val live = liveBatchIds(dir)
    if (live.length <= maxDirs) return
    // folds live in the NEGATIVE id space: stream batch ids are
    // non-negative and monotonic, so a fold named max+1 would collide
    // with the NEXT real micro-batch — whose idempotency check would
    // then silently skip genuine data. Negative ids can never collide.
    val all = completedDirs(dir).map(idOf)
    val newId = math.min(if (all.isEmpty) 0L else all.min, 0L) - 1L
    val tmp = new File(dir,
      s"compact-${ProcessHandle.current().pid()}-$newId")
    write(fold(readLive(s, dir).drop("batch")), tmp.toString)
    Files.write(tmp.toPath.resolve(FoldsFile),
      live.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.write(tmp.toPath.resolve("_complete"), Array.emptyByteArray)
    Files.move(tmp.toPath, new File(dir, s"batch=$newId").toPath)
    // GC of folded sources — safe at any point from here
    val liveSet = live.toSet
    completedDirs(dir).filter(f => liveSet.contains(idOf(f)))
      .foreach(FileUtils.deleteQuietly)
  }
}
