package graft.sources.log

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import graft.cdc.{ChangelogFiles, ChangelogRecord}
import graft.cdc.ChangelogFiles.ManifestEntry

/** Driver-side per-file boundary index: for each log file, the
  * ascending positions at which a batch may end. Each instance supplies
  * only its per-record rule ([[step]]) and the manifest field that
  * records the same positions for a completed file.
  *
  * The per-trigger contract matches the rest of the offset machinery
  * (SCALING.md: "offset spaces are metadata, not data"):
  *
  *  - COMPLETED files (manifest entry current — its length equals the
  *    file's — and the field present, written by the generator at
  *    roll/close) resolve with zero content I/O. The manifest is looked
  *    up first, in the manifest dir and then in the file's own dir (an
  *    archived file's manifest may have moved with it), before any cache
  *    hit: it can arrive AFTER the file was content-scanned (writer
  *    closes the file, then publishes), and for transactions it is the
  *    only evidence that the file's final transaction committed.
  *    `manifest()` is itself mtime-cached, so this is a map lookup.
  *  - the LIVE tail is parsed INCREMENTALLY — only bytes appended since
  *    the last look, through a fixed 64 KB buffer, never re-reading from
  *    the batch start. A torn trailing line stays unconsumed and is
  *    re-examined once its newline lands.
  *
  * Position accounting matches the read path: one pos per newline,
  * blank lines consume a pos but carry no record.
  *
  * `K` is what the rule remembers of the last record it saw.
  */
abstract class BoundaryIndex[K] {

  /** The manifest field holding this index for a completed file. */
  protected def manifestBounds(e: ManifestEntry): Seq[Long]

  /** The per-record rule: record `r` at `pos` follows a record whose
    * key was `last` (None at the file start). Calls `mark` for every
    * boundary this record proves, in ascending order, and returns its
    * own key.
    */
  protected def step(pos: Long, r: ChangelogRecord, last: Option[K],
      mark: Long => Unit): K

  import BoundaryIndex.State

  private val cache = new ConcurrentHashMap[String, State[K]]()

  /** (record-line count, ascending boundary positions) over the
    * complete lines of `f`. `dir` is the manifest's directory.
    */
  def of(dir: String, f: File): (Long, IndexedSeq[Long]) = {
    val path = f.getAbsolutePath
    val len = f.length(); val mtime = f.lastModified()
    ChangelogFiles.manifest(dir).get(f.getName)
      .orElse(ChangelogFiles.manifest(f.getParent).get(f.getName)) match {
      case Some(e) if e.length == len && manifestBounds(e).nonEmpty =>
        val st = State[K](len, mtime, e.count, None, manifestBounds(e).toVector)
        cache.put(path, st)
        return (st.lines, st.bounds)
      case _ => ()
    }
    val prev0 = cache.get(path)
    if (prev0 != null && prev0.consumed == len && prev0.mtime == mtime)
      return (prev0.lines, prev0.bounds)
    val prev =
      if (prev0 == null) null
      else if (len < prev0.consumed) null // truncation: rescan
      else if (len == prev0.consumed) null // same length, new mtime: rewrite suspected
      else if (prev0.last.isEmpty && prev0.lines > 0) null // manifest-loaded, grew
      else prev0
    val st = scan(f, len, mtime, prev)
    cache.put(path, st)
    (st.lines, st.bounds)
  }

  /** Parse the complete lines after `prev` (the whole file when null),
    * extending its state — built on the shared fixed-buffer line scanner
    * ([[ChangelogFiles.forEachCompleteLine]]); the torn tail stays
    * unconsumed.
    */
  private def scan(f: File, until: Long, mtime: Long, prev: State[K]): State[K] = {
    var lines = if (prev == null) 0L else prev.lines
    var last = if (prev == null) None else prev.last
    var bounds = if (prev == null) Vector.empty[Long] else prev.bounds
    val mark: Long => Unit = p => bounds = bounds :+ p
    val from = if (prev == null) 0L else prev.consumed
    val consumed = ChangelogFiles.forEachCompleteLine(f, from, until) { line =>
      lines += 1
      if (line.nonEmpty)
        last = Some(step(lines, ChangelogRecord.parse(line), last, mark))
    }
    State(consumed, mtime, lines, last, bounds)
  }
}

object BoundaryIndex {
  /** `consumed` = byte position just past the last complete line;
    * `lines` = pos of that line; `last` = the key of the last non-blank
    * record (None when state came from the manifest — if the file then
    * grows, it is rescanned once to re-establish it).
    */
  private final case class State[K](consumed: Long, mtime: Long,
      lines: Long, last: Option[K], bounds: Vector[Long])

  // binary searches over an ascending bounds vector — no per-call array
  // copies; -1 when no such element
  def largestAtOrBelow(bounds: IndexedSeq[Long], pos: Long): Long = {
    var lo = 0; var hi = bounds.length - 1; var res = -1L
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) <= pos) { res = bounds(mid); lo = mid + 1 } else hi = mid - 1
    }
    res
  }
  def smallestAbove(bounds: IndexedSeq[Long], pos: Long): Long = {
    var lo = 0; var hi = bounds.length - 1; var res = -1L
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) > pos) { res = bounds(mid); hi = mid - 1 } else lo = mid + 1
    }
    res
  }
  def contains(bounds: IndexedSeq[Long], pos: Long): Boolean =
    largestAtOrBelow(bounds, pos) == pos
}
