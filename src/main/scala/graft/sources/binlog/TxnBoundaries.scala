package graft.sources.binlog

import graft.cdc.{BinlogOffset, ChangelogFiles, ChangelogRecord}
import graft.cdc.ChangelogFiles.ManifestEntry
import graft.sources.log.BoundaryIndex
import graft.sources.log.BoundaryIndex.{largestAtOrBelow, smallestAbove}

/** Driver-side transaction-commit index for txn-aligned batch planning:
  * for each changelog file, the ascending positions whose record is the
  * LAST record of a committed transaction (the XID positions of a MySQL
  * binlog) — a [[BoundaryIndex]] over the manifest's `txnEnds`.
  *
  * A commit is proven only by evidence: a TAGGED record p ends its
  * transaction when the record at p+1 carries a different txn id, while
  * an UNTAGGED record is autocommit — its own commit, boundary
  * immediate. The last tagged record seen in a live tail is never
  * assumed committed; its boundary materializes when its successor (or
  * the manifest entry) lands.
  *
  * The key is the last record's (pos, txn id).
  */
object TxnBoundaries extends BoundaryIndex[(Long, Option[Long])] {

  override protected def manifestBounds(e: ManifestEntry): Seq[Long] = e.txnEnds

  override protected def step(pos: Long, r: ChangelogRecord,
      last: Option[(Long, Option[Long])], mark: Long => Unit): (Long, Option[Long]) = {
    // a txn-id change proves the previous tagged txn committed …
    last.foreach { case (p, t) => if (t.nonEmpty && t != r.txn) mark(p) }
    // … while an autocommit record is its own commit, immediately
    if (r.txn.isEmpty) mark(pos)
    (pos, r.txn)
  }

  /** Snap a candidate exclusive end offset to a transaction boundary so
    * a micro-batch never splits a committed transaction:
    *
    *  1. snap DOWN to the greatest commit at or below `candidate`
    *     (strictly after `start`);
    *  2. if the admission cap landed mid-way through the FIRST pending
    *     transaction, snap UP to its commit instead — a transaction
    *     larger than `maxEventsPerTrigger` must still be delivered
    *     whole (progress beats cap precision, the same "every granted
    *     key gets at least 1" rule the admission allocator uses) —
    *     bounded by `latest`;
    *  3. if the log tail is mid-transaction (no commit evidence yet),
    *     stay at `start`: uncommitted data is not served.
    *
    * A non-tail file with no recorded commits still ends at a boundary
    * by the rotate-at-commit contract (files roll only between
    * transactions), so its last record is usable as one.
    */
  def snap(dir: String, prefix: String, start: BinlogOffset,
      candidate: BinlogOffset, latest: BinlogOffset): BinlogOffset = {
    if (candidate.packed <= start.packed) return start
    val files = ChangelogFiles.listFiles(dir, prefix)
    if (files.isEmpty) return start
    val tailId = files.last._1
    val byId = files.toMap

    def fileEnds(id: Long): (Long, IndexedSeq[Long]) = byId.get(id) match {
      case Some(f) => of(dir, f)
      case None    => (0L, Vector.empty)
    }

    // 1. snap down: walk files from the candidate's back to the start's
    var id = candidate.fileId
    while (id >= start.fileId && id >= files.head._1) {
      if (byId.contains(id)) {
        val (n, ends) = fileEnds(id)
        val hi = if (id == candidate.fileId) candidate.pos - 1 else n
        val p = largestAtOrBelow(ends, hi)
        val best =
          if (p >= 0) p
          // rotate-at-commit: a completed (non-tail) file's last record
          // is a boundary even when no commit was recorded in-file
          else if (id < tailId && hi >= n && n > 0) n
          else -1L
        if (best >= 0) {
          val snapped = BinlogOffset(id, best + 1)
          if (snapped.packed > start.packed) return snapped
          // a boundary at/below start means nothing new committed in
          // this file below the candidate — keep looking back? No:
          // anything further back is below start too.
          id = start.fileId - 1 // exit loop into snap-up
        } else id -= 1
      } else id -= 1
    }

    // 2. snap up: the first pending txn overflows the cap — deliver it
    // whole. Find the smallest boundary after the candidate, up to
    // `latest`.
    id = math.max(candidate.fileId, start.fileId)
    while (id <= latest.fileId) {
      if (byId.contains(id)) {
        val (n, ends) = fileEnds(id)
        val floor = if (id == candidate.fileId) candidate.pos - 1 else 0L
        val q = smallestAbove(ends, floor)
        val best =
          if (q >= 0) q
          else if (id < tailId && n > floor && n > 0) n // rotate-at-commit
          else -1L
        if (best >= 0) {
          val snapped = BinlogOffset(id, best + 1)
          if (snapped.packed > start.packed &&
              snapped.packed <= latest.packed) return snapped
        }
      }
      id += 1
    }

    // 3. tail is mid-transaction: serve nothing new
    start
  }
}
