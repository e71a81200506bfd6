package graft.sources.wal

import graft.cdc.{ChangelogRecord, EnvelopeValue}
import graft.cdc.ChangelogFiles.ManifestEntry
import graft.sources.log.BoundaryIndex

/** Driver-side mutation-boundary index for grouping-mode batch
  * alignment (T5): for each WAL file, the sorted positions at which a
  * new `(rowkey, op, ts)` mutation starts — a [[BoundaryIndex]] over
  * the manifest's `bounds`. Every non-blank record participates in the
  * key comparison — exactly the fold the reader applies within a batch.
  *
  * The key is the last record's (rowkey, op, ts).
  */
object MutationBoundaries
    extends BoundaryIndex[(Option[EnvelopeValue], String, Long)] {

  override protected def manifestBounds(e: ManifestEntry): Seq[Long] = e.bounds

  override protected def step(pos: Long, r: ChangelogRecord,
      last: Option[(Option[EnvelopeValue], String, Long)],
      mark: Long => Unit): (Option[EnvelopeValue], String, Long) = {
    val k = (r.row.get("rowkey"), r.op, r.tsMillis)
    if (!last.contains(k)) mark(pos)
    k
  }
}
