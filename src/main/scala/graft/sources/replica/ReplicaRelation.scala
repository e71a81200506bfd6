package graft.sources.replica

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, PrunedFilteredScan}
import org.apache.spark.sql.types.StructType

import graft.streaming.CdcStream

/** Batch change-feed relation (`readChangeFeed=true` on a batch read)
  * — the `table_changes(...)` analog: committed per-key nets of
  * versions in `(fromVersion, toVersion]` with `_commit_version` /
  * `_commit_watermark` stamps. Shares [[CdcStream.readReplicaChanges]]
  * (and its loud GC-gap contract) with the streaming feed.
  */
class ReplicaChangesRelation(
    override val sqlContext: SQLContext,
    path: String,
    fromVersion: Long,
    toVersion: Option[Long]) extends BaseRelation
    with org.apache.spark.sql.sources.TableScan {

  private def read(): DataFrame =
    CdcStream.readReplicaChanges(sqlContext.sparkSession, path,
      fromVersion, toVersion)
      .getOrElse(throw new IllegalArgumentException(
        s"graft-replica: no recorded changes at $path in versions " +
          s"($fromVersion, ${toVersion.getOrElse("latest")}] — write with " +
          "changeFeed=true"))

  override val schema: StructType = read().schema

  override def buildScan(): RDD[Row] = read().rdd
}

/** `spark.read.format("graft-replica")` — the batch READ half of the
  * replica store's format surface: the current state, a `version=N`
  * time travel, or an `asOfWatermark=W` source-position read, without
  * library calls.
  *
  * Key-equality predicates on the replica's id columns (`keys` option)
  * push down into BUCKET PRUNING: when the query's filters pin every id
  * column with `=` or `IN`, the scan derives the candidate buckets from
  * the key values themselves ([[CdcStream.readReplicaForKeys]]) and
  * reads only those buckets' files — a point lookup on a 16-bucket
  * replica reads one bucket. All filters are left in the plan for Spark
  * to re-apply ([[unhandledFilters]] returns them), so pruning can only
  * skip files, never rows.
  */
class ReplicaRelation(
    override val sqlContext: SQLContext,
    path: String,
    version: Option[Long],
    asOfWatermark: Option[Long],
    idCols: Seq[String]) extends BaseRelation with PrunedFilteredScan {

  private def spark = sqlContext.sparkSession

  private def noState = new IllegalArgumentException(
    s"graft-replica: no readable state at $path" +
      version.map(v => s" version=$v").getOrElse("") +
      asOfWatermark.map(w => s" asOfWatermark=$w").getOrElse("") +
      " (never committed, empty, or GC'd)")

  private def read(): DataFrame = ((version, asOfWatermark) match {
    case (Some(v), _) => CdcStream.readReplicaAt(spark, path, v)
    case (None, Some(w)) => CdcStream.readReplicaAtWatermark(spark, path, w)
    case (None, None) => CdcStream.readReplica(spark, path)
  }).getOrElse(throw noState)

  /** From the manifest the read would serve, without planning a scan. */
  override val schema: StructType =
    CdcStream.readSchema(path, version, asOfWatermark).getOrElse(throw noState)

  /** Pruning only ever SKIPS FILES; every filter is re-applied by Spark. */
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  /** Per-id-column equality value set from the filter conjunction —
    * None when the column isn't pinned (no pruning possible).
    */
  private def pinnedValues(filters: Array[Filter], c: String): Option[Seq[Any]] =
    filters.collectFirst {
      case EqualTo(`c`, v) => Seq(v)
      case In(`c`, vs) => vs.toSeq
    }

  // visible for tests: was the last scan bucket-pruned / zone-pruned?
  @volatile private[graft] var lastScanPruned: Boolean = false
  @volatile private[graft] var lastScanZonePruned: Boolean = false

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    // key-pruned path: current-version reads where every id column is
    // pinned by the conjunction and the key combination count is small
    // enough to enumerate (cross product of IN lists)
    val prunedDf: Option[DataFrame] =
      if (version.nonEmpty || asOfWatermark.nonEmpty || idCols.isEmpty) None
      else {
        val pins = idCols.map(c => pinnedValues(filters, c))
        if (pins.exists(_.isEmpty)) None
        else {
          val combos = pins.map(_.get).foldLeft(Seq(Seq.empty[Any])) {
            (acc, vs) => for (a <- acc; v <- vs) yield a :+ v
          }
          if (combos.size > 1000 || combos.exists(_.contains(null))) None
          else scala.util.Try {
            // field types derive from the filter VALUES' runtime types
            // (Literal inference); readReplicaForKeys casts them to the
            // replica's column types before bucket derivation, so a
            // type-skewed literal still prunes to the right bucket
            val fields = idCols.zipWithIndex.map { case (c, i) =>
              org.apache.spark.sql.types.StructField(c,
                org.apache.spark.sql.catalyst.expressions.Literal(
                  combos.head(i)).dataType)
            }
            // a LOCAL key set: buckets and the key filter resolve on the
            // driver, so the pruned read is the scan's one job
            import scala.jdk.CollectionConverters._
            val keys = spark.createDataFrame(
              combos.map(Row.fromSeq).asJava, StructType(fields))
            CdcStream.readReplicaForKeys(spark, path, idCols, keys)
          }.toOption.flatten
        }
      }
    // zone-map path (r14, composed r15): RANGE predicates on integral
    // columns prune bucket files by parquet footer min/max
    // (CdcStream.readReplicaRangeMulti) when the key-equality path
    // didn't fire — ALL bounded columns intersect (a two-column range
    // keeps only files overlapping both), and VERSION-PINNED reads
    // (version=N / asOfWatermark=W) zone-prune too: version dirs are
    // immutable, so historical pruning is exactly as safe as current
    // (the watermark resolves to its version first). Pays off on
    // stores clustered by the column (bucketCols / time-sliced
    // writes); a store whose files straddle the range keeps them all.
    // Spark re-applies every filter, so this can only skip files,
    // never rows.
    val zoneDf: Option[DataFrame] =
      if (prunedDf.nonEmpty) None
      else {
        // resolve time travel to a concrete pinned version (None =
        // current); an unresolvable watermark falls back to the
        // ordinary read path below, which throws its documented error
        val pinned: Option[Option[Long]] = (version, asOfWatermark) match {
          case (Some(v), _) => Some(Some(v))
          case (None, Some(w)) =>
            CdcStream.versionAtWatermark(path, w) match {
              case Some(v) => Some(Some(v))
              case None => None // no servable version: don't zone-read
            }
          case (None, None) => Some(None)
        }
        def num(v: Any): Option[Long] = v match {
          case l: Long => Some(l)
          case i: Int => Some(i.toLong)
          case s: Short => Some(s.toLong)
          case b: Byte => Some(b.toLong)
          case _ => None
        }
        val bounds = filters.foldLeft(Map.empty[String, (Long, Long)]) {
          (acc, f) =>
            def upd(c: String, lo: Long, hi: Long) = {
              val (l0, h0) = acc.getOrElse(c, (Long.MinValue, Long.MaxValue))
              acc + (c -> (math.max(l0, lo), math.min(h0, hi)))
            }
            f match {
              case GreaterThan(c, v) => num(v).map(l =>
                upd(c, if (l == Long.MaxValue) l else l + 1, Long.MaxValue))
                .getOrElse(acc)
              case GreaterThanOrEqual(c, v) =>
                num(v).map(l => upd(c, l, Long.MaxValue)).getOrElse(acc)
              case LessThan(c, v) => num(v).map(l =>
                upd(c, Long.MinValue, if (l == Long.MinValue) l else l - 1))
                .getOrElse(acc)
              case LessThanOrEqual(c, v) =>
                num(v).map(l => upd(c, Long.MinValue, l)).getOrElse(acc)
              case EqualTo(c, v) =>
                num(v).map(l => upd(c, l, l)).getOrElse(acc)
              case _ => acc
            }
        }
        // ALL bounded columns participate: the surviving-file set is
        // the intersection across bounds (collectFirst would ignore
        // every bound past the first — a two-column range predicate
        // must prune tighter than either column alone)
        val bounded = bounds.toSeq.sortBy(_._1).collect {
          case (c, (lo, hi))
              if lo != Long.MinValue || hi != Long.MaxValue => (c, lo, hi)
        }
        if (bounded.isEmpty) None
        else pinned.flatMap { atV =>
          scala.util.Try(
            CdcStream.readReplicaRangeMulti(spark, path, bounded,
              atVersion = atV).map(_._1))
            .toOption.flatten
        }
      }
    lastScanPruned = prunedDf.nonEmpty
    lastScanZonePruned = zoneDf.nonEmpty
    val df = prunedDf.orElse(zoneDf).getOrElse(read())
    df.select(requiredColumns.toSeq.map(col): _*).rdd
  }
}
