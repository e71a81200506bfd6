package graft.sources.log

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.{BinlogOffset, ChangelogFiles, ChangelogRecord}

/** The admission-controlled micro-batch contract both log sources
  * share: the default read limit comes from `maxEventsPerTrigger`, and
  * Spark must always call the limit-taking `latestOffset`.
  */
trait LogMicroBatchStream extends MicroBatchStream with SupportsAdmissionControl {
  protected def log: LogConf

  override def getDefaultReadLimit: ReadLimit =
    log.maxEventsPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called with admission control")

  override def stop(): Unit = ()
}

/** A log scan: its (pruned) schema, and a description naming the
  * source, dir, and the plan filters it took.
  */
abstract class LogScan(source: String, dir: String, required: StructType,
    pushed: Array[Filter]) extends Scan {
  override def readSchema(): StructType = required
  override def description(): String =
    s"$source $dir" +
      (if (pushed.nonEmpty) s", PushedFilters: [${pushed.mkString(", ")}]"
       else "")
}

object LogScan {

  /** Fail when a purged file — a manifest entry (which survives
    * pruning) with no file left — at or after `start` still held records
    * the reader had not consumed: at the start file itself that means
    * `count >= start.pos`; strictly after it, any record at all. Purged
    * files wholly BELOW the start offset are normal retention, and
    * fileId 0 is the empty-dir sentinel (= beginning of log, never a
    * loss). `existing` is evaluated only when the check runs; `context`
    * prefixes the error and `kind` names the log in it.
    */
  def requireNoUnreadPurge(conf: LogConf, manifestDir: String,
      existing: => Set[Long], start: BinlogOffset, context: String,
      kind: String): Unit =
    if (conf.failOnDataLoss && start.fileId > 0) {
      val live = existing
      val unreadPurged = ChangelogFiles.manifestById(manifestDir, conf.prefix)
        .exists { case (id, e) =>
          !live.contains(id) &&
            ((id == start.fileId && e.count >= start.pos) ||
             (id > start.fileId && e.count > 0))
        }
      if (unreadPurged) {
        throw new IllegalStateException(
          s"${context}start offset $start points at or before purged " +
            s"$kind data (existing files: ${live.toSeq.sorted.mkString(",")}) — " +
            "unread data was lost (set failOnDataLoss=false to ignore)")
      }
    }
}

/** Kafka-style map offset JSON `{key: long}` with deterministic
  * (sorted-key) output — the reference's CommonSourceOffset shape
  * (CommonSourceOffset.scala:14-53), behind both sources' map offsets.
  */
object MapOffsetJson {
  private val Json = graft.io.AtomicFiles.Json

  def write(m: Map[String, Long]): String = {
    val n = Json.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (k, v) => n.put(k, v) }
    Json.writeValueAsString(n)
  }

  /** `what` names the offset in the not-an-object error. */
  def parse(json: String, what: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val n = Json.readTree(json)
    require(n != null && n.isObject, s"$what must be a JSON object")
    n.fields.asScala.map { e =>
      require(e.getValue.isIntegralNumber, s"$what: `${e.getKey}` is not an integer")
      e.getKey -> e.getValue.longValue
    }.toMap
  }
}

/** One column of a pruned wide-schema row, read from the current record
  * and its envelope offset.
  */
trait LogField {
  def apply(r: ChangelogRecord, offset: Long): Any
}

/** A reader's row builder. The default schema is the one-column
  * envelope row; a pruned wide schema materializes only the fields the
  * plan kept — in particular a routing-only projection never pays
  * envelope serialization. The field→extractor resolution happens ONCE
  * per reader; the per-record path is a flat array loop (no per-row name
  * matching, closure or Seq allocation over a multi-million-record
  * scan). `own` supplies the source's extra column.
  */
final class LogRows(required: StructType, default: StructType,
    value: LogField, own: PartialFunction[String, LogField]) {
  private val plain = required == default
  private val fields: Array[LogField] = required.fields.map[LogField] { f =>
    f.name match {
      case "value" => value
      case "db" => (r, _) => UTF8String.fromString(r.db)
      case "table" => (r, _) => UTF8String.fromString(r.table)
      case "op" => (r, _) => UTF8String.fromString(r.op)
      case "offset" => (_, o) => o
      case other => own(other)
    }
  }

  def row(r: ChangelogRecord, offset: Long): InternalRow =
    if (plain) InternalRow(value(r, offset))
    else {
      val vals = new Array[Any](fields.length)
      var i = 0
      while (i < vals.length) { vals(i) = fields(i)(r, offset); i += 1 }
      new GenericInternalRow(vals)
    }
}
