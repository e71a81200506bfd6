package graft.sources.log

import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.read.{ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.cdc.{ChangelogFiles, ChangelogRecord}

/** The options both log sources (`graft-binlog`, `graft-wal`) parse the
  * same way (serializable, shipped to readers).
  */
final case class LogConf(
    dir: String,
    prefix: String,
    maxEventsPerTrigger: Option[Long],
    failOnDataLoss: Boolean,
    /** `binlog.field.decode.<col>` / `binlog.field.decode.*` charset
      * options, keyed exactly as [[graft.cdc.TypeKernels.decodeBytes]]
      * expects (reference SchemaTool.scala:43-50).
      */
    fieldDecode: Map[String, String],
    /** The zone raw temporal cells convert in. */
    sessionTimeZone: String,
    /** Reference `databaseNamePattern`/`tableNamePattern`
      * (BinLogSocketServerInExecutor.scala:239-250,
      * HBaseWALSocketServerInExecutor.scala:131-153): full-match regexes
      * over each record's db/table, applied at the source.
      */
    databaseNamePattern: Option[String],
    tableNamePattern: Option[String],
    /** Plan-pushed op cut ([[LogScanBuilder]]) — never set from options. */
    opFilter: Option[Set[String]] = None) extends Serializable

object LogConf {
  /** Parse the shared options; `path` is required (`pathDoc` names what
    * it points at in the error).
    */
  def apply(options: CaseInsensitiveStringMap, pathDoc: String): LogConf = {
    val dir = options.get("path")
    require(dir != null, s"option 'path' ($pathDoc) is required")
    LogConf(
      dir = dir,
      prefix = Option(options.get("prefix")).getOrElse(ChangelogFiles.DefaultPrefix),
      maxEventsPerTrigger = Option(options.get("maxEventsPerTrigger")).map(_.toLong),
      failOnDataLoss =
        Option(options.get("failOnDataLoss")).forall(_.toBoolean),
      fieldDecode = options.asCaseSensitiveMap().asScala.toMap
        .filter(_._1.toLowerCase.startsWith("binlog.field.decode."))
        .map { case (k, v) => "binlog.field.decode." + k.drop(20) -> v },
      sessionTimeZone =
        Option(options.get("sessionTimeZone")).getOrElse("UTC"),
      databaseNamePattern = Option(options.get("databaseNamePattern")),
      tableNamePattern = Option(options.get("tableNamePattern")))
  }

  /** `envelopeColumns=true`: the scan exposes the typed routing columns
    * next to `value`.
    */
  def wide(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("envelopeColumns")).exists(_.toBoolean)
}

/** A source configuration built on [[LogConf]]: the shared options read
  * directly off it.
  */
trait LogSourceConf {
  def log: LogConf
  final def dir: String = log.dir
  final def prefix: String = log.prefix
  final def failOnDataLoss: Boolean = log.failOnDataLoss
  final def fieldDecode: Map[String, String] = log.fieldDecode
  final def sessionTimeZone: String = log.sessionTimeZone
  final def databaseNamePattern: Option[String] = log.databaseNamePattern
  final def tableNamePattern: Option[String] = log.tableNamePattern
  final def opFilter: Option[Set[String]] = log.opFilter
}

/** The db/table/op record cut of one reader: patterns compiled once,
  * each record tested with no allocation.
  */
final class RecordFilter(conf: LogConf) {
  private val db = conf.databaseNamePattern.map(Pattern.compile).orNull
  private val table = conf.tableNamePattern.map(Pattern.compile).orNull
  private val ops = conf.opFilter.orNull

  /** No cut configured: every record passes. */
  val passesAll: Boolean = db == null && table == null && ops == null

  def keepsOp(op: String): Boolean = ops == null || ops.contains(op)

  def keeps(r: ChangelogRecord): Boolean =
    (db == null || db.matcher(if (r.db == null) "" else r.db).matches()) &&
      (table == null ||
        table.matcher(if (r.table == null) "" else r.table).matches()) &&
      keepsOp(r.op)
}

/** Plan-level pushdown for a wide-schema log scan: db/table/op
  * equality|IN predicates written in the PLAN (`.filter(...)`,
  * `WHERE ...`) become reader-side record cuts; each source adds its
  * own column through [[acceptOwn]]. Pushed filters are ALSO left in
  * the plan for Spark to re-evaluate (`pushFilters` returns its input):
  * the source's pruning is an optimization, never the correctness
  * boundary — the standard parquet-source contract.
  *
  * db/table filters are accepted only when no option-level regex
  * competes for the same field (an option pattern AND a pushed equality
  * would need a conjunction the single-pattern conf cannot carry; the
  * residual evaluation keeps the un-pushed predicate exact).
  */
abstract class LogScanBuilder(options: CaseInsensitiveStringMap,
    declared: StructType)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  /** An accumulated equality|IN cut on one string column. */
  protected final class Cut(column: String) {
    var values: Option[Set[String]] = None
    def accept(f: Filter): Boolean = (f match {
      case EqualTo(`column`, v: String) => Some(Set(v))
      case In(`column`, vs) if vs.forall(_.isInstanceOf[String]) =>
        Some(vs.map(_.asInstanceOf[String]).toSet)
      case _ => None
    }).exists { s => values = Some(values.fold(s)(_.intersect(s))); true }
  }

  protected var required: StructType = declared
  protected var pushed: Array[Filter] = Array.empty
  private val db = new Cut("db")
  private val table = new Cut("table")
  private val op = new Cut("op")
  private val dbFree = options.get("databaseNamePattern") == null
  private val tableFree = options.get("tableNamePattern") == null

  /** Accept a predicate on the source's own column. */
  protected def acceptOwn(f: Filter): Boolean

  private def accept(f: Filter): Boolean =
    (dbFree && db.accept(f)) || (tableFree && table.accept(f)) ||
      op.accept(f) || acceptOwn(f)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = if (LogConf.wide(options)) filters.filter(accept) else Array.empty
    filters // every filter stays in the plan as the correctness boundary
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // the planner prunes to a subset of the declared schema; an empty
    // projection (pure COUNT) legally prunes every column away
    required = requiredSchema

  /** `base` narrowed by the pushed db/table/op cuts. */
  protected def narrowed(base: LogConf): LogConf = {
    def quoted(s: Set[String]): String =
      s.toSeq.sorted.map(Pattern.quote).mkString("|")
    base.copy(
      databaseNamePattern = db.values.map(quoted).orElse(base.databaseNamePattern),
      tableNamePattern = table.values.map(quoted).orElse(base.tableNamePattern),
      opFilter = op.values)
  }
}
