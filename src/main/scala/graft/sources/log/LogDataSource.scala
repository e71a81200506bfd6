package graft.sources.log

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The DSv2 entry point both log sources share: a fixed schema — the
  * one-column `value` envelope ([[LogDataSource.Schema]]), or with
  * `envelopeColumns=true` the source's wide schema — read in batch and
  * micro-batch mode.
  */
abstract class LogDataSource(source: String, wideSchema: StructType)
    extends TableProvider with DataSourceRegister {

  protected def scanBuilder(options: CaseInsensitiveStringMap): ScanBuilder

  override def shortName(): String = source

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LogDataSource.schemaFor(options, wideSchema)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val fixed = inferSchema(opts)
    require(schema == fixed,
      s"$source has a fixed schema ${fixed.simpleString}; " +
        "custom schemas are not supported") // reference MBDS:40 rejects them too
    new Table with SupportsRead {
      override def name(): String = s"$source(${opts.get("path")})"
      override def schema(): StructType = fixed
      override def capabilities(): java.util.Set[TableCapability] =
        Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava
      override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
        scanBuilder(o)
    }
  }
}

object LogDataSource {
  /** The default output: a single `value: String` column of JSON
    * envelopes — the Kafka-source shape the reference emits (MBDS:40-44).
    */
  val Schema: StructType = StructType(Seq(StructField("value", StringType)))

  /** `value`, the source's `own` columns, then the typed routing
    * columns both sources expose (`db`, `table`, `op`, `offset`).
    */
  def wideSchema(own: StructField*): StructType =
    StructType((Schema.fields.toSeq ++ own) ++ Seq(
      StructField("db", StringType),
      StructField("table", StringType),
      StructField("op", StringType),
      StructField("offset", LongType)))

  def schemaFor(options: CaseInsensitiveStringMap, wide: StructType): StructType =
    if (LogConf.wide(options)) wide else Schema
}
