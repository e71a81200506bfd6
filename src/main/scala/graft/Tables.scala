package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the driver-generated fixture tables (TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst gets native
  * parquet scans with filter/column pushdown. Nothing is cached here:
  * at 100 TB these are table scans that must stream, and at test scale
  * a re-read is cheap.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects outright. Sessions must set
    * `spark.sql.legacy.parquet.nanosAsLong=true` (see [[Tables.configure]]);
    * the long nanos are then converted here to a microsecond timestamp
    * with exact integer arithmetic (`div`, not double division — ns
    * values exceed 2^53).
    */
  def events: DataFrame = {
    val df = table("events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Fixture regenerated with isAdjustedToUTC=false micros; with the
        // session tz pinned to UTC this cast is value-identical to what the
        // DuckDB oracle computes from the same file.
        df.withColumn("ts",
          df("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {
  /** Session configs every entry point (Verify, Bench, tests) must set
    * before reading the fixtures.
    */
  val sessionConfigs: Map[String, String] = Map(
    // events.ts is TIMESTAMP(NANOS) parquet — read as long, convert above.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // fixture timestamps may carry isAdjustedToUTC=false; read them as
    // plain TIMESTAMP (session tz is UTC) so unix_millis & co. resolve
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // write micros (not INT96) so the DuckDB oracle reads plain timestamps
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // native function + optimizer-rule injection (static conf read at
    // session creation; harmless if the session pre-exists)
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // file:// whose setPermission is a chmod syscall, not a forked
    // chmod process per written file and dir (graft.io.LocalFs);
    // FileSystem side for writers/readers, FileContext side for
    // streaming checkpoints
    "spark.hadoop.fs.file.impl" -> "graft.io.GraftLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.io.GraftLocalFs")
}
