package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver testdata tables (TESTDATA.md).
  *
  * Every query in the engine takes `(SparkSession, sfDir)` and resolves its
  * inputs through here so that filter pushdown / column pruning reach the
  * parquet scan unimpeded (no caching layer in between — Catalyst sees the
  * `FileSourceScanExec` directly).
  */
object Tables {
  /** Inferred parquet schema per (session, path) — metadata only, never
    * data. A bare `spark.read.parquet` infers the schema from file footers
    * on EVERY call: ~50 ms of driver-side listing+footer I/O per table per
    * query execution (measured on the round-15 head, OPTIMIZATION_r16.md
    * "Floor decomposition" — a 6-table join paid ~0.3 s before running
    * anything), multiplied across a 239-query
    * registry run. Production tables carry their schema in a catalog; this
    * memo is that catalog for the driver's fixed testdata layout. Guide §6
    * (listing/footer overhead); every query still computes from the
    * parquet bytes on every run — only the StructType is reused. */
  private val schemaCache = new SessionCache[org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val sch = schemaCache.get(spark, path)(spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts: the driver has written this column with different physical
    * parquet encodings across testdata generations — int64 TIMESTAMP(NANOS)
    * (which Spark 4 surfaces as Long under
    * `spark.sql.legacy.parquet.nanosAsLong`) and plain timestamp[us]
    * (surfaced as TIMESTAMP / TIMESTAMP_NTZ depending on isAdjustedToUTC).
    * The engine must not assume the writer's choice, so we branch on the
    * schema Spark actually infers and normalize every variant to a session
    * TimestampType at microsecond precision — the same value DuckDB's reader
    * produces for each encoding (nanos truncate to µs there too), keeping the
    * oracle compare exact. Sessions pin spark.sql.session.timeZone=UTC, so
    * the NTZ→TZ cast is instant-preserving.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported physical type $other (expected int64-nanos, timestamp, or timestamp_ntz)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
