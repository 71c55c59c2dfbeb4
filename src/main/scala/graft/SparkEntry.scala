package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.core.QueryRegistry

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    QueryRegistry.byName("q1_agg").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryRegistry.all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    QueryRegistry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The one local session every main runs on: `local[cpus]` with as
    * many shuffle partitions, UTC, nanosecond parquet timestamps read as
    * Long (Tables.events normalizes every encoding), no UI, WARN logs, and
    * always GraftExtensions (the as-of join rewrite and block-range
    * strategy some registered queries plan through). */
  def localSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
