package graft.tools
import graft.SparkEntry

/** Dev utility: write the `explain("formatted")` output of registered
  * queries to files — the plan-shape receipts an optimization round
  * commits next to its before/after bench numbers.
  *
  * `runMain graft.tools.ExplainDump <outDir> <suffix> <name1,name2,...> [sfDir]`
  *
  * Writes `<outDir>/<name>_<suffix>.txt` per query. The dump is the
  * ANALYZED plan (no execution): queries that drive their own eager jobs
  * while being CONSTRUCTED (the checkpointed loops: pagerank, beam walk,
  * BPE) surface only their final materialized leaf here — their per-
  * iteration plan shape is receipted by PlanAudit counters instead.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: ExplainDump <outDir> <suffix> <name1,name2,...> [sfDir]")
      sys.exit(2)
    }
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.001"
    java.nio.file.Files.createDirectories(outDir)
    val spark = SparkEntry.localSession("8")
    spark.sparkContext.setLogLevel("ERROR")
    // NonFatal only (ADVICE r15): an OOM/fatal JVM error must crash the
    // tool, not be transcribed into a receipt file; and any failed query
    // makes the exit nonzero so a receipt run can't silently half-succeed.
    var failed = 0
    try names.foreach { name =>
      val txt =
        try {
          val df = graft.core.QueryRegistry.byName(name).fn(spark, dir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case scala.util.control.NonFatal(e) =>
          failed += 1; s"EXPLAIN FAILED: $e"
        }
      java.nio.file.Files.writeString(
        outDir.resolve(s"${name}_$suffix.txt"), txt)
      // scalastyle:off println
      println(s"[explain] $name -> ${outDir.resolve(s"${name}_$suffix.txt")}")
      // scalastyle:on println
    } finally spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
