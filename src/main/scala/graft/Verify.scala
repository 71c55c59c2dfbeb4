package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)        => (s, o, None)
      case Array(s, o, names) => (s, o, Some(names.split(",").toSet))
      case _ =>
        System.err.println("usage: Verify <sfDir> <outDir> [name,name,...]")
        sys.exit(2)
    }
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // one diagnostic line per input table: the physical schema Spark infers
    // from the driver-owned parquet. When a testdata regeneration changes a
    // physical type (round 6: events.ts nanos → micros), this line in the
    // round artifacts shows the drift immediately instead of leaving it to
    // be reverse-engineered from 72 analysis errors.
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")) {
      try {
        val sch = spark.read.parquet(s"$sfDir/$t.parquet").schema
          .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
        System.err.println(s"[verify] schema $t: $sch")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] schema $t: UNREADABLE ${e.getMessage}")
      }
    }
    // A failed query must be LOUD: round 6 lost half the registry because
    // failures were only stderr lines — absent from the correctness report,
    // they read as "not attempted" rather than "broken". Collect them and
    // write _failures.json next to the results so any breakage is a visible
    // artifact, not a silent hole.
    val failures = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += name -> String.valueOf(e.getMessage).take(500)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failJson)
    println(s"[verify] ${selected.size - failures.size}/${selected.size} queries dumped" +
      (if (failures.nonEmpty) s"; FAILED: ${failures.map(_._1).mkString(",")}" else ""))
    spark.stop()
  }
}
