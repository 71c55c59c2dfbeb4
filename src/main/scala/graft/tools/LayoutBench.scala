package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.streaming.Pipelines
import graft.streaming.Pipelines.Bucketing

/** State-layout growth curve: append-mostly batches of monotonic keys
  * upserted into ONE growing state, hash layout vs range layout, per-batch
  * wall time sampled along the way. Hash spreads every batch across all
  * buckets, so each batch re-merges and rewrites the WHOLE accumulated
  * state — per-batch time grows linearly with state size. Range clusters
  * the batch into its tail buckets — per-batch time stays flat. This is
  * the measurement behind choosing `Bucketing.range` for the Transaction
  * state (GraftApp). Usage: runMain graft.tools.LayoutBench
  * [nBatches] [rowsPerBatch]
  */
object LayoutBench {
  def main(args: Array[String]): Unit = {
    val nBatches = if (args.length > 0) args(0).toInt else 40
    val perBatch = if (args.length > 1) args(1).toInt else 25000
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")

    def run(tag: String, bucketing: Option[Bucketing]): Seq[Double] = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-layout-$tag").toString + "/state"
      (0 until nBatches).map { i =>
        val lo = i.toLong * perBatch
        val batch = spark.range(lo, lo + perBatch)
          .select(col("id").as("k"),
            concat(lit("v"), col("id")).as("v"),
            (col("id") % 97).as("aux"))
        val t0 = System.nanoTime()
        Pipelines.upsertBatch(spark, dir, batch, Seq("k"), bucketing = bucketing)
        (System.nanoTime() - t0) / 1e9
      }
    }

    val hash = run("hash", None)
    val range = run("range", Some(Bucketing.range("k", perBatch.toLong)))
    def fmt(xs: Seq[Double]): String =
      xs.zipWithIndex.filter { case (_, i) =>
        i < 2 || i % (nBatches / 8).max(1) == 0 || i == nBatches - 1
      }.map { case (t, i) => s""""$i":${f"$t%.2f"}""" }.mkString("{", ",", "}")
    // scalastyle:off println
    println(s"""{"metric":"layout_growth","batches":$nBatches,"rows_per_batch":$perBatch,""" +
      s""""final_rows":${nBatches.toLong * perBatch},""" +
      s""""hash_sec_by_batch":${fmt(hash)},"range_sec_by_batch":${fmt(range)},""" +
      s""""hash_last_over_first":${f"${hash.takeRight(3).sum / hash.take(3).sum}%.2f"},""" +
      s""""range_last_over_first":${f"${range.takeRight(3).sum / range.take(3).sum}%.2f"}}""")
    // scalastyle:on println
    spark.stop()
  }
}
