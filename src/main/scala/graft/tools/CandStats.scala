package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.operators.{TextOps, VectorOps}

/** Candidate-volume probe for the incremental dedup paths: runs the same
  * corpus/batch split the `dd_incremental_*` queries use and reports the
  * CANDIDATE-PAIR counts a probe verifies (sum of `n_cand` over verdicts)
  * next to batch/corpus sizes — the number that must stay dup-sized (not
  * corpus-sized) as the corpus grows, which wall-clock alone can't show.
  * Both probe modes are measured; their identical verdict totals double as
  * a cross-mode equivalence check on real replica data.
  * Usage: runMain graft.tools.CandStats [sfDir]
  */
object CandStats {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    def stats(verdicts: DataFrame, dupCol: String): (Long, Long, Long) = {
      val r = verdicts.agg(
        count(lit(1)).as("n"),
        sum(col("n_cand")).as("cand"),
        sum(when(col(dupCol), 1L).otherwise(0L)).as("dups")).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    // NOTE the asymmetric tuple orders: text split is (corpus, batch),
    // embed split is (batch, corpus)
    val (corpSig, newSig) = TextOps.incrementalSplit(spark, sfDir)
    val (tn, tCandB, tDupB) =
      stats(TextOps.probeNearDupIndex(newSig, corpSig, TextOps.bandTable(corpSig)),
        "is_neardup")
    val (_, tCandS, tDupS) =
      stats(TextOps.probeNearDupIndexShuffle(newSig, TextOps.bandIndex(corpSig)),
        "is_neardup")
    val tCorp = corpSig.count()

    val (newIdx, corpIdx) = VectorOps.embedIncrementalSplit(spark, sfDir)
    val (en, eCandB, eDupB) =
      stats(VectorOps.probeEmbedIndex(newIdx, corpIdx), "is_dup")
    val (_, eCandS, eDupS) =
      stats(VectorOps.probeEmbedIndexShuffle(newIdx, corpIdx), "is_dup")
    val eCorp = corpIdx.count()

    // scalastyle:off println
    println(
      s"""{"text":{"batch":$tn,"corpus":$tCorp,"cand_broadcast":$tCandB,""" +
      s""""cand_shuffle":$tCandS,"dups_broadcast":$tDupB,"dups_shuffle":$tDupS},""" +
      s""""embed":{"batch":$en,"corpus":$eCorp,"cand_broadcast":$eCandB,""" +
      s""""cand_shuffle":$eCandS,"dups_broadcast":$eDupB,"dups_shuffle":$eDupS},""" +
      s""""sf":"$sfDir"}""")
    // scalastyle:on println
    spark.stop()
  }
}
