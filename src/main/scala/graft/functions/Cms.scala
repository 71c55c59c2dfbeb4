package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-Min Sketch as a DataFrame — the ONE construction shared by the
  * batch evals (`tx_cms_heavyhitters` and the shard merge
  * `tx_cms_shard_merge`): d=4 rows × w=1024 cells, row positions read
  * from disjoint 10-bit fields of a 60-bit md5-derived id (the split-bits
  * scheme the Bloom module uses). The sketch is never a driver-side array:
  * it is a (j, pos, cnt) frame of ≤4096 rows at ANY input size, built by
  * one partial-aggregated shuffle of the ×4-exploded stream, and MERGEABLE
  * by plain (j, pos) summation — the property that makes it a streaming
  * state and a cross-partition combine at 100 TB.
  */
object Cms {
  val Rows = 4
  val Bits = 10          // 2^10 = 1024 cells per row
  val Mask = (1L << Bits) - 1

  def posOf(h: Column, j: Int): Column =
    shiftright(h, Bits * j).bitwiseAND(lit(Mask))

  /** per-(j,pos) increments for a frame bearing an `h` 60-bit id column. */
  def cells(th: DataFrame): DataFrame =
    th.select(explode(array((0 until Rows).map(j =>
        struct(lit(j).as("j"), posOf(col("h"), j).as("pos"))): _*)).as("c"))
      .groupBy(col("c.j").as("j"), col("c.pos").as("pos"))
      .agg(count(lit(1)).as("cnt"))

  /** point-frequency estimates for candidate rows bearing `h`: the min
    * over the sketch's d row cells (est ≥ true, no false negatives). A
    * cell the sketch never incremented counts as 0 — the LEFT join +
    * coalesce is what makes a never-seen token estimate 0 instead of
    * silently vanishing (and the probe expansion keeps this an EQUI-join
    * on (j, pos), not an OR-condition nested loop). */
  def estimate(candidates: DataFrame, sketch: DataFrame): DataFrame =
    candidates
      .withColumn("j", explode(array((0 until Rows).map(j => lit(j)): _*)))
      .withColumn("pos", expr(s"shiftright(h, $Bits * j) & $Mask"))
      .join(broadcast(sketch), Seq("j", "pos"), "left")
      .withColumn("cell", coalesce(col("cnt"), lit(0L)))
      .groupBy(candidates.columns.toIndexedSeq.map(col): _*)
      .agg(min(col("cell")).as("cms_est"))
}
