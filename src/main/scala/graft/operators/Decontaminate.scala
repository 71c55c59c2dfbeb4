package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}

/** Benchmark-decontamination building blocks of the batch query
  * `dd_decontaminate_bloom` (in [[QualityOps]]).
  *
  * Semantics (reference-free engine extension; the eval-overlap filter of
  * a pretraining pipeline): a document is CONTAMINATED when it shares any
  * [[ShingleN]]-word shingle with the benchmark corpus. The test runs in
  * two stages — a Bloom prefilter with NO false negatives (probe positions
  * are disjoint 19-bit fields of the 60-bit shingle id, identical at build
  * and check), then an exact semi-join verify of the few Bloom hits — so
  * the verdict is EXACT while a clean batch costs only narrow arithmetic.
  *
  * Scale: the Bloom is ~10 bits per benchmark shingle where the exact hash
  * set is 64+; past the broadcast ceiling the exact join forces a
  * corpus-wide shuffle but the bit array still ships to every partition.
  */
object Decontaminate {

  /** shingle width (words) — matches dd_decontaminate's 4-gram test. */
  val ShingleN = 4

  /** Bloom geometry: 2^19 bits = 8 Ki longs; k=3 split-bit probes. */
  val BloomBits: Int = 1 << 19
  private val BloomMask = (BloomBits - 1).toLong
  val BloomWords: Int = BloomBits / 64

  private def sid60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  private def gramsSpark(n: Int): String =
    s"CASE WHEN size(l) >= $n THEN transform(sequence(1, size(l)-${n - 1}), " +
      s"i -> concat_ws(' ', slice(l, i, $n))) ELSE cast(array() as array<string>) END"

  /** distinct (doc_id, h) shingle-hash rows of a (doc_id, text) frame —
    * the narrow map both the corpus and benchmark sides run. */
  def shingles(docs: DataFrame): DataFrame =
    docs.withColumn("l", split(col("text"), " "))
      .select(col("doc_id"),
        explode(array_distinct(expr(gramsSpark(ShingleN)))).as("g"))
      .select(col("doc_id"), sid60(col("g")).as("h"))

  /** the 3 probe positions of a 60-bit hash (disjoint 19-bit fields). */
  private def probes(h: Column): Seq[Column] =
    Seq(h.bitwiseAND(lit(BloomMask)),
      shiftright(h, 19).bitwiseAND(lit(BloomMask)),
      shiftright(h, 38).bitwiseAND(lit(BloomMask)))

  private def shrCol(a: Column, b: Column): Column =
    toCol(org.apache.spark.sql.catalyst.expressions.ShiftRight(toExpr(a), toExpr(b)))
  private def shlCol(a: Column, b: Column): Column =
    toCol(org.apache.spark.sql.catalyst.expressions.ShiftLeft(toExpr(a), toExpr(b)))

  /** Bloom bit array over a hash column frame: a bounded bit_or
    * aggregation (≤ [[BloomWords]] groups, map-side combining) collected
    * once — the same bounded-collect shape as the classifier's weight
    * map, independent of the input's row count. */
  def bloomBits(hashes: DataFrame): Array[Long] = {
    val bits = new Array[Long](BloomWords)
    hashes.select(explode(array(probes(col("h")): _*)).as("p"))
      .select(expr("p div 64").cast(IntegerType).as("w"),
        shlCol(lit(1L), (col("p") % 64).cast(IntegerType)).as("b"))
      .groupBy(col("w")).agg(expr("bit_or(b)").as("bits"))
      .collect().foreach(r => bits(r.getInt(0)) = r.getLong(1))
    bits
  }

  /** pure-arithmetic membership probe against a literal bit array — three
    * codegen'd bit tests, no UDF, no join. No false negatives. */
  def mightContain(bits: Array[Long], h: Column): Column = {
    val bitsLit = typedLit(bits.toSeq)
    probes(h).map { p =>
      shrCol(element_at(bitsLit, (p / 64).cast(IntegerType) + 1),
        (p % 64).cast(IntegerType)).bitwiseAND(lit(1L)) === 1L
    }.reduce(_ && _)
  }

  /** contaminated doc_ids of a (doc_id, text) frame vs a benchmark index:
    * Bloom prefilter → exact broadcast semi-join verify → distinct ids.
    * Exact despite the approximate prefilter (no false negatives; false
    * positives die in the verify join). */
  def contaminatedIds(docs: DataFrame, benchHashes: DataFrame,
      bits: Array[Long]): DataFrame =
    shingles(docs)
      .filter(mightContain(bits, col("h")))
      .join(broadcast(benchHashes), Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
}
