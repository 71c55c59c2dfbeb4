package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Pipelines

/** The streaming CURATION composition end to end: a quality pre-filter
  * upstream of the near-dup admit gate — the ingest shape a training-data
  * pipeline actually runs (filter cheap-and-local first, dedup against
  * global state second). The property under test is the composition, not
  * the pieces: low-quality rows must be dropped BEFORE the gate so they
  * never consume index space or candidate volume, while the gate's own
  * admit/replay semantics are unchanged by the upstream transform
  * (foreachBatch sees the filtered frame; the gate neither knows nor
  * cares that a filter ran).
  */
class CurationStreamSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  // cheap row-local quality proxy (the tx_quality composite's shape):
  // enough tokens and enough distinct tokens — spam ("buy buy buy …")
  // fails the distinct-ratio leg, fragments fail the length leg
  private val qualityPred =
    "size(split(text, ' ')) >= 8 AND " +
      "size(array_distinct(split(text, ' '))) / size(split(text, ' ')) >= 0.5"

  test("quality filter upstream of the near-dup gate: spam never reaches the index") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-curation").toString
    val admittedDir = s"$base/admitted"

    val in = MemoryStream[(Long, String)]
    val q = Pipelines.nearDupGate(
      in.toDF().toDF("doc_id", "text").filter(expr(qualityPred)),
      s"$base/index", s"$base/ckpt",
      out => out.write.mode("append").parquet(admittedDir)).start()
    try {
      // batch 1: one good document, one spam (distinct ratio 1/8), one
      // fragment (3 tokens) — only the good one may reach the gate
      in.addData(
        (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2L, "buy buy buy buy buy buy buy buy"),
        (3L, "too short fragment"))
      q.processAllAvailable()
      // batch 2: a near-copy of doc 1 under a new id (gate must drop it),
      // the same spam again (filter must drop it BEFORE the gate), and a
      // genuinely new good document (admits)
      in.addData(
        (4L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (5L, "buy buy buy buy buy buy buy buy"),
        (6L, "completely unrelated text about distributed query engines and parquet"))
      q.processAllAvailable()
      // batch 3: at-least-once replay of batch 2 → nothing admits twice
      in.addData(
        (4L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (5L, "buy buy buy buy buy buy buy buy"),
        (6L, "completely unrelated text about distributed query engines and parquet"))
      q.processAllAvailable()
    } finally q.stop()

    val admitted = spark.read.parquet(admittedDir)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(admitted === Seq(1L, 6L),
      "only the two good, non-duplicate documents admit (spam and fragment " +
        "filtered, near-copy deduped, replay self-deduped)")

    // the index holds ONLY admitted signatures — the spam was filtered
    // before signing, so it consumed no index space on any delivery
    val indexed = Pipelines.readNearDupIndex(spark, s"$base/index")
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(indexed === Seq(1L, 6L))
  }

  test("running dataset card under the gate counts each admitted doc exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-card").toString
    val cardDir = s"$base/card"

    val in = MemoryStream[(Long, String, String)]
    val q = Pipelines.nearDupGate(
      in.toDF().toDF("doc_id", "text", "lang"),
      s"$base/index", s"$base/ckpt",
      out => {
        val batch = out.persist()
        batch.write.mode("append").parquet(s"$base/admitted")
        Pipelines.cardSink(spark, cardDir, batch)
        batch.unpersist(); ()
      }).start()
    try {
      in.addData(
        (1L, "the quick brown fox jumps over the lazy dog near the river bank", "en"),
        (2L, "colorless green ideas sleep furiously under a bright winter moon", "en"),
        (3L, "ein kurzer satz ueber verteilte systeme und ihre seltsamen fehler", "de"))
      q.processAllAvailable()
      // batch 2: a near-copy (drops at the gate → must NOT count) + new doc
      in.addData(
        (4L, "the quick brown fox jumps over the lazy dog near the river bank", "en"),
        (5L, "completely unrelated text about distributed query engines and parquet", "en"))
      q.processAllAvailable()
      // batch 3: full replay of batch 2 → the gate admits nothing, so the
      // ADDITIVE card must not move — effectively-once counting without the
      // card sink holding any dedup state of its own
      in.addData(
        (4L, "the quick brown fox jumps over the lazy dog near the river bank", "en"),
        (5L, "completely unrelated text about distributed query engines and parquet", "en"))
      q.processAllAvailable()
    } finally q.stop()

    val card = Pipelines.readSmallState(spark, cardDir).get
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_short"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // en admits docs 1 (13 tok), 2 (10 tok), 5 (9 tok → short); de doc 3 (10 tok)
    assert(card("en") === ((3L, 32L, 1L)), s"en card: ${card("en")}")
    assert(card("de") === ((1L, 10L, 0L)), s"de card: ${card("de")}")

    // the card equals the rollup of the admitted table — no drift between
    // the incremental fold and a batch recomputation
    val recomputed = spark.read.parquet(s"$base/admitted")
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("d"), sum(col("n")).as("t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(card.view.mapValues(v => (v._1, v._2)).toMap === recomputed)
  }
}
