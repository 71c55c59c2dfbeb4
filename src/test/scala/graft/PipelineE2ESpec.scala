package graft

import java.nio.file.Files

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Pipelines

/** The §3.2 derivation end-to-end in streaming mode: raw decoded logs
  * arrive in micro-batches, dispatch against a broadcast registry (P2/J8),
  * run the per-event column transform, and MERGE into a parquet state
  * table through foreachBatch into the keyed upsert — replays upsert
  * rather than duplicate (T7).
  */
final case class RawLog(event_id: Long, addr: String, event_name: String, amount: Long)

class PipelineE2ESpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("stream → dispatch → transform → keyed MERGE parquet state") {
    implicit val sqlCtx = spark.sqlContext
    val registry = Seq(("0xc0", "Mint", "h_mint"), ("0xc1", "Redeem", "h_redeem"))
      .toDF("addr", "event_name", "handler")
    val stateDir = Files.createTempDirectory("graft-e2e").toString + "/tx"
    val ckpt = Files.createTempDirectory("graft-e2e-ckpt").toString

    val in = MemoryStream[RawLog]
    val transformed = in.toDF()
      .join(broadcast(registry), Seq("addr", "event_name")) // dispatch = filter+route
      .withColumn("amount_wei", (col("amount") * 1000000000000L).cast("string"))
      .select("event_id", "handler", "amount_wei")

    val q = transformed.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        Pipelines.upsertBatch(spark, stateDir, batch.toDF(), Seq("event_id"),
          batchId = Some(batchId))
      }.start()
    try {
      in.addData(
        RawLog(1L, "0xc0", "Mint", 5L),
        RawLog(2L, "0xc1", "Redeem", 7L),
        RawLog(9L, "0xdead", "Unknown", 1L)) // unregistered → dropped
      q.processAllAvailable()
      in.addData(
        RawLog(1L, "0xc0", "Mint", 6L), // replay of key 1 with newer amount
        RawLog(3L, "0xc0", "Mint", 8L))
      q.processAllAvailable()
    } finally q.stop()

    val state = Pipelines.readState(spark, stateDir)
      .as[(Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(state.keySet === Set(1L, 2L, 3L))
    assert(state(1L) === (("h_mint", "6000000000000")))
    assert(state(2L) === (("h_redeem", "7000000000000")))
    assert(state(3L) === (("h_mint", "8000000000000")))
  }
}
