package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Streaming OHLC candle maintenance — the PRICE tier kept live (the
  * reference's core serving data: bp_prices.py answers from the latest
  * indexed price; the candle extension generalizes that to daily bars):
  * each micro-batch of price-carrying events reduces to one partial OHLC
  * state row per day touched, which MERGES into the persisted candle
  * state by pure associative algebra — open is the min_by over
  * (ts, event_id), close the max_by, high/low max/min, volume and the
  * exact cent sum plain additions. State size is one row per DAY, ever —
  * a 100 TB stream's candle table is a few KB per year.
  *
  * The merge state carries the open/close ANCHORS (timestamp + event id),
  * not just the values, so merging two partial states picks the globally
  * first/last trade no matter how days split across micro-batches — and
  * the result is bit-identical to the batch `Reports.ohlcBars` program
  * over the same events (CandleStreamSpec pins this equivalence on every
  * batching). Durability/replay semantics come from the shared
  * [[Generations]] protocol: idempotent per batch id, marker never moves
  * backwards, atomic cut-over.
  */
object CandleStream {

  /** state schema: day, open anchor (ots, oeid, open), high, low, close
    * anchor (cts, ceid, close), volume, exact cent sum. */
  private def emptyState(spark: SparkSession): DataFrame =
    spark.range(0).select(
      col("id").cast("timestamp").as("day"),
      col("id").cast("timestamp").as("ots"), col("id").as("oeid"),
      col("id").cast("double").as("open"),
      col("id").cast("double").as("high"), col("id").cast("double").as("low"),
      col("id").cast("timestamp").as("cts"), col("id").as("ceid"),
      col("id").cast("double").as("close"),
      col("id").as("volume"), col("id").as("cents"))
      .filter(lit(false))

  /** per-day partial state of one event frame (the map side of the merge). */
  private def partialState(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .select(date_trunc("day", col("ts")).as("day"), col("ts"),
        col("event_id"), col("value"),
        round(col("value") * 100).cast(LongType).as("cents"))
      .groupBy(col("day"))
      .agg(
        min_by(struct(col("ts"), col("event_id"), col("value")),
          struct(col("ts"), col("event_id"))).as("o"),
        max_by(struct(col("ts"), col("event_id"), col("value")),
          struct(col("ts"), col("event_id"))).as("c"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        count(lit(1)).as("volume"), sum(col("cents")).as("cents"))
      .select(col("day"),
        col("o.ts").as("ots"), col("o.event_id").as("oeid"), col("o.value").as("open"),
        col("high"), col("low"),
        col("c.ts").as("cts"), col("c.event_id").as("ceid"), col("c.value").as("close"),
        col("volume"), col("cents"))

  /** merge two unioned state frames back to one row per day — the same
    * associative algebra as [[partialState]]'s aggregation, over anchors. */
  private def mergeStates(states: DataFrame): DataFrame =
    states.groupBy(col("day"))
      .agg(
        min_by(struct(col("ots"), col("oeid"), col("open")),
          struct(col("ots"), col("oeid"))).as("o"),
        max_by(struct(col("cts"), col("ceid"), col("close")),
          struct(col("cts"), col("ceid"))).as("c"),
        max(col("high")).as("high"), min(col("low")).as("low"),
        sum(col("volume")).as("volume"), sum(col("cents")).as("cents"))
      .select(col("day"),
        col("o.ots").as("ots"), col("o.oeid").as("oeid"), col("o.open").as("open"),
        col("high"), col("low"),
        col("c.cts").as("cts"), col("c.ceid").as("ceid"), col("c.close").as("close"),
        col("volume"), col("cents"))

  /** one micro-batch's merge — the foreachBatch body, callable directly. */
  private[graft] def mergeBatch(batch: DataFrame, dir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val merged = mergeStates(
      Generations.before(dir, batchId)
        .map(spark.read.parquet(_)).getOrElse(emptyState(spark))
        .unionByName(partialState(batch)))
    Generations.commit(merged, dir, batchId)
  }

  /** the live candles in `Reports.ohlcBars` shape — (day, open, high,
    * low, close, volume, vwap); empty frame before the first commit. */
  def currentCandles(spark: SparkSession, dir: String): DataFrame =
    Generations.current(spark, dir).getOrElse(emptyState(spark))
      .select(col("day"), col("open"), col("high"), col("low"), col("close"),
        col("volume"),
        (col("cents") / (lit(100.0) * col("volume"))).as("vwap"))
}
