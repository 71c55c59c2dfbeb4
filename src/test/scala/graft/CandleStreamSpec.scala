package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CandleStream

/** Streaming OHLC: the merged candle state must equal the batch
  * `Reports.ohlcBars` program on the same events REGARDLESS of how the
  * stream was micro-batched — open/close anchors make the merge algebra
  * associative — plus the Generations guarantees (replay idempotence,
  * marker monotonicity) and the live serving path.
  */
class CandleStreamSpec extends AnyFunSuite {
  import SparkTestSession._

  private def batchCandles() =
    graft.operators.Reports.ohlcBars(spark, sf)
      .collect().map(_.toString).toSet

  private def liveCandles(dir: String) =
    CandleStream.currentCandles(spark, dir)
      .collect().map(_.toString).toSet

  test("streamed candles equal the batch program under adversarial batching") {
    // split events so DAYS STRADDLE batches (ordered by ts, odd sizes) —
    // the case where a naive first/last-in-batch merge goes wrong
    val ev = graft.core.Tables.events(spark, sf)
      .select("ts", "event_id", "event_type", "value")
      .orderBy("ts", "event_id").collect()
    val dir = Files.createTempDirectory("candles").toString + "/state"
    val sizes = Iterator.continually(Seq(7, 113, 31, 257)).flatten
    var (i, b) = (0, 0L)
    while (i < ev.length) {
      val n = math.min(sizes.next(), ev.length - i)
      val batch = spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(ev.slice(i, i + n): _*)),
        ev.head.schema)
      CandleStream.mergeBatch(batch, dir, b)
      i += n; b += 1
    }
    assert(liveCandles(dir) === batchCandles(),
      "streamed OHLC state must be bit-identical to the batch aggregation")
  }

  test("replay and stale redelivery are safe; live state serves /prices/ohlc") {
    val ev = graft.core.Tables.events(spark, sf)
      .select("ts", "event_id", "event_type", "value")
      .orderBy("ts", "event_id").collect()
    val dir = Files.createTempDirectory("candles-rep").toString + "/state"
    val (h1, h2) = ev.splitAt(ev.length / 2)
    def toDf(rows: Array[org.apache.spark.sql.Row]) = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), ev.head.schema)
    CandleStream.mergeBatch(toDf(h1), dir, 0L)
    CandleStream.mergeBatch(toDf(h2), dir, 1L)
    val once = liveCandles(dir)
    CandleStream.mergeBatch(toDf(h2), dir, 1L) // same-id replay
    assert(liveCandles(dir) === once, "replay must not double-count")
    CandleStream.mergeBatch(toDf(h1), dir, 0L) // stale redelivery
    assert(liveCandles(dir) === once, "old batch id must not regress state")
    assert(once === batchCandles(), "final state equals the batch program")

    // the serving tier reads the SAME live state (generation-cached page)
    val srv = new graft.serving.ApiServer(spark, sf, minAddressLen = 3,
      candleDir = Some(dir))
    val port = srv.start()
    try {
      val conn = java.net.URI.create(s"http://127.0.0.1:$port/api/v1/webapp/prices/ohlc?days=5")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode === 200)
      val body = new String(conn.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(body.startsWith("""{"candles":["""))
      assert(body.contains(""""vwap":"""))
      val nDays = """"day":""".r.findAllIn(body).size
      assert(nDays > 0 && nDays <= 5)
    } finally srv.stop()
  }

  test("streaming gate wiring maintains candles from a MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("candles-gate").toString
    val in = MemoryStream[(java.sql.Timestamp, Long, String, Double)]
    val q = in.toDF().toDF("ts", "event_id", "event_type", "value").writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        CandleStream.mergeBatch(batch, s"$dir/state", batchId)
      }
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      in.addData((t("2026-01-01 01:00:00"), 1L, "purchase", 10.0),
        (t("2026-01-01 02:00:00"), 2L, "purchase", 30.0))
      q.processAllAvailable()
      in.addData((t("2026-01-01 03:00:00"), 3L, "purchase", 5.0),
        (t("2026-01-02 01:00:00"), 4L, "purchase", 7.0),
        (t("2026-01-01 00:30:00"), 5L, "view", 99.0)) // non-purchase ignored
      q.processAllAvailable()
      val rows = CandleStream.currentCandles(spark, s"$dir/state")
        .orderBy("day").collect()
      assert(rows.length === 2)
      val d1 = rows(0)
      assert(d1.getAs[Double]("open") === 10.0 && d1.getAs[Double]("close") === 5.0)
      assert(d1.getAs[Double]("high") === 30.0 && d1.getAs[Double]("low") === 5.0)
      assert(d1.getAs[Long]("volume") === 3L)
      assert(math.abs(d1.getAs[Double]("vwap") - 15.0) < 1e-9)
      assert(rows(1).getAs[Long]("volume") === 1L)
    } finally q.stop()
  }
}
