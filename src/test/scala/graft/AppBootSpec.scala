package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Config
import graft.streaming.{CandleStream, IndexerChain, Pipelines, Triggers}

/** The config-driven boot path end to end: a settings document (the
  * reference's settings-*.json shape) selects the dataset root to read
  * and the state root to write; GraftApp.boot starts the task set at the
  * configured cadences plus the serving tier, and a brief run leaves
  * Transaction state, cursor history, and live candles under the store
  * uri with the HTTP surface answering. The state is checked the way the
  * benchmark's `chain` workload checks it: the Transaction rows and their
  * statuses against `tx_union_canonical`, the MocState fold against
  * `s15_mocstate_doc`.
  */
class AppBootSpec extends AnyFunSuite {
  import SparkTestSession._

  test("boot from settings: tasks run, state lands under the store uri, serving answers") {
    val stateRoot = Files.createTempDirectory("graft-app").toString
    val settings =
      s"""{
         |  "mongo": {"uri": "$stateRoot", "db": "$sf"},
         |  "tasks": {"scan_raw_txs": {"interval": 1}, "scan_prices": {"interval": 1}},
         |  "networks": {"tn": {"app_mode": "MoC", "addresses": {}}}
         |}""".stripMargin
    val cfg = Config.resolve(Map.empty, Some(settings), Some("tn"), Some("tn"))
    // the cadence comes from the settings doc, not the pinned default
    assert(Triggers.forTask(cfg, "scan_raw_txs", Triggers.Events) ===
      Trigger.ProcessingTime("1 seconds"))

    val running = GraftApp.boot(spark, cfg)
    try {
      assert(running.tasks.map(_.name) === Seq("scan_raw_txs",
        "scan_transactions_status", "scan_moc_state", "scan_prices"))
      assert(spark.streams.listListeners().contains(running.watchdog))
      running.tasks.foreach(_.processAllAvailable())

      val tx = Pipelines.readState(spark, s"$stateRoot/Transaction")
      assert(tx.count() > 0, "scan_raw_txs must upsert Transaction state")
      assert(tx.columns.contains("amount_wei") && tx.columns.contains("status"))

      // the Transaction state holds exactly the canonical rows of the
      // batch query at head = max(event_id), each once, with its status
      val keys = Seq("event_id", "event", "address", "status")
      def keyed(df: DataFrame) =
        df.select(keys.head, keys.tail: _*).distinct()
      val canonical = keyed(graft.core.QueryRegistry.byName("tx_union_canonical")
        .fn(spark, sf))
      def sorted(df: DataFrame) =
        df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(sorted(keyed(tx)) === sorted(canonical),
        "the streamed Transaction rows must equal tx_union_canonical's")
      assert(tx.count() === canonical.count())
      def perStatus(df: DataFrame) =
        df.groupBy("status").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(perStatus(tx) === perStatus(canonical),
        "the Transaction rows per status must equal tx_union_canonical's")

      assert(spark.read.parquet(s"$stateRoot/moc_indexer_history").count() >= 1,
        "every scan pass appends a cursor audit row")

      assert(CandleStream.currentCandles(spark, s"$stateRoot/candles").count() > 0,
        "scan_prices must maintain live candle state")

      // scan_moc_state's folded docs equal the oracle-checked batch query
      // over the same events — the streaming fold IS the batch definition
      val cols = Seq("block_height", "bitcoin_price", "bprox2_price_rbtc",
        "bprox2_price_usd", "blocks_to_settlement", "state", "paused",
        "commission_rates")
      val folded = Pipelines.readState(spark, s"$stateRoot/MocState")
        .select(cols.head, cols.tail: _*).orderBy("block_height")
        .collect().map(_.toSeq).toSeq
      val batch = graft.core.QueryRegistry.byName("s15_mocstate_doc")
        .fn(spark, sf).select(cols.head, cols.tail: _*)
        .collect().map(_.toSeq).toSeq
      assert(folded === batch,
        "the streaming-folded MocState must equal the batch s15 query")

      def get(path: String): (Int, String) = {
        val conn = java.net.URI.create(s"http://127.0.0.1:${running.port}$path")
          .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val body = new String(
          (if (code == 200) conn.getInputStream else conn.getErrorStream).readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        (code, body)
      }
      assert(get("/ping")._1 === 200)
      val (ohlcCode, ohlcBody) = get("/api/v1/webapp/prices/ohlc?days=5")
      assert(ohlcCode === 200)
      assert(ohlcBody.contains(""""vwap":"""),
        "the candle page must serve the state this boot maintains")
    } finally running.stop()
    assert(!spark.streams.listListeners().contains(running.watchdog),
      "stop() must unregister the liveness listener boot added")
  }

  test("a replayed MocState batch folds once; a later batch finishes its partial height") {
    val root = Files.createTempDirectory("graft-mocstate").toString
    val events = spark.read.parquet(s"$sf/events.parquet")
    // batch 0 leaves height 6 partial (ids 600-649); batch 1 finishes it
    val b0 = events.filter(col("event_id") < 650)
    val b1 = events.filter(col("event_id") >= 650)
    IndexerChain.foldMocState(spark, b0, 0L, root)
    IndexerChain.foldMocState(spark, b0, 0L, root) // at-least-once replay
    IndexerChain.foldMocState(spark, b1, 1L, root)
    val state = Pipelines.readState(spark, s"$root/MocState")
    def rows(df: DataFrame) = df.orderBy("block_height").collect().map(_.toSeq).toSeq
    assert(rows(state.select("block_height", "cnt")) === rows(events
        .groupBy(expr("event_id div 100").as("block_height")).count()),
      "the state's cnt must be the per-height event count")
    val cols = Seq("block_height", "bitcoin_price", "bprox2_price_rbtc",
      "bprox2_price_usd", "blocks_to_settlement", "state", "paused",
      "commission_rates")
    assert(rows(state.select(cols.map(col): _*)) === rows(
        graft.core.QueryRegistry.byName("s15_mocstate_doc").fn(spark, sf)
          .select(cols.map(col): _*)),
      "the folded docs must equal s15_mocstate_doc over the same events")
  }

  test("boot refuses a state root whose checkpoints are gone but whose state is kept") {
    val stateRoot = Files.createTempDirectory("graft-lost-ckpt").toString
    val settings =
      s"""{"mongo": {"uri": "$stateRoot", "db": "$sf"},
         | "networks": {"tn": {"app_mode": "MoC"}}}""".stripMargin
    val cfg = Config.resolve(Map.empty, Some(settings), Some("tn"), Some("tn"))
    val first = GraftApp.boot(spark, cfg)
    try first.tasks.foreach(_.processAllAvailable()) finally first.stop()
    // a normal restart over its own checkpoints still boots
    GraftApp.boot(spark, cfg).stop()
    // checkpoint lost, state kept: every task would restart at batch 0
    // over state its earlier batch ids already wrote
    Files.walk(java.nio.file.Paths.get(stateRoot, "_ckpt"))
      .sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    val listeners = spark.streams.listListeners().length
    val e = intercept[IllegalStateException] { GraftApp.boot(spark, cfg) }
    assert(e.getMessage.contains(stateRoot) && e.getMessage.contains("scan_raw_txs"),
      e.getMessage)
    assert(!spark.streams.active.exists(_.name == "scan_raw_txs"),
      "a refused boot starts no task")
    assert(spark.streams.listListeners().length === listeners,
      "a refused boot leaves no liveness listener behind")
  }

  test("the app leases MocState to its own writer: a default-token batch is refused") {
    val stateRoot = Files.createTempDirectory("graft-mocstate-lease").toString
    val settings =
      s"""{"mongo": {"uri": "$stateRoot", "db": "$sf"},
         | "networks": {"tn": {"app_mode": "MoC"}}}""".stripMargin
    val cfg = Config.resolve(Map.empty, Some(settings), Some("tn"), Some("tn"))
    val app = GraftApp.boot(spark, cfg)
    try app.tasks.foreach(_.processAllAvailable()) finally app.stop()
    // a backfill from another process under the shared default token,
    // rewriting one doc the app folded
    val doc = Pipelines.readState(spark, s"$stateRoot/MocState").limit(1)
    val backfill = spark.createDataFrame(
      java.util.Arrays.asList(doc.collect(): _*), doc.schema)
    val e = intercept[IllegalStateException] {
      Pipelines.upsertBatch(spark, s"$stateRoot/MocState", backfill, Seq("block_height"))
    }
    assert(e.getMessage.contains("app:mocstate") && e.getMessage.contains("releaseLease"),
      e.getMessage)
  }

  test("boot fails loudly on a typo'd network, like the reference") {
    val settings =
      s"""{"mongo": {"uri": "/tmp/x", "db": "$sf"},
         | "networks": {"tn": {"app_mode": "MoC"}}}""".stripMargin
    val cfg = Config.resolve(Map.empty, Some(settings), Some("tn"), Some("nope"))
    intercept[IllegalArgumentException] { GraftApp.boot(spark, cfg) }
  }
}
