package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.streaming.Pipelines

/** Throughput smoke for the streaming admit gates: feeds the `documents`
  * table through [[Pipelines.nearDupGate]] (both probe modes) and the
  * `embeddings` table through [[Pipelines.embedDupGate]] in N
  * micro-batches (fresh index each) and prints one JSON line with
  * wall-clock and rows/s per mode. The corpus is collected once to feed
  * MemoryStream — that is the test harness's delivery mechanism, not the
  * gate's data path (the gate only ever sees per-batch DataFrames).
  * Usage: runMain graft.tools.GateBench [sfDir] [nBatches]
  */
object GateBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nBatches = if (args.length > 1) args(1).toInt else 8
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val perBatch = math.max(1, docs.length / nBatches)

    def drive(shuffleProbe: Boolean): (Double, Long) = {
      val base = java.nio.file.Files.createTempDirectory("graft-gatebench").toString
      val in = MemoryStream[(Long, String)]
      var admitted = 0L
      val q = Pipelines.nearDupGate(
        in.toDF().toDF("doc_id", "text"),
        s"$base/index", s"$base/ckpt",
        out => admitted += out.count(),
        shuffleProbe = shuffleProbe).start()
      val t0 = System.nanoTime()
      try {
        docs.grouped(perBatch).foreach { g =>
          in.addData(g.toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
      ((System.nanoTime() - t0) / 1e9, admitted)
    }

    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect()
    val perVBatch = math.max(1, vecs.length / nBatches)

    def driveEmbed(shuffleProbe: Boolean): (Double, Long) = {
      val base = java.nio.file.Files.createTempDirectory("graft-egatebench").toString
      val in = MemoryStream[(Long, Seq[Float])]
      var admitted = 0L
      val q = Pipelines.embedDupGate(
        in.toDF().toDF("vec_id", "embedding"),
        s"$base/index", s"$base/ckpt",
        out => admitted += out.count(),
        shuffleProbe = shuffleProbe).start()
      val t0 = System.nanoTime()
      try {
        vecs.grouped(perVBatch).foreach { g =>
          in.addData(g.toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
      ((System.nanoTime() - t0) / 1e9, admitted)
    }

    // the validation (quarantine) and frequency-sketch gates, same harness
    def driveQuarantine(): (Double, Long) = {
      val base = java.nio.file.Files.createTempDirectory("graft-qgatebench").toString
      val in = MemoryStream[(Long, String)]
      val checks = Seq(
        "text.not_null" -> col("text").isNotNull,
        "text.min_len" -> (length(col("text")) >= 10),
        "id.non_negative" -> (col("doc_id") >= 0))
      val q = graft.streaming.Quarantine.gate(
        in.toDF().toDF("doc_id", "text"), checks,
        s"$base/clean", s"$base/dlq")
        .option("checkpointLocation", s"$base/ckpt").start()
      val t0 = System.nanoTime()
      try {
        docs.grouped(perBatch).foreach { g =>
          in.addData(g.toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
      val cleaned = spark.read.parquet(s"$base/clean").count()
      ((System.nanoTime() - t0) / 1e9, cleaned)
    }

    def driveSketch(): (Double, Long, String) = {
      val base = java.nio.file.Files.createTempDirectory("graft-sgatebench").toString
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.SketchStream.gate(
        in.toDF().toDF("doc_id", "text")
          .select(explode(split(col("text"), " ")).as("token")),
        s"$base/state")
        .option("checkpointLocation", s"$base/ckpt").start()
      val t0 = System.nanoTime()
      try {
        docs.grouped(perBatch).foreach { g =>
          in.addData(g.toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
      val cells = graft.streaming.SketchStream.currentSketch(spark, s"$base/state").count()
      ((System.nanoTime() - t0) / 1e9, cells, s"$base/state")
    }

    /** candle gate: the events stream maintained as live OHLC state
      * (CandleStream) in N micro-batches — the price tier's streaming
      * ingestion. Returns wall, days held, and the state dir for the
      * serving hammer. */
    def driveCandles(): (Double, Long, String, Int) = {
      val base = java.nio.file.Files.createTempDirectory("graft-cgatebench").toString
      val evs = spark.read.parquet(s"$sfDir/events.parquet")
      val ts = evs.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts div 1000)")
        case _ => col("ts").cast("timestamp")
      }
      val rows = evs.select(ts.as("ts"), col("event_id"), col("event_type"),
          col("value"))
        .as[(java.sql.Timestamp, Long, String, Double)].collect()
      val per = math.max(1, rows.length / nBatches)
      val in = MemoryStream[(java.sql.Timestamp, Long, String, Double)]
      val q = graft.streaming.CandleStream.gate(
        in.toDF().toDF("ts", "event_id", "event_type", "value"), s"$base/state")
        .option("checkpointLocation", s"$base/ckpt").start()
      val t0 = System.nanoTime()
      try {
        rows.grouped(per).foreach { g =>
          in.addData(g.toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
      val days = graft.streaming.CandleStream
        .currentCandles(spark, s"$base/state").count()
      ((System.nanoTime() - t0) / 1e9, days, s"$base/state", rows.length)
    }

    /** serving tier under load: a live ApiServer answering point-frequency
      * queries from the CMS state the sketch gate just built, live candles
      * from the streaming OHLC state, and OHLC
      * candle pages aggregated from the events table — n sequential
      * requests per route (after one warm request), reporting req/s and
      * p50/p95 latency. This is the "serve from live streaming state"
      * number: every /stats/freq hit is a broadcast of ≤4096 sketch cells
      * against the candidate tokens, every /prices/ohlc hit a bounded
      * daily-candle aggregation — neither touches corpus-scale state. */
    def driveServing(sketchState: String,
        candleState: String): (Map[String, (Int, Double, Double, Double)]) = {
      val srv = new graft.serving.ApiServer(spark, sfDir,
        minAddressLen = 3, sketchDir = Some(sketchState),
        candleDir = Some(candleState))
      val port = srv.start()
      def hammer(path: String, nReq: Int): (Int, Double, Double, Double) = {
        def one(): Double = {
          val t0 = System.nanoTime()
          val conn = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
            .openConnection().asInstanceOf[java.net.HttpURLConnection]
          conn.setReadTimeout(120000)
          require(conn.getResponseCode == 200, s"non-200 from $path")
          conn.getInputStream.readAllBytes()
          conn.disconnect()
          (System.nanoTime() - t0) / 1e6 // ms
        }
        one() // warm: route-specific plan/JIT
        val lat = (1 to nReq).map(_ => one()).sorted
        val total = lat.sum / 1e3
        (nReq, nReq / total, lat(nReq / 2), lat(math.min(nReq - 1, nReq * 95 / 100)))
      }
      try {
        val freqTokens = docs.head._2.split(" ").take(8).distinct
          .map(t => java.net.URLEncoder.encode(t, "UTF-8")).mkString(",")
        Map(
          "serve_freq" -> hammer(s"/api/v1/webapp/stats/freq?tokens=$freqTokens", 100),
          // ohlc serves the LIVE streaming candle state (candleDir wired)
          "serve_ohlc_live" -> hammer("/api/v1/webapp/prices/ohlc?days=30", 100),
          // the uncached contrast: /prices/var aggregates per request
          "serve_var" -> hammer("/api/v1/webapp/prices/var", 20),
          // ANN serving: a Spark job per request over the memoized
          // quantized index (broadcast query row + global BoundedTopK) —
          // the per-request cost of serving exact top-k from a live session
          "serve_vec_topk" -> hammer("/api/v1/webapp/vectors/topk?vec_id=3&k=5", 20))
      } finally srv.stop()
    }

    val (tB, aB) = drive(shuffleProbe = false)
    val (tS, aS) = drive(shuffleProbe = true)
    val (tE, aE) = driveEmbed(shuffleProbe = false)
    val (tES, aES) = driveEmbed(shuffleProbe = true)
    val (tQ, aQ) = driveQuarantine()
    val (tK, aK, sketchState) = driveSketch()
    val (tC, aC, candleState, nEvents) = driveCandles()
    val serving = driveServing(sketchState, candleState)
    val n = docs.length
    val nv = vecs.length
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def srvObj(k: String) = {
      val (nr, rps, p50, p95) = serving(k)
      s""""$k":{"n":$nr,"req_per_sec":${fmt(rps)},"p50_ms":${fmt(p50)},"p95_ms":${fmt(p95)}}"""
    }
    // scalastyle:off println
    println(s"""{"metric":"gate_docs_per_sec","docs":$n,"batches":$nBatches,""" +
      s""""broadcast":{"sec":${fmt(tB)},"admitted":$aB,"docs_per_sec":${fmt(n / tB)}},""" +
      s""""shuffle":{"sec":${fmt(tS)},"admitted":$aS,"docs_per_sec":${fmt(n / tS)}},""" +
      s""""embed":{"sec":${fmt(tE)},"vecs":$nv,"admitted":$aE,"vecs_per_sec":${fmt(nv / tE)}},""" +
      s""""embed_shuffle":{"sec":${fmt(tES)},"admitted":$aES,"vecs_per_sec":${fmt(nv / tES)}},""" +
      s""""quarantine":{"sec":${fmt(tQ)},"clean":$aQ,"docs_per_sec":${fmt(n / tQ)}},""" +
      s""""cms":{"sec":${fmt(tK)},"cells":$aK,"docs_per_sec":${fmt(n / tK)}},""" +
      s""""candles":{"sec":${fmt(tC)},"days":$aC,"events_per_sec":${fmt(nEvents / tC)}},""" +
      s"""${srvObj("serve_freq")},${srvObj("serve_ohlc_live")},${srvObj("serve_var")},""" +
      s"""${srvObj("serve_vec_topk")},""" +
      s""""sf":"$sfDir"}""")
    // scalastyle:on println
    spark.stop()
  }
}
