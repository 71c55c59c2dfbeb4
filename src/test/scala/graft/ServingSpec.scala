package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, concat, date_format, lit, md5, substring}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Tables => T}
import graft.operators.Api
import graft.serving.ApiServer

/** Drives the HTTP serving shell end-to-end against sf0.001: real sockets,
  * real request parsing. The address routes answer from a driver-side
  * index and must equal, byte for byte, the DataFrame programs over
  * `Api.txView` that served them before (kept below as the reference).
  */
class ServingSpec extends AnyFunSuite {
  import SparkTestSession._

  private val sf = "/root/testdata/sf0.001"

  private def get(port: Int, pathAndQuery: String): (Int, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port$pathAndQuery").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(60000)
    val status = conn.getResponseCode
    val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(stream.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (status, body)
  }

  /** the address routes' DataFrame programs: `Api.txView` over the events
    * table → filter → newest first → offset/limit → ISO date → `toJSON` */
  private object Reference {
    private def render(df: DataFrame): DataFrame =
      df.withColumn("created_at",
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")).drop("ts")
    private def newestFirst(df: DataFrame): DataFrame =
      df.orderBy(col("ts").desc, col("event_id").desc)
    private def filtered(dir: String, address: String, token: Option[String]) = {
      val base = Api.txView(T.events(spark, dir))
        .filter(Api.ciMatch(col("address"), address) && !col("event").isin(Api.Excluded: _*))
      token.fold(base)(t => base.filter(col("token_involved") === t))
    }
    /** the `total` of an (address, token) pair */
    def total(dir: String, address: String, token: Option[String]): Long =
      filtered(dir, address, token).count()
    def list(dir: String, address: String, token: Option[String], limit: Int,
        skip: Int, total: Long): String = {
      val page = render(newestFirst(filtered(dir, address, token)).offset(skip).limit(limit))
        .toJSON.collect()
      s"""{"transactions":[${page.mkString(",")}],"count":${page.length},"total":$total}"""
    }
    def last(dir: String, address: String, token: Option[String]): String =
      render(newestFirst(filtered(dir, address, token)).limit(1))
        .toJSON.collect().headOption.getOrElse("{}")
    def pegout(dir: String, address: String, limit: Int, skip: Int): String = {
      val recs = T.events(spark, dir)
        .filter(col("event_type") === "error")
        .select(substring(md5(col("event_id").cast(StringType)), 1, 12).as("transfer_id"),
          concat(lit("0xA"), col("user_id").cast(StringType)).as("address"),
          lit("PEG_OUT").as("type"), col("value"), col("ts"), col("event_id"))
        .filter(Api.ciMatch(col("address"), address))
      val page = render(newestFirst(recs).offset(skip).limit(limit).drop("event_id"))
        .toJSON.collect()
      s"""{"pegout_requests":[${page.mkString(",")}]}"""
    }

    /** every address route's body equals its program's over the grid */
    def assertServes(srv: ApiServer, dir: String, needles: Seq[String],
        limits: Seq[Int], skips: Seq[Int]): Unit =
      for (addr <- needles) {
        for (token <- Seq(None, Some("RISKPRO"), Some("STABLE"))) {
          val n = total(dir, addr, token)
          for (limit <- limits; skip <- skips)
            assert(srv.transactionsList(addr, token, limit, skip) ===
              list(dir, addr, token, limit, skip, n), s"list $addr $token $limit $skip")
          assert(srv.transactionsLast(addr, token) === last(dir, addr, token),
            s"last $addr $token")
        }
        for (limit <- limits; skip <- skips)
          assert(srv.pegoutRequests(addr, limit, skip) === pegout(dir, addr, limit, skip),
            s"pegout $addr $limit $skip")
      }
  }

  private def withServer(minAddrLen: Int)(f: Int => Unit): Unit = {
    val srv = new ApiServer(spark, sf, minAddressLen = minAddrLen)
    val port = srv.start()
    try f(port) finally srv.stop()
  }

  test("transactions/list returns the {transactions, count, total} envelope") {
    withServer(minAddrLen = 3) { port =>
      val (status, body) = get(port,
        "/api/v1/webapp/transactions/list?address=0xA7&limit=20&skip=0")
      assert(status === 200)
      assert(body.startsWith("""{"transactions":["""))
      val count = """"count":(\d+)""".r.findFirstMatchIn(body).get.group(1).toInt
      val total = """"total":(\d+)""".r.findFirstMatchIn(body).get.group(1).toInt
      assert(count > 0 && count <= 20)
      assert(total >= count)
      // excluded events are filtered like the reference's EXCLUDED_EVENTS
      assert(!body.contains("TransferFromMoC") && !body.contains("QueueDOC"))
      // substring address semantics: 0xA7 also matches 0xA7x addresses
      assert(body.contains(""""address":"0xA7"""))
    }
  }

  private def total(body: String): Long =
    """"total":(\d+)""".r.findFirstMatchIn(body).get.group(1).toLong
  private def count(body: String): Long =
    """"count":(\d+)""".r.findFirstMatchIn(body).get.group(1).toLong

  test("transactions/list total equals the filtered view's count on every " +
    "address, token and skip") {
    val srv = new ApiServer(spark, sf, minAddressLen = 3)
    try {
      val view = Api.txView(T.events(spark, sf))
        .filter(!col("event").isin(Api.Excluded: _*))
      val seen = for {
        addr <- Seq("0xA7", "0Xa1", "0xA", "0xFFFF")
        token <- Seq(None, Some("RISKPRO"), Some("STABLE"))
        skip <- Seq(0, 20, 100000)
      } yield {
        val f = view.filter(Api.ciMatch(col("address"), addr))
        val expected = token.fold(f)(t => f.filter(col("token_involved") === t)).count()
        val body = srv.transactionsList(addr, token, 20, skip)
        assert(total(body) === expected, s"$addr $token skip=$skip: $body")
        assert(count(body) === math.max(0L, math.min(20L, expected - skip)),
          s"$addr $token skip=$skip: $body")
        (expected, skip)
      }
      assert(seen.exists(_._1 == 0), "the grid includes an address matching nothing")
      assert(seen.exists { case (n, skip) => n > 0 && skip >= n },
        "the grid includes a skip past the end of a non-empty match")
    } finally srv.stop()
  }

  test("the address routes equal their DataFrame programs byte for byte") {
    val srv = new ApiServer(spark, sf, minAddressLen = 3)
    try {
      val addresses = T.events(spark, sf).select("user_id").distinct().collect()
        .map(r => s"0xA${r.getLong(0)}").sorted.toSeq
      assert(addresses.length === 15)
      Reference.assertServes(srv, sf, addresses ++ Seq("0xA", "0Xa1", "xa7", "0xFFFF"),
        limits = Seq(20, 40), skips = Seq(0, 20, 100000))
    } finally srv.stop()
  }

  test("null cells: a null address never matches, null fields are left out, " +
    "a null ts sorts last") {
    val dir = Files.createTempDirectory("graft-serve-nulls")
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s.replace(' ', 'T') + "Z"))
    val rows = Seq(
      Row(1L, ts("2024-01-01 10:00:00"), 7L, "purchase", 1.5),
      Row(2L, null, 7L, "purchase", 2.5),
      Row(3L, ts("2024-01-02 10:00:00"), 7L, "signup", null),
      Row(4L, ts("2024-01-03 10:00:00"), null, "purchase", 3.0),
      Row(5L, ts("2024-01-04 10:00:00"), 7L, null, 4.0),
      Row(6L, ts("2024-01-05 10:00:00"), 71L, "error", null),
      Row(7L, null, 71L, "error", 1.0),
      Row(8L, ts("2024-01-06 10:00:00"), null, "error", 2.0),
      Row(9L, ts("2024-01-07 10:00:00"), 12L, "click", 1.0),
      Row(10L, ts("2024-01-01 10:00:00"), 71L, "signup", 0.25))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .coalesce(1).write.parquet(dir.resolve("events.parquet").toString)
    val srv = new ApiServer(spark, dir.toString, minAddressLen = 3)
    try {
      Reference.assertServes(srv, dir.toString, Seq("0xA", "0xA7", "0XA71", "a1", "0x", "zz"),
        limits = Seq(20), skips = Seq(0, 1))
      val all = srv.transactionsList("0x", None, 20, 0)
      assert(!all.contains(""""event_id":4,""") && !all.contains(""""event_id":8,"""),
        "a null address never matches")
      assert(all.contains("""{"event_id":2,"address":"0xA7","event":"RiskProMint",""" +
        """"token_involved":"RISKPRO","value":2.5}]"""), s"the null ts sorts last: $all")
      assert(all.contains("""{"event_id":3,"address":"0xA7","event":"Approval",""" +
        """"token_involved":"STABLE","created_at":"2024-01-02T10:00:00.000Z"}"""), all)
      val pegouts = srv.pegoutRequests("0x", 20, 0)
      assert(""""transfer_id"""".r.findAllMatchIn(pegouts).length === 2, pegouts)
      assert(pegouts.endsWith(""""type":"PEG_OUT","value":1.0}]}"""), pegouts)
    } finally srv.stop()
  }

  test("a negative skip is a 500, as Spark's offset analysis answered it") {
    withServer(minAddrLen = 3) { port =>
      for (route <- Seq("transactions/list", "fastbtc/pegout")) {
        val (status, body) = get(port, s"/api/v1/webapp/$route?address=0xA7&skip=-1")
        assert(status === 500 && body === "Server error", s"$route: $status $body")
        assert(get(port, s"/api/v1/webapp/$route?address=0xA7&skip=0")._1 === 200)
      }
    }
  }

  test("a rewritten events table is served at once: the event pages equal " +
    "a fresh server's") {
    val dir = Files.createTempDirectory("graft-serve-gen")
    val events = dir.resolve("events.parquet")
    Files.copy(Paths.get(sf, "events.parquet"), events)
    val paths = Seq("/api/v1/webapp/transactions/list?address=0xA&limit=20&skip=0",
      "/api/v1/webapp/prices/var", "/api/v1/webapp/prices/ohlc?days=90")
    def bodies(port: Int) = paths.map(p => get(port, p)).map { case (code, body) =>
      assert(code === 200, body); body }
    val srv = new ApiServer(spark, dir.toString, minAddressLen = 3)
    val port = srv.start()
    try {
      val before = bodies(port)
      val held = spark.sparkContext.getPersistentRDDs.size
      // rewrite events.parquet in place with a subset of its rows
      val stage = dir.resolve("stage").toString
      spark.read.parquet(s"$sf/events.parquet").filter(col("event_id") < 700)
        .coalesce(1).write.parquet(stage)
      val part = Files.list(Paths.get(stage)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, events, StandardCopyOption.REPLACE_EXISTING)
      val after = bodies(port)
      val fresh = new ApiServer(spark, dir.toString, minAddressLen = 3)
      val freshPort = fresh.start()
      try assert(after === bodies(freshPort)) finally fresh.stop()
      assert(after.zip(before).forall { case (a, b) => a != b },
        "every page must change with the subset")
      assert(spark.sparkContext.getPersistentRDDs.size === held,
        "the new snapshot replaces the old one")
    } finally srv.stop()
  }

  test("stop() releases everything the server pinned") {
    val held = spark.sparkContext.getPersistentRDDs.keySet
    withServer(minAddrLen = 3) { port =>
      Seq("/api/v1/webapp/transactions/list?address=0xA7",
        "/api/v1/webapp/transactions/last?address=0xA7",
        "/api/v1/webapp/fastbtc/pegout?address=0xA", "/api/v1/webapp/prices/var",
        "/api/v1/webapp/prices/ohlc?days=5").foreach(p => assert(get(port, p)._1 === 200))
      assert(spark.sparkContext.getPersistentRDDs.keySet === held,
        "the address routes pin no RDD while serving")
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet === held)
  }

  test("responses are not held back by Nagle's algorithm: /ping median under 20 ms") {
    withServer(minAddrLen = 3) { port =>
      // a webapp client reuses its keep-alive connection: read each body
      // to the end and close only the stream. A fresh connection would not
      // show the stall, since the client acknowledges at once while a new
      // connection is in quick-ACK mode.
      val ms = (1 to 21).map { _ =>
        val t = System.nanoTime()
        val conn = URI.create(s"http://127.0.0.1:$port/ping").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        assert(conn.getResponseCode === 200)
        val in = conn.getInputStream
        try in.readAllBytes() finally in.close()
        (System.nanoTime() - t) / 1e6
      }.sorted
      assert(ms(10) < 20.0, s"median ${ms(10)} ms over $ms")
    }
  }

  test("address match is case-insensitive substring (one P6 implementation)") {
    withServer(minAddrLen = 3) { port =>
      // mixed-case partial needle: the stored addresses are 0xA<digits>;
      // 'Xa7' matches them case-folded, and only as a substring
      val (status, body) = get(port,
        "/api/v1/webapp/transactions/list?address=0Xa7&limit=20&skip=0")
      assert(status === 200)
      val total = """"total":(\d+)""".r.findFirstMatchIn(body).get.group(1).toInt
      assert(total > 0, "case-folded partial address must match")
      val (_, exact) = get(port,
        "/api/v1/webapp/transactions/list?address=0xA7&limit=20&skip=0")
      val totalExact = """"total":(\d+)""".r.findFirstMatchIn(exact).get.group(1).toInt
      assert(total === totalExact, "case must not change the match set")
    }
  }

  test("pagination: out-of-whitelist limit resets to 20; skip shifts the page") {
    withServer(minAddrLen = 3) { port =>
      val (_, bad) = get(port,
        "/api/v1/webapp/transactions/list?address=0xA&limit=33")
      val badCount = """"count":(\d+)""".r.findFirstMatchIn(bad).get.group(1).toInt
      assert(badCount === 20, "limit=33 must clamp to the default 20")

      val (_, p0) = get(port, "/api/v1/webapp/transactions/list?address=0xA&limit=20&skip=0")
      val (_, p1) = get(port, "/api/v1/webapp/transactions/list?address=0xA&limit=20&skip=20")
      def ids(s: String) = """"event_id":(\d+)""".r.findAllMatchIn(s).map(_.group(1)).toSet
      assert(ids(p0).nonEmpty && ids(p1).nonEmpty)
      assert(ids(p0).intersect(ids(p1)).isEmpty, "pages must not overlap")
    }
  }

  test("transactions/last honors the token filter and newest-first order") {
    withServer(minAddrLen = 3) { port =>
      val (status, body) = get(port,
        "/api/v1/webapp/transactions/last?address=0xA&token=RISKPRO")
      assert(status === 200)
      assert(body.contains(""""token_involved":"RISKPRO""""))
      assert(body.contains(""""created_at":"""))
    }
  }

  test("fastbtc/pegout returns pegout_requests for the address") {
    withServer(minAddrLen = 3) { port =>
      val (status, body) = get(port, "/api/v1/webapp/fastbtc/pegout?address=0xA")
      assert(status === 200)
      assert(body.startsWith("""{"pegout_requests":["""))
      assert(body.contains(""""type":"PEG_OUT""""))
    }
  }

  test("prices/var returns current and 24h-delta records") {
    withServer(minAddrLen = 3) { port =>
      val (status, body) = get(port, "/api/v1/webapp/prices/var")
      assert(status === 200)
      assert(body.startsWith("""{"current":{"""))
      assert(body.contains(""""delta":{"""))
    }
  }

  test("prices/ohlc serves the newest N daily candles, clamped") {
    withServer(minAddrLen = 3) { port =>
      val (status, body) = get(port, "/api/v1/webapp/prices/ohlc?days=5")
      assert(status === 200)
      assert(body.startsWith("""{"candles":["""))
      def nCandles(b: String) = b.sliding(7).count(_ == """"day":"""")
      assert(nCandles(body) === 5, s"expected 5 candles in $body")
      assert(body.contains(""""open":""") && body.contains(""""vwap":"""))
      // absent/garbage days falls back to the 30-day default
      val (s2, b2) = get(port, "/api/v1/webapp/prices/ohlc?days=oops")
      assert(s2 === 200 && nCandles(b2) <= 30)
    }
  }

  test("invalid addresses are rejected with 400 (lib_tools checkAddress)") {
    // faithful reference validation: min length 25, 0x prefix, hex body
    withServer(minAddrLen = 25) { port =>
      for (bad <- Seq("0xA7", "deadbeefdeadbeefdeadbeefdeadbeef",
          "0xZZZZZZZZZZZZZZZZZZZZZZZZZZZZ")) {
        val (status, _) = get(port,
          s"/api/v1/webapp/transactions/list?address=$bad")
        assert(status === 400, s"address $bad must be rejected")
      }
      val ok = "0x" + "a" * 40
      val (status, body) = get(port,
        s"/api/v1/webapp/transactions/list?address=$ok")
      assert(status === 200)
      assert(body.contains(""""total":0"""), "no synthetic address is 42 chars")
    }
  }

  test("health routes: / empty-200, /ping OK, unmapped paths 404 (bp_main)") {
    withServer(minAddrLen = 3) { port =>
      val (rootStatus, rootBody) = get(port, "/")
      assert(rootStatus === 200 && rootBody === "")
      val (pingStatus, pingBody) = get(port, "/ping")
      assert(pingStatus === 200 && pingBody === "webAppAPI OK")
      // trailing-slash variant, like the reference's dual @route
      assert(get(port, "/ping/")._1 === 200)
      assert(get(port, "/no/such/route")._1 === 404)
    }
  }

  test("infoapi serves the version/store-health doc (bp_main.infoabi)") {
    withServer(minAddrLen = 3) { port =>
      val (status, body) = get(port, "/infoapi")
      assert(status === 200)
      assert(body.contains(s""""webAppAPI":"${ApiServer.ApiVersion}""""))
      assert(body.contains(""""Spark":""") && body.contains(spark.version))
      assert(body.contains(""""DB_Collections_Ok":true"""),
        "all required tables exist under the sf0.001 dataset")
      assert(get(port, "/infoapi/")._1 === 200)
    }
  }

  test("search JSON-escapes echoed terms so every term round-trips exactly") {
    withServer(minAddrLen = 3) { port =>
      // two terms a strip-based sanitizer would COLLIDE: a"b → ab
      val q = java.net.URLEncoder.encode("a\"b ab back\\slash", "UTF-8")
      val (status, body) = get(port, s"/api/v1/webapp/search?q=$q")
      assert(status === 200)
      assert(body.startsWith("""{"query":["a\"b","ab","back\\slash"],"""),
        s"escaped quote and backslash terms in $body")
    }
  }

  private def neighbors(body: String): Seq[(Long, Double, Long)] =
    """"vec_id":(\d+),"cos":(-?[0-9.E-]+),"rnk":(\d+)""".r.findAllMatchIn(body)
      .map(m => (m.group(1).toLong, m.group(2).toDouble, m.group(3).toLong)).toSeq

  test("vectors/topk serves exact cosine neighbors from the quantized index") {
    withServer(minAddrLen = 3) { port =>
      def served(q: Long, k: Int): Seq[(Long, Double, Long)] = {
        val (status, body) = get(port, s"/api/v1/webapp/vectors/topk?vec_id=$q&k=$k")
        assert(status === 200, body)
        assert(body.startsWith(s"""{"query":$q,"mode":"exact","neighbors":["""), body.take(60))
        neighbors(body)
      }
      // the registered slice: q_id 0-15, top 5 (shared index, shared scorer)
      val expected = graft.core.QueryRegistry.byName("ss_topk_brute").fn(spark, sf)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getLong(3))))
        .groupMap(_._1)(_._2).view.mapValues(_.sortBy(_._3).toSeq).toMap
      assert(expected.keySet === (0L until 16L).toSet)
      for (q <- 0L until 16L) {
        assert(served(q, 5) === expected(q), s"vec_id=$q")
        assert(served(q, 1) === expected(q).take(1), s"vec_id=$q k=1")
      }
      val wide = served(3, 20)
      assert(wide.length === 20 && wide.map(_._3) === (1L to 20L))
      assert(wide.take(5) === expected(3L), "a wider k extends the same ranking")
      assert(wide.map(_._2).sliding(2).forall(p => p(0) >= p(1)),
        s"neighbors not cosine-descending: $wide")
      assert(!wide.exists(_._1 == 3L), "the query vector is not its own neighbor")
      assert(served(3, 50) === wide, "k is clamped to 20")
      // unknown vector: total, empty neighbor list
      val (s2, b2) = get(port, "/api/v1/webapp/vectors/topk?vec_id=99999999&k=3")
      assert(s2 === 200 && b2.endsWith(""""neighbors":[]}"""), b2)
      // malformed id: 400, like the address routes
      assert(get(port, "/api/v1/webapp/vectors/topk?vec_id=abc")._1 === 400)
    }
  }

  test("vectors/topk?mode=graph serves the beam walk over the persisted " +
    "k-NN graph and agrees with the oracle-pinned ss_graph_search program") {
    withServer(minAddrLen = 3) { port =>
      val (status, body) =
        get(port, "/api/v1/webapp/vectors/topk?vec_id=3&k=5&mode=graph")
      assert(status === 200)
      assert(body.startsWith("""{"query":3,"mode":"graph","neighbors":["""),
        body.take(60))
      // query 3 sits in the registered fixed slice (vec_id < 16), so the
      // route must reproduce ss_graph_search's rows for q_id = 3 exactly
      // (same graph artifact, same GLOBAL seed rule, same beam program)
      val expected = graft.core.QueryRegistry.byName("ss_graph_search").fn(spark, sf)
        .filter(org.apache.spark.sql.functions.col("q_id") === 3)
        .orderBy(org.apache.spark.sql.functions.col("rnk"))
        .collect().map(r => r.getLong(1))
      val served = """"vec_id":(\d+)""".r.findAllMatchIn(body)
        .map(_.group(1).toLong).toSeq
      assert(served === expected.toSeq,
        s"graph route diverges from ss_graph_search: $served vs ${expected.toSeq}")
      // unknown vector: total program, empty neighbor list
      val (s2, b2) =
        get(port, "/api/v1/webapp/vectors/topk?vec_id=99999999&k=3&mode=graph")
      assert(s2 === 200 && b2.endsWith(""""neighbors":[]}"""), b2)
    }
  }

  private def results(body: String): Seq[(Long, Long, Long)] =
    """"(?:doc_id|img_id)":(\d+),"(?:score|hamming)":(\d+),"rnk":(\d+)""".r
      .findAllMatchIn(body).map(m =>
        (m.group(1).toLong, m.group(2).toLong, m.group(3).toLong)).toSeq

  test("search serves BM25 top-k from the postings index and agrees with " +
    "the oracle-pinned tx_bm25 program") {
    withServer(minAddrLen = 3) { port =>
      def served(q: String, k: Int = 5): Seq[(Long, Long, Long)] = {
        val (status, body) = get(port, s"/api/v1/webapp/search?q=$q&k=$k")
        assert(status === 200, body)
        results(body)
      }
      val expected = graft.core.QueryRegistry.byName("tx_bm25").fn(spark, sf)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .groupMap(_._1)(_._2).view.mapValues(_.sortBy(_._3).toSeq).toMap
      val workload = graft.operators.Bm25Workload.Queries.groupMap(_._1)(_._2)
      assert(workload.keySet === Set(1L, 2L, 3L, 4L))
      for ((q, terms) <- workload) {
        assert(expected.get(q).exists(_.nonEmpty), s"tx_bm25 q$q has rows")
        assert(served(terms.mkString("+")) === expected(q), s"q$q ${terms.mkString(" ")}")
        assert(served(terms.reverse.mkString("+")) === expected(q), "term order is irrelevant")
        assert(served(terms.mkString("+"), k = 1) === expected(q).take(1), s"q$q k=1")
      }
      val (status, body) = get(port, "/api/v1/webapp/search?q=hash+join&k=5")
      assert(status === 200)
      assert(body.startsWith("""{"query":["hash","join"],"results":["""), body.take(60))
      val wide = served("hash+join", k = 20)
      assert(wide.take(5) === expected(1L) && wide.map(_._3) === (1L to wide.length.toLong))
      assert(wide.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)), s"$wide")
      assert(served("hash+join", k = 50) === wide, "k is clamped to 20")
      // a repeated term counts once; unknown terms contribute nothing
      assert(served("hash+hash+join") === expected(1L))
      assert(served("zzzznotaword+hash+join+qqqnotaword") === expected(1L))
      // all-unknown terms: total, empty result list
      val (s2, b2) = get(port, "/api/v1/webapp/search?q=zzzznotaword")
      assert(s2 === 200 && b2.endsWith(""""results":[]}"""), b2)
      // empty q: 400
      assert(get(port, "/api/v1/webapp/search?q=")._1 === 400)
      assert(get(port, "/api/v1/webapp/search")._1 === 400)
    }
  }

  test("images/similar serves perceptual neighbors and agrees with the " +
    "oracle-pinned mm_phash_rank program") {
    withServer(minAddrLen = 3) { port =>
      def served(id: Long, k: Int): Seq[(Long, Long, Long)] = {
        val (status, body) = get(port, s"/api/v1/webapp/images/similar?img_id=$id&k=$k")
        assert(status === 200, body)
        assert(body.startsWith(s"""{"query":$id,"similar":["""), body.take(60))
        results(body)
      }
      val expected = graft.core.QueryRegistry.byName("mm_phash_rank").fn(spark, sf)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .groupMap(_._1)(_._2).view.mapValues(_.sortBy(_._3).toSeq).toMap
      val ids = T.documents(spark, sf).select("doc_id").collect().map(_.getLong(0)).sorted
      assert(expected.nonEmpty, "mm_phash_rank ranks some image")
      for (id <- ids)
        assert(served(id, 3) === expected.getOrElse(id, Nil), s"img_id=$id")
      val busiest = expected.maxBy { case (id, rows) => (rows.length, -id) }._1
      assert(served(busiest, 1) === expected(busiest).take(1))
      val wide = served(busiest, 20)
      assert(wide.take(3) === expected(busiest) && wide.map(_._3) === (1L to wide.length.toLong))
      assert(served(busiest, 50) === wide, "k is clamped to 20")
      // unknown image: total, empty list; malformed id: 400
      val (s2, b2) = get(port, "/api/v1/webapp/images/similar?img_id=99999999")
      assert(s2 === 200 && b2.endsWith(""""similar":[]}"""), b2)
      assert(get(port, "/api/v1/webapp/images/similar?img_id=abc")._1 === 400)
    }
  }

  test("warm retrieval requests run no Spark job") {
    withServer(minAddrLen = 3) { port =>
      val paths = Seq("/api/v1/webapp/search?q=hash+join&k=5",
        "/api/v1/webapp/vectors/topk?vec_id=7&k=5",
        "/api/v1/webapp/images/similar?img_id=7&k=5",
        "/api/v1/webapp/transactions/list?address=0xA7&token=RISKPRO&limit=40&skip=20",
        "/api/v1/webapp/transactions/last?address=0Xa1",
        "/api/v1/webapp/fastbtc/pegout?address=0xA&limit=20&skip=0")
      paths.foreach(p => assert(get(port, p)._1 === 200)) // the one collect each
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val counter = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.add(e.stageInfos.headOption.fold(s"job ${e.jobId}")(_.name))
      }
      val sc = spark.sparkContext
      org.apache.spark.sql.graftbridge.ColumnBridge.waitListenerBus(sc)
      sc.addSparkListener(counter)
      try {
        for (_ <- 1 to 5; p <- paths) assert(get(port, p)._1 === 200, p)
        org.apache.spark.sql.graftbridge.ColumnBridge.waitListenerBus(sc)
      } finally sc.removeSparkListener(counter)
      assert(jobs.size === 0, s"jobs over 30 warm requests: ${jobs.asScala.toSeq.distinct}")
    }
  }

  test("a server that answered only /prices/var pins nothing") {
    val held = spark.sparkContext.getPersistentRDDs.keySet
    val srv = new ApiServer(spark, sf, minAddressLen = 3)
    val port = srv.start()
    try {
      val (status, body) = get(port, "/api/v1/webapp/prices/var")
      assert(status === 200 && body.startsWith("""{"current":{"""), body)
      assert(spark.sparkContext.getPersistentRDDs.keySet === held,
        "the price page is computed without building the events snapshot")
    } finally srv.stop()
  }
}
