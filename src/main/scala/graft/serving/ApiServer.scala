package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Tables => T}
import graft.operators.{Api, Reports}
import graft.streaming.{CandleStream, Generations}

/** The webservice process — SURVEY.md §3.3 / webservice/app.py:30-51 — as
  * an HTTP shell over the oracle-checked programs: the price routes run
  * the `api_prices`/`a8_ohlc` DataFrame programs once per input
  * generation, and the address and retrieval routes answer from
  * driver-side indexes built by Spark from `Api.txView` and from the
  * registry's memoized artifacts, whose answers equal the DataFrame
  * programs they replace. Eight data routes (bp_user_operations.py:9-140,
  * bp_fastbtc_bridge.py:9-53, bp_prices.py:9-77, and four extensions):
  *
  *   GET /api/v1/webapp/transactions/list?address=&token=&limit=&skip=
  *     → `{"transactions": [...], "count": N, "total": M}`
  *   GET /api/v1/webapp/transactions/last?address=&token=
  *     → the newest matching record
  *   GET /api/v1/webapp/fastbtc/pegout?address=&limit=&skip=
  *     → `{"pegout_requests": [...]}`
  *   GET /api/v1/webapp/prices/var
  *     → `{"current": {...}, "delta": {...}}` (24h back, floored to
  *       midnight keeping seconds — the bp_prices.py:44-47 quirk)
  *   GET /api/v1/webapp/prices/ohlc?days=N
  *     → `{"candles": [...]}` — the a8_ohlc daily candle program, newest
  *       N days (extension beyond the reference's price routes)
  *   GET /api/v1/webapp/vectors/topk?vec_id=&k=
  *     → `{"query": id, "neighbors": [...]}` — exact integer-cosine
  *       nearest neighbors from the driver-side quantized vector index
  *       (VectorOps.nearestTopK; k clamped to [1,20], 404 without an
  *       embeddings table, 400 on a non-integer vec_id)
  *   GET /api/v1/webapp/search?q=&k=
  *     → `{"query": [terms], "results": [...]}` — BM25 top-k documents
  *       from the driver-side postings index (TextOps.bm25TopK; terms
  *       split on whitespace/+, k clamped to [1,20], 400 on empty q, 404
  *       without a documents table, unknown terms contribute nothing)
  *   GET /api/v1/webapp/images/similar?img_id=&k=
  *     → `{"query": id, "similar": [...]}` — perceptual-hash neighbors
  *       from the driver-side image hash index (ImageDup.similarTopK; k
  *       clamped to [1,20], 400 on a non-integer img_id, 404 without a
  *       documents table, unknown img_id serves an empty list)
  *
  * Faithful endpoint semantics: case-insensitive SUBSTRING address match
  * (the reference filters with `$regex ... $options: i`), the excluded-
  * event anti-filter, page-size whitelist (limit ∉ {20,40} resets to 20,
  * lib_tools.py:55-61), address validation = 0x + hex + minimum length
  * (lib_tools.py:28-31), 400 on invalid address. The JDK's built-in
  * HttpServer keeps the shell dependency-free.
  *
  * Per-generation state. The three address routes read one driver-side
  * AddressIndex: every txView row, newest first, with the records Spark
  * rendered for the two route families, and the row positions of each
  * distinct lower-cased address. One Spark collect builds it, on the
  * first address request of a generation; a request then matches the
  * needle against the distinct addresses, merges their positions,
  * filters and slices them, and runs no Spark job. `total` is the exact
  * length of the filtered list. The generation key is the events
  * fingerprint: path, length and modification time of every entry of
  * `events.parquet`, from one FileSystem listing per request, so a
  * changed table is served at once. The parameterless pages
  * (`/prices/var`, the batch `/prices/ohlc`) are cached on the same key
  * and the live candle page on its Generations marker, so no page
  * outlives its input and none is recomputed without a change. They are
  * computed from the events table, so a server that answers only price
  * routes never builds the index. Nothing is pinned in Spark: [[stop]]
  * drops the index and the pages.
  *
  * Per-session indexes. The retrieval routes answer on the driver: the
  * BM25 postings, the quantized vectors and the image hashes are each
  * collected once per (session, dataset) from their memoized artifact and
  * held in a graft.core.SessionCache (dropped by `SessionCache.invalidate`
  * and at application end). A request scores the index in a loop and
  * runs no Spark job; the first request for a dataset pays the collect.
  * Only `/vectors/topk?mode=graph` still runs a DataFrame program.
  *
  * Accepted sockets run with TCP_NODELAY (`sun.net.httpserver.nodelay`,
  * set before the first server is created unless given with `-D`): the
  * JDK server writes headers and body as two segments, and Nagle's
  * algorithm would hold the body until the client's delayed ACK, about
  * 40 ms on every response.
  */
final class ApiServer(
    spark: SparkSession, dataDir: String,
    minAddressLen: Int = 25,
    /** optional live candle state dir (graft.streaming.CandleStream):
      * when wired, /prices/ohlc serves the STREAMING candles (cached per
      * generation) instead of aggregating the batch table. */
    candleDir: Option[String] = None) {

  private var server: HttpServer = _

  // ── per-generation state ──────────────────────────────────────────────

  /** one value per generation key: `build` runs when the key moves and
    * replaces the old value. */
  private final class ByGeneration[V] {
    private var cur: Option[(String, V)] = None
    def apply(key: String)(build: => V): V = synchronized {
      cur match {
        case Some((k, v)) if k == key => v
        case _ =>
          val v = build
          cur = Some(key -> v)
          v
      }
    }
    def clear(): Unit = synchronized { cur = None }
  }

  /** the events fingerprint: path, length and modification time of every
    * entry of `events.parquet` (the file itself, or a directory's files) */
  private def eventsGeneration(): String = {
    val p = new Path(s"$dataDir/events.parquet")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
      .sorted.mkString("|")
  }

  private val addressIndex = new ByGeneration[AddressIndex]()
  private val varPage = new ByGeneration[String]()
  private val ohlcPage = new ByGeneration[IndexedSeq[String]]()

  /** the address routes' index at the current events generation */
  private def index(): AddressIndex =
    addressIndex(eventsGeneration())(AddressIndex.build(Api.txView(T.events(spark, dataDir))))

  // ── endpoint programs (parameterized versions of the api_* queries) ──

  /** bp_user_operations.py:9-93 — page + count + total envelope. */
  def transactionsList(address: String, token: Option[String],
      limit: Int, skip: Int): String = {
    val idx = index()
    val rows = idx.transactions(address, token)
    val page = ApiServer.page(rows, limit, skip).map(idx.records)
    s"""{"transactions":[${page.mkString(",")}],"count":${page.length},"total":${rows.length}}"""
  }

  /** bp_user_operations.py:96-140 — newest matching record (or `{}`). */
  def transactionsLast(address: String, token: Option[String]): String = {
    val idx = index()
    idx.transactions(address, token).headOption.fold("{}")(idx.records)
  }

  /** bp_fastbtc_bridge.py:9-53 — PEG_OUT transfers for the address. */
  def pegoutRequests(address: String, limit: Int, skip: Int): String = {
    val idx = index()
    val page = ApiServer.page(idx.pegoutRows(address), limit, skip).map(idx.pegouts)
    s"""{"pegout_requests":[${page.mkString(",")}]}"""
  }

  /** bp_prices.py:9-77 — current snapshot + the newest row in
    * [midnight-floored 24h-back cut, 24h-back cut); one page per events
    * generation, computed from the table. */
  def priceVariation(): String =
    varPage(eventsGeneration())(priceVariationOf(T.events(spark, dataDir)))

  private def priceVariationOf(ev: DataFrame): String = {
    val cur = ev.orderBy(col("event_id").desc).limit(1)
      .select(col("event_id").as("cur_id"), col("value").as("cur_price"),
        col("ts").as("cur_ts"))
      .withColumn("delta_ts", col("cur_ts") - expr("INTERVAL 24 HOURS"))
      .withColumn("floor_ts", timestamp_micros(
        unix_micros(date_trunc("DAY", col("delta_ts")))
          + (unix_micros(col("delta_ts"))
            - unix_micros(date_trunc("MINUTE", col("delta_ts"))))))
    val current = cur.select(col("cur_id").as("event_id"),
      col("cur_price").as("price"),
      date_format(col("cur_ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").as("created_at"))
      .toJSON.collect().headOption.getOrElse("{}")
    val delta = ev.crossJoin(broadcast(cur))
      .filter(col("ts") >= col("floor_ts") && col("ts") < col("delta_ts"))
      .orderBy(col("event_id").desc).limit(1)
      .select(col("event_id"), col("value").as("price"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").as("created_at"))
      .toJSON.collect().headOption.getOrElse("{}")
    s"""{"current":$current,"delta":$delta}"""
  }

  /** /prices/ohlc?days=N — daily candles as JSON: newest N (clamped to
    * [1, 90], default 30). Two sources, same shape: the LIVE streaming
    * candle state (CandleStream, when `candleDir` is wired and committed;
    * the page is keyed on its generation marker) or the batch a8_ohlc
    * aggregation (keyed on the events fingerprint). Either way the collect
    * is bounded at 90 rows of 7 scalars — the state / aggregation has
    * already reduced the stream to one row per day. */
  private def candlePage(df: DataFrame): IndexedSeq[String] =
    df.orderBy(col("day").desc).limit(90)
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      .toJSON.collect().toIndexedSeq
  def pricesOhlc(days: Int): String = {
    val n = math.min(math.max(days, 1), 90)
    val live = for (cd <- candleDir; gen <- Generations.latestDir(cd))
      yield ohlcPage(s"live:$gen")(candlePage(CandleStream.currentCandles(spark, cd)))
    val rows = live.getOrElse(ohlcPage(s"batch:${eventsGeneration()}")(
      candlePage(Reports.ohlcBars(spark, dataDir))))
    s"""{"candles":[${rows.take(n).mkString(",")}]}"""
  }

  /** /vectors/topk — the ANN family behind the serving tier: exact
    * integer-cosine nearest neighbors of a corpus vector, scored on the
    * driver over the per-session vector index (VectorOps.nearestTopK: the
    * ss_topk_* scorer and order, no Spark job). `mode=graph` (round 14)
    * serves the HNSW-style beam walk over the persisted k-NN graph
    * instead (VectorOps.topkGraphFor — per-hop work is beam·degree corpus
    * lookups, the structure a 100 TB ANN deployment actually serves
    * from); any other mode value scans exact. Unknown vec_id serves an
    * empty list, not an error: both answers are total. */
  def vectorsTopk(vecId: Long, k: Int, mode: String = "exact"): String = {
    val rows =
      if (mode == "graph")
        graft.operators.VectorOps.topkGraphFor(spark, dataDir, vecId, k).collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      else graft.operators.VectorOps.nearestTopK(spark, dataDir, vecId, k)
    rows.map { case (id, cos, rnk) =>
      s"""{"vec_id":$id,"cos":${jsonNum(cos)},"rnk":$rnk}""" }
      .mkString(s"""{"query":$vecId,"mode":"${jsonEscape(mode)}","neighbors":[""", ",", "]}")
  }

  /** /search — the BM25 retrieval tier over the per-session postings
    * index (TextOps.bm25TopK: tx_bm25's scoring and order, no Spark job).
    * Terms the corpus has never seen contribute nothing; an all-unknown
    * query serves an empty result list, not an error. */
  def searchBm25(terms: Seq[String], k: Int): String = {
    val results = graft.operators.TextOps.bm25TopK(spark, dataDir, terms, k)
      .map { case (doc, score, rnk) => s"""{"doc_id":$doc,"score":$score,"rnk":$rnk}""" }
      .mkString("[", ",", "]")
    val q = terms.map(t => "\"" + jsonEscape(t) + "\"").mkString("[", ",", "]")
    s"""{"query":$q,"results":$results}"""
  }

  /** /images/similar — perceptual-hash image retrieval over the
    * per-session image hash index (ImageDup.similarTopK: mm_phash_rank's
    * band probe and order, no Spark job). Unknown img_id serves an empty
    * list: total, like the vector route. */
  def imagesSimilar(imgId: Long, k: Int): String =
    graft.operators.ImageDup.similarTopK(spark, dataDir, imgId, k)
      .map { case (id, hamming, rnk) => s"""{"img_id":$id,"hamming":$hamming,"rnk":$rnk}""" }
      .mkString(s"""{"query":$imgId,"similar":[""", ",", "]}")

  /** doubles → JSON: NaN/Infinity are not valid JSON literals, so map any
    * non-finite value to null. nearestTopK scores only through the total
    * cosOf today and never produces one — this guard makes the route's
    * output parseable under ANY future scorer change rather than relying
    * on that non-local invariant. */
  private def jsonNum(v: Double): String =
    if (java.lang.Double.isFinite(v)) v.toString else "null"

  /** proper JSON string escaping (backslash, quote, control chars) — an
    * echoed term must round-trip exactly; stripping characters instead
    * would let distinct terms collide on one value. */
  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"'  => sb.append("\\\"")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  // ── HTTP shell ────────────────────────────────────────────────────────

  /** lib_tools.py:28-31 */
  private def checkAddress(a: String): Boolean =
    a != null && a.length >= minAddressLen &&
      a.take(2).equalsIgnoreCase("0x") &&
      a.drop(2).forall(c => Character.digit(c, 16) >= 0)

  /** lib_tools.py:55-61: limit outside the whitelist resets to default. */
  private def pageLimit(params: Map[String, String]): Int = {
    val l = params.get("limit").flatMap(_.toIntOption)
      .getOrElse(Api.AllowedPageSizes.head)
    if (Api.AllowedPageSizes.contains(l)) l else Api.AllowedPageSizes.head
  }

  private def parseQuery(raw: String): Map[String, String] =
    Option(raw).toSeq.flatMap(_.split('&')).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k ->
          java.net.URLDecoder.decode(v, StandardCharsets.UTF_8))
        case _ => None
      }
    }.toMap

  private def respond(ex: HttpExchange, status: Int, body: String,
      mime: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", mime)
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** route requiring a valid `address` param (400 otherwise, like every
    * address endpoint in the reference). */
  private def addressRoute(path: String)(
      handler: (Map[String, String], String) => String): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      val params = parseQuery(ex.getRequestURI.getRawQuery)
      params.get("address").filter(checkAddress) match {
        case None => respond(ex, 400, "Invalid Address", "text/plain")
        case Some(addr) =>
          try respond(ex, 200, handler(params, addr))
          catch { case e: Exception =>
            respond(ex, 500, "Server error", "text/plain") }
      }
    })

  /** bind (port 0 = ephemeral) and serve; returns the bound port. */
  def start(port: Int = 0): Int = {
    require(server == null, "already started")
    // the JDK server reads this once per JVM, when it creates its first
    // server; an operator's explicit -D value stands
    if (System.getProperty(ApiServer.NoDelay) == null)
      System.setProperty(ApiServer.NoDelay, "true")
    server = HttpServer.create(new InetSocketAddress(port), 0)
    addressRoute("/api/v1/webapp/transactions/list") { (p, addr) =>
      transactionsList(addr, p.get("token"), pageLimit(p),
        p.get("skip").flatMap(_.toIntOption).getOrElse(0))
    }
    addressRoute("/api/v1/webapp/transactions/last") { (p, addr) =>
      transactionsLast(addr, p.get("token"))
    }
    addressRoute("/api/v1/webapp/fastbtc/pegout") { (p, addr) =>
      pegoutRequests(addr, pageLimit(p),
        p.get("skip").flatMap(_.toIntOption).getOrElse(0))
    }
    server.createContext("/api/v1/webapp/prices/var", (ex: HttpExchange) => {
      try respond(ex, 200, priceVariation())
      catch { case e: Exception => respond(ex, 500, "Server error", "text/plain") }
    })
    server.createContext("/api/v1/webapp/prices/ohlc", (ex: HttpExchange) => {
      val p = parseQuery(ex.getRequestURI.getRawQuery)
      try respond(ex, 200,
        pricesOhlc(p.get("days").flatMap(_.toIntOption).getOrElse(30)))
      catch { case e: Exception => respond(ex, 500, "Server error", "text/plain") }
    })
    server.createContext("/api/v1/webapp/vectors/topk", (ex: HttpExchange) => {
      val p = parseQuery(ex.getRequestURI.getRawQuery)
      p.get("vec_id").flatMap(_.toLongOption) match {
        case None => respond(ex, 400, "Invalid vec_id", "text/plain")
        case Some(id) =>
          if (!java.nio.file.Files.exists(
              java.nio.file.Paths.get(dataDir, "embeddings.parquet")))
            respond(ex, 404, "no embeddings", "text/plain")
          else try respond(ex, 200, vectorsTopk(id,
            p.get("k").flatMap(_.toIntOption).map(_.max(1).min(20)).getOrElse(5),
            p.getOrElse("mode", "exact")))
          catch { case e: Exception => respond(ex, 500, "Server error", "text/plain") }
      }
    })
    server.createContext("/api/v1/webapp/images/similar", (ex: HttpExchange) => {
      val p = parseQuery(ex.getRequestURI.getRawQuery)
      p.get("img_id").flatMap(_.toLongOption) match {
        case None => respond(ex, 400, "Invalid img_id", "text/plain")
        case Some(id) =>
          if (!java.nio.file.Files.exists(
              java.nio.file.Paths.get(dataDir, "documents.parquet")))
            respond(ex, 404, "no documents", "text/plain")
          else try respond(ex, 200, imagesSimilar(id,
            p.get("k").flatMap(_.toIntOption).map(_.max(1).min(20)).getOrElse(5)))
          catch { case e: Exception => respond(ex, 500, "Server error", "text/plain") }
      }
    })
    server.createContext("/api/v1/webapp/search", (ex: HttpExchange) => {
      val p = parseQuery(ex.getRequestURI.getRawQuery)
      val terms = p.get("q").map(_.split("[\\s+]+").toSeq.filter(_.nonEmpty))
        .getOrElse(Nil)
      if (terms.isEmpty) respond(ex, 400, "Missing q", "text/plain")
      else if (!java.nio.file.Files.exists(
          java.nio.file.Paths.get(dataDir, "documents.parquet")))
        respond(ex, 404, "no documents", "text/plain")
      else try respond(ex, 200, searchBm25(terms,
        p.get("k").flatMap(_.toIntOption).map(_.max(1).min(20)).getOrElse(5)))
      catch { case e: Exception => respond(ex, 500, "Server error", "text/plain") }
    })
    // health/info routes (webservice/bp_main.py:10-26): `/` empty-200,
    // `/ping` a fixed OK string, `/infoapi` the version/store-health doc
    // (Mongo server version → Spark version; collections-present check →
    // required parquet tables present under dataDir)
    server.createContext("/ping", (ex: HttpExchange) =>
      respond(ex, 200, "webAppAPI OK", "text/plain"))
    server.createContext("/infoapi", (ex: HttpExchange) =>
      respond(ex, 200, infoApi()))
    server.createContext("/", (ex: HttpExchange) => {
      // exact-path match only — HttpServer's "/" context is the fallback
      // for every unmapped path, which must stay 404
      if (ex.getRequestURI.getPath == "/") respond(ex, 200, "", "text/plain")
      else respond(ex, 404, "Not Found", "text/plain")
    })
    server.setExecutor(null) // serve on the dispatch thread; Spark does the work
    server.start()
    server.getAddress.getPort
  }

  /** /infoapi — the API-info doc (webservice/bp_main.py:12-16): version
    * stamp, engine version, and store health (all required tables
    * readable under dataDir — the analogue of REQ_COLLECTIONS). */
  def infoApi(): String = {
    val tablesOk = ApiServer.RequiredTables.forall(t =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(dataDir, s"$t.parquet")))
    s"""{"webAppAPI":"${ApiServer.ApiVersion}","Spark":"${spark.version}",""" +
      s""""DataBaseData":{"Store":"parquet:$dataDir","DB_Collections_Ok":$tablesOk}}"""
  }

  /** stop serving and drop the address index and the cached pages */
  def stop(): Unit = {
    if (server != null) { server.stop(0); server = null }
    addressIndex.clear(); varPage.clear(); ohlcPage.clear()
  }
}

/** config-driven construction — the app-shell wiring app.py:30-51 does
  * with its ConfigParser: the webservice reads its store coordinates from
  * the resolved settings doc. The parquet profile maps the store's db
  * name to the dataset root directory. */
object ApiServer {
  /** API version stamp served by /infoapi (lib_tools.py:40 shape). */
  val ApiVersion = "202608141200"
  /** the JDK HttpServer's switch for TCP_NODELAY on accepted sockets */
  private val NoDelay = "sun.net.httpserver.nodelay"
  /** tables the serving endpoints read — the REQ_COLLECTIONS analogue. */
  val RequiredTables: Seq[String] = Seq("events", "orders")

  def fromConfig(spark: SparkSession, cfg: graft.core.Config.Resolved): ApiServer =
    new ApiServer(spark, cfg.storeDb)

  /** `rows` after `skip`, at most `limit` of them. A negative bound fails,
    * as Spark's analyzer rejected it in `offset`/`limit`: a 500, never a
    * page. */
  private def page(rows: Array[Int], limit: Int, skip: Int): Array[Int] = {
    require(skip >= 0 && limit >= 0, s"negative page bound: limit=$limit skip=$skip")
    rows.drop(skip).take(limit)
  }
}

/** The address routes' driver-side index of one events generation: every
  * `Api.txView` row in the routes' order (`ts DESC NULLS LAST, event_id
  * DESC`, Spark's `desc`) with the JSON records Spark rendered for it, and
  * the row positions of each distinct lower-cased address. A request
  * merges the positions of the addresses its needle matches, filters and
  * slices them, and runs no Spark job. */
private final class AddressIndex(
    byAddress: Array[(UTF8String, Array[Int])],
    /** the row's event is not one of Api.Excluded */
    listed: Array[Boolean],
    tokens: Array[String],
    /** the /transactions record */
    val records: Array[String],
    /** the /fastbtc/pegout record of an `error` row; null on other rows */
    val pegouts: Array[String]) {

  /** positions, in order, of the rows whose address contains `needle`
    * case-insensitively: Api.ciMatch's `contains(lower(address),
    * lower(needle))`, the needle lowered by Spark's own Lower. A null
    * address never matches. */
  private def matching(needle: String): Array[Int] = {
    val n = Lower(Literal(needle)).eval().asInstanceOf[UTF8String]
    val hits = byAddress.collect { case (a, rows) if a.contains(n) => rows }
    if (hits.length == 1) hits(0) else hits.flatten.sorted
  }

  def transactions(needle: String, token: Option[String]): Array[Int] =
    matching(needle).filter(i => listed(i) && token.forall(_ == tokens(i)))

  def pegoutRows(needle: String): Array[Int] = matching(needle).filter(pegouts(_) != null)
}

private object AddressIndex {
  private def isoDate(ts: Column) = date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")

  /** one collect over `tx` (the `Api.txView` frame); Spark renders every
    * record, so dates, `md5`, null-field omission and doubles are
    * `toJSON`'s. `event = 'SettlementFailed'` is txView's image of
    * `event_type = 'error'`, the pegout rows. */
  def build(tx: DataFrame): AddressIndex = {
    val rows = tx.orderBy(col("ts").desc, col("event_id").desc).select(
      lower(col("address")), col("event"), col("token_involved"),
      to_json(struct(col("event_id"), col("address"), col("event"),
        col("token_involved"), col("value"), isoDate(col("ts")).as("created_at"))),
      when(col("event") === "SettlementFailed", to_json(struct(
        substring(md5(col("event_id").cast(StringType)), 1, 12).as("transfer_id"),
        col("address"), lit("PEG_OUT").as("type"), col("value"),
        isoDate(col("ts")).as("created_at")))))
      .collect()
    val byAddress = rows.indices.filterNot(rows(_).isNullAt(0)).groupBy(rows(_).getString(0))
      .map { case (a, ps) => UTF8String.fromString(a) -> ps.toArray }.toArray
    new AddressIndex(byAddress,
      rows.map(r => !r.isNullAt(1) && !Api.Excluded.contains(r.getString(1))),
      rows.map(_.getString(2)), rows.map(_.getString(3)), rows.map(_.getString(4)))
  }
}
