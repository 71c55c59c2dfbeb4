package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Q, Tables => T}

/** REST endpoint compositions — SURVEY.md §3.3: each webservice query is
  * one declarative DataFrame program composing the already-tested operator
  * rows (P6 case-insensitive address equality, P7 excluded events, P8
  * optional token filter, P10 wide projection, O1-O3 sort/skip/limit, F17
  * ISO dates). Catalyst pushes the filters to the scan and runs the
  * top-k/pagination as TakeOrderedAndProject — the engine-side equivalent
  * of Mongo's compound-index path (mongo_manager.py:158-160).
  */
object Api {

  /** the synthesized Transaction-collection view the endpoints query:
    * mixed-case address, display event name, token, ISO date — over any
    * frame with the events columns it reads (`event_id, user_id,
    * event_type, value, ts`): the registry queries and the server's
    * address index all pass the events table. */
  private[graft] def txView(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      concat(lit("0xA"), col("user_id").cast(StringType)).as("address"),
      when(col("event_type") === "purchase", "RiskProMint")
        .when(col("event_type") === "click", "TransferFromMoC")
        .when(col("event_type") === "signup", "Approval")
        .when(col("event_type") === "error", "SettlementFailed")
        .otherwise("QueueDOC").as("event"),
      when(col("event_type") === "purchase", "RISKPRO").otherwise("STABLE")
        .as("token_involved"),
      col("value"), col("ts"))

  private val TxViewCte =
    """tx AS (
      |  SELECT event_id,
      |    '0xA' || CAST(user_id AS VARCHAR) AS address,
      |    CASE event_type WHEN 'purchase' THEN 'RiskProMint'
      |      WHEN 'click' THEN 'TransferFromMoC' WHEN 'signup' THEN 'Approval'
      |      WHEN 'error' THEN 'SettlementFailed' ELSE 'QueueDOC' END AS event,
      |    CASE event_type WHEN 'purchase' THEN 'RISKPRO' ELSE 'STABLE' END AS token_involved,
      |    value, ts
      |  FROM events)""".stripMargin

  private[graft] val Excluded = Seq("TransferFromMoC", "QueueDOC")
  private val ExcludedSql = Excluded.map(e => s"'$e'").mkString(", ")

  /** P6 — THE address-match predicate, case-insensitive SUBSTRING (the
    * reference's unanchored Mongo `$regex`, bp_user_operations.py:34),
    * expressed without regex at all: `contains(lower(col), lower(needle))`
    * is injection-safe by construction and stays inside whole-stage
    * codegen. Single implementation — the `p6_ci_match` oracle row pins
    * the semantics (mixed case + partial needle) and ApiServer delegates
    * here. */
  def ciMatch(c: org.apache.spark.sql.Column, needle: String): org.apache.spark.sql.Column =
    contains(lower(c), lower(lit(needle)))

  /** O1 pagination clamp (lib_tools.py:55-61): requested page sizes snap
    * to the allowed set — default 20, max 40, anything else rounded down
    * to the nearest allowed value. */
  val AllowedPageSizes: Seq[Int] = Seq(20, 40)
  def clampPageSize(requested: Int): Int =
    AllowedPageSizes.filter(_ <= requested).lastOption.getOrElse(AllowedPageSizes.head)

  /** the console reports' running `Count` column as a GLOBAL rank over a
    * unique numeric order column — the A6 two-pass shape: a local
    * row_number per 256-wide `bkt` range bucket plus a broadcast
    * cumulative-offset table, so no window ever funnels the whole report
    * through one partition. */
  private def runningCount(df: DataFrame, orderCol: String): DataFrame = {
    val src = df.withColumn("bkt", (col(orderCol) / 256).cast(LongType))
    val totals = src.groupBy(col("bkt")).agg(count(lit(1)).as("tot"))
    val offsets = graft.core.Prefix.exclusiveCumsum(totals, Seq(), "bkt",
      expr("bkt div 256"), "tot")
    val wLocal = Window.partitionBy(col("bkt")).orderBy(col(orderCol))
    src.withColumn("rl", row_number().over(wLocal))
      .join(broadcast(offsets), Seq("bkt"))
      .withColumn("count", (col("offset") + col("rl")).cast(LongType))
      .drop("bkt", "rl", "offset")
  }

  val queries: Seq[Q] = Seq(

    // GET /transactions/list (bp_user_operations.py:9-93): address
    // case-insensitive equality + excluded-event anti-filter + createdAt
    // desc pagination + ISO-millis date rendering.
    Q(
      "api_tx_list",
      s"""WITH $TxViewCte
         |SELECT event_id, address, event, token_involved, value,
         |  strftime(ts, '%Y-%m-%dT%H:%M:%S.%gZ') AS created_at
         |FROM tx
         |WHERE lower(address) = '0xa7' AND event NOT IN ($ExcludedSql)
         |ORDER BY ts DESC, event_id DESC
         |LIMIT 20 OFFSET 2""".stripMargin) { (s, d) =>
      txView(T.events(s, d))
        .filter(lower(col("address")) === "0xa7" && !col("event").isin(Excluded: _*))
        .select(col("event_id"), col("address"), col("event"), col("token_involved"),
          col("value"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").as("created_at"))
        .orderBy(col("ts").desc, col("event_id").desc)
        .offset(2).limit(20)
    },

    // GET /transactions/last (bp_user_operations.py:124-133): the newest
    // operation for an address with the token filter applied (P8) — a
    // TakeOrderedAndProject top-1.
    Q(
      "api_tx_last",
      s"""WITH $TxViewCte
         |SELECT event_id, address, event, token_involved, value,
         |  strftime(ts, '%Y-%m-%dT%H:%M:%S.%gZ') AS created_at
         |FROM tx
         |WHERE lower(address) = '0xa7' AND event NOT IN ($ExcludedSql)
         |  AND token_involved = 'RISKPRO'
         |ORDER BY ts DESC, event_id DESC LIMIT 1""".stripMargin) { (s, d) =>
      txView(T.events(s, d))
        .filter(lower(col("address")) === "0xa7" && !col("event").isin(Excluded: _*)
          && col("token_involved") === "RISKPRO")
        .select(col("event_id"), col("address"), col("event"), col("token_involved"),
          col("value"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").as("created_at"))
        .orderBy(col("ts").desc, col("event_id").desc)
        .limit(1)
    },

    // The console report (report/historical.py:85-236, the reference's
    // third process): per-operation translated display names (F20) with
    // total and historical-cut counts plus distinct actives (A1/A2/P9) —
    // one grouped pass with conditional aggregates, no second scan for
    // the historical slice.
    Q(
      "api_report",
      """WITH cut AS (SELECT MAX(ts) - INTERVAL 3 DAY AS c FROM events)
        |SELECT
        |  CASE event_type WHEN 'purchase' THEN 'Mint' WHEN 'view' THEN 'Browse'
        |    WHEN 'click' THEN 'Transfer' WHEN 'signup' THEN 'Approve'
        |    ELSE 'Settle' END AS operation,
        |  COUNT(*) AS n_all,
        |  COUNT(*) FILTER (WHERE ts < cut.c) AS n_old,
        |  COUNT(DISTINCT user_id) AS users_all,
        |  COUNT(DISTINCT CASE WHEN ts < cut.c THEN user_id END) AS users_old
        |FROM events, cut
        |GROUP BY event_type, cut.c
        |ORDER BY operation""".stripMargin) { (s, d) =>
      val ev = T.events(s, d)
      val cut = ev.agg((max(col("ts")) - expr("INTERVAL 3 DAY")).as("c"))
      val opName = when(col("event_type") === "purchase", "Mint")
        .when(col("event_type") === "view", "Browse")
        .when(col("event_type") === "click", "Transfer")
        .when(col("event_type") === "signup", "Approve")
        .otherwise("Settle")
      ev.crossJoin(broadcast(cut))
        .groupBy(opName.as("operation"))
        .agg(
          count(lit(1)).as("n_all"),
          count(when(col("ts") < col("c"), 1)).as("n_old"),
          countDistinct(col("user_id")).as("users_all"),
          countDistinct(when(col("ts") < col("c"), col("user_id"))).as("users_old"))
        .orderBy(col("operation"))
    },

    // GET /fast-btc-bridge/pegout (bp_fastbtc_bridge.py:9-40): type filter
    // + timestamp-desc pagination over the transfer collection, with the
    // transferId key the bridge mutates in place (S9).
    Q(
      "api_pegouts",
      """SELECT substr(md5(CAST(event_id AS VARCHAR)), 1, 12) AS transfer_id,
        |  '0xA' || CAST(user_id AS VARCHAR) AS address,
        |  'PEG_OUT' AS type, value, ts
        |FROM events
        |WHERE event_type = 'error'
        |ORDER BY ts DESC, event_id DESC
        |LIMIT 20""".stripMargin) { (s, d) =>
      T.events(s, d)
        .filter(col("event_type") === "error")
        .orderBy(col("ts").desc, col("event_id").desc)
        .limit(20)
        .select(substring(md5(col("event_id").cast(StringType)), 1, 12).as("transfer_id"),
          concat(lit("0xA"), col("user_id").cast(StringType)).as("address"),
          lit("PEG_OUT").as("type"), col("value"), col("ts"))
    },

    // The /transactions/list RESPONSE ENVELOPE (bp_user_operations.py:88-92):
    // {transactions: <page>, count: len(page), total: count_documents(filter)}
    // as ONE row. The page is assembled orderless-safe: collect_list of
    // (desc-sort-key, record) structs → sort_array → slice(offset+1, limit)
    // — no unpartitioned window, one aggregation; `envelope_json` is the
    // F24 JSON rendering of the scalar envelope fields.
    Q(
      "api_envelope",
      s"""WITH $TxViewCte,
         |f AS (
         |  SELECT event_id, event, ts,
         |    CAST(event_id AS VARCHAR) || ':' || event || ':'
         |      || strftime(ts, '%Y-%m-%dT%H:%M:%S.%gZ') AS rec
         |  FROM tx
         |  WHERE lower(address) = '0xa7' AND event NOT IN ($ExcludedSql)),
         |page AS (
         |  SELECT rec, ts, event_id FROM f
         |  ORDER BY ts DESC, event_id DESC LIMIT 20 OFFSET 2)
         |SELECT
         |  (SELECT count(*) FROM page) AS count,
         |  (SELECT count(*) FROM f) AS total,
         |  (SELECT string_agg(rec, '|' ORDER BY ts DESC, event_id DESC) FROM page)
         |    AS transactions,
         |  '{"count":' || CAST((SELECT count(*) FROM page) AS VARCHAR) || ',"total":'
         |    || CAST((SELECT count(*) FROM f) AS VARCHAR) || '}' AS envelope_json""".stripMargin) { (s, d) =>
      val f = txView(T.events(s, d))
        .filter(lower(col("address")) === "0xa7" && !col("event").isin(Excluded: _*))
        .select(struct(
          (-col("event_id")).as("k2"), // tiebreak inside equal-µs timestamps
          col("event_id"), col("event"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").as("iso"),
          (-unix_micros(col("ts"))).as("k1")).as("r"))
      f.agg(count(lit(1)).as("total"), collect_list(col("r")).as("rs"))
        .select(col("total"),
          expr("""slice(array_sort(rs, (a, b) ->
                    CASE WHEN a.k1 < b.k1 THEN -1 WHEN a.k1 > b.k1 THEN 1
                         WHEN a.k2 < b.k2 THEN -1 WHEN a.k2 > b.k2 THEN 1
                         ELSE 0 END), 3, 20)""").as("page"))
        .select(
          size(col("page")).cast(LongType).as("count"),
          col("total"),
          expr("concat_ws('|', transform(page, p -> " +
            "concat(CAST(p.event_id AS STRING), ':', p.event, ':', p.iso)))")
            .as("transactions"),
          concat(lit("{\"count\":"), size(col("page")).cast(StringType),
            lit(",\"total\":"), col("total").cast(StringType), lit("}"))
            .as("envelope_json"))
    },

    // GET /prices/var (bp_prices.py:20-67): latest price row, the 24h-back
    // cut, and the reference's floor-to-midnight QUIRK — `replace(hour=0,
    // minute=0)` zeroes hour and minute but KEEPS seconds/microseconds —
    // then the newest row inside [floor, cut) and the variation.
    Q(
      "api_prices",
      """WITH cur AS (
        |  SELECT event_id AS cur_id, value AS cur_price, ts AS cur_ts
        |  FROM events ORDER BY event_id DESC LIMIT 1),
        |d1 AS (SELECT *, cur_ts - INTERVAL 24 HOUR AS delta_ts FROM cur),
        |d2 AS (SELECT *, make_timestamp(epoch_us(date_trunc('day', delta_ts))
        |  + epoch_us(delta_ts) - epoch_us(date_trunc('minute', delta_ts))) AS floor_ts
        |  FROM d1)
        |SELECT d2.cur_id, d2.cur_price, d2.floor_ts,
        |  e.event_id AS delta_id, e.value AS delta_price,
        |  (d2.cur_price - e.value) / e.value AS variation
        |FROM events e, d2
        |WHERE e.ts >= d2.floor_ts AND e.ts < d2.delta_ts
        |ORDER BY e.event_id DESC LIMIT 1""".stripMargin) { (s, d) =>
      val ev = T.events(s, d)
      val cur = ev.orderBy(col("event_id").desc).limit(1)
        .select(col("event_id").as("cur_id"), col("value").as("cur_price"),
          col("ts").as("cur_ts"))
        .withColumn("delta_ts", col("cur_ts") - expr("INTERVAL 24 HOURS"))
        .withColumn("floor_ts", timestamp_micros(
          unix_micros(date_trunc("DAY", col("delta_ts")))
            + (unix_micros(col("delta_ts"))
              - unix_micros(date_trunc("MINUTE", col("delta_ts"))))))
      ev.crossJoin(broadcast(cur))
        .filter(col("ts") >= col("floor_ts") && col("ts") < col("delta_ts"))
        .orderBy(col("event_id").desc).limit(1)
        .select(col("cur_id"), col("cur_price"), col("floor_ts"),
          col("event_id").as("delta_id"), col("value").as("delta_price"),
          ((col("cur_price") - col("value")) / col("value")).as("variation"))
    },

    // Console report: pay-TC-holders tabulation (report/historical.py:
    // 238-260 via app_run_moc_pay_tc_holders_report.py): the
    // BitProHoldersInterest stream (synthesized from signup events) sorted
    // by blockHeight asc, with the running `Count` column (A6 two-pass
    // rank, no single-partition window) and the wei amount scaled by
    // CONTRACT_PRECISION = 10^18 (F21).
    Q(
      "api_report_holders",
      """SELECT CAST(row_number() OVER (ORDER BY block_height) AS BIGINT) AS count,
        |  block_height,
        |  CAST(amount_wei AS DOUBLE)/1e18 AS amount,
        |  created_at
        |FROM (SELECT event_id AS block_height,
        |        (event_id % 100000) * 1000000000000 AS amount_wei,
        |        ts AS created_at
        |      FROM events WHERE event_type = 'signup')
        |ORDER BY count""".stripMargin) { (s, d) =>
      val holders = T.events(s, d)
        .filter(col("event_type") === "signup")
        .select(col("event_id").as("block_height"),
          ((col("event_id") % 100000) * lit(1000000000000L)).as("amount_wei"),
          col("ts").as("created_at"))
      runningCount(holders, "block_height")
        .select(col("count"), col("block_height"),
          (col("amount_wei").cast(DoubleType) / lit(1e18)).as("amount"),
          col("created_at"))
        .orderBy(col("count"))
    },

    // Console report: last transactions (report/historical.py:262-325 via
    // app_run_report_last_transactions.py): head blockHeight from the
    // latest state doc (A3 scalar head, broadcast — no window), cut =
    // head − 2880·15 (the reference's HISTORIC_BLOCK_HEIGHT_AMOUNT, P9
    // range), $in over the seven exchange ops (P1), OPERATIONS_TRANSLATE
    // display names (F10/F20), amount / 10^18 (F21), and the running
    // Count (A6 two-pass rank).
    Q(
      "api_report_lasttx", {
        val ops = Seq("RiskProRedeem", "RiskProMint", "StableTokenMint",
          "StableTokenRedeem", "FreeStableTokenRedeem", "RiskProxRedeem",
          "RiskProxMint").map(o => s"'$o'").mkString(", ")
        s"""WITH head AS (SELECT max(event_id) AS h FROM events),
           |tx AS (
           |  SELECT event_id AS block_no,
           |    CASE event_type WHEN 'purchase' THEN 'RiskProMint'
           |      WHEN 'view' THEN 'StableTokenMint' WHEN 'click' THEN 'Transfer'
           |      WHEN 'signup' THEN 'FreeStableTokenRedeem'
           |      WHEN 'error' THEN 'RiskProxRedeem'
           |      ELSE 'StableTokenRedeem' END AS event,
           |    substr(md5(CAST(event_id AS VARCHAR)), 1, 16) AS tx_hash,
           |    '0xA' || CAST(user_id AS VARCHAR) AS address,
           |    (event_id % 100000) * 1000000000000 AS amount_wei,
           |    ts AS created_at
           |  FROM events),
           |f AS (SELECT t.* FROM tx t, head
           |      WHERE t.event IN ($ops) AND t.block_no >= head.h - ${2880 * 15})
           |SELECT CAST(row_number() OVER (ORDER BY block_no) AS BIGINT) AS count,
           |  block_no, tx_hash, address,
           |  CASE event WHEN 'RiskProRedeem' THEN 'RIFP Redeem'
           |    WHEN 'RiskProMint' THEN 'RIFP Mint'
           |    WHEN 'StableTokenMint' THEN 'RDOC Mint'
           |    WHEN 'StableTokenRedeem' THEN 'RDOC Redeem'
           |    WHEN 'FreeStableTokenRedeem' THEN 'RDOC Redeem'
           |    WHEN 'RiskProxRedeem' THEN 'RIFX Redeem'
           |    ELSE 'RIFX Mint' END AS operation,
           |  CAST(amount_wei AS DOUBLE)/1e18 AS amount, created_at
           |FROM f ORDER BY count""".stripMargin
      }) { (s, d) =>
      val ops = Seq("RiskProRedeem", "RiskProMint", "StableTokenMint",
        "StableTokenRedeem", "FreeStableTokenRedeem", "RiskProxRedeem",
        "RiskProxMint")
      val translate: Column = Map(
        "RiskProRedeem" -> "RIFP Redeem", "RiskProMint" -> "RIFP Mint",
        "StableTokenMint" -> "RDOC Mint", "StableTokenRedeem" -> "RDOC Redeem",
        "FreeStableTokenRedeem" -> "RDOC Redeem",
        "RiskProxRedeem" -> "RIFX Redeem")
        .foldLeft(null.asInstanceOf[Column]) { case (acc, (k, v)) =>
          if (acc == null) when(col("event") === k, v) else acc.when(col("event") === k, v)
        }.otherwise("RIFX Mint")
      val ev = T.events(s, d)
      val head = ev.agg(max(col("event_id")).as("h"))
      val tx = ev.select(
        col("event_id").as("block_no"),
        when(col("event_type") === "purchase", "RiskProMint")
          .when(col("event_type") === "view", "StableTokenMint")
          .when(col("event_type") === "click", "Transfer")
          .when(col("event_type") === "signup", "FreeStableTokenRedeem")
          .when(col("event_type") === "error", "RiskProxRedeem")
          .otherwise("StableTokenRedeem").as("event"),
        substring(md5(col("event_id").cast(StringType)), 1, 16).as("tx_hash"),
        concat(lit("0xA"), col("user_id").cast(StringType)).as("address"),
        ((col("event_id") % 100000) * lit(1000000000000L)).as("amount_wei"),
        col("ts").as("created_at"))
      val f = tx.crossJoin(broadcast(head))
        .filter(col("event").isin(ops: _*)
          && col("block_no") >= col("h") - lit(2880L * 15))
      runningCount(f, "block_no")
        .select(col("count"), col("block_no"), col("tx_hash"), col("address"),
          translate.as("operation"),
          (col("amount_wei").cast(DoubleType) / lit(1e18)).as("amount"),
          col("created_at"))
        .orderBy(col("count"))
    }
  )
}
