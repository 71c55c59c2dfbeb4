package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Q, Tables => T}
import graft.functions.Wei

/** Per-event transform pipelines → canonical Transaction union — SURVEY.md
  * §2.10 X3 + §2.7 U3, the reference's central derivation (§7.2 flagship
  * shape): every decoded event type runs its own pure-column pipeline
  * (money math, leg splitting, address normalization) and the results
  * union by name into ONE wide Transaction schema with heterogeneous
  * optional fields — exactly how the writers under indexer/events
  * populate the Transaction collection (mocexchange.py:31-110 mint,
  * :428-430 the StableTokenMint userAmount-from-reserveTotal quirk,
  * :246 leverage only on RiskProx ops; token_riskpro.py:54-122 two
  * transfer legs; token_moc.py:20-28 approval; mocinrate.py interest
  * payouts; mocsettlement.py:25-60 settlement marker).
  *
  * Every stage is a Column expression (no UDF): the per-event pipelines
  * stay inside whole-stage codegen, the union is a zero-shuffle
  * concatenation, and the status derivation (F12) runs against a broadcast
  * chain head. Money columns go through the exact wei fixed-point library
  * (graft.functions.Wei) and are string-rendered, oracle-checked in
  * HUGEINT. One source tx legitimately fans into multiple Transaction
  * rows (purchase → RiskProMint + RiskProxMint), mirroring multi-log txs.
  */
object EventUnion {

  private val OutCols = Seq("event_id", "tx_hash", "address", "event",
    "token_involved", "amount_wei", "usd_wei", "leverage", "interests_wei",
    "is_positive")

  /** the per-event pipelines + canonical union over an ARBITRARY events
    * frame with an explicit chain head — the registered batch query and
    * the streaming indexer chain (streaming.IndexerChain.ingest applies it
    * per micro-batch, the head being the highest block seen so far) share this
    * one derivation, so the streamed Transaction rows are definitionally
    * the batch program's rows. No sort: callers order (or upsert) as they
    * need. */
  def canonical(events: DataFrame, headDf: DataFrame): DataFrame = {
    val base = events.select(
      col("event_id"), col("user_id"), col("event_type"), col("ts"),
      md5(col("event_id").cast(StringType)).as("tx_hash"),
      concat(lit("0xa"), col("user_id").cast(StringType)).as("addr_a"),
      concat(lit("0xb"), col("user_id").cast(StringType)).as("addr_b"),
      (floor(col("value") * 100).cast(LongType) * 1000000000000L).as("amt"),
      concat((lit(10) + col("user_id") % 10).cast(StringType), lit("0" * 18)).as("price"))

    def leg(filter: org.apache.spark.sql.Column,
        address: org.apache.spark.sql.Column, event: String)(
        extra: DataFrame => DataFrame): DataFrame =
      extra(base.filter(filter)
        .select(col("event_id"), col("user_id"), col("tx_hash"),
          address.as("address"), lit(event).as("event"),
          col("amt"), col("price"), col("ts").as("created_at")))

    def withMoney(df: DataFrame, token: String): DataFrame = df
      .withColumn("token_involved", lit(token))
      .withColumn("amount_wei", col("amt").cast(StringType))
      .withColumn("usd_wei", Wei.toWeiStr(Wei.usdAmount(col("amt"), col("price"))))
      .withColumn("is_positive", lit(true))

    val et = col("event_type")
    val mint = leg(et === "purchase", col("addr_a"), "RiskProMint")(withMoney(_, "RISKPRO"))
    val riskprox = leg(et === "purchase" && col("user_id") % 2 === 1,
      col("addr_a"), "RiskProxMint") { df =>
      withMoney(df, "RISKPROX").withColumn("leverage", col("user_id") % 5 + 2)
    }
    // StableTokenMint: userAmount sourced from reserveTotal, not amount
    // (mocexchange.py:428-430) — amount_wei deliberately carries amt
    val stableMint = leg(et === "view", col("addr_a"), "StableTokenMint")(withMoney(_, "STABLE"))
    val transferFrom = leg(et === "click", col("addr_a"), "Transfer") {
      _.withColumn("token_involved", lit("RISKPRO"))
        .withColumn("amount_wei", col("amt").cast(StringType))
        .withColumn("is_positive", lit(false))
    }
    val transferTo = leg(et === "click", col("addr_b"), "Transfer") {
      _.withColumn("token_involved", lit("RISKPRO"))
        .withColumn("amount_wei", col("amt").cast(StringType))
        .withColumn("is_positive", lit(true))
    }
    val approval = leg(et === "signup", col("addr_a"), "Approval") {
      _.withColumn("token_involved", lit("STABLE"))
        .withColumn("amount_wei", col("amt").cast(StringType))
    }
    val inrate = leg(et === "signup" && col("event_id") % 2 === 0,
      col("addr_a"), "InrateDailyPay") {
      _.withColumn("token_involved", lit("RISKPRO"))
        .withColumn("interests_wei", expr("amt div 100").cast(StringType))
        .withColumn("is_positive", lit(true))
    }
    val settle = leg(et === "error", lit("0xsys"), "SettlementStarted")(identity)

    val unioned = Seq(mint, riskprox, stableMint, transferFrom, transferTo,
        approval, inrate, settle)
      .map(_.drop("amt", "price", "user_id"))
      .reduce(_.unionByName(_, allowMissingColumns = true))

    unioned.crossJoin(broadcast(headDf))
      .select(OutCols.map(col) :+
        when(col("h") - col("event_id") > 10, "confirmed").otherwise("confirming")
          .as("status") :+ col("created_at"): _*)
  }

  val queries: Seq[Q] = Seq(

    Q(
      "tx_union_canonical",
      """WITH head AS (SELECT MAX(event_id) AS h FROM events),
        |base AS (
        |  SELECT event_id, user_id, event_type, ts,
        |    md5(CAST(event_id AS VARCHAR)) AS tx_hash,
        |    '0xa' || CAST(user_id AS VARCHAR) AS addr_a,
        |    '0xb' || CAST(user_id AS VARCHAR) AS addr_b,
        |    CAST(CAST(floor(value * 100) AS HUGEINT) * 1000000000000 AS HUGEINT) AS amt,
        |    CAST(CAST(10 + user_id % 10 AS VARCHAR)||'000000000000000000' AS HUGEINT) AS price
        |  FROM events),
        |mint AS (
        |  SELECT event_id, tx_hash, addr_a AS address, 'RiskProMint' AS event,
        |    'RISKPRO' AS token_involved, CAST(amt AS VARCHAR) AS amount_wei,
        |    CAST((amt * price) // 1000000000000000000 AS VARCHAR) AS usd_wei,
        |    NULL AS leverage, NULL AS interests_wei,
        |    TRUE AS is_positive, ts AS created_at
        |  FROM base WHERE event_type = 'purchase'),
        |riskprox AS (
        |  SELECT event_id, tx_hash, addr_a AS address, 'RiskProxMint' AS event,
        |    'RISKPROX' AS token_involved, CAST(amt AS VARCHAR) AS amount_wei,
        |    CAST((amt * price) // 1000000000000000000 AS VARCHAR) AS usd_wei,
        |    user_id % 5 + 2 AS leverage, NULL AS interests_wei,
        |    TRUE AS is_positive, ts AS created_at
        |  FROM base WHERE event_type = 'purchase' AND user_id % 2 = 1),
        |stable_mint AS (
        |  SELECT event_id, tx_hash, addr_a AS address, 'StableTokenMint' AS event,
        |    'STABLE' AS token_involved,
        |    CAST(amt AS VARCHAR) AS amount_wei, -- userAmount := reserveTotal quirk
        |    CAST((amt * price) // 1000000000000000000 AS VARCHAR) AS usd_wei,
        |    NULL AS leverage, NULL AS interests_wei,
        |    TRUE AS is_positive, ts AS created_at
        |  FROM base WHERE event_type = 'view'),
        |t_from AS (
        |  SELECT event_id, tx_hash, addr_a AS address, 'Transfer' AS event,
        |    'RISKPRO' AS token_involved, CAST(amt AS VARCHAR) AS amount_wei,
        |    NULL AS usd_wei, NULL AS leverage, NULL AS interests_wei,
        |    FALSE AS is_positive, ts AS created_at
        |  FROM base WHERE event_type = 'click'),
        |t_to AS (
        |  SELECT event_id, tx_hash, addr_b AS address, 'Transfer' AS event,
        |    'RISKPRO' AS token_involved, CAST(amt AS VARCHAR) AS amount_wei,
        |    NULL AS usd_wei, NULL AS leverage, NULL AS interests_wei,
        |    TRUE AS is_positive, ts AS created_at
        |  FROM base WHERE event_type = 'click'),
        |approval AS (
        |  SELECT event_id, tx_hash, addr_a AS address, 'Approval' AS event,
        |    'STABLE' AS token_involved, CAST(amt AS VARCHAR) AS amount_wei,
        |    NULL AS usd_wei, NULL AS leverage, NULL AS interests_wei,
        |    NULL AS is_positive, ts AS created_at
        |  FROM base WHERE event_type = 'signup'),
        |inrate AS (
        |  SELECT event_id, tx_hash, addr_a AS address, 'InrateDailyPay' AS event,
        |    'RISKPRO' AS token_involved, NULL AS amount_wei,
        |    NULL AS usd_wei, NULL AS leverage,
        |    CAST(amt // 100 AS VARCHAR) AS interests_wei,
        |    TRUE AS is_positive, ts AS created_at
        |  FROM base WHERE event_type = 'signup' AND event_id % 2 = 0),
        |settle AS (
        |  SELECT event_id, tx_hash, '0xsys' AS address, 'SettlementStarted' AS event,
        |    NULL AS token_involved, NULL AS amount_wei,
        |    NULL AS usd_wei, NULL AS leverage, NULL AS interests_wei,
        |    NULL AS is_positive, ts AS created_at
        |  FROM base WHERE event_type = 'error'),
        |unioned AS (
        |  SELECT * FROM mint UNION ALL SELECT * FROM riskprox
        |  UNION ALL SELECT * FROM stable_mint UNION ALL SELECT * FROM t_from
        |  UNION ALL SELECT * FROM t_to UNION ALL SELECT * FROM approval
        |  UNION ALL SELECT * FROM inrate UNION ALL SELECT * FROM settle)
        |SELECT u.event_id, u.tx_hash, u.address, u.event, u.token_involved,
        |  u.amount_wei, u.usd_wei, u.leverage, u.interests_wei, u.is_positive,
        |  CASE WHEN head.h - u.event_id > 10 THEN 'confirmed' ELSE 'confirming' END AS status,
        |  u.created_at
        |FROM unioned u, head
        |ORDER BY u.event_id, u.event, u.address""".stripMargin) { (s, d) =>
      canonical(T.events(s, d),
        T.events(s, d).agg(max(col("event_id")).as("h")))
        .orderBy(col("event_id"), col("event"), col("address"))
    }
  )
}
