package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Schemas
import graft.plans.LogSchemaRegistry

/** The document-store catalog must mirror the reference exactly: all 16
  * collections, natural keys = the reference's unique indexes, 22 event
  * payload schemas (every real dispatch target incl. the zero-payload
  * ContractLiquidated) + the 3-row ignored-dispatch tier, and the
  * conform() sink gate aligning (or loudly rejecting) derivation output.
  */
class SchemasSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("catalog covers the reference's 16 collections") {
    assert(Schemas.all.map(_.name).toSet === Set(
      "MocState", "MocState_history", "MocState_status", "Price",
      "UserState", "UserState_update", "users", "BitProHoldersInterest",
      "SettlementState", "InRateIncome", "Transaction", "Notification",
      "moc_indexer", "moc_indexer_history", "raw_transactions",
      "FastBtcBridge"))
    assert(Schemas.all.size === 16)
  }

  test("natural keys match the reference's unique indexes") {
    // mongo_manager.py create_index(..., unique=True) per collection
    assert(Schemas.transaction.keys === Seq("transactionHash", "address", "event"))
    assert(Schemas.notification.keys === Seq("transactionHash", "logIndex", "event"))
    assert(Schemas.fastBtcBridge.keys === Seq("transferId"))
    assert(Schemas.settlementState.keys === Seq("startBlockNumber"))
    assert(Schemas.price.keys === Seq("blockHeight"))
    assert(Schemas.mocStateHistory.keys === Seq("blockHeight"))
    // single-document checkpoints have no natural key (update_one({}))
    assert(Schemas.mocIndexer.keys.isEmpty)
  }

  test("raw_transactions mirrors the $jsonSchema validator field-for-field") {
    val s = Schemas.rawTransactions.schema
    // mongo_manager.py:200-255: required [hash, blockNumber], bsonType map
    for (n <- Seq("hash", "from", "to", "value", "gasPrice", "input",
        "logs", "status")) assert(s(n).dataType === StringType, n)
    for (n <- Seq("blockNumber", "gas", "gas_used", "confirmations"))
      assert(s(n).dataType === LongType, n)
    for (n <- Seq("receipt", "processed")) assert(s(n).dataType === BooleanType, n)
    assert(s("timestamp").dataType === TimestampType)
  }

  test("all 22 event payload schemas resolve through the catalog (payloadOf total)") {
    assert(LogSchemaRegistry.events.size === 22)
    LogSchemaRegistry.events.foreach { e =>
      assert(Schemas.payloadOf(e.name) === e.structType)
    }
    // the reference's full dispatch-target list (scan_events_txs.py:50-110,
    // real handlers only) — payloadOf must be TOTAL over it, including the
    // zero-payload ContractLiquidated (moc.py:125-232)
    val dispatchTargets = Seq(
      "BucketLiquidation", "ContractLiquidated", "SettlementStarted",
      "RedeemRequestAlter", "RedeemRequestProcessed",
      "SettlementRedeemStableToken", "SettlementDeleveraging",
      "SettlementCompleted", "RiskProMint", "RiskProRedeem", "RiskProxMint",
      "RiskProxRedeem", "StableTokenMint", "StableTokenRedeem",
      "FreeStableTokenRedeem", "Transfer", "StateTransition",
      "InrateDailyPay", "RiskProHoldersInterestPay", "Approval",
      "NewBitcoinTransfer", "BitcoinTransferStatusUpdated")
    dispatchTargets.foreach(n => Schemas.payloadOf(n)) // no throw = total
    assert(Schemas.payloadOf("ContractLiquidated").isEmpty) // zero-payload
    // unknown names raise a TYPED error naming the registry, not a bare
    // Map NoSuchElementException
    val err = intercept[IllegalArgumentException] {
      Schemas.payloadOf("NotAnEvent")
    }
    assert(err.getMessage.contains("LogSchemaRegistry"))
    // the registered-but-ignored tier ("" handlers) is metadata, not a
    // payload target: recognized for warn suppression, never decoded
    assert(LogSchemaRegistry.ignoredDispatch === Set(
      ("MoCVendors", "VendorReceivedMarkup"),
      ("MoCBProxManager", "BucketMovement"),
      ("MoCToken", "Transfer")))
    // spot-shape: the exchange-op payloads carry the ×6 commission block
    val mint = Schemas.payloadOf("RiskProMint").fieldNames
    for (n <- Seq("commission", "reservePrice", "mocCommissionValue",
        "mocPrice", "btcMarkup", "mocMarkup")) assert(mint.contains(n), n)
  }

  test("conform aligns order and types, drops extras, rejects missing") {
    val batch = Seq(("a1", 7L, "0xdead", 1)).toDF(
      "extra_col", "blockHeight", "account", "block_height_small")
      .withColumn("block_height", col("block_height_small").cast(StringType))
      .select(col("account"), col("block_height"), col("extra_col"))
    val out = Schemas.conform(batch, Schemas.userStateUpdate)
    assert(out.columns.toSeq === Seq("account", "block_height"))
    assert(out.schema("block_height").dataType === LongType) // cast applied
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("0xdead", 1L)))

    val err = intercept[IllegalArgumentException] {
      Schemas.conform(batch.drop("block_height"), Schemas.userStateUpdate)
    }
    assert(err.getMessage.contains("block_height"))
  }

  test("conformSparse pads missing optional fields, rejects missing keys") {
    // sparse Mongo-style document: only the writer's own fields present
    val sparse = Seq(("abc123", "0xdead", "RiskProMint", "5"))
      .toDF("transactionHash", "address", "event", "amount")
    val out = Schemas.conformSparse(sparse, Schemas.transaction)
    assert(out.columns.toSeq === Schemas.transaction.schema.fieldNames.toSeq)
    val row = out.collect()(0)
    assert(row.getAs[String]("amount") === "5")
    assert(row.isNullAt(out.columns.indexOf("bucket")), "missing optional → null")
    // a missing natural-key field still dies in the pipeline
    assertThrows[IllegalArgumentException] {
      Schemas.conformSparse(sparse.drop("event"), Schemas.transaction)
    }
    // the raw_transactions validator's required fields behave like keys
    assertThrows[IllegalArgumentException] {
      Schemas.conformSparse(Seq("h1").toDF("hash"), Schemas.rawTransactions)
    }
  }

  test("Tables.events tolerates every physical ts encoding the driver has used") {
    // Round 6 post-mortem: the driver regenerated testdata and events.ts
    // flipped physical type from int64 TIMESTAMP(NANOS) to timestamp[us],
    // silently breaking every events-backed query. This pins the loader's
    // normalization: all writer encodings must yield identical TimestampType
    // rows. (Spark cannot write TIMESTAMP(NANOS); under
    // spark.sql.legacy.parquet.nanosAsLong=true it surfaces as LongType,
    // which a plain int64 nanos column exercises identically.)
    val base = java.nio.file.Files.createTempDirectory("graft-tsdrift").toString
    val rows = Seq(
      (1L, 1704067200123456L, 10L, "signup", 1.5),  // 2024-01-01T00:00:00.123456Z
      (2L, 1704153600987654L, 11L, "error", 2.5))
    val micros = rows.toDF("event_id", "us", "user_id", "event_type", "value")

    // variant 1: int64 nanos (no logical type) — the nanosAsLong-era shape
    micros.withColumn("ts", col("us") * 1000L).drop("us")
      .write.parquet(s"$base/nanos/events.parquet")
    // variant 2: TIMESTAMP_NTZ micros — the current driver encoding
    //            (isAdjustedToUTC=false, timeUnit=microseconds)
    micros.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))
      .drop("us").write.parquet(s"$base/ntz/events.parquet")
    // variant 3: adjusted-to-UTC TIMESTAMP micros
    withConf("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS") {
      micros.withColumn("ts", timestamp_micros(col("us"))).drop("us")
        .write.parquet(s"$base/tz/events.parquet")
    }

    def load(v: String) = {
      val df = graft.core.Tables.events(spark, s"$base/$v")
      assert(df.schema("ts").dataType === TimestampType, s"$v: ts type")
      df.select("event_id", "ts", "user_id", "event_type", "value")
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    }
    val (n, z, t) = (load("nanos"), load("ntz"), load("tz"))
    assert(n.toSeq === z.toSeq, "nanos vs ntz")
    assert(z.toSeq === t.toSeq, "ntz vs tz")
    // µs precision survives end-to-end (the nanos path truncates, not rounds)
    assert(n(0)(1).asInstanceOf[java.sql.Timestamp].getNanos === 123456000)
  }

  private def withConf(key: String, value: String)(body: => Unit): Unit = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("cursor advance overwrites the singleton and appends to moc_indexer_history") {
    import graft.streaming.Pipelines
    val dir = java.nio.file.Files.createTempDirectory("graft-cursor").toString
    def cursor(block: Long) = Seq((block, true))
      .toDF("last_raw_tx_block", "processed")
      .withColumn("updatedAt", lit(java.sql.Timestamp.valueOf(s"2024-01-0${block % 9} 00:00:00")))

    Pipelines.advanceCursor(spark, dir, cursor(1))
    Pipelines.advanceCursor(spark, dir, cursor(2))
    Pipelines.advanceCursor(spark, dir, cursor(3))

    val single = spark.read.parquet(s"$dir/moc_indexer")
    assert(single.count() === 1, "moc_indexer is a single-doc collection")
    assert(single.select("last_raw_tx_block").as[Long].head() === 3L)
    assert(single.columns.toSet === Schemas.mocIndexer.schema.fieldNames.toSet,
      "doc must be conformed to the catalog schema (sparse fields padded)")

    val hist = spark.read.parquet(s"$dir/moc_indexer_history")
    assert(hist.count() === 3, "history keeps one row per advance")
    assert(hist.select("last_raw_tx_block").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L))

    // a multi-row "cursor" is a bug upstream — refuse it
    assertThrows[IllegalArgumentException] {
      Pipelines.advanceCursor(spark, dir,
        cursor(4).union(cursor(5)))
    }
  }

  test("historyRetain bounds the cursor audit trail (S10-style retention) — file count AND rows") {
    import graft.streaming.Pipelines
    val dir = java.nio.file.Files.createTempDirectory("graft-cursor-ret").toString
    def cursor(block: Long) = Seq((block, block, true))
      .toDF("block_number", "last_raw_tx_block", "processed")
      .withColumn("updatedAt", current_timestamp())
    // 25 advances, retain 5: the appender alone would leave 25 part files;
    // amortized compaction (trigger at >2n files) must keep the dir within
    // [n..2n] data files at all times and the ROWS at exactly the newest 5
    (1L to 25L).foreach { b =>
      Pipelines.advanceCursor(spark, dir, cursor(b), historyRetain = Some(5))
      val files = new java.io.File(s"$dir/moc_indexer_history")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files <= 10, s"history files must stay bounded, saw $files at advance $b")
    }
    val hist = spark.read.parquet(s"$dir/moc_indexer_history")
    val blocks = hist.select("block_number").as[Long].collect().sorted.toSeq
    assert(blocks.size <= 10 && blocks.max === 25L && blocks.takeRight(5) ===
      Seq(21L, 22L, 23L, 24L, 25L),
      s"retention must keep the NEWEST advances, got $blocks")
    // the default stays append-only (reference parity)
    (26L to 28L).foreach(b => Pipelines.advanceCursor(spark, dir, cursor(b)))
    assert(spark.read.parquet(s"$dir/moc_indexer_history").count() === blocks.size + 3L)
  }
}
