package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.Config
import graft.operators.{EventUnion, Snapshot}

/** The indexer chain — the reference's scan loop (tasks.py: events →
  * Transaction → status → MocState → prices → cursor) as ONE definition:
  * four named stages over a micro-batch, each run by its own task (the
  * §2.9 streaming shell, each its own micro-batch query):
  *  - `scan_raw_txs` ([[ingest]]): the events file stream → canonical
  *    per-event Transaction derivation (EventUnion.canonical — the
  *    oracle-checked one) → keyed idempotent upsert into the bucketed
  *    generation state + cursor advance with audit history.
  *  - `scan_transactions_status` ([[drainStatus]]): the status-update
  *    loop — pending rows past the confirmation depth flip to `confirmed`
  *    as the head advances, via a window-bounded pending queue and
  *    bucket-pruned state rewrites (StatusDrain).
  *  - `scan_moc_state` ([[foldMocState]]): per-height MocState snapshot
  *    docs folded from batch partials through the mergeable (max, sum)
  *    aggregate and the SAME document derivation as the oracle-checked
  *    `s15_mocstate_doc` (Snapshot.mocStateDoc).
  *  - `scan_prices` ([[mergeCandles]]): the same stream folded into live
  *    OHLC candle state (CandleStream on the Generations protocol), served
  *    by `/prices/ohlc` from the page cache.
  *
  * Each stage takes the session that started the chain, not the batch's
  * own (the stream's cloned session plans without AQE).
  */
object IndexerChain {

  // Transaction keys are monotonic in event_id → RANGE-bucketed state:
  // append-mostly batches touch only tail buckets and the status drain
  // stays range-local (Pipelines.Bucketing scaladoc).
  private val TxBucketing = Some(Pipelines.Bucketing.range("event_id", 4096L))

  // ONE explicit writer token for BOTH Transaction-table writers (the
  // ingest upsert and the status drain): they intentionally co-own the
  // table — the per-root JVM lock serializes their batches — while any
  // FOREIGN writer (a backfill under the default adhoc token, a second
  // app instance with its own token) fails the lease loudly instead of
  // reaping this app's live staging dirs.
  private val TxWriter = "app:transaction"
  // MocState has one writer, the fold; its own token makes a foreign
  // writer under the default adhoc token fail the lease the same way
  private val MocStateWriter = "app:mocstate"

  /** scan_raw_txs: canonical derivation → Transaction upsert → pending
    * append → cursor advance. The chain head is the max block seen so far
    * (`head` in, the new head out) — the same running-head discipline as
    * the scan loop's cursor. */
  def ingest(spark: SparkSession, batch: DataFrame, batchId: Long,
      stateRoot: String, head: Long, historyRetain: Option[Int]): Long = {
    val b = batch.persist()
    val mx = b.agg(max(col("event_id"))).collect()(0)
    val h = if (mx.isNullAt(0)) head else math.max(head, mx.getLong(0))
    val tx = EventUnion.canonical(b,
      spark.range(1).select(lit(h).as("h"))).persist()
    Pipelines.upsertBatch(spark, s"$stateRoot/Transaction", tx,
      Seq("event_id", "event", "address"), bucketing = TxBucketing,
      batchId = Some(batchId), writer = TxWriter)
    // rows still inside the confirmation window join the status
    // task's pending queue (StatusDrain — the reference's
    // scan_transactions_status loop)
    StatusDrain.appendPending(spark, stateRoot, tx)
    tx.unpersist()
    Pipelines.advanceCursor(spark, stateRoot,
      spark.range(1).select(
        lit(true).as("processed"), lit(h).as("block_number"),
        current_timestamp().as("block_ts"),
        lit(h).as("last_raw_tx_block"),
        lit(h).as("last_moc_status_block"),
        current_timestamp().as("updatedAt")),
      historyRetain = historyRetain)
    b.unpersist()
    h
  }

  /** scan_transactions_status: the reference's status-update loop — as
    * the head advances, pending rows past the confirmation depth flip to
    * `confirmed` WITHOUT a new event arriving for them. The head comes
    * from the cursor [[ingest]] maintains (the reference's status task
    * reads its own collection's cursor the same way), and the drain
    * touches only the pending keys' buckets (StatusDrain scaladoc). */
  def drainStatus(spark: SparkSession, stateRoot: String): Unit = {
    // no cursor yet (a cold boot's first status batch runs before ingest
    // writes one) means head 0: look before reading, so Spark never logs
    // the missing path's stack trace
    val cursor = new Path(s"$stateRoot/moc_indexer")
    val h =
      if (!cursor.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(cursor)) 0L
      else scala.util.Try(spark.read.parquet(cursor.toString)
        .agg(max(col("block_number"))).collect()(0).getLong(0)).getOrElse(0L)
    if (h > 0) StatusDrain.drain(spark, stateRoot, h, TxBucketing,
      writer = TxWriter)
  }

  /** scan_moc_state: the reference's 10 s state-snapshot cadence
    * (moc_state.py → scan_moc_state task) — each batch's per-height
    * partial (max user / event count) folds into the keyed MocState docs
    * inside [[Pipelines.upsertBatch]]'s one merge: the touched buckets'
    * prior rows and the partial through the MERGEABLE aggregate, then the
    * document fields through the SAME Snapshot.mocStateDoc the
    * oracle-checked `s15_mocstate_doc` batch query uses (AppBootSpec
    * asserts the folded state equals the batch query). The state is read
    * once per batch, only the touched buckets — O(batch), not O(history)
    * — and the batch id arms the upsert's replay guard, so a
    * crash-replayed batch is skipped bucket by bucket, never counted
    * twice. */
  def foldMocState(spark: SparkSession, batch: DataFrame, batchId: Long,
      stateRoot: String): Unit = {
    val partial = batch
      .groupBy(expr("event_id div 100").as("block_height"))
      .agg(max(col("user_id")).as("mu"), count(lit(1)).as("cnt"))
    val fold: (Option[DataFrame], DataFrame) => DataFrame = { (prior, inc) =>
      val g = prior.fold(inc)(_.select(col("block_height"), col("mu"), col("cnt"))
        .unionByName(inc)
        .groupBy(col("block_height"))
        .agg(max(col("mu")).as("mu"), sum(col("cnt")).as("cnt")))
      g.join(Snapshot.mocStateDoc(g), Seq("block_height"))
    }
    Pipelines.upsertBatch(spark, s"$stateRoot/MocState", partial,
      Seq("block_height"), mergeWith = Some(fold), batchId = Some(batchId),
      writer = MocStateWriter)
  }

  /** scan_prices: the price tier's live candle state. */
  def mergeCandles(batch: DataFrame, batchId: Long, stateRoot: String): Unit =
    CandleStream.mergeBatch(batch, s"$stateRoot/candles", batchId)

  /** the state each checkpointed task writes under the state root */
  private val TaskState = Seq("scan_raw_txs" -> "Transaction",
    "scan_moc_state" -> "MocState", "scan_prices" -> "candles")

  /** refuse a state root whose task checkpoint is gone while the state the
    * task writes is kept: the task would restart at batch 0 over that
    * state, where the upsert replay guard (keyed on the batch id alone)
    * skips or double-folds batches it never saw, and the candle
    * Generations marker, which never moves backwards, hides every new
    * generation until the batch ids pass it. */
  private def requireCheckpoints(spark: SparkSession, stateRoot: String): Unit = {
    val fs = new Path(stateRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    TaskState.foreach { case (task, state) =>
      if (fs.exists(new Path(s"$stateRoot/$state")) &&
          !fs.exists(new Path(s"$stateRoot/_ckpt/$task")))
        throw new IllegalStateException(
          s"state root $stateRoot holds $state but task $task has no checkpoint " +
            s"at _ckpt/$task: restore the checkpoint or start from an empty state root")
    }
  }

  /** start the four tasks over the events of `dataDir`, in chain order, at
    * the `tasks.<name>.interval` cadences of `cfg`, keeping their state and
    * checkpoints under `stateRoot`. Fails before starting any task if a
    * checkpoint was lost while its state was kept. */
  def start(spark: SparkSession, cfg: Config.Resolved, dataDir: String,
      stateRoot: String): Seq[StreamingQuery] = {
    requireCheckpoints(spark, stateRoot)
    // the driver datasets ship events as a single FILE, and a file-stream
    // source's base path must be a directory — stream the dataset root
    // with a glob pinned to the events file(s)
    val schema = spark.read.parquet(s"$dataDir/events.parquet").schema
    def eventStream: DataFrame =
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dataDir)

    def task(name: String, default: Trigger, events: DataFrame)(
        body: (DataFrame, Long) => Unit): StreamingQuery =
      events.writeStream
        .queryName(name)
        .trigger(Triggers.forTask(cfg, name, default))
        .option("checkpointLocation", s"$stateRoot/_ckpt/$name")
        .foreachBatch { (batch: Dataset[Row], batchId: Long) => body(batch.toDF(), batchId) }
        .start()

    @volatile var head = 0L
    val scanTxs = task("scan_raw_txs", Triggers.Events, eventStream) { (batch, batchId) =>
      head = ingest(spark, batch, batchId, stateRoot, head, cfg.historyRetain)
    }
    val scanStatus = task("scan_transactions_status", Triggers.Status, eventStream) {
      (_, _) => drainStatus(spark, stateRoot)
    }
    val scanState = task("scan_moc_state", Triggers.State, eventStream) {
      (batch, batchId) => foldMocState(spark, batch, batchId, stateRoot)
    }
    val tsExpr = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts div 1000)")
      case _ => col("ts").cast("timestamp")
    }
    val scanPrices = task("scan_prices", Triggers.Prices, eventStream
        .select(tsExpr.as("ts"), col("event_id"), col("event_type"), col("value"))) {
      (batch, batchId) => mergeCandles(batch, batchId, stateRoot)
    }
    Seq(scanTxs, scanStatus, scanState, scanPrices)
  }
}
