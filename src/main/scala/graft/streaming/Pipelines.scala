package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.core.Merge

/** Streaming shell building blocks — SURVEY.md §2.9: the idempotent keyed
  * upsert sink that turns at-least-once micro-batch delivery into
  * effectively-once table state (T7 = S6 inside foreachBatch).
  */
object Pipelines {

  /** number of key-hash buckets the parquet state table is laid out in.
    * At 100 TB state this is the knob that bounds per-batch write
    * amplification: a micro-batch rewrites only the buckets it touches
    * (≤ min(|batch keys|, buckets)), never the whole table. */
  val StateBuckets = 32

  /** HOW state rows map to buckets — pluggable because the right layout
    * depends on the KEY DISTRIBUTION. [[Bucketing.hash]] spreads keys
    * uniformly: point-lookup friendly, but any batch with ≥ n distinct
    * keys touches every bucket, so per-batch write amplification becomes
    * O(state) for large batches. [[Bucketing.range]] clusters MONOTONIC
    * keys (event ids, block heights): an append-mostly batch lands in the
    * tail buckets only, so per-batch work stays O(batch + window) no
    * matter how large the state grows — and the status drain's window is
    * range-local too. The layout tag is pinned in the `_graft_buckets`
    * marker; reopening a state with a different layout fails fast instead
    * of stranding rows. */
  final case class Bucketing(
      tag: String,
      exprOf: Seq[String] => org.apache.spark.sql.Column,
      /** staging-write width: Some(n) for a fixed bucket count (hash);
        * None → use the batch's touched-bucket count (range, unbounded ids) */
      fixedWidth: Option[Int])

  object Bucketing {
    def hash(n: Int = StateBuckets): Bucketing = Bucketing(
      s"n=$n",
      keys => pmod(xxhash64(keys.map(col): _*), lit(n.toLong)),
      Some(n))

    /** monotonic-key layout: bucket = `keyCol div span`. `keyCol` must be
      * one of (or derivable from) the upsert keys so rows can never move
      * between buckets. SIZE `span` like `maxPartitionBytes`, not like a
      * bucket count: bucket count = key range / span, so pick a span that
      * lands each bucket in the hundreds-of-MB range at the target scale
      * (a too-small span turns [[readState]]'s bucket listing into the
      * bottleneck; a too-large one re-merges a huge tail bucket every
      * batch). */
    def range(keyCol: String, span: Long): Bucketing = Bucketing(
      s"range=$keyCol/$span",
      _ => expr(s"$keyCol div $span"),
      None)
  }

  /** T7/S6: one idempotent micro-batch application — MERGE the batch into
    * the parquet-backed state table by natural key (updates win). The
    * state dir is hive-partitioned by a key-hash bucket
    * (`__gbkt=<pmod(xxhash64(keys), n)>`), and each batch rewrites ONLY
    * the buckets its keys land in, per-bucket tmp + swap: per-batch work
    * is O(touched state), not O(state) — the shape that survives the
    * state table growing toward 100 TB. Untouched buckets' files are not
    * opened, written, or moved (byte-identical after the batch —
    * StreamingSpec proves it). Replaying the same batch is a no-op on
    * table contents, which is what makes at-least-once delivery
    * effectively-once (the reference relies on the same property via
    * Mongo natural-key upserts, scan_raw_txs.py:51-54).
    *
    * The swap is CRASH-SAFE: each bucket holds `gen=NNNNNN` generation
    * dirs; a batch writes the merged bucket into the NEXT generation and
    * deletes older ones only after the new `_SUCCESS` exists. Readers
    * ([[readState]]) resolve each bucket to its newest complete
    * generation, so a kill at any point leaves the previous generation
    * intact — a partial new generation is invisible and gets overwritten
    * by the next batch (StreamingSpec simulates the kill). A
    * `_graft_buckets` marker pins the bucket layout: re-opening the state
    * with a different `bucketing` (which would silently strand rows in
    * old buckets) or pointing at a pre-marker flat layout fails fast.
    * Production can still swap in a transactional table format (Delta
    * MERGE) or Mongo upserts keyed by the same natural keys.
    *
    * The merge is ONE Spark job no matter how many buckets the batch
    * touches: the touched buckets' current generations are read as one
    * union scan, merged with the batch in a single key shuffle, written
    * bucket-partitioned into a staging dir (invisible to [[readState]]),
    * and each touched bucket then atomically swaps — rename, `_SUCCESS`,
    * retire — into its next generation. Earlier rounds ran one merge job
    * PER bucket through a bounded thread pool — correct, but per-batch
    * latency was dominated by 32 scheduler round-trips even at 20 MB of
    * state (E2EBench's stage attribution measured ~3 s per upsert with
    * the data itself near-free); one job makes per-batch cost track DATA,
    * with cross-bucket parallelism coming from tasks instead of jobs.
    * Crash windows are unchanged: a kill mid-staging leaves only an
    * ignored `_staging-*` dir (reaped on the next batch), a kill mid-swap
    * leaves every bucket with a complete generation (old or new), and
    * replaying the batch is a no-op on contents.
    *
    * ACCUMULATOR MERGE (`mergeWith`): by default the merge is
    * [[Merge.upsert]] — batch rows REPLACE prior rows by key, so replaying
    * a batch is naturally a no-op. A state that FOLDS the batch onto the
    * prior (a running balance absorbing deltas, a count absorbing
    * increments) passes `mergeWith`: it receives the touched buckets'
    * prior rows (None on first write) and the batch, and returns the next
    * state for those buckets. This keeps accumulator state single-read —
    * the fold happens inside the one merge job instead of the caller
    * reading the whole state, joining, and upserting a second read — but
    * a fold is NOT replay-idempotent, which is what `batchId` is for. The
    * app's fold is `IndexerChain.foldMocState` (per-height max/count).
    *
    * REPLAY GUARD (`batchId`): when given, each installed generation also
    * records the batch id that produced it (`_BATCHID`, written before
    * `_SUCCESS`). On entry, touched buckets whose CURRENT complete
    * generation already carries this id are dropped from the merge — so
    * re-running a batch after a crash re-applies it only to the buckets
    * the first attempt didn't finish swapping. Because the swap is
    * per-bucket atomic, this makes even non-idempotent folds
    * effectively-once: a kill between two bucket swaps leaves some
    * buckets advanced (skipped on replay) and some on the prior
    * generation (re-merged on replay), never a double-fold
    * (AccumulatorStateSpec simulates both windows). A bucket skipped on
    * replay keeps any stale older generation until its next touch —
    * readers always resolve the newest complete one.
    */
  def upsertBatch(spark: SparkSession, stateDir: String,
      batch: DataFrame, keys: Seq[String],
      bucketing: Option[Bucketing] = None,
      mergeWith: Option[(Option[DataFrame], DataFrame) => DataFrame] = None,
      batchId: Option[Long] = None,
      writer: String = AdhocWriter): Unit = lockFor(stateDir).synchronized {
    val bk = bucketing.getOrElse(Bucketing.hash())
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(stateDir)
    val fs = root.getFileSystem(conf)
    ensureBucketMarker(fs, root, bk.tag)
    // single-writer lease: a DIFFERENT token fails fast before touching
    // anything (see ensureWriterLease). The lease alone does NOT make
    // same-token concurrency safe — the App's ingest and drain tasks
    // legitimately share one token on one table — so same-JVM writers are
    // serialized by the per-root lock above, and the staging reap below is
    // namespaced per token: each writer reaps only ITS OWN `_staging-`
    // leftovers, never a concurrent task's live staging dir (the round-11
    // shape silently skipped the victim's bucket installs — data loss).
    ensureWriterLease(fs, root, writer)
    // reap staging leftovers from a killed batch with THIS token — under
    // the per-root lock nothing with this token is mid-write, so nothing
    // points at them
    val stagePrefix = s"_staging-${writerTag(writer)}-"
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath)
        .filter(_.getName.startsWith(stagePrefix))
        .foreach(p => fs.delete(p, true))
    val bkt = bk.exprOf(keys)
    val batchB = batch.withColumn("__gbkt", bkt).persist()
    val touched = batchB.select(col("__gbkt")).distinct()
      .collect().map(_.getLong(0)).sorted
    if (touched.isEmpty) { batchB.unpersist(); return }
    // resolve each touched bucket's newest COMPLETE generation and the
    // generation this batch will install (a partial leftover from a kill
    // is overwritten in place; see the kill-sim spec)
    val infos0 = touched.map { b =>
      val bDir = new Path(s"$stateDir/__gbkt=$b")
      val cur = latestGen(fs, bDir)
      val complete = fs.exists(new Path(cur, "_SUCCESS"))
      val next = if (complete) new Path(bDir, f"gen=${genNo(cur) + 1}%06d") else cur
      (b, complete, next)
    }
    // replay guard: a bucket whose current complete generation was
    // installed by THIS batch id already applied it — drop it from the
    // merge so a crash-replay never folds the same batch twice
    val already: Set[Long] = batchId match {
      case Some(id) => infos0.collect {
        case (b, true, next)
            if committedBatchId(fs,
              new Path(next.getParent, f"gen=${genNo(next) - 1}%06d"))
              .contains(id) => b
      }.toSet
      case None => Set.empty
    }
    val infos = infos0.filterNot(i => already.contains(i._1))
    if (infos.isEmpty) { batchB.unpersist(); return }
    val batchR =
      if (already.isEmpty) batchB
      else batchB.filter(!col("__gbkt").isin(already.toSeq: _*))
    val priors = infos.collect { case (_, true, next) =>
      new Path(next.getParent, f"gen=${genNo(next) - 1}%06d").toString
    }
    val priorDf =
      if (priors.isEmpty) None
      else Some(spark.read.parquet(priors.toIndexedSeq: _*))
    val merged = mergeWith match {
      case Some(f) => f(priorDf, batchR.drop("__gbkt"))
      case None => priorDf match {
        case Some(p) => Merge.upsert(p, batchR.drop("__gbkt"), keys)
        case None => batchR.drop("__gbkt")
      }
    }
    // one part file per bucket per generation: the tiny-files guard
    val parted = merged.withColumn("__gbkt", bkt)
      .repartition(bk.fixedWidth.getOrElse(infos.length), col("__gbkt"))
    val staging = new Path(root,
      stagePrefix + java.util.UUID.randomUUID().toString.take(8))
    parted.write.partitionBy("__gbkt").mode("overwrite").parquet(staging.toString)
    batchB.unpersist()
    infos.foreach { case (b, _, next) =>
      val src = new Path(staging, s"__gbkt=$b")
      // under the per-root lock + per-token staging namespace, a missing
      // staged dir has exactly ONE cause: the merge legitimately produced
      // ZERO rows for this touched bucket (a row-dropping mergeWith
      // drained it). Install an EMPTY generation — silently keeping the
      // old rows (the round-11 behavior) resurrects state the merge
      // deleted, and was also how a concurrent writer's reap turned into
      // silent data loss instead of a loud failure.
      if (!fs.exists(src)) {
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), merged.schema)
          .coalesce(1).write.mode("overwrite").parquet(src.toString)
        // drop the committer's own _SUCCESS: the protocol's _SUCCESS must
        // land AFTER _BATCHID (below) or a kill between rename and the
        // _BATCHID write leaves a complete-looking generation the replay
        // guard cannot recognize — a non-idempotent fold would re-apply
        fs.delete(new Path(src, "_SUCCESS"), false)
      }
      val bDir = next.getParent
      fs.mkdirs(bDir)
      if (fs.exists(next)) fs.delete(next, true) // partial leftover from a kill
      fs.rename(src, next)
      // _BATCHID lands BEFORE _SUCCESS: a generation is only ever
      // replay-skipped once it is complete, and a kill between the two
      // writes leaves an incomplete generation that replay overwrites
      batchId.foreach { id =>
        val o = fs.create(new Path(next, "_BATCHID"), true)
        try o.write(id.toString.getBytes("UTF-8")) finally o.close()
      }
      val ok = fs.create(new Path(next, "_SUCCESS"), true)
      ok.close()
      fs.listStatus(bDir).map(_.getPath)
        .filter(p => p.getName.startsWith("gen=") && genNo(p) < genNo(next))
        .foreach(p => fs.delete(p, true))
    }
    fs.delete(staging, true)
  }

  /** per-state-root JVM lock: serializes [[upsertBatch]] critical sections
    * for writers IN THIS PROCESS. Two tasks of one app (the ingest upsert
    * and the status drain on the same Transaction table) may share a
    * writer token; the token-based lease cannot order them — it only
    * rejects FOREIGN tokens — so the lock is what makes their staging /
    * generation installs non-interleaved. Cross-process writers must use
    * distinct tokens (the lease rejects them loudly); sharing one token
    * across processes is operator error the lease cannot see. */
  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(stateDir: String): Object =
    rootLocks.computeIfAbsent(new Path(stateDir).toString, _ => new Object)

  /** 8-hex digest of the writer token, used to namespace `_staging-` dirs
    * per writer: tokens are free-form (checkpoint paths), not dir-name
    * safe. The reap only matches this prefix, so a crash leftover is
    * reclaimed by its OWN writer and never by a sibling task mid-batch. */
  private[graft] def writerTag(writer: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(writer.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString

  /** the shared ownership token for direct batch callers (tests, adhoc
    * backfills) — they collide with each other only under deliberate
    * concurrent use, which a production backfill names explicitly. */
  val AdhocWriter = "adhoc"

  /** single-writer lease on a state root. [[upsertBatch]] reaps `_staging-*`
    * leftovers on entry, which is only safe if no OTHER writer is mid-batch
    * on the same root — previously an unenforced assumption (true under one
    * checkpointed foreachBatch, silently violated the moment an operator
    * points a second stream or a batch backfill at a live stream's state).
    * The lease turns that into a loud error: the first writer claims the
    * root by recording its token in `_graft_writer`; every later entry by
    * the SAME token (the normal per-micro-batch path, and crash-replay —
    * the app's tasks pass one fixed token that survives a restart)
    * proceeds; a DIFFERENT token fails fast before touching anything.
    * Handover (decommissioned stream →
    * backfill, pipeline upgrade under a new checkpoint) is explicit via
    * [[releaseLease]] — never inferred from timestamps, so there is no TTL
    * window in which two live writers both believe they own the root.
    * The claim uses create(overwrite=false): two racing first-claimers
    * cannot both succeed; the loser re-reads and errors. */
  private def ensureWriterLease(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, writer: String): Unit = {
    val marker = new Path(root, "_graft_writer")
    def ownerOf: String = {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
    }
    if (!fs.exists(marker)) {
      fs.mkdirs(root)
      val claimed =
        try {
          val o = fs.create(marker, false)
          try o.write(writer.getBytes("UTF-8")) finally o.close()
          true
        } catch { case _: java.io.IOException => false } // lost the race
      if (claimed) {
        // a successful CLAIM means no live writer exists on this root
        // (fresh root, or a post-releaseLease handover) — a `_staging-*`
        // dir of ANY tag is an orphan of a decommissioned writer. Reclaim
        // them all here, the one moment that is provably safe; steady-
        // state reaps are tag-scoped and never touch another task's dirs.
        fs.listStatus(root).map(_.getPath)
          .filter(_.getName.startsWith("_staging-"))
          .foreach(p => fs.delete(p, true))
        return
      }
    }
    val owner = ownerOf
    if (owner != writer) throw new IllegalStateException(
      s"state at $root is owned by writer '$owner', asked for '$writer' — " +
        "a second concurrent writer would reap the owner's live _staging-* " +
        "dirs; if the owner is decommissioned, hand over explicitly with " +
        "Pipelines.releaseLease(spark, stateDir)")
  }

  /** explicit lease handover: drop the `_graft_writer` marker so the NEXT
    * writer (a backfill over a decommissioned stream's state, a pipeline
    * upgrade under a new checkpoint) can claim the root. Deliberately the
    * only way ownership changes — see [[ensureWriterLease]]. */
  def releaseLease(spark: SparkSession, stateDir: String): Unit = {
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root, "_graft_writer"), false)
    ()
  }

  /** pin the state layout: the bucketing tag recorded on first write,
    * enforced forever after (changing the bucket count OR the layout kind
    * would strand rows in old buckets); a populated pre-marker
    * (flat-bucket) dir fails fast instead of being misread as empty
    * generations. A legacy integer marker reads as the hash layout it
    * always meant. */
  private def ensureBucketMarker(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, tag: String): Unit = {
    val marker = new Path(root, "_graft_buckets")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val raw = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
      val existing = if (raw.forall(_.isDigit)) s"n=$raw" else raw
      if (existing != tag) throw new IllegalStateException(
        s"state at $root is bucketed with $existing, asked for $tag — " +
          "changing the bucket layout strands rows; rewrite the state instead")
    } else if (fs.exists(root) &&
        fs.listStatus(root).exists(_.getPath.getName.startsWith("__gbkt="))) {
      throw new IllegalStateException(
        s"state at $root has bucket dirs but no _graft_buckets marker " +
          "(pre-generation flat layout?) — rewrite it through upsertBatch " +
          "into a fresh directory")
    } else {
      val o = fs.create(marker, true)
      try o.write(tag.getBytes("UTF-8")) finally o.close()
    }
  }

  /** read the bucket-partitioned state table back as its logical schema:
    * each bucket resolves to its newest COMPLETE generation, so a reader
    * racing a crash-interrupted swap sees the consistent previous state. */
  def readState(spark: SparkSession, stateDir: String): DataFrame = {
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("__gbkt="))
      .map(b => latestGen(fs, b))
      .filter(g => fs.exists(new Path(g, "_SUCCESS")))
      .map(_.toString)
    require(gens.nonEmpty, s"no complete state generations under $stateDir")
    spark.read.parquet(gens.toIndexedSeq: _*)
  }

  /** BUCKET-PRUNED state read: only the named buckets' newest complete
    * generations are listed, opened, or scanned. When the caller already
    * knows the keys it needs (the status drain, a point lookup), this is
    * the bucketed layout paying off on the READ side — touching k buckets
    * of n is O(k/n) of the table at any state size. Buckets with no
    * complete generation yet simply contribute nothing. */
  def readStateBuckets(spark: SparkSession, stateDir: String,
      buckets: Seq[Long]): Option[DataFrame] = {
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = buckets.distinct.sorted
      .map(b => new Path(root, s"__gbkt=$b"))
      .filter(fs.exists)
      .map(b => latestGen(fs, b))
      .filter(g => fs.exists(new Path(g, "_SUCCESS")))
      .map(_.toString)
    if (gens.isEmpty) None else Some(spark.read.parquet(gens.toIndexedSeq: _*))
  }

  /** read-modify-write a SMALL single-dir generation state (the running
    * dataset card, the status drain's pending queue): `f` receives the
    * current state (None before the first write) and returns the next,
    * which is written as the next `gen=` dir and swapped in — the same
    * crash discipline as the bucketed table, at table granularity, for
    * states bounded to ~queue size where bucketing would be overhead. */
  def swapSmallState(spark: SparkSession, dir: String)(
      f: Option[DataFrame] => DataFrame): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = if (fs.exists(root)) Some(latestGen(fs, root)).filter(g =>
      fs.exists(new Path(g, "_SUCCESS"))) else None
    val next = new Path(root, f"gen=${cur.map(genNo).getOrElse(-1L) + 1}%06d")
    f(cur.map(g => spark.read.parquet(g.toString)))
      .coalesce(1).write.mode("overwrite").parquet(next.toString)
    cur.foreach(g => fs.delete(g, true))
  }

  /** the newest complete small state written by [[swapSmallState]], if any. */
  def readSmallState(spark: SparkSession, dir: String): Option[DataFrame] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) None
    else Some(latestGen(fs, root)).filter(g => fs.exists(new Path(g, "_SUCCESS")))
      .map(g => spark.read.parquet(g.toString))
  }

  /** how many index runs may accumulate before the gate merges the
    * smallest ones (size-tiered compaction). Bounds the probe's
    * file/listing cost at streaming cadence — without it, batch N's probe
    * lists and opens O(N) parquet files — while never rewriting the whole
    * index in one job. */
  val CompactEvery = 16

  /** Running DATASET-CARD sink: fold a batch of admitted documents into the
    * per-language running summary at `cardDir` (docs, tokens, short-doc
    * count — the live form of the `tx_dataset_card` batch query). The merge
    * is ADDITIVE read-modify-write keyed by lang, written as a generation
    * dir swap (the [[readState]]/`latestGen` convention), so a reader
    * racing a crash sees the consistent previous card. Additive counters
    * are only correct if every document folds exactly once — which is
    * precisely what the admit gates guarantee downstream of `out` (their
    * replay guard drops re-delivered documents BEFORE they reach the
    * sink), so composing `cardSink` under a gate yields effectively-once
    * counting with no dedup state of its own (CurationStreamSpec pins the
    * replay case). The card is K rows; the batch side is one
    * map-side-combining rollup. Read it back with [[readSmallState]]. */
  def cardSink(spark: SparkSession, cardDir: String, batch: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    val inc = batch
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(when(col("n_tok") < 10, 1L).otherwise(0L)).as("n_short"))
    swapSmallState(spark, cardDir) {
      case Some(cur) =>
        cur.unionByName(inc)
          .groupBy(col("lang"))
          .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
            sum(col("n_short")).as("n_short"))
      case None => inc
    }
  }

  /** The one micro-batch body of the three run-index dedup admit gates
    * ([[nearDupGate]], [[embedDupGate]], [[imageDupGate]]). They differ
    * only in their id column `idCol`, their `index` builder (at most one
    * index row per input id), their `probe` (the ids the persisted index
    * flags, given the batch's index rows and the index) and their optional
    * first-wins `intraBatch` pass (the ids losing a tie to a lower id of
    * the same batch). Admitted rows flow to `out`, and their index rows
    * are APPENDED to the index so later batches dedup against everything
    * admitted so far.
    *
    * Index layout (size-tiered runs, LSM-shaped): the index rows are the
    * whole persisted index — the band and code tables the probes join on
    * are derived from them row-locally at probe time, so there is exactly
    * ONE index write per batch and no window where two index tables can
    * disagree after a crash. Each batch seals its admits as
    * `sig/run=<batchId>`; when more than `compactEvery` complete runs
    * exist, [[runCompaction]] merges the `compactEvery` SMALLEST into the
    * next `crun=` (dedup by id, inputs deleted only after the merged run
    * is complete). Sizes tier naturally, so merge work is bounded by the
    * small-run tier — the index is NEVER rewritten wholesale, and the run
    * count stays ≤ compactEvery+1. `compactEvery = 0` disables compaction;
    * `compactPhase`/`compactStride` stagger composed gates
    * ([[compactDue]]) and `compactAsync` moves the merge off the admit
    * path. Read the index back with [[readNearDupIndex]].
    *
    * Admission: a row drops iff the probe flags it, its id is already in
    * the index, or the intra-batch pass drops it. The admit set is drawn
    * from the index rows, so a row the index builder rejects never admits;
    * the `quarantine` tee, when given, receives exactly those rows.
    *
    * Replay semantics: a re-delivered batch finds its own index rows
    * already in the index, so every replayed row self-matches and nothing
    * admits twice — the index doubles as the effectively-once guard for
    * the admit stream. An explicit id-level guard (index ids semi-joined
    * against the broadcast batch id set) additionally drops a retried id
    * whose PAYLOAD changed between deliveries — that row would self-match
    * below the threshold and double-admit on the probe alone. Duplicate
    * ids inside one micro-batch collapse to a single row first — to a
    * DETERMINISTIC winner ([[dedupDeterministic]]), so a replay of a batch
    * that carried two payloads under one id admits and seals the same row
    * both times, and a run never holds two rows for one id (compaction's
    * id dedup relies on that). The id must be NON-NULL (the document-store
    * natural key, as in every reference collection): a null id matches
    * neither the drop set nor the replay guard, so its rows would
    * re-admit on every delivery. Same contract as the keyed upsert sinks.
    *
    * Crash story: the admitted index rows are STAGED to
    * `<indexDir>/staging` before `out` runs, and after `out` returns the
    * staging directory is RENAMED into the index as this batch's run
    * ([[sealRun]]) — one parquet write per batch (the rename is a
    * metadata op), and a cache eviction mid-batch can never recompute the
    * admit set against an index that already contains this batch's own
    * rows. Runs are named by batchId, so a replayed batch whose run is
    * already sealed writes nothing. (A crash between `out` and the seal
    * can re-emit one batch downstream; the transactional fix is the same
    * Delta/document-store swap described on [[upsertBatch]].) `out` must
    * consume its frame synchronously: the staged files it reads move into
    * the index when it returns.
    */
  private def runIndexGate(stream: DataFrame, indexDir: String,
      checkpointDir: String, out: DataFrame => Unit, idCol: String,
      index: DataFrame => DataFrame,
      probe: (DataFrame, DataFrame) => DataFrame,
      intraBatch: Option[DataFrame => DataFrame],
      quarantine: Option[DataFrame => Unit],
      compactEvery: Int, compactPhase: Int, compactStride: Int,
      compactAsync: Boolean): DataStreamWriter[org.apache.spark.sql.Row] = {
    val compacting = new java.util.concurrent.atomic.AtomicReference[Thread](null)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val sigBase = new Path(s"$indexDir/sig")
        val fs = sigBase.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // compaction cutover FIRST — before any plan lists run dirs
        promoteStaged(fs, sigBase, compacting)
        val runs = completeRuns(fs, sigBase)
        val rows = dedupDeterministic(batch.toDF(), idCol).persist()
        val newIdx = index(rows).persist()
        val ids = newIdx.select(col(idCol))
        quarantine.foreach(q => q(rows.join(ids, Seq(idCol), "left_anti")))
        val indexDropped =
          if (runs.nonEmpty) {
            val idx = spark.read.parquet(runs.map(_.toString): _*)
            val replayed = idx.select(col(idCol))
              .join(broadcast(ids), Seq(idCol), "left_semi")
            probe(newIdx, idx).union(replayed)
          } else ids.limit(0)
        val dropped = intraBatch.fold(indexDropped)(f => indexDropped.union(f(newIdx)))
        // pin the admit set to disk BEFORE any side effect: `out` and the
        // seal read this immutable copy (a sibling of sig, NOT dot-prefixed
        // — Spark readers ignore hidden paths, including their own)
        val staging = s"$indexDir/staging"
        newIdx.join(dropped, Seq(idCol), "left_anti")
          .write.mode("overwrite").parquet(staging)
        out(rows.join(spark.read.parquet(staging).select(col(idCol)), Seq(idCol)))
        sealRun(fs, sigBase, batchId, new Path(staging))
        if (compactEvery > 0 && compactDue(batchId, compactPhase, compactStride))
          runCompaction(spark, fs, sigBase, compactEvery, idCol,
            compactAsync, batchId, compacting)
        newIdx.unpersist(); rows.unpersist()
        ()
      }
  }

  /** Streaming near-dup admit gate — the continuous-ingest form of the
    * daily `dd_incremental_lsh` refresh, over the [[runIndexGate]] loop:
    * `(doc_id, text)` documents are MinHash-signed (TOTAL signatures — a
    * short document hashes its whole text, so nothing is silently lost)
    * and probed against the persisted signature runs
    * (TextOps.probeNearDupIndex over bands derived row-locally by
    * TextOps.bandTable — batch side broadcasts, index streams through
    * unshuffled). NearDupStreamSpec holds the file count under the bound
    * across 3.5× the run budget with verdicts identical to an uncompacted
    * run.
    *
    * `shuffleProbe = true` switches the index probe to the large-batch
    * path (TextOps.probeNearDupIndexShuffle over TextOps.bandIndex):
    * identical verdicts, but the micro-batch side is never broadcast — the
    * mode for ingest bursts past Spark's broadcast ceiling. The default
    * broadcast probe is the small-batch fast path. `intraBatch = true`
    * adds TextOps.intraBatchNearDups (first-wins, so exactly one of two
    * near-dups arriving in one batch admits); the default `false` matches
    * the daily-refresh semantics where the batch was already deduplicated
    * upstream.
    */
  def nearDupGate(stream: DataFrame, indexDir: String, checkpointDir: String,
      out: DataFrame => Unit, intraBatch: Boolean = false,
      compactEvery: Int = CompactEvery,
      shuffleProbe: Boolean = false,
      compactPhase: Int = 0, compactStride: Int = 1,
      compactAsync: Boolean = false): DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.TextOps
    runIndexGate(stream, indexDir, checkpointDir, out, "doc_id",
      TextOps.minhashSignaturesTotal,
      (newSig, sigIdx) =>
        (if (shuffleProbe)
          TextOps.probeNearDupIndexShuffle(newSig, TextOps.bandIndex(sigIdx))
        else TextOps.probeNearDupIndex(newSig, sigIdx, TextOps.bandTable(sigIdx)))
          .filter(col("is_neardup")).select(col("doc_id")),
      Option.when(intraBatch)(TextOps.intraBatchNearDups _), None,
      compactEvery, compactPhase, compactStride, compactAsync)
  }

  /** COMPACTION STAGGERING (round 14): when several gates compose into one
    * chain, their size-tier thresholds cross in the SAME batch (each gate
    * seals one run per batch), so all compactions land on one batch and
    * the composed batch_total p99 stacks every gate's compaction tail
    * (soak r13: 26.2 s composed vs ≤ 8.7 s per gate). A per-gate phase
    * token fixes it structurally: gate i compacts only on batches with
    * `batchId % stride == phase`, so distinct phases GUARANTEE at most one
    * gate compacts per batch. Deferral is ≤ stride−1 batches, so the run
    * count stays ≤ compactEvery + stride (still bounded, never a
    * whole-index rewrite). stride = 1 (the default) preserves the
    * single-gate behavior exactly. */
  private def compactDue(batchId: Long, phase: Int, stride: Int): Boolean =
    stride <= 1 || java.lang.Math.floorMod(batchId, stride.toLong) == phase.toLong

  /** collapse duplicate `key` rows of one micro-batch to a DETERMINISTIC
    * winner — the max over the struct of the remaining columns (strings and
    * arrays are totally ordered), so replays of the same logical batch
    * admit and seal the same payload even when an at-least-once source
    * re-sends an id with a CHANGED payload inside one batch (a plain
    * dropDuplicates keeps whichever row a task saw first). Same single
    * shuffle as dropDuplicates. */
  private def dedupDeterministic(df: DataFrame, key: String): DataFrame = {
    val others = df.columns.filterNot(_ == key)
    if (others.isEmpty) df.dropDuplicates(Seq(key))
    else df.groupBy(col(key))
      .agg(max(struct(others.toIndexedSeq.map(col): _*)).as("__payload"))
      .select(col(key) +: others.toIndexedSeq.map(c => col(s"__payload.`$c`").as(c)): _*)
  }

  private def genNo(p: Path): Long = p.getName.stripPrefix("gen=").toLong

  /** the batch id recorded in a complete generation dir, if any — the
    * replay guard [[upsertBatch]] consults before re-merging a bucket. */
  private def committedBatchId(fs: org.apache.hadoop.fs.FileSystem,
      gen: Path): Option[Long] = {
    val marker = new Path(gen, "_BATCHID")
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      val raw = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
      raw.toLongOption
    }
  }

  /** newest COMPLETE (`_SUCCESS`-marked) generation dir under `base`, or
    * `gen=000000` when none exists yet (the first append creates it). */
  private def latestGen(fs: org.apache.hadoop.fs.FileSystem, base: Path): Path = {
    val gens =
      if (fs.exists(base))
        fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
          .filter(_.getName.startsWith("gen="))
          .filter(p => fs.exists(new Path(p, "_SUCCESS")))
      else Array.empty[Path]
    if (gens.isEmpty) new Path(base, "gen=000000") else gens.maxBy(genNo)
  }

  private def runNo(p: Path): Long =
    p.getName.dropWhile(c => !c.isDigit).toLong

  /** seal one batch's admitted index rows as `run=<batchId>` by RENAMING
    * the already-written staging directory into place — a metadata op, not
    * a second parquet job (the staged files carry their `_SUCCESS`, so the
    * run is complete the instant the rename lands). Named by batchId, so a
    * replayed batch whose run already exists (complete) seals nothing
    * instead of appending duplicates; a partial run left by a kill between
    * delete and rename is invisible (no `_SUCCESS`) and replaced here. */
  private def sealRun(fs: org.apache.hadoop.fs.FileSystem, sigBase: Path,
      batchId: Long, staging: Path): Unit = {
    val runDir = new Path(sigBase, f"run=$batchId%012d")
    if (!fs.exists(new Path(runDir, "_SUCCESS"))) {
      if (fs.exists(runDir)) fs.delete(runDir, true)
      if (!fs.exists(sigBase)) fs.mkdirs(sigBase)
      if (!fs.rename(staging, runDir))
        throw new IllegalStateException(
          s"could not seal $runDir from staged admit set $staging")
    }
  }

  /** the COMPLETE (`_SUCCESS`-marked) runs of a tiered index directory —
    * per-batch `run=` seals plus merged `crun=` tiers. */
  private def completeRuns(fs: org.apache.hadoop.fs.FileSystem,
      base: Path): Seq[Path] =
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.startsWith("run=") || p.getName.startsWith("crun="))
      .filter(p => fs.exists(new Path(p, "_SUCCESS")))
      .toIndexedSeq

  /** the gate's persisted signature index as one DataFrame (all complete
    * runs — the same read set the probe uses). */
  def readNearDupIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val base = new Path(s"$indexDir/sig")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val runs = completeRuns(fs, base)
    require(runs.nonEmpty, s"no complete index runs under $indexDir/sig")
    spark.read.parquet(runs.map(_.toString): _*)
  }

  /** Size-tiered run compaction: when more than `k` complete runs exist,
    * merge the `k` smallest into the next `crun=` (`idCol`-dedup'd —
    * index rows are a function of the id, so this is exact and also heals
    * duplicates a crash left behind). Merge work is bounded by the small
    * tier; the whole index is never rewritten in one job.
    *
    * One stage/promote protocol for both modes (the Generations
    * discipline applied to runs): [[stageMerge]] writes the merged victims
    * to an INVISIBLE `stage-` dir (completeRuns only lists `run=`/`crun=`)
    * and marks it promotable by writing a `_VICTIMS` manifest as its LAST
    * act; [[promoteStaged]] renames the stage dir to the next `crun=` and
    * deletes exactly the manifest's victims. Nothing is ever deleted
    * before the merged data is complete, so a half-merge is garbage, never
    * loss. Sync (`async = false`, the default) stages and promotes inline
    * on the batch thread, which keeps the deterministic run-count bound
    * (≤ k+1) the stream specs pin.
    *
    * Async (round 15) runs only the MERGE on a daemon thread; the
    * VISIBILITY CUTOVER stays on the batch thread — r14's composed soak
    * still showed batch_total p99 = 2.04× the max single-gate p99 because
    * ONE text merge (~12.5 s) ran inline even after phase staggering
    * removed coincidence. The gate calls promoteStaged at BATCH START,
    * before any probe plan is built: a victim is never removed while a
    * probe scan that listed it is running (the failure mode a
    * merge-thread delete hits). The serving tier's concurrent reads keep
    * the same (pre-existing, sync-path) exposure.
    *
    * One merge in flight per gate: a still-running thread defers the next
    * trigger, so deferral is bounded by the merge wall and the run count
    * stays ≤ compactEvery + stride + the few batches a merge overlaps.
    * Crash/failure windows: a stage dir without its manifest is a dead
    * merge's debris — swept by promoteStaged once no merge is in flight;
    * a crash between rename and victim deletes leaves crun + victims both
    * visible, which only duplicates id-keyed rows (verdict joins
    * tolerate, the next merge's id-dedup heals). */
  private def runCompaction(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, base: Path, k: Int,
      idCol: String, async: Boolean, batchId: Long,
      inFlight: java.util.concurrent.atomic.AtomicReference[Thread]): Unit =
    if (!async) {
      stageMerge(spark, fs, base, k, idCol, batchId)
      promoteStaged(fs, base, inFlight)
    } else {
      val prev = inFlight.get()
      // one merge in flight AND no stage awaiting promote: a dead thread
      // whose manifest landed after this batch's promote pass would
      // otherwise let a second merge start, double-merging the same
      // victims (wasted work; the id-dedup would still heal the rows)
      if ((prev == null || !prev.isAlive) && stageDirs(fs, base).isEmpty) {
        val t = new Thread(
          () =>
            try stageMerge(spark, fs, base, k, idCol, batchId)
            catch {
              case e: Exception => System.err.println(
                s"[gate] async compaction of $base failed " +
                  s"(retries at next trigger): ${e.getMessage}")
            },
          s"gate-compact-${base.toUri.getPath.replace('/', '-')}")
        t.setDaemon(true)
        inFlight.set(t)
        t.start()
      }
    }

  private def stageDirs(fs: org.apache.hadoop.fs.FileSystem,
      base: Path): Seq[Path] =
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("stage-")).toIndexedSeq

  /** merge half of compaction: merge the k smallest complete
    * runs into an invisible `stage-b<batchId>` dir (UNIQUE per trigger —
    * the final `crun=` id is assigned at PROMOTE time on the serialized
    * batch thread, so two merges racing a promote can never collide on a
    * name and nest one dir inside the other, which is what a Hadoop
    * local rename onto an existing directory does); the `_VICTIMS`
    * manifest (victim dir names, one per line) written LAST marks the
    * stage promotable. */
  private def stageMerge(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, base: Path, k: Int,
      idCol: String, batchId: Long): Unit = {
    val runs = completeRuns(fs, base)
    if (runs.size <= k) return
    val victims = runs
      .map(p => p -> fs.getContentSummary(p).getLength)
      .sortBy(_._2).take(k).map(_._1)
    val stage = new Path(base, f"stage-b$batchId%012d")
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    spark.read.parquet(victims.map(_.toString): _*)
      .dropDuplicates(idCol)
      .coalesce(n)
      .write.mode("overwrite").parquet(stage.toString)
    val out = fs.create(new Path(stage, "_VICTIMS"), true)
    try out.write(victims.map(_.getName).mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** batch-thread half of compaction, called at batch start BEFORE any
    * probe plan is built (and inline after a sync [[stageMerge]]): promote
    * every manifest-complete stage dir — assign it the next free `crun=` id (this thread is the only renamer, so the id is
    * unique by construction), rename, then delete exactly the manifest's
    * victims — and sweep manifest-less debris once its merge thread is
    * provably dead. */
  private def promoteStaged(fs: org.apache.hadoop.fs.FileSystem, base: Path,
      inFlight: java.util.concurrent.atomic.AtomicReference[Thread]): Unit =
    stageDirs(fs, base).foreach { stage =>
      val manifest = new Path(stage, "_VICTIMS")
      if (fs.exists(manifest) && fs.exists(new Path(stage, "_SUCCESS"))) {
        val in = fs.open(manifest)
        val victims =
          try new String(in.readAllBytes(), "UTF-8").split("\n").toSeq
          finally in.close()
        val nextId = completeRuns(fs, base)
          .filter(_.getName.startsWith("crun=")) match {
          case s if s.isEmpty => 0L
          case s => s.map(runNo).max + 1
        }
        fs.delete(manifest, false) // a promoted crun carries no manifest
        fs.rename(stage, new Path(base, f"crun=$nextId%012d"))
        victims.filter(_.nonEmpty)
          .foreach(v => fs.delete(new Path(base, v), true))
      } else {
        val t = inFlight.get()
        if (t == null || !t.isAlive) fs.delete(stage, true)
      }
    }

  /** Streaming EMBEDDING dedup admit gate — the vector mirror of
    * [[nearDupGate]] over the [[runIndexGate]] loop: `(vec_id, embedding)`
    * rows are quantized into the (qarr, nrm) index layout
    * (VectorOps.embeddingIndex — total, one row per vector; the
    * multi-table sign codes are derived row-locally at probe time by
    * VectorOps.embedCodeTable) and probed against the persisted index
    * (VectorOps.probeEmbedIndex — corpus streams through its code join
    * unshuffled, batch side broadcasts, exact integer-cosine verify at
    * `threshold`).
    *
    * `shuffleProbe = true` switches to VectorOps.probeEmbedIndexShuffle:
    * identical verdicts, but the micro-batch side is never broadcast — the
    * mode for embedding-ingest bursts past Spark's broadcast ceiling,
    * mirroring [[nearDupGate]]'s flag (EmbedDupStreamSpec pins cross-mode
    * admit-set equality). `intraBatch = true` adds the first-wins
    * within-batch pass (VectorOps.intraBatchEmbedDups). */
  def embedDupGate(stream: DataFrame, indexDir: String, checkpointDir: String,
      out: DataFrame => Unit, threshold: Double = 0.95,
      intraBatch: Boolean = false,
      compactEvery: Int = CompactEvery,
      shuffleProbe: Boolean = false,
      compactPhase: Int = 0, compactStride: Int = 1,
      compactAsync: Boolean = false): DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.VectorOps
    runIndexGate(stream, indexDir, checkpointDir, out, "vec_id",
      VectorOps.embeddingIndex,
      (newIdx, idx) =>
        (if (shuffleProbe) VectorOps.probeEmbedIndexShuffle(newIdx, idx, threshold)
         else VectorOps.probeEmbedIndex(newIdx, idx, threshold))
          .filter(col("is_dup")).select(col("vec_id")),
      Option.when(intraBatch)(VectorOps.intraBatchEmbedDups(_, threshold)), None,
      compactEvery, compactPhase, compactStride, compactAsync)
  }

  /** Streaming IMAGE dedup admit gate — the multimodal third of the
    * dedup-gate family over the [[runIndexGate]] loop: `(img_id, media)`
    * rows are hashed into the slim (img_id, ph) perceptual-hash index
    * layout (ImageDup.imageIndex — one codegen'd phash16 per payload,
    * unparseable payloads dropped) and probed against the persisted index
    * (ImageDup.probeImageIndex — corpus streams through the band join
    * unshuffled, batch bands broadcast, exact bit_count hamming verify at
    * `maxHamming`). An identical payload re-sent under its old id
    * collides with itself at hamming 0. `intraBatch = true` adds the
    * first-wins within-batch pass (ImageDup.intraBatchImageDups). */
  def imageDupGate(stream: DataFrame, indexDir: String, checkpointDir: String,
      out: DataFrame => Unit, maxHamming: Long = graft.operators.ImageDup.MaxHamming,
      intraBatch: Boolean = false,
      compactEvery: Int = CompactEvery,
      /** optional DLQ tee: rows whose payload the hash stage rejects
        * (wrong container, truncated pixels) — the image mirror of the
        * text pipeline's quarantine path. Default keeps the round-12
        * drop-silently contract. */
      quarantine: Option[DataFrame => Unit] = None,
      compactPhase: Int = 0, compactStride: Int = 1,
      compactAsync: Boolean = false): DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.ImageDup
    runIndexGate(stream, indexDir, checkpointDir, out, "img_id",
      ImageDup.imageIndex,
      (newIdx, idx) => ImageDup.probeImageIndex(newIdx, idx, maxHamming)
        .filter(col("is_dup")).select(col("img_id")),
      Option.when(intraBatch)(ImageDup.intraBatchImageDups(_, maxHamming)),
      quarantine, compactEvery, compactPhase, compactStride, compactAsync)
  }

  /** Streaming DSIR admission — the production deployment shape of
    * importance resampling: the weight table is trained OFFLINE
    * (QualityOps.writeDsirWeights, ≤512 rows) and applied FROZEN in the
    * ingest stream, so admission decisions are reproducible across the
    * whole run and never drift with the arriving distribution (retraining
    * is an explicit new artifact, not a side effect of ingest). Per batch:
    * the shared dsirFeatures/dsirScore definitions (one narrow tokenize
    * map + one batch-local (doc_id, f) agg + a broadcast join against the
    * frozen table), then admit iff score >= thrPerTokMicro · n_tok — the
    * integer per-token threshold form, so the gate agrees bitwise with the
    * batch computation on any batching (DsirStreamSpec). */
  def dsirGate(stream: DataFrame, weightsDir: String, checkpointDir: String,
      thrPerTokMicro: Long,
      out: DataFrame => Unit): DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.QualityOps
    // load once: the frozen artifact is bounded at 512 rows by construction
    val weights = stream.sparkSession.read.parquet(weightsDir).persist()
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val docs = dedupDeterministic(batch.toDF(), "doc_id").persist()
        val scored = QualityOps.dsirScore(
          QualityOps.dsirFeatures(docs.select(col("doc_id"), col("text")), Seq()),
          weights)
        out(docs.join(
          scored.filter(col("score") >= lit(thrPerTokMicro) * col("n_tok")),
          Seq("doc_id")))
        docs.unpersist()
        ()
      }
  }

  /** S12 cursor advance WITH audit history (scan_raw_txs.py:132-137): the
    * reference upserts the single `moc_indexer` cursor doc and keeps an
    * append-only `moc_indexer_history` of every advance. Same here: the
    * conformed one-row doc overwrites the singleton and appends to the
    * history table (schemas core/Schemas.mocIndexer/.mocIndexerHistory).
    * Structured Streaming's checkpoint log already subsumes the cursor for
    * recovery — the history table is the operator-facing audit trail.
    *
    * `historyRetain` (round 12 — the 600-batch soak's watch item): the
    * append-only default accumulates ~1 part file per advance FOREVER,
    * which at the reference's 3-10 s cadence is ~10 M files/year. With
    * `Some(n)` the newest n advances are retained and the history dir is
    * COMPACTED once it drifts past 2n files — the S10 retention-delete
    * discipline applied to the audit trail (the reference's own precedent
    * for bounded history: mocsettlement.py:420-429). None preserves the
    * reference's append-only parity. */
  def advanceCursor(spark: SparkSession, baseDir: String, cursor: DataFrame,
      historyRetain: Option[Int] = None): Unit = {
    val doc = graft.core.Schemas.conformSparse(cursor, graft.core.Schemas.mocIndexer)
    // pin the single row once: a cursor computed from a live source must
    // not re-execute per write, or the history row could differ from the
    // singleton it claims to record
    val rows = doc.limit(2).collect()
    require(rows.length == 1, "cursor advance writes exactly one document")
    val one = spark.createDataFrame(
      java.util.Collections.singletonList(rows(0)), doc.schema)
    one.write.mode("overwrite").parquet(s"$baseDir/moc_indexer")
    one.write.mode("append").parquet(s"$baseDir/moc_indexer_history")
    historyRetain.foreach(compactCursorHistory(spark, baseDir, _))
  }

  /** compact the cursor-history dir down to its newest `retain` rows.
    * Amortized: runs only past 2·retain data files, so n appends share one
    * read-rewrite cycle. Crash-safe by SELF-HEALING rather than by an
    * atomic dir swap: the compacted file is installed into the live dir
    * FIRST and the old part files deleted after, so the only crash residue
    * is full-row duplicates (old + compacted copies of the same rows) —
    * removed by the next compaction's exact-row dropDuplicates. A dir swap
    * would instead open a no-history window for concurrent readers.
    * Runs inside the single-writer streaming task, so no write races. */
  private def compactCursorHistory(
      spark: SparkSession, baseDir: String, retain: Int): Unit = {
    val n = math.max(1, retain)
    val dir = new Path(s"$baseDir/moc_indexer_history")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return
    // reclaim a dead compaction's temp dir (crash before install)
    fs.listStatus(new Path(baseDir)).map(_.getPath)
      .filter(_.getName.startsWith(".history-compact-"))
      .foreach(p => fs.delete(p, true))
    val parts = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    if (parts.length <= 2 * n) return
    val keep = spark.read.parquet(dir.toString)
      // exact-row dedup heals a previous compaction's crash-window
      // duplicates; legitimate same-block advances differ in updatedAt
      .dropDuplicates()
      .orderBy(col("block_number").desc, col("updatedAt").desc)
      .limit(n)
    val name = s"compact-${java.util.UUID.randomUUID().toString.take(8)}"
    val tmp = new Path(baseDir, s".history-$name")
    keep.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val data = fs.listStatus(tmp).map(_.getPath)
      .find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException("compaction wrote no part file"))
    // install first, delete after — see the self-healing note above
    fs.rename(data, new Path(dir, s"$name.parquet"))
    parts.foreach(p => fs.delete(p, false))
    fs.delete(tmp, true)
  }
}
