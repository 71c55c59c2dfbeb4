package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters.IteratorHasAsScala

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The GENERATION protocol of the streaming OHLC candle state
  * (CandleStream): each micro-batch writes its merged state to a fresh
  * `gen=<batchId>` directory and then atomically moves a `LATEST` marker
  * file pointing at it.
  *
  * Properties the protocol buys, independent of what the state is:
  *  - **Replay idempotence**: the merge input for batch N is the newest
  *    committed generation STRICTLY BEFORE N ([[before]]) — a redelivered
  *    batch starts from the state before itself (never from its own
  *    output, which would double-count) and overwrites `gen=N` with
  *    identical content.
  *  - **Monotonic visibility**: [[commit]] never moves the marker
  *    backwards — a straggler replay of an old batch id after newer
  *    generations committed rewrites its gen dir but cannot regress the
  *    served state.
  *  - **Atomic cut-over**: readers resolve the marker to a fully-written
  *    directory; a crash mid-write leaves the previous generation live.
  *
  * Reference analog: the bucketed-upsert discipline of the indexer's
  * scan loop (scan_raw_txs.py checkpoint advance), generalized from a
  * scalar cursor to whole state tables.
  */
object Generations {

  private def markerPath(dir: String) = Paths.get(dir, "LATEST")

  /** COMMIT sentinel (round 12): written into a `gen=N` dir by [[promote]]
    * BEFORE the marker moves. [[stage]] writes plain `gen=` dirs that are
    * indistinguishable from committed ones by name alone — without the
    * sentinel, a staged-but-unpromoted artifact sitting on a live stream's
    * root would be resolved by [[before]] as a crash-replay's merge input
    * the moment the stream's batch ids pass it (regressing or
    * double-counting state). The write order matters: sentinel first,
    * marker second — a crash between the two leaves a committed-but-
    * unserved generation (harmless: [[before]] of the replayed batch
    * filters strictly-below and the replay overwrites it), while the
    * reverse order could leave a SERVED generation that [[before]] skips,
    * making the next batch merge from two generations back. */
  private val CommittedSentinel = "_GRAFT_COMMITTED"

  private def isCommitted(dir: String, gen: Long): Boolean =
    Files.exists(Paths.get(dir, s"gen=$gen", CommittedSentinel))

  /** generations retained BELOW the marker (round 12, was 1): with a
    * single floor generation, two promotes in quick succession could
    * delete a generation a live reader resolved just before the first
    * advance — and a gate's best-effort persist() pin can be evicted
    * under memory pressure and recompute from the now-deleted parquet.
    * Keeping two defers every deletion by one full promote cycle: a
    * reader must sleep through TWO swaps before its files can vanish. */
  private val RetireFloor = 2

  /** generation number the marker currently points at, if any. */
  def markerGen(dir: String): Option[Long] = {
    val m = markerPath(dir)
    if (!Files.exists(m)) None
    else {
      val p = Files.readString(m).trim
      val i = p.lastIndexOf("gen=")
      if (i < 0) None else p.drop(i + 4).toLongOption
    }
  }

  /** the committed generation directory the marker points at, if any. */
  def latestDir(dir: String): Option[String] = {
    val m = markerPath(dir)
    if (Files.exists(m)) Some(Files.readString(m).trim) else None
  }

  /** the newest COMMITTED generation directory strictly before `batchId` —
    * the merge input that makes a batch replay idempotent. "Committed"
    * means the [[promote]]-written sentinel is present: a plain listing
    * cannot tell a [[stage]]d artifact (or a dying writer's half-written
    * dir) from a committed generation, and resolving either as a merge
    * input would regress or double-count state. */
  def before(dir: String, batchId: Long): Option[String] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return None
    // toLongOption, not toLong: a stray non-numeric `gen=...` entry (a
    // half-cleaned temp dir, a hand-placed marker) must be SKIPPED — a
    // NumberFormatException here would crash every subsequent micro-batch
    // of every gate sharing the state root (markerGen parses the same way)
    val gens = scala.util.Using.resource(Files.list(d)) { st =>
      st.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("gen="))
        .flatMap(_.drop(4).toLongOption)
        .filter(g => g < batchId && isCommitted(dir, g)).toSeq
    }
    if (gens.isEmpty) None else Some(s"$dir/gen=${gens.max}")
  }

  /** write `state` as generation `batchId` and advance the marker —
    * unless the marker already points at a NEWER generation. */
  def commit(state: DataFrame, dir: String, batchId: Long): Unit = {
    stage(state, dir, batchId)
    promote(dir, batchId)
  }

  /** write `state` as generation `batchId` WITHOUT advancing the marker —
    * the "build the new artifact beside the old" half of a
    * review-then-swap workflow: readers keep resolving the old generation
    * until an explicit [[promote]], so the staged artifact can be
    * validated (e.g. admit-set drift on a holdout) against live state
    * first. A crash between stage and promote leaves the old generation
    * serving and the staged dir inert (a re-stage overwrites it). A
    * staged dir carries NO commit sentinel, so [[before]] never resolves
    * it as a merge input even once the stream's batch ids pass it. */
  def stage(state: DataFrame, dir: String, batchId: Long): Unit =
    state.write.mode("overwrite").parquet(s"$dir/gen=$batchId")

  /** atomically advance the marker to generation `batchId` — the swap half
    * of stage-then-promote. Monotonic like [[commit]]: never moves the
    * marker backwards, so a straggler promote of an old generation after a
    * newer one committed is a no-op for the marker — but the commit
    * SENTINEL is still (re)written: a straggler replay's stage() wiped the
    * original sentinel with its mode=overwrite rewrite, and leaving the
    * dir unmarked would hide a genuinely committed generation from
    * [[before]]. */
  def promote(dir: String, batchId: Long): Unit = {
    val genDir = s"$dir/gen=$batchId"
    // sentinel BEFORE marker — see [[CommittedSentinel]] for why this
    // order is the crash-safe one
    if (Files.isDirectory(Paths.get(genDir)))
      Files.writeString(Paths.get(genDir, CommittedSentinel), "")
    if (markerGen(dir).forall(batchId >= _)) {
      val tmp = Paths.get(dir, s".LATEST.$batchId")
      Files.createDirectories(Paths.get(dir))
      Files.writeString(tmp, genDir)
      Files.move(tmp, markerPath(dir), StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      retire(dir, batchId)
    }
  }

  /** generation RETIREMENT (round 11 — found by the 600-batch soak, which
    * measured the candle state holding ALL 600 generation dirs): after a
    * marker advance, delete generations strictly OLDER than the newly
    * promoted one EXCEPT the newest [[RetireFloor]] of them. What stays:
    * the live generation (readers resolve it), [[RetireFloor]] below it
    * (the merge input a crash-replay of the current batch re-reads via
    * [[before]], and the floor under racing readers), and any STAGED
    * generations above the marker (a review-then-swap artifact must never
    * be reaped by the stream it is about to replace). Never runs on a
    * no-op straggler promote. */
  private def retire(dir: String, cur: Long): Unit = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return
    val below = scala.util.Using.resource(Files.list(d)) { st =>
      st.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("gen="))
        .flatMap(_.drop(4).toLongOption)
        .filter(_ < cur).toSeq.sorted
    }
    below.dropRight(RetireFloor).foreach { g =>
      val gd = Paths.get(s"$dir/gen=$g")
      scala.util.Using.resource(Files.walk(gd)) { st =>
        st.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { Files.deleteIfExists(p); () })
      }
    }
  }

  /** read the current committed state, or None before the first commit. */
  def current(spark: SparkSession, dir: String): Option[DataFrame] =
    latestDir(dir).map(spark.read.parquet(_))
}
