package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.Trigger

/** Scheduler cadence + liveness monitoring — SURVEY.md §2.9 T1/T8.
  *
  * T1: the reference's per-task poll intervals
  * (settings/settings-moc-mainnet2.json:8-16 — 3 s blocks, 4 s events,
  * 10 s prices/state/status, 60 s reprocess) map one-to-one onto
  * Structured Streaming `Trigger.ProcessingTime` per query; single-flight
  * execution and the 180 s per-task timeout are inherent to the
  * micro-batch model (a batch never overlaps itself; stuck batches
  * surface through the listener below instead of a thread-pool kill).
  */
object Triggers {
  val Blocks: Trigger = Trigger.ProcessingTime("3 seconds")
  val Events: Trigger = Trigger.ProcessingTime("4 seconds")
  val Prices: Trigger = Trigger.ProcessingTime("10 seconds")
  val State: Trigger = Trigger.ProcessingTime("10 seconds")
  val Status: Trigger = Trigger.ProcessingTime("10 seconds")
  val Reprocess: Trigger = Trigger.ProcessingTime("60 seconds")

  /** config-driven cadence: `tasks.<name>.interval` from the resolved
    * settings doc (graft.core.Config — the reference reads the same block,
    * tasks.py via config_parser), falling back to the pinned default when
    * the settings doc omits the task. */
  def forTask(cfg: graft.core.Config.Resolved, task: String,
      default: Trigger): Trigger =
    cfg.taskIntervalSeconds(task)
      .map(s => Trigger.ProcessingTime(s"$s seconds"))
      .getOrElse(default)
}

/** T8 chain-head liveness watchdog (indexer/scan_utils.py:17-58: alarm +
  * reconnect when the head stops advancing between runs), re-expressed as
  * a `StreamingQueryListener`: every query progress reports its max
  * observed head; `stalled` answers whether a source has stopped advancing
  * for more than `staleAfterMs` of wall-clock. The alarm/reconnect action
  * is the caller's (ops hook) — the listener only detects, mirroring the
  * reference's split between detection and the CloudWatch alarm.
  */
final class HeadLivenessListener(staleAfterMs: Long = 180000L,
    clock: () => Long = () => System.currentTimeMillis()) extends StreamingQueryListener {

  private final case class Seen(head: Long, atMs: Long)
  private val lastSeen = new ConcurrentHashMap[String, Seen]()

  /** record a head observation for a named pipeline (called from
    * foreachBatch or a progress-event extractor). */
  def observe(pipeline: String, head: Long): Unit = {
    val now = clock()
    lastSeen.compute(pipeline, (_, prev) =>
      if (prev == null || head > prev.head) Seen(head, now)
      else prev)
  }

  /** true when the pipeline's head has not advanced within staleAfterMs. */
  def stalled(pipeline: String): Boolean = {
    val seen = lastSeen.get(pipeline)
    seen != null && clock() - seen.atMs > staleAfterMs
  }

  def headOf(pipeline: String): Option[Long] =
    Option(lastSeen.get(pipeline)).map(_.head)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    // batchId is a monotonic progress proxy when no domain head is wired in
    observe(e.progress.name match { case null => e.progress.id.toString; case n => n },
      e.progress.batchId)
  }
}
