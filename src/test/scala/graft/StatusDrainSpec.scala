package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventUnion
import graft.streaming.{Pipelines, StatusDrain}

/** The status-update loop: rows stamped `confirming` at write time flip to
  * `confirmed` as the head advances — via the window-bounded pending queue
  * and bucket-pruned state rewrite, never a table rescan.
  */
class StatusDrainSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def eventsDf(ids: Seq[Long]) = ids.map { i =>
    (i, i % 7, "purchase",
      new java.sql.Timestamp(1700000000000L + i * 1000), 10.0 + i,
      s"""{"k":$i}""")
  }.toDF("event_id", "user_id", "event_type", "ts", "value", "props")

  private def ingest(stateRoot: String, ids: Seq[Long], head: Long): Unit = {
    val tx = EventUnion.canonical(eventsDf(ids),
      spark.range(1).select(lit(head).as("h"))).persist()
    Pipelines.upsertBatch(spark, s"$stateRoot/Transaction", tx, StatusDrain.Keys)
    StatusDrain.appendPending(spark, stateRoot, tx)
    tx.unpersist()
    ()
  }

  test("ripe pending rows flip to confirmed as the head advances; queue shrinks") {
    val root = Files.createTempDirectory("graft-status").toString
    // batch 1 at head 20: ids 1-20 → ids ≤ 9 confirmed at write, 10-20 pending
    ingest(root, 1L to 20L, head = 20L)
    // generation dirs retire on rewrite — materialize every number BEFORE
    // the drain; a lazy frame over a retired generation re-reads deleted files
    val st1 = Pipelines.readState(spark, s"$root/Transaction")
    val nConfirming1 = st1.filter(col("status") === "confirming").count()
    val nTotal1 = st1.count()
    assert(nConfirming1 > 0)
    val nPend1 = Pipelines.readSmallState(spark, StatusDrain.pendingDir(root)).get.count()
    assert(nPend1 === nConfirming1, "the queue holds exactly the confirming keys")

    // head advances to 40 with no new events for ids 10-20 — drain flips
    // every pending row whose depth is now past the threshold
    val flipped = StatusDrain.drain(spark, root, head = 40L)
    assert(flipped === nPend1, s"all $nPend1 pending rows were ripe at head 40")
    val st2 = Pipelines.readState(spark, s"$root/Transaction")
    assert(st2.filter(col("status") === "confirming").count() === 0)
    assert(st2.count() === nTotal1, "a drain rewrites rows, never adds or drops")
    assert(Pipelines.readSmallState(spark, StatusDrain.pendingDir(root)).get.count() === 0,
      "drained keys leave the queue")

    // idempotence: draining again is a no-op
    assert(StatusDrain.drain(spark, root, head = 40L) === 0L)
  }

  test("a drain touches only the ripe keys' buckets") {
    val root = Files.createTempDirectory("graft-status2").toString
    ingest(root, 1L to 40L, head = 40L) // ids ≤ 29 confirmed, 30-40 pending
    def snapshot(): Map[String, Long] = {
      val base = java.nio.file.Paths.get(s"$root/Transaction")
      val it = java.nio.file.Files.walk(base).iterator()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(p => java.nio.file.Files.isRegularFile(p)
          && p.getFileName.toString.endsWith(".parquet"))
        .map(p => base.relativize(p).toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    }
    val touched = Pipelines.readSmallState(spark, StatusDrain.pendingDir(root)).get
      .filter(lit(60L) - col("event_id") > StatusDrain.Depth)
      .select(Pipelines.Bucketing.hash().exprOf(StatusDrain.Keys).as("b"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(touched.nonEmpty && touched.size < Pipelines.StateBuckets,
      "test needs a proper subset of buckets to be ripe")
    val before = snapshot()
    StatusDrain.drain(spark, root, head = 60L)
    val after = snapshot()
    val untouchedChanged = after.filter { case (path, t) =>
      val b = path.split("/").head.stripPrefix("__gbkt=").toLong
      !touched.contains(b) && before.get(path) != Some(t)
    }
    assert(untouchedChanged.isEmpty,
      s"buckets outside the ripe set must not be rewritten: $untouchedChanged")
  }

  test("partial ripeness: only past-depth keys drain, the rest stay queued") {
    val root = Files.createTempDirectory("graft-status3").toString
    ingest(root, 1L to 20L, head = 20L) // event_ids 10-20 pending
    // one event can fan out to several Transaction LEGS (e.g. RiskProMint +
    // RiskProxMint), so expectations count pending KEYS, not event ids
    val nRipeKeys = Pipelines.readSmallState(spark, StatusDrain.pendingDir(root)).get
      .filter(lit(25L) - col("event_id") > StatusDrain.Depth).count()
    val flipped = StatusDrain.drain(spark, root, head = 25L) // ripe: id < 15
    assert(flipped === nRipeKeys && nRipeKeys > 0)
    val left = Pipelines.readSmallState(spark, StatusDrain.pendingDir(root)).get
      .select(col("event_id")).distinct().as[Long].collect().sorted
    assert(left.toSeq === (15L to 20L),
      "still-shallow keys remain queued for the next tick")
  }
}
