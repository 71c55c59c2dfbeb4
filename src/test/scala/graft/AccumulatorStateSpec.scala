package graft

import java.nio.file.{Files, Path => JPath, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Pipelines

/** Accumulator state: `upsertBatch(mergeWith = fold)` folds the batch onto
  * the prior rows INSIDE the single merge job (one state read per batch —
  * no full-state read followed by a touched re-read), and the `_BATCHID`
  * replay guard makes the non-idempotent fold effectively-once: a replayed
  * batch re-merges ONLY the buckets the first attempt didn't finish
  * swapping, never double-folding one that did. This is the balance /
  * running-count state shape (the UserState balance refresh).
  */
class AccumulatorStateSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** the E2E balance fold: prior + delta through DecimalType, untouched
    * rows pass through the `when` unchanged. */
  private val fold: (Option[DataFrame], DataFrame) => DataFrame = {
    case (Some(st), d) => st.join(d, Seq("k"), "full_outer")
      .select(col("k"),
        when(col("delta").isNull, col("bal"))
          .otherwise((coalesce(col("bal").cast(DecimalType(38, 4)),
            lit(0).cast(DecimalType(38, 4))) + col("delta"))
            .cast(DoubleType)).as("bal"))
    case (None, d) =>
      d.select(col("k"), col("delta").cast(DoubleType).as("bal"))
  }

  private def delta(rows: Seq[(Long, Double)]): DataFrame =
    rows.toDF("k", "delta")
      .select(col("k"), col("delta").cast(DecimalType(38, 4)).as("delta"))

  private def balances(dir: String): Map[Long, Double] =
    Pipelines.readState(spark, dir).as[(Long, Double)].collect().toMap

  test("deltas fold onto priors in the merge; absent keys keep exact balances") {
    val dir = Files.createTempDirectory("graft-acc").toString + "/state"
    Pipelines.upsertBatch(spark, dir, delta((1L to 10L).map(_ -> 1.5)),
      Seq("k"), mergeWith = Some(fold), batchId = Some(0L))
    Pipelines.upsertBatch(spark, dir, delta((6L to 15L).map(_ -> 2.0)),
      Seq("k"), mergeWith = Some(fold), batchId = Some(1L))
    val got = balances(dir)
    assert(got.size === 15)
    (1L to 5L).foreach(k => assert(got(k) === 1.5, s"k=$k"))
    (6L to 10L).foreach(k => assert(got(k) === 3.5, s"k=$k"))
    (11L to 15L).foreach(k => assert(got(k) === 2.0, s"k=$k"))
  }

  test("replaying a batch id is a no-op — the fold never double-counts") {
    val dir = Files.createTempDirectory("graft-acc2").toString + "/state"
    val b0 = delta((1L to 20L).map(_ -> 1.0))
    val b1 = delta((1L to 20L).map(_ -> 2.0))
    Pipelines.upsertBatch(spark, dir, b0, Seq("k"),
      mergeWith = Some(fold), batchId = Some(0L))
    Pipelines.upsertBatch(spark, dir, b1, Seq("k"),
      mergeWith = Some(fold), batchId = Some(1L))
    val before = balances(dir)
    assert(before.values.forall(_ === 3.0))
    // at-least-once delivery replays the whole batch after a crash
    Pipelines.upsertBatch(spark, dir, b1, Seq("k"),
      mergeWith = Some(fold), batchId = Some(1L))
    assert(balances(dir) === before, "replay must not re-fold any bucket")
  }

  private def md5s(dir: String): Map[String, String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val base = Paths.get(dir)
    val it = Files.walk(base).iterator()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(p => Files.isRegularFile(p)
        && p.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        md.reset()
        base.relativize(p).toString ->
          md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
      }.toMap
  }

  private def copyTree(src: JPath, dst: JPath): Unit = {
    val it = Files.walk(src).iterator()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t) }
    }
  }

  private def deleteTree(p: JPath): Unit = if (Files.exists(p)) {
    val it = Files.walk(p).sorted(java.util.Comparator.reverseOrder[JPath]())
      .iterator()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .foreach(Files.delete)
  }

  test("a crash between bucket swaps replays only the unswapped buckets") {
    val root = Files.createTempDirectory("graft-acc3").toString
    val dir = s"$root/state"
    val b0 = delta((0L until 64L).map(_ -> 1.0))
    val b1 = delta((0L until 64L).map(_ -> 2.0))
    Pipelines.upsertBatch(spark, dir, b0, Seq("k"),
      mergeWith = Some(fold), batchId = Some(0L))
    // snapshot the post-batch-0 state, then apply batch 1 fully
    val snap = Paths.get(s"$root/snap")
    copyTree(Paths.get(dir), snap)
    Pipelines.upsertBatch(spark, dir, b1, Seq("k"),
      mergeWith = Some(fold), batchId = Some(1L))
    assert(balances(dir).values.forall(_ === 3.0))
    // simulate a kill after SOME bucket swaps: roll two buckets back to
    // their batch-0 generation (exactly what an unswapped bucket holds)
    val rolledBack = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__gbkt="))
      .map(_.getName).sorted.take(2)
    rolledBack.foreach { b =>
      deleteTree(Paths.get(s"$dir/$b"))
      copyTree(snap.resolve(b), Paths.get(s"$dir/$b"))
    }
    val swappedBefore = md5s(dir).filter(p =>
      !rolledBack.exists(b => p._1.startsWith(s"$b/")))
    // the at-least-once replay of batch 1
    Pipelines.upsertBatch(spark, dir, b1, Seq("k"),
      mergeWith = Some(fold), batchId = Some(1L))
    val got = balances(dir)
    assert(got.size === 64 && got.values.forall(_ === 3.0),
      "replay must re-fold exactly the rolled-back buckets")
    assert(md5s(dir).filter(p =>
        !rolledBack.exists(b => p._1.startsWith(s"$b/")))
      === swappedBefore,
      "already-swapped buckets must be skipped byte-identically on replay")
  }

  test("the guard also short-circuits idempotent upserts: no new generation") {
    val dir = Files.createTempDirectory("graft-acc4").toString + "/state"
    val b = (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v")
    Pipelines.upsertBatch(spark, dir, b, Seq("k"), batchId = Some(7L))
    val before = md5s(dir)
    Pipelines.upsertBatch(spark, dir, b, Seq("k"), batchId = Some(7L))
    assert(md5s(dir) === before,
      "replaying the committed batch id must not rewrite any bucket")
  }

  test("a merge that drains a bucket to ZERO rows installs an empty generation, not stale state") {
    // round 12: a row-dropping mergeWith (a queue drain, a retention
    // fold) can legitimately return no rows for a touched bucket. The
    // round-11 install loop skipped buckets with no staged dir — which
    // silently KEPT the old generation, resurrecting exactly the rows the
    // merge deleted (and made a concurrent writer's staging reap look
    // like a clean no-op instead of data loss). Now the bucket advances
    // to an empty committed generation.
    val dir = Files.createTempDirectory("graft-acc-drain").toString + "/state"
    val dropAll: (Option[DataFrame], DataFrame) => DataFrame = {
      case (_, d) =>
        d.select(col("k"), col("delta").cast(DoubleType).as("bal"))
          .filter(lit(false)) // the drain emptied every touched key
    }
    Pipelines.upsertBatch(spark, dir, delta(Seq(1L -> 5.0, 2L -> 7.0)), Seq("k"),
      mergeWith = Some(fold), batchId = Some(0L))
    assert(balances(dir) === Map(1L -> 5.0, 2L -> 7.0))
    Pipelines.upsertBatch(spark, dir, delta(Seq(1L -> 1.0, 2L -> 1.0)), Seq("k"),
      mergeWith = Some(dropAll), batchId = Some(1L))
    assert(Pipelines.readState(spark, dir).count() === 0L,
      "drained buckets must serve the merge's (empty) result, not the prior rows")
    // and the empty generation is a full citizen of the replay guard:
    // replaying batch 1 is a no-op, a later batch rebuilds state normally
    Pipelines.upsertBatch(spark, dir, delta(Seq(1L -> 1.0, 2L -> 1.0)), Seq("k"),
      mergeWith = Some(dropAll), batchId = Some(1L))
    assert(Pipelines.readState(spark, dir).count() === 0L)
    Pipelines.upsertBatch(spark, dir, delta(Seq(1L -> 9.0)), Seq("k"),
      mergeWith = Some(fold), batchId = Some(2L))
    assert(balances(dir) === Map(1L -> 9.0))
  }
}
