package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Phash
import graft.streaming.Pipelines

/** The streaming IMAGE dedup admit gate end to end — the multimodal third
  * of the gate family (NearDupStreamSpec / EmbedDupStreamSpec): perceptual
  * near-copies of earlier admits drop at hamming ≤ 3, replays admit
  * nothing twice, unparseable payloads never enter the index, and the
  * intra-batch pass keeps the first of two near-dups arriving together.
  *
  * Fixture geometry (Phash.bmpPixelFixture): docs in the same
  * 4-id cluster hash within hamming ≤ 4 of each other (variants 1-3 are
  * sparse perturbations of the cluster base), different clusters measure
  * hamming ≥ ~19 — so ids 0 and 1 are near-copies while 0 and 4 are not.
  */
class ImageDupStreamSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def img(id: Long): (Long, Array[Byte]) = id -> Phash.bmpPixelFixture(id)

  test("admit gate drops perceptual near-copies across batches, " +
    "self-dedups replays, and skips unparseable payloads") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-imgate").toString
    val admittedDir = s"$base/admitted"

    val in = MemoryStream[(Long, Array[Byte])]
    val q = Pipelines.imageDupGate(
      in.toDF().toDF("img_id", "media"),
      s"$base/index", s"$base/ckpt",
      out => out.write.mode("append").parquet(admittedDir)).start()
    try {
      // batch 1: cluster-0 base and a far cluster → both admit
      in.addData(img(0L), img(4L))
      q.processAllAvailable()
      // batch 2: a cluster-0 variant (near-copy of 0) drops; a new far
      // cluster admits; a garbage payload is dropped by the hash stage
      in.addData(img(1L), img(8L), 99L -> "not a bmp".getBytes)
      q.processAllAvailable()
      // batch 3: at-least-once replay of batch 2 → nothing admits twice
      in.addData(img(1L), img(8L), 99L -> "not a bmp".getBytes)
      q.processAllAvailable()
    } finally q.stop()

    val admitted = spark.read.parquet(admittedDir)
      .select(col("img_id")).as[Long].collect().sorted.toSeq
    assert(admitted === Seq(0L, 4L, 8L),
      "near-copy 1 and garbage 99 must drop; 0, 4, 8 admit exactly once")
    val indexed = Pipelines.readNearDupIndex(spark, s"$base/index")
      .select(col("img_id")).as[Long].collect().sorted.toSeq
    assert(indexed === Seq(0L, 4L, 8L))
  }

  test("intra-batch pass keeps the lower id of two near-dups arriving together") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-imintra").toString
    val admittedDir = s"$base/admitted"

    val in = MemoryStream[(Long, Array[Byte])]
    val q = Pipelines.imageDupGate(
      in.toDF().toDF("img_id", "media"),
      s"$base/index", s"$base/ckpt",
      out => out.write.mode("append").parquet(admittedDir),
      intraBatch = true).start()
    try {
      // 1 and 3 are cluster-0 variants at hamming 2 (2 vs 3 would measure
      // hamming 4 — over the threshold by design: distinct perturbations)
      in.addData(img(1L), img(3L), img(12L))
      q.processAllAvailable()
    } finally q.stop()

    val admitted = spark.read.parquet(admittedDir)
      .select(col("img_id")).as[Long].collect().sorted.toSeq
    assert(admitted === Seq(1L, 12L), "3 must lose the intra-batch tie to 1")
  }

  test("quarantine tee receives exactly the unparseable payloads") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-imdlq").toString
    val admittedDir = s"$base/admitted"
    val dlqDir = s"$base/dlq"

    val in = MemoryStream[(Long, Array[Byte])]
    val q = Pipelines.imageDupGate(
      in.toDF().toDF("img_id", "media"),
      s"$base/index", s"$base/ckpt",
      out => out.write.mode("append").parquet(admittedDir),
      quarantine = Some(bad => bad.write.mode("append").parquet(dlqDir))).start()
    try {
      in.addData(img(20L), 21L -> "garbage".getBytes,
        22L -> graft.plans.ImageMeta.bmpFixture(32, 32)) // header-only, no pixels
      q.processAllAvailable()
    } finally q.stop()

    import spark.implicits._
    val admitted = spark.read.parquet(admittedDir)
      .select(col("img_id")).as[Long].collect().sorted.toSeq
    val dlq = spark.read.parquet(dlqDir)
      .select(col("img_id")).as[Long].collect().sorted.toSeq
    assert(admitted === Seq(20L), "only the decodable image admits")
    assert(dlq === Seq(21L, 22L), "both unparseable payloads must reach the DLQ")
  }

  test("run compaction bounds the index run count with verdicts unchanged") {
    implicit val sqlCtx = spark.sqlContext
    // 12 batches after the seed: each brings one image of a new cluster,
    // every 3rd instead an exact copy of image 0 under a new id (hamming
    // 0, so it drops whatever runs the index is split into)
    val batches = (1 until 13).map { i =>
      if (i % 3 == 0) (100L + i) -> Phash.bmpPixelFixture(0L) else img(4L * i)
    }

    def drive(compactEvery: Int): (Seq[Long], Seq[String]) = {
      val base = Files.createTempDirectory(s"graft-imcomp$compactEvery").toString
      val admittedDir = s"$base/admitted"
      val in = MemoryStream[(Long, Array[Byte])]
      val q = Pipelines.imageDupGate(
        in.toDF().toDF("img_id", "media"),
        s"$base/index", s"$base/ckpt",
        out => out.write.mode("append").parquet(admittedDir),
        compactEvery = compactEvery).start()
      try {
        in.addData(img(0L)); q.processAllAvailable()
        batches.foreach { b => in.addData(b); q.processAllAvailable() }
      } finally q.stop()
      val runs = new java.io.File(s"$base/index/sig").listFiles().toSeq
        .filter(f => f.isDirectory && new java.io.File(f, "_SUCCESS").exists())
        .map(_.getName).filter(n => n.startsWith("run=") || n.startsWith("crun="))
      (spark.read.parquet(admittedDir).select(col("img_id"))
        .as[Long].collect().sorted.toSeq, runs)
    }

    val (admittedC, runsC) = drive(compactEvery = 3) // 13 batches >> 3-run budget
    val (admittedU, runsU) = drive(compactEvery = 0)
    assert(admittedC === admittedU, "compaction changed admit verdicts")
    assert(admittedC === 0L +: (1 until 13).filter(_ % 3 != 0).map(4L * _),
      "every new cluster admits; every copy of image 0 drops")
    assert(runsU.size === 13, s"uncompacted index seals one run per batch: $runsU")
    assert(runsC.size <= 4, // compactEvery + 1
      s"run count not bounded: ${runsC.mkString(", ")}")
  }

  test("batch probe and gate verdicts agree: dd_incremental_phash's is_dup " +
    "set matches a direct probeImageIndex call") {
    import graft.operators.ImageDup
    val idx = ImageDup.imageIndex(
      (0L until 20L).map(img).toDF("img_id", "media"))
    val corpus = idx.filter(col("img_id") < 16)
    val batch = idx.filter(col("img_id") >= 16)
    val verdicts = ImageDup.probeImageIndex(batch, corpus).collect()
    assert(verdicts.length === 4)
    verdicts.foreach { r =>
      // 16-19 are cluster 4: 16's base+variants all live in the corpus?
      // no — cluster 4 spans ids 16-19, all in the batch; the corpus holds
      // clusters 0-3 only, so nothing in the batch matches the corpus.
      assert(!r.getBoolean(3), s"img ${r.getLong(0)} wrongly flagged vs far corpus")
    }
    // now probe a batch whose cluster straddles the cut: 14-15 in corpus
    val corpus2 = idx.filter(col("img_id") < 14)
    val batch2 = idx.filter(col("img_id") >= 14)
    val v2 = ImageDup.probeImageIndex(batch2, corpus2).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(v2(14L) && v2(15L), "cluster-3 members must match their corpus-side twins")
    assert(!v2(16L) && !v2(17L), "cluster-4 members have no corpus twin")
  }
}
