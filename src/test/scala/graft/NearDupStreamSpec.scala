package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Pipelines

/** The streaming near-dup admit gate end to end: micro-batches probe the
  * growing parquet index, near-copies of earlier admits are dropped, and a
  * replayed batch admits nothing twice (the index is the effectively-once
  * guard). */
class NearDupStreamSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("admit gate drops near-copies across batches and self-dedups replays") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-ndgate").toString
    val admittedDir = s"$base/admitted"

    val in = MemoryStream[(Long, String)]
    val q = Pipelines.nearDupGate(
      in.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/ckpt",
      out => out.write.mode("append").parquet(admittedDir)).start()
    try {
      // batch 1: two distinct documents → both admitted
      in.addData(
        (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2L, "colorless green ideas sleep furiously under a bright winter moon"))
      q.processAllAvailable()
      // batch 2: a copy of doc 1's text under a new id (identical text
      // collides on every band — the deterministic near-dup limit case;
      // partial-overlap jaccard thresholds are pinned by the
      // dd_incremental_lsh oracle) + a genuinely new document
      in.addData(
        (3L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (4L, "completely unrelated text about distributed query engines and parquet"))
      q.processAllAvailable()
      // batch 3: at-least-once replay of batch 2 → nothing admits twice
      in.addData(
        (3L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (4L, "completely unrelated text about distributed query engines and parquet"))
      q.processAllAvailable()
    } finally q.stop()

    val admitted = spark.read.parquet(admittedDir)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(admitted === Seq(1L, 2L, 4L),
      "near-copy 3 must drop; 1, 2, 4 must admit exactly once")

    // the index holds exactly the admitted signatures
    val indexed = Pipelines.readNearDupIndex(spark, s"$base/index")
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(indexed === Seq(1L, 2L, 4L))
  }

  test("shuffleProbe mode admits identically to the broadcast probe") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-ndshuf").toString
    val admittedDir = s"$base/admitted"

    val in = MemoryStream[(Long, String)]
    val q = Pipelines.nearDupGate(
      in.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/ckpt",
      out => out.write.mode("append").parquet(admittedDir),
      shuffleProbe = true).start()
    try {
      in.addData(
        (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2L, "colorless green ideas sleep furiously under a bright winter moon"))
      q.processAllAvailable()
      in.addData(
        (3L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (4L, "completely unrelated text about distributed query engines and parquet"))
      q.processAllAvailable()
      // replay through the large-batch path self-dedups the same way
      in.addData(
        (3L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (4L, "completely unrelated text about distributed query engines and parquet"))
      q.processAllAvailable()
    } finally q.stop()

    val admitted = spark.read.parquet(admittedDir)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(admitted === Seq(1L, 2L, 4L),
      "the shuffle probe must reproduce the broadcast probe's admits")
  }

  test("conflicting same-id payloads in ONE batch collapse to the deterministic max winner") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-ndconflict").toString
    val admittedDir = s"$base/admitted"

    val loser  = "aardvark anthology about ancient archives and autumn afternoons"
    val winner = "zebra zephyrs zigzag zealously over zinc zeppelins at zero hour"

    def runOnce(tag: String): Seq[(Long, String)] = {
      val in = MemoryStream[(Long, String)]
      val q = Pipelines.nearDupGate(
        in.toDF().toDF("doc_id", "text"),
        s"$base/index-$tag", s"$base/ckpt-$tag",
        out => out.write.mode("append").parquet(s"$admittedDir-$tag")).start()
      try {
        // an at-least-once source re-sends id 1 within ONE micro-batch,
        // each delivery carrying a DIFFERENT text
        in.addData((1L, loser), (1L, winner))
        q.processAllAvailable()
      } finally q.stop()
      spark.read.parquet(s"$admittedDir-$tag")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().sortBy(_._1).toSeq
    }

    // order within the batch must not matter: the winner is max(payload
    // struct), not arrival order — two runs with reversed delivery order
    // admit the identical row (a plain dropDuplicates would keep whichever
    // row a task saw first and could seal either payload)
    val a = runOnce("fwd")
    assert(a === Seq((1L, winner)), s"expected the max-struct payload to win, got $a")
    val in2 = MemoryStream[(Long, String)]
    val q2 = Pipelines.nearDupGate(
      in2.toDF().toDF("doc_id", "text"),
      s"$base/index-rev", s"$base/ckpt-rev",
      out => out.write.mode("append").parquet(s"$admittedDir-rev")).start()
    try {
      in2.addData((1L, winner), (1L, loser))
      q2.processAllAvailable()
      // replay the same conflicting pair: id guard + self-match admit nothing
      in2.addData((1L, winner), (1L, loser))
      q2.processAllAvailable()
    } finally q2.stop()
    val b = spark.read.parquet(s"$admittedDir-rev")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(b === a, "winner depends on intra-batch arrival order or replays double-admit")

    // the sealed index also carries exactly one signature row for id 1
    val idxIds = Pipelines.readNearDupIndex(spark, s"$base/index-rev")
      .select(col("doc_id")).as[Long].collect().toSeq
    assert(idxIds === Seq(1L))
  }

  test("intraBatch flag: of two near-dups arriving in ONE batch, exactly the first admits") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-ndintra").toString
    val admittedDir = s"$base/admitted"

    val in = MemoryStream[(Long, String)]
    val q = Pipelines.nearDupGate(
      in.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/ckpt",
      out => out.write.mode("append").parquet(admittedDir),
      intraBatch = true).start()
    try {
      in.addData(
        (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (11L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (12L, "colorless green ideas sleep furiously under a bright winter moon"))
      q.processAllAvailable()
    } finally q.stop()

    val admitted = spark.read.parquet(admittedDir)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(admitted === Seq(10L, 12L),
      "lower-id near-dup 10 wins; 11 drops in its own batch; 12 unrelated admits")
  }

  test("id guard: a retried doc_id with CHANGED text does not double-admit") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-ndretry").toString
    val admittedDir = s"$base/admitted"

    val in = MemoryStream[(Long, String)]
    val q = Pipelines.nearDupGate(
      in.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/ckpt",
      out => out.write.mode("append").parquet(admittedDir)).start()
    try {
      in.addData((1L, "the quick brown fox jumps over the lazy dog near the river bank"))
      q.processAllAvailable()
      // upstream retry re-sends id 1 with COMPLETELY different text: the
      // signature self-match is below threshold — the id guard must drop it
      in.addData((1L, "colorless green ideas sleep furiously under a bright winter moon"))
      q.processAllAvailable()
    } finally q.stop()

    val admitted = spark.read.parquet(admittedDir)
      .select(col("doc_id")).as[Long].collect().toSeq
    assert(admitted === Seq(1L), "retried id 1 must admit exactly once")
    val indexed = Pipelines.readNearDupIndex(spark, s"$base/index")
      .select(col("doc_id")).as[Long].collect().toSeq
    assert(indexed === Seq(1L), "the index must hold one signature row for id 1")
  }

  test("a doc_id delivered twice in ONE micro-batch admits one row") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-nddup").toString
    val admittedDir = s"$base/admitted"

    val in = MemoryStream[(Long, String)]
    val q = Pipelines.nearDupGate(
      in.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/ckpt",
      out => out.write.mode("append").parquet(admittedDir)).start()
    try {
      in.addData(
        (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2L, "colorless green ideas sleep furiously under a bright winter moon"))
      q.processAllAvailable()
    } finally q.stop()

    val admitted = spark.read.parquet(admittedDir)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(admitted === Seq(1L, 2L), "duplicate delivery must collapse to one admit row")
  }

  test("short documents admit (total signatures) and replays still self-dedup") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-ndshort").toString
    val admittedDir = s"$base/admitted"

    val in = MemoryStream[(Long, String)]
    val q = Pipelines.nearDupGate(
      in.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/ckpt",
      out => out.write.mode("append").parquet(admittedDir)).start()
    try {
      // <3 tokens → no word-3-gram shingles; the gate must not lose them
      in.addData((20L, "hi there"), (21L, "bye"))
      q.processAllAvailable()
      // replay of the short docs → whole-text signature already indexed
      in.addData((20L, "hi there"), (21L, "bye"))
      q.processAllAvailable()
      // a DIFFERENT short doc still admits
      in.addData((22L, "hello there"))
      q.processAllAvailable()
    } finally q.stop()

    val admitted = spark.read.parquet(admittedDir)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(admitted === Seq(20L, 21L, 22L),
      "short docs admit exactly once; distinct short docs are not conflated")
  }

  test("compaction bounds the index file count without changing verdicts") {
    implicit val sqlCtx = spark.sqlContext
    def run(compactEvery: Int): (Seq[Long], Int, Int) = {
      val base = Files.createTempDirectory(s"graft-ndcmp$compactEvery").toString
      val admittedDir = s"$base/admitted"
      val crunIds = scala.collection.mutable.Set.empty[Long]
      val in = MemoryStream[(Long, String)]
      val q = Pipelines.nearDupGate(
        in.toDF().toDF("doc_id", "text"),
        s"$base/index", s"$base/ckpt",
        out => out.write.mode("append").parquet(admittedDir),
        compactEvery = compactEvery).start()
      try {
        // 7 micro-batches (> 3× the compaction interval of 2): each brings
        // one genuinely distinct doc and one near-copy of the very first doc
        val texts = Seq(
          "alpha rivers carve deep canyons through ancient sandstone plateaus",
          "market prices fluctuated wildly after the surprise earnings report",
          "the violin section carried the melody through the final movement",
          "volcanic ash clouds grounded flights across the northern hemisphere",
          "quantum error correction requires thousands of physical qubits",
          "the recipe calls for saffron threads soaked in warm goat milk",
          "migratory birds navigate using the earth magnetic field lines")
        texts.zipWithIndex.foreach { case (t, i) =>
          in.addData(
            (100L + i, t),
            (200L + i, "the quick brown fox jumps over the lazy dog near the river bank"))
          q.processAllAvailable()
          // sync compaction stages and promotes inside the batch: no
          // `stage-` dir may outlive it
          val names = new java.io.File(s"$base/index/sig").list().toSeq
          assert(names.forall(n => n.startsWith("run=") || n.startsWith("crun=")),
            s"sig/ after batch $i must hold only run=/crun= dirs: $names")
          crunIds ++= names.filter(_.startsWith("crun=")).map(_.stripPrefix("crun=").toLong)
        }
      } finally q.stop()
      assert(crunIds.toSeq.sorted === (0L until crunIds.size.toLong),
        s"crun= ids must be consecutive from 0: ${crunIds.toSeq.sorted}")
      assert(crunIds.nonEmpty === (compactEvery > 0))
      val admitted = spark.read.parquet(admittedDir)
        .select(col("doc_id")).as[Long].collect().sorted.toSeq
      val dir = new java.io.File(s"$base/index/sig")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      val sigFiles = walk(dir).count(_.getName.endsWith(".parquet"))
      val runDirs = dir.listFiles().count(f => f.isDirectory &&
        (f.getName.startsWith("run=") || f.getName.startsWith("crun=")))
      (admitted, sigFiles, runDirs)
    }

    val (admittedC, filesC, runsC) = run(compactEvery = 2)
    val (admittedU, filesU, runsU) = run(compactEvery = 0)
    assert(admittedC === admittedU, "compaction must not change admit verdicts")
    assert(admittedC === (Seq(200L) ++ (0 until 7).map(100L + _)).sorted,
      "every distinct doc admits; first fox admits; all six later fox copies drop")
    assert(filesC < filesU, s"compacted index ($filesC files) must beat uncompacted ($filesU)")
    assert(runsC <= 3 && runsU === 7,
      s"tiered merge must hold the run count at compactEvery+1 ($runsC vs $runsU)")
    // bound: a handful of merged tiers (≤ shuffle-partitions files each)
    // plus at most compactEvery un-merged batch seals
    val sp = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(filesC <= sp * 3, s"file count $filesC not bounded by compaction")
  }

  test("ASYNC compaction merges off the admit path without changing verdicts") {
    // round 15: compactAsync=true runs the run merge on a daemon thread
    // (one in flight per gate) so the admit batch never pays the merge
    // wall. The contract under test: (1) admit verdicts are identical to
    // the uncompacted run — a mid-merge index (crun visible, victims not
    // yet deleted) only duplicates id-keyed rows, which the verdict joins
    // tolerate; (2) at least one background merge COMPLETES (crun sealed,
    // victims deleted), so the run count genuinely drops; (3) the
    // surviving runs hold exactly the admitted id set (no loss, no
    // resurrection).
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-ndasync").toString
    val admittedDir = s"$base/admitted"
    val in = MemoryStream[(Long, String)]
    val q = Pipelines.nearDupGate(
      in.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/ckpt",
      out => out.write.mode("append").parquet(admittedDir),
      compactEvery = 2, compactAsync = true).start()
    val texts = Seq(
      "alpha rivers carve deep canyons through ancient sandstone plateaus",
      "market prices fluctuated wildly after the surprise earnings report",
      "the violin section carried the melody through the final movement",
      "volcanic ash clouds grounded flights across the northern hemisphere",
      "quantum error correction requires thousands of physical qubits",
      "the recipe calls for saffron threads soaked in warm goat milk",
      "migratory birds navigate using the earth magnetic field lines")
    def runDirs(): Int = {
      val d = new java.io.File(s"$base/index/sig")
      d.listFiles().count(f => f.isDirectory &&
        (f.getName.startsWith("run=") || f.getName.startsWith("crun=")) &&
        new java.io.File(f, "_SUCCESS").exists())
    }
    try {
      texts.zipWithIndex.foreach { case (t, i) =>
        in.addData(
          (100L + i, t),
          (200L + i, "the quick brown fox jumps over the lazy dog near the river bank"))
        q.processAllAvailable()
      }
      // merges stage in the background and PROMOTE at the next batch
      // start, so drive flush batches (near-dup fox copies — they all
      // drop, leaving the admit set fixed) until a promotion lands; each
      // flush batch also seals one more run, so the count dropping WELL
      // below the sealed total proves completed merges, not luck
      var flush = 0
      while (runDirs() > 4 && flush < 20) {
        Thread.sleep(300)
        in.addData((300L + flush,
          "the quick brown fox jumps over the lazy dog near the river bank"))
        q.processAllAvailable()
        flush += 1
      }
      assert(runDirs() <= 6,
        s"background merges must complete and promote (still ${runDirs()} " +
          s"runs after ${7 + flush} sealed batches)")
    } finally q.stop()
    val admitted = spark.read.parquet(admittedDir)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(admitted === (Seq(200L) ++ (0 until 7).map(100L + _)).sorted,
      "async compaction must not change admit verdicts")
    val indexIds = Pipelines.readNearDupIndex(spark, s"$base/index")
      .select(col("doc_id")).distinct().as[Long].collect().sorted.toSeq
    assert(indexIds === admitted,
      "merged index must hold exactly the admitted id set")
  }
}
