package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{ImageDup, QualityOps, TextOps, VectorOps}
import graft.streaming.Pipelines

/** COMBINED curation-stream soak (round 13): the four admit gates that
  * soak/spec separately — text near-dup, embedding dup, image dup, DSIR —
  * composed as ONE production chain (each gate's admit set feeds the
  * next), driven for hundreds of micro-batches with CONCURRENT serving
  * reads (/search BM25, /images/similar, /vectors/topk) hammering the
  * memoized corpus artifacts from a separate thread, the way a live
  * curation cluster serves queries while ingesting.
  *
  * What only the composition shows, and what the per-PHASE timing split
  * makes attributable (the round-12 soak's p99 spike was unattributable
  * because batches were timed as one number):
  *  - per-gate p50/p95/p99 and which gate carries tail spikes,
  *  - compaction interference: each gate compacts its run index every
  *    `CompactEvery` batches — those batches are tagged in the samples so
  *    a tail spike either lands on a compaction batch (expected, bounded)
  *    or flags a real leak,
  *  - whether serving reads degrade across seal/compaction boundaries
  *    (serving latencies are bucketed into compaction vs steady batches),
  *  - admit-funnel conservation: every input doc is admitted by the full
  *    chain, dropped by exactly one gate, or quarantined by the image DLQ.
  *
  * Content per replay pass is SALTED (a pass token interleaved between
  * tokens, cluster-correlated embedding noise, pass-shifted image pixels)
  * so every pass ADMITS fresh documents and all four indexes genuinely
  * grow across the horizon — a soak over an index that stopped growing
  * after pass one would measure nothing.
  *
  * Usage: runMain graft.tools.CurationSoak [sfDir] [nBatches] [outPath]
  */
object CurationSoak {
  private def countFiles(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return 0L
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).count() finally s.close()
  }

  private def rssMb(): Double = {
    val it = Files.readAllLines(Paths.get("/proc/self/status")).iterator()
    while (it.hasNext) {
      val l = it.next()
      if (l.startsWith("VmRSS:")) return l.split("\\s+")(1).toDouble / 1024.0
    }
    0.0
  }

  /** deterministic 64-d float embedding, cluster-correlated: members of a
    * (doc_id div 4) cluster share a base vector with small per-doc noise,
    * so ~3 of 4 drop at the 0.95 gate — the fixture's dup structure. */
  private def embedFor(docId: Long, pass: Int): Array[Float] = {
    val base = new java.util.Random(docId / 4 * 1000003L + pass * 7919L)
    val noise = new java.util.Random(docId * 31L + 17L)
    Array.fill(64)((base.nextDouble() * 2 - 1 + (noise.nextDouble() - 0.5) * 0.02).toFloat)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val nBatches = if (args.length > 1) args(1).toInt else 600
    val outPath = if (args.length > 2) args(2) else "soak_curation.json"
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    val idSpan = docs.map(_._1).max + 1
    val origText = docs.map(d => d._1 -> d._2).toMap
    val batchesPerPass = 10
    val per = math.max(1, docs.length / batchesPerPass)

    val base = Files.createTempDirectory("graft-curation-soak").toString
    // offline: train + freeze the DSIR weight table once (the production
    // shape — retraining is an explicit swap, not part of this soak)
    QualityOps.writeDsirWeights(spark, sfDir, s"$base/weights")
    val dsirThr = {
      val w = spark.read.parquet(s"$base/weights")
      val scored = QualityOps.dsirScore(
        QualityOps.dsirFeatures(
          spark.read.parquet(s"$sfDir/documents.parquet")
            .select(col("doc_id"), col("text")), Seq()), w)
        .select((col("score").cast("double") / col("n_tok")).as("npt"))
        .orderBy(col("npt")).collect().map(_.getDouble(0))
      // 25th percentile per-token score: most good docs pass, a real tail drops
      math.floor(scored(scored.length / 4)).toLong
    }

    // ── the composed chain: text gate → embed gate → image gate → DSIR →
    //    card sink. Each stage is the REAL gate; stages hand off through
    //    driver-side relay buffers (batch-bounded by construction).
    val textOut = new java.util.concurrent.atomic.AtomicReference[Array[(Long, String, String)]]
    val embedOut = new java.util.concurrent.atomic.AtomicReference[Set[Long]]
    val imageOut = new java.util.concurrent.atomic.AtomicReference[Set[Long]]
    @volatile var quarantined = 0L
    @volatile var finalAdmitted = 0L

    // STAGGERED COMPACTION (round 14): the three index-backed gates get
    // distinct phase tokens mod 3, so at most ONE gate's size-tier merge
    // can land on any batch BY CONSTRUCTION (r13's composed batch_total
    // p99 was 26.2 s vs ≤ 8.7 s per gate because all thresholds crossed
    // on the same batch). DSIR has no index to compact.
    // ASYNC COMPACTION (round 15): merges additionally run OFF the admit
    // path (Pipelines.runCompaction's daemon thread) — staggering removed
    // coincidence, but r14's batch_total p99 was still 2.04× the max
    // single-gate p99 because one ~12.5 s text merge ran inline; with the
    // merge off-path the admit batch pays only the trigger check.
    val CompactStride = 3
    val inText = MemoryStream[(Long, String, String)]
    val qText = Pipelines.nearDupGate(
      inText.toDF().toDF("doc_id", "text", "lang"),
      s"$base/textIdx", s"$base/ckptText",
      out => textOut.set(out.select(col("doc_id"), col("text"), col("lang"))
        .as[(Long, String, String)].collect()),
      intraBatch = true, compactPhase = 0, compactStride = CompactStride,
      compactAsync = true).start()

    val inEmbed = MemoryStream[(Long, Array[Float])]
    val qEmbed = Pipelines.embedDupGate(
      inEmbed.toDF().toDF("vec_id", "embedding"),
      s"$base/embedIdx", s"$base/ckptEmbed",
      out => embedOut.set(out.select(col("vec_id")).as[Long].collect().toSet),
      intraBatch = true, compactPhase = 1, compactStride = CompactStride,
      compactAsync = true).start()

    val inImg = MemoryStream[(Long, Array[Byte])]
    val qImg = Pipelines.imageDupGate(
      inImg.toDF().toDF("img_id", "media"),
      s"$base/imgIdx", s"$base/ckptImg",
      out => imageOut.set(out.select(col("img_id")).as[Long].collect().toSet),
      intraBatch = true,
      quarantine = Some(q => quarantined += q.count()),
      compactPhase = 2, compactStride = CompactStride,
      compactAsync = true).start()

    // observed per-gate compaction: a batch seals exactly one new run, so
    // the run-dir count GROWS by one unless a merge folded the small tier
    // — countAfter <= countBefore means this gate compacted this batch
    def runDirCount(idx: String): Int = {
      val p = Paths.get(s"$base/$idx/sig")
      if (!Files.exists(p)) return 0
      val s = Files.list(p)
      try s.filter(q => { val n = q.getFileName.toString
        n.startsWith("run=") || n.startsWith("crun=") }).count().toInt
      finally s.close()
    }

    val inDsir = MemoryStream[(Long, String, String)]
    val qDsir = Pipelines.dsirGate(
      inDsir.toDF().toDF("doc_id", "text", "lang"),
      s"$base/weights", s"$base/ckptDsir", dsirThr,
      out => {
        val b = out.persist()
        finalAdmitted += b.count()
        Pipelines.cardSink(spark, s"$base/card", b.select(col("lang"), col("text")))
        b.unpersist(); ()
      }).start()

    // ── concurrent serving thread: the three routes' answers from their
    //    per-session indexes, timed independently of the ingest loop.
    val servingSamples = new ConcurrentLinkedQueue[(String, Long, Double)]() // route, nanoTs, sec
    @volatile var servingOn = true
    val nVecs = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val server = new Thread(() => {
      // build the serving indexes once so the loop measures steady state
      TextOps.bm25TopK(spark, sfDir, Seq("the", "data"), 5)
      ImageDup.similarTopK(spark, sfDir, 0L, 5)
      VectorOps.nearestTopK(spark, sfDir, 0L, 5)
      val rnd = new java.util.Random(42)
      while (servingOn) {
        val t0 = System.nanoTime()
        val route = rnd.nextInt(3) match {
          case 0 =>
            TextOps.bm25TopK(spark, sfDir,
              Seq("the", "quick", "data", "model").take(1 + rnd.nextInt(3)), 5)
            "search"
          case 1 =>
            ImageDup.similarTopK(spark, sfDir, rnd.nextInt(64).toLong, 5)
            "images_similar"
          case _ =>
            VectorOps.nearestTopK(spark, sfDir, rnd.nextInt(nVecs.toInt).toLong, 5)
            "vectors_topk"
        }
        servingSamples.add((route, System.nanoTime(), (System.nanoTime() - t0) / 1e9))
        Thread.sleep(150)
      }
    })
    server.setDaemon(true)

    final case class PhaseRow(batch: Int, compact: Boolean,
      cText: Boolean, cEmbed: Boolean, cImage: Boolean, text: Double,
      embed: Double, image: Double, dsir: Double, nanoStart: Long, nanoEnd: Long)
    val rows = scala.collection.mutable.ArrayBuffer.empty[PhaseRow]
    var nIn = 0L; var nText = 0L; var nEmbed = 0L; var nImage = 0L
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    server.start()
    try {
      var done = 0
      var pass = 0
      while (done < nBatches) {
        val it = docs.grouped(per)
        while (it.hasNext && done < nBatches) {
          val g0 = it.next()
          // pass salt: interleave a pass token so every pass is NEW content
          // to all three dedup signals while intra-pass clusters persist
          val g = g0.map { case (id, text, lang) =>
            (id + pass * idSpan, text.replace(" ", s" p$pass "), lang)
          }
          nIn += g.length
          val rt0 = runDirCount("textIdx"); val re0 = runDirCount("embedIdx")
          val ri0 = runDirCount("imgIdx")
          val n0 = System.nanoTime()
          inText.addData(g.toIndexedSeq)
          qText.processAllAvailable()
          val t1 = System.nanoTime()
          val admitted1 = textOut.get(); nText += admitted1.length
          inEmbed.addData(admitted1.map { case (id, _, _) => (id, embedFor(id, pass)) }.toIndexedSeq)
          qEmbed.processAllAvailable()
          val t2 = System.nanoTime()
          val keep2 = embedOut.get()
          val admitted2 = admitted1.filter(r => keep2(r._1)); nEmbed += admitted2.length
          inImg.addData(admitted2.map { case (id, _, _) =>
            val px = graft.plans.Phash.bmpPixelFixture(id)
            if (id % 97 == 0) px(0) = 'X'.toByte // corrupt → DLQ tee
            (id, px)
          }.toIndexedSeq)
          qImg.processAllAvailable()
          val t3 = System.nanoTime()
          val keep3 = imageOut.get()
          val admitted3 = admitted2.filter(r => keep3(r._1)); nImage += admitted3.length
          // DSIR scores CONTENT: feed the original (unsalted) text so the
          // frozen weight table sees the distribution it was trained on —
          // the pass salt is a soak artifact, and a salt token carries an
          // arbitrary hashed-feature weight that would dominate n_tok
          inDsir.addData(admitted3.map { case (id, _, lang) =>
            (id, origText(id % idSpan), lang)
          }.toIndexedSeq)
          qDsir.processAllAvailable()
          val t4 = System.nanoTime()
          done += 1
          // a seal adds one run dir; a count that did NOT grow means the
          // size-tier merge ran on this gate this batch
          val cT = runDirCount("textIdx") <= rt0
          val cE = runDirCount("embedIdx") <= re0
          val cI = runDirCount("imgIdx") <= ri0
          rows += PhaseRow(done, cT || cE || cI, cT, cE, cI,
            (t1 - n0) / 1e9, (t2 - t1) / 1e9,
            (t3 - t2) / 1e9, (t4 - t3) / 1e9, n0, t4)
          if (done % 25 == 0) {
            val r = rows.last
            // scalastyle:off println
            println(s"[curation-soak] batch $done/$nBatches " +
              s"text=${fmt(r.text)} embed=${fmt(r.embed)} img=${fmt(r.image)} " +
              s"dsir=${fmt(r.dsir)} files=${countFiles(base)} rss=${fmt(rssMb())}MB")
            // scalastyle:on println
          }
        }
        pass += 1
      }
    } finally {
      servingOn = false
      server.join(5000) // let an in-flight serving read finish cleanly
      qText.stop(); qEmbed.stop(); qImg.stop(); qDsir.stop()
    }

    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else s(math.min(s.length - 1, (p * s.length).toInt))
    }
    // split each gate's samples on ITS OWN observed compaction batches
    // (round 14): the tagged split is the receipt that a tail spike lands
    // on that gate's merge, and — with the staggered phases — that no
    // batch carries two gates' merges at once
    def phaseObj(get: PhaseRow => Double, flag: PhaseRow => Boolean): String = {
      val all = rows.map(get).toSeq
      val compact = rows.filter(flag).map(get).toSeq
      val steady = rows.filterNot(flag).map(get).toSeq
      s"""{"p50":${fmt(pct(all, 0.5))},"p95":${fmt(pct(all, 0.95))},"p99":${fmt(pct(all, 0.99))},""" +
        s""""steady_p99":${fmt(pct(steady, 0.99))},"compact_p99":${fmt(pct(compact, 0.99))},""" +
        s""""n_compactions":${compact.length}}"""
    }
    val total = rows.map(r => r.text + r.embed + r.image + r.dsir).toSeq
    val q5 = math.max(1, rows.length / 5)
    val firstQ = total.take(q5); val lastQ = total.takeRight(q5)
    // serving latencies bucketed into steady vs compaction batch windows
    val compactWindows = rows.filter(_.compact).map(r => (r.nanoStart, r.nanoEnd)).toSeq
    val sv = scala.jdk.CollectionConverters.IteratorHasAsScala(
      servingSamples.iterator()).asScala.toSeq
    def servingObj(route: String): String = {
      val mine = sv.filter(_._1 == route)
      val (inCompact, steady) = mine.partition { case (_, ts, _) =>
        compactWindows.exists { case (a, b) => ts >= a && ts <= b } }
      s""""$route":{"n":${mine.length},"p50":${fmt(pct(mine.map(_._3), 0.5))},""" +
        s""""p99":${fmt(pct(mine.map(_._3), 0.99))},""" +
        s""""steady_p99":${fmt(pct(steady.map(_._3), 0.99))},""" +
        s""""during_compaction_p99":${fmt(pct(inCompact.map(_._3), 0.99))},""" +
        s""""n_during_compaction":${inCompact.length}}"""
    }
    val cardRow = Pipelines.readSmallState(spark, s"$base/card")
      .map(_.agg(sum(col("n_docs"))).collect()(0))
    val card = cardRow.filterNot(_.isNullAt(0)).fold(0L)(_.getLong(0))
    require(card == finalAdmitted,
      s"dataset card counted $card docs but the chain admitted $finalAdmitted")
    val out =
      s"""{"metric":"soak_curation","sf":"$sfDir","batches":${rows.length},"docs_per_batch":$per,""" +
      s""""phases":{"text_gate":${phaseObj(_.text, _.cText)},"embed_gate":${phaseObj(_.embed, _.cEmbed)},""" +
      s""""image_gate":${phaseObj(_.image, _.cImage)},"dsir_gate":${phaseObj(_.dsir, _.compact)}},""" +
      s""""batch_total":{"p50":${fmt(pct(total, 0.5))},"p95":${fmt(pct(total, 0.95))},"p99":${fmt(pct(total, 0.99))}},""" +
      s""""compaction_stagger":{"stride":3,""" +
      s""""n_multi_compact_batches":${rows.count(r => Seq(r.cText, r.cEmbed, r.cImage).count(identity) >= 2)},""" +
      s""""max_single_gate_p99":${fmt(Seq(
        pct(rows.map(_.text).toSeq, 0.99), pct(rows.map(_.embed).toSeq, 0.99),
        pct(rows.map(_.image).toSeq, 0.99), pct(rows.map(_.dsir).toSeq, 0.99)).max)},""" +
      s""""batch_total_p99_over_max_gate_p99":${fmt(pct(total, 0.99) / math.max(1e-9, Seq(
        pct(rows.map(_.text).toSeq, 0.99), pct(rows.map(_.embed).toSeq, 0.99),
        pct(rows.map(_.image).toSeq, 0.99), pct(rows.map(_.dsir).toSeq, 0.99)).max))}},""" +
      s""""drift":{"first_quintile_mean_s":${fmt(firstQ.sum / q5)},"last_quintile_mean_s":${fmt(lastQ.sum / q5)},""" +
      s""""ratio":${fmt((lastQ.sum / q5) / (firstQ.sum / q5))}},""" +
      s""""admit_funnel":{"in":$nIn,"after_text":$nText,"after_embed":$nEmbed,""" +
      s""""after_image":$nImage,"final":$finalAdmitted,"quarantined":$quarantined},""" +
      s""""serving":{${servingObj("search")},${servingObj("images_similar")},${servingObj("vectors_topk")}},""" +
      s""""state_files":{"text":${countFiles(s"$base/textIdx")},"embed":${countFiles(s"$base/embedIdx")},""" +
      s""""image":${countFiles(s"$base/imgIdx")},"card":${countFiles(s"$base/card")},"all":${countFiles(base)}},""" +
      s""""card_docs":$card,"rss_mb":${fmt(rssMb())}}"""
    Files.writeString(Paths.get(outPath), out + "\n")
    // scalastyle:off println
    println(out.take(900))
    // scalastyle:on println
    spark.stop()
  }
}
