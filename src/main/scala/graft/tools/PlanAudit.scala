package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.SparkEntry
import graft.core.QueryRegistry

/** Registry-wide plan audit: executes every registered query once at a
  * small SF and writes one JSON line per query with the plan-quality
  * counters PlanSpec asserts pointwise — shuffle exchanges, broadcasts,
  * whole-stage-codegen spans, cartesian products, and pushed-filter
  * presence — plus MEASURED stage-metric bytes (shuffle read/write,
  * memory/disk spill) from a SparkListener: the operator counts say the
  * plans are scale-shaped, the bytes say it louder (a query with two
  * Exchanges moving 40 MB is a different animal from one moving 40 GB,
  * and any nonzero spill at sf0.001 flags a memory-shape problem long
  * before 100 TB does). The output (`plan_audit.json`) is the at-a-glance
  * evidence that the fleet's physical plans stay scale-shaped, and a diff
  * of it across rounds shows exactly which query's plan regressed.
  * Usage: runMain graft.tools.PlanAudit [sfDir] [outPath]
  */
object PlanAudit {

  /** cumulative stage-metric bytes; per-query deltas are taken around each
    * execution. Listener delivery is async — [[settle]] polls until two
    * consecutive reads agree, so a query's trailing stage-completed events
    * land in its own row, not its successor's. */
  private final class BytesListener extends SparkListener {
    val shufRead = new AtomicLong
    val shufWrite = new AtomicLong
    val spillMem = new AtomicLong
    val spillDisk = new AtomicLong
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
      }
    }
    def snapshot: Seq[Long] =
      Seq(shufRead.get, shufWrite.get, spillMem.get, spillDisk.get)
    def settle(): Seq[Long] = {
      var prev = snapshot
      var tries = 0
      while (tries < 40) {
        Thread.sleep(50)
        val cur = snapshot
        if (cur == prev) return cur
        prev = cur; tries += 1
      }
      prev
    }
  }
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outPath = if (args.length > 1) args(1) else "plan_audit.json"
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    spark.sparkContext.setLogLevel("ERROR")

    def count(p: String, needle: String): Int = {
      var (n, i) = (0, p.indexOf(needle))
      while (i >= 0) { n += 1; i = p.indexOf(needle, i + needle.length) }
      n
    }

    val bytes = new BytesListener
    spark.sparkContext.addSparkListener(bytes)

    // SEEDED inputs for the queries whose RESULT is legitimately empty at
    // every test SF (u6_except: every purchase user also errored;
    // dd_embed_cosine: no pair reaches cosine 0.95): an empty result makes
    // AQE collapse the whole plan to EmptyRelation, leaving NOTHING to
    // audit — round 10 flagged the rows honestly but shipped those two
    // plans unaudited. Seeding one purchase-only user and one identical
    // vector pair gives both queries a real executed plan to count; the
    // rows are marked "seeded":true so a diff never confuses them with
    // organic data.
    // per-run token (round 12): a fixed path collided across concurrent
    // audits of the same SF name; the dir is removed on exit
    val seedDir = s"/tmp/plan_audit_seed-${new java.io.File(sfDir).getName}-" +
      java.util.UUID.randomUUID().toString.take(8)
    val seeded = Set("u6_except", "dd_embed_cosine")
    locally {
      import org.apache.spark.sql.functions._
      val tables = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "events", "embeddings")
      tables.foreach { t =>
        val df = spark.read.parquet(s"$sfDir/$t.parquet")
        val out = t match {
          case "events" =>
            val mEid = df.agg(max(col("event_id"))).collect()(0).getLong(0)
            val mUid = df.agg(max(col("user_id"))).collect()(0).getLong(0)
            df.unionByName(df.limit(1)
              .withColumn("event_id", lit(mEid + 1))
              .withColumn("user_id", lit(mUid + 1))
              .withColumn("event_type", lit("purchase")))
          case "embeddings" =>
            val mVid = df.agg(max(col("vec_id"))).collect()(0).getLong(0)
            // two IDENTICAL vectors: cosine exactly 1.0, same quantized
            // codes → same LSH bucket, so every dedup path sees the pair
            df.unionByName(df.limit(1).withColumn("vec_id", lit(mVid + 1)))
              .unionByName(df.limit(1).withColumn("vec_id", lit(mVid + 2)))
          case _ => df
        }
        out.write.mode("overwrite").parquet(s"$seedDir/$t.parquet")
      }
    }

    // build the memoized one-time artifacts FIRST (same framing as the
    // bench's cold pass): per-query bytes then measure each query's own
    // steady-state traffic, and the artifact-build traffic is reported
    // as its own row instead of landing in whichever consumer ran first.
    // ONLY the real-corpus builds are inside the measured window — the
    // duplicate seed-corpus builds (round 11 ran them in the same window)
    // inflated the cold-artifact line vs prior rounds, so they get their
    // own settled window and their own row.
    val coldBefore = bytes.settle()
    ColdBuilds.all.foreach { case (_, build) =>
      try build(spark, sfDir) catch { case _: Throwable => () }
    }
    val coldAfter = bytes.settle()
    ColdBuilds.all.foreach { case (_, build) =>
      try build(spark, seedDir) catch { case _: Throwable => () }
    }
    val seedAfter = bytes.settle()
    def deltaLine(name: String, a: Seq[Long], b: Seq[Long]): String = {
      val Seq(r, w, m, dd) = a.zip(b).map { case (x, y) => x - y }
      s"""{"query":"$name","shuffle_read_bytes":$r,""" +
        s""""shuffle_write_bytes":$w,"spill_mem_bytes":$m,"spill_disk_bytes":$dd}"""
    }
    val coldLine = deltaLine("__cold_artifact_builds__", coldAfter, coldBefore)
    val seedLine = deltaLine("__seed_corpus_builds__", seedAfter, coldAfter)

    // SPARK_GRAFT_AUDIT_REVERSE=1 runs the registry back-to-front — the
    // order-independence receipt: counters must be identical either way
    // (diff the sorted rows), or some query's committed numbers depend on
    // what a sibling left behind.
    val order =
      if (sys.env.get("SPARK_GRAFT_AUDIT_REVERSE").contains("1"))
        QueryRegistry.all.reverse
      else QueryRegistry.all
    val lines = order.map { q =>
      try {
        // ORDER INDEPENDENCE (round 12): drop every CacheManager entry
        // before each query, so a committed counter can never depend on
        // which sibling ran first and what it left cached (the round-11
        // tx_dsir row was correct only because the audit happened to run
        // it before tx_dsir_drift). Registered queries are required to
        // leave the CacheManager empty anyway (QueryRegistrySpec's
        // hygiene gate) — the per-row leaked_cache count is the audit's
        // registry-wide receipt for that.
        org.apache.spark.sql.graftbridge.ColumnBridge.clearAllCache(spark)
        val before = bytes.settle()
        val df = q.fn(spark, if (seeded(q.name)) seedDir else sfDir)
        val nRows = df.collect().length // finalize AQE → real executed plan
        val after = bytes.settle()
        val leakedCache =
          org.apache.spark.sql.graftbridge.ColumnBridge.leakedCachePlans(spark).size
        val Seq(shufR, shufW, spM, spD) = after.zip(before).map { case (a, b) => a - b }
        val p = df.queryExecution.executedPlan.toString
        // a query whose RESULT is empty at this SF collapses to
        // EmptyRelation under AQE — its plan string then carries no
        // codegen markers AT ALL (there is no plan left to run), so a
        // 0-span row must be read against this flag, not as fallback
        val emptyCollapse = nRows == 0 && p.contains("EmptyRelation")
        // codegen renders as "*(n)" operator prefixes, one id per
        // whole-stage span — count DISTINCT ids, not occurrences
        val codegenSpans =
          raw"\*\((\d+)\)".r.findAllMatchIn(p).map(_.group(1)).toSet.size
        val obj = Seq(
          "shuffles" -> (count(p, "Exchange hashpartitioning") +
            count(p, "Exchange rangepartitioning")),
          "broadcasts" -> count(p, "BroadcastExchange"),
          "codegen_spans" -> codegenSpans,
          // CartesianProduct is always a red flag; BroadcastNestedLoopJoin
          // is usually the benign physical of a broadcast 1-row scalar
          // crossJoin (the engine's documented pattern) — reported
          // separately so a diff can tell the two apart
          "cartesian" -> count(p, "CartesianProduct"),
          "bnlj" -> count(p, "BroadcastNestedLoopJoin"),
          "sorts" -> count(p, "Sort ["),
          "windows" -> count(p, "Window ["))
          .map { case (k, v) => s""""$k":$v""" }.mkString(",") +
          // measured bytes, not estimates: what actually crossed the wire
          // and what actually spilled during this query's jobs
          s""","shuffle_read_bytes":$shufR,"shuffle_write_bytes":$shufW""" +
          s""","spill_mem_bytes":$spM,"spill_disk_bytes":$spD""" +
          s""","rows":$nRows,"empty_collapse":$emptyCollapse""" +
          s""","leaked_cache":$leakedCache"""
        val pushed = p.contains("PushedFilters: [") && !p.contains("PushedFilters: []")
        val seedTag = if (seeded(q.name)) ""","seeded":true""" else ""
        s"""{"query":"${q.name}",$obj,"pushed_filters":$pushed$seedTag}"""
      } catch { case e: Throwable =>
        s"""{"query":"${q.name}","error":"${String.valueOf(e.getMessage)
             .replaceAll("[\"\\\\\n\r\t]", " ").take(120)}"}"""
      }
    }
    Files.writeString(Paths.get(outPath),
      (Seq(coldLine, seedLine) ++ lines).mkString("\n") + "\n")
    // scalastyle:off println
    println(s"[plan-audit] ${lines.size} queries -> $outPath")
    // scalastyle:on println
    locally {
      val d = Paths.get(seedDir)
      if (Files.isDirectory(d)) {
        val it = Files.walk(d).sorted(java.util.Comparator.reverseOrder())
          .iterator()
        while (it.hasNext) Files.deleteIfExists(it.next())
      }
    }
    spark.stop()
  }
}
