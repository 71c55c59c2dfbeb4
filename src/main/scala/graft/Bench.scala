package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.localSession(cpus)
    // optional comma-separated name filter (scale-stress runs a subset);
    // SKIP is the complement. Since round 14 the replica sweeps need NO
    // skip list: the recall evals' truth side is a size-bounded
    // deterministic sample (TextOps.TruthSampleTarget), so every
    // registered query sweeps.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) && !skip(name) }
    // COLD ARTIFACT PASS (round 9): the memoized one-time artifacts
    // (quantized corpus, PQ/IVF indexes, winnow pairs, cluster labels,
    // classifier state, bucketed layout) are deliberately excluded from
    // the per-query mins — that is the correct steady-state framing, but
    // it made the build costs INVISIBLE (tx_classifier_train reported
    // 0.04 s without ever training). Build them here first, timed
    // individually from a cleared cache in dependency order, so
    // bench_full.json reports the cold cost next to the warm queries. At
    // 100 TB these builds ARE the pipeline. Round-over-round comparisons
    // of the per-query numbers are warm-vs-warm by construction.
    // (skipped under SPARK_GRAFT_ONLY — an isolation run warms what it
    // needs in the warmup sweep; the cold numbers belong to full runs)
    // r13: the cold pass runs TWICE (invalidate-all + rebuild-all), each
    // artifact reporting its min — r12's committed run showed the single
    // cold pass swinging 34.9 s ↔ 70.2 s on identical code (host steal
    // lands on whichever pass it lands on); two passes in two time
    // windows make the committed number reproducible.
    // SPARK_GRAFT_COLD=1 forces the cold pass even under a name filter —
    // how an isolated replica batch measures artifact-build scale (e.g.
    // the base-CC vs incremental-merge split at 64×)
    val coldBuilds: Seq[(String, Double)] =
      if (only.nonEmpty && !sys.env.contains("SPARK_GRAFT_COLD")) Seq() else {
      val passes = (1 to 2).map { _ =>
        graft.core.SessionCache.invalidate(spark)
        graft.tools.ColdBuilds.all.map { case (name, build) =>
          val t0 = System.nanoTime()
          try build(spark, sfDir) catch { case _: Throwable => () }
          name -> (System.nanoTime() - t0) / 1e9
        }
      }
      passes.head.zip(passes.last).map { case ((n, a), (_, b)) => n -> math.min(a, b) }
    }
    val coldTotal = coldBuilds.map(_._2).sum
    // warmup pass: JIT/codegen compilation and parquet footer reads happen
    // once here so the timed passes measure steady-state query execution
    // (the first query otherwise absorbs several seconds of JVM warmup).
    ordered.foreach { case (_, fn) =>
      try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
    }
    // QUERY-MAJOR isolated timing (contention protocol, round 8): each
    // query is timed three times BACK-TO-BACK and reports its minimum.
    // Back-to-back runs see near-identical host conditions, so max/min
    // spread measures real noise instead of cross-sweep host drift (the
    // old pass-major protocol ran three full-registry sweeps; a sweep-to-
    // sweep load change showed up as uniform ~1.5× "drift" on every
    // query). Isolation between runs: the cache is cleared before EVERY
    // run — no run reuses partitions persisted by a neighbor or by its
    // own previous run (each fn() call re-persists its intermediates
    // under a fresh plan, so stale entries are pure memory pressure) —
    // and a System.gc() between queries drains accumulated GC debt so a
    // heavy predecessor can't tax its successor's first run. The min
    // still shields against transient host steal (observed: 0.6s ↔ 8s on
    // identical plans); a genuine plan regression moves the min, steal
    // only widens the spread.
    // EXECUTOR CPU TIME per run (round 13): wall-clock on a time-shared
    // host carries steal noise that no retry protocol fully removes (two
    // same-code full runs spanned 78.7-112 s in r12/r13); summed task CPU
    // time is steal-robust — the reproducible round-over-round signal.
    // The listener bus is drained before each read so attribution never
    // bleeds across queries. Driver-side math (e.g. the PCA squarings) is
    // deliberately outside this counter; wall stays the primary metric.
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) { cpuNs.addAndGet(m.executorCpuTime); () }
      }
    })
    def drainBus(): Unit =
      org.apache.spark.sql.graftbridge.ColumnBridge.waitListenerBus(spark.sparkContext)
    def timedRuns(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Seq[(Double, Double)] = {
      System.gc()
      (1 to 3).map { _ =>
        spark.catalog.clearCache()
        drainBus()
        val c0 = cpuNs.get()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
        val w = (System.nanoTime() - t0) / 1e9
        drainBus()
        (w, (cpuNs.get() - c0) / 1e9)
      }
    }
    val perQuery: Seq[(String, Seq[(Double, Double)])] = ordered.map { case (name, fn) =>
      name -> timedRuns(fn)
    }
    // REFERENCE-FLOOR RETRY (round 13): min-of-3 back-to-back is blind to
    // SUSTAINED steal — if the host is stolen for the whole ~20 s window a
    // query occupies, all three runs are slow, the spread looks tight, and
    // the min reads as a regression (r12: tx_pipeline_funnel 6.42 vs 2.39
    // same-code; five phantom regressions in one committed artifact). The
    // committed bench_full.json from the previous run is a per-query floor
    // from a DIFFERENT time window: any query whose fresh min exceeds
    // 1.5× its reference (and by > 0.3 s absolute) is re-timed once more
    // at the END of the sweep — a second window, minutes later — and
    // keeps the overall min. A genuine plan regression is slow in both
    // windows and survives; steal confined to one window is filtered out.
    // Relative paths resolve against the REPO ROOT when absent from the
    // cwd (round 16): the driver launches sbt from its own working dir,
    // where a bare "bench_full.json" resolved to nothing — silently
    // disabling the steal-retry floor and the cpu_ratio receipt
    // (BENCH_r15.json: cpu_total_ref 0.00, n_retried 0). The compiled
    // classes live under <repo>/target/..., so walking up to build.sbt
    // recovers the repo root wherever the JVM was launched from.
    def resolveAtRepo(p: String): java.io.File = {
      val f = new java.io.File(p)
      if (f.isAbsolute || f.exists()) f
      else try {
        var d = new java.io.File(
          getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
        while (d != null && !new java.io.File(d, "build.sbt").exists())
          d = d.getParentFile
        if (d == null) f else new java.io.File(d, p)
      } catch { case _: Throwable => f }
    }
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "bench_full.json")
    val (refMins: Map[String, Double], refCpuTotal: Double) = try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(resolveAtRepo(refPath))
      val q = node.get("queries")
      val cpu = Option(node.get("cpu_total")).map(_.asDouble()).getOrElse(0.0)
      if (q == null) (Map.empty[String, Double], cpu)
      else {
        val it = q.fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
        (b.result(), cpu)
      }
    } catch { case _: Throwable => (Map.empty[String, Double], 0.0) }
    val flagged = perQuery.collect {
      case (name, ts) if refMins.get(name).exists(r =>
        ts.map(_._1).min > r * 1.5 && ts.map(_._1).min - r > 0.3) => name
    }.toSet
    val retried: Seq[(String, Seq[(Double, Double)])] = ordered
      .filter { case (name, _) => flagged(name) }
      .map { case (name, fn) => name -> timedRuns(fn) }
    val retriedRuns = retried.toMap
    val perQueryFinal = perQuery.map { case (name, ts) =>
      name -> (ts ++ retriedRuns.getOrElse(name, Seq.empty))
    }
    val results = perQueryFinal.map { case (name, ts) => name -> ts.map(_._1).min }
    // per-query CPU: the MINIMUM of the runs' executor-CPU seconds
    // (round 15; was median). Steal barely moves task CPU, but it does
    // not leave it untouched either — contention adds cache-thrash and
    // in-task GC cycles to the runs it lands on, and the median keeps
    // one such run's inflation whenever 2 of 3 runs are touched. The min
    // is the intrinsic work estimate, selected exactly like the wall
    // min, which is what the two-run cpu_ratio reproducibility gate
    // wants on both sides.
    val cpuResults = perQueryFinal.map { case (name, ts) =>
      name -> ts.map(_._2).min
    }
    val spreads = perQueryFinal.map { case (name, ts) =>
      val w = ts.map(_._1)
      name -> (if (w.min > 0) w.max / w.min else 0.0)
    }
    // med/min is the steal-robust spread: ONE stolen run out of three
    // inflates max/min but leaves the median untouched, so a med/min near
    // 1 with a big max/min reads "host steal", while both high reads
    // "genuinely unstable query"
    val spreadsMed = perQuery.map { case (name, ts) =>
      val w = ts.map(_._1)
      name -> (if (w.min > 0) w.sorted.apply(1) / w.min else 0.0)
    }
    // Locale.ROOT: the f interpolator formats with the JVM default locale,
    // and a comma-decimal locale would make this line unparseable JSON
    def fmt(v: Double, pat: String) = String.format(java.util.Locale.ROOT, pat,
      Double.box(if (java.lang.Double.isFinite(v)) v else 0.0))
    def obj(m: Seq[(String, Double)], pat: String = "%.4f") = m
      .map { case (k, v) => "\"" + k + "\":" + fmt(v, pat) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Full per-query detail (all queries + spreads) goes to a FILE; the
    // stdout line must stay well under 2000 characters because the driver
    // records only the LAST 2000 chars of this process's output and parses
    // the JSON line out of that window — a full 144-query line (~9 KB) gets
    // its head truncated and parses as null (BENCH_r5/r6 post-mortem).
    // an isolation run (SPARK_GRAFT_ONLY) writes to a DISTINCT path: it
    // must never clobber the full-registry dump that the reference-floor
    // retry reads as its per-query floor — a partial file there would
    // silently strip steal-retry protection from every absent query on the
    // next full run (refMins.get(name) = None → never flagged)
    val fullPathBase = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full.json")
    val fullPath = resolveAtRepo(
      if (only.isEmpty) fullPathBase else fullPathBase + ".isolated").getPath
    // best-effort: an unwritable cwd must not take down the stdout report
    val runsObj = perQueryFinal
      .map { case (k, ts) =>
        "\"" + k + "\":[" + ts.map(t => fmt(t._1, "%.3f")).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val retriedArr = retried.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val cpuTotal = cpuResults.map(_._2).sum
    // two-run CPU receipt (round 14): wall spread on this time-shared host
    // is dominated by steal (r13: 1.14× wall, 1.07 med/min); the summed
    // executor task CPU barely moves under steal, so the round-over-round
    // gate is cpu_ratio = this run's cpu_total / the reference run's —
    // ≤1.05 means same-code reproducibility, and a wall spread >1.10 with
    // cpu_ratio ~1 is EXPLAINED as steal by this receipt. 0 when the
    // reference predates the cpu field or an isolation run has no ref.
    val cpuRatio =
      if (refCpuTotal > 0 && only.isEmpty) cpuTotal / refCpuTotal else 0.0
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath),
      s"""{"metric":"total","value":${fmt(total, "%.4f")},"unit":"sec","cpus":$cpus,"protocol":"cold artifact pass x2 (per-artifact min), then query-major min-of-3, cache cleared per run, gc per query, reference-floor retry pass (>1.5x and >0.3s over $refPath re-timed in a second window); cpu_* = summed executor task CPU (min of runs), the steal-robust cross-run signal; cpu_ratio = cpu_total vs the reference run's (the two-run reproducibility gate)","cold_builds":${obj(coldBuilds)},"cold_total":${fmt(coldTotal, "%.4f")},"queries":${obj(results)},"cpu_total":${fmt(cpuTotal, "%.4f")},"cpu_total_ref":${fmt(refCpuTotal, "%.4f")},"cpu_ratio":${fmt(cpuRatio, "%.4f")},"cpu_queries":${obj(cpuResults)},"spread_max_over_min":${obj(spreads)},"spread_med_over_min":${obj(spreadsMed)},"retried":$retriedArr,"runs":$runsObj,"sf":"$sfDir"}""")
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] full dump failed: ${e.getMessage}")
    }
    // stdout: headline = the heaviest queries, greedily added while the
    // line stays under budget; the remainder is summarized, never dropped
    // silently (n + seconds of everything not listed).
    val byWeight = results.sortBy(-_._2)
    // stdout must stay comfortably inside the driver's trailing-2000-char
    // parse window — and that window also swallows whatever sbt prints
    // AFTER the line ([success]/Total time ~100 chars), so the real
    // budget is ~1600. r12-r14 post-mortem: per-artifact cold_builds
    // (~600 chars at 20+ artifacts) plus a 900-char query head pushed
    // the line past the window head — three rounds of `parsed: null`.
    // The line now carries scalars + the query head ONLY (~250 fixed +
    // budget below); per-artifact cold builds and both spread objects
    // live exclusively in the full dump.
    val budget = 700
    val head = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    var used = 0
    byWeight.foreach { case (k, v) =>
      val cost = k.length + 10
      if (used + cost <= budget) { head += (k -> v); used += cost }
    }
    val rest = byWeight.drop(head.size)
    // "cpus" in the stdout line (round 16): the driver's 8-vs-32-core
    // scaling block needs the core count legible from the parsed JSON —
    // its absence is why r15's all-≈1 sf0.1 ratios (latency-bound, see
    // OPTIMIZATION_r16.md) tripped suspect_cpus_ignored.
    println(s"""{"metric":"total","value":${fmt(total, "%.4f")},"unit":"sec","cpus":$cpus,"cpu_total":${fmt(cpuTotal, "%.2f")},"cpu_total_ref":${fmt(refCpuTotal, "%.2f")},"cpu_ratio":${fmt(cpuRatio, "%.3f")},"n_queries":${results.size},"cold_builds_total":${fmt(coldTotal, "%.2f")},"n_retried":${retried.size},"queries":${obj(head.toSeq, "%.2f")},"other_queries":{"n":${rest.size},"sec":${fmt(rest.map(_._2).sum, "%.2f")}},"full":"$fullPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
