package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Skewed-key stress on the MOC surface (round 11): the reference's real
  * traffic IS skewed — a handful of contract addresses dominate the
  * indexer's event volume (tasks.py:71,186) — so the hot-key behavior of
  * the address-keyed queries is a deployment question, not a hypothetical.
  * This bench builds an ADVERSARIAL events replica (90% of rows collapsed
  * onto one hot user_id, same total row count) from a base dir and times
  * the four address-keyed query shapes on uniform vs skewed data,
  * min-of-3 each, plus a salted-vs-plain comparison of the one
  * JOIN-shaped consumer (the dirty-set refresh's history join) to decide
  * whether `Skew.saltedJoin` needs wiring.
  *
  * Usage: runMain graft.tools.SkewBench <baseSfDir> <workDir>
  * Prints one JSON line: per-query {uniform_s, skew_s, ratio}.
  */
object SkewBench {
  private val Queries =
    Seq("a1_group_count", "s6_upsert_latest", "t6_userstate_refresh",
      "api_tx_list", "w1_top1_per_key")

  def main(args: Array[String]): Unit = {
    val Array(base, work) = args.take(2)
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")

    // skewed replica: 90% of events collapse onto ONE hot user (the
    // event_id stays unique, so upsert/window keys still have work to do);
    // every other table is byte-copied so both dirs are apples-to-apples.
    val ev = spark.read.parquet(s"$base/events.parquet")
    val hot = ev.agg(max(col("user_id"))).collect()(0).getLong(0) + 1
    ev.withColumn("user_id",
        when(pmod(col("event_id"), lit(10L)) < 9, lit(hot))
          .otherwise(col("user_id")))
      .write.mode("overwrite").parquet(s"$work/events.parquet")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$work/$t.parquet")
    }

    def minOf3(dir: String, name: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      fn(spark, dir).count() // warm
      (1 to 3).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }.min
    }

    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val rows = Queries.map { name =>
      val u = minOf3(base, name)
      val s = minOf3(work, name)
      s""""$name":{"uniform_s":${fmt(u)},"skew_s":${fmt(s)},"ratio":${fmt(
        if (u > 0) s / u else 0.0)}}"""
    }

    // the join-shaped consumer: the t6 refresh joins the dirty set back to
    // full history on user_id — the one place a hot key concentrates JOIN
    // rows (not just agg rows) in one task. Compare the plain equi-join
    // against Skew.saltedJoin on the skewed replica to decide policy.
    val evS = spark.read.parquet(s"$work/events.parquet")
      .select(col("user_id"), col("event_type"), col("value"))
    val dirty = evS.select(col("user_id")).distinct()
    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val plain = (1 to 3).map { _ =>
      spark.catalog.clearCache()
      time(evS.join(dirty, Seq("user_id")).groupBy(col("user_id"))
        .agg(sum(col("value"))).count())
    }.min
    val salted = (1 to 3).map { _ =>
      spark.catalog.clearCache()
      time(graft.core.Skew.saltedJoin(evS, dirty, "user_id", 16)
        .groupBy(col("user_id")).agg(sum(col("value"))).count())
    }.min

    // scalastyle:off println
    println(s"""{"metric":"skew_stress","hot_share":0.9,"base":"$base",""" +
      rows.mkString("\"queries\":{", ",", "},") +
      s""""t6_history_join":{"plain_s":${fmt(plain)},"salted_s":${fmt(salted)}}}""")
    // scalastyle:on println
    spark.stop()
  }
}
