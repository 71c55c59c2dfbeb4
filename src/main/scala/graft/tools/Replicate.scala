package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Scale-stress replica builder: N shifted copies of `documents.parquet`
  * with perturbed text, so replicas of one document are NEAR- but not
  * exact duplicates — the adversarial shape for the dedup family (the
  * candidate graph grows with the replication factor, not just the rows).
  * Usage: runMain graft.tools.Replicate <srcSfDir> <dstDir> <n>
  */
object Replicate {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, nStr) = args.take(3)
    val n = nStr.toInt
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val d = spark.read.parquet(s"$src/documents.parquet")
    val shift = d.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1
    val out = (0 until n).map { i =>
      d.withColumn("doc_id", col("doc_id") + lit(i.toLong * shift))
        .withColumn("text", concat(col("text"),
          lit(s" zr$i wq"), pmod(col("doc_id"), lit(13L)).cast("string")))
    }.reduce(_ unionByName _)
    out.write.mode("overwrite").parquet(s"$dst/documents.parquet")
    // embeddings: vec_id-shifted copies with the FIRST component nudged per
    // replica — replicas stay near- (not exact) duplicates in cosine, so
    // the embedding dedup candidate graph grows with the factor too
    val e = spark.read.parquet(s"$src/embeddings.parquet")
    val vshift = e.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1
    val eout = (0 until n).map { i =>
      e.withColumn("vec_id", col("vec_id") + lit(i.toLong * vshift))
        .withColumn("embedding", expr(
          s"transform(embedding, (x, j) -> IF(j = 0, x + cast(${i * 5e-4} as float), x))"))
    }.reduce(_ unionByName _)
    eout.write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    // events: id/user-shifted copies with the timestamp nudged forward per
    // replica (i seconds) — replicas are distinct rows in every key space
    // the MOC-side queries shuffle on (event_id, user_id, ts windows), so
    // an N× replica genuinely multiplies join/window/as-of work instead of
    // collapsing into duplicate groups. The ts nudge keeps per-user event
    // ORDER intact (sessions/as-of shift, not reorder).
    val ev = spark.read.parquet(s"$src/events.parquet")
    val eshift = ev.agg(max(col("event_id"))).collect()(0).getLong(0) + 1
    val ushift = ev.agg(max(col("user_id"))).collect()(0).getLong(0) + 1
    val evout = (0 until n).map { i =>
      ev.withColumn("event_id", col("event_id") + lit(i.toLong * eshift))
        .withColumn("user_id", col("user_id") + lit(i.toLong * ushift))
        .withColumn("ts", col("ts") + expr(s"INTERVAL $i SECOND"))
    }.reduce(_ unionByName _)
    evout.write.mode("overwrite").parquet(s"$dst/events.parquet")
    // TPC-H tables (round 11, for FULL-registry replica sweeps): each
    // replica is a disjoint copy with every join key shifted CONSISTENTLY
    // (customer/orders on custkey, orders/lineitem on orderkey,
    // lineitem/part/supplier on part- and suppkey) — the join graph is
    // preserved exactly, so an N× replica multiplies rows in every key
    // space the relational queries shuffle on instead of collapsing into
    // duplicate groups. nation/region stay single copies: they are the
    // broadcast dims (25/5 rows) and the *keys referencing them*
    // (c_nationkey, s_nationkey) are left in range on purpose.
    def maxOf(df: org.apache.spark.sql.DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).collect()(0).getLong(0) + 1
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val part = spark.read.parquet(s"$src/part.parquet")
    val supp = spark.read.parquet(s"$src/supplier.parquet")
    val cShift = maxOf(cust, "c_custkey")
    val oShift = maxOf(ord, "o_orderkey")
    val pShift = maxOf(part, "p_partkey")
    val sShift = maxOf(supp, "s_suppkey")
    def rep(df: org.apache.spark.sql.DataFrame,
        shifts: Seq[(String, Long)]): org.apache.spark.sql.DataFrame =
      (0 until n).map { i =>
        shifts.foldLeft(df) { case (acc, (c, sh)) =>
          acc.withColumn(c, col(c) + lit(i.toLong * sh))
        }
      }.reduce(_ unionByName _)
    rep(cust, Seq("c_custkey" -> cShift))
      .write.mode("overwrite").parquet(s"$dst/customer.parquet")
    rep(ord, Seq("o_orderkey" -> oShift, "o_custkey" -> cShift))
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
    rep(li, Seq("l_orderkey" -> oShift, "l_partkey" -> pShift,
      "l_suppkey" -> sShift))
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    rep(part, Seq("p_partkey" -> pShift))
      .write.mode("overwrite").parquet(s"$dst/part.parquet")
    rep(supp, Seq("s_suppkey" -> sShift))
      .write.mode("overwrite").parquet(s"$dst/supplier.parquet")
    Seq("nation", "region").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    spark.stop()
  }
}
