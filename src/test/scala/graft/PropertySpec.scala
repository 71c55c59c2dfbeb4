package graft

import java.math.{BigDecimal => JBD, MathContext, RoundingMode}

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Merge
import graft.functions.Wei
import graft.operators.AsOf

/** Property-based coverage (SURVEY.md §5 point 2): wei money math against
  * an arbitrary-precision model, MERGE idempotency over generated tables,
  * as-of join against a brute-force model, and pagination invariants —
  * each over ScalaCheck-generated inputs with a fixed seed (deterministic
  * CI).
  */
class PropertySpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def sampled[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("wei product+truncation matches the BigDecimal model (both signs)") {
    val genWei = Gen.chooseNum(-1000000L, 1000000L)
      .flatMap(m => Gen.chooseNum(0L, 999999999999999999L).map(f =>
        BigInt(m) * BigInt("1000000000000000000") + (if (m < 0) -BigInt(f) else BigInt(f))))
    val pairs = sampled(Gen.zip(genWei, genWei), 300)
    val df = pairs.map { case (a, b) => (a.toString, b.toString) }.toDF("a", "b")
      .select(Wei.toWeiStr(Wei.mulExact(Wei.weiToDec(col("a")), Wei.weiToDec(col("b")))).as("got"))
    val got = df.collect().map(_.getString(0))
    val scale18 = new JBD("1000000000000000000")
    pairs.zip(got).foreach { case ((a, b), g) =>
      val exact = new JBD(a.bigInteger).multiply(new JBD(b.bigInteger), MathContext.UNLIMITED)
        .divide(scale18, 40, RoundingMode.HALF_UP) // a*b/1e18 at deep scale
        .setScale(20, RoundingMode.DOWN) // mulExact's documented truncation
        .setScale(0, RoundingMode.DOWN) // toWeiStr truncation toward zero
      assert(g === exact.toBigInteger.toString, s"a=$a b=$b")
    }
  }

  test("int_dot matches the BigInt model on generated vectors (incl. magnitude extremes)") {
    val genComp = Gen.oneOf(
      Gen.chooseNum(-1000L, 1000L),
      Gen.chooseNum(-10000000000L, 10000000000L)) // quantArr magnitudes
    val genVec = Gen.listOfN(16, genComp)
    val pairs = sampled(Gen.zip(genVec, genVec), 200)
    val df = pairs.toDF("a", "b")
      .select(expr("int_dot(a, b)").as("got"))
    val got = df.collect().map(_.getLong(0))
    pairs.zip(got).foreach { case ((a, b), g) =>
      // the expression accumulates in Long (wrapping like every engine's
      // int64 dot); the model reduces each product mod 2^64 the same way
      val model = a.zip(b).map { case (x, y) => x * y }.sum
      assert(g === model, s"a=$a b=$b")
    }
  }

  test("Merge.upsert is idempotent and key-unique on generated tables") {
    val genRow = Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 1000L))
    (0 until 5).foreach { i =>
      val t = sampled(genRow, 40).distinctBy(_._1).toDF("k", "v")
      val u = sampled(genRow.map { case (k, v) => (k, v + 10000L) }, 20)
        .distinctBy(_._1).toDF("k", "v")
      val once = Merge.upsert(t, u, Seq("k"))
      val twice = Merge.upsert(once, u, Seq("k"))
      val a = once.as[(Long, Long)].collect().toSet
      val b = twice.as[(Long, Long)].collect().toSet
      assert(a === b, s"iteration $i not idempotent")
      assert(a.map(_._1).size === a.size, s"iteration $i produced duplicate keys")
    }
  }

  test("asOfBackward matches a brute-force model on random inputs") {
    val genL = Gen.zip(Gen.chooseNum(1L, 4L), Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 99L))
    val genR = Gen.zip(Gen.chooseNum(1L, 4L), Gen.chooseNum(0L, 15L), Gen.chooseNum(100L, 199L),
      Gen.chooseNum(0.0, 1000.0))
    (0 until 4).foreach { i =>
      val lRows = sampled(genL, 25).distinctBy(r => (r._2, r._3))
      val rRows = sampled(genR, 25).distinctBy(r => (r._2, r._3))
      val left = lRows.toDF("key", "ts", "tb")
      val right = rRows.toDF("key", "ts", "tb", "rv")
      val got = AsOf.asOfBackward(left, right, "key", "ts", "tb", "rv", "asof")
        .select(col("key"), col("ts"), col("tb"), col("asof"))
        .as[(Long, Long, Long, Option[Double])].collect()
        .map(r => (r._1, r._2, r._3) -> r._4).toMap
      lRows.foreach { case (k, ts, tb) =>
        val expected = rRows
          .filter(r => r._1 == k && r._2 <= ts)
          .sortBy(r => (r._2, r._3)).lastOption.map(_._4)
        assert(got((k, ts, tb)) === expected, s"iter $i left=($k,$ts,$tb)")
      }
    }
  }

  test("connectedComponents matches a union-find model on random graphs") {
    // random sparse graphs incl. self-loops and duplicate edges — shapes a
    // real near-dup pair table produces
    val genGraph = for {
      n <- Gen.chooseNum(2, 80)
      m <- Gen.chooseNum(1, 120)
      edges <- Gen.listOfN(m, Gen.zip(Gen.chooseNum(0L, n.toLong), Gen.chooseNum(0L, n.toLong)))
    } yield edges
    sampled(genGraph, 8).foreach { edges =>
      // model: driver-side union-find with min-label normalization
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(v => v -> find(v)).toMap
      val got = graft.operators.TextOps
        .connectedComponents(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected)
    }
  }

  test("Prefix.exclusiveCumsum matches a scanLeft model on random histograms") {
    // load-bearing for five operators (chunk_pack, budget_select,
    // quality_cutoff, shard_pack, ccnet_bucket): the two-level distributed
    // cumsum must equal the sequential exclusive prefix sum for ANY bucket
    // distribution — sparse ids, duplicate-free but unordered, skewed
    // totals, single bucket, and bucket ids straddling superbucket
    // boundaries (the div-256 coarsening this generator crosses).
    val genHist = for {
      n <- Gen.chooseNum(1, 60)
      ids <- Gen.listOfN(n, Gen.chooseNum(0L, 2000L)).map(_.distinct)
      tots <- Gen.listOfN(ids.size, Gen.chooseNum(0L, 100000L))
    } yield ids.zip(tots)
    sampled(genHist, 10).foreach { hist =>
      val model = hist.sortBy(_._1)
        .scanLeft((Long.MinValue, 0L, 0L)) { case ((_, cum, t), (id, tot)) =>
          (id, cum + t, tot)
        }.drop(1).map { case (id, off, _) => id -> off }.toMap
      val got = graft.core.Prefix.exclusiveCumsum(
          hist.toDF("bkt", "tot"), Seq.empty, "bkt", expr("bkt div 256"), "tot")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === model, s"hist=${hist.take(5)}...")
    }
  }

  test("pagination pages are disjoint, ordered, and within the limit") {
    val base = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val pages = (0 until 4).map(p =>
      base.offset(p * 20).limit(20).select("o_orderkey").as[Long].collect().toSeq)
    pages.foreach(p => assert(p.size <= 20))
    val all = pages.flatten
    assert(all.distinct.size === all.size, "pages overlap")
    val expected = base.limit(80).select("o_orderkey").as[Long].collect().toSeq
    assert(all === expected, "concatenated pages differ from the prefix")
  }

  test("BoundedTopK merge is order-insensitive and matches sort.take(k)") {
    // the partial-aggregation contract: ANY partitioning of the input,
    // reduced shard-wise then merged in ANY order, must equal the global
    // sorted head — this is exactly what Spark's map-side combine assumes
    val agg = graft.functions.BoundedTopK[Long](5)
    val genRows = Gen.listOfN(60, Gen.zip(Gen.chooseNum(-50L, 50L), Gen.chooseNum(0L, 9L)))
    sampled(genRows, 40).foreach { rows =>
      val expected = rows.sorted.take(5)
      // shard into uneven partitions, reduce each, then merge shards
      // left-to-right and right-to-left
      val shards = rows.grouped(7).toList
        .map(sh => sh.foldLeft(agg.zero)(agg.reduce))
      val l2r = shards.foldLeft(agg.zero)(agg.merge)
      val r2l = shards.reverse.foldLeft(agg.zero)(agg.merge)
      assert(agg.finish(l2r).toList === expected)
      assert(agg.finish(r2l).toList === expected)
    }
  }

  test("ss_maxsim matches a brute-force late-interaction model") {
    // the full MaxSim definition re-derived in plain Scala over the same
    // parquet — quantization, integer dots, the shared 3-op cosine tree,
    // per-token max, 1e-12 flooring, int64 sum, (score desc, d_pid) top-5
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(f => math.floor(f.toDouble * 1e7).toLong).toArray)
    def nrm(a: Array[Long]): Long = a.map(x => x * x).sum
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val (na, nb) = (nrm(a), nrm(b))
      if (na == 0 || nb == 0) { if (na == 0 && nb == 0) 1.0 else 0.0 }
      else {
        val dot = a.indices.map(i => a(i) * b(i)).sum
        dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
      }
    }
    val byPid = emb.groupBy(_._1 / 8)
    val expected = emb.filter(_._1 < 32).groupBy(_._1 / 8).flatMap {
      case (qpid, qvecs) =>
        byPid.filter(_._1 != qpid).map { case (dpid, dvecs) =>
          val score = qvecs.map { case (_, qa) =>
            math.floor(dvecs.map(dv => cos(qa, dv._2)).max * 1e12).toLong
          }.sum
          (dpid, score)
        }.toSeq.sortBy { case (dpid, sc) => (-sc, dpid) }.take(5)
          .zipWithIndex.map { case ((dpid, sc), i) => (qpid, dpid, sc, (i + 1).toLong) }
    }.toSet
    val got = graft.core.QueryRegistry.byName("ss_maxsim").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === expected)

    // the pooled-candidate two-stage variant must score every pair it
    // surfaces IDENTICALLY to the brute scorer (same maxsimRank tail), and
    // its per-query results can never beat brute's rank-1
    val ivf = graft.core.QueryRegistry.byName("ss_maxsim_ivf").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val bruteScore = expected.map { case (q, dp, sc, _) => (q, dp) -> sc }.toMap
    ivf.foreach { case (q, dp, sc, _) =>
      bruteScore.get((q, dp)).foreach(b =>
        assert(b === sc, s"pair ($q,$dp) scores differ between brute and pooled-candidate"))
    }
    val bruteBest = expected.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).max }
    ivf.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._3).max <= bruteBest(q),
        s"query $q: pooled-candidate top score exceeds exhaustive top score")
    }
  }

}
