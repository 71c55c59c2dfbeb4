package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}

import graft.core.{Q, Tables => T}
import graft.functions.BoundedTopK
import graft.plans.IntDotExpr

/** Embedding-vector operators — SURVEY.md §7.4 extension surface: cosine
  * similarity search (brute-force baseline + LSH-bucketed scale path) and
  * embedding near-duplicate detection over the `embeddings` table
  * (vec_id BIGINT, embedding ARRAY<FLOAT> dim=64, label INT).
  *
  * Exactness: cosine over IEEE floats is summation-order-dependent, so a
  * naive double dot product would hash-mismatch any oracle. We quantize each
  * component to an exact integer — floor(double(f) × 10^7), both engines
  * produce identical results since float→double widening is exact, ×10^7 is
  * one IEEE op, floor is exact — and compute dot products and norms in
  * 64-bit integer arithmetic (|f|≲1 → components ≤1e7, squares ≤1e14, 64-dim
  * sums ≤6.4e15 < 2^53 < 2^63: exact AND associative, any aggregation order
  * gives the same value). Only the final cosine = dot/(√na·√nb) is floating
  * point — a fixed 3-op IEEE tree on identical integers, deterministic.
  *
  * Plan shape: the quantized integer array and its squared norm are
  * materialized ONCE per vector (a narrow projection before any join), so
  * the per-pair work is exactly one zip_with/aggregate fold over two int
  * arrays — not a re-quantization of both sides per candidate. All folds are
  * Spark higher-order functions (codegen'd, no UDF).
  *
  * Scale design (100 TB): no all-pairs on the full corpus. The brute-force
  * top-k broadcasts the (small) query set and folds each pair's dot product
  * inside one narrow projection — no shuffle until the per-query top-k
  * (TakeOrdered-style agg, k·|Q| rows). The DEDUP index joins on
  * multi-table sign codes ([[embedCodeTable]]: 4 tables × 16-bit
  * dimension-slice codes, 4·2^16 possible keys) so the candidate set stays
  * dup-sized as the corpus grows; the single-8-bit-bucket variant survives
  * only as `ss_topk_lsh`, the deliberately-naive table whose recall
  * collapse `ss_recall` measures.
  *
  * Deliberately NOT a Catalyst rewrite rule: a `cos(a,b) >= θ` join cannot
  * be soundly bucketized — no hyperplane/bucket predicate is implied by the
  * cosine threshold (ss_recall measures exactly how much the bucket
  * restriction loses), so an automatic Join→LSH rule would silently change
  * results. Approximation stays an explicit operator choice
  * (brute/lsh/lsh4/ivf/quant), unlike the SEMANTICS-PRESERVING rewrites
  * that do run as rules (the as-of join, the block-range strategy).
  */
object VectorOps {

  /** quantized integer components: floor(double(f) * 1e7) per element,
    * computed once per row before any join. */
  private def quantArr(emb: String): Column =
    expr(s"transform($emb, x -> cast(floor(cast(x as double) * 10000000.0D) as bigint))")

  /** integer squared norm of a pre-quantized array (codegen'd custom
    * expression — see graft.plans.IntDotExpr for why not aggregate()). */
  private def normOf(qarr: String): Column =
    toCol(IntDotExpr(toExpr(expr(qarr)), toExpr(expr(qarr))))

  /** integer dot product of two pre-quantized arrays. */
  private def dotOf(a: String, b: String): Column =
    toCol(IntDotExpr(toExpr(expr(a)), toExpr(expr(b))))

  /** exact-integer cosine: dot/(√na·√nb) — the ONE deterministic 3-op IEEE
    * tree every scorer in this file shares (and every oracle replicates).
    * TOTAL over zero-norm vectors: cosine is undefined there, and under
    * ANSI mode the raw division THROWS (a zero embedding reaching
    * probeEmbedIndex would kill a whole streaming batch —
    * EmbedDupStreamSpec pins it). Convention: zero-vs-zero scores 1.0 (an
    * empty embedding duplicates an empty embedding, mirroring how
    * minhashSignaturesTotal makes identical short docs collide), zero-vs-
    * nonzero scores 0.0. The guard never fires on the oracle-paired data
    * (no zero vectors), so oracle trees are unchanged where they compare. */
  private[operators] def cosFrom(dot: Column, na: Column, nb: Column): Column =
    when(na === 0 || nb === 0,
      when(na === 0 && nb === 0, lit(1.0)).otherwise(lit(0.0)))
      .otherwise(dot.cast(DoubleType)
        / (sqrt(na.cast(DoubleType)) * sqrt(nb.cast(DoubleType))))

  /** the driver-side mirror of [[cosFrom]] for one scalar triple: the same
    * zero-norm convention (0/0 → 1.0, 0/x → 0.0) and, on nonzero norms,
    * the same 3-op IEEE tree, so a cosine scored here equals the Column's
    * bit for bit. */
  private[operators] def cosOf(dot: Long, na: Long, nb: Long): Double =
    if (na == 0L || nb == 0L) { if (na == 0L && nb == 0L) 1.0 else 0.0 }
    else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))

  /** the oracle-side mirror of [[cosFrom]] — TOTAL over zero norms with the
    * same convention (0/0 → 1.0, 0/x → 0.0). Every oracle cosine goes
    * through this so Spark and DuckDB agree at the DEFINITION site instead
    * of depending on the dataset containing no zero-norm vectors (a future
    * Replicate variant introducing one would otherwise diverge silently —
    * NaN/Inf vs 1.0/0.0 — rather than fail loudly). On nonzero norms the
    * ELSE branch is the identical 3-op IEEE tree as before, so existing
    * hashes are unchanged. */
  private def cosSql(dot: String, na: String, nb: String): String =
    s"CASE WHEN $na = 0 OR $nb = 0 THEN " +
      s"(CASE WHEN $na = 0 AND $nb = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) " +
      s"ELSE CAST($dot AS DOUBLE)/(sqrt($na)*sqrt($nb)) END"

  /** 8-bit sign-bucket: bit i set iff embedding[i] >= 0 (i = 1..8,
    * 1-indexed) — an axis-aligned random-hyperplane LSH code. */
  private def signBucket(emb: String): Column =
    expr(s"aggregate(sequence(1, 8), 0, (acc, i) -> " +
      s"acc + if(element_at($emb, i) >= cast(0 as float), cast(pow(2, i-1) as int), 0))")

  private val signBucketSql =
    "list_sum(list_transform(range(1, 9), i -> CASE WHEN embedding[i] >= 0 THEN CAST(pow(2, i-1) AS BIGINT) ELSE 0 END))"

  /** embeddings with (vec_id, qarr, nrm[, bucket]) — the SQ8-quantized
    * base index every ANN variant reads. Memoized per (session, dataset,
    * bucket-variant) as an eager localCheckpoint: quantization is the
    * one-time index-build step of the vector store (a probe never
    * re-quantizes the corpus), and the checkpoint survives the bench's
    * per-run cache clears. One narrow map pass per dataset, total. */
  private val quantCache = new graft.core.SessionCache[DataFrame]()
  private[graft] def quantized(s: SparkSession, d: String, withBucket: Boolean): DataFrame =
    quantCache.get(s, d + "@" + withBucket) {
      val base = T.embeddings(s, d)
        .withColumn("qarr", quantArr("embedding"))
        .withColumn("nrm", normOf("qarr"))
      (if (withBucket) {
        base.withColumn("bucket", signBucket("embedding").cast(LongType))
      } else base).localCheckpoint(eager = true)
    }

  // ── distributed PCA (ss_pca_power) ─────────────────────────────────────

  /** PCA fixed-point scale: matrix/vector entries are renormalized to
    * ≤ 10^6 between squarings, so every product in the iteration stays
    * ≤ 64·10^12 — exact Long arithmetic, identical on both engines. */
  private val PcaScale = 1000000L

  /** PCA squaring rounds: B ← rescale(B²) twelve times = effective power
    * 2^12 = 4096 of the Gram matrix. The synthetic corpus is near-isotropic
    * (top eigengap λ1/λ2 ≈ 1.017 at sf0.1), where plain power iteration
    * needs hundreds of matvecs; squaring reaches machine-exact dominance
    * (measured: |⟨v, v_true⟩| = 1.0 at sf0.001/0.01/0.1) in 12 rounds of
    * 64×64 integer multiplies — trivial, N-independent work. */
  private val PcaSquarings = 12

  /** deterministic rescale used EVERYWHERE in the PCA iteration (both
    * engines): sign(x) · (|x|·scale div m). Division only ever sees
    * non-negative operands, so Spark `div`, DuckDB `//`, and Long `/`
    * all agree (they differ on negatives: truncate vs floor). */
  private def pcaRescale(x: BigInt, m: BigInt): Long =
    (if (x < 0) -((-x) * PcaScale / m) else x * PcaScale / m).toLong

  /** the dominant Gram eigenvector in fixed point (64 entries, |v| ≤ 10^6,
    * sign-canonicalized: the largest-|·| entry — smallest index on ties —
    * is positive). Memoized per (session, dataset): the component is the
    * INDEX-BUILD step of a PCA-projection pipeline, like [[quantized]].
    *
    * Distribution shape: ONE aggregation job builds the upper-triangle
    * Gram — per row a codegen'd explode of d(d+1)/2 = 2080 (i, j, q_i·q_j)
    * terms, hash-aggregated map-side onto 2080 keys, so the shuffle is
    * (#partitions × 2080) rows no matter the corpus size. Sums accumulate
    * in DECIMAL(38,0) (the a12_moment_stats discipline): per-term products
    * are ≤ 4·10^9 at the 10^4 component quantization, so int64 would
    * already cap the corpus at ~10^9 rows — 128-bit accumulation carries
    * the 100 TB case. The driver then collects the 2080 cells (bounded,
    * N-INDEPENDENT — the same boundedness class as the OHLC candle
    * collect) and runs the squaring loop locally: 12 × 64³ Long multiplies.
    * Everything after is a broadcast-free narrow projection. */
  /** the Gram matrix, collected (bounded, N-independent) and rescaled to
    * |entries| ≤ 10^6 Longs — the driver-side input of the squaring loop. */
  private def pcaGramScaled(s: SparkSession, d: String): Array[Array[Long]] = {
    val pq = T.embeddings(s, d)
      .select(expr("transform(embedding, x -> cast(floor(cast(x as double)*10000.0D) as bigint))")
        .as("q"))
    val cells = pq
      .select(explode(expr(
        "flatten(transform(sequence(1,64), i -> transform(sequence(i,64), " +
          "j -> named_struct('i', i, 'j', j, 'p', element_at(q,i)*element_at(q,j)))))"))
        .as("c"))
      .groupBy(col("c.i").as("i"), col("c.j").as("j"))
      .agg(sum(col("c.p").cast(DecimalType(38, 0))).as("g"))
      .collect()
    val gram = Array.ofDim[BigInt](64, 64)
    cells.foreach { r =>
      val (i, j) = (r.getInt(0) - 1, r.getInt(1) - 1)
      val g = BigInt(r.getDecimal(2).toBigInteger)
      gram(i)(j) = g
      gram(j)(i) = g
    }
    val gmax = gram.flatten.map(_.abs).max
    gram.map(_.map(x => pcaRescale(x, gmax)))
  }

  /** the dominant eigenvector of a rescaled matrix by 12 squarings —
    * fixed-point Long arithmetic, sign-canonicalized (largest-|·| entry
    * positive, smallest index on ties). */
  private def pcaDominant(b0: Array[Array[Long]]): Array[Long] = {
    var b = b0
    (1 to PcaSquarings).foreach { _ =>
      val sq = Array.tabulate(64, 64) { (i, j) =>
        var acc = 0L; var k = 0
        while (k < 64) { acc += b(i)(k) * b(k)(j); k += 1 }
        acc
      }
      val m = sq.flatten.map(math.abs).max
      b = sq.map(_.map(x => pcaRescale(BigInt(x), BigInt(m))))
    }
    val vraw = b.map(_.sum)
    val vm = vraw.map(math.abs).max
    val v = vraw.map(x => pcaRescale(BigInt(x), BigInt(vm)))
    val mx = v.map(math.abs).max
    val flip = v(v.indexWhere(x => math.abs(x) == mx)) < 0
    if (flip) v.map(x => -x) else v
  }

  /** the top TWO components — v2 by integer DEFLATION of the rescaled
    * Gram: D = B·(v1ᵀv1) − (B·v1)·v1ᵀ annihilates v1's direction exactly
    * in integer arithmetic (D·v1 = B·v1·vv − B·v1·vv = 0, no epsilon),
    * then the same squaring loop extracts D's dominant vector. D entries
    * reach ~6.4·10^19, so the deflation step runs in BigInt before the
    * rescale hands back ≤10^6 Longs (the oracle mirrors this in HUGEINT).
    * Measured |⟨v2, v2_true⟩| = 1.0 and |⟨v1, v2⟩| ≤ 3·10^-6 at
    * sf0.01/sf0.1. */
  /** one exact integer DEFLATION step: D = B·(vᵀv) − (B·v)·vᵀ annihilates
    * v's direction exactly (D·v = 0, no epsilon), rescaled back to ≤10^6
    * Longs. D entries reach ~6.4·10^19, so the products run in BigInt
    * (the oracle mirrors this in HUGEINT). */
  private def pcaDeflate(b: Array[Array[Long]], v: Array[Long]): Array[Array[Long]] = {
    val vv = v.map(x => BigInt(x) * BigInt(x)).sum
    val bv = b.map { row =>
      var acc = 0L; var j = 0
      while (j < 64) { acc += row(j) * v(j); j += 1 }
      acc
    }
    val defl = Array.tabulate(64, 64) { (i, j) =>
      BigInt(b(i)(j)) * vv - BigInt(bv(i)) * BigInt(v(j))
    }
    val dm = defl.flatten.map(_.abs).max
    defl.map(_.map(x => pcaRescale(x, dm)))
  }

  /** number of components the memoized deflation chain extracts —
    * ss_pca_power reads 1, ss_pca2 reads 2, ss_pca_k reads all. */
  private[graft] val PcaK = 4

  /** the top [[PcaK]] components by REPEATED exact deflation — the "this
    * is the path to any k" promise of ss_pca2 made code: extract dominant,
    * deflate, repeat. All driver-side work is N-independent (k × 12 × 64³
    * Long multiplies over the one shared 2080-cell Gram collect); the
    * distributed cost is the single Gram job, shared by every PCA query
    * via this memo. */
  private val pcaCache = new graft.core.SessionCache[Seq[Array[Long]]]()
  private[graft] def pcaTopK(s: SparkSession, d: String): Seq[Array[Long]] =
    pcaCache.get(s, d) {
      var b = pcaGramScaled(s, d)
      (1 to PcaK).map { k =>
        val v = pcaDominant(b)
        if (k < PcaK) b = pcaDeflate(b, v)
        v
      }
    }

  private[graft] def pcaPair(s: SparkSession, d: String): (Array[Long], Array[Long]) = {
    val vs = pcaTopK(s, d)
    (vs(0), vs(1))
  }

  private[graft] def pcaComponent(s: SparkSession, d: String): Array[Long] =
    pcaTopK(s, d).head

  /** oracle-side squaring recursion: `rec(k, bl)` seeded from `src`,
    * 12 rescaled matrix squarings over the flattened 4096-list. */
  private def pcaSquareSql(rec: String, src: String): String =
    s"""$rec(k, bl) AS (
       |  SELECT 0, bl FROM $src
       |  UNION ALL
       |  SELECT k+1,
       |    list_transform(b2, x -> CAST(CASE WHEN x < 0 THEN -((CAST(-x AS HUGEINT))*$PcaScale // m)
       |                                      ELSE (CAST(x AS HUGEINT)*$PcaScale) // m END AS BIGINT))
       |  FROM (
       |    SELECT k, b2, list_max(list_transform(b2, x -> abs(x))) AS m
       |    FROM (
       |      SELECT k, list_transform(range(0, 4096),
       |        p -> CAST(list_sum(list_transform(range(1,65),
       |               kk -> bl[CAST((p//64)*64+kk AS INTEGER)]
       |                   * bl[CAST((kk-1)*64 + (p%64) + 1 AS INTEGER)]))
       |             AS BIGINT)) AS b2
       |      FROM $rec WHERE k < $PcaSquarings))
       |)""".stripMargin

  /** oracle-side dominant-vector extraction from a converged recursion:
    * row sums, rescale, sign canonicalization → `fin(vc)`. */
  private def pcaVecSql(rec: String, raw: String, sc: String, fin: String): String =
    s"""$raw AS (
       |  SELECT list_transform(range(1,65),
       |    i -> CAST(list_sum(list_transform(range(1,65),
       |           j -> bl[CAST((i-1)*64+j AS INTEGER)])) AS BIGINT)) AS v
       |  FROM $rec WHERE k = $PcaSquarings),
       |$sc AS (
       |  SELECT list_transform(v, x -> CAST(CASE WHEN x < 0 THEN -((CAST(-x AS HUGEINT))*$PcaScale // m)
       |                                          ELSE (CAST(x AS HUGEINT)*$PcaScale) // m END AS BIGINT)) AS v
       |  FROM (SELECT v, list_max(list_transform(v, x -> abs(x))) AS m FROM $raw)),
       |$fin AS (
       |  SELECT CASE WHEN v[list_position(list_transform(v, x -> abs(x)),
       |                    list_max(list_transform(v, x -> abs(x))))] < 0
       |         THEN list_transform(v, x -> -x) ELSE v END AS vc
       |  FROM $sc)""".stripMargin

  /** oracle-side exact deflation: matrix CTE `mat(bl)` minus component CTE
    * `vec(vc)`'s direction — D = B·(vᵀv) − (B·v)·vᵀ in HUGEINT, rescaled
    * to ≤10^6 BIGINTs as `out(bl)` (`tmp` holds the HUGEINT intermediate).
    * The exact SQL mirror of [[pcaDeflate]]. */
  private def pcaDeflateSql(mat: String, vec: String, tmp: String, out: String): String =
    s"""$tmp AS (
       |  SELECT list_transform(range(0,4096), p ->
       |      CAST($mat.bl[CAST(p+1 AS INTEGER)] AS HUGEINT)
       |        * CAST(list_sum(list_transform($vec.vc, x -> x*x)) AS HUGEINT)
       |      - CAST(list_sum(list_transform(range(1,65),
       |            j -> $mat.bl[CAST((p//64)*64+j AS INTEGER)] * $vec.vc[CAST(j AS INTEGER)])) AS HUGEINT)
       |        * CAST($vec.vc[CAST(p%64+1 AS INTEGER)] AS HUGEINT)) AS dl
       |  FROM $mat, $vec),
       |$out AS (SELECT list_transform(dl, x -> CAST(CASE WHEN x < 0 THEN -((-x)*$PcaScale // m)
       |                                                  ELSE (x*$PcaScale) // m END AS BIGINT)) AS bl
       |         FROM $tmp, (SELECT list_max(list_transform(dl, x -> abs(x))) AS m FROM $tmp))""".stripMargin

  // ── reusable embedding dedup-index API (dd_incremental_embed[_big];
  //    streaming: Pipelines.embedDupGate) — the vector mirror of TextOps'
  //    minhashSignatures / probeNearDupIndex / probeNearDupIndexShuffle ──

  /** multi-table sign-code parameters for the dedup index: 4 tables × 16-bit
    * codes over dimension slices 1-16, 17-32, 33-48, 49-64. The round-5
    * layout was ONE 8-bit code — 256 possible join keys, which bounds
    * nothing at corpus scale (a probe's candidate set is ~|corpus|·|batch|
    * /256 pairs: a 0.4%-sampled all-pairs, quadratic at 10^9 vectors).
    * 4·2^16 keys keep candidates dup-sized: a pair collides only when some
    * FULL 16-dim slice sign-agrees, which near-identical vectors almost
    * always do (a small perturbation flips only near-zero components) and
    * unrelated isotropic vectors do with probability ~4·2^-16 — the key
    * cardinality grows with the corpus exactly like the text index's
    * 4×64-bit minhash band keys. Candidate counts at 8×/32× and the recall
    * trade are measured in README. */
  private[operators] val EmbedCodeTables = 4
  private[operators] val EmbedCodeBits = 16

  /** `(vec_id, qarr, nrm)` index rows for an arbitrary `(vec_id, embedding)`
    * frame — the persisted layout of the embedding dedup index AND the
    * probe-side preparation (quantized integer components, integer squared
    * norm). Narrow map, no shuffle, total: every vector gets exactly one
    * row. Like the text gate's signature table, the persisted index carries
    * NO code columns — [[embedCodeTable]] derives them row-locally at probe
    * time, so each batch writes one index row per vector and the code
    * parameters can be retuned without rewriting the corpus. */
  def embeddingIndex(df: DataFrame): DataFrame =
    df.withColumn("qarr", quantArr("embedding"))
      .withColumn("nrm", normOf("qarr"))
      .select(col("vec_id"), col("qarr"), col("nrm"))

  /** the multi-table code table of an [[embeddingIndex]] frame:
    * `(vec_id, qarr, nrm, codes, t, bkey)` — EmbedCodeTables rows per
    * vector, `codes` = the vector's 4 raw slice codes in-row, `bkey` =
    * table ordinal · 2^bits + codes(t). Signs are read from qarr — floor
    * quantization preserves the `>= 0` comparison exactly — and a slice
    * index beyond a short vector's length contributes no bit
    * (try_element_at yields NULL, NULL >= 0 is NULL), so any dimension
    * count probes correctly. Row-local explode; no shuffle. Carrying the
    * full code array lets a join dedup multi-table collisions with
    * [[firstTableMatch]] — a row-local filter instead of a per-pair
    * aggregation shuffle. */
  def embedCodeTable(idx: DataFrame): DataFrame = {
    // UNROLLED code derivation (4 tables × 16 bits = 64 fixed terms over
    // try_element_at, which is codegen'd): the round-8 form used
    // transform/aggregate/sequence higher-order functions — CodegenFallback
    // expressions that pushed every consumer's scan-side projection (and
    // with it the candidate join) out of whole-stage codegen
    // (dd_embed_cosine audited codegen_spans 0). A slice index beyond a
    // short vector's length still contributes no bit: try_element_at
    // yields NULL, NULL >= 0 is NULL, and `when` falls through to 0.
    def codeAt(t: Int): Column =
      (1 to EmbedCodeBits).map { i =>
        when(expr(s"try_element_at(qarr, ${t * EmbedCodeBits + i})") >= 0L,
          lit(1L << (i - 1))).otherwise(lit(0L))
      }.reduce(_ + _)
    idx.select(col("vec_id"), col("qarr"), col("nrm"))
      .withColumn("codes", array((0 until EmbedCodeTables).map(codeAt): _*))
      .select(col("vec_id"), col("qarr"), col("nrm"), col("codes"),
        posexplode(col("codes")).as(Seq("t", "code")))
      .withColumn("bkey",
        col("t").cast(LongType) * (1L << EmbedCodeBits) + col("code"))
      .drop("code")
  }

  /** exactly-once pair emission for a code-table join: TRUE iff the join's
    * table `t` is the FIRST table where the two vectors' codes agree — so a
    * pair colliding in several tables survives on exactly one row, as a
    * row-local filter instead of a candidate-sized dedup shuffle.
    *
    * UNROLLED over the [[EmbedCodeTables]]=4 fixed tables: the round-8 form
    * (`array_position(zip_with(...))`) used higher-order functions, which
    * are CodegenFallback and knocked the whole candidate-join stage out of
    * whole-stage codegen (dd_embed_cosine audited `codegen_spans: 0`). The
    * equivalent boolean over `GetArrayItem` comparisons stays inside
    * codegen: match at the row's table, disagree at every earlier one. */
  private def firstTableMatch(codesA: String, codesB: String): Column = {
    def eqAt(i: Int): Column = col(codesA).getItem(i) === col(codesB).getItem(i)
    (0 until EmbedCodeTables).map { t =>
      (0 until t).map(u => !eqAt(u))
        .foldLeft(col("t") === t && eqAt(t))(_ && _)
    }.reduce(_ || _)
  }

  /** probe a persisted embedding index with a new batch → one verdict row
    * per new vector (vec_id, n_cand, best_cos, is_dup at `threshold`).
    * Both sides are [[embeddingIndex]] layouts. The corpus streams through
    * its code join UNSHUFFLED — the batch-derived code table broadcasts
    * (band-probe shape); candidates are exact-integer-cosine verified
    * in-line. A pair colliding in several tables is kept exactly once by
    * the row-local [[firstTableMatch]] filter (no dedup shuffle), so
    * `n_cand` counts DISTINCT candidates. Everything after the code join
    * is candidate-sized and shuffles on batch-derived keys only. */
  def probeEmbedIndex(newIdx: DataFrame, corpusIdx: DataFrame,
      threshold: Double = 0.95): DataFrame = {
    val nv = embedCodeTable(newIdx).select(col("vec_id").as("new_id"),
      col("qarr").as("q_qarr"), col("nrm").as("nq"), col("codes").as("ncodes"),
      col("bkey"))
    val scored = embedCodeTable(corpusIdx)
      .select(col("vec_id").as("corpus_id"), col("qarr"), col("nrm").as("nc"),
        col("codes"), col("t"), col("bkey"))
      .join(broadcast(nv), Seq("bkey"))
      .filter(firstTableMatch("ncodes", "codes"))
      .select(col("new_id"), col("corpus_id"),
        dotOf("q_qarr", "qarr").as("dot"), col("nq"), col("nc"))
      .withColumn("cos", cosFrom(col("dot"), col("nq"), col("nc")))
    perVectorVerdicts(newIdx, scored, threshold, broadcastPer = true)
  }

  /** Large-batch probe: same verdicts as [[probeEmbedIndex]], but the batch
    * side is NEVER broadcast — the mirror of TextOps.
    * probeNearDupIndexShuffle for the day the embedding batch outgrows
    * Spark's broadcast ceiling (~8 GB against a 100 TB corpus). The batch's
    * code table shuffle-joins the corpus's code table on `bkey` with
    * `hint("shuffle_hash")` pinning the join away from broadcast no matter
    * what AQE estimates; the pair dedup, per-vector verdict agg, and the
    * final left join all shuffle on batch-derived keys. */
  def probeEmbedIndexShuffle(newIdx: DataFrame, corpusIdx: DataFrame,
      threshold: Double = 0.95): DataFrame = {
    val nv = embedCodeTable(newIdx).select(col("vec_id").as("new_id"),
      col("qarr").as("q_qarr"), col("nrm").as("nq"), col("codes").as("ncodes"),
      col("bkey"))
    val scored = embedCodeTable(corpusIdx)
      .select(col("vec_id").as("corpus_id"), col("qarr"), col("nrm").as("nc"),
        col("codes"), col("t"), col("bkey"))
      .join(nv.hint("shuffle_hash"), Seq("bkey"))
      .filter(firstTableMatch("ncodes", "codes"))
      .select(col("new_id"), col("corpus_id"),
        dotOf("q_qarr", "qarr").as("dot"), col("nq"), col("nc"))
      .withColumn("cos", cosFrom(col("dot"), col("nq"), col("nc")))
    perVectorVerdicts(newIdx, scored, threshold, broadcastPer = false)
  }

  /** shared verdict tail of the two probe modes: per-vector candidate count
    * + best cosine over the exactly-once pair stream ([[firstTableMatch]]
    * already dedup'd table collisions row-locally), left join back onto the
    * full batch id set so silent vectors verdict as (0, 0.0, false).
    * `broadcastPer` picks the small-batch broadcast join vs the
    * shuffle_hash-pinned large-batch join. */
  private def perVectorVerdicts(newIdx: DataFrame, scored: DataFrame,
      threshold: Double, broadcastPer: Boolean): DataFrame = {
    val per = scored.groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_cand"), max(col("cos")).as("best_cos"))
      .withColumnRenamed("new_id", "vec_id")
    newIdx.select(col("vec_id"))
      .join(if (broadcastPer) broadcast(per) else per.hint("shuffle_hash"),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("best_cos"), lit(0.0)).as("best_cos"),
        (coalesce(col("best_cos"), lit(0.0)) >= threshold).as("is_dup"))
  }

  /** vec_ids that are a near-dup (cos >= threshold) of a LOWER-id vector in
    * the SAME [[embeddingIndex]] frame — first-wins intra-batch admission,
    * mirroring TextOps.intraBatchNearDups. Code-table self-join,
    * batch-sized; the trailing distinct() absorbs multi-table collisions. */
  def intraBatchEmbedDups(idx: DataFrame, threshold: Double = 0.95): DataFrame = {
    val codes = embedCodeTable(idx)
    val a = codes.select(col("vec_id").as("vec_a"), col("qarr").as("qa"),
      col("nrm").as("na"), col("codes").as("ca"), col("t"), col("bkey"))
    val b = codes.select(col("vec_id").as("vec_b"), col("qarr").as("qb"),
      col("nrm").as("nb"), col("codes").as("cb"), col("bkey"))
    a.join(b, Seq("bkey"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(firstTableMatch("ca", "cb"))
      .select(col("vec_b"),
        cosFrom(dotOf("qa", "qb"), col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_b").as("vec_id")).distinct()
  }

  /** per-query top-k as a bounded aggregation (graft.functions.BoundedTopK):
    * input (−cos, n_id) so ascending order = cos desc, n_id asc; the map
    * side partial-aggregates each partition to ≤k entries before the
    * shuffle — the N×K pair stream never crosses the wire (a window rank
    * would shuffle all of it). IEEE negation is exact, so −(−cos) == cos
    * bit for bit and the oracle hash still matches. */
  private def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    val topk = udaf(BoundedTopK[Double](k))
    pairs
      .groupBy(col("q_id"))
      .agg(topk(-col("cos"), col("n_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("r0", "t")))
      .select(col("q_id"), col("t._2").as("n_id"), (-col("t._1")).as("cos"),
        (col("r0") + 1).cast(LongType).as("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** DuckDB-side flattened quantized view + norms, shared by the oracles. */
  private val FlatCte =
    """WITH flat AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |         CAST(floor(CAST(unnest(embedding) AS DOUBLE)*10000000.0) AS BIGINT) AS v
      |  FROM embeddings),
      |norms AS (SELECT vec_id, sum(v*v) AS nrm FROM flat GROUP BY vec_id)""".stripMargin

  /** DuckDB-side mirror of [[embedCodeTable]]: one `(vec_id, bkey)` row per
    * (vector, table) — sign bits read from the quantized `flat` values,
    * matching the Spark side's qarr signs bit for bit. */
  private val EmbedCodesSql =
    s"""codes AS (
       |  SELECT vec_id, t*${1L << EmbedCodeBits} +
       |    sum(CASE WHEN v >= 0 THEN CAST(pow(2, (i-1)%$EmbedCodeBits) AS BIGINT) ELSE 0 END) AS bkey
       |  FROM (SELECT vec_id, i, v, (i-1)//$EmbedCodeBits AS t FROM flat)
       |  GROUP BY vec_id, t)""".stripMargin

  /** adaptive-width multi-table sign codes `(vec_id, t, bucket)` — the
    * corpus-sized candidate generator shared by `ss_knn_graph` and
    * `ss_triplet_mine`. Width rule: w = 8 + one bit per doubling of N past
    * 2048 (clamped to 16, i.e. ≥8 expected vectors per bucket) keeps
    * per-table candidate volume ~N²/2^w linear in N; the rule is pure
    * integer threshold comparisons so both engines derive the identical w
    * from the identical count (a float log2 could flip a bit at exact
    * powers of two). One bounded count job (an index build knows its
    * corpus size) + one narrow projection. */
  /** corpus vector count, memoized per (session, dataset) like every other
    * per-snapshot scalar (cf. TextOps.snapshotCut): both adaptive-width
    * rules ([[adaptiveSignCodes]], [[topkWidth]]) derive from it, and the
    * consumers run 3+ timed passes each in the bench — an unmemoized
    * count() was a full scan job per invocation for a value that is a
    * property of the snapshot. */
  private val embCountCache = new graft.core.SessionCache[java.lang.Long]()
  private def corpusCount(s: SparkSession, d: String): Long =
    embCountCache.get(s, d) { Long.box(T.embeddings(s, d).count()) }

  private def adaptiveSignCodes(s: SparkSession, d: String): DataFrame = {
    val n = corpusCount(s, d)
    val w = 8 + (0 until 8).count(k => n > (2048L << k))
    quantized(s, d, withBucket = false)
      .select(col("vec_id"), col("embedding"),
        explode(expr("sequence(0, 3)")).as("t"))
      .withColumn("bucket", expr(
        s"aggregate(sequence(1, $w), 0, (acc, i) -> " +
          s"acc + if(element_at(embedding, t*$w + i) >= cast(0 as float), " +
          "cast(pow(2, i-1) as int), 0))"))
      .select(col("vec_id"), col("t"), col("bucket"))
  }

  /** the layer-0 k-NN GRAPH artifact — top-3 approximate neighbors for
    * EVERY corpus vector from the adaptive sign-LSH candidate union,
    * exact integer-cosine scored, BoundedTopK-collapsed. Memoized as an
    * eager localCheckpoint since round 14: the graph is the persisted
    * index of graph-based ANN — ss_knn_graph dumps it, ss_graph_search /
    * ss_graph_recall WALK it, and the /vectors/topk?mode=graph route
    * serves from it — so building it once per (session, dataset) is the
    * production shape (ColdBuilds times it as `vec_knn_graph`). */
  private val knnCache = new graft.core.SessionCache[DataFrame]()
  private[graft] def knnGraph(s: SparkSession, d: String): DataFrame =
    knnCache.get(s, d) {
      val emb = quantized(s, d, withBucket = false)
      val codes = adaptiveSignCodes(s, d)
      val cand = codes.select(col("vec_id").as("q_id"), col("t"), col("bucket"))
        .join(codes.select(col("vec_id").as("n_id"), col("t"), col("bucket")),
          Seq("t", "bucket"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"))
        .dropDuplicates(Seq("q_id", "n_id"))
      val payload = emb.select(col("vec_id"), col("qarr"), col("nrm"))
      val pairs = cand
        .join(payload.select(col("vec_id").as("n_id"),
          col("qarr"), col("nrm").as("nc")), Seq("n_id"))
        .join(payload.select(col("vec_id").as("q_id"),
          col("qarr").as("q_qarr"), col("nrm").as("nq")), Seq("q_id"))
        .select(col("q_id"), col("n_id"),
          dotOf("q_qarr", "qarr").as("dot"), col("nq"), col("nc"))
        .withColumn("cos", cosFrom(col("dot"), col("nq"), col("nc")))
      rankTopK(pairs, GraphDegree).localCheckpoint(eager = true)
    }

  /** cold-build hook for the k-NN graph artifact. */
  private[graft] def buildKnnGraph(s: SparkSession, d: String): Unit = {
    knnGraph(s, d); ()
  }

  /** DuckDB-side mirror of [[adaptiveSignCodes]]: `wsel` derives the same
    * integer width, `mb` the same (vec_id, t, bucket) rows. */
  private val AdaptiveCodesSql =
    s"""wsel AS (
       |  SELECT 8 + ${(0 until 8).map(k => s"(CASE WHEN n > ${2048L << k} THEN 1 ELSE 0 END)")
                       .mkString(" + ")} AS w
       |  FROM (SELECT count(*) AS n FROM embeddings)),
       |mb AS (
       |  SELECT e.vec_id, tt.t,
       |    list_sum(list_transform(range(1, ws.w + 1),
       |      i -> CASE WHEN e.embedding[tt.t*ws.w + i] >= 0
       |           THEN CAST(pow(2, i-1) AS BIGINT) ELSE 0 END)) AS bucket
       |  FROM embeddings e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS t) tt
       |  CROSS JOIN wsel ws)""".stripMargin

  /** graph knobs, every one rendered into the oracle so the walk is the
    * same program on both engines. Degree 12 (HNSW-M-scale adjacency; the
    * ss_knn_graph DUMP still reports the top-3 rows, but the persisted
    * artifact keeps 12 — out-degree is what a walk can follow, and 3 was
    * measured too sparse to navigate: mean recall@5 0.075 at degree 3 /
    * directed / 4 seeds / beam 8 / 4 hops, 0.45 at degree 8 / beam 16 /
    * global seeds — round 15 widened to degree 12 / beam 32 and added
    * PER-QUERY entry points from the adaptive sign-LSH buckets (gmates:
    * up to [[GraphSeeds]] bucket-mates by smallest id, beside the
    * [[GraphSeeds]] global anchors), the standard navigability levers;
    * recall is pinned by ss_graph_recall against the IVF (0.375) and
    * adaptive-LSH rows. Edges walk SYMMETRIZED (gsym —
    * HNSW links are bidirectional; an in-edge from a true neighbor is as
    * navigable as an out-edge). 8+≤8 entry points, beam 32, 6 hops.
    * (Defined BEFORE the SQL vals below that render them — a forward
    * reference would silently bake 0 into the oracle strings.) */
  private val GraphDegree = 12
  private val GraphSeeds = 8
  private val GraphBeam = 32
  private val GraphHops = 6

  /** DuckDB-side mirror of [[knnGraph]] (composes after [[AdaptiveCodesSql]]):
    * `gtop` = the degree-[[GraphDegree]] neighbor lists, `gsym` the
    * symmetrized adjacency — one definition for ss_knn_graph's dump and
    * every graph-walk oracle. */
  private val KnnGraphSqlCtes: String =
    s"""gcand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
       |  FROM mb q JOIN mb c ON q.t = c.t AND q.bucket = c.bucket
       |    AND q.vec_id <> c.vec_id),
       |gdots AS (
       |  SELECT c.q_id, c.n_id, sum(qf.v*nf.v) AS dot
       |  FROM gcand c JOIN flat qf ON qf.vec_id = c.q_id
       |  JOIN flat nf ON nf.vec_id = c.n_id AND nf.i = qf.i
       |  GROUP BY 1, 2),
       |gscored AS (
       |  SELECT q_id, n_id, ${cosSql("dot", "nq.nrm", "nc.nrm")} AS cos
       |  FROM gdots JOIN norms nq ON nq.vec_id = q_id
       |  JOIN norms nc ON nc.vec_id = n_id),
       |gtop AS (SELECT q_id, n_id, cos, rnk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM gscored) WHERE rnk <= $GraphDegree),
       |gsym AS (SELECT q_id, n_id FROM gtop
       |         UNION SELECT n_id AS q_id, q_id AS n_id FROM gtop)""".stripMargin

  /** DuckDB-side mirror of [[graphSearch]] over the fixed query slice
    * (vec_id < 16, the ss_topk_* convention) — gb0 = global anchors ∪
    * per-query bucket-mates (gmates), unrolled hops gb1..gb[[GraphHops]],
    * final `gsearch` = exact-rescored top-5 of the last beam. Composes
    * after [[KnnGraphSqlCtes]] (whose `mb` codes also feed gmates). */
  private val GraphSearchSqlCtes: String = {
    val hops = (1 to GraphHops).map { h =>
      s"""gc$h AS (SELECT DISTINCT q_id, n_id FROM (
         |    SELECT q_id, n_id FROM gb${h - 1}
         |    UNION ALL
         |    SELECT b.q_id, g.n_id FROM gb${h - 1} b JOIN gsym g ON g.q_id = b.n_id)
         |  WHERE q_id <> n_id),
         |gs$h AS (SELECT c.q_id, c.n_id, sum(qf.v*nf.v) AS dot
         |  FROM gc$h c JOIN flat qf ON qf.vec_id = c.q_id
         |  JOIN flat nf ON nf.vec_id = c.n_id AND nf.i = qf.i
         |  GROUP BY 1, 2),
         |gv$h AS (SELECT q_id, n_id, ${cosSql("dot", "nq.nrm", "nc.nrm")} AS cos
         |  FROM gs$h JOIN norms nq ON nq.vec_id = q_id
         |  JOIN norms nc ON nc.vec_id = n_id),
         |gb$h AS (SELECT q_id, n_id FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn
         |  FROM gv$h) WHERE rn <= $GraphBeam)""".stripMargin
    }
    (Seq(
      s"""gseeds AS (SELECT vec_id AS n_id FROM embeddings
         |  WHERE vec_id >= 16 ORDER BY vec_id LIMIT $GraphSeeds),
         |gmates AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY n_id) AS rn
         |    FROM (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
         |          FROM mb q JOIN mb c ON q.t = c.t AND q.bucket = c.bucket
         |          WHERE q.vec_id < 16 AND c.vec_id <> q.vec_id))
         |  WHERE rn <= $GraphSeeds),
         |gb0 AS (
         |  SELECT q.vec_id AS q_id, s.n_id
         |  FROM embeddings q CROSS JOIN gseeds s WHERE q.vec_id < 16
         |  UNION
         |  SELECT q_id, n_id FROM gmates)""".stripMargin)
      ++ hops ++ Seq(
      s"""gsearch AS (SELECT q_id, n_id, cos, rnk FROM (
         |  SELECT v.*, ROW_NUMBER() OVER (PARTITION BY v.q_id
         |    ORDER BY v.cos DESC, v.n_id) AS rnk
         |  FROM gv$GraphHops v JOIN gb$GraphHops b USING (q_id, n_id))
         |  WHERE rnk <= 5)""".stripMargin)).mkString(",\n")
  }

  /** Symmetrized degree-[[GraphDegree]] adjacency WITH each neighbor's
    * quantized payload attached — `(src, dst, qarr, nc)`. Memoized per
    * (session, dataset) as an eager localCheckpoint: this IS the serving
    * index of graph ANN (HNSW stores exactly this — neighbor lists beside
    * the vectors), and before round 15's optimization pass every hop of
    * every walk re-derived the symmetrize + dropDuplicates (a corpus-sized
    * shuffle PER HOP) and re-joined the quantized corpus (a second
    * broadcast join per hop) inside its broadcast-candidate job.
    * Materializing it once moves that work to index-build time
    * (ColdBuilds times it as `vec_graph_adjacency`) and leaves a hop's
    * plan with zero corpus-sized exchanges (guide §2.4). */
  private val gAdjCache = new graft.core.SessionCache[DataFrame]()
  private[graft] def graphAdjacency(s: SparkSession, d: String): DataFrame =
    gAdjCache.get(s, d) {
      // HNSW links are bidirectional — an in-edge from a true neighbor is
      // as navigable as an out-edge
      val gDir = knnGraph(s, d).select(col("q_id").as("src"), col("n_id").as("dst"))
      gDir.unionByName(
          gDir.select(col("dst").as("src"), col("src").as("dst")))
        .dropDuplicates(Seq("src", "dst"))
        .join(quantized(s, d, withBucket = false)
          .select(col("vec_id").as("dst"), col("qarr"), col("nrm").as("nc")),
          Seq("dst"))
        .select(col("src"), col("dst"), col("qarr"), col("nc"))
        .localCheckpoint(eager = true)
    }

  /** cold-build hook for the walk's adjacency index. */
  private[graft] def buildGraphAdjacency(s: SparkSession, d: String): Unit = {
    graphAdjacency(s, d); ()
  }

  /** HNSW-style layer-0 GREEDY BEAM SEARCH over the persisted
    * [[knnGraph]] neighbor lists — the SERVING half of graph-based ANN
    * (the build half is the graph artifact): from [[GraphSeeds]] fixed
    * entry points, each hop expands the current beam by its graph
    * neighbors, rescores every candidate EXACTLY against the query
    * (integer dot + the shared total cosine), and keeps the top
    * [[GraphBeam]] per query; after [[GraphHops]] hops the top-5 of the
    * final beam serve. Monotone by construction (the beam is always a
    * candidate of the next hop), deterministic (exact scores, (cos DESC,
    * n_id) ties).
    *
    * Scale shape (re-cut in round 15's optimization pass): the beam rows
    * carry the query payload `(q_qarr, nq)` AND their own exact score, so
    * a hop is ONE broadcast join of the |Q|·beam-sized beam against the
    * materialized [[graphAdjacency]] index (neighbor payloads ride the
    * index row — no second join against the corpus) scoring only the NEW
    * candidates, then two |Q|-bounded aggregations (dedup + top-beam).
    * Per-hop work is O(|Q|·beam·degree) index lookups with no
    * corpus-sized exchange — the property that makes graph ANN the 100 TB
    * serving structure. Before the re-cut each hop also re-symmetrized
    * the graph (corpus shuffle), re-scanned the quantized corpus, and
    * re-broadcast the query table: 4 scheduler round-trips per hop vs 2.
    * Scores are reused, never re-derived: re-scoring a beam member would
    * produce the identical integer dot / double cos (deterministic
    * expressions over identical operands), so the reuse is bit-exact.
    * Each hop's beam is localCheckpoint'd so the unrolled walk never
    * builds a nested mega-plan (the CC-loop discipline). */
  private def graphSearch(s: SparkSession, d: String,
      queries: DataFrame, k: Int): DataFrame = {
    val gEmb = graphAdjacency(s, d)
    val emb = quantized(s, d, withBucket = false)
      .select(col("vec_id").as("n_id"), col("qarr"), col("nrm").as("nc"))
    // entry points are GLOBAL anchors + PER-QUERY sign-LSH bucket-mates
    // (round 15). Anchors: the GraphSeeds smallest ids outside the
    // reserved query-workload slice (vec_id < 16, the ss_* fixture
    // convention) guarantee a non-empty, total start for ANY query.
    // Bucket-mates: up to GraphSeeds corpus vectors sharing an
    // adaptive-sign-code (t, bucket) with the query, smallest-id-first —
    // the entry points land in the query's own LSH neighborhood, so the
    // walk starts hops closer to the true neighbors (the round-14 global
    // seeds cost the walk most of its recall gap vs the lsha row). One
    // fixed rule for the registered query, the recall eval, AND the
    // serving route, so all three walk the identical program
    // (ServingSpec pins route ≡ ss_graph_search). A query id colliding
    // with a seed self-excludes via the q_id ≠ n_id filter; the mate
    // join is broadcast on the |Q|-sized query-code side.
    val seeds = quantized(s, d, withBucket = false)
      .filter(col("vec_id") >= 16)
      .select(col("vec_id").as("n_id"))
      .orderBy(col("n_id")).limit(GraphSeeds)
    val codes = adaptiveSignCodes(s, d)
    val qCodes = broadcast(queries.select(col("q_id")))
      .join(codes.select(col("vec_id").as("q_id"), col("t"), col("bucket")),
        Seq("q_id"))
    val mates = broadcast(qCodes)
      .join(codes.select(col("vec_id").as("n_id"), col("t"), col("bucket")),
        Seq("t", "bucket"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"))
      .dropDuplicates(Seq("q_id", "n_id")) // 4 code tables → up to 4 rows/pair
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("n_id"))))
      .filter(col("rn") <= GraphSeeds)
      .select(col("q_id"), col("n_id"))
    // per-query top-`kk` that CARRIES the query payload through the
    // aggregation (every row of a q_id group holds the identical q_qarr /
    // nq, so first() is a value-preserving pick); the (q_id, n_id) dedup
    // grain collapses a candidate reachable from several beam members —
    // every duplicate carries the identical deterministic score, so
    // min(cos) is equally value-preserving
    val topk = udaf(BoundedTopK[Double](GraphBeam))
    def topBeam(rows: DataFrame): DataFrame = rows
      .groupBy(col("q_id"), col("n_id"))
      .agg(min(col("cos")).as("cos"),
        first(col("q_qarr")).as("q_qarr"), first(col("nq")).as("nq"))
      .groupBy(col("q_id"))
      .agg(topk(-col("cos"), col("n_id")).as("top"),
        first(col("q_qarr")).as("q_qarr"), first(col("nq")).as("nq"))
      .select(col("q_id"), col("q_qarr"), col("nq"),
        posexplode(col("top")).as(Seq("r0", "t")))
      .select(col("q_id"), col("t._2").as("n_id"), (-col("t._1")).as("cos"),
        (col("r0") + 1).cast(LongType).as("rnk"), col("q_qarr"), col("nq"))
    val beamCols = Seq(col("q_id"), col("n_id"), col("cos"),
      col("q_qarr"), col("nq"))
    // entry points: global anchors ∪ bucket-mates. A q_id == n_id row
    // (a SERVED query id landing in its own seed set) is kept through the
    // hop-1 expansion — the query's own neighbor list is walked, exactly
    // as before the re-cut — and filtered before scoring, so self never
    // ranks. Checkpointed: the hop-1 candidate job reads it twice (union
    // leg + expansion leg).
    val entry = queries.select(col("q_id")).crossJoin(seeds)
      .unionByName(mates)
      .dropDuplicates(Seq("q_id", "n_id"))
      .localCheckpoint(eager = true)
    // hop 1 scores the full candidate set against the corpus (entry rows
    // have no score yet) — the walk's ONLY corpus scan; later hops score
    // only NEW candidates via the adjacency index's carried payloads
    val cand1 = entry
      .unionByName(broadcast(entry)
        .join(gEmb.select(col("src"), col("dst")), col("n_id") === col("src"))
        .select(col("q_id"), col("dst").as("n_id")))
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates(Seq("q_id", "n_id"))
      .join(broadcast(queries), Seq("q_id"))
    var beam = topBeam(broadcast(cand1).join(emb, Seq("n_id"))
        .select(col("q_id"), col("n_id"),
          dotOf("q_qarr", "qarr").as("dot"), col("nq"), col("nc"), col("q_qarr"))
        .withColumn("cos", cosFrom(col("dot"), col("nq"), col("nc")))
        .select(beamCols: _*))
      .localCheckpoint(eager = true)
    for (_ <- 2 to GraphHops) {
      val nbrs = broadcast(beam.select(col("q_id"), col("n_id"),
          col("q_qarr"), col("nq")))
        .join(gEmb, col("n_id") === col("src"))
        .select(col("q_id"), col("dst").as("n_id"), col("q_qarr"), col("nq"),
          col("qarr"), col("nc"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          dotOf("q_qarr", "qarr").as("dot"), col("nq"), col("nc"), col("q_qarr"))
        .withColumn("cos", cosFrom(col("dot"), col("nq"), col("nc")))
        .select(beamCols: _*)
      beam = topBeam(beam.select(beamCols: _*).unionByName(nbrs))
        .localCheckpoint(eager = true)
    }
    beam.filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** the registered-query form of [[graphSearch]]: the fixed vec_id < 16
    * query slice; entry points = the [[GraphSeeds]] smallest non-query
    * ids plus each query's sign-LSH bucket-mates (see graphSearch). */
  private def graphSearchFixed(s: SparkSession, d: String): DataFrame =
    graphSearch(s, d,
      quantized(s, d, withBucket = false).filter(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("qarr").as("q_qarr"),
          col("nrm").as("nq")), 5)

  /** serving entry for `/vectors/topk?mode=graph`: beam-walk the
    * persisted k-NN graph for ONE query vector. Unknown vec_id serves an
    * empty frame (total, like nearestTopK). `k` is clamped to [[GraphBeam]]
    * — a walk cannot rank more rows than its final beam holds; the HTTP
    * route's own cap (k ≤ 20 < GraphBeam) keeps the clamp unreachable
    * from clients, so a served list is never silently shorter than the
    * k asked for. */
  private[graft] def topkGraphFor(s: SparkSession, d: String,
      queryId: Long, k: Int): DataFrame =
    graphSearch(s, d,
      quantized(s, d, withBucket = false).filter(col("vec_id") === queryId)
        .select(col("vec_id").as("q_id"), col("qarr").as("q_qarr"),
          col("nrm").as("nq")), math.min(k, GraphBeam))
      .select(col("n_id"), col("cos"), col("rnk"))

  /** quantized per-vector base `(vec_id, label, qe, nrm)` for the
    * label-partitioned SemDeDup family — built from the raw table (a
    * one-pass narrow map), not the memoized ANN index, so the dedup
    * queries stay self-contained scans. */
  private def semBase(s: SparkSession, d: String): DataFrame =
    T.embeddings(s, d)
      .select(col("vec_id"), col("label").cast(LongType).as("label"),
        quantArr("embedding").as("qe"))
      .withColumn("nrm", normOf("qe"))

  /** embedding-side snapshot cut (vec_id ≥ cut = "the newly admitted
    * batch", the same 90/10 framing as TextOps.snapshotCut and
    * [[embedIncrementalSplit]]) — memoized single-scalar agg. */
  private val embCutCache = new graft.core.SessionCache[java.lang.Long]()
  private def embedCut(s: SparkSession, d: String): Long =
    embCutCache.get(s, d) {
      Long.box(T.embeddings(s, d)
        .agg(expr("(max(vec_id)*9) div 10").as("cutv"))
        .collect()(0).getLong(0))
    }

  /** the within-label pair join underlying the SemDeDup graph, scoped by
    * per-side vec_id predicates (cos ≥ 0.4, canonical vec_a < vec_b). */
  private def semPairsJoin(e: DataFrame,
      aPred: Column => Column, bPred: Column => Column): DataFrame = {
    val a = e.filter(aPred(col("vec_id")))
      .select(col("label"), col("vec_id").as("vec_a"),
        col("qe").as("qa"), col("nrm").as("na"))
    val b = e.filter(bPred(col("vec_id")))
      .select(col("label"), col("vec_id").as("vec_b"),
        col("qe").as("qb"), col("nrm").as("nb"))
    a.join(b, Seq("label"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(cosFrom(dotOf("qa", "qb"), col("na"), col("nb")) >= 0.4)
      .select(col("vec_a"), col("vec_b"))
  }

  /** BASE semantic pair graph — within-label cosine hits with BOTH
    * endpoints below [[embedCut]] (the prior corpus snapshot). This is
    * the weekly-compaction artifact, exactly like TextOps'
    * clusterLabelsBase: at 100 TB the full within-label join runs on that
    * cadence, and every per-batch snapshot is maintained by the bounded
    * probe-fed delta below. */
  private val semBasePairCache = new graft.core.SessionCache[DataFrame]()
  private def semanticPairsBase(s: SparkSession, d: String): DataFrame =
    semBasePairCache.get(s, d) {
      val cut = embedCut(s, d)
      semPairsJoin(semBase(s, d), _ < cut, _ < cut)
        .localCheckpoint(eager = true)
    }

  /** within-label cosine-hit pair graph (vec_a < vec_b, cos ≥ 0.4) — the
    * SemDeDup pair set, shared by `dd_semantic` (keep-min verdict) and
    * `TextOps.dd_ensemble` (the embedding signal of the fused dedup
    * verdict). Candidate space = sum of per-class pair counts, never
    * corpus² (see dd_semantic's scaladoc).
    *
    * MEMOIZED since round 13 (eager localCheckpoint, like winnowPairs),
    * and INCREMENTALLY MAINTAINED since round 14: the base graph
    * ([[semanticPairsBase]], both endpoints in the prior snapshot) is the
    * weekly-compaction role, and the per-batch delta is exactly the pairs
    * touching a `vec_id ≥` [[embedCut]] — computed by PROBING the batch
    * against the corpus on the label key (batch×corpus-per-label, the
    * shape dd_incremental_embed's bucket probe bounds), never by
    * re-running the full within-label self-join. The split is EXACT set
    * algebra, not an approximation: every pair has both endpoints old
    * (base), exactly one new (old×new probe leg), or both new (new×new
    * leg) — the three pieces are disjoint and their union IS the full
    * rebuild, so every consumer's full-graph DuckDB oracle re-proves the
    * equality per round (SemPairSpec pins it structurally). The batch legs
    * shuffle on label with NO forced broadcast — the artifact path's
    * "batch" is a corpus fraction (the mergeLabels round-14 lesson); the
    * streaming probe stays bounded upstream. ColdBuilds times base and
    * delta as separate rows (`vec_semantic_pairs_base` = amortized weekly
    * cost, `vec_semantic_pairs` = the true per-batch cost). */
  private val semPairCache = new graft.core.SessionCache[DataFrame]()
  private[operators] def semanticPairs(s: SparkSession, d: String): DataFrame =
    semPairCache.get(s, d) {
      val cut = embedCut(s, d)
      val e = semBase(s, d)
      val oldNew = semPairsJoin(e, _ < cut, _ >= cut)
      val newNew = semPairsJoin(e, _ >= cut, _ >= cut)
      semanticPairsBase(s, d).unionByName(oldNew).unionByName(newNew)
        .localCheckpoint(eager = true)
    }

  /** full-rebuild form of [[semanticPairs]] for the equality spec — one
    * unrestricted within-label self-join, the weekly-compaction path. */
  private[graft] def fullRebuildSemanticPairs(s: SparkSession, d: String): DataFrame =
    semPairsJoin(semBase(s, d), _ => lit(true), _ => lit(true))

  /** the incremental artifact, exposed for the equality spec. */
  private[graft] def incrementalSemanticPairs(s: SparkSession, d: String): DataFrame =
    semanticPairs(s, d)

  /** cold-build hooks for the semantic pair-graph artifact (base + the
    * incremental batch delta). */
  private[graft] def buildSemanticPairsBase(s: SparkSession, d: String): Unit = {
    semanticPairsBase(s, d); ()
  }
  private[graft] def buildSemanticPairs(s: SparkSession, d: String): Unit = {
    semanticPairs(s, d); ()
  }

  /** DuckDB-side mirror of [[semBase]]/[[semanticPairs]] — CTE chain
    * ending in `ep` (vec_a, vec_b); names prefixed e- so the chain
    * composes with TextOps' winnow CTEs inside one WITH. */
  private[operators] val SemanticPairsSqlCtes: String =
    s"""eq AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000000.0) AS BIGINT)) AS qe
       |  FROM embeddings),
       |en AS (SELECT vec_id, label, qe,
       |  CAST(list_sum(list_transform(qe, x -> x*x)) AS BIGINT) AS nrm FROM eq),
       |ed AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    CAST(list_sum(list_transform(range(1, len(a.qe)+1),
       |      i -> a.qe[i]*b.qe[i])) AS BIGINT) AS dot,
       |    a.nrm AS na, b.nrm AS nb
       |  FROM en a JOIN en b ON a.label = b.label AND a.vec_id < b.vec_id),
       |ep AS (
       |  SELECT vec_a, vec_b FROM ed WHERE ${cosSql("dot", "na", "nb")} >= 0.4)""".stripMargin

  /** one oracle for both incremental embedding-dedup paths (broadcast probe
    * and large-batch shuffle probe) — identical verdicts required of both,
    * the same single-oracle contract as IncrementalLshSql on the text side. */
  private lazy val IncrementalEmbedSql =
    s"""$FlatCte,
       |$EmbedCodesSql,
       |cut AS (SELECT (max(vec_id)*9)//10 AS cutv FROM embeddings),
       |newv AS (SELECT e.vec_id FROM embeddings e, cut WHERE e.vec_id >= cut.cutv),
       |cand AS (
       |  SELECT DISTINCT n.vec_id AS new_id, c.vec_id AS corpus_id
       |  FROM codes n JOIN codes c ON n.bkey = c.bkey, cut
       |  WHERE n.vec_id >= cut.cutv AND c.vec_id < cut.cutv),
       |dots AS (SELECT cd.new_id, cd.corpus_id, sum(a.v*b.v) AS dot
       |         FROM cand cd JOIN flat a ON a.vec_id = cd.new_id
       |         JOIN flat b ON b.vec_id = cd.corpus_id AND b.i = a.i
       |         GROUP BY 1, 2),
       |scored AS (SELECT new_id, corpus_id, ${cosSql("dot", "na.nrm", "nb.nrm")} AS cos
       |           FROM dots JOIN norms na ON na.vec_id = new_id
       |           JOIN norms nb ON nb.vec_id = corpus_id),
       |per AS (SELECT new_id, count(*) AS n_cand, max(cos) AS best_cos
       |        FROM scored GROUP BY new_id)
       |SELECT n.vec_id, coalesce(p.n_cand, 0) AS n_cand,
       |  coalesce(p.best_cos, 0.0) AS best_cos,
       |  coalesce(p.best_cos, 0.0) >= 0.95 AS is_dup
       |FROM newv n LEFT JOIN per p ON p.new_id = n.vec_id
       |ORDER BY n.vec_id""".stripMargin

  /** shared corpus/batch vec_id split (top-10% slice = the "new batch") for
    * the two incremental embedding paths. Memoized per (session, dataset)
    * as eager localCheckpoints — the corpus embedding index is the
    * persisted artifact of the incremental story (see the text-side
    * incrementalSplit for the full rationale). */
  private val embSplitCache = new graft.core.SessionCache[(DataFrame, DataFrame)]()
  private[graft] def embedIncrementalSplit(s: SparkSession, d: String): (DataFrame, DataFrame) =
    embSplitCache.get(s, d) {
      val emb = embeddingIndex(
        T.embeddings(s, d).select(col("vec_id"), col("embedding")))
      val cut = emb.agg(expr("(max(vec_id)*9) div 10").as("cutv"))
      val flagged = emb.crossJoin(broadcast(cut))
      (flagged.filter(col("vec_id") >= col("cutv")).drop("cutv")
          .localCheckpoint(eager = true),
        flagged.filter(col("vec_id") < col("cutv")).drop("cutv")
          .localCheckpoint(eager = true))
    }

  /** brute-force cosine top-k (query set = vec_id < 16, k = 5): broadcast
    * queries, pairwise codegen'd integer dot folds, bounded top-k agg.
    * The exact baseline every ANN variant (and `ss_recall`) measures
    * against. */
  private def topkBrute(s: SparkSession, d: String): DataFrame = {
    val emb = quantized(s, d, withBucket = false)
    val q = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("qarr").as("q_qarr"), col("nrm").as("nq"))
    val pairs = emb.select(col("vec_id").as("n_id"), col("qarr"), col("nrm").as("nc"))
      .crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        dotOf("q_qarr", "qarr").as("dot"), col("nq"), col("nc"))
      .withColumn("cos", cosFrom(col("dot"), col("nq"), col("nc")))
    rankTopK(pairs, 5)
  }

  /** sign-bucket LSH top-k: same queries/k as [[topkBrute]], candidates
    * restricted to the query's 8-bit sign bucket. */
  private def topkLsh(s: SparkSession, d: String): DataFrame = {
    val emb = quantized(s, d, withBucket = true)
    val q = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("qarr").as("q_qarr"),
        col("nrm").as("nq"), col("bucket"))
    val cand = emb.select(col("vec_id").as("n_id"), col("qarr"),
      col("nrm").as("nc"), col("bucket"))
    val pairs = cand.join(q, Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        dotOf("q_qarr", "qarr").as("dot"), col("nq"), col("nc"))
      .withColumn("cos", cosFrom(col("dot"), col("nq"), col("nc")))
    rankTopK(pairs, 5)
  }

  /** ColBERT-style late-interaction MaxSim: passages = 8 consecutive
    * token-vectors (pid = vec_id div 8), query passages = pid < 4. For a
    * query passage q and candidate passage d,
    * score(q,d) = Σ_{i∈q} max_{j∈d} cos(q_i, d_j) — each query token finds
    * its best-matching candidate token; the sum rewards covering ALL query
    * tokens (the retrieval scorer multi-vector models use, vs the single
    * pooled-vector cosine of ss_topk_*).
    *
    * Scale shape: the query side is BOUNDED (32 token-vectors) and
    * broadcasts; each corpus vector scores 32 codegen'd integer dots in one
    * narrow projection (no corpus shuffle for scoring); the max collapses
    * on (q_token, d_pid) and the sum on (q_pid, d_pid) — both map-side
    * partial — and the final top-k is the BoundedTopK aggregate, never a
    * window over the pair stream. Determinism: the per-pair cosine is the
    * shared exact-integer-dot 3-op tree; the MAX of deterministic doubles
    * is order-free; the token SUM would not be (8 doubles), so each max is
    * floored to an exact integer at 1e-12 resolution first and the score
    * accumulates in int64. */
  private def maxsim(s: SparkSession, d: String): DataFrame = {
    val emb = quantized(s, d, withBucket = false)
    val q = emb.filter(col("vec_id") < 32)
      .select(col("vec_id").as("qv"), expr("vec_id div 8").as("q_pid"),
        col("qarr").as("q_qarr"), col("nrm").as("nq"))
    val pairs = emb
      .select(col("vec_id").as("cv"), expr("vec_id div 8").as("d_pid"),
        col("qarr"), col("nrm").as("nc"))
      .crossJoin(broadcast(q))
      .filter(col("d_pid") =!= col("q_pid"))
      .select(col("qv"), col("q_pid"), col("d_pid"),
        dotOf("q_qarr", "qarr").as("dot"), col("nq"), col("nc"))
      .withColumn("cos", cosFrom(col("dot"), col("nq"), col("nc")))
    maxsimRank(pairs)
  }

  /** shared MaxSim tail: (qv, q_pid, d_pid, cos) pair stream → per-token
    * max → int64-floored per-passage sum → top-5 per query passage via
    * BoundedTopK. Both the brute scorer and the pooled-candidate rerank
    * end here, so their scores share one definition by construction. */
  private def maxsimRank(pairs: DataFrame): DataFrame = {
    val perToken = pairs
      .groupBy(col("qv"), col("q_pid"), col("d_pid"))
      .agg(max(col("cos")).as("mx"))
    val perPassage = perToken
      .groupBy(col("q_pid"), col("d_pid"))
      .agg(sum(floor(col("mx") * lit(1000000000000.0))).as("score"))
    val topk = udaf(BoundedTopK[Long](5))
    perPassage
      .groupBy(col("q_pid"))
      .agg(topk(-col("score"), col("d_pid")).as("top"))
      .select(col("q_pid"), posexplode(col("top")).as(Seq("r0", "t")))
      .select(col("q_pid"), col("t._2").as("d_pid"), (-col("t._1")).as("score"),
        (col("r0") + 1).cast(LongType).as("rnk"))
      .orderBy(col("q_pid"), col("rnk"))
  }

  /** PLAID-style two-stage MaxSim: a POOLED candidate pass (elementwise
    * integer sum of each passage's 8 token vectors — the coarse "centroid"
    * representation) scores ONE dot per passage pair instead of 64, keeps
    * the top-32 candidates per query passage via BoundedTopK, and only
    * those pairs pay the exact 64-dot MaxSim rerank — which reuses
    * [[maxsimRank]], so surviving pairs score bit-identically to
    * `ss_maxsim` (PropertySpec pins the overlap consistency).
    *
    * Scale shape: the pooled table is 8× smaller than the token corpus and
    * is what a 100 TB deployment persists as its centroid index; the
    * candidate pass is linear in PASSAGES (not tokens), and the exact
    * rerank's corpus side is candidate-bounded (≤32·|Q| passages) — it no
    * longer grows with the corpus at all. Pooled sums and norms stay in
    * exact int64 (components ≤8e7, squares ≤6.4e15, 64-dim sums ≤4.1e17). */
  private def maxsimIvf(s: SparkSession, d: String): DataFrame = {
    val emb = quantized(s, d, withBucket = false)
    val withPid = emb.withColumn("pid", expr("vec_id div 8"))
    // pooled flat: (pid, i, sv) — one co-keyed partial-agged shuffle
    val pooled = withPid
      .select(col("pid"), posexplode(col("qarr")).as(Seq("i0", "v")))
      .groupBy(col("pid"), col("i0"))
      .agg(sum(col("v")).as("sv"))
    val pooledNorm = pooled.groupBy(col("pid")).agg(sum(col("sv") * col("sv")).as("nrm"))
    val pq = pooled.filter(col("pid") < 4)
      .select(col("pid").as("q_pid"), col("i0"), col("sv").as("qsv"))
    val nq = pooledNorm.filter(col("pid") < 4)
      .select(col("pid").as("q_pid"), col("nrm").as("nq"))
    val approx = pooled.join(broadcast(pq), Seq("i0"))
      .filter(col("pid") =!= col("q_pid"))
      .groupBy(col("q_pid"), col("pid").as("d_pid"))
      .agg(sum(col("sv") * col("qsv")).as("dot"))
      .join(broadcast(nq), Seq("q_pid"))
      .join(pooledNorm.withColumnRenamed("pid", "d_pid").withColumnRenamed("nrm", "nc"),
        Seq("d_pid"))
      .withColumn("acos", cosFrom(col("dot"), col("nq"), col("nc")))
    val top32 = udaf(BoundedTopK[Double](32))
    val cand = approx.groupBy(col("q_pid"))
      .agg(top32(-col("acos"), col("d_pid")).as("top"))
      .select(col("q_pid"), explode(col("top")).as("t"))
      .select(col("q_pid"), col("t._2").as("d_pid"))
    // exact rerank over candidate passages only (corpus side filtered by
    // the broadcast candidate set, then the bounded query vectors rejoin)
    val qTok = withPid.filter(col("vec_id") < 32)
      .select(col("pid").as("q_pid"), col("vec_id").as("qv"),
        col("qarr").as("q_qarr"), col("nrm").as("nq"))
    val pairs = withPid
      .select(col("pid").as("d_pid"), col("qarr"), col("nrm").as("nc"))
      .join(broadcast(cand), Seq("d_pid"))
      .join(broadcast(qTok), Seq("q_pid"))
      .select(col("qv"), col("q_pid"), col("d_pid"),
        dotOf("q_qarr", "qarr").as("dot"), col("nq"), col("nc"))
      .withColumn("cos", cosFrom(col("dot"), col("nq"), col("nc")))
    maxsimRank(pairs)
  }

  /** the pooled-candidate MaxSim oracle CTE chain (prefix `i`/`a`),
    * sharing `flat`/`norms`. */
  private val MaxSimIvfSql =
    s"""pf AS (SELECT vec_id // 8 AS pid, i, CAST(sum(v) AS BIGINT) AS sv
       |  FROM flat GROUP BY 1, 2),
       |pn AS (SELECT pid, CAST(sum(sv*sv) AS BIGINT) AS nrm FROM pf GROUP BY pid),
       |aq AS (SELECT * FROM pf WHERE pid < 4),
       |adots AS (
       |  SELECT q.pid AS q_pid, c.pid AS d_pid, CAST(sum(q.sv*c.sv) AS BIGINT) AS dot
       |  FROM aq q JOIN pf c ON q.i = c.i AND q.pid <> c.pid
       |  GROUP BY 1, 2),
       |ascore AS (
       |  SELECT q_pid, d_pid, ${cosSql("dot", "nq.nrm", "nc.nrm")} AS acos
       |  FROM adots JOIN pn nq ON nq.pid = q_pid JOIN pn nc ON nc.pid = d_pid),
       |acand AS (
       |  SELECT q_pid, d_pid FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_pid ORDER BY acos DESC, d_pid) AS arnk
       |    FROM ascore)
       |  WHERE arnk <= 32),
       |iq AS (SELECT vec_id, i, v, vec_id // 8 AS pid FROM flat WHERE vec_id < 32),
       |ic AS (SELECT vec_id, i, v, vec_id // 8 AS pid FROM flat),
       |idots AS (
       |  SELECT q.vec_id AS qv, a.q_pid, a.d_pid, c.vec_id AS cv, sum(q.v*c.v) AS dot
       |  FROM acand a JOIN iq q ON q.pid = a.q_pid
       |  JOIN ic c ON c.pid = a.d_pid AND c.i = q.i
       |  GROUP BY 1, 2, 3, 4),
       |itok AS (
       |  SELECT qv, q_pid, d_pid, max(${cosSql("dot", "nq.nrm", "nc.nrm")}) AS mx
       |  FROM idots JOIN norms nq ON nq.vec_id = qv JOIN norms nc ON nc.vec_id = cv
       |  GROUP BY 1, 2, 3),
       |ipass AS (
       |  SELECT q_pid, d_pid,
       |    CAST(sum(CAST(floor(mx*1000000000000.0) AS BIGINT)) AS BIGINT) AS score
       |  FROM itok GROUP BY 1, 2),
       |istop AS (
       |  SELECT q_pid, d_pid, score, rnk FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_pid ORDER BY score DESC, d_pid) AS rnk
       |    FROM ipass)
       |  WHERE rnk <= 5)""".stripMargin

  /** [[quantized]] (withBucket = false) collected once per (session,
    * dataset) into driver arrays: the serving tier's vector index. 500 ×
    * 64 longs at sf0.01; each `qarr` stays an `ArrayData` so
    * [[IntDotExpr.dot]] scores it directly. */
  private final class QuantIndex(val ids: Array[Long],
      val qarrs: Array[ArrayData], val nrms: Array[Long])
  private val quantIndexCache = new graft.core.SessionCache[QuantIndex]()
  private def quantIndex(s: SparkSession, d: String): QuantIndex =
    quantIndexCache.get(s, d) {
      val rows = quantized(s, d, withBucket = false)
        .select(col("vec_id"), col("qarr"), col("nrm")).collect()
      new QuantIndex(rows.map(_.getLong(0)),
        rows.map(r => UnsafeArrayData.fromPrimitiveArray(r.getSeq[Long](1).toArray)),
        rows.map(_.getLong(2)))
    }

  /** Serving-tier exact top-k, the answer behind the ApiServer
    * `/vectors/topk` route: the `k` nearest corpus vectors to corpus
    * vector `queryId` by exact integer cosine, as `(vec_id, cos, rnk)`.
    * Scored on the driver from [[quantIndex]], so a request runs no Spark
    * job: every (query row, other vector) pair goes through the shared
    * [[IntDotExpr.dot]] and [[cosOf]] and folds into one
    * [[BoundedTopK]] buffer — the ss_topk_* programs' scorer and order,
    * so the rows equal ss_topk_brute's for the same query. An unknown
    * `queryId` answers no rows. */
  def nearestTopK(s: SparkSession, d: String, queryId: Long,
      k: Int): Seq[(Long, Double, Long)] = {
    val ix = quantIndex(s, d)
    val topk = BoundedTopK[Double](k)
    var top = topk.zero
    for (q <- ix.ids.indices if ix.ids(q) == queryId;
         n <- ix.ids.indices if ix.ids(n) != queryId) {
      val cos = cosOf(IntDotExpr.dot(ix.qarrs(q), ix.qarrs(n)), ix.nrms(q), ix.nrms(n))
      top = topk.reduce(top, (-cos, ix.ids(n)))
    }
    top.zipWithIndex.map { case ((negCos, id), r) => (id, -negCos, r + 1L) }
  }

  /** the MaxSim oracle CTE chain (prefix `m`), sharing `flat`/`norms`. */
  private val MaxSimSql =
    s"""mq AS (SELECT vec_id, i, v, vec_id // 8 AS pid FROM flat WHERE vec_id < 32),
       |mc AS (SELECT vec_id, i, v, vec_id // 8 AS pid FROM flat),
       |mdots AS (
       |  SELECT q.vec_id AS qv, c.vec_id AS cv, q.pid AS q_pid, c.pid AS d_pid,
       |    sum(q.v*c.v) AS dot
       |  FROM mq q JOIN mc c ON q.i = c.i AND q.pid <> c.pid
       |  GROUP BY 1, 2, 3, 4),
       |mtok AS (
       |  SELECT qv, q_pid, d_pid, max(${cosSql("dot", "nq.nrm", "nc.nrm")}) AS mx
       |  FROM mdots JOIN norms nq ON nq.vec_id = qv JOIN norms nc ON nc.vec_id = cv
       |  GROUP BY 1, 2, 3),
       |mpass AS (
       |  SELECT q_pid, d_pid,
       |    CAST(sum(CAST(floor(mx*1000000000000.0) AS BIGINT)) AS BIGINT) AS score
       |  FROM mtok GROUP BY 1, 2),
       |mstop AS (
       |  SELECT q_pid, d_pid, score, rnk FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_pid ORDER BY score DESC, d_pid) AS rnk
       |    FROM mpass)
       |  WHERE rnk <= 5)""".stripMargin

  /** the brute top-k CTE chain (prefix `b`) shared by the ss_topk_brute and
    * ss_recall oracles. */
  private val BruteTopSql =
    s"""bq AS (SELECT * FROM flat WHERE vec_id < 16),
      |bdots AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, sum(q.v*c.v) AS dot
      |  FROM bq q JOIN flat c ON q.i = c.i AND q.vec_id <> c.vec_id
      |  GROUP BY 1, 2),
      |bscored AS (
      |  SELECT q_id, n_id, ${cosSql("dot", "nq.nrm", "nc.nrm")} AS cos
      |  FROM bdots JOIN norms nq ON nq.vec_id = q_id JOIN norms nc ON nc.vec_id = n_id),
      |btop AS (
      |  SELECT q_id, n_id, cos, rnk FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
      |    FROM bscored)
      |  WHERE rnk <= 5)""".stripMargin

  /** SQ8 two-stage top-k: int8-code candidate pass (top-15 per query via
    * BoundedTopK, map-side partial) + exact full-precision rerank to
    * top-5. Same query set/k as [[topkBrute]]. */
  private def topkQuant(s: SparkSession, d: String): DataFrame = {
    // checkpointed: the quantized corpus feeds three consumers (the int8
    // candidate pass, the rerank neighbor side, the query side) and is
    // the SMALL per-vector table, not a pair stream. localCheckpoint, not
    // persist — the pin dies with the query (cache-hygiene rule).
    val emb = quantized(s, d, withBucket = false)
      .withColumn("maxabs", expr("array_max(transform(qarr, x -> abs(x)))"))
      .filter(col("maxabs") > 0)
      .withColumn("q8", expr("transform(qarr, x -> (x * 127) div maxabs)"))
      .withColumn("nrm8", normOf("q8"))
      .localCheckpoint(eager = true)
    val q = emb.filter(col("vec_id") < 16)
    val pairs8 = emb.select(col("vec_id").as("n_id"), col("q8"), col("nrm8").as("n8c"))
      .crossJoin(broadcast(q.select(col("vec_id").as("q_id"),
        col("q8").as("q_q8"), col("nrm8").as("n8q"))))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        dotOf("q_q8", "q8").as("dot8"), col("n8q"), col("n8c"))
      .withColumn("cos8", cosFrom(col("dot8"), col("n8q"), col("n8c")))
    val top15 = udaf(BoundedTopK[Double](15))
    val cand = pairs8.groupBy(col("q_id"))
      .agg(top15(-col("cos8"), col("n_id")).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t._2").as("n_id"))
    val scored = cand
      .join(emb.select(col("vec_id").as("n_id"), col("qarr"), col("nrm").as("nc")),
        Seq("n_id"))
      .join(broadcast(q.select(col("vec_id").as("q_id"),
        col("qarr").as("q_qarr"), col("nrm").as("nq"))), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        dotOf("q_qarr", "qarr").as("dot"), col("nq"), col("nc"))
      .withColumn("cos", cosFrom(col("dot"), col("nq"), col("nc")))
    rankTopK(scored, 5)
  }

  /** MULTI-TABLE sign-LSH top-k: four independent 8-bit hyperplane tables
    * (sign codes over dimension slices 1-8, 9-16, 17-24, 25-32), candidates
    * = union of same-bucket vectors across tables, exact integer-cosine
    * rerank. The standard fix for the single-table recall collapse
    * `ss_recall` measures: each table prunes differently, so the union
    * recovers neighbors any one code would miss, while per-table fan-out
    * stays bucket-bounded — at scale this is T co-partitioned joins, not
    * an all-pairs. */
  /** occupancy-targeted adaptive code width for top-k retrieval: the
    * widest w with expected bucket occupancy N/2^w ≥ 64 (floor 2, cap 16).
    * Integer threshold comparisons only — both engines derive the
    * identical w from the identical count. Per-query candidate volume is
    * ~4 tables × 64 = O(k) at ANY corpus size: width grows with N, so
    * total candidate work stays LINEAR in N — the production ANN shape —
    * while small corpora naturally degrade toward a scan (the honest
    * behavior: index tiny corpora by scanning them). Contrast with the
    * FIXED 8-bit tables of ss_topk_lsh/ss_topk_lsh4, whose recall
    * collapses (~0.01/~0.08 measured by ss_recall) because a fixed width
    * prunes the same fraction regardless of what k needs. */
  private def topkWidth(n: Long): Int =
    math.max(2, (1 to 16).count(k => n >= (64L << k)))

  /** shared multi-table sign-LSH top-k: 4 tables of `w`-bit slice codes,
    * candidate union across tables, exact rerank — ss_topk_lsh4 pins
    * w = 8 (the documented recall-collapse contrast); ss_topk_lsha feeds
    * the adaptive [[topkWidth]]. */
  private def topkLshTables(s: SparkSession, d: String, w: Int): DataFrame = {
    val emb = quantized(s, d, withBucket = false)
    // (vec_id, t, bucket): table t's code = sign bits of dims wt+1..wt+w
    val codes = emb.select(col("vec_id"), col("embedding"), col("qarr"), col("nrm"),
        explode(expr("sequence(0, 3)")).as("t"))
      .withColumn("bucket", expr(
        s"aggregate(sequence(1, $w), 0, (acc, i) -> " +
          s"acc + if(element_at(embedding, t*$w + i) >= cast(0 as float), " +
          "cast(pow(2, i-1) as int), 0))"))
      .drop("embedding")
    // candidate ids only through the dedup shuffle — the 64-element query
    // array rejoins BROADCAST afterwards (the topkQuant shape), instead of
    // riding every candidate row across the wire
    val q = codes.filter(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("t"), col("bucket"))
    val cand = codes.select(col("vec_id").as("n_id"), col("t"), col("bucket"))
      .join(q, Seq("t", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"))
      .dropDuplicates(Seq("q_id", "n_id"))
    val qSide = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("qarr").as("q_qarr"), col("nrm").as("nq"))
    val pairs = cand
      .join(emb.select(col("vec_id").as("n_id"), col("qarr"), col("nrm").as("nc")),
        Seq("n_id"))
      .join(broadcast(qSide), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        dotOf("q_qarr", "qarr").as("dot"), col("nq"), col("nc"))
      .withColumn("cos", cosFrom(col("dot"), col("nq"), col("nc")))
    rankTopK(pairs, 5)
  }

  private def topkLsh4(s: SparkSession, d: String): DataFrame =
    topkLshTables(s, d, 8)

  private def topkLshAdaptive(s: SparkSession, d: String): DataFrame =
    topkLshTables(s, d, topkWidth(corpusCount(s, d)))

  /** the multi-table LSH CTE chain (prefix `m`), sharing `flat`/`norms`. */
  private val Lsh4TopSql =
    s"""mb AS (
      |  SELECT e.vec_id, tt.t,
      |    list_sum(list_transform(range(1, 9),
      |      i -> CASE WHEN e.embedding[tt.t*8 + i] >= 0
      |           THEN CAST(pow(2, i-1) AS BIGINT) ELSE 0 END)) AS bucket
      |  FROM embeddings e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS t) tt),
      |mcand AS (
      |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
      |  FROM mb q JOIN mb c ON q.t = c.t AND q.bucket = c.bucket
      |    AND q.vec_id < 16 AND q.vec_id <> c.vec_id),
      |mdots AS (
      |  SELECT c.q_id, c.n_id, sum(qf.v*nf.v) AS dot
      |  FROM mcand c JOIN flat qf ON qf.vec_id = c.q_id
      |  JOIN flat nf ON nf.vec_id = c.n_id AND nf.i = qf.i
      |  GROUP BY 1, 2),
      |mscored AS (
      |  SELECT q_id, n_id, ${cosSql("dot", "nq.nrm", "nc.nrm")} AS cos
      |  FROM mdots JOIN norms nq ON nq.vec_id = q_id JOIN norms nc ON nc.vec_id = n_id),
      |mtop AS (
      |  SELECT q_id, n_id, cos, rnk FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
      |    FROM mscored)
      |  WHERE rnk <= 5)""".stripMargin

  /** the ADAPTIVE-width multi-table LSH CTE chain (prefix `a`), sharing
    * `flat`/`norms` — `awsel` derives the same occupancy-64 integer width
    * as [[topkWidth]]. */
  private val LshaTopSql =
    s"""awsel AS (
      |  SELECT GREATEST(2, ${(1 to 16).map(k => s"(CASE WHEN n >= ${64L << k} THEN 1 ELSE 0 END)")
                               .mkString(" + ")}) AS w
      |  FROM (SELECT count(*) AS n FROM embeddings)),
      |ab AS (
      |  SELECT e.vec_id, tt.t,
      |    list_sum(list_transform(range(1, ws.w + 1),
      |      i -> CASE WHEN e.embedding[tt.t*ws.w + i] >= 0
      |           THEN CAST(pow(2, i-1) AS BIGINT) ELSE 0 END)) AS bucket
      |  FROM embeddings e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS t) tt
      |  CROSS JOIN awsel ws),
      |acand AS (
      |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
      |  FROM ab q JOIN ab c ON q.t = c.t AND q.bucket = c.bucket
      |    AND q.vec_id < 16 AND q.vec_id <> c.vec_id),
      |adots AS (
      |  SELECT c.q_id, c.n_id, sum(qf.v*nf.v) AS dot
      |  FROM acand c JOIN flat qf ON qf.vec_id = c.q_id
      |  JOIN flat nf ON nf.vec_id = c.n_id AND nf.i = qf.i
      |  GROUP BY 1, 2),
      |ascored AS (
      |  SELECT q_id, n_id, ${cosSql("dot", "nq.nrm", "nc.nrm")} AS cos
      |  FROM adots JOIN norms nq ON nq.vec_id = q_id JOIN norms nc ON nc.vec_id = n_id),
      |atop AS (
      |  SELECT q_id, n_id, cos, rnk FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
      |    FROM ascored)
      |  WHERE rnk <= 5)""".stripMargin

  /** the SQ8 top-k CTE chain (prefix `q`), sharing `flat`/`norms`. */
  private val QuantTopSql =
    s"""mx AS (SELECT vec_id, MAX(abs(v)) AS maxabs FROM flat GROUP BY vec_id HAVING MAX(abs(v)) > 0),
      |f8 AS (SELECT f.vec_id, f.i, (f.v*127)//mx.maxabs AS v8 FROM flat f JOIN mx USING (vec_id)),
      |n8 AS (SELECT vec_id, sum(v8*v8) AS nrm8 FROM f8 GROUP BY vec_id),
      |q8 AS (SELECT * FROM f8 WHERE vec_id < 16),
      |dots8 AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, sum(q.v8*c.v8) AS dot8
      |  FROM q8 q JOIN f8 c ON q.i = c.i AND q.vec_id <> c.vec_id
      |  GROUP BY 1, 2),
      |scored8 AS (
      |  SELECT q_id, n_id, ${cosSql("dot8", "na.nrm8", "nb.nrm8")} AS cos8
      |  FROM dots8 JOIN n8 na ON na.vec_id = q_id JOIN n8 nb ON nb.vec_id = n_id),
      |qcand AS (SELECT q_id, n_id FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos8 DESC, n_id) AS r8
      |    FROM scored8)
      |  WHERE r8 <= 15),
      |qdots AS (
      |  SELECT c.q_id, c.n_id, sum(qf.v*nf.v) AS dot
      |  FROM qcand c JOIN flat qf ON qf.vec_id = c.q_id
      |  JOIN flat nf ON nf.vec_id = c.n_id AND nf.i = qf.i
      |  GROUP BY 1, 2),
      |qscored AS (
      |  SELECT q_id, n_id, ${cosSql("dot", "nq.nrm", "nc.nrm")} AS cos
      |  FROM qdots JOIN norms nq ON nq.vec_id = q_id JOIN norms nc ON nc.vec_id = n_id),
      |qtop AS (
      |  SELECT q_id, n_id, cos, rnk FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
      |    FROM qscored)
      |  WHERE rnk <= 5)""".stripMargin

  // ── product quantization parameters: 64 dims → PqM=8 subspaces × PqSub=8
  //    dims, PqK=16 codewords per subspace sampled from the corpus (the
  //    first 16 vectors — k-means with zero refinement steps; FAISS seeds
  //    its PQ codebooks from sampled points the same way). Codes are
  //    8×4 bits per vector: 4 bytes instead of 256 — the compression ratio
  //    that lets a 100 TB corpus' candidate pass live in memory.
  private val PqM = 8
  private val PqSub = 8
  private val PqK = 16

  /** the PQ/ADC top-k CTE chain (prefix `pq`), sharing `flat`/`norms`:
    * encode (nearest codeword per subspace, exact int argmin), ADC lookup
    * tables per query, approximate cosine from table sums + reconstructed
    * codeword norms, top-15 candidates, exact full-precision rerank. */
  private val PqTopSql =
    s"""pqsub AS (SELECT vec_id, (i-1)//$PqSub AS sp, (i-1)%$PqSub AS j, v FROM flat),
      |pqcb AS (SELECT vec_id AS cid, sp, j, v AS cv FROM pqsub WHERE vec_id < $PqK),
      |pqcbn AS (SELECT cid, sp, sum(cv*cv) AS cn FROM pqcb GROUP BY 1, 2),
      |pqd AS (SELECT p.vec_id, p.sp, c.cid, sum((p.v-c.cv)*(p.v-c.cv)) AS dist
      |        FROM pqsub p JOIN pqcb c ON p.sp = c.sp AND p.j = c.j GROUP BY 1, 2, 3),
      |pqcode AS (SELECT vec_id, sp, cid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, sp ORDER BY dist, cid) AS rn
      |    FROM pqd) WHERE rn = 1),
      |pqqd AS (SELECT q.vec_id AS q_id, c.sp, c.cid, sum(q.v*c.cv) AS pdot
      |         FROM pqsub q JOIN pqcb c ON q.sp = c.sp AND q.j = c.j
      |         WHERE q.vec_id < $PqK GROUP BY 1, 2, 3),
      |pqadot AS (SELECT t.q_id, e.vec_id AS n_id, sum(t.pdot) AS adot, sum(n.cn) AS cn
      |           FROM pqcode e
      |           JOIN pqqd t ON t.sp = e.sp AND t.cid = e.cid
      |           JOIN pqcbn n ON n.sp = e.sp AND n.cid = e.cid
      |           WHERE t.q_id <> e.vec_id GROUP BY 1, 2),
      |pqapprox AS (SELECT a.q_id, a.n_id, ${cosSql("a.adot", "nq.nrm", "a.cn")} AS cospq
      |             FROM pqadot a JOIN norms nq ON nq.vec_id = a.q_id),
      |pqcand AS (SELECT q_id, n_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cospq DESC, n_id) AS r
      |    FROM pqapprox) WHERE r <= 15),
      |pqdots AS (SELECT c.q_id, c.n_id, sum(qf.v*nf.v) AS dot
      |           FROM pqcand c JOIN flat qf ON qf.vec_id = c.q_id
      |           JOIN flat nf ON nf.vec_id = c.n_id AND nf.i = qf.i
      |           GROUP BY 1, 2),
      |pqscored AS (SELECT q_id, n_id, ${cosSql("dot", "nq.nrm", "nc.nrm")} AS cos
      |             FROM pqdots JOIN norms nq ON nq.vec_id = q_id
      |             JOIN norms nc ON nc.vec_id = n_id),
      |pqtop AS (SELECT q_id, n_id, cos, rnk FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
      |    FROM pqscored) WHERE rnk <= 5)""".stripMargin

  /** the M sub-vectors per embedding (vec_id, sp, sarr) — one narrow map */
  private def pqSub(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      posexplode(expr(
        s"transform(sequence(0, ${PqM - 1}), m -> slice(qarr, m*$PqSub + 1, $PqSub))"))
        .as(Seq("sp", "sarr")))

  /** PQ INDEX — the per-snapshot build artifacts, memoized per (session,
    * dataset) as eager localCheckpoints: the ≤M·K-row codebook
    * (cid, sp, carr, cn) and the corpus code table (vec_id, sp, cid, cn).
    * Training the codebook and encoding the corpus happen once per index
    * build in any real vector store; a query only pays its own ADC-table
    * construction + lookup ([[pqAdcTables]]). Shared by `ss_topk_pq` /
    * `ss_topk_ivfpq` / the recall/MRR panels. */
  private final case class PqIdx(cb: DataFrame, codes: DataFrame)
  private val pqCache = new graft.core.SessionCache[PqIdx]()
  private def pqIndex(s: SparkSession, d: String): PqIdx =
    pqCache.get(s, d) {
      {
        val sub = pqSub(quantized(s, d, withBucket = false))
        val cb = sub.filter(col("vec_id") < PqK)
          .select(col("vec_id").as("cid"), col("sp"), col("sarr").as("carr"))
          .withColumn("cn", normOf("carr"))
          .localCheckpoint(eager = true)
        // ENCODE: nearest codeword per (vector, subspace). The ≤128-row
        // codebook broadcasts; argmin is min_by (tie-break cid), so the
        // N×M×K distance stream partial-aggregates to N×M code rows map-side.
        val codes = sub.join(broadcast(cb), Seq("sp"))
          .withColumn("dist", expr(
            "aggregate(zip_with(sarr, carr, (a, b) -> (a-b)*(a-b)), " +
              "cast(0 as bigint), (acc, x) -> acc + x)"))
          .groupBy(col("vec_id"), col("sp"))
          .agg(min_by(struct(col("cid"), col("cn")),
            struct(col("dist"), col("cid"))).as("best"))
          .select(col("vec_id"), col("sp"),
            col("best.cid").as("cid"), col("best.cn").as("cn"))
          .localCheckpoint(eager = true)
        PqIdx(cb, codes)
      }
    }

  /** cold-build hook: force the memoized PQ codebook + corpus code table
    * so the bench's artifact pass can time the index build in isolation. */
  private[graft] def buildPqIndex(s: SparkSession, d: String): Unit = {
    pqIndex(s, d); ()
  }

  /** per-query ADC lookup tables (q_id, sp, cid, pdot) against a built
    * [[pqIndex]] — the query-time half of PQ scoring. */
  private def pqAdcTables(s: SparkSession, d: String, cb: DataFrame): DataFrame =
    pqSub(quantized(s, d, withBucket = false))
      .filter(col("vec_id") < PqK)
      .select(col("vec_id").as("q_id"), col("sp"), col("sarr").as("qs"))
      .join(cb.select(col("cid"), col("sp"), col("carr")), Seq("sp"))
      .select(col("q_id"), col("sp"), col("cid"), dotOf("qs", "carr").as("pdot"))

  /** PQ encode of the dataset: corpus code table + per-query ADC tables.
    * Shared by `ss_topk_pq` / `ss_topk_ivfpq`. */
  private def pqEncode(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val idx = pqIndex(s, d)
    (idx.codes, pqAdcTables(s, d, idx.cb))
  }

  /** exact full-precision rerank of a (q_id, n_id) candidate frame to
    * top-k — the shared tail of every two-stage ANN variant. */
  private def exactRerank(cand: DataFrame, emb: DataFrame, k: Int): DataFrame = {
    val scored = cand
      .join(emb.select(col("vec_id").as("n_id"), col("qarr"), col("nrm").as("nc")),
        Seq("n_id"))
      .join(broadcast(emb.filter(col("vec_id") < PqK).select(col("vec_id").as("q_id"),
        col("qarr").as("q_qarr"), col("nrm").as("nq"))), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        dotOf("q_qarr", "qarr").as("dot"), col("nq"), col("nc"))
      .withColumn("cos", cosFrom(col("dot"), col("nq"), col("nc")))
    rankTopK(scored, k)
  }

  /** PQ top-k, Spark side — see the `ss_topk_pq` registration comment. */
  private def topkPq(s: SparkSession, d: String): DataFrame = {
    val emb = quantized(s, d, withBucket = false)
    val (codes, qd) = pqEncode(s, d)
    // approximate scores: N×M code rows × broadcast ADC table, partial-
    // aggregated to one (q_id, n_id) row before the shuffle
    val qn = emb.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("q_id"), col("nrm").as("nq"))
    val cand = codes.join(broadcast(qd), Seq("sp", "cid"))
      .filter(col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("adot"), sum(col("cn")).as("cn"))
      .join(broadcast(qn), Seq("q_id"))
      .withColumn("cospq", cosFrom(col("adot"), col("nq"), col("cn")))
    val top15 = udaf(BoundedTopK[Double](15))
    val c15 = cand.groupBy(col("q_id"))
      .agg(top15(-col("cospq"), col("vec_id")).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t._2").as("n_id"))
    exactRerank(c15, emb, 5)
  }

  /** IVF-PQ top-k, Spark side — see the `ss_topk_ivfpq` registration
    * comment. The IVF stage bounds WHICH vectors are scored (nprobe=2
    * posting lists); the PQ stage bounds WHAT scoring costs (ADC lookups
    * on 4-byte codes); only the composed top-15 pays exact rerank. */
  private def topkIvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = quantized(s, d, withBucket = false)
    val cand = ivfCand(s, d)
    val (codes, qd) = pqEncode(s, d)
    val qn = emb.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("q_id"), col("nrm").as("nq"))
    val adc = cand
      .join(codes.withColumnRenamed("vec_id", "n_id"), Seq("n_id"))
      .join(broadcast(qd), Seq("q_id", "sp", "cid"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("pdot")).as("adot"), sum(col("cn")).as("cn"))
      .join(broadcast(qn), Seq("q_id"))
      .withColumn("cospq", cosFrom(col("adot"), col("nq"), col("cn")))
    val top15 = udaf(BoundedTopK[Double](15))
    val c15 = adc.groupBy(col("q_id"))
      .agg(top15(-col("cospq"), col("n_id")).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t._2").as("n_id"))
    exactRerank(c15, emb, 5)
  }

  /** IVF (inverted-file) top-k: label-mean centroids in exact integer
    * arithmetic, nearest-cell assignment + nprobe=2 probe cells in one
    * BoundedTopK aggregation pass, exact integer-cosine rerank inside the
    * probed posting lists only. Shared by `ss_topk_ivf` and the `ss_recall`
    * panel. */
  private def ivfCand(s: SparkSession, d: String): DataFrame = {
    val cells = ivfCells(s, d)
    val assign = cells.select(col("vec_id"), col("cell"))
    val probe = cells.filter(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), explode(col("cells")("_2")).as("cell"))
    probe.join(assign, Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id")).distinct()
  }

  /** the IVF INDEX — per-vector nearest cell + nprobe=2 cells, memoized
    * per (session, dataset) as an eager localCheckpoint: centroid
    * training and corpus assignment are the one-time index build (no
    * vector store re-clusters per query); a query pays only the posting-
    * list probe + rerank in [[ivfCand]]'s tail. One row per vector. Keyed
    * per (session object, dataset) — the round-8 key was the INPUT FRAME's
    * identity hash, which a collected frame's reused hash could alias to a
    * different corpus; the dataset dir is the stable identity of what the
    * cells were trained on. */
  private val ivfCache = new graft.core.SessionCache[DataFrame]()
  private def ivfCells(s: SparkSession, d: String): DataFrame =
    ivfCache.get(s, d) {
      {
        val emb = quantized(s, d, withBucket = false)
        val n = emb.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
        val flat = emb.select(col("vec_id"), col("label"),
            posexplode(col("qarr")).as(Seq("i0", "v")))
          .withColumn("i", col("i0") + 1).drop("i0")
        val cent = flat.groupBy(col("label"), col("i")).agg(sum(col("v")).as("s"))
          .join(broadcast(n), Seq("label"))
          .select(col("label").as("cl"), col("i"), expr("s div cnt").as("cv"))
        val dist = flat.join(broadcast(cent), Seq("i"))
          .groupBy(col("vec_id"), col("cl"))
          .agg(sum((col("v") - col("cv")) * (col("v") - col("cv"))).as("d2"))
        // nearest cell AND nprobe cells in ONE aggregation pass over the
        // N×K (vec_id, cell) stream — no window rank: min_by/BoundedTopK
        // both partial-aggregate map-side (the top-2 buffer is two
        // (d2, cl) pairs per group); d2 stays Long (squared integer
        // distances overflow a Double's 53-bit mantissa).
        val top2 = udaf(BoundedTopK[Long](2))
        dist.groupBy(col("vec_id"))
          .agg(min_by(col("cl"), struct(col("d2"), col("cl"))).as("cell"),
            top2(col("d2"), col("cl")).as("cells"))
          .localCheckpoint(eager = true)
      }
    }

  /** cold-build hook: force the memoized IVF cell assignment so the
    * bench's artifact pass can time centroid training in isolation. */
  private[graft] def buildIvfCells(s: SparkSession, d: String): Unit = {
    ivfCells(s, d); ()
  }

  private def topkIvf(s: SparkSession, d: String): DataFrame = {
    val emb = quantized(s, d, withBucket = false)
    val cand = ivfCand(s, d)
    val qSide = emb.select(col("vec_id").as("q_id"), col("qarr").as("q_qarr"),
      col("nrm").as("nq"))
    val nSide = emb.select(col("vec_id").as("n_id"), col("qarr"), col("nrm").as("nc"))
    val scored = cand.join(qSide, Seq("q_id")).join(nSide, Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        dotOf("q_qarr", "qarr").as("dot"), col("nq"), col("nc"))
      .withColumn("cos", cosFrom(col("dot"), col("nq"), col("nc")))
    rankTopK(scored, 5)
  }

  /** the IVF top-k CTE chain (prefix `iv`), sharing `flat`/`norms`. */
  private val IvfTopSql =
    s"""ivn AS (SELECT label, COUNT(*) AS cnt FROM embeddings GROUP BY label),
       |ivcsum AS (SELECT e.label, f.i, SUM(f.v) AS s
       |           FROM flat f JOIN embeddings e USING (vec_id) GROUP BY e.label, f.i),
       |ivcent AS (SELECT c.label AS cl, c.i, c.s // n.cnt AS cv
       |           FROM ivcsum c JOIN ivn n USING (label)),
       |ivdist AS (SELECT f.vec_id, c.cl, SUM((f.v - c.cv)*(f.v - c.cv)) AS d2
       |           FROM flat f JOIN ivcent c ON f.i = c.i GROUP BY f.vec_id, c.cl),
       |ivranked AS (SELECT vec_id, cl,
       |               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
       |             FROM ivdist),
       |ivassign AS (SELECT vec_id, cl AS cell FROM ivranked WHERE rn = 1),
       |ivprobe AS (SELECT vec_id AS q_id, cl AS cell FROM ivranked
       |            WHERE vec_id < 16 AND rn <= 2),
       |ivcand AS (SELECT DISTINCT p.q_id, a.vec_id AS n_id
       |           FROM ivprobe p JOIN ivassign a ON a.cell = p.cell AND a.vec_id <> p.q_id),
       |ivdots AS (SELECT c.q_id, c.n_id, SUM(qf.v * nf.v) AS dot
       |           FROM ivcand c JOIN flat qf ON qf.vec_id = c.q_id
       |           JOIN flat nf ON nf.vec_id = c.n_id AND nf.i = qf.i
       |           GROUP BY c.q_id, c.n_id),
       |ivscored AS (SELECT q_id, n_id, ${cosSql("dot", "nq.nrm", "nc.nrm")} AS cos
       |             FROM ivdots JOIN norms nq ON nq.vec_id = q_id
       |             JOIN norms nc ON nc.vec_id = n_id),
       |ivtop AS (
       |  SELECT q_id, n_id, cos, rnk FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |    FROM ivscored)
       |  WHERE rnk <= 5)""".stripMargin

  /** the IVF-PQ top-k CTE chain (prefix `vp`): candidates from the IVF
    * probe (`ivcand`), scored by PQ/ADC (`pqcode`/`pqqd`/`pqcbn`), top-15
    * survive, exact rerank to 5 — references the iv-/pq-prefixed CTEs, so
    * a query using it includes IvfTopSql and PqTopSql too. */
  private val IvfPqSql =
    s"""vpadot AS (SELECT c.q_id, c.n_id, sum(t.pdot) AS adot, sum(n.cn) AS cn
      |           FROM ivcand c
      |           JOIN pqcode e ON e.vec_id = c.n_id
      |           JOIN pqqd t ON t.q_id = c.q_id AND t.sp = e.sp AND t.cid = e.cid
      |           JOIN pqcbn n ON n.sp = e.sp AND n.cid = e.cid
      |           GROUP BY 1, 2),
      |vpapprox AS (SELECT a.q_id, a.n_id, ${cosSql("a.adot", "nq.nrm", "a.cn")} AS cospq
      |             FROM vpadot a JOIN norms nq ON nq.vec_id = a.q_id),
      |vpcand AS (SELECT q_id, n_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cospq DESC, n_id) AS r
      |    FROM vpapprox) WHERE r <= 15),
      |vpdots AS (SELECT c.q_id, c.n_id, sum(qf.v*nf.v) AS dot
      |           FROM vpcand c JOIN flat qf ON qf.vec_id = c.q_id
      |           JOIN flat nf ON nf.vec_id = c.n_id AND nf.i = qf.i
      |           GROUP BY 1, 2),
      |vpscored AS (SELECT q_id, n_id, ${cosSql("dot", "nq.nrm", "nc.nrm")} AS cos
      |             FROM vpdots JOIN norms nq ON nq.vec_id = q_id
      |             JOIN norms nc ON nc.vec_id = n_id),
      |vptop AS (SELECT q_id, n_id, cos, rnk FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
      |    FROM vpscored) WHERE rnk <= 5)""".stripMargin

  /** the LSH top-k CTE chain (prefix `l`), sharing `flat`/`norms`. */
  private val LshTopSql =
    s"""bkt AS (SELECT vec_id, $signBucketSql AS bucket FROM embeddings),
       |lq AS (SELECT f.*, b.bucket FROM flat f JOIN bkt b USING (vec_id) WHERE f.vec_id < 16),
       |lc AS (SELECT f.*, b.bucket FROM flat f JOIN bkt b USING (vec_id)),
       |ldots AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, sum(q.v*c.v) AS dot
       |  FROM lq q JOIN lc c ON q.i = c.i AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |  GROUP BY 1, 2),
       |lscored AS (
       |  SELECT q_id, n_id, ${cosSql("dot", "nq.nrm", "nc.nrm")} AS cos
       |  FROM ldots JOIN norms nq ON nq.vec_id = q_id JOIN norms nc ON nc.vec_id = n_id),
       |ltop AS (
       |  SELECT q_id, n_id, cos, rnk FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |    FROM lscored)
       |  WHERE rnk <= 5)""".stripMargin

  val queries: Seq[Q] = Seq(

    // Brute-force cosine top-k: query set = vec_id < 16, k = 5. Broadcast
    // the queries, fold dot products pairwise (narrow, codegen'd), rank per
    // query. The baseline every ANN variant is measured against.
    Q(
      "ss_topk_brute",
      s"""$FlatCte,
         |$BruteTopSql
         |SELECT q_id, n_id, cos, rnk FROM btop ORDER BY q_id, rnk""".stripMargin) {
      (s, d) => topkBrute(s, d)
    }.copy(bench = true),

    // RANGE (radius) search — the other serving primitive next to top-k
    // (round 11): every corpus neighbor within cosine >= 0.35 of each
    // query vector, self excluded. Distinct semantics from top-k: the
    // result size tracks the query's true neighborhood density (a
    // dedup-ish "everything this similar" contract), not a fixed k — the
    // form retrieval filters and near-dup sweeps actually want when the
    // neighborhood size is the signal. Plan: broadcast query rows, one
    // codegen'd integer-dot projection per corpus vector, a FILTER —
    // no top-k aggregate, no window, no shuffle beyond the output sort;
    // the cheapest possible scan shape, embarrassingly parallel at any
    // corpus size. The threshold compare rides the shared total cosFrom,
    // bitwise on both engines (same contract dd_embed_cosine's 0.95
    // filter is proven under).
    Q(
      "ss_range_query",
      s"""$FlatCte,
         |rq AS (SELECT * FROM flat WHERE vec_id < 16),
         |rdots AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, sum(q.v*c.v) AS dot
         |  FROM rq q JOIN flat c ON q.i = c.i AND q.vec_id <> c.vec_id
         |  GROUP BY 1, 2),
         |rscored AS (
         |  SELECT q_id, n_id, ${cosSql("dot", "nq.nrm", "nc.nrm")} AS cos
         |  FROM rdots JOIN norms nq ON nq.vec_id = q_id
         |  JOIN norms nc ON nc.vec_id = n_id)
         |SELECT q_id, n_id, cos FROM rscored WHERE cos >= 0.35
         |ORDER BY q_id, n_id""".stripMargin) { (s, d) =>
      val emb = quantized(s, d, withBucket = false)
      val q = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("qarr").as("q_qarr"),
          col("nrm").as("nq"))
      emb.select(col("vec_id").as("n_id"), col("qarr"), col("nrm").as("nc"))
        .crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          cosFrom(dotOf("q_qarr", "qarr"), col("nq"), col("nc")).as("cos"))
        .filter(col("cos") >= 0.35)
        .orderBy(col("q_id"), col("n_id"))
    },

    // LSH-bucketed top-k: same queries/k, but candidates restricted to the
    // query's 8-bit sign bucket — the scale path: one shuffle on the bucket
    // key instead of |Q|×N pairs. Recall vs ss_topk_brute is MEASURED by
    // ss_recall below.
    Q(
      "ss_topk_lsh",
      s"""$FlatCte,
         |$LshTopSql
         |SELECT q_id, n_id, cos, rnk FROM ltop ORDER BY q_id, rnk""".stripMargin) {
      (s, d) => topkLsh(s, d)
    },

    // Multi-table sign-LSH top-k — the production form of hyperplane LSH:
    // four independent 8-bit tables over dimension slices, candidate union
    // across tables, exact rerank. ss_recall quantifies the repair vs the
    // single-table variant.
    Q(
      "ss_topk_lsh4",
      s"""$FlatCte,
         |$Lsh4TopSql
         |SELECT q_id, n_id, cos, rnk FROM mtop ORDER BY q_id, rnk""".stripMargin) {
      (s, d) => topkLsh4(s, d)
    },

    // ADAPTIVE-width multi-table sign-LSH top-k (round 13) — the repaired
    // production form: same 4-table candidate-union shape as ss_topk_lsh4,
    // but the code width follows the occupancy-64 rule (topkWidth), so the
    // per-query candidate budget is O(k) at any corpus size instead of a
    // fixed-fraction prune. ss_recall carries the evidence: the fixed
    // 8-bit rows stay as the documented recall-collapse contrast
    // (lsh ~0.01, lsh4 ~0.08); this row's recall is the deployable number.
    Q(
      "ss_topk_lsha",
      s"""$FlatCte,
         |$LshaTopSql
         |SELECT q_id, n_id, cos, rnk FROM atop ORDER BY q_id, rnk""".stripMargin) {
      (s, d) => topkLshAdaptive(s, d)
    },

    // Late-interaction (ColBERT-style) MaxSim retrieval: multi-vector
    // passages (8 token-vectors each), score = per-query-token best-match
    // sum. The scorer a multi-vector embedding index serves; top-5
    // passages per query passage, exact integer-floored scores.
    Q(
      "ss_maxsim",
      s"""$FlatCte,
         |$MaxSimSql
         |SELECT q_pid, d_pid, score, rnk FROM mstop ORDER BY q_pid, rnk""".stripMargin) {
      (s, d) => maxsim(s, d)
    },

    // PLAID-style two-stage MaxSim: pooled-centroid candidate pass (one
    // dot per passage pair, top-32 via BoundedTopK) + exact MaxSim rerank
    // of the candidates only — the scale path, where exact scoring is
    // candidate-bounded instead of corpus-wide.
    Q(
      "ss_maxsim_ivf",
      s"""$FlatCte,
         |$MaxSimIvfSql
         |SELECT q_pid, d_pid, score, rnk FROM istop ORDER BY q_pid, rnk""".stripMargin) {
      (s, d) => maxsimIvf(s, d)
    },

    // Recall@5 of the pooled-candidate MaxSim against the exhaustive
    // scorer — the late-interaction family's own eval row (the ss_recall
    // discipline): per query passage, how many of the true top-5 passages
    // the two-stage form recovered. Both sides are the oracle-pinned
    // programs above; the join is 5·|Q| rows.
    Q(
      "ss_maxsim_recall",
      s"""$FlatCte,
         |$MaxSimSql,
         |$MaxSimIvfSql
         |SELECT b.q_pid, count(v.d_pid) AS n_hits,
         |  CAST(count(v.d_pid) AS DOUBLE)/5.0 AS recall_at_5
         |FROM mstop b LEFT JOIN istop v ON v.q_pid = b.q_pid AND v.d_pid = b.d_pid
         |GROUP BY b.q_pid ORDER BY b.q_pid""".stripMargin) { (s, d) =>
      val brute = maxsim(s, d).select(col("q_pid"), col("d_pid"))
      val ivf = maxsimIvf(s, d).select(col("q_pid"), col("d_pid"))
        .withColumn("hit", lit(1L))
      brute.join(ivf, Seq("q_pid", "d_pid"), "left")
        .groupBy(col("q_pid"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("q_pid"), col("n_hits"),
          (col("n_hits").cast(DoubleType) / 5.0).as("recall_at_5"))
        .orderBy(col("q_pid"))
    },

    // Recall@5 of the ANN variants against exact brute-force truth — the
    // eval every ANN deployment runs before trusting an index. Per (method,
    // query): how many of the true top-5 the variant recovered. All
    // pipelines reuse the operators above; the join is k·|Q|-sized. An
    // average-recall row would hide per-query holes (a query whose bucket
    // is starved has recall 0 while the mean looks fine) — per-query rows
    // keep the eval honest. Measured on this data: the SQ8 rerank recovers
    // the exact top-5 (recall 1.0 — the int8 candidate pass keeps 3k before
    // the full-precision rerank); IVF at nprobe=2 lands at 0.375 (coarse
    // cells capture real neighborhood structure where hyperplane signs
    // don't); the SINGLE-table 8-bit sign-LSH collapses (~0.01 — one
    // hyperplane code is a candidate PRUNER, not a ranker); the four-table
    // union (ss_topk_lsh4) multiplies recall ~6× (~0.08) at ~4× candidate
    // cost. On isotropic synthetic embeddings even multi-table hyperplane
    // codes prune hard — the quantize-then-rerank paths (SQ8, IVF) are the
    // robust defaults, and this row is the evidence.
    Q(
      "ss_recall",
      s"""$FlatCte,
         |$BruteTopSql,
         |$LshTopSql,
         |$Lsh4TopSql,
         |$LshaTopSql,
         |$QuantTopSql,
         |$PqTopSql,
         |$IvfTopSql,
         |$IvfPqSql
         |SELECT method, q_id, n_hits, CAST(n_hits AS DOUBLE)/5.0 AS recall_at_5
         |FROM (
         |  SELECT 'ivf' AS method, b.q_id, count(v.n_id) AS n_hits
         |  FROM btop b LEFT JOIN ivtop v ON v.q_id = b.q_id AND v.n_id = b.n_id
         |  GROUP BY b.q_id
         |  UNION ALL
         |  SELECT 'lsh' AS method, b.q_id, count(l.n_id) AS n_hits
         |  FROM btop b LEFT JOIN ltop l ON l.q_id = b.q_id AND l.n_id = b.n_id
         |  GROUP BY b.q_id
         |  UNION ALL
         |  SELECT 'lsh4' AS method, b.q_id, count(m.n_id) AS n_hits
         |  FROM btop b LEFT JOIN mtop m ON m.q_id = b.q_id AND m.n_id = b.n_id
         |  GROUP BY b.q_id
         |  UNION ALL
         |  SELECT 'lsha' AS method, b.q_id, count(a.n_id) AS n_hits
         |  FROM btop b LEFT JOIN atop a ON a.q_id = b.q_id AND a.n_id = b.n_id
         |  GROUP BY b.q_id
         |  UNION ALL
         |  SELECT 'quant' AS method, b.q_id, count(t.n_id) AS n_hits
         |  FROM btop b LEFT JOIN qtop t ON t.q_id = b.q_id AND t.n_id = b.n_id
         |  GROUP BY b.q_id
         |  UNION ALL
         |  SELECT 'pq' AS method, b.q_id, count(p.n_id) AS n_hits
         |  FROM btop b LEFT JOIN pqtop p ON p.q_id = b.q_id AND p.n_id = b.n_id
         |  GROUP BY b.q_id
         |  UNION ALL
         |  SELECT 'ivfpq' AS method, b.q_id, count(x.n_id) AS n_hits
         |  FROM btop b LEFT JOIN vptop x ON x.q_id = b.q_id AND x.n_id = b.n_id
         |  GROUP BY b.q_id)
         |ORDER BY method, q_id""".stripMargin) { (s, d) =>
      // checkpointed, not persisted: four recall passes share the truth
      // set; the pin must not outlive the query (cache-hygiene rule)
      val truth = topkBrute(s, d).select(col("q_id"), col("n_id"))
        .localCheckpoint(eager = true)
      def recallOf(method: String, got: DataFrame): DataFrame =
        truth.join(got.select(col("q_id"), col("n_id")).withColumn("hit", lit(1)),
            Seq("q_id", "n_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(col("hit")).as("n_hits"))
          .select(lit(method).as("method"), col("q_id"), col("n_hits"))
      recallOf("ivf", topkIvf(s, d))
        .union(recallOf("lsh", topkLsh(s, d)))
        .union(recallOf("lsh4", topkLsh4(s, d)))
        .union(recallOf("lsha", topkLshAdaptive(s, d)))
        .union(recallOf("quant", topkQuant(s, d)))
        .union(recallOf("pq", topkPq(s, d)))
        .union(recallOf("ivfpq", topkIvfPq(s, d)))
        .select(col("method"), col("q_id"), col("n_hits"),
          (col("n_hits").cast(DoubleType) / 5.0).as("recall_at_5"))
        .orderBy(col("method"), col("q_id"))
    },

    // MRR beside the recall panel: per method, the mean reciprocal rank of
    // the TRUE nearest neighbor (brute rank-1) inside the method's top-5.
    // Rank-sensitive where recall@5 is rank-blind — an ANN variant that
    // always buries the true neighbor at rank 5 keeps recall 1.0 but drops
    // to MRR 0.2. EXACT cross-engine: reciprocal ranks are accumulated as
    // integers scaled by lcm(1..5)·12 = 60 (60 div rnk ∈ {60,30,20,15,12}),
    // summed exactly, and divided once at the end — no float summation
    // order anywhere. The brute row is the panel's self-check (exactly 1.0).
    Q(
      "ss_mrr",
      s"""$FlatCte,
         |$BruteTopSql,
         |$LshTopSql,
         |$Lsh4TopSql,
         |$LshaTopSql,
         |$QuantTopSql,
         |$PqTopSql,
         |$IvfTopSql,
         |$IvfPqSql,
         |t1 AS (SELECT q_id, n_id FROM btop WHERE rnk = 1)
         |SELECT method, count(*) AS n_q, count(rnk) AS n_found,
         |  CAST(sum(coalesce(60 // rnk, 0)) AS DOUBLE) / (60.0 * count(*)) AS mrr
         |FROM (
         |  SELECT 'brute' AS method, t1.q_id, b.rnk FROM t1
         |    LEFT JOIN btop b ON b.q_id = t1.q_id AND b.n_id = t1.n_id
         |  UNION ALL SELECT 'ivf', t1.q_id, v.rnk FROM t1
         |    LEFT JOIN ivtop v ON v.q_id = t1.q_id AND v.n_id = t1.n_id
         |  UNION ALL SELECT 'ivfpq', t1.q_id, x.rnk FROM t1
         |    LEFT JOIN vptop x ON x.q_id = t1.q_id AND x.n_id = t1.n_id
         |  UNION ALL SELECT 'lsh', t1.q_id, l.rnk FROM t1
         |    LEFT JOIN ltop l ON l.q_id = t1.q_id AND l.n_id = t1.n_id
         |  UNION ALL SELECT 'lsh4', t1.q_id, m.rnk FROM t1
         |    LEFT JOIN mtop m ON m.q_id = t1.q_id AND m.n_id = t1.n_id
         |  UNION ALL SELECT 'lsha', t1.q_id, a.rnk FROM t1
         |    LEFT JOIN atop a ON a.q_id = t1.q_id AND a.n_id = t1.n_id
         |  UNION ALL SELECT 'pq', t1.q_id, p.rnk FROM t1
         |    LEFT JOIN pqtop p ON p.q_id = t1.q_id AND p.n_id = t1.n_id
         |  UNION ALL SELECT 'quant', t1.q_id, t.rnk FROM t1
         |    LEFT JOIN qtop t ON t.q_id = t1.q_id AND t.n_id = t1.n_id)
         |GROUP BY method ORDER BY method""".stripMargin) { (s, d) =>
      // checkpointed, not persisted: every MRR pass reads the brute truth;
      // the pin must not outlive the query (cache-hygiene rule)
      val brute = topkBrute(s, d).localCheckpoint(eager = true)
      val t1 = brute.filter(col("rnk") === 1).select(col("q_id"), col("n_id"))
      def mrrOf(m: String, got: DataFrame): DataFrame =
        t1.join(got.select(col("q_id"), col("n_id"), col("rnk")),
            Seq("q_id", "n_id"), "left")
          .agg(count(lit(1)).as("n_q"), count(col("rnk")).as("n_found"),
            sum(coalesce(expr("60 div rnk"), lit(0L))).as("s60"))
          .select(lit(m).as("method"), col("n_q"), col("n_found"),
            (col("s60").cast(DoubleType) / (lit(60.0) * col("n_q"))).as("mrr"))
      mrrOf("brute", brute)
        .union(mrrOf("ivf", topkIvf(s, d)))
        .union(mrrOf("ivfpq", topkIvfPq(s, d)))
        .union(mrrOf("lsh", topkLsh(s, d)))
        .union(mrrOf("lsh4", topkLsh4(s, d)))
        .union(mrrOf("lsha", topkLshAdaptive(s, d)))
        .union(mrrOf("pq", topkPq(s, d)))
        .union(mrrOf("quant", topkQuant(s, d)))
        .orderBy(col("method"))
    },

    // Embedding near-duplicate pairs: multi-table sign-code candidates
    // (embedCodeTable — 4×16-bit dimension-slice codes), exact integer
    // cosine verify, threshold 0.95. Shuffles once on the code key; a pair
    // colliding in several tables is emitted exactly once by the row-local
    // first-matching-table filter (no dedup aggregation). Candidate volume
    // per key shrinks with the 4·2^16 key space instead of saturating 256
    // buckets — the layout that keeps the candidate set dup-sized at
    // corpus scale (README records the measured candidate counts at
    // 8×/32×).
    Q(
      "dd_embed_cosine",
      s"""$FlatCte,
         |$EmbedCodesSql,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM codes a JOIN codes b ON a.bkey = b.bkey AND a.vec_id < b.vec_id),
         |dots AS (
         |  SELECT cd.vec_a, cd.vec_b, sum(a.v*b.v) AS dot
         |  FROM cand cd JOIN flat a ON a.vec_id = cd.vec_a
         |  JOIN flat b ON b.vec_id = cd.vec_b AND b.i = a.i
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT vec_a, vec_b, ${cosSql("dot", "na.nrm", "nb.nrm")} AS cos
         |  FROM dots JOIN norms na ON na.vec_id = vec_a
         |  JOIN norms nb ON nb.vec_id = vec_b)
         |SELECT vec_a, vec_b, cos FROM scored WHERE cos >= 0.95
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
      // codes derive from the MEMOIZED quantized corpus index (the same
      // persisted artifact every ANN variant reads): the checkpoint scan
      // keeps the transform-based quantization out of this plan, so the
      // candidate join stays inside whole-stage codegen end to end
      val codes = embedCodeTable(
        quantized(s, d, withBucket = false)
          .select(col("vec_id"), col("qarr"), col("nrm")))
      val a = codes.select(col("vec_id").as("vec_a"), col("qarr").as("qa"),
        col("nrm").as("na"), col("codes").as("ca"), col("t"), col("bkey"))
      val b = codes.select(col("vec_id").as("vec_b"), col("qarr").as("qb"),
        col("nrm").as("nb"), col("codes").as("cb"), col("bkey"))
      a.join(b, Seq("bkey"))
        .filter(col("vec_a") < col("vec_b"))
        .filter(firstTableMatch("ca", "cb"))
        .select(col("vec_a"), col("vec_b"),
          cosFrom(dotOf("qa", "qb"), col("na"), col("nb")).as("cos"))
        .filter(col("cos") >= 0.95)
        .orderBy(col("vec_a"), col("vec_b"))
    }.copy(bench = true),

    // Incremental EMBEDDING dedup — the vector analog of dd_incremental_lsh:
    // a new batch (the top-10%-of-vec_id slice) probed against the existing
    // corpus's multi-table code index, exact integer-cosine verify at 0.95,
    // one admit/drop verdict per new vector. The corpus side is joined on
    // its code key with the BATCH side broadcast, so the corpus is never
    // re-shuffled by the probe (in production the persisted index streams
    // through it) — the continuous-ingest shape for embedding-space dedup
    // of a multimodal corpus.
    Q(
      "dd_incremental_embed",
      IncrementalEmbedSql) { (s, d) =>
      // the reusable index/probe API (embeddingIndex / probeEmbedIndex) —
      // the same two calls a production refresh or the streaming
      // embedDupGate runs; the corpus/batch split is the in-query cut
      val (newIdx, corpIdx) = embedIncrementalSplit(s, d)
      probeEmbedIndex(newIdx, corpIdx).orderBy(col("vec_id"))
    },

    // The SAME incremental embedding-dedup semantics through the LARGE-batch
    // path (shuffle_hash join on the code key, batch side never broadcast)
    // against the SAME oracle — proving broadcast- and shuffle-path verdict
    // equality row for row, exactly like dd_incremental_lsh/_big on the
    // text side. This is the plan that survives the daily embedding batch
    // outgrowing Spark's broadcast ceiling; PlanSpec gates that nothing
    // batch-derived broadcasts.
    Q(
      "dd_incremental_embed_big",
      IncrementalEmbedSql) { (s, d) =>
      val (newIdx, corpIdx) = embedIncrementalSplit(s, d)
      probeEmbedIndexShuffle(newIdx, corpIdx).orderBy(col("vec_id"))
    },

    // IVF (inverted-file) top-k — the coarse-quantization ANN scale path:
    // label-mean centroids in exact integer arithmetic (sum div n — both
    // engines truncate toward zero), every vector assigned to its nearest
    // centroid by integer L2, queries probe their nprobe=2 nearest cells,
    // exact integer-cosine rerank inside the probed cells only. The ranked
    // assignment relation is persisted (two consumers: assignments +
    // probes); at 100 TB the posting lists are the partitioning key, so
    // the rerank shuffle touches ~nprobe/k of the corpus instead of all
    // of it. Recall vs brute truth is MEASURED by ss_recall.
    Q(
      "ss_topk_ivf",
      s"""$FlatCte,
         |$IvfTopSql
         |SELECT q_id, n_id, cos, rnk FROM ivtop ORDER BY q_id, rnk""".stripMargin) {
      (s, d) => topkIvf(s, d)
    },

    // L2 normalization (embedding preprocessing): components divided by
    // the vector norm, with the norm built from the exact integer
    // quantization (order-independent) and the per-component division a
    // single deterministic IEEE op. First 4 dims sampled for compactness.
    Q(
      "ss_normalize",
      s"""$FlatCte
         |SELECT f.vec_id, f.i, CAST(f.v AS DOUBLE)/sqrt(n.nrm) AS nv
         |FROM flat f JOIN norms n USING (vec_id)
         |WHERE f.i <= 4 AND n.nrm > 0
         |ORDER BY f.vec_id, f.i""".stripMargin) { (s, d) =>
      quantized(s, d, withBucket = false)
        .filter(col("nrm") > 0)
        .select(col("vec_id"), col("nrm"), posexplode(col("qarr")).as(Seq("i0", "v")))
        .withColumn("i", (col("i0") + 1).cast(LongType))
        .filter(col("i") <= 4)
        .select(col("vec_id"), col("i"),
          (col("v").cast(DoubleType) / sqrt(col("nrm").cast(DoubleType))).as("nv"))
        .orderBy(col("vec_id"), col("i"))
    },

    // int8 quantization (serving/storage prep): per-vector scale =
    // max |component|, q8 = trunc(v·127 / maxabs) — pure integer
    // arithmetic end-to-end (both engines truncate toward zero), the
    // standard symmetric-range scheme without any float rounding-mode
    // hazard.
    Q(
      "ss_quant_int8",
      s"""$FlatCte,
         |mx AS (SELECT vec_id, MAX(abs(v)) AS maxabs FROM flat GROUP BY vec_id)
         |SELECT f.vec_id, f.i, (f.v * 127) // mx.maxabs AS q8
         |FROM flat f JOIN mx USING (vec_id)
         |WHERE f.i <= 4 AND mx.maxabs > 0
         |ORDER BY f.vec_id, f.i""".stripMargin) { (s, d) =>
      val flat = quantized(s, d, withBucket = false)
        .select(col("vec_id"), posexplode(col("qarr")).as(Seq("i0", "v")))
        .withColumn("i", (col("i0") + 1).cast(LongType))
      val mx = flat.groupBy(col("vec_id")).agg(max(abs(col("v"))).as("maxabs"))
        .filter(col("maxabs") > 0)
      flat.filter(col("i") <= 4)
        .join(mx, Seq("vec_id"))
        .select(col("vec_id"), col("i"), expr("(v * 127) div maxabs").as("q8"))
        .orderBy(col("vec_id"), col("i"))
    },

    // Quantized-first-pass top-k — the SQ8 ANN shape: candidates are scored
    // on int8 codes (the (v·127) div maxabs symmetric quantization of
    // ss_quant_int8 — at 100 TB the first pass reads ¼ the bytes of the
    // full-precision corpus and the codes live in memory where the floats
    // can't), the top 3k per query survive (BoundedTopK — map-side partial,
    // never a window), and only those ≤3k candidates pay the exact
    // full-precision rerank. All candidate arithmetic is int64-exact on
    // both engines, so the approximate pass selects the SAME candidate set
    // everywhere and the oracle compare is bitwise. Vectors whose
    // quantization collapses (maxabs = 0) drop on both sides.
    Q(
      "ss_topk_quant",
      s"""$FlatCte,
         |$QuantTopSql
         |SELECT q_id, n_id, cos, rnk FROM qtop ORDER BY q_id, rnk""".stripMargin) {
      (s, d) => topkQuant(s, d)
    },

    // Product-quantization (PQ/ADC) top-k — the memory-resident ANN tier
    // past SQ8: each vector compresses to 8 four-bit codes (4 bytes vs 256
    // for floats), scoring is table LOOKUPS (the ADC trick) instead of
    // arithmetic on components, and only the top-15 approximate candidates
    // per query pay the exact full-precision rerank. Codebooks are sampled
    // from the corpus (first 16 vectors, k-means-0 — the FAISS seeding
    // step without refinement, kept deterministic so the oracle can derive
    // the identical codebook). Encode/ADC arithmetic is int64-exact on
    // both engines → identical candidate sets → bitwise oracle compare.
    // At scale: the codebook (≤128 subvectors) broadcasts, encoding
    // partial-aggregates N×8×16 distances to N×8 code rows map-side, and
    // the candidate pass joins 4-byte codes against a 2048-row broadcast
    // lookup table — the corpus' float payload is touched only for ≤15
    // rerank rows per query.
    Q(
      "ss_topk_pq",
      s"""$FlatCte,
         |$PqTopSql
         |SELECT q_id, n_id, cos, rnk FROM pqtop ORDER BY q_id, rnk""".stripMargin) {
      (s, d) => topkPq(s, d)
    },

    // IVF-PQ top-k — the composition a billion-vector index actually runs
    // (FAISS IVFPQ): the IVF stage bounds WHICH vectors get scored (the
    // nprobe=2 posting lists, ~2/K of the corpus), the PQ stage bounds
    // WHAT scoring costs (ADC lookups on 4-byte codes instead of float
    // arithmetic), and only the composed top-15 pays the exact rerank.
    // Both stages reuse the measured building blocks (`ivfCand`,
    // `pqEncode`) and both oracles' CTE chains verbatim, so the compare
    // stays bitwise through the composition.
    Q(
      "ss_topk_ivfpq",
      s"""$FlatCte,
         |$IvfTopSql,
         |$PqTopSql,
         |$IvfPqSql
         |SELECT q_id, n_id, cos, rnk FROM vptop ORDER BY q_id, rnk""".stripMargin) {
      (s, d) => topkIvfPq(s, d)
    },

    // One Lloyd's (k-means) assignment step — the iteration a semantic-dedup
    // or IVF index build runs: centroid per current label (integer component
    // sums → floor-quantized mean), then every vector re-assigned to its
    // nearest centroid. All distances in exact int64 via
    // dist² = |q|² − 2·q·c + |c|² (int_dot on all three terms, codegen'd);
    // the K centroid arrays BROADCAST, so the corpus side stays a narrow
    // map + a min_by argmin aggregation — never a K×N shuffle of
    // embedding payloads, not even to rank them.
    Q(
      "ss_kmeans_assign",
      """WITH q AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000000.0) AS BIGINT)) AS qe
        |  FROM embeddings),
        |dim AS (SELECT label, generate_subscripts(qe, 1) AS d, unnest(qe) AS v FROM q),
        |cent0 AS (
        |  SELECT label, d, CAST(floor(CAST(sum(v) AS DOUBLE)/count(*)) AS BIGINT) AS c
        |  FROM dim GROUP BY label, d),
        |cent AS (SELECT label AS clabel, list(c ORDER BY d) AS ce FROM cent0 GROUP BY label),
        |pairs AS (
        |  SELECT q.vec_id, q.label, c.clabel,
        |    CAST(list_sum(list_transform(range(1, len(qe)+1),
        |      i -> (qe[i]-ce[i])*(qe[i]-ce[i]))) AS BIGINT) AS dist
        |  FROM q CROSS JOIN cent c),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rn
        |      FROM pairs)
        |SELECT vec_id, label, clabel AS assigned, dist, (clabel <> label) AS moved
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin) { (s, d) =>
      val q = T.embeddings(s, d)
        .select(col("vec_id"), col("label").cast(LongType).as("label"),
          quantArr("embedding").as("qe"))
        .withColumn("qq", normOf("qe"))
      val cent = q
        .select(col("label"), posexplode(col("qe")).as(Seq("d0", "v")))
        .groupBy(col("label"), col("d0"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .withColumn("c", floor(col("sv").cast(DoubleType) / col("n")).cast(LongType))
        .groupBy(col("label"))
        .agg(expr("transform(array_sort(collect_list(struct(d0, c))), x -> x.c)").as("ce"))
        .select(col("label").as("clabel"), col("ce"))
        .withColumn("cc", normOf("ce"))
      val pairs = q.crossJoin(broadcast(cent))
        .withColumn("dist", col("qq") - lit(2L) * dotOf("qe", "ce") + col("cc"))
      // argmin by min_by aggregation (tie-broken on clabel), not a window:
      // the N×K pair stream partial-aggregates to one row per vector before
      // the shuffle — K× less shuffle volume than ranking the pairs.
      pairs
        .groupBy(col("vec_id"), col("label"))
        .agg(min_by(struct(col("clabel"), col("dist")),
          struct(col("dist"), col("clabel"))).as("best"))
        .select(col("vec_id"), col("label"), col("best.clabel").as("assigned"),
          col("best.dist").as("dist"),
          (col("best.clabel") =!= col("label")).as("moved"))
        .orderBy(col("vec_id"))
    },

    // Centroid aggregation per label (the building block of IVF coarse
    // quantization): exact integer component sums, then double means — the
    // kind of vector agg a 100 TB IVF index build runs per partition list.
    // k-NN GRAPH build — top-3 approximate neighbors for EVERY corpus
    // vector (not a 16-query slice): the construction pass of graph-based
    // ANN (NSW/HNSW layer-0) and of SemDeDup-style pipelines that need a
    // neighbor list per item. Candidates come from the 4-table sign-LSH
    // union (per-table bucket-bounded fan-out, a shuffle join on
    // (table, bucket) — with BOTH sides corpus-sized nothing broadcasts,
    // unlike the query-slice variants), exact integer-cosine scoring, and
    // the BoundedTopK partial aggregation so the candidate stream collapses
    // to ≤3 entries per vector before the final shuffle. Isolated vectors
    // (empty candidate set) simply have no rows — the graph is sparse by
    // construction.
    //
    // The code width ADAPTS to the corpus: candidate volume per table is
    // ~N²/2^w, so a FIXED w turns quadratic as N grows (measured: 8-bit
    // codes were 56× wall at 32× the vectors). w = 8 + one bit per
    // doubling of N past 2048 (clamped to 16, i.e. ≥8 expected vectors
    // per bucket) keeps density — and wall — linear in N. The width rule
    // is pure INTEGER threshold comparisons, so both engines derive the
    // identical w from the identical count (a float log2 could flip a
    // bit at exact powers of two).
    Q(
      "ss_knn_graph",
      s"""$FlatCte,
         |$AdaptiveCodesSql,
         |$KnnGraphSqlCtes
         |SELECT q_id, n_id, cos, rnk FROM gtop WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
      knnGraph(s, d).filter(col("rnk") <= 3).orderBy(col("q_id"), col("rnk"))
    },

    // GRAPH SEARCH over the persisted k-NN graph (round 14; re-tuned
    // round 15) — the serving half of graph-based ANN that ss_knn_graph
    // only BUILT: an HNSW-style layer-0 greedy beam walk (GraphSeeds
    // global anchors + up to GraphSeeds per-query sign-LSH bucket-mate
    // entry points, beam GraphBeam, GraphHops hops, exact integer-cosine
    // rescoring at every hop, top-5 of the final beam). The oracle
    // unrolls the identical walk hop by hop; every knob is a shared
    // literal. See graphSearch's scaladoc for why this is the 100 TB
    // serving shape: per-hop work is beam·degree corpus LOOKUPS against
    // the persisted neighbor lists, never a corpus scan per query.
    Q(
      "ss_graph_search",
      s"""$FlatCte,
         |$AdaptiveCodesSql,
         |$KnnGraphSqlCtes,
         |$GraphSearchSqlCtes
         |SELECT q_id, n_id, cos, rnk FROM gsearch ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
      graphSearchFixed(s, d).orderBy(col("q_id"), col("rnk"))
    },

    // Recall@5 of the graph walk against exact brute-force truth — the
    // eval gating a graph-ANN deployment, beside the IVF/LSH/PQ panel of
    // ss_recall (same per-query rows, same truth definition). The row to
    // read: greedy graph search should sit at or above the IVF row here
    // (coarse cells vs actual neighbor structure).
    Q(
      "ss_graph_recall",
      s"""$FlatCte,
         |$AdaptiveCodesSql,
         |$KnnGraphSqlCtes,
         |$GraphSearchSqlCtes,
         |$BruteTopSql
         |SELECT b.q_id, count(g.n_id) AS n_hits,
         |  CAST(count(g.n_id) AS DOUBLE)/5.0 AS recall_at_5
         |FROM btop b LEFT JOIN gsearch g ON g.q_id = b.q_id AND g.n_id = b.n_id
         |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin) { (s, d) =>
      topkBrute(s, d).select(col("q_id"), col("n_id"))
        .join(graphSearchFixed(s, d).select(col("q_id"), col("n_id"))
          .withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("hit")).as("n_hits"))
        .select(col("q_id"), col("n_hits"),
          (col("n_hits").cast(DoubleType) / 5.0).as("recall_at_5"))
        .orderBy(col("q_id"))
    },

    // Batch-hard TRIPLET MINING (Hermans et al. 2017, "In Defense of the
    // Triplet Loss") — the training-data build step of an embedding-model
    // pipeline: vectors are dealt into ~256-vector training BATCHES by a
    // deterministic 60-bit hash (a reproducible stand-in for the epoch
    // shuffle — no RNG state, both engines derive the identical deal),
    // and each anchor mines WITHIN ITS BATCH the hardest POSITIVE (lowest
    // cosine among same-label batchmates — the example the model must
    // still pull close) and the hardest NEGATIVE (highest cosine among
    // different-label batchmates — the confusable one it must push away),
    // plus the active flag (negative within the 0.1 margin — the triplets
    // that actually produce gradient). Batch-LOCAL mining is the paper's
    // own semantics AND the scale bound: pair volume is
    // (N/256)·256² = 256·N — LINEAR in the corpus, where the corpus-wide
    // "hardest over the whole class" form is per-class-quadratic (the
    // round-12 first cut measured 48× wall at the 64× replica for exactly
    // that reason — replicas hold class count fixed). One equi-join on
    // the batch key, one conditional-aggregation pass: struct argmin for
    // the positive / argmax for the negative with deterministic (cos,
    // n_id) tie-breaks — never a window over the pair stream (a
    // per-anchor window would shuffle all of it to sort). Anchors whose
    // batch has no same-label (or no cross-label) member get NULL picks
    // and are never active.
    Q(
      "ss_triplet_mine",
      s"""$FlatCte,
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
         |nbat AS (SELECT CAST((count(*) + 255) // 256 AS BIGINT) AS n FROM embeddings),
         |bat AS (
         |  SELECT vec_id, label,
         |    CAST('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15) AS BIGINT) % nbat.n AS b
         |  FROM lab, nbat),
         |pr AS (
         |  SELECT a.vec_id AS anchor, a.label AS la, c.vec_id AS n_id, c.label AS lb
         |  FROM bat a JOIN bat c ON a.b = c.b AND a.vec_id <> c.vec_id),
         |pd AS (
         |  SELECT p.anchor, p.n_id, p.la, p.lb, sum(fa.v*fb.v) AS dot
         |  FROM pr p JOIN flat fa ON fa.vec_id = p.anchor
         |  JOIN flat fb ON fb.vec_id = p.n_id AND fb.i = fa.i
         |  GROUP BY 1, 2, 3, 4),
         |sc AS (
         |  SELECT anchor, n_id, la, lb, ${cosSql("dot", "na.nrm", "nb2.nrm")} AS cos
         |  FROM pd JOIN norms na ON na.vec_id = anchor
         |  JOIN norms nb2 ON nb2.vec_id = n_id),
         |ppick AS (
         |  SELECT anchor, n_id AS pos_id, cos AS pos_cos FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor
         |      ORDER BY cos, n_id) AS rn FROM sc WHERE la = lb) WHERE rn = 1),
         |npick AS (
         |  SELECT anchor, n_id AS neg_id, cos AS neg_cos FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor
         |      ORDER BY cos DESC, n_id) AS rn FROM sc WHERE la <> lb) WHERE rn = 1)
         |SELECT l.vec_id AS anchor, pk.pos_id, pk.pos_cos, nk.neg_id, nk.neg_cos,
         |  coalesce(nk.neg_cos > pk.pos_cos - 0.1, FALSE) AS active
         |FROM lab l LEFT JOIN ppick pk ON pk.anchor = l.vec_id
         |LEFT JOIN npick nk ON nk.anchor = l.vec_id
         |ORDER BY anchor""".stripMargin) { (s, d) =>
      val e = quantized(s, d, withBucket = false)
        .select(col("vec_id"), col("label").cast(LongType).as("label"),
          col("qarr"), col("nrm"))
      // batch count from one bounded count job (a mining run knows its
      // corpus size); sid60 % nbat is non-negative so % == pmod
      val nbat = (T.embeddings(s, d).count() + 255L) / 256L
      val bat = e.withColumn("b",
        QualityOps.sid60(col("vec_id").cast(StringType)) % nbat)
      val a = bat.select(col("b"), col("vec_id").as("anchor"),
        col("label").as("la"), col("qarr").as("qa"), col("nrm").as("na"))
      val c = bat.select(col("b"), col("vec_id").as("n_id"),
        col("label").as("lb"), col("qarr").as("qb"), col("nrm").as("nb2"))
      val sc = a.join(c, Seq("b")).filter(col("anchor") =!= col("n_id"))
        .select(col("anchor"), col("n_id"), col("la"), col("lb"),
          cosFrom(dotOf("qa", "qb"), col("na"), col("nb2")).as("cos"))
      // ONE conditional-aggregation pass over the batch-local pair stream:
      // min struct (cos, n_id) over same-label rows = the oracle's
      // ROW_NUMBER(ORDER BY cos, n_id)=1; max struct (cos, -n_id) over
      // cross-label rows = ROW_NUMBER(ORDER BY cos DESC, n_id)=1 (ids are
      // non-negative, so -id max = id min among cosine ties). min/max
      // skip the null branch of the CASE, and both collapse map-side.
      val picks = sc.groupBy(col("anchor")).agg(
        min(when(col("la") === col("lb"),
          struct(col("cos"), col("n_id")))).as("p"),
        max(when(col("la") =!= col("lb"),
          struct(col("cos"), (-col("n_id")).as("nneg")))).as("q"))
        .select(col("anchor"),
          col("p.n_id").as("pos_id"), col("p.cos").as("pos_cos"),
          (-col("q.nneg")).as("neg_id"), col("q.cos").as("neg_cos"))
      e.select(col("vec_id").as("anchor"))
        .join(picks, Seq("anchor"), "left")
        .select(col("anchor"), col("pos_id"), col("pos_cos"),
          col("neg_id"), col("neg_cos"),
          coalesce(col("neg_cos") > col("pos_cos") - 0.1, lit(false)).as("active"))
        .orderBy(col("anchor"))
    },

    // SEMANTIC dedup (the SemDeDup shape, Abbas et al. 2023): duplicates
    // are found only WITHIN a cluster — here the embeddings' precomputed
    // `label` partition (in production, the k-means assignment
    // ss_kmeans_assign computes) — so the candidate space is the sum of
    // per-cluster pair counts, never corpus², and the self-join shuffles
    // on the cluster key (cluster count grows with the corpus at scale,
    // so the key is not low-cardinality in production; the 10-label
    // testdata is the miniature). Within a cluster, a vector drops iff a
    // LOWER-id vector sits within the cosine threshold — keep-min-id, the
    // same deterministic convention as exact dedup's min-winner. The
    // threshold (0.4) is calibrated to the synthetic corpus's similarity
    // scale (near-orthogonal embeddings: within-label cosines top out
    // ~0.51); a real embedding corpus runs the same plan at ~0.95. Exact
    // integer quantized cosine (the shared cosFrom/cosSql definition), so
    // the drop set is bitwise identical on both engines.
    Q(
      "dd_semantic",
      s"""WITH $SemanticPairsSqlCtes,
         |hits AS (
         |  SELECT vec_b AS vec_id, min(vec_a) AS kept_match
         |  FROM ep GROUP BY vec_b)
         |SELECT en.vec_id, CAST(en.label AS BIGINT) AS label,
         |  (h.vec_id IS NOT NULL) AS is_dropped, h.kept_match
         |FROM en LEFT JOIN hits h ON en.vec_id = h.vec_id
         |ORDER BY en.vec_id""".stripMargin) { (s, d) =>
      // keep-min winner via partial-agged min, not a window over pairs
      val hits = semanticPairs(s, d)
        .groupBy(col("vec_b").as("vec_id"))
        .agg(min(col("vec_a")).as("kept_match"))
      semBase(s, d).select(col("vec_id"), col("label"))
        .join(hits, Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"),
          col("kept_match").isNotNull.as("is_dropped"), col("kept_match"))
        .orderBy(col("vec_id"))
    },

    Q(
      "ss_centroids",
      """SELECT label, n,
        |  CAST(sv AS DOUBLE)/n AS mean_q_dim0
        |FROM (
        |  SELECT label, count(*) AS n,
        |    sum(CAST(floor(CAST(embedding[1] AS DOUBLE)*10000000.0) AS BIGINT)) AS sv
        |  FROM embeddings GROUP BY label)
        |ORDER BY label""".stripMargin) { (s, d) =>
      T.embeddings(s, d)
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("floor(cast(element_at(embedding, 1) as double) * 10000000.0D)")).as("sv"))
        .select(col("label").cast(LongType).as("label"), col("n"),
          (col("sv").cast(DoubleType) / col("n")).as("mean_q_dim0"))
        .orderBy(col("label"))
    },

    // Distributed PCA by INTEGER-EXACT power-by-squaring (round 12): the
    // dimensionality-reduction step of embedding curation pipelines
    // (whitening before SemDeDup-style pruning, visualization axes, OPQ's
    // rotation seed). Three stages, each scale-correct: (1) the 64×64 Gram
    // matrix via ONE map-side-combinable aggregation — per row a codegen'd
    // explode of the 2080 upper-triangle products, hash-aggregated onto
    // 2080 keys before the shuffle, accumulated in DECIMAL(38,0) so the
    // corpus-sum never hits the int64 ceiling (see pcaComponent); (2) a
    // bounded 2080-cell collect + 12 driver-side matrix squarings
    // (effective Gram power 4096 — machine-exact dominance on this
    // near-isotropic corpus where plain power iteration needs hundreds of
    // rounds), all in fixed-point Long arithmetic with the shared
    // sign·(|x|·10^6 div m) rescale so both engines derive the IDENTICAL
    // component bit for bit; (3) per-vector projection onto the component
    // as a literal-array integer dot — a narrow codegen'd map, no join, no
    // shuffle. The oracle replays the whole pipeline — Gram in HUGEINT, the
    // same 12 squarings in a recursive CTE carrying the flattened matrix as
    // a single 4096-list row, same rescale, same sign canonicalization —
    // and must reproduce every projection exactly. N-dependence: one scan +
    // one 2080-key shuffle + one scan; the driver work is N-independent.
    Q(
      "ss_pca_power",
      s"""WITH RECURSIVE
         |ppq AS (SELECT vec_id, label,
         |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000.0) AS BIGINT)) AS q
         |  FROM embeddings),
         |pcells AS (
         |  SELECT i, j, CAST(SUM(q[CAST(i AS INTEGER)]*q[CAST(j AS INTEGER)]) AS HUGEINT) AS g
         |  FROM ppq, (SELECT unnest(range(1,65)) AS i), (SELECT unnest(range(1,65)) AS j)
         |  WHERE i <= j GROUP BY i, j),
         |pgfull AS (SELECT i, j, g FROM pcells UNION ALL SELECT j, i, g FROM pcells WHERE i < j),
         |pgmax AS (SELECT max(abs(g)) AS m FROM pgfull),
         |pg0 AS (SELECT list(CAST(CASE WHEN g < 0 THEN -((-g)*$PcaScale // m)
         |                              ELSE (g*$PcaScale) // m END AS BIGINT)
         |                    ORDER BY i, j) AS bl
         |        FROM pgfull, pgmax),
         |psq(k, bl) AS (
         |  SELECT 0, bl FROM pg0
         |  UNION ALL
         |  SELECT k+1,
         |    list_transform(b2, x -> CAST(CASE WHEN x < 0 THEN -((-x)*$PcaScale // m)
         |                                      ELSE (x*$PcaScale) // m END AS BIGINT))
         |  FROM (
         |    SELECT k, b2, list_max(list_transform(b2, x -> abs(x))) AS m
         |    FROM (
         |      SELECT k, list_transform(range(0, 4096),
         |        p -> CAST(list_sum(list_transform(range(1,65),
         |               kk -> bl[CAST((p//64)*64+kk AS INTEGER)]
         |                   * bl[CAST((kk-1)*64 + (p%64) + 1 AS INTEGER)]))
         |             AS BIGINT)) AS b2
         |      FROM psq WHERE k < $PcaSquarings))
         |),
         |pvraw AS (
         |  SELECT list_transform(range(1,65),
         |    i -> CAST(list_sum(list_transform(range(1,65),
         |           j -> bl[CAST((i-1)*64+j AS INTEGER)])) AS BIGINT)) AS v
         |  FROM psq WHERE k = $PcaSquarings),
         |pvsc AS (
         |  SELECT list_transform(v, x -> CAST(CASE WHEN x < 0 THEN -((-x)*$PcaScale // m)
         |                                          ELSE (x*$PcaScale) // m END AS BIGINT)) AS v
         |  FROM (SELECT v, list_max(list_transform(v, x -> abs(x))) AS m FROM pvraw)),
         |pfin AS (
         |  SELECT CASE WHEN v[list_position(list_transform(v, x -> abs(x)),
         |                    list_max(list_transform(v, x -> abs(x))))] < 0
         |         THEN list_transform(v, x -> -x) ELSE v END AS vc
         |  FROM pvsc)
         |SELECT p.vec_id, p.label,
         |  CAST(list_sum(list_transform(range(1,65),
         |    i -> p.q[CAST(i AS INTEGER)]*vc[CAST(i AS INTEGER)])) AS BIGINT) AS pc1
         |FROM ppq p, pfin ORDER BY p.vec_id""".stripMargin) { (s, d) =>
      val v = pcaComponent(s, d)
      val vlit = v.map(_.toString + "L").mkString(",")
      T.embeddings(s, d)
        .select(col("vec_id"), col("label").cast(LongType).as("label"),
          expr("transform(embedding, x -> cast(floor(cast(x as double)*10000.0D) as bigint))")
            .as("q"))
        .select(col("vec_id"), col("label"),
          toCol(IntDotExpr(toExpr(expr("q")), toExpr(expr(s"array($vlit)")))).as("pc1"))
        .orderBy(col("vec_id"))
    },

    // TWO-component PCA (round 12) — the 2-D corpus map (visualization
    // axes, the first two dims of a whitening basis): v2 comes from
    // integer DEFLATION of the rescaled Gram — D = B·(v1ᵀv1) − (B·v1)·v1ᵀ
    // annihilates v1's direction EXACTLY in integer arithmetic (D·v1 = 0,
    // no epsilon — see pcaPair), then the same 12-squaring extraction runs
    // on D. Deflation products reach ~6.4·10^19, so that one step runs in
    // BigInt (driver) / HUGEINT (oracle) before rescaling back to ≤10^6
    // Longs; everything else is the ss_pca_power machinery, and this is
    // the path to any k (deflate again). Measured: |⟨v2, v2_true⟩| = 1.0,
    // |⟨v1, v2⟩| ≤ 3·10^-6 at sf0.01/sf0.1. Same distribution shape: the
    // Gram job is SHARED with ss_pca_power via the memoized pcaPair, the
    // extra work is all N-independent driver math, and the projection is
    // one narrow two-dot codegen'd map.
    Q(
      "ss_pca2",
      s"""WITH RECURSIVE
         |zq AS (SELECT vec_id, label,
         |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000.0) AS BIGINT)) AS q
         |  FROM embeddings),
         |zc AS (
         |  SELECT i, j, CAST(SUM(q[CAST(i AS INTEGER)]*q[CAST(j AS INTEGER)]) AS HUGEINT) AS g
         |  FROM zq, (SELECT unnest(range(1,65)) AS i), (SELECT unnest(range(1,65)) AS j)
         |  WHERE i <= j GROUP BY i, j),
         |zf AS (SELECT i, j, g FROM zc UNION ALL SELECT j, i, g FROM zc WHERE i < j),
         |zm AS (SELECT max(abs(g)) AS m FROM zf),
         |z0 AS (SELECT list(CAST(CASE WHEN g < 0 THEN -((-g)*$PcaScale // m)
         |                             ELSE (g*$PcaScale) // m END AS BIGINT) ORDER BY i, j) AS bl
         |       FROM zf, zm),
         |${pcaSquareSql("zs", "z0")},
         |${pcaVecSql("zs", "zv", "zn", "z1")},
         |zd AS (
         |  SELECT list_transform(range(0,4096), p ->
         |      CAST(z0.bl[CAST(p+1 AS INTEGER)] AS HUGEINT)
         |        * CAST(list_sum(list_transform(z1.vc, x -> x*x)) AS HUGEINT)
         |      - CAST(list_sum(list_transform(range(1,65),
         |            j -> z0.bl[CAST((p//64)*64+j AS INTEGER)] * z1.vc[CAST(j AS INTEGER)])) AS HUGEINT)
         |        * CAST(z1.vc[CAST(p%64+1 AS INTEGER)] AS HUGEINT)) AS dl
         |  FROM z0, z1),
         |z2 AS (SELECT list_transform(dl, x -> CAST(CASE WHEN x < 0 THEN -((-x)*$PcaScale // m)
         |                                               ELSE (x*$PcaScale) // m END AS BIGINT)) AS bl
         |       FROM zd, (SELECT list_max(list_transform(dl, x -> abs(x))) AS m FROM zd)),
         |${pcaSquareSql("zs2", "z2")},
         |${pcaVecSql("zs2", "zw", "zo", "zz")}
         |SELECT p.vec_id, p.label,
         |  CAST(list_sum(list_transform(range(1,65),
         |    i -> p.q[CAST(i AS INTEGER)]*c1.vc[CAST(i AS INTEGER)])) AS BIGINT) AS pc1,
         |  CAST(list_sum(list_transform(range(1,65),
         |    i -> p.q[CAST(i AS INTEGER)]*c2.vc[CAST(i AS INTEGER)])) AS BIGINT) AS pc2
         |FROM zq p, z1 c1, zz c2 ORDER BY p.vec_id""".stripMargin) { (s, d) =>
      val (v1, v2) = pcaPair(s, d)
      val v1lit = v1.map(_.toString + "L").mkString(",")
      val v2lit = v2.map(_.toString + "L").mkString(",")
      T.embeddings(s, d)
        .select(col("vec_id"), col("label").cast(LongType).as("label"),
          expr("transform(embedding, x -> cast(floor(cast(x as double)*10000.0D) as bigint))")
            .as("q"))
        .select(col("vec_id"), col("label"),
          toCol(IntDotExpr(toExpr(expr("q")), toExpr(expr(s"array($v1lit)")))).as("pc1"),
          toCol(IntDotExpr(toExpr(expr("q")), toExpr(expr(s"array($v2lit)")))).as("pc2"))
        .orderBy(col("vec_id"))
    },

    // k-component PCA (round 13) — ss_pca2's "deflate again" promise made
    // code: the top PcaK = 4 components by REPEATED exact integer deflation
    // over the one shared Gram (pcaTopK). The oracle replays the FULL
    // recursion — four 12-squaring extractions chained by three HUGEINT
    // deflations (pcaDeflateSql), each the exact SQL mirror of the driver
    // step — so a hash match proves the whole k-chain bit-identical across
    // engines. Distribution shape unchanged from ss_pca_power: ONE
    // 2080-cell DECIMAL(38,0) Gram job (shared via the memo), k × 12 × 64³
    // N-independent driver multiplies, then one narrow four-dot codegen'd
    // projection. PcaSpec pins pairwise orthogonality and Rayleigh
    // ordering of all four.
    Q(
      "ss_pca_k",
      s"""WITH RECURSIVE
         |kq AS (SELECT vec_id, label,
         |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000.0) AS BIGINT)) AS q
         |  FROM embeddings),
         |kc AS (
         |  SELECT i, j, CAST(SUM(q[CAST(i AS INTEGER)]*q[CAST(j AS INTEGER)]) AS HUGEINT) AS g
         |  FROM kq, (SELECT unnest(range(1,65)) AS i), (SELECT unnest(range(1,65)) AS j)
         |  WHERE i <= j GROUP BY i, j),
         |kf AS (SELECT i, j, g FROM kc UNION ALL SELECT j, i, g FROM kc WHERE i < j),
         |km AS (SELECT max(abs(g)) AS m FROM kf),
         |k0 AS (SELECT list(CAST(CASE WHEN g < 0 THEN -((-g)*$PcaScale // m)
         |                             ELSE (g*$PcaScale) // m END AS BIGINT) ORDER BY i, j) AS bl
         |       FROM kf, km),
         |${pcaSquareSql("ks1", "k0")},
         |${pcaVecSql("ks1", "kv1", "kn1", "ke1")},
         |${pcaDeflateSql("k0", "ke1", "kd2", "km2")},
         |${pcaSquareSql("ks2", "km2")},
         |${pcaVecSql("ks2", "kv2", "kn2", "ke2")},
         |${pcaDeflateSql("km2", "ke2", "kd3", "km3")},
         |${pcaSquareSql("ks3", "km3")},
         |${pcaVecSql("ks3", "kv3", "kn3", "ke3")},
         |${pcaDeflateSql("km3", "ke3", "kd4", "km4")},
         |${pcaSquareSql("ks4", "km4")},
         |${pcaVecSql("ks4", "kv4", "kn4", "ke4")}
         |SELECT p.vec_id, p.label,
         |  CAST(list_sum(list_transform(range(1,65),
         |    i -> p.q[CAST(i AS INTEGER)]*c1.vc[CAST(i AS INTEGER)])) AS BIGINT) AS pc1,
         |  CAST(list_sum(list_transform(range(1,65),
         |    i -> p.q[CAST(i AS INTEGER)]*c2.vc[CAST(i AS INTEGER)])) AS BIGINT) AS pc2,
         |  CAST(list_sum(list_transform(range(1,65),
         |    i -> p.q[CAST(i AS INTEGER)]*c3.vc[CAST(i AS INTEGER)])) AS BIGINT) AS pc3,
         |  CAST(list_sum(list_transform(range(1,65),
         |    i -> p.q[CAST(i AS INTEGER)]*c4.vc[CAST(i AS INTEGER)])) AS BIGINT) AS pc4
         |FROM kq p, ke1 c1, ke2 c2, ke3 c3, ke4 c4 ORDER BY p.vec_id""".stripMargin) { (s, d) =>
      val vs = pcaTopK(s, d)
      def lit(v: Array[Long]) = s"array(${v.map(_.toString + "L").mkString(",")})"
      T.embeddings(s, d)
        .select(col("vec_id"), col("label").cast(LongType).as("label"),
          expr("transform(embedding, x -> cast(floor(cast(x as double)*10000.0D) as bigint))")
            .as("q"))
        .select(col("vec_id") +: col("label") +:
          vs.zipWithIndex.map { case (v, i) =>
            toCol(IntDotExpr(toExpr(expr("q")), toExpr(expr(lit(v))))).as(s"pc${i + 1}")
          }: _*)
        .orderBy(col("vec_id"))
    },

    // Margin-based BITEXT MINING (Artetxe & Schwenk 2019, "Margin-based
    // Parallel Corpus Mining with Multilingual Sentence Embeddings" — the
    // CCMatrix/CCAligned build step): mine aligned pairs between two
    // corpus halves (here the even/odd vec_id split standing in for the
    // two language shards) by the RATIO margin — cos(x,y) normalized by
    // the mean similarity of each side's k-NN neighborhood, so a pair
    // only mines when it stands out from BOTH sides' local similarity
    // floor — plus mutual-best-match. Scale shape: candidates come from
    // the adaptive multi-table sign codes (the ss_knn_graph generator —
    // bucket-bounded fan-out, never corpus²); the k-NN means are computed
    // over that same candidate graph (the production approximation — an
    // exact-kNN margin would need the full cross product); per-side top-4
    // survives via BoundedTopK partial aggregation, so each agg's shuffle
    // is ≤4 entries per key; mutual-best is two max_by aggs + one keyed
    // join. Determinism: si = floor((cos+1)·10^12) shifts the cosine
    // non-negative so every division is non-negative-integer div (both
    // engines truncate identically); BoundedTopK's (ord, id) lexicographic
    // order and the (margin DESC, id ASC) argmax tie-breaks are pinned on
    // both engines. Margin is scaled ×10^6; mined iff ≥ 1.05.
    Q(
      "ss_bitext_mine",
      s"""$FlatCte,
         |$AdaptiveCodesSql,
         |xcand AS (
         |  SELECT DISTINCT s.vec_id AS src_id, c.vec_id AS tgt_id
         |  FROM mb s JOIN mb c ON s.t = c.t AND s.bucket = c.bucket
         |  WHERE s.vec_id % 2 = 0 AND c.vec_id % 2 = 1),
         |xdots AS (
         |  SELECT x.src_id, x.tgt_id, sum(a.v*b.v) AS dot
         |  FROM xcand x JOIN flat a ON a.vec_id = x.src_id
         |  JOIN flat b ON b.vec_id = x.tgt_id AND b.i = a.i
         |  GROUP BY 1, 2),
         |xsc AS (
         |  SELECT src_id, tgt_id,
         |    CAST(floor((${cosSql("dot", "nq.nrm", "nc.nrm")} + 1.0)*1000000000000.0) AS BIGINT) AS si
         |  FROM xdots JOIN norms nq ON nq.vec_id = src_id
         |  JOIN norms nc ON nc.vec_id = tgt_id),
         |savg AS (
         |  SELECT src_id, CAST(sum(si) // count(*) AS BIGINT) AS av FROM (
         |    SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY si DESC, tgt_id) AS rn
         |    FROM xsc)
         |  WHERE rn <= 4 GROUP BY src_id),
         |tavg AS (
         |  SELECT tgt_id, CAST(sum(si) // count(*) AS BIGINT) AS av FROM (
         |    SELECT *, row_number() OVER (PARTITION BY tgt_id ORDER BY si DESC, src_id) AS rn
         |    FROM xsc)
         |  WHERE rn <= 4 GROUP BY tgt_id),
         |marg AS (
         |  SELECT x.src_id, x.tgt_id, (x.si * 2000000) // greatest(sa.av + ta.av, 1) AS margin
         |  FROM xsc x JOIN savg sa USING (src_id) JOIN tavg ta USING (tgt_id)),
         |bs AS (SELECT src_id, tgt_id, margin,
         |         row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rs
         |       FROM marg),
         |bt AS (SELECT src_id, tgt_id,
         |         row_number() OVER (PARTITION BY tgt_id ORDER BY margin DESC, src_id) AS rt
         |       FROM marg)
         |SELECT b.src_id, b.tgt_id, b.margin
         |FROM bs b JOIN bt t ON b.src_id = t.src_id AND b.tgt_id = t.tgt_id
         |WHERE b.rs = 1 AND t.rt = 1 AND b.margin >= 1050000
         |ORDER BY b.src_id""".stripMargin) { (s, d) =>
      val emb = quantized(s, d, withBucket = false)
      val codes = adaptiveSignCodes(s, d)
      val cand = codes.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("src_id"), col("t"), col("bucket"))
        .join(codes.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("tgt_id"), col("t"), col("bucket")),
          Seq("t", "bucket"))
        .select(col("src_id"), col("tgt_id"))
        .dropDuplicates(Seq("src_id", "tgt_id"))
      val payload = emb.select(col("vec_id"), col("qarr"), col("nrm"))
      val si = cand
        .join(payload.select(col("vec_id").as("tgt_id"),
          col("qarr"), col("nrm").as("nc")), Seq("tgt_id"))
        .join(payload.select(col("vec_id").as("src_id"),
          col("qarr").as("q_qarr"), col("nrm").as("nq")), Seq("src_id"))
        .select(col("src_id"), col("tgt_id"),
          dotOf("q_qarr", "qarr").as("dot"), col("nq"), col("nc"))
        .select(col("src_id"), col("tgt_id"),
          floor((cosFrom(col("dot"), col("nq"), col("nc")) + lit(1.0))
            * lit(1000000000000.0)).cast(LongType).as("si"))
        // one pair stream, four consumers (two avg aggs, margin, argmaxes)
        .localCheckpoint(eager = true)
      val top4 = udaf(BoundedTopK[Long](4))
      def sideAvg(key: String, partner: String): DataFrame =
        si.groupBy(col(key))
          .agg(top4(-col("si"), col(partner)).as("top"))
          .select(col(key),
            expr("aggregate(top, 0L, (acc, x) -> acc - x._1) div size(top)").as("av"))
      // shuffle_hash pins: the per-side neighborhood tables are CORPUS-keyed
      // (one row per src/tgt id) — at scale they must never broadcast, and
      // at tiny SF the un-hinted plan sat exactly on the AQE broadcast
      // threshold, flipping broadcast↔shuffle between identical runs (the
      // one nondeterministic row in the r13 plan audit). The hint makes the
      // plan BOTH deterministic and the 100 TB shape.
      val marg = si
        .join(sideAvg("src_id", "tgt_id").withColumnRenamed("av", "sa")
          .hint("shuffle_hash"), Seq("src_id"))
        .join(sideAvg("tgt_id", "src_id").withColumnRenamed("av", "ta")
          .hint("shuffle_hash"), Seq("tgt_id"))
        .select(col("src_id"), col("tgt_id"),
          // greatest(..,1): si is cos+1 scaled (≥0), so a degenerate all-zero
          // neighborhood yields margin 0 on both engines instead of NULL-vs-error
          expr("(si * 2000000) div greatest(sa + ta, 1L)").as("margin"))
      val bestS = marg.groupBy(col("src_id"))
        .agg(min_by(struct(col("tgt_id"), col("margin")),
          struct(-col("margin"), col("tgt_id"))).as("b"))
        .select(col("src_id"), col("b.tgt_id").as("tgt_id"), col("b.margin").as("margin"))
      val bestT = marg.groupBy(col("tgt_id"))
        .agg(min_by(struct(col("src_id")), struct(-col("margin"), col("src_id"))).as("b"))
        .select(col("tgt_id"), col("b.src_id").as("src_id"))
      bestS.join(bestT, Seq("src_id", "tgt_id"))
        .filter(col("margin") >= 1050000L)
        .select(col("src_id"), col("tgt_id"), col("margin"))
        .orderBy(col("src_id"))
    },

    // Embedding distribution DRIFT monitor (round 12) — the snapshot-over-
    // snapshot health check an embedding pipeline runs before trusting a
    // refreshed corpus (encoder regressed? upstream distribution moved?):
    // split old (vec_id below the 90% cut — the incremental-dedup family's
    // deterministic cut) vs new, compare each label's centroid across the
    // halves, and scale the squared centroid shift by the OLD half's mean
    // within-label scatter so the ratio is unit-free (ratio_ppm ≈ 10^6
    // means the centroid moved as far as a typical member sits from it —
    // loud drift; a healthy refresh sits orders below). Exact integers
    // end to end: 10^4 quantization, ss_kmeans_assign's floored-mean
    // centroids, dist² sums, non-negative integer divisions. Labels
    // absent from either half produce no row (inner join — a vanished
    // label IS drift, caught by the row-count change). Plan: two grouped
    // passes + a 10-row join; no shuffle grows with the corpus.
    Q(
      "ss_centroid_drift",
      """WITH dq AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000.0) AS BIGINT)) AS q,
        |    vec_id >= (SELECT (max(vec_id)*9)//10 FROM embeddings) AS is_new
        |  FROM embeddings),
        |dcent AS (
        |  SELECT label, is_new, i, CAST(floor(CAST(sum(v) AS DOUBLE)/count(*)) AS BIGINT) AS c,
        |    count(*) AS n
        |  FROM (SELECT label, is_new, generate_subscripts(q, 1) AS i, unnest(q) AS v FROM dq)
        |  GROUP BY label, is_new, i),
        |dcl AS (SELECT label, is_new, max(n) AS n, list(c ORDER BY i) AS ce
        |        FROM dcent GROUP BY label, is_new),
        |drift AS (
        |  SELECT o.label, o.n AS n_old, w.n AS n_new,
        |    CAST(list_sum(list_transform(range(1,65),
        |      i -> (o.ce[CAST(i AS INTEGER)] - w.ce[CAST(i AS INTEGER)])
        |         * (o.ce[CAST(i AS INTEGER)] - w.ce[CAST(i AS INTEGER)]))) AS BIGINT) AS drift2
        |  FROM dcl o JOIN dcl w ON o.label = w.label AND NOT o.is_new AND w.is_new),
        |scat AS (
        |  SELECT d.label, CAST(sum(CAST(list_sum(list_transform(range(1,65),
        |      i -> (d.q[CAST(i AS INTEGER)] - l.ce[CAST(i AS INTEGER)])
        |         * (d.q[CAST(i AS INTEGER)] - l.ce[CAST(i AS INTEGER)]))) AS BIGINT))
        |    // count(*) AS BIGINT) AS mean2
        |  FROM dq d JOIN dcl l ON l.label = d.label AND NOT l.is_new
        |  WHERE NOT d.is_new GROUP BY d.label)
        |SELECT dr.label, dr.n_old, dr.n_new, dr.drift2,
        |  CAST((dr.drift2 * 1000000) // greatest(s.mean2, 1) AS BIGINT) AS ratio_ppm
        |FROM drift dr JOIN scat s USING (label)
        |ORDER BY dr.label""".stripMargin) { (s, d) =>
      val cut = T.embeddings(s, d).agg(expr("(max(vec_id)*9) div 10").as("cutv"))
      val dq = T.embeddings(s, d)
        .crossJoin(broadcast(cut))
        .select(col("vec_id"), col("label").cast(LongType).as("label"),
          expr("transform(embedding, x -> cast(floor(cast(x as double)*10000.0D) as bigint))")
            .as("q"),
          (col("vec_id") >= col("cutv")).as("is_new"))
        .localCheckpoint(eager = true) // two consumers: centroids + scatter
      val cent = dq
        .select(col("label"), col("is_new"), posexplode(col("q")).as(Seq("i0", "v")))
        .groupBy(col("label"), col("is_new"), col("i0"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .withColumn("c", floor(col("sv").cast(DoubleType) / col("n")).cast(LongType))
        .groupBy(col("label"), col("is_new"))
        .agg(max(col("n")).as("n"),
          expr("transform(array_sort(collect_list(struct(i0, c))), x -> x.c)").as("ce"))
      val old = cent.filter(!col("is_new"))
        .select(col("label"), col("n").as("n_old"), col("ce").as("ceo"))
      val nw = cent.filter(col("is_new"))
        .select(col("label"), col("n").as("n_new"), col("ce").as("cen"))
      val drift = old.join(nw, Seq("label"))
        .select(col("label"), col("n_old"), col("n_new"), col("ceo"),
          expr("aggregate(zip_with(ceo, cen, (a, b) -> (a-b)*(a-b)), 0L, (acc, x) -> acc + x)")
            .as("drift2"))
      val scat = dq.filter(!col("is_new"))
        .join(broadcast(old.select(col("label"), col("ceo"))), Seq("label"))
        .select(col("label"),
          expr("aggregate(zip_with(q, ceo, (a, b) -> (a-b)*(a-b)), 0L, (acc, x) -> acc + x)")
            .as("d2"))
        .groupBy(col("label"))
        .agg(expr("sum(d2) div count(*)").as("mean2"))
      // greatest(mean2,1) on BOTH engines: a label whose old half is all
      // exactly at its centroid has mean2 = 0 — Spark div would yield NULL
      // while DuckDB // raises; the guard defines the degenerate case.
      drift.join(broadcast(scat), Seq("label"))
        .select(col("label"), col("n_old"), col("n_new"), col("drift2"),
          expr("(drift2 * 1000000) div greatest(mean2, 1L)").as("ratio_ppm"))
        .orderBy(col("label"))
    },

    // Embedding OUTLIER flag (round 12) — the curation signal the text
    // quality suite has no analog for: vectors far from their own label's
    // centroid are mislabeled/noisy/adversarial candidates (the embedding
    // leg of "remove the weird tail before training"). Exact integer
    // pipeline: 10^4-quantized components (the PCA quantization — squared
    // distances stay ≤ ~10^12, so per-label SUMS hold to ~10^6 rows per
    // label in int64; the DECIMAL(38,0) discipline documents the 100 TB
    // path), centroid = floor(component mean) exactly as ss_kmeans_assign
    // builds it, dist² = qq − 2·q·c + cc ≥ 0 in int64, and the flag
    // compares against the label MEAN dist² (2.5× rule): a threshold from
    // one agg + one broadcast join — never a per-label rank window (10
    // labels = 10 window tasks at any corpus size — the w1_top1_per_key
    // skew trap this operator deliberately avoids). ratio_ppm carries the
    // continuous score for downstream cutoffs.
    Q(
      "ss_outlier_flag",
      """WITH oq AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000.0) AS BIGINT)) AS q
        |  FROM embeddings),
        |ocent AS (
        |  SELECT label, i, CAST(floor(CAST(sum(v) AS DOUBLE)/count(*)) AS BIGINT) AS c
        |  FROM (SELECT label, generate_subscripts(q, 1) AS i, unnest(q) AS v FROM oq)
        |  GROUP BY label, i),
        |ocl AS (SELECT label, list(c ORDER BY i) AS ce FROM ocent GROUP BY label),
        |od AS (
        |  SELECT o.vec_id, o.label,
        |    CAST(list_sum(list_transform(range(1,65),
        |      i -> (o.q[CAST(i AS INTEGER)] - l.ce[CAST(i AS INTEGER)])
        |         * (o.q[CAST(i AS INTEGER)] - l.ce[CAST(i AS INTEGER)]))) AS BIGINT) AS dist2
        |  FROM oq o JOIN ocl l USING (label)),
        |om AS (SELECT label, CAST(sum(dist2) // count(*) AS BIGINT) AS mean2 FROM od GROUP BY label)
        |SELECT d.vec_id, d.label, d.dist2,
        |  CAST((d.dist2 * 1000000) // greatest(m.mean2, 1) AS BIGINT) AS ratio_ppm,
        |  (d.dist2 * 2 > m.mean2 * 5) AS is_outlier
        |FROM od d JOIN om m USING (label)
        |ORDER BY d.vec_id""".stripMargin) { (s, d) =>
      val q = T.embeddings(s, d)
        .select(col("vec_id"), col("label").cast(LongType).as("label"),
          expr("transform(embedding, x -> cast(floor(cast(x as double)*10000.0D) as bigint))")
            .as("q"))
      val cent = q
        .select(col("label"), posexplode(col("q")).as(Seq("i0", "v")))
        .groupBy(col("label"), col("i0"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .withColumn("c", floor(col("sv").cast(DoubleType) / col("n")).cast(LongType))
        .groupBy(col("label"))
        .agg(expr("transform(array_sort(collect_list(struct(i0, c))), x -> x.c)").as("ce"))
        .withColumn("cc", normOf("ce"))
      val od = q.join(broadcast(cent), Seq("label"))
        .select(col("vec_id"), col("label"),
          (toCol(IntDotExpr(toExpr(expr("q")), toExpr(expr("q"))))
            - lit(2L) * dotOf("q", "ce") + col("cc")).as("dist2"))
      val om = od.groupBy(col("label")).agg(expr("sum(dist2) div count(*)").as("mean2"))
      od.join(broadcast(om), Seq("label"))
        .select(col("vec_id"), col("label"), col("dist2"),
          expr("(dist2 * 1000000) div greatest(mean2, 1L)").as("ratio_ppm"),
          (col("dist2") * 2 > col("mean2") * 5).as("is_outlier"))
        .orderBy(col("vec_id"))
    }
  )
}
