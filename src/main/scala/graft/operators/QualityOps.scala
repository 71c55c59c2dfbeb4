package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}

import graft.core.{Q, Tables => T}
import graft.plans.{Bpe, BpeEncodeExpr}

/** Training-data curation signals beyond TextOps' dedup family: repetition
  * quality metrics (the Gopher-rules shape), PII detection/redaction,
  * benchmark decontamination, and chunk/sequence packing for pretraining.
  *
  * Scale design (100 TB):
  *  - repetition: per-document metrics are narrow maps over the token
  *    array; the top-bigram mode is computed by explode → partial-agged
  *    groupBy((doc_id, bigram)) → groupBy(doc_id) — two map-side-combining
  *    shuffles keyed by doc_id, never an O(n²) per-row lambda (a 100k-token
  *    document would make the per-row nested-loop shape quadratic);
  *  - PII: pure narrow map (regexp count + chained redaction), no shuffle;
  *  - decontamination: the benchmark side is tiny by construction (a
  *    held-out eval set), so its distinct shingle hashes BROADCAST and the
  *    corpus side never shuffles — the join is a broadcast hash join keyed
  *    on a 60-bit md5-derived shingle id, then one partial-agged
  *    groupBy(doc_id);
  *  - packing: the global token-offset cumsum uses the same two-pass shape
  *    as `a6_running_count` (per-(lang, range-bucket) local window + a
  *    broadcast per-bucket offset table) so no window ever funnels a whole
  *    language through one partition.
  */
object QualityOps {

  /** normalized text (lower, trim, collapse whitespace) — same canonical
    * form as TextOps' dedup family. */
  private def norm(c: Column): Column = regexp_replace(lower(trim(c)), "\\s+", " ")

  /** 60-bit deterministic string id (md5 prefix), identical in DuckDB via
    * CAST('0x'||substr(md5(s),1,15) AS BIGINT). */
  private[operators] def sid60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)
  private[operators] def sid60Sql(e: String): String =
    s"CAST('0x'||substr(md5($e),1,15) AS BIGINT)"

  /** word n-gram list over the split token array `l` (empty when the doc is
    * shorter than n tokens). 1-indexed slice on both engines. */
  private[operators] def gramsSpark(n: Int): String =
    s"CASE WHEN size(l) >= $n THEN transform(sequence(1, size(l)-${n - 1}), i -> concat_ws(' ', slice(l, i, $n))) ELSE cast(array() as array<string>) END"
  private[operators] def gramsSql(n: Int): String = {
    val cat = (0 until n).map(j => s"l[i+$j]").mkString("||' '||")
    s"list_transform(range(1, greatest(len(l)-${n - 1},0)+1), i -> $cat)"
  }

  // ── decontamination parameters: 4-word shingles, benchmark = the
  //    deterministic doc_id % 97 slice (stands in for a held-out eval set).
  private[operators] val DcN = 4
  private[operators] val DcBenchMod = 97

  // Bloom prefilter machinery lives in [[Decontaminate]] (shared with the
  // streaming gate); the ORACLE never sees the Bloom — it is a
  // no-false-negative prefilter whose survivors are exactly verified, so
  // the oracle stays the plain exact-decontamination SQL.

  // ── packing parameters: 512-token sequences, 256-doc range buckets for
  //    the two-pass cumsum.
  private val PackSeqLen = 512
  private val PackBucket = 256

  // PII patterns — valid in both Java regex (Spark) and RE2 (DuckDB).
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhonePat = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private val IpPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  // ── corpus-selection parameters: quality in integer micro-units (the
  //    tx_quality composite ∈ [0,1] → qmicro ∈ [0, 1e6], exact on both
  //    engines since the score is a deterministic IEEE tree and floor×1e6
  //    is two more exact ops).
  private val QMicroMax = 1000000L

  // ── classifier parameters: 64 hashed token buckets (+ a bias bucket -1),
  //    3 full-batch perceptron epochs. The training state is ALL-INTEGER
  //    (mistake-driven updates are sums of label·count), so every epoch is
  //    exact on both engines — no learning-rate float, no transcendental
  //    loss, no summation-order sensitivity.
  private val ClsBuckets = 64L
  // 12 epochs, NO early stop, deliberately: the per-epoch mistake counts
  // OSCILLATE rather than plateau (measured on the round-7 sf0.1 corpus via
  // the oracle's unrolled recurrence: 5000, 1452, 1326, 1253, 1353, 1461,
  // 1951, 1407, 1189, 1265, 1956, 1327, 1216 — the pocket minimum lands on
  // w_8, epoch 9), so a patience rule would (a) have cut training before
  // the best weights on this very corpus and (b) need the identical stop
  // decision unrolled into the DuckDB oracle to keep the compare exact.
  // The fixed sweep costs ~0.55 s/epoch at sf0.1 after the doc_id feature
  // layout pin; if the epoch count ever needs tuning, re-measure the
  // mistake sequence first — don't assume it plateaus.
  private val ClsEpochs = 12
  // warm-start continuation budget (round 14): the per-snapshot artifact
  // seeds from the prior generation's pocket weights and pays only these
  // epochs over the full corpus — 4 (+1 evaluation pass) vs the base's
  // 12 (+1), so the per-batch training cost drops ~12/4 ≈ 3× while the
  // oscillating mistake curve above still gets several continuation shots
  // and the seed-as-candidate pocket rule guarantees the artifact is
  // never worse than the prior generation on full-corpus mistakes.
  private val ClsEpochsWarm = 4
  // label threshold ~ the corpus qmicro median, so the distilled rule is a
  // genuinely two-class target instead of a constant
  private val ClsLabelThr = 680000L

  // ── DSIR parameters: hashed-unigram importance resampling (the Xie et
  //    al. 2023 "Data Selection via Importance Resampling" shape, exact).
  //    512 feature buckets keeps the per-feature count table BOUNDED at any
  //    corpus size (it broadcasts as <10 KB even at 100 TB), and the
  //    importance weight is an integer likelihood ratio
  //    (Scale·(tgt+1)) div (raw+1) — add-one smoothed, no log, no float —
  //    so the per-doc score is a sum of exact integers on both engines.
  private val DsirBuckets = 512L
  private val DsirScale = 1000000L
  private val DsirK = 20

  /** per-(doc_id[, extra], feature) token counts — the ONE hashed-unigram
    * featurization every DSIR consumer shares (the tx_dsir query, the
    * offline weight trainer, the streaming admission gate). */
  private[graft] def dsirFeatures(docs: DataFrame, extra: Seq[String]): DataFrame =
    docs
      .select(Seq(col("doc_id")) ++ extra.map(col) :+
        explode(split(col("text"), " ")).as("token"): _*)
      .withColumn("f", sid60(concat(lit("dsir:"), col("token"))) % DsirBuckets)
      .groupBy(Seq(col("doc_id")) ++ extra.map(col) :+ col("f"): _*)
      .agg(count(lit(1)).as("c"))

  /** the ≤512-row integer weight table from a lang-carrying feature frame:
    * w(f) = (Scale·(tgt+1)) div (raw+1), target = lang='en'. */
  private[graft] def dsirLlr(df: DataFrame): DataFrame =
    df.groupBy(col("f"))
      .agg(sum(col("c")).as("raw_c"),
        sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("tgt_c"))
      .select(col("f"), expr(s"($DsirScale * (tgt_c + 1)) div (raw_c + 1)").as("w"))

  /** per-doc integer DSIR score + token count against a weight table (the
    * table broadcasts — bounded at DsirBuckets rows by construction). */
  // LEFT join + coalesce(w, 0): in the batch queries the weight table is
  // derived from the same feature frame so every f is present and this is
  // identical to an inner join — but the streaming gate applies a FROZEN
  // offline table that may lack buckets the stream's vocabulary hits. An
  // inner join would silently drop those tokens from BOTH score and n_tok
  // (and drop all-missing docs entirely, bypassing the admission rule);
  // left-joining counts every token toward n_tok and gives missing-bucket
  // tokens an explicit w = 0, so an all-missing doc scores 0 and is a
  // deliberate reject under score >= thr*n_tok.
  private[graft] def dsirScore(feat: DataFrame, weights: DataFrame): DataFrame =
    feat.join(broadcast(weights), Seq("f"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * coalesce(col("w"), lit(0L))).as("score"),
        sum(col("c")).as("n_tok"))

  /** offline artifact write: train the DSIR weight table from a corpus and
    * persist it — what a production deployment ships to its ingest stream
    * (graft.streaming.Pipelines.dsirGate reads it back FROZEN). */
  private[graft] def writeDsirWeights(
      s: SparkSession, corpusDir: String, weightsDir: String): Unit =
    dsirLlr(dsirFeatures(T.documents(s, corpusDir), Seq("lang")))
      .coalesce(1).write.mode("overwrite").parquet(weightsDir)

  // ── shard-packing parameters: 4096-token shards, fixed-width hash
  //    buckets (md5 uniformity makes fixed-width equi-depth) for the
  //    two-pass global cumsum over the shuffled order.
  private val ShardTok = 4096L
  private val ShardHashBucketWidth = 1L << 50 // 60-bit hash → 1024 buckets

  /** the bigram-LM CTE chain ending in
    * `lmsc(doc_id, n_bigrams, n, lm_ppm)` — shared by the fluency score
    * and the CCNet bucketing oracle. */
  private val LmCte: String =
    """tok AS (
      |  SELECT doc_id, l, len(l) AS n FROM
      |    (SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS l
      |     FROM documents)),
      |bg AS (
      |  SELECT doc_id, l[i] AS a, l[i+1] AS b
      |  FROM tok, unnest(range(1, n)) AS r(i) WHERE n >= 2),
      |uni AS (SELECT a, count(*) AS c1 FROM (SELECT unnest(l[1:-2]) AS a FROM tok) GROUP BY a),
      |big AS (SELECT a, b, count(*) AS c2 FROM bg GROUP BY a, b),
      |v AS (SELECT count(DISTINCT w) AS vsz FROM (SELECT unnest(l) AS w FROM tok)),
      |sc AS (
      |  SELECT g.doc_id, (b2.c2*1000000)//(u.c1 + v.vsz) AS p
      |  FROM bg g JOIN big b2 USING (a, b) JOIN uni u USING (a), v),
      |scd AS (SELECT doc_id, CAST(sum(p) AS BIGINT) AS sp FROM sc GROUP BY doc_id),
      |lmsc AS (
      |  SELECT t.doc_id, greatest(t.n - 1, 0) AS n_bigrams, t.n,
      |    CASE WHEN t.n >= 2 THEN sd.sp//(t.n - 1) ELSE NULL END AS lm_ppm
      |  FROM tok t LEFT JOIN scd sd USING (doc_id))""".stripMargin

  /** `(doc_id, n_bigrams, n, lm_ppm)` — the Spark mirror of `lmsc`. */
  private def lmScores(s: SparkSession, d: String): DataFrame = {
    val tok = T.documents(s, d)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), w -> w != '')").as("l"))
      .withColumn("n", size(col("l")).cast(LongType))
    val bg = tok.filter(col("n") >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, cast(n as int) - 1), i -> struct(l[i-1] AS a, l[i] AS b))")).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val uni = tok.filter(col("n") >= 2)
      .select(explode(expr("slice(l, 1, cast(n as int) - 1)")).as("a"))
      .groupBy(col("a")).agg(count(lit(1)).as("c1"))
    val big = bg.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c2"))
    val v = tok.select(explode(col("l")).as("w"))
      .agg(countDistinct(col("w")).as("vsz"))
    val sc = bg.join(big, Seq("a", "b")).join(uni, Seq("a"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"), expr("(c2*1000000) div (c1 + vsz)").as("p"))
      .groupBy(col("doc_id")).agg(sum(col("p")).as("sp"))
    tok.select(col("doc_id"),
        greatest(col("n") - 1, lit(0L)).as("n_bigrams"), col("n"))
      .join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bigrams"), col("n"),
        when(col("n") >= 2, expr("sp div (n - 1)")).as("lm_ppm"))
  }

  /** (doc_id, source, n_tok, qmicro): the tx_quality composite score
    * (TextOps.qualityScore — the ONE shared definition) in integer
    * micro-units plus the whitespace token count — the shared per-document
    * base of the selection operators. Narrow map, no shuffle. */
  private def qualityDocs(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .withColumn("l", split(col("text"), " "))
      .select(
        col("doc_id"), col("source"),
        size(col("l")).cast(LongType).as("n_tok"),
        floor(TextOps.qualityScore("l") * 1000000.0).cast(LongType).as("qmicro"))

  /** the same base as DuckDB SQL (CTE named `ql`). */
  private def qualityDocsSql: String =
    s"""ql AS (
       |  SELECT doc_id, source, len(l) AS n_tok,
       |    CAST(floor((${TextOps.qualityScoreSql("l")})*1000000.0) AS BIGINT) AS qmicro
       |  FROM (SELECT doc_id, source, string_split(text,' ') AS l FROM documents))""".stripMargin

  /** hashed bag-of-words features `(doc_id, bucket, cnt)` — tokens hashed
    * into [[ClsBuckets]] buckets, counts LENGTH-NORMALIZED to integer
    * per-mille (cnt·1000 div n_tok): the quality heuristic is a function
    * of token RATIOS, which raw counts can't express linearly but
    * per-mille counts can — and integer division keeps every epoch exact
    * on both engines. A constant bias bucket (-1, 1000) per document means
    * every document scores even when its tokens are unseen. One
    * map-side-combining shuffle keyed by (doc_id, bucket) plus a broadcast
    * of nothing (the length rides in from a second tiny projection);
    * persisted because every epoch consumes it twice (margins + update). */
  private def classifierFeatures(s: SparkSession, d: String): DataFrame =
    classifierFeaturesFor(T.documents(s, d))

  /** [[classifierFeatures]] over an explicit doc relation — the base
    * (prior-snapshot) training scope reuses the identical feature
    * definition on a filtered corpus (round 14 warm-start split). */
  private def classifierFeaturesFor(docs: DataFrame): DataFrame = {
    val dlen = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("n_tok"))
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), (sid60(col("tok")) % ClsBuckets).as("bucket"))
      .groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("rawc"))
      .join(dlen, Seq("doc_id"))
      .select(col("doc_id"), col("bucket"),
        expr("(rawc*1000) div n_tok").as("cnt"))
      .unionByName(docs.select(
        col("doc_id"), lit(-1L).as("bucket"), lit(1000L).as("cnt")))
      // two engineered buckets beside the hashed bag: distinct-token
      // per-mille (-2) and capped length (-3) — the type-token and length
      // signals a ratio-blind hashed bag can't encode, exactly the mixed
      // hashed+engineered feature vector a production quality model uses
      .unionByName(docs
        .withColumn("l", split(col("text"), " "))
        .select(col("doc_id"), lit(-2L).as("bucket"),
          expr("(size(array_distinct(l))*1000) div size(l)").as("cnt")))
      .unionByName(docs
        .withColumn("l", split(col("text"), " "))
        .select(col("doc_id"), lit(-3L).as("bucket"),
          (least(size(col("l")), lit(100)) * 10).cast(LongType).as("cnt")))
      .persist()
  }

  /** ±1 labels from the SHARED quality composite (qmicro >= ClsLabelThr) — the
    * classifier distills the hand-written curation rule into a linear
    * model, the standard "heuristic → cheap classifier" curation step. */
  private def classifierLabels(s: SparkSession, d: String): DataFrame =
    qualityDocs(s, d).select(col("doc_id"),
      when(col("qmicro") >= lit(ClsLabelThr), 1L).otherwise(-1L).as("label"))

  /** per-bucket INTEGER standardization stats (bucket, mu, sd1, z0): the
    * feature mean in milli-units over ALL documents (absent = 0), the
    * pooled-σ scale (floor(sqrt(var)) + 1 — sqrt of an exactly-representable
    * int is correctly rounded IEEE, identical on both engines), and
    * `z0` = the standardized value of an ABSENT feature. Standardizing
    * would densify a sparse feature table; carrying z0 keeps every later
    * pass sparse: a document's margin over dense z equals its margin over
    * (z − z0) on PRESENT rows plus the weight-only constant Σ z0·w, and an
    * update over dense z equals the present-row part plus z0·Σ(labels) —
    * pure integer algebra, so the sparse plan and the oracle's dense spec
    * agree bit for bit. The bias bucket (-1) is exempt (a constant column
    * standardizes to zero and would erase the bias). */
  private def classifierStats(s: SparkSession, d: String, feat: DataFrame): DataFrame =
    classifierStatsFor(feat, T.documents(s, d).agg(count(lit(1)).as("n")))

  /** [[classifierStats]] against an explicit doc-count relation (the base
    * scope standardizes over prior-snapshot docs only). */
  private def classifierStatsFor(feat: DataFrame, nDf: DataFrame): DataFrame = {
    feat.groupBy(col("bucket")).agg(
        sum(col("cnt")).as("sc"), sum(col("cnt") * col("cnt")).as("ssc"))
      .crossJoin(broadcast(nDf))
      .withColumn("mu", expr("IF(bucket = -1, cast(0 as bigint), (sc*1000) div n)"))
      .withColumn("vr", expr(
        "IF(bucket = -1, cast(0 as bigint), (1000000*ssc - 2000*mu*sc + n*mu*mu) div (n-1))"))
      .withColumn("sd1", expr("cast(floor(sqrt(cast(vr as double))) as bigint) + 1"))
      .withColumn("z0", expr("IF(bucket = -1, cast(0 as bigint), (-mu*1000) div sd1)"))
      .select(col("bucket"), col("mu"), col("sd1"), col("z0"))
  }

  /** present-row standardized features (doc_id, bucket, dz = z − z0);
    * persisted PRE-PARTITIONED on doc_id — every epoch reads it twice
    * (margins groupBy(doc_id) + the update's mis join, both keyed doc_id),
    * so hashing it once before the cache makes all 2×epochs downstream
    * exchanges on this multi-million-row table vanish: the cached
    * partitioning satisfies the groupBy's clustering and co-locates the
    * join, leaving only the ≤67-row bucket aggregation to shuffle. */
  private def classifierFeatZ(feat: DataFrame, stats: DataFrame): DataFrame =
    feat.join(broadcast(stats), Seq("bucket"))
      .select(col("doc_id"), col("bucket"),
        expr("IF(bucket = -1, cnt, ((cnt*1000 - mu)*1000) div sd1 - z0)").as("dz"))
      .repartition(col("doc_id"))

  /** per-document integer margins under weight table `w` via the sparse
    * decomposition: Σ_present dz·w plus the broadcast scalar Σ_buckets z0·w. */
  private def classifierMargins(featZ: DataFrame, stats: DataFrame,
      w: DataFrame): DataFrame = {
    val cDf = stats.join(w, Seq("bucket"))
      .agg(coalesce(sum(col("z0") * col("w")), lit(0L)).as("c"))
    featZ.join(broadcast(w), Seq("bucket"))
      .groupBy(col("doc_id")).agg(sum(col("dz") * col("w")).as("mz"))
      .crossJoin(broadcast(cDf))
      .select(col("doc_id"), (col("mz") + col("c")).as("margin"))
  }

  /** POCKETED batch perceptron over standardized integer features: run
    * [[ClsEpochs]] full-batch epochs and keep the epoch whose weights make
    * the FEWEST training mistakes (earliest on ties) — the pocket
    * algorithm, the convergence fix for batch perceptron on data that is
    * not exactly separable (plain batch updates 2-cycle; measured here:
    * raw features oscillate at 0.51 accuracy, standardized + pocketed
    * reaches ~0.80 against the 0.87 least-squares ceiling). Each epoch is
    * two map-side-combining shuffles over the persisted feature table
    * (margins keyed by doc_id, updates keyed by bucket) plus a broadcast
    * of the ≤67-row weight table; the only driver-side values are the
    * 2-long mistake-count/label-sum row per epoch (the same bounded shape
    * as BPE's per-round argmax). Weights are localCheckpoint'd per epoch,
    * so the loop never builds a nested mega-plan. Mistakes(w_e) is read
    * from epoch e+1's margin pass — one extra pass at the end, not one
    * per epoch. */
  private def trainedWeights(s: SparkSession, d: String): DataFrame =
    classifierState(s, d).w

  /** BASE classifier weights — the pocketed perceptron trained from ZERO
    * for the full [[ClsEpochs]] epochs over the PRIOR corpus snapshot only
    * (doc_id below TextOps.snapshotCut, its own features / standardization
    * stats / labels on that scope). This is the weekly-compaction role of
    * the classifier story, exactly parallel to clusterLabelsBase /
    * semanticPairsBase: at 100 TB the from-scratch retrain runs on that
    * cadence, and each per-snapshot artifact WARM-STARTS from these
    * weights instead of re-paying the full epoch budget. Memoized as the
    * driver-side integer map (≤67 entries — the same bounded shape the
    * epoch loop already uses). */
  private val clsBaseCache = new graft.core.SessionCache[Map[Long, Long]]()
  private def classifierBaseWeights(s: SparkSession, d: String): Map[Long, Long] =
    clsBaseCache.get(s, d) {
      val cut = TextOps.snapshotCut(s, d)
      val docs = T.documents(s, d).filter(col("doc_id") < cut)
      val feat = classifierFeaturesFor(docs)
      val stats = classifierStatsFor(feat, docs.agg(count(lit(1)).as("n")))
        .localCheckpoint()
      val fz = classifierFeatZ(feat, stats).localCheckpoint(eager = true)
      val lab = qualityDocs(s, d).filter(col("doc_id") < cut)
        .select(col("doc_id"),
          when(col("qmicro") >= lit(ClsLabelThr), 1L).otherwise(-1L).as("label"))
        .repartition(col("doc_id")).localCheckpoint(eager = true)
      feat.unpersist(blocking = false)
      val w = trainedMapFrom(fz, stats, lab, Map.empty, ClsEpochs,
        seedCandidate = false)
      // the base-scope frames have NO readers after the one-time training
      // (unlike ClsState's, which feed every later scoring pass) — release
      // their checkpoint blocks instead of pinning executor storage for
      // the session lifetime; the memoized result is the weight map alone.
      Seq(fz, lab, stats).foreach(graft.core.Checkpoints.release)
      w
    }

  /** cold-build hook for the base (weekly-compaction) training. */
  private[graft] def buildClassifierBase(s: SparkSession, d: String): Unit = {
    classifierBaseWeights(s, d); ()
  }

  /** The classifier's trained state, memoized per (session, data dir):
    * the persisted sparse feature table, standardization stats, labels,
    * and the localCheckpoint'd weight table. Training is paid ONCE per
    * run — `tx_classifier_train` and `tx_classifier_score` share it, so
    * the score query measures what it claims to (one broadcast join +
    * one partial-agged groupBy over the cached features), exactly the
    * production shape where a trained model scores many corpora. Keyed on
    * the session OBJECT (core.SessionCache) so a restarted session can
    * never alias a stopped one's frames; results are hash-identical to the
    * uncached path because the cached weights ARE the uncached
    * computation's output.
    *
    * WARM-STARTED since round 14: the per-snapshot state runs only
    * [[ClsEpochsWarm]] continuation epochs over the full corpus, seeded
    * from [[classifierBaseWeights]] (buckets the prior snapshot never saw
    * seed at 0), with the SEED ITSELF a pocket candidate — so a retrain
    * that never beats the prior generation's weights on full-corpus
    * mistakes KEEPS them (a staged retrain with a drift audit, made exact
    * by the pocket rule; the pocket guarantee mis(final) ≤ mis(seed) is
    * the drift audit, reported by tx_classifier_drift). Both training
    * stages replay in every consumer's DuckDB oracle, so the full
    * base+warm recurrence stays hash-pinned. */
  private final case class ClsState(
      fz: DataFrame, stats: DataFrame, lab: DataFrame, w: DataFrame,
      seedW: Map[Long, Long])
  private val clsCache = new graft.core.SessionCache[ClsState]()
  private def classifierState(s: SparkSession, d: String): ClsState =
    clsCache.get(s, d) {
      val seed = classifierBaseWeights(s, d)
      val feat = classifierFeatures(s, d)
      val stats = classifierStats(s, d, feat).localCheckpoint()
      // fz/lab are CHECKPOINTED, not persisted: every scoring pass reads
      // them, and a checkpoint survives cache clears (a persisted frame
      // would silently rebuild the whole feature pipeline per run); the
      // doc_id partitioning is materialized with the data. The feat
      // cache only feeds this build — release it once fz exists.
      val fz = classifierFeatZ(feat, stats).localCheckpoint(eager = true)
      val lab = labelsPartitioned(s, d).localCheckpoint(eager = true)
      feat.unpersist(blocking = false)
      val buckets = stats.select(col("bucket")).collect().map(_.getLong(0))
      val seedFull = buckets.map(b => b -> seed.getOrElse(b, 0L)).toMap
      val wMap = trainedMapFrom(fz, stats, lab, seedFull, ClsEpochsWarm,
        seedCandidate = true)
      import s.implicits._
      val w = wMap.toSeq.toDF("bucket", "w").localCheckpoint(eager = true)
      ClsState(fz, stats, lab, w, seedFull)
    }

  /** cold-build hook: force the memoized classifier state so the bench's
    * artifact pass can time the warm-start continuation in isolation
    * (core.ColdBuilds; the base training is its own row). */
  private[graft] def buildClassifierState(s: SparkSession, d: String): Unit = {
    classifierState(s, d); ()
  }

  /** labels hash-partitioned on doc_id and persisted: every epoch's mistake
    * pass joins them against the doc_id-clustered margins, so pinning the
    * layout once removes the label-side exchange from all epochs. */
  private def labelsPartitioned(s: SparkSession, d: String): DataFrame =
    classifierLabels(s, d).repartition(col("doc_id"))

  /** the pocketed-perceptron epoch loop, parameterized for the round-14
    * base/warm split: `seed` is the starting weight map (empty = zeros,
    * the from-scratch base form), `epochs` the continuation budget, and
    * `seedCandidate` whether the seed itself competes in the pocket (the
    * warm path sets it — a continuation that never beats the prior
    * generation keeps it, with the earliest-on-ties rule favoring the
    * seed). Returns the pocket winner as the driver-side integer map. */
  private def trainedMapFrom(fz: DataFrame, stats: DataFrame,
      lab: DataFrame, seed: Map[Long, Long], epochs: Int,
      seedCandidate: Boolean): Map[Long, Long] = {
    // The weight table is ≤67 rows, so the epoch state lives on the DRIVER
    // as an integer map (the same bounded-collect shape as BPE's per-round
    // argmax): each epoch ships the weights into the margin pass as a
    // LITERAL map expression instead of a broadcast-joined frame. This
    // removes every per-epoch broadcast-materialization and checkpoint job
    // — the loop is two scheduler jobs per epoch (mistake pass, 67-row
    // update collect) — while the arithmetic stays the identical exact
    // integer algebra (Long sums are associative; Σ z0·w moves to the
    // driver unchanged).
    val z0 = stats.select(col("bucket"), col("z0")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val buckets = z0.keys.toSeq.sorted
    var w: Map[Long, Long] = buckets.map(b => b -> seed.getOrElse(b, 0L)).toMap
    var best: (Long, Map[Long, Long]) = (Long.MaxValue, w)
    for (e <- 1 to epochs + 1) {
      val c = buckets.iterator.map(b => z0(b) * w(b)).sum
      val wvCol = element_at(typedLit(w), col("bucket"))
      val margins = fz
        .groupBy(col("doc_id"))
        .agg((sum(col("dz") * wvCol) + lit(c)).as("margin"))
      val mis = lab.join(margins, Seq("doc_id"))
        .filter(col("label") * col("margin") <= 0)
        .select(col("doc_id"), col("label"))
      // ONE job per epoch: the per-bucket update aggregation ALSO yields the
      // doc-level mistake count and label sum, because every document
      // carries exactly one bias (-1) row in fz — count/sum(label) over the
      // bias rows of the mistake join ARE nm and sl. (cnt/slb on the other
      // buckets are computed and ignored — 67 spare longs.)
      val rows = fz.join(mis, Seq("doc_id"))
        .groupBy(col("bucket"))
        .agg(sum(col("label") * col("dz")).as("dwp"),
          count(lit(1)).as("cnt"), sum(col("label")).as("slb"))
        .collect()
      val bias = rows.find(_.getLong(0) == -1L)
      val nm = bias.map(_.getLong(2)).getOrElse(0L)
      val sl = bias.map(_.getLong(3)).getOrElse(0L)
      // epoch e's margin pass evaluates w_(e-1); the seed (w_0) competes
      // only on the warm path (strict < keeps earliest on ties — the seed)
      if ((seedCandidate || e >= 2) && nm < best._1) best = (nm, w)
      if (e <= epochs) {
        val upd = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        w = buckets.map(b =>
          b -> (w(b) + upd.getOrElse(b, 0L) + z0(b) * sl)).toMap
      }
    }
    best._2
  }

  /** ONE pocketed-perceptron training chain as CTEs — feat/lab over the
    * given doc/ql relations, standardization stats, sparse dz table, the
    * given w0, then one c/m/mis/sl/u/w sextet per epoch (margins carry the
    * Σ z0·w constant exactly as the Spark side does), closed by the pocket
    * pick (per-epoch mistake counts from the NEXT epoch's margin pass,
    * fewest mistakes, earliest on ties; `seedCandidate` enters w0 as epoch
    * 0 — the warm path's keep-the-prior-generation rule). Every CTE name
    * is prefixed with `p` so two chains compose in one WITH. */
  private def clsChainSql(p: String, docsRel: String, qlRel: String,
      nEpochs: Int, w0Sql: String, seedCandidate: Boolean): String = {
    val base =
      s"""${p}tokb AS (
         |  SELECT doc_id, ${sid60Sql("tok")} % $ClsBuckets AS bucket
         |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM $docsRel)),
         |${p}dlen AS (SELECT doc_id, len(string_split(text,' ')) AS n_tok FROM $docsRel),
         |${p}feat AS MATERIALIZED (
         |  SELECT f.doc_id, f.bucket, CAST((f.rawc*1000)//d.n_tok AS BIGINT) AS cnt
         |  FROM (SELECT doc_id, bucket, count(*) AS rawc FROM ${p}tokb GROUP BY 1, 2) f
         |  JOIN ${p}dlen d USING(doc_id)
         |  UNION ALL
         |  SELECT doc_id, CAST(-1 AS BIGINT), CAST(1000 AS BIGINT) FROM $docsRel
         |  UNION ALL
         |  SELECT doc_id, CAST(-2 AS BIGINT),
         |    CAST(len(list_distinct(string_split(text,' ')))*1000
         |         // len(string_split(text,' ')) AS BIGINT) FROM $docsRel
         |  UNION ALL
         |  SELECT doc_id, CAST(-3 AS BIGINT),
         |    CAST(least(len(string_split(text,' ')), 100)*10 AS BIGINT) FROM $docsRel),
         |${p}lab AS MATERIALIZED (SELECT doc_id,
         |  CASE WHEN qmicro >= $ClsLabelThr THEN CAST(1 AS BIGINT)
         |       ELSE CAST(-1 AS BIGINT) END AS label FROM $qlRel),
         |${p}nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM $docsRel),
         |${p}st0 AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS sc,
         |        CAST(sum(cnt*cnt) AS BIGINT) AS ssc FROM ${p}feat GROUP BY bucket),
         |${p}st1 AS (SELECT bucket, sc, ssc,
         |        CASE WHEN bucket = -1 THEN 0 ELSE (sc*1000)//nn.n END AS mu
         |        FROM ${p}st0, ${p}nn nn),
         |${p}st2 AS (SELECT bucket, mu,
         |        CASE WHEN bucket = -1 THEN 0
         |             ELSE (1000000*ssc - 2000*mu*sc + nn.n*mu*mu)//(nn.n - 1) END AS vr
         |        FROM ${p}st1, ${p}nn nn),
         |${p}stz AS MATERIALIZED (SELECT bucket, mu,
         |        CAST(floor(sqrt(CAST(vr AS DOUBLE))) AS BIGINT) + 1 AS sd1,
         |        CASE WHEN bucket = -1 THEN 0
         |             ELSE (-mu*1000)//(CAST(floor(sqrt(CAST(vr AS DOUBLE))) AS BIGINT) + 1)
         |        END AS z0
         |        FROM ${p}st2),
         |${p}fz AS MATERIALIZED (SELECT f.doc_id, f.bucket,
         |        CASE WHEN f.bucket = -1 THEN f.cnt
         |             ELSE ((f.cnt*1000 - s.mu)*1000)//s.sd1 - s.z0 END AS dz
         |       FROM ${p}feat f JOIN ${p}stz s USING(bucket)),
         |${p}w0 AS MATERIALIZED ($w0Sql)""".stripMargin
    val epochs = (1 to nEpochs + 1).map { e =>
      s"""${p}c$e AS (SELECT CAST(coalesce(sum(s.z0*w.w), 0) AS BIGINT) AS c
         |  FROM ${p}stz s JOIN ${p}w${e - 1} w USING(bucket)),
         |${p}m$e AS MATERIALIZED (SELECT f.doc_id, CAST(sum(f.dz*w.w) AS BIGINT) + (SELECT c FROM ${p}c$e) AS margin
         |  FROM ${p}fz f JOIN ${p}w${e - 1} w USING(bucket) GROUP BY f.doc_id),
         |${p}mis$e AS MATERIALIZED (SELECT l.doc_id, l.label FROM ${p}lab l JOIN ${p}m$e m USING(doc_id)
         |  WHERE l.label*m.margin <= 0),
         |${p}sl$e AS MATERIALIZED (SELECT CAST(coalesce(sum(label), 0) AS BIGINT) AS sl,
         |  CAST(count(*) AS BIGINT) AS nm FROM ${p}mis$e),
         |${p}u$e AS (SELECT f.bucket, CAST(sum(m.label*f.dz) AS BIGINT) AS dwp
         |  FROM ${p}fz f JOIN ${p}mis$e m USING(doc_id) GROUP BY f.bucket),
         |${p}w$e AS MATERIALIZED (SELECT w.bucket, w.w + coalesce(u.dwp, 0) + st.z0*(SELECT sl FROM ${p}sl$e) AS w
         |  FROM ${p}w${e - 1} w LEFT JOIN ${p}u$e u USING(bucket) JOIN ${p}stz st USING(bucket))""".stripMargin
    }
    // sl$e.nm evaluates w_(e-1), so epoch e's candidate row reads sl${e+1};
    // the seed (epoch 0, nm from sl1) competes only on the warm path
    val candEpochs = (if (seedCandidate) Seq(0) else Seq.empty[Int]) ++ (1 to nEpochs)
    val pocket =
      s"""${p}mc AS (${candEpochs.map(e =>
            s"SELECT $e AS e, (SELECT nm FROM ${p}sl${e + 1}) AS nm").mkString("\n|  UNION ALL ")}),
         |${p}best AS (SELECT e FROM ${p}mc ORDER BY nm, e LIMIT 1),
         |${p}allw AS (${candEpochs.map(e =>
            s"SELECT $e AS e, bucket, w FROM ${p}w$e").mkString("\n|  UNION ALL ")}),
         |${p}wbest AS (SELECT a.bucket, a.w FROM ${p}allw a JOIN ${p}best b USING(e))""".stripMargin
    (base +: epochs :+ pocket).mkString(",\n")
  }

  /** the classifier's full oracle chain (round 14, base + warm-start):
    * `b`-prefixed CTEs train from zero over the prior snapshot (doc_id
    * below the 90% cut — the weekly-compaction role), then the unprefixed
    * chain standardizes over the FULL corpus, seeds w0 from `bwbest`
    * (absent buckets 0), runs [[ClsEpochsWarm]] continuation epochs with
    * the seed as a pocket candidate, and lands in the same `stz/fz/lab/
    * wbest` names the score/calibration oracles consume. The SQL is the
    * SPEC of the two-stage recurrence, unrolled because both epoch counts
    * are fixed knobs. */
  private def classifierSql: String = Seq(
    "bcut AS (SELECT (max(doc_id)*9)//10 AS cutv FROM documents)",
    "bdocs AS (SELECT d.* FROM documents d, bcut WHERE d.doc_id < bcut.cutv)",
    "bql AS (SELECT q.* FROM ql q, bcut WHERE q.doc_id < bcut.cutv)",
    clsChainSql("b", "bdocs", "bql", ClsEpochs,
      "SELECT bucket, CAST(0 AS BIGINT) AS w FROM bstz", seedCandidate = false),
    clsChainSql("", "documents", "ql", ClsEpochsWarm,
      "SELECT s.bucket, CAST(coalesce(b.w, 0) AS BIGINT) AS w " +
        "FROM stz s LEFT JOIN bwbest b USING(bucket)", seedCandidate = true)
  ).mkString(",\n")

  def queries: Seq[Q] = Seq(

    // Repetition quality signals (the Gopher-rules family): duplicate-word
    // fraction, duplicate-5-gram fraction (both narrow per-row array math),
    // and the most-frequent-bigram occurrence fraction via explode +
    // two-level aggregation — the shape that stays linear when a document
    // has 100k tokens.
    Q(
      "tx_repetition",
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
         |perdoc AS (
         |  SELECT doc_id,
         |    len(l) AS n_tokens,
         |    1.0 - CAST(len(list_distinct(l)) AS DOUBLE)/len(l) AS dup_word_frac,
         |    CASE WHEN len(l) >= 5
         |      THEN 1.0 - CAST(len(list_distinct(${gramsSql(5)})) AS DOUBLE)/(len(l)-4)
         |      ELSE 0.0 END AS dup_5gram_frac
         |  FROM d),
         |bg AS (SELECT doc_id, unnest(${gramsSql(2)}) AS g FROM d),
         |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
         |topbg AS (SELECT doc_id, CAST(max(c) AS DOUBLE)/sum(c) AS top_bigram_frac
         |          FROM bgc GROUP BY doc_id)
         |SELECT p.doc_id, p.n_tokens, p.dup_word_frac, p.dup_5gram_frac,
         |  coalesce(t.top_bigram_frac, 0.0) AS top_bigram_frac
         |FROM perdoc p LEFT JOIN topbg t ON p.doc_id = t.doc_id
         |ORDER BY p.doc_id""".stripMargin) { (s, d) =>
      val docs = T.documents(s, d)
        .withColumn("l", split(col("text"), " "))
      val perdoc = docs.select(
        col("doc_id"),
        size(col("l")).cast(LongType).as("n_tokens"),
        (lit(1.0) - size(array_distinct(col("l"))).cast(DoubleType) / size(col("l")))
          .as("dup_word_frac"),
        when(size(col("l")) >= 5,
          lit(1.0) - size(array_distinct(expr(gramsSpark(5)))).cast(DoubleType)
            / (size(col("l")) - 4))
          .otherwise(lit(0.0)).as("dup_5gram_frac"))
      val bgc = docs
        .select(col("doc_id"), explode(expr(gramsSpark(2))).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      val topbg = bgc.groupBy(col("doc_id"))
        .agg((max(col("c")).cast(DoubleType) / sum(col("c"))).as("top_bigram_frac"))
      perdoc.join(topbg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("dup_word_frac"),
          col("dup_5gram_frac"),
          coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
        .orderBy(col("doc_id"))
    },

    // PII scrub: count + redact emails / NANP phones / IPv4s. The corpus
    // text is PII-free, so both sides append the SAME deterministic PII
    // suffixes (keyed on doc_id) before scanning — the operator under test
    // is the regex count + ordered redaction chain, proven by the md5 of
    // the redacted text. Narrow map; no shuffle.
    Q(
      "tx_pii",
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    text
         |      || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
         |      || CASE WHEN doc_id % 7 = 0 THEN ' call 555-123-4567 or ping 10.0.0.' || CAST(doc_id % 200 AS VARCHAR) ELSE '' END
         |      AS t
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(t, '$EmailPat')) AS n_email,
         |  len(regexp_extract_all(t, '$PhonePat')) AS n_phone,
         |  len(regexp_extract_all(t, '$IpPat')) AS n_ip,
         |  md5(regexp_replace(regexp_replace(regexp_replace(t,
         |    '$EmailPat', '<EMAIL>', 'g'), '$PhonePat', '<PHONE>', 'g'), '$IpPat', '<IP>', 'g')) AS red_md5
         |FROM aug ORDER BY doc_id""".stripMargin) { (s, d) =>
      val aug = T.documents(s, d).select(
        col("doc_id"),
        concat(
          col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id").cast(StringType),
              lit("@example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" call 555-123-4567 or ping 10.0.0."),
              (col("doc_id") % 200).cast(StringType))).otherwise(lit(""))
        ).as("t"))
      aug.select(
        col("doc_id"),
        regexp_count(col("t"), lit(EmailPat)).cast(LongType).as("n_email"),
        regexp_count(col("t"), lit(PhonePat)).cast(LongType).as("n_phone"),
        regexp_count(col("t"), lit(IpPat)).cast(LongType).as("n_ip"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("t"),
          EmailPat, "<EMAIL>"), PhonePat, "<PHONE>"), IpPat, "<IP>")).as("red_md5"))
        .orderBy(col("doc_id"))
    },

    // Benchmark decontamination: flag corpus documents sharing any 4-word
    // shingle with the (deterministic doc_id % 97) benchmark slice — the
    // eval-overlap filter every pretraining pipeline runs. The benchmark
    // side is tiny by construction → broadcast; the corpus side is a
    // narrow shingle map, the join a broadcast semi keyed on a 60-bit
    // shingle id, then one groupBy(doc_id).
    Q(
      "dd_decontaminate",
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(${gramsSql(DcN)})) AS g FROM d),
         |shh AS (SELECT doc_id, ${sid60Sql("g")} AS h FROM sh),
         |bench AS (SELECT doc_id AS bench_id, h FROM shh WHERE doc_id % $DcBenchMod = 0)
         |SELECT s.doc_id,
         |  count(DISTINCT s.h) AS n_shared_grams,
         |  count(DISTINCT b.bench_id) AS n_bench_docs
         |FROM shh s JOIN bench b ON s.h = b.h
         |WHERE s.doc_id % $DcBenchMod <> 0
         |GROUP BY s.doc_id
         |ORDER BY s.doc_id""".stripMargin) { (s, d) =>
      val shh = T.documents(s, d)
        .withColumn("l", split(col("text"), " "))
        .select(col("doc_id"),
          explode(array_distinct(expr(gramsSpark(DcN)))).as("g"))
        .select(col("doc_id"), sid60(col("g")).as("h"))
      val bench = shh.filter(col("doc_id") % DcBenchMod === 0)
        .select(col("doc_id").as("bench_id"), col("h"))
      shh.filter(col("doc_id") % DcBenchMod =!= 0)
        .join(broadcast(bench), Seq("h"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("h")).as("n_shared_grams"),
          countDistinct(col("bench_id")).as("n_bench_docs"))
        .orderBy(col("doc_id"))
    },

    // Bloom-prefiltered decontamination PURGE — the anti-join form a
    // pipeline actually materializes (the clean corpus), with the bench
    // overlap test run through a Bloom filter FIRST. Scale story: at 100 TB
    // the benchmark shingle set is too large to broadcast as rows but its
    // Bloom is ~10 bits/key — built here as a bounded bit_or aggregation
    // over probe words (≤8 Ki longs collected to the driver, the same
    // bounded-collect shape as the classifier's 67-long weight map) and
    // shipped to every corpus partition as a LITERAL array read by three
    // pure-arithmetic bit probes (codegen'd, no UDF, no join). The Bloom
    // has NO false negatives by construction, so docs whose every shingle
    // misses are definitely clean; the few Bloom-hit shingles pay the
    // exact broadcast semi-join verify, making the final answer EXACT —
    // which is why the oracle is the plain exact anti-join SQL with no
    // Bloom anywhere.
    Q(
      "dd_decontaminate_bloom",
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(${gramsSql(DcN)})) AS g FROM d),
         |shh AS (SELECT doc_id, ${sid60Sql("g")} AS h FROM sh),
         |bench AS (SELECT h FROM shh WHERE doc_id % $DcBenchMod = 0),
         |contaminated AS (
         |  SELECT DISTINCT s.doc_id FROM shh s
         |  WHERE s.doc_id % $DcBenchMod <> 0 AND s.h IN (SELECT h FROM bench))
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id % $DcBenchMod <> 0
         |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = T.documents(s, d)
      // localCheckpoint, not persist (cache-hygiene rule, round 12): two
      // consumers (the Bloom build and the exact verify) read the bench
      // hash set, but a persist() here outlives the query — it stays in
      // the session CacheManager forever and can be silently substituted
      // into ANY sibling plan that builds the same frame. Checkpointing
      // materializes once and leaves the CacheManager untouched.
      val benchHashes = Decontaminate
        .shingles(docs.filter(col("doc_id") % DcBenchMod === 0))
        .select(col("h")).distinct().localCheckpoint(eager = true)
      val bits = Decontaminate.bloomBits(benchHashes)
      val corpus = docs.filter(col("doc_id") % DcBenchMod =!= 0)
      val contaminated = Decontaminate.contaminatedIds(
        corpus.select(col("doc_id"), col("text")), benchHashes, bits)
      corpus.join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // Count-Min Sketch heavy-hitter eval — the bounded-state frequency
    // sketch (Cormode & Muthukrishnan): d=4 rows × w=1024 cells, positions
    // read from disjoint 10-bit fields of the 60-bit token id (same
    // split-bits construction as the Bloom above). The sketch is NOT a
    // driver-side array: it lives as a (j, pos, cnt) DataFrame — ≤4096
    // rows regardless of corpus size — built by one partial-agged shuffle
    // of the ×4-exploded token stream and BROADCAST for estimation, where
    // exact per-token counts would shuffle the whole vocabulary. The query
    // evaluates the sketch against the exact top-20 tokens: the CMS
    // guarantee est ≥ true holds row by row (spec-pinned), and both
    // engines compute the identical integer cells, so the compare is
    // bitwise. At 100 TB the sketch answers point frequency queries with
    // 32 KB of state and one broadcast join.
    Q(
      "tx_cms_heavyhitters",
      s"""WITH tok AS (SELECT unnest(string_split(text,' ')) AS token FROM documents),
         |th AS (SELECT token, ${sid60Sql("token")} AS h FROM tok),
         |cells AS (
         |  SELECT r.j, (t.h >> (10*r.j)) & 1023 AS pos, count(*) AS cnt
         |  FROM th t CROSS JOIN range(4) r(j) GROUP BY 1, 2),
         |truth AS (SELECT token, any_value(h) AS h, count(*) AS true_count
         |          FROM th GROUP BY token),
         |top AS (SELECT * FROM truth ORDER BY true_count DESC, token LIMIT 20),
         |est AS (
         |  SELECT t.token, t.true_count, min(c.cnt) AS cms_est
         |  FROM top t JOIN cells c ON c.pos = (t.h >> (10*c.j)) & 1023
         |  GROUP BY 1, 2)
         |SELECT token, true_count, cms_est, cms_est - true_count AS overcount
         |FROM est ORDER BY true_count DESC, token""".stripMargin) { (s, d) =>
      // the shared graft.functions.Cms construction
      val th = T.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .withColumn("h", sid60(col("token")))
      val cells = graft.functions.Cms.cells(th)
      val top = th.groupBy(col("token"))
        .agg(first(col("h")).as("h"), count(lit(1)).as("true_count"))
        .orderBy(col("true_count").desc, col("token")).limit(20)
      graft.functions.Cms.estimate(top, cells)
        .select(col("token"), col("true_count"), col("cms_est"),
          (col("cms_est") - col("true_count")).as("overcount"))
        .orderBy(col("true_count").desc, col("token"))
    },

    // CMS shard-merge — the ADDITIVE half of the sketch-mergeability story
    // (the HLL union in `a15_hll_union` is the max-merge half): two
    // Count-Min sketches built INDEPENDENTLY over disjoint corpus shards
    // (doc_id parity — stand-in for per-partition / per-day partials at
    // 100 TB) merged by plain (j, pos) cell summation, then evaluated
    // against the sketch built over the whole corpus in one pass. The
    // `merge_delta` column is 0 on every row — merged-then-estimate equals
    // build-over-everything, the algebra that lets a 100 TB pipeline keep
    // one ≤4096-row sketch per shard and combine them without a second
    // scan. Same integer-exact construction as `tx_cms_heavyhitters`
    // (shared graft.functions.Cms, also the streaming gate's state).
    Q(
      "tx_cms_shard_merge",
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents),
         |th AS (SELECT doc_id, token, ${sid60Sql("token")} AS h FROM tok),
         |shardcells AS (
         |  SELECT t.doc_id % 2 AS shard, r.j, (t.h >> (10*r.j)) & 1023 AS pos, count(*) AS cnt
         |  FROM th t CROSS JOIN range(4) r(j) GROUP BY 1, 2, 3),
         |merged AS (SELECT j, pos, CAST(sum(cnt) AS BIGINT) AS cnt FROM shardcells GROUP BY 1, 2),
         |whole AS (
         |  SELECT r.j, (t.h >> (10*r.j)) & 1023 AS pos, count(*) AS cnt
         |  FROM th t CROSS JOIN range(4) r(j) GROUP BY 1, 2),
         |truth AS (SELECT token, any_value(h) AS h, count(*) AS true_count
         |          FROM th GROUP BY token),
         |top AS (SELECT * FROM truth ORDER BY true_count DESC, token LIMIT 20),
         |estm AS (
         |  SELECT t.token, t.true_count, min(c.cnt) AS cms_merged
         |  FROM top t JOIN merged c ON c.pos = (t.h >> (10*c.j)) & 1023
         |  GROUP BY 1, 2),
         |estw AS (
         |  SELECT t.token, min(c.cnt) AS cms_whole
         |  FROM top t JOIN whole c ON c.pos = (t.h >> (10*c.j)) & 1023
         |  GROUP BY 1)
         |SELECT m.token, m.true_count, m.cms_merged, w.cms_whole,
         |  m.cms_merged - w.cms_whole AS merge_delta
         |FROM estm m JOIN estw w USING (token)
         |ORDER BY m.true_count DESC, m.token""".stripMargin) { (s, d) =>
      val th = T.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .withColumn("h", sid60(col("token")))
      // two sketches, each built seeing only its shard
      val merged = graft.functions.Cms.cells(th.filter(col("doc_id") % 2 === 0))
        .unionByName(graft.functions.Cms.cells(th.filter(col("doc_id") % 2 =!= 0)))
        .groupBy(col("j"), col("pos")).agg(sum(col("cnt")).as("cnt"))
      val whole = graft.functions.Cms.cells(th)
      val top = th.groupBy(col("token"))
        .agg(first(col("h")).as("h"), count(lit(1)).as("true_count"))
        .orderBy(col("true_count").desc, col("token")).limit(20)
      val em = graft.functions.Cms.estimate(top, merged)
        .withColumnRenamed("cms_est", "cms_merged")
      val ew = graft.functions.Cms.estimate(top.select(col("token"), col("h")), whole)
        .withColumnRenamed("cms_est", "cms_whole").drop("h")
      em.join(ew, Seq("token"))
        .select(col("token"), col("true_count"), col("cms_merged"), col("cms_whole"),
          (col("cms_merged") - col("cms_whole")).as("merge_delta"))
        .orderBy(col("true_count").desc, col("token"))
    },

    // Corpus length-distribution report: per-language token-count
    // percentiles (EXACT linear-interpolated percentile, not approx — the
    // report a curation run prints before choosing length cutoffs). One
    // partial-agged groupBy; the per-group sort for the exact percentile is
    // bounded by group size (fine for a per-language report; use
    // approx_percentile when the grouping key is high-cardinality).
    Q(
      "tx_length_stats",
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  quantile_cont(n_tok, 0.5) AS p50,
        |  quantile_cont(n_tok, 0.9) AS p90,
        |  quantile_cont(n_tok, 0.99) AS p99
        |FROM (SELECT lang, len(string_split(text,' ')) AS n_tok FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      T.documents(s, d)
        .select(col("lang"), size(split(col("text"), " ")).cast(LongType).as("n_tok"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          expr("percentile(n_tok, array(0.5D, 0.9D, 0.99D))").as("p"))
        .select(col("lang"), col("n_docs"), col("total_tokens"),
          element_at(col("p"), 1).as("p50"),
          element_at(col("p"), 2).as("p90"),
          element_at(col("p"), 3).as("p99"))
        .orderBy(col("lang"))
    },

    // Token-rarity score — the cheap stand-in for CCNet-style LM-perplexity
    // filtering: rare-token-heavy documents score high. Weight per token =
    // floor(1e12 / corpus frequency) (integer-exact, so the cross-engine
    // compare is bitwise; a float 1/f would accumulate in engine-specific
    // order), doc score = mean weight. Deliberately NOT a global
    // frequency-rank: dense_rank over the whole vocabulary would funnel
    // 10^8 tokens through one partition at corpus scale — the inverse
    // frequency needs only the per-token count, one partial-agged shuffle.
    Q(
      "tx_rarity",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents),
        |freq AS (SELECT token, count(*) AS f FROM tok GROUP BY token),
        |w AS (SELECT t.doc_id, 1000000000000 // f.f AS wt FROM tok t JOIN freq f ON t.token = f.token)
        |SELECT doc_id,
        |  CAST(sum(wt) AS BIGINT) AS rarity_sum,
        |  count(*) AS n_tok,
        |  CAST(CAST(sum(wt) AS BIGINT) AS DOUBLE) / count(*) AS rarity
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tok = T.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("f"))
      tok.join(freq, Seq("token"))
        .select(col("doc_id"), expr("1000000000000 div f").as("wt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("wt")).as("rarity_sum"), count(lit(1)).as("n_tok"))
        .withColumn("rarity",
          col("rarity_sum").cast(DoubleType) / col("n_tok"))
        .select(col("doc_id"), col("rarity_sum"), col("n_tok"), col("rarity"))
        .orderBy(col("doc_id"))
    },

    // DSIR — data selection via importance resampling (hashed-unigram
    // variant): score every document by how much its hashed token
    // distribution looks like the TARGET slice (lang='en' stands in for
    // the curated target corpus) relative to the raw pool, then keep the
    // top-K. Plan shape at 100 TB: one partial-agged shuffle on
    // (doc_id, feature) builds per-doc feature counts; the per-feature
    // target/raw totals REUSE that table and collapse to ≤512 rows, which
    // broadcast back as the integer weight table; scoring is a broadcast
    // hash join + one doc_id-keyed partial agg; top-K is TakeOrdered. The
    // corpus is never joined to itself and nothing global is sorted.
    // Weights are add-one-smoothed integer likelihood ratios — tgt ≤ raw
    // always, so w ≤ Scale, and score ≤ n_tok·Scale (QualityOpsSpec pins
    // both bounds plus the en-vs-rest separation).
    Q(
      "tx_dsir",
      s"""WITH tok AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS token FROM documents),
         |df AS (SELECT doc_id, lang, ${sid60Sql("'dsir:'||token")} % $DsirBuckets AS f, count(*) AS c
         |  FROM tok GROUP BY 1, 2, 3),
         |feat AS (SELECT f, CAST(sum(c) AS BIGINT) AS raw_c,
         |    CAST(sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS tgt_c
         |  FROM df GROUP BY f),
         |llr AS (SELECT f, ($DsirScale * (tgt_c + 1)) // (raw_c + 1) AS w FROM feat)
         |SELECT d.doc_id, any_value(d.lang) AS lang,
         |  CAST(sum(d.c * l.w) AS BIGINT) AS score,
         |  CAST(sum(d.c) AS BIGINT) AS n_tok
         |FROM df d JOIN llr l ON d.f = l.f
         |GROUP BY d.doc_id
         |ORDER BY score DESC, doc_id LIMIT $DsirK""".stripMargin) { (s, d) =>
      // BOTH consumers (the per-feature totals and the scoring join) read
      // the same (doc_id, lang, f) aggregate, so Spark's exchange reuse
      // runs the tokenize+md5 map ONCE and replays its shuffle output —
      // measured 12.9 s vs 20.6 s on the 64× replica against the variant
      // that re-derived the feature totals straight off the token stream
      // (two full per-token md5 passes, the dominant cost at scale).
      // PlanSpec pins the ReusedExchange. Featurization/weights/scoring are
      // the SHARED dsirFeatures/dsirLlr/dsirScore definitions the offline
      // trainer and the streaming gate also run.
      val df = dsirFeatures(T.documents(s, d), Seq("lang"))
      val llr = dsirLlr(df)
      df.join(broadcast(llr), Seq("f"))
        .groupBy(col("doc_id"))
        .agg(first(col("lang")).as("lang"),
          sum(col("c") * col("w")).as("score"),
          sum(col("c")).as("n_tok"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(DsirK)
        .select(col("doc_id"), col("lang"), col("score"), col("n_tok"))
    },

    // The "R" in DSIR — importance RESAMPLING, not just ranking: draw K
    // docs with probability increasing in the importance score, via the
    // deterministic hash-race form of the Efraimidis-Spirakis weighted
    // reservoir (key = u/score for u a fresh md5-uniform 60-bit draw;
    // smaller key wins, a doubled score halves the expected key). Taking
    // raw top-score (tx_dsir's K) concentrates on one mode; the
    // randomized race keeps diversity while still tilting toward the
    // target distribution — the property importance RESAMPLING exists
    // for. Exactness: score is the shared integer DSIR sum, u is an
    // exact integer, and u/score is ONE IEEE division — bitwise equal on
    // both engines. Plan: the tx_dsir scoring chain (shared helpers) + a
    // narrow key map + distributed TakeOrdered; the rank window runs over
    // only the K winners (the tx_weighted_sample shape).
    Q(
      "tx_dsir_sample",
      s"""WITH tok AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS token FROM documents),
         |df AS (SELECT doc_id, lang, ${sid60Sql("'dsir:'||token")} % $DsirBuckets AS f, count(*) AS c
         |  FROM tok GROUP BY 1, 2, 3),
         |feat AS (SELECT f, CAST(sum(c) AS BIGINT) AS raw_c,
         |    CAST(sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS tgt_c
         |  FROM df GROUP BY f),
         |llr AS (SELECT f, ($DsirScale * (tgt_c + 1)) // (raw_c + 1) AS w FROM feat),
         |sc AS (SELECT d.doc_id, CAST(sum(d.c * l.w) AS BIGINT) AS score
         |  FROM df d JOIN llr l ON d.f = l.f GROUP BY d.doc_id),
         |keyed AS (SELECT doc_id, score,
         |    CAST(${sid60Sql("'dsirs:'||CAST(doc_id AS VARCHAR)")} AS DOUBLE) / greatest(score, 1) AS skey
         |  FROM sc)
         |SELECT doc_id, score, skey,
         |  ROW_NUMBER() OVER (ORDER BY skey, doc_id) AS rnk
         |FROM keyed ORDER BY skey, doc_id LIMIT $DsirK""".stripMargin) { (s, d) =>
      val df = dsirFeatures(T.documents(s, d), Seq("lang"))
      // greatest(score, 1): the add-one-smoothed LLR weight floors to 0
      // once a bucket's raw count exceeds ~Scale*(tgt+1) — unreachable at
      // bench scale but routine at 100 TB — and a doc whose buckets all
      // carry w=0 would score 0, making u/score an engine-divergent
      // division (Spark Infinity vs DuckDB's ieee_floating_point_ops
      // setting). Clamping the denominator keeps it ONE IEEE division,
      // still bitwise on both engines, and ranks zero-score docs last-ish
      // (key = u) instead of diverging.
      val keyed = dsirScore(df, dsirLlr(df))
        .withColumn("skey",
          sid60(concat(lit("dsirs:"), col("doc_id").cast(StringType)))
            .cast(DoubleType) / greatest(col("score"), lit(1L)))
      keyed.orderBy(col("skey"), col("doc_id")).limit(DsirK)
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("skey"), col("doc_id"))).cast(LongType))
        .select(col("doc_id"), col("score"), col("skey"), col("rnk"))
    },

    // The RETRAIN-DRIFT audit as an oracle-checked BATCH query (round 11)
    // — the number an operator reads before promoting a retrained DSIR
    // weight table: two weight tables trained on disjoint corpus
    // halves (even/odd doc_id), every document scored against BOTH
    // through the shared dsirScore chain (LEFT join + coalesce(w,0): a
    // bucket absent from the other half's table contributes 0, exactly
    // the streaming gate's rule), and a per-document admit verdict under
    // each with its flip flag. The admission threshold SELF-CALIBRATES as
    // each table's own corpus per-token mean via ONE integer division
    // (sum(score) div sum(n_tok) — a broadcast scalar head, the engine's
    // documented 1-row crossJoin pattern), so the query splits any corpus
    // rather than depending on an SF-tuned constant; the admit compare is
    // the cross-multiplied integer form score >= thr*n_tok — no floats
    // anywhere. The threshold sums accumulate in DECIMAL(38,0) (round 12):
    // an int64 corpus-sum would cap the query at ~1e13 tokens; 128-bit
    // decimal accumulation (the a12_moment_stats precedent) removes the
    // ceiling while `div` still yields the identical BIGINT mean — the
    // oracle's HUGEINT sum is DuckDB's native equivalent, so the compare
    // is unchanged at any scale. The per-doc compare stays pure int64
    // (per-doc sums are bounded by document size, not corpus size).
    Q(
      "tx_dsir_drift",
      s"""WITH tok AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS token FROM documents),
         |df AS (SELECT doc_id, lang, ${sid60Sql("'dsir:'||token")} % $DsirBuckets AS f, count(*) AS c
         |  FROM tok GROUP BY 1, 2, 3),
         |featA AS (SELECT f, CAST(sum(c) AS BIGINT) AS raw_c,
         |    CAST(sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS tgt_c
         |  FROM df WHERE doc_id % 2 = 0 GROUP BY f),
         |llrA AS (SELECT f, ($DsirScale * (tgt_c + 1)) // (raw_c + 1) AS w FROM featA),
         |featB AS (SELECT f, CAST(sum(c) AS BIGINT) AS raw_c,
         |    CAST(sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS tgt_c
         |  FROM df WHERE doc_id % 2 = 1 GROUP BY f),
         |llrB AS (SELECT f, ($DsirScale * (tgt_c + 1)) // (raw_c + 1) AS w FROM featB),
         |scA AS (SELECT d.doc_id, CAST(sum(d.c * COALESCE(l.w, 0)) AS BIGINT) AS score,
         |    CAST(sum(d.c) AS BIGINT) AS n_tok
         |  FROM df d LEFT JOIN llrA l ON d.f = l.f GROUP BY 1),
         |scB AS (SELECT d.doc_id, CAST(sum(d.c * COALESCE(l.w, 0)) AS BIGINT) AS score,
         |    CAST(sum(d.c) AS BIGINT) AS n_tok
         |  FROM df d LEFT JOIN llrB l ON d.f = l.f GROUP BY 1),
         |thrA AS (SELECT CAST(sum(score) AS BIGINT) // CAST(sum(n_tok) AS BIGINT) AS t FROM scA),
         |thrB AS (SELECT CAST(sum(score) AS BIGINT) // CAST(sum(n_tok) AS BIGINT) AS t FROM scB)
         |SELECT a.doc_id,
         |  a.score >= thrA.t * a.n_tok AS admit_old,
         |  b.score >= thrB.t * b.n_tok AS admit_new,
         |  (a.score >= thrA.t * a.n_tok) <> (b.score >= thrB.t * b.n_tok) AS flip
         |FROM scA a JOIN scB b USING (doc_id), thrA, thrB
         |ORDER BY a.doc_id""".stripMargin) { (s, d) =>
      // ONE shared featurization feeds both trainers and both scorers —
      // the corpus is tokenized and hashed once (the tx_dsir exchange-
      // reuse discipline), then each half's LLR table derives from a
      // parity filter over the same frame. localCheckpoint, NOT persist
      // (the round-11 defect): tx_dsir builds the IDENTICAL logical frame,
      // so a persist() here is substituted by the CacheManager into the
      // sibling's plan session-wide, destroying the ReusedExchange that
      // PlanSpec pins (and leaking the cached frame for the session's
      // lifetime). Checkpointing severs the lineage — the shared compute
      // is still paid once, but the frame can never alias a sibling plan.
      val df = dsirFeatures(T.documents(s, d), Seq("lang"))
        .localCheckpoint(eager = true)
      val wA = dsirLlr(df.filter(pmod(col("doc_id"), lit(2L)) === 0))
      val wB = dsirLlr(df.filter(pmod(col("doc_id"), lit(2L)) === 1))
      def admitsUnder(w: DataFrame, flag: String): DataFrame = {
        val sc = dsirScore(df, w)
        // 128-bit accumulation: sum in DECIMAL(38,0) so the corpus-wide
        // score/token totals never hit the int64 ceiling (~1e13 tokens);
        // `div` on decimals is still exact integral division → BIGINT t.
        // The oracle's sum() is DuckDB HUGEINT — the same 128-bit math.
        val thr = sc.agg(expr(
          "sum(CAST(score AS DECIMAL(38,0))) div sum(CAST(n_tok AS DECIMAL(38,0)))")
          .cast(LongType).as("t"))
        sc.crossJoin(broadcast(thr))
          .select(col("doc_id"),
            (col("score") >= col("t") * col("n_tok")).as(flag))
      }
      admitsUnder(wA, "admit_old")
        .join(admitsUnder(wB, "admit_new"), Seq("doc_id"))
        .withColumn("flip", col("admit_old") =!= col("admit_new"))
        .orderBy(col("doc_id"))
    },

    // Incremental dedup — the production shape: a NEW batch (here the
    // deterministic top-10%-of-doc_id slice) checked against the existing
    // corpus's fingerprint index, without re-clustering the corpus. Exact
    // fingerprint semi-join: new docs whose normalized-text md5 already
    // exists in the index are drops, the rest are admits. One shuffle on
    // the uniform 128-bit fingerprint; at 100 TB the index side is a
    // pre-bucketed fingerprint table so the probe is a co-located join.
    Q(
      "dd_incremental",
      """WITH fp AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |    doc_id >= (SELECT (max(doc_id)*9)//10 FROM documents) AS is_new
        |  FROM documents),
        |idx AS (SELECT DISTINCT fp FROM fp WHERE NOT is_new)
        |SELECT f.doc_id, f.fp,
        |  (i.fp IS NOT NULL) AS is_dup
        |FROM (SELECT * FROM fp WHERE is_new) f LEFT JOIN idx i ON f.fp = i.fp
        |ORDER BY f.doc_id""".stripMargin) { (s, d) =>
      val fp = T.documents(s, d)
        .select(col("doc_id"), md5(norm(col("text"))).as("fp"))
      // pure integer math: (max*9) div 10 on BOTH engines — a float 0.9
      // cut would round-to-nearest in DuckDB but truncate in Spark,
      // flipping the boundary document whenever frac(max*0.9) >= 0.5.
      val cut = fp.agg(expr("(max(doc_id)*9) div 10").as("cut"))
      val withCut = fp.crossJoin(broadcast(cut))
      val idx = withCut.filter(col("doc_id") < col("cut")).select(col("fp")).distinct()
      withCut.filter(col("doc_id") >= col("cut"))
        .join(idx.withColumn("hit", lit(true)), Seq("fp"), "left")
        .select(col("doc_id"), col("fp"),
          coalesce(col("hit"), lit(false)).as("is_dup"))
        .orderBy(col("doc_id"))
    },

    // One BPE learning round: adjacent-character pair frequencies over the
    // word stream, top-32 — the aggregation each iteration of tokenizer
    // training runs (the full loop re-encodes between rounds; the pinned
    // result of running it to 32 merges is graft.plans.Bpe.CorpusMerges).
    // One partial-agged shuffle on the pair; top-k via TakeOrdered.
    Q(
      "tx_bpe_learn",
      """SELECT pair, count(*) AS cnt FROM (
        |  SELECT unnest(list_transform(range(1, len(wd)), i -> substr(wd, CAST(i AS INTEGER), 2))) AS pair
        |  FROM (SELECT unnest(string_split(text,' ')) AS wd FROM documents)
        |  WHERE len(wd) >= 2)
        |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 32""".stripMargin) { (s, d) =>
      T.documents(s, d)
        .select(explode(split(col("text"), " ")).as("wd"))
        .filter(length(col("wd")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(wd) - 1), i -> substring(wd, i, 2))")).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(32)
    },

    // The FULL distributed BPE training loop (Bpe.train): 32 rounds of
    // count-pairs → global argmax → re-encode, each round one distributed
    // job over the distinct-word table. The oracle replays round r's pair
    // count with the PINNED prefix merges via the provably-equivalent
    // chained-replace encoding (see BpeExpressions scaladoc) and takes the
    // same argmax — so the row is green iff the derivation reproduces
    // Bpe.CorpusMerges from the data, which BpeSpec asserts directly.
    // Scale pin: CorpusMerges is trained from the sf0.01 corpus (the
    // verify scale), so this oracle compares green there and ONLY there —
    // on a corpus with different text the live training rightly diverges
    // from the pinned unroll (a dynamic 32-round unroll, where each
    // round's winner feeds the next round's encoding, is not expressible
    // in one SQL text; the pin is what makes the spec writable at all).
    Q(
      "tx_bpe_train", {
        val rounds = (1 to 32).map { r =>
          val chain = Bpe.CorpusMerges.take(r - 1).foldLeft(
            "regexp_replace(word, '(.)', '<\\1>', 'g')") { case (acc, (a, b)) =>
            s"replace($acc, '<$a><$b>', '<$a$b>')"
          }
          s"""sel$r AS (
             |  SELECT CAST($r AS BIGINT) AS rank, a, b FROM (
             |    SELECT p.a AS a, p.b AS b, sum(cnt) AS c FROM (
             |      SELECT cnt, unnest(list_transform(range(1, len(t)),
             |        i -> {'a': t[i], 'b': t[i+1]})) AS p
             |      FROM (SELECT cnt, string_split(trim(BOTH '<>' FROM $chain), '><') AS t
             |            FROM words)
             |      WHERE len(t) >= 2)
             |    GROUP BY 1, 2)
             |  ORDER BY c DESC, a, b LIMIT 1)""".stripMargin
        }
        val union = (1 to 32).map(r => s"SELECT * FROM sel$r").mkString(" UNION ALL ")
        s"""WITH words AS (
           |  SELECT word, count(*) AS cnt FROM (
           |    SELECT unnest(string_split(text,' ')) AS word FROM documents)
           |  WHERE word <> '' GROUP BY word),
           |${rounds.mkString(",\n")}
           |SELECT rank, a, b FROM ($union) ORDER BY rank""".stripMargin
      }) { (s, d) =>
      import s.implicits._
      Bpe.train(T.documents(s, d), 32).zipWithIndex
        .map { case ((a, b), i) => (i + 1L, a, b) }
        .toDF("rank", "a", "b")
        .orderBy(col("rank"))
    },

    // Real BPE tokenization via the custom expression (true greedy merge
    // loop, graft.plans.BpeEncodeExpr); the oracle replays the SAME pinned
    // merge list as 32 boundary-safe chained replaces over <c>-wrapped
    // characters — provably the same semantics (see BpeExpressions
    // scaladoc). Narrow map: the whole tokenization is one codegen'd
    // projection, no shuffle.
    Q(
      "tx_bpe_encode", {
        // '<a><b>' → '<ab>', folded in rank order
        val chain = Bpe.CorpusMerges.foldLeft(
          "regexp_replace(w, '(.)', '<\\1>', 'g')") { case (acc, (a, b)) =>
          s"replace($acc, '<$a><$b>', '<$a$b>')"
        }
        // empty/whitespace-only docs: list_aggregate([]) is NULL in DuckDB
        // while the Spark expression returns an empty array — the CASE
        // pins both engines to n_bpe=0, head8=''.
        s"""SELECT doc_id, len(toks) AS n_bpe, array_to_string(toks[1:8], '|') AS head8
           |FROM (
           |  SELECT doc_id,
           |    CASE WHEN agg IS NULL THEN CAST([] AS VARCHAR[])
           |         ELSE string_split(trim(BOTH '<>' FROM agg), '><') END AS toks
           |  FROM (
           |    SELECT doc_id, list_aggregate(
           |      list_transform(list_filter(string_split(text,' '), w -> w <> ''),
           |        w -> $chain),
           |      'string_agg', '') AS agg
           |    FROM documents))
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val toks = toCol(BpeEncodeExpr(toExpr(col("text"))))
      T.documents(s, d)
        .select(col("doc_id"),
          size(toks).cast(LongType).as("n_bpe"),
          array_join(slice(toks, 1, 8), "|").as("head8"))
        .orderBy(col("doc_id"))
    },

    // Tokenizer FERTILITY per language — subword tokens per whitespace word
    // under the real corpus-trained BPE vocabulary: the number that tells a
    // pretraining pipeline how a tokenizer taxes each language's token
    // budget (fertility ≫ 1 → the language pays more sequence length for
    // the same text). Reuses the true greedy-merge encoder expression and
    // its provably-equivalent chained-replace oracle; one codegen'd narrow
    // map + a K-row rollup, integer sums with the one IEEE division at the
    // end.
    Q(
      "tx_bpe_fertility", {
        val chain = Bpe.CorpusMerges.foldLeft(
          "regexp_replace(w, '(.)', '<\\1>', 'g')") { case (acc, (a, b)) =>
          s"replace($acc, '<$a><$b>', '<$a$b>')"
        }
        s"""WITH per AS (
           |  SELECT doc_id, lang,
           |    CASE WHEN agg IS NULL THEN 0
           |         ELSE len(string_split(trim(BOTH '<>' FROM agg), '><')) END AS n_bpe,
           |    n_words
           |  FROM (
           |    SELECT doc_id, lang,
           |      list_aggregate(
           |        list_transform(list_filter(string_split(text,' '), w -> w <> ''),
           |          w -> $chain), 'string_agg', '') AS agg,
           |      len(list_filter(string_split(text,' '), w -> w <> '')) AS n_words
           |    FROM documents))
           |SELECT lang, count(*) AS n_docs,
           |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe,
           |  CAST(sum(n_words) AS BIGINT) AS n_words,
           |  CAST(CAST(sum(n_bpe) AS BIGINT) AS DOUBLE)
           |    / CAST(sum(n_words) AS BIGINT) AS fertility
           |FROM per GROUP BY lang ORDER BY lang""".stripMargin
      }) { (s, d) =>
      val toks = toCol(BpeEncodeExpr(toExpr(col("text"))))
      T.documents(s, d)
        .select(col("lang"),
          size(toks).cast(LongType).as("n_bpe"),
          size(expr("filter(split(text, ' '), w -> w != '')"))
            .cast(LongType).as("n_words"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bpe")).as("n_bpe"),
          sum(col("n_words")).as("n_words"),
          (sum(col("n_bpe")).cast(DoubleType) / sum(col("n_words")))
            .as("fertility"))
        .orderBy(col("lang"))
    },

    // Bigram-LM fluency proxy (the CCNet/KenLM quality-filter shape made
    // ENGINE-EXACT): score each document by the mean scaled conditional
    // likelihood of its bigrams under the corpus's own add-one-smoothed
    // bigram model — integer per-million ((c2·1e6) div (c1 + V)) instead of
    // log-probability, because ln() is not bit-identical across engines
    // while integer division is; the ORDERING (what a quality cutoff
    // consumes) is preserved for fixed document length. Gibberish scores
    // near zero (unseen bigrams), formulaic text scores high. Shapes: two
    // map-side-combining count shuffles (bigram, unigram), the corpus
    // joins each on its uniform key, one per-doc rollup — the tx_rarity
    // cost envelope, nothing corpus².
    Q(
      "tx_lm_score",
      s"""WITH $LmCte
         |SELECT doc_id, n_bigrams, lm_ppm FROM lmsc ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        lmScores(s, d).select(col("doc_id"), col("n_bigrams"), col("lm_ppm"))
          .orderBy(col("doc_id"))
    },

    // CCNet's head/middle/tail bucketing — the step that consumes the LM
    // score: the corpus splits into equal-mass terciles of the fluency
    // distribution (head = most fluent third), with the two cut points
    // computed as EXACT distributed order statistics over the integer
    // lm_ppm values (per-value histogram + the Prefix two-level cumsum —
    // the tx_quality_cutoff machinery; never a global sort, reproducible
    // reruns). Value-based thresholds make tie handling deterministic on
    // both engines: equal scores always land in the same bucket. Docs too
    // short to score (< 2 tokens) bucket as 'na'.
    Q(
      "tx_ccnet_bucket",
      s"""WITH $LmCte,
         |scored AS (SELECT * FROM lmsc WHERE lm_ppm IS NOT NULL),
         |nn2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scored),
         |h AS (SELECT lm_ppm, count(*) AS c FROM scored GROUP BY lm_ppm),
         |cum AS (SELECT lm_ppm, sum(c) OVER (ORDER BY lm_ppm) AS cm FROM h),
         |t1 AS (SELECT min(lm_ppm) AS v FROM cum, nn2 WHERE cm >= n//3),
         |t2 AS (SELECT min(lm_ppm) AS v FROM cum, nn2 WHERE cm >= (2*n)//3)
         |SELECT l.doc_id, l.lm_ppm,
         |  CASE WHEN l.lm_ppm IS NULL THEN 'na'
         |       WHEN l.lm_ppm <= t1.v THEN 'tail'
         |       WHEN l.lm_ppm <= t2.v THEN 'middle'
         |       ELSE 'head' END AS bucket
         |FROM lmsc l, t1, t2 ORDER BY l.doc_id""".stripMargin) { (s, d) =>
      // localCheckpoint, not persist (cache-hygiene rule): the histogram
      // pass and the final bucket join both read the scores — without the
      // pin the whole bigram pipeline runs twice — but a persist() would
      // outlive the query in the session CacheManager and alias any
      // sibling plan building the same frame (the tx_dsir_drift lesson).
      val lm = lmScores(s, d).localCheckpoint(eager = true)
      val scored = lm.filter(col("lm_ppm").isNotNull)
      val nn = scored.agg(count(lit(1)).as("n"))
      val h = scored.groupBy(col("lm_ppm")).agg(count(lit(1)).as("c"))
      val off = graft.core.Prefix.exclusiveCumsum(
        h, Seq.empty, "lm_ppm", expr("lm_ppm div 256"), "c")
      val cum = h.join(broadcast(off), Seq("lm_ppm"))
        .withColumn("cm", col("offset") + col("c"))
        .crossJoin(broadcast(nn))
      // both cut points in ONE aggregation job (min-over-filtered), not two
      val cuts = cum.agg(
        min(when(col("cm") >= expr("n div 3"), col("lm_ppm"))).as("v1"),
        min(when(col("cm") >= expr("(2*n) div 3"), col("lm_ppm"))).as("v2"))
      lm.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("lm_ppm"),
          when(col("lm_ppm").isNull, "na")
            .when(col("lm_ppm") <= col("v1"), "tail")
            .when(col("lm_ppm") <= col("v2"), "middle")
            .otherwise("head").as("bucket"))
        .orderBy(col("doc_id"))
    },

    // Chunk + sequence packing (pretraining concat-and-chop): lay each
    // language's documents end to end in doc_id order and chop the token
    // stream into 512-token sequences; report the sequence span each
    // document lands in. The global per-language offset is the two-pass
    // cumsum (local window per (lang, 256-doc range bucket) + broadcast
    // bucket offsets) — no single-partition window, no skew funnel when
    // one language dominates the corpus.
    Q(
      "tx_chunk_pack",
      s"""SELECT doc_id, lang, n_tok,
         |  CAST((cum - n_tok) // $PackSeqLen AS BIGINT) AS first_seq,
         |  CAST((cum - 1) // $PackSeqLen AS BIGINT) AS last_seq,
         |  CAST((cum - 1) // $PackSeqLen - (cum - n_tok) // $PackSeqLen + 1 AS BIGINT) AS n_seqs
         |FROM (
         |  SELECT doc_id, lang, n_tok,
         |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
         |  FROM (SELECT doc_id, lang, len(string_split(text,' ')) AS n_tok FROM documents))
         |ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      val base = T.documents(s, d).select(
        col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"),
        (col("doc_id") / PackBucket).cast(LongType).as("bkt"))
      val wLocal = Window.partitionBy(col("lang"), col("bkt")).orderBy(col("doc_id"))
      // per-(lang, bucket) totals → cumulative offsets via the two-level
      // prefix sum (core.Prefix) — O(B²/65536) instead of the naive range
      // self-join, still no single-partition window
      val totals = base.groupBy(col("lang"), col("bkt"))
        .agg(sum(col("n_tok")).as("tot"))
      val offsets = graft.core.Prefix.exclusiveCumsum(totals, Seq("lang"),
        "bkt", expr("bkt div 256"), "tot")
      base
        .withColumn("cum_local", sum(col("n_tok")).over(wLocal))
        .join(broadcast(offsets), Seq("lang", "bkt"))
        .withColumn("cum", col("offset") + col("cum_local"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          expr(s"(cum - n_tok) div $PackSeqLen").as("first_seq"),
          expr(s"(cum - 1) div $PackSeqLen").as("last_seq"),
          expr(s"(cum - 1) div $PackSeqLen - (cum - n_tok) div $PackSeqLen + 1")
            .as("n_seqs"))
        .orderBy(col("lang"), col("doc_id"))
    },

    // Sequence packing by REAL tokenizer counts — tx_chunk_pack measured in
    // whitespace tokens; the budget a pretraining run actually packs
    // against is BPE subwords. Same two-pass bucketed cumsum (per-(lang,
    // 256-doc bucket) window + Prefix offsets, no single-partition window),
    // with per-document counts from the true greedy-merge encoder (the
    // codegen'd expression; oracle replays the provably-equivalent chained
    // replaces). A doc that encodes to zero tokens packs into no sequence
    // (NULL span) on both engines.
    Q(
      "tx_pack_bpe", {
        val chain = Bpe.CorpusMerges.foldLeft(
          "regexp_replace(w, '(.)', '<\\1>', 'g')") { case (acc, (a, b)) =>
          s"replace($acc, '<$a><$b>', '<$a$b>')"
        }
        s"""WITH nb AS (
           |  SELECT doc_id, lang,
           |    CASE WHEN agg IS NULL THEN 0
           |         ELSE len(string_split(trim(BOTH '<>' FROM agg), '><')) END AS n_bpe
           |  FROM (
           |    SELECT doc_id, lang,
           |      list_aggregate(
           |        list_transform(list_filter(string_split(text,' '), w -> w <> ''),
           |          w -> $chain), 'string_agg', '') AS agg
           |    FROM documents)),
           |c AS (SELECT doc_id, lang, n_bpe,
           |        sum(n_bpe) OVER (PARTITION BY lang ORDER BY doc_id) AS cum FROM nb)
           |SELECT doc_id, lang, n_bpe,
           |  CASE WHEN n_bpe > 0 THEN CAST((cum - n_bpe) // $PackSeqLen AS BIGINT) END AS first_seq,
           |  CASE WHEN n_bpe > 0 THEN CAST((cum - 1) // $PackSeqLen AS BIGINT) END AS last_seq,
           |  CASE WHEN n_bpe > 0 THEN CAST((cum - 1) // $PackSeqLen
           |    - (cum - n_bpe) // $PackSeqLen + 1 AS BIGINT) END AS n_seqs
           |FROM c ORDER BY lang, doc_id""".stripMargin
      }) { (s, d) =>
      val toks = toCol(BpeEncodeExpr(toExpr(col("text"))))
      val base = T.documents(s, d).select(
        col("doc_id"), col("lang"),
        size(toks).cast(LongType).as("n_bpe"),
        (col("doc_id") / PackBucket).cast(LongType).as("bkt"))
      val wLocal = Window.partitionBy(col("lang"), col("bkt")).orderBy(col("doc_id"))
      val totals = base.groupBy(col("lang"), col("bkt"))
        .agg(sum(col("n_bpe")).as("tot"))
      val offsets = graft.core.Prefix.exclusiveCumsum(totals, Seq("lang"),
        "bkt", expr("bkt div 256"), "tot")
      base
        .withColumn("cum_local", sum(col("n_bpe")).over(wLocal))
        .join(broadcast(offsets), Seq("lang", "bkt"))
        .withColumn("cum", col("offset") + col("cum_local"))
        .select(col("doc_id"), col("lang"), col("n_bpe"),
          when(col("n_bpe") > 0,
            expr(s"(cum - n_bpe) div $PackSeqLen")).as("first_seq"),
          when(col("n_bpe") > 0,
            expr(s"(cum - 1) div $PackSeqLen")).as("last_seq"),
          when(col("n_bpe") > 0,
            expr(s"(cum - 1) div $PackSeqLen - (cum - n_bpe) div $PackSeqLen + 1"))
            .as("n_seqs"))
        .orderBy(col("lang"), col("doc_id"))
    },

    // Corpus-relative quality cutoff — the dynamic-threshold filter a
    // curation run applies ("keep the top quartile") instead of a hand-tuned
    // constant. The threshold is an EXACT distributed order statistic: the
    // k-th smallest quality (k = 3n/4) found from the per-value histogram +
    // the two-level prefix sum — never a global sort and never a
    // single-partition window (the histogram has ≤ 1e6+1 distinct
    // micro-values regardless of corpus size, and only IT is ranked). Exact
    // rather than approx_percentile because a threshold that differs
    // per-run would make reruns non-reproducible — the property curation
    // pipelines need for auditability.
    Q(
      "tx_quality_cutoff",
      s"""WITH $qualityDocsSql,
         |n AS (SELECT greatest((count(*)*3)//4, 1) AS k FROM ql),
         |h AS (SELECT qmicro, count(*) AS c FROM ql GROUP BY qmicro),
         |cum AS (SELECT qmicro, sum(c) OVER (ORDER BY qmicro) AS cm FROM h),
         |thr AS (SELECT min(qmicro) AS thr FROM cum, n WHERE cm >= n.k)
         |SELECT ql.doc_id, ql.qmicro, thr.thr AS thr, ql.qmicro >= thr.thr AS keep
         |FROM ql, thr ORDER BY ql.doc_id""".stripMargin) { (s, d) =>
      val q = qualityDocs(s, d)
      val k = q.agg(greatest(expr("(count(*)*3) div 4"), lit(1L)).as("k"))
      val h = q.groupBy(col("qmicro")).agg(count(lit(1)).as("c"))
      val off = graft.core.Prefix.exclusiveCumsum(
        h, Seq.empty, "qmicro", expr("qmicro div 256"), "c")
      val thr = h.join(broadcast(off), Seq("qmicro"))
        .withColumn("cm", col("offset") + col("c"))
        .crossJoin(broadcast(k))
        .filter(col("cm") >= col("k"))
        .agg(min(col("qmicro")).as("thr"))
      q.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("qmicro"), col("thr"),
          (col("qmicro") >= col("thr")).as("keep"))
        .orderBy(col("doc_id"))
    },

    // Token-budget corpus selection — "take the best documents until the
    // budget is spent" (here: half the corpus's tokens), the final step of
    // a curation funnel. Documents are laid out in quality-descending order
    // (tie-broken by doc_id) and admitted while the running token total
    // fits. The global ordered cumsum is two-pass like tx_chunk_pack, but
    // the buckets are EQUI-DEPTH: repartitionByRange on the full
    // (inv, doc_id) sort key lets Spark's range partitioner sample the
    // actual distribution and split even exact-value tie masses by doc_id —
    // no partition sees more than ~n/partitions rows NO MATTER how the
    // quality distribution clusters (a fixed-width value band would funnel
    // a spiky corpus through one window). Partition ids are ordered ranges
    // of the sort key, so they serve directly as Prefix bucket ids; the
    // bucket boundaries are sampling-dependent but the reconstructed global
    // cumsum is not. `ranged` is localCheckpoint'd so the window pass and
    // the totals pass see ONE sampled partitioning (RangePartitioner
    // re-samples per execution — two lineages could otherwise disagree on
    // bucket membership and corrupt the offsets; a checkpoint pins the
    // assignment structurally where a cache pin only holds until
    // eviction).
    Q(
      "tx_budget_select",
      s"""WITH $qualityDocsSql,
         |b AS (SELECT sum(n_tok)//2 AS budget FROM ql),
         |c AS (SELECT doc_id, qmicro, n_tok,
         |        CAST(sum(n_tok) OVER (ORDER BY $QMicroMax - qmicro, doc_id) AS BIGINT) AS cum
         |      FROM ql)
         |SELECT c.doc_id, c.qmicro, c.n_tok, c.cum, c.cum <= b.budget AS admitted
         |FROM c, b ORDER BY c.doc_id""".stripMargin) { (s, d) =>
      val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
      // localCheckpoint, not persist: the window pass and the totals pass
      // BOTH consume `bkt`, and bkt is only meaningful if they see one
      // sampled RangePartitioner execution. A cache pin gives that only
      // while every partition stays cached; checkpointing truncates the
      // lineage so bucket assignment is STRUCTURALLY fixed — a consumer
      // can never silently recompute through a fresh range sample (it
      // would fail loudly on storage loss instead of corrupting cumsums).
      val ranged = qualityDocs(s, d)
        .withColumn("inv", lit(QMicroMax) - col("qmicro"))
        .repartitionByRange(nPart, col("inv"), col("doc_id"))
        .withColumn("bkt", spark_partition_id().cast(LongType))
        .localCheckpoint()
      val budget = ranged.agg(expr("sum(n_tok) div 2").as("budget"))
      val wLocal = Window.partitionBy(col("bkt")).orderBy(col("inv"), col("doc_id"))
      val totals = ranged.groupBy(col("bkt")).agg(sum(col("n_tok")).as("tot"))
      val offsets = graft.core.Prefix.exclusiveCumsum(
        totals, Seq.empty, "bkt", expr("bkt div 256"), "tot")
      ranged
        .withColumn("cum_local", sum(col("n_tok")).over(wLocal))
        .join(broadcast(offsets), Seq("bkt"))
        .withColumn("cum", col("offset") + col("cum_local"))
        .crossJoin(broadcast(budget))
        .select(col("doc_id"), col("qmicro"), col("n_tok"), col("cum"),
          (col("cum") <= col("budget")).as("admitted"))
        .orderBy(col("doc_id"))
    },

    // EPOCH-REPEAT allocation under a token budget (data-constrained
    // scaling, Muennighoff et al. 2023: with data the binding constraint,
    // repeating the best documents up to ~4 epochs beats one epoch of
    // everything). Every document trains once; the EXTRA budget — one more
    // corpus-worth of tokens here — buys up to 3 repeat epochs, granted in
    // quality-descending order until it runs out, the marginal document
    // taking the integer floor of what remains. The greedy is
    // order-dependent, so it is computed as ONE arithmetic expression over
    // the global ordered cumsum of 3·n_tok — the same two-pass equi-depth
    // ranged cumsum as tx_budget_select (RangePartitioner samples the
    // skewed quality key; localCheckpoint pins one sampled assignment for
    // both passes). All-integer outputs: no float in the hash.
    Q(
      "tx_epoch_repeat",
      s"""WITH $qualityDocsSql,
         |t AS (SELECT CAST(sum(n_tok) AS BIGINT) AS extra FROM ql),
         |c AS (SELECT doc_id, qmicro, n_tok,
         |        CAST(sum(3*n_tok) OVER (ORDER BY $QMicroMax - qmicro, doc_id) AS BIGINT) AS cumx
         |      FROM ql)
         |SELECT c.doc_id, c.qmicro, c.n_tok,
         |  CAST(1 + (CASE WHEN c.n_tok = 0 OR c.cumx <= t.extra THEN 3
         |       WHEN c.cumx - 3*c.n_tok >= t.extra THEN 0
         |       ELSE (t.extra - (c.cumx - 3*c.n_tok)) // c.n_tok END) AS BIGINT) AS epochs,
         |  CAST((1 + (CASE WHEN c.n_tok = 0 OR c.cumx <= t.extra THEN 3
         |       WHEN c.cumx - 3*c.n_tok >= t.extra THEN 0
         |       ELSE (t.extra - (c.cumx - 3*c.n_tok)) // c.n_tok END)) * c.n_tok AS BIGINT) AS rep_tokens
         |FROM c, t ORDER BY c.doc_id""".stripMargin) { (s, d) =>
      val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
      // same checkpoint rationale as tx_budget_select: the window pass and
      // the totals pass must see ONE sampled range partitioning
      val ranged = qualityDocs(s, d)
        .withColumn("inv", lit(QMicroMax) - col("qmicro"))
        .repartitionByRange(nPart, col("inv"), col("doc_id"))
        .withColumn("bkt", spark_partition_id().cast(LongType))
        .localCheckpoint()
      val extra = ranged.agg(sum(col("n_tok")).cast(LongType).as("extra"))
      val wLocal = Window.partitionBy(col("bkt")).orderBy(col("inv"), col("doc_id"))
      val totals = ranged.groupBy(col("bkt")).agg(sum(expr("3*n_tok")).as("tot"))
      val offsets = graft.core.Prefix.exclusiveCumsum(
        totals, Seq.empty, "bkt", expr("bkt div 256"), "tot")
      ranged
        .withColumn("cum_local", sum(expr("3*n_tok")).over(wLocal))
        .join(broadcast(offsets), Seq("bkt"))
        .withColumn("cumx", col("offset") + col("cum_local"))
        .crossJoin(broadcast(extra))
        .withColumn("ep_extra",
          when(col("n_tok") === 0 || col("cumx") <= col("extra"), lit(3L))
            .when(col("cumx") - expr("3*n_tok") >= col("extra"), lit(0L))
            .otherwise(expr("(extra - (cumx - 3*n_tok)) div n_tok")))
        .select(col("doc_id"), col("qmicro"), col("n_tok"),
          (lit(1L) + col("ep_extra")).as("epochs"),
          ((lit(1L) + col("ep_extra")) * col("n_tok")).as("rep_tokens"))
        .orderBy(col("doc_id"))
    },

    // Domain-mixture rebalance — the per-source sampling rates that flatten
    // the corpus toward a uniform mixture (each source capped at T/K of the
    // token mass), the knob a pretraining mix applies before sampling.
    // Integer targets (T div K) so the rate arithmetic is the same two
    // exact casts + one IEEE divide on both engines; two tiny aggregations
    // (per-source, then the K-row rollup) and one broadcast join — nothing
    // corpus-sized moves after the first partial-agged groupBy.
    Q(
      "tx_domain_mix",
      s"""WITH $qualityDocsSql,
         |per AS (SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tok
         |        FROM ql GROUP BY source),
         |tot AS (SELECT CAST(sum(tok)//count(*) AS BIGINT) AS target FROM per)
         |SELECT per.source, per.n_docs, per.tok, tot.target,
         |  least(1.0, CAST(tot.target AS DOUBLE)/CAST(per.tok AS DOUBLE)) AS rate,
         |  CAST(floor(least(1.0, CAST(tot.target AS DOUBLE)/CAST(per.tok AS DOUBLE))
         |    * CAST(per.tok AS DOUBLE)) AS BIGINT) AS keep_tokens
         |FROM per, tot ORDER BY per.source""".stripMargin) { (s, d) =>
      val per = qualityDocs(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok"))
      val tot = per.agg(expr("sum(tok) div count(*)").as("target"))
      val rate = least(lit(1.0),
        col("target").cast(DoubleType) / col("tok").cast(DoubleType))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("tok"), col("target"),
          rate.as("rate"),
          floor(rate * col("tok").cast(DoubleType)).cast(LongType).as("keep_tokens"))
        .orderBy(col("source"))
    },

    // APPLY the domain mixture — the sampling step tx_domain_mix only
    // computes rates for: each document admits iff a deterministic 60-bit
    // hash of its doc_id falls under its source's per-million rate. The
    // hash is the sampler (uniform by md5, reproducible across reruns and
    // engines — no RNG state to version, the property a 100 TB curation
    // rerun needs), and the rate stays INTEGER per-million
    // (least(1e6, target*1e6 div tok)) so admission is pure integer
    // comparison on both engines. Shapes: two tiny aggregations, one
    // broadcast of the K-row rate table, then a narrow map over the corpus
    // — nothing corpus-sized shuffles.
    Q(
      "tx_mix_apply",
      s"""WITH $qualityDocsSql,
         |per AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS tok FROM ql GROUP BY source),
         |tot AS (SELECT CAST(sum(tok)//count(*) AS BIGINT) AS target FROM per),
         |r AS (SELECT per.source,
         |        least(1000000, (tot.target*1000000)//per.tok) AS rpm FROM per, tot)
         |SELECT q.doc_id, q.source, q.n_tok, r.rpm,
         |  (${sid60Sql("CAST(q.doc_id AS VARCHAR)")} % 1000000) < r.rpm AS admitted
         |FROM ql q JOIN r USING(source) ORDER BY q.doc_id""".stripMargin) { (s, d) =>
      val ql = qualityDocs(s, d)
      val per = ql.groupBy(col("source")).agg(sum(col("n_tok")).as("tok"))
      val tot = per.agg(expr("sum(tok) div count(*)").as("target"))
      val r = per.crossJoin(broadcast(tot))
        .select(col("source"),
          least(lit(1000000L), expr("(target*1000000) div tok")).as("rpm"))
      ql.join(broadcast(r), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_tok"), col("rpm"),
          (sid60(col("doc_id").cast(StringType)) % 1000000L < col("rpm")).as("admitted"))
        .orderBy(col("doc_id"))
    },

    // DATASET CARD — the per-language summary a curation pipeline emits at
    // the end (and the first thing a consumer of the corpus reads): doc and
    // token counts, mean quality, exact-duplicate rate, short-doc rate.
    // Composes the SHARED definitions (qualityScore, the normalized md5
    // fingerprint) so the card can never drift from the operators it
    // summarizes. Shapes: one narrow map per doc, one fingerprint groupBy
    // (map-side combined) joined back co-partitioned, one K-row language
    // rollup — two shuffles total, both on uniform keys; the mean is the
    // one deterministic IEEE division over exact integer sums.
    Q(
      "tx_dataset_card",
      s"""WITH base AS (
         |  SELECT doc_id, lang, len(l) AS n_tok,
         |    CAST(floor((${TextOps.qualityScoreSql("l")})*1000000.0) AS BIGINT) AS qmicro,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM (SELECT doc_id, lang, text, string_split(text,' ') AS l FROM documents)),
         |fdf AS (SELECT fp, count(*) AS df FROM base GROUP BY fp)
         |SELECT b.lang,
         |  count(*) AS n_docs,
         |  CAST(sum(b.n_tok) AS BIGINT) AS n_tokens,
         |  CAST(CAST(sum(b.qmicro) AS BIGINT) AS DOUBLE)/count(*) AS avg_qmicro,
         |  CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
         |  CAST(sum(CASE WHEN b.n_tok < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
         |FROM base b JOIN fdf f USING (fp)
         |GROUP BY b.lang ORDER BY b.lang""".stripMargin) { (s, d) =>
      val base = T.documents(s, d)
        .withColumn("l", split(col("text"), " "))
        .select(col("doc_id"), col("lang"),
          size(col("l")).cast(LongType).as("n_tok"),
          floor(TextOps.qualityScore("l") * 1000000.0).cast(LongType).as("qmicro"),
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))
      val fdf = base.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      base.join(fdf, Seq("fp"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          (sum(col("qmicro")).cast(DoubleType) / count(lit(1))).as("avg_qmicro"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_exact_dup"),
          sum(when(col("n_tok") < 10, 1L).otherwise(0L)).as("n_short"))
        .orderBy(col("lang"))
    },

    // Distributed quality-classifier TRAINING — hashed bag-of-words + two
    // engineered features, integer-standardized, trained by a POCKETED
    // full-batch perceptron (the fastText-linear shape) that distills the
    // tx_quality heuristic into a ~27-weight linear model: the "hand rule →
    // cheap classifier" step of a curation pipeline. Fixed 12 epochs,
    // all-INTEGER state: every epoch is one broadcast of the tiny weight
    // table + two map-side-combining shuffles over the persisted feature
    // table — per-epoch cost linear in corpus tokens, weights exact on
    // both engines (no float summation order anywhere; the only float op
    // is one correctly-rounded sqrt on an exactly-representable int). The
    // oracle unrolls the identical epoch recurrence as CTEs.
    Q(
      "tx_classifier_train",
      s"""WITH $qualityDocsSql,
         |$classifierSql
         |SELECT bucket, w FROM wbest ORDER BY bucket""".stripMargin) { (s, d) =>
      trainedWeights(s, d).orderBy(col("bucket"))
    },

    // Classifier SCORING + eval — the trained weights applied back over the
    // corpus: per-document integer margin, ±1 prediction (0 scores
    // negative, matching training's mistake rule), gold label, correctness.
    // Scoring is one broadcast join + one partial-agged groupBy(doc_id) —
    // the shape that scores 100 TB in a single pass. Every document scores
    // (the bias bucket guarantees a feature row).
    Q(
      "tx_classifier_score",
      s"""WITH $qualityDocsSql,
         |$classifierSql,
         |cS AS (SELECT CAST(coalesce(sum(s.z0*w.w), 0) AS BIGINT) AS c
         |  FROM stz s JOIN wbest w USING(bucket)),
         |mf AS (SELECT f.doc_id, CAST(sum(f.dz*w.w) AS BIGINT) + (SELECT c FROM cS) AS margin
         |  FROM fz f JOIN wbest w USING(bucket) GROUP BY 1)
         |SELECT l.doc_id, m.margin,
         |  CAST(CASE WHEN m.margin > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
         |  l.label,
         |  (CASE WHEN m.margin > 0 THEN 1 ELSE -1 END) = l.label AS correct
         |FROM lab l JOIN mf m USING(doc_id) ORDER BY l.doc_id""".stripMargin) { (s, d) =>
      // ONE memoized training per run (classifierState): scoring here is
      // only the broadcast join + partial-agged groupBy over the cached
      // feature table — the pass that scores 100 TB — not a re-train.
      val st = classifierState(s, d)
      val pred = when(col("margin") > 0, 1L).otherwise(-1L)
      st.lab.join(classifierMargins(st.fz, st.stats, st.w), Seq("doc_id"))
        .select(col("doc_id"), col("margin"), pred.as("pred"), col("label"),
          (pred === col("label")).as("correct"))
        .orderBy(col("doc_id"))
    },

    // Classifier CALIBRATION — the eval a curation pipeline reads before
    // trusting a learned gate: accuracy per margin DECILE (does a bigger
    // margin actually mean a more reliable verdict?). The decile needs a
    // GLOBAL rank by (margin, doc_id); at scale that is never a
    // single-partition ntile — it is the two-pass shape used everywhere
    // else in the engine: fixed-width margin buckets from the exact
    // min/max, per-bucket counts, Prefix.exclusiveCumsum over the bounded
    // totals table, rank = bucket offset + a window bounded INSIDE each
    // bucket. Bucketing by margin is monotone, so the concatenated order
    // IS the (margin, doc_id) order and the oracle can say plain
    // row_number(). Consumes the memoized classifier artifact — one
    // margin pass plus bounded rank arithmetic.
    Q(
      "tx_classifier_calibration",
      s"""WITH $qualityDocsSql,
         |$classifierSql,
         |cS AS (SELECT CAST(coalesce(sum(s.z0*w.w), 0) AS BIGINT) AS c
         |  FROM stz s JOIN wbest w USING(bucket)),
         |mf AS (SELECT f.doc_id, CAST(sum(f.dz*w.w) AS BIGINT) + (SELECT c FROM cS) AS margin
         |  FROM fz f JOIN wbest w USING(bucket) GROUP BY 1),
         |scored AS (SELECT l.doc_id, m.margin,
         |    (CASE WHEN m.margin > 0 THEN 1 ELSE -1 END) = l.label AS correct
         |  FROM lab l JOIN mf m USING(doc_id)),
         |r AS (SELECT *, row_number() OVER (ORDER BY margin, doc_id) AS rnk,
         |    (SELECT count(*) FROM scored) AS n FROM scored)
         |SELECT ((rnk - 1) * 10) // n AS decile,
         |  count(*) AS n_docs,
         |  CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  CAST(CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
         |    / count(*) AS accuracy,
         |  min(margin) AS margin_lo, max(margin) AS margin_hi
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val st = classifierState(s, d)
      val scored = st.lab
        .join(classifierMargins(st.fz, st.stats, st.w), Seq("doc_id"))
        .select(col("doc_id"), col("margin"),
          ((when(col("margin") > 0, 1L).otherwise(-1L)) === col("label"))
            .as("correct"))
      val mm = scored.agg(min(col("margin")).as("minm"),
        max(col("margin")).as("maxm"), count(lit(1)).as("n"))
      val bucketed = scored.crossJoin(broadcast(mm))
        .withColumn("bkt",
          expr("((margin - minm) * 1024) div (maxm - minm + 1)"))
      val totals = bucketed.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
      val offsets = graft.core.Prefix.exclusiveCumsum(
        totals, Seq(), "bkt", expr("bkt div 256"), "cnt")
      val wInBkt = Window.partitionBy(col("bkt"))
        .orderBy(col("margin"), col("doc_id"))
      bucketed
        .join(broadcast(offsets), Seq("bkt"))
        .withColumn("rnk", col("offset") + row_number().over(wInBkt))
        .withColumn("decile", expr("((rnk - 1) * 10) div n"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("correct"), 1L).otherwise(0L)).as("n_correct"),
          (sum(when(col("correct"), 1L).otherwise(0L)).cast(DoubleType)
            / count(lit(1))).as("accuracy"),
          min(col("margin")).as("margin_lo"), max(col("margin")).as("margin_hi"))
        .orderBy(col("decile"))
    },

    // Classifier DRIFT AUDIT (round 14) — the receipt a staged retrain
    // publishes before a generation swap (the classifier mirror of
    // tx_dsir_drift): full-corpus mistake counts of the SEED (the prior
    // generation's weights, the warm start's w0) vs the pocket-picked
    // FINAL weights. The pocket rule makes mis_final ≤ mis_seed a
    // structural guarantee — `improved` says the continuation epochs
    // genuinely helped on this snapshot, `retained_seed` says the artifact
    // kept the prior generation (a retrain that changed nothing). Two
    // broadcast-join margin passes over the cached feature table; the
    // oracle reads the same numbers straight out of the unrolled
    // recurrence (sl1 = mistakes(w0), min over the pocket candidates).
    Q(
      "tx_classifier_drift",
      s"""WITH $qualityDocsSql,
         |$classifierSql,
         |drift AS (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM lab) AS n_docs,
         |    (SELECT nm FROM sl1) AS mis_seed,
         |    (SELECT CAST(min(nm) AS BIGINT) FROM mc) AS mis_final)
         |SELECT n_docs, mis_seed, mis_final,
         |  mis_final < mis_seed AS improved,
         |  mis_final = mis_seed AS retained_seed
         |FROM drift""".stripMargin) { (s, d) =>
      val st = classifierState(s, d)
      import s.implicits._
      val seedDF = st.seedW.toSeq.toDF("bucket", "w")
      def misOf(wdf: DataFrame, name: String): DataFrame =
        st.lab.join(classifierMargins(st.fz, st.stats, wdf), Seq("doc_id"))
          .agg(sum(when(col("label") * col("margin") <= 0, 1L).otherwise(0L))
            .as(name))
      st.lab.agg(count(lit(1)).as("n_docs"))
        .crossJoin(misOf(seedDF, "mis_seed"))
        .crossJoin(misOf(st.w, "mis_final"))
        .select(col("n_docs"), col("mis_seed"), col("mis_final"),
          (col("mis_final") < col("mis_seed")).as("improved"),
          (col("mis_final") === col("mis_seed")).as("retained_seed"))
    },

    // Deterministic global shuffle + shard packing — the training-order
    // step: documents laid out in md5-hash order (a reproducible
    // pseudo-random permutation; no RNG state to version) and packed into
    // 4096-token shards by the running token offset. The global ordered
    // cumsum is the two-pass Prefix shape over FIXED-WIDTH hash buckets —
    // md5 uniformity makes fixed width equi-depth, so (unlike
    // tx_budget_select's value-skewed quality key) no sampling pass is
    // needed and the bucket assignment is purely arithmetic: every rerun,
    // every engine, the same shards. No global sort, no single-partition
    // window; shard files then write out partitioned by `shard`.
    Q(
      "tx_shard_pack",
      s"""SELECT doc_id, h, n_tok,
         |  CAST(tstart // $ShardTok AS BIGINT) AS shard,
         |  CAST(tstart % $ShardTok AS BIGINT) AS shard_off
         |FROM (
         |  SELECT doc_id, h, n_tok, sum(n_tok) OVER (ORDER BY h, doc_id) - n_tok AS tstart
         |  FROM (SELECT doc_id,
         |          CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) AS h,
         |          len(string_split(text,' ')) AS n_tok
         |        FROM documents))
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = T.documents(s, d).select(
          col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"))
        .withColumn("h", sid60(col("doc_id").cast(StringType)))
        .withColumn("bkt", expr(s"h div $ShardHashBucketWidth"))
      val totals = base.groupBy(col("bkt")).agg(sum(col("n_tok")).as("tot"))
      val offsets = graft.core.Prefix.exclusiveCumsum(
        totals, Seq.empty, "bkt", expr("bkt div 256"), "tot")
      val wLocal = Window.partitionBy(col("bkt")).orderBy(col("h"), col("doc_id"))
      base
        .withColumn("cum_local", sum(col("n_tok")).over(wLocal))
        .join(broadcast(offsets), Seq("bkt"))
        .withColumn("tstart", col("offset") + col("cum_local") - col("n_tok"))
        .select(col("doc_id"), col("h"), col("n_tok"),
          expr(s"tstart div $ShardTok").as("shard"),
          (col("tstart") % ShardTok).as("shard_off"))
        .orderBy(col("doc_id"))
    },

    // Per-source document cap (the RefinedWeb/C4-style per-domain cap: no
    // single host may dominate the corpus): keep the 10 docs per source
    // that win a deterministic md5(doc_id) hash race — a reproducible
    // uniform sample with no RNG state. Spark shape: BoundedTopK per
    // source, so each map partition is partial-aggregated down to ≤10
    // entries per source BEFORE the shuffle — the window-rank formulation
    // the oracle uses would shuffle and sort every row at 100 TB; this
    // moves ≤10·|sources| rows total.
    Q(
      "tx_source_cap",
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT),
        |               doc_id) AS rn
        |  FROM documents)
        |SELECT source, doc_id FROM r WHERE rn <= 10
        |ORDER BY source, doc_id""".stripMargin) { (s, d) =>
      val cap10 = udaf(graft.functions.BoundedTopK[Long](10))
      T.documents(s, d)
        .select(col("source"), col("doc_id"),
          sid60(col("doc_id").cast(StringType)).as("h"))
        .groupBy(col("source"))
        .agg(cap10(col("h"), col("doc_id")).as("top"))
        .select(col("source"),
          explode(transform(col("top"), t => t.getField("_2"))).as("doc_id"))
        .orderBy(col("source"), col("doc_id"))
    }
  )
}
