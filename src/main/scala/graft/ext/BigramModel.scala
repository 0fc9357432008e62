package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interpolated bigram language model — the fidelity upgrade over
  * [[LanguageModel]]'s unigram scorer on the same CCNet recipe: a
  * token's probability conditions on its predecessor,
  *   p(tᵢ | tᵢ₋₁) = λ·p_bi(tᵢ | tᵢ₋₁) + (1−λ)·p_uni(tᵢ),
  * (Jelinek–Mercer interpolation), which is what separates "rare
  * words" from "words in the wrong order" — the repetition-soup
  * documents a unigram model scores as fluent. Still fully
  * deterministic counting, so the whole model re-trains in the DuckDB
  * oracle.
  *
  * The artifact stores TWO additive ledgers (unigram `counts/`, bigram
  * `counts2/`) under one fingerprint + id ledger, with the same
  * O(batch) append / O(removed) negative-delta removal / compaction
  * lifecycle as the unigram model. The vocabulary and smoothing are
  * read parameters: out-of-vocab tokens collapse onto one OOV symbol
  * on BOTH sides of the bigram before lookup, so the stored ledgers
  * are vocab-independent.
  *
  * Scale shape at 100 TB: the unigram side is the LM's broadcast
  * pattern. The bigram side is necessarily bigger — distinct mapped
  * bigrams are bounded by (V+1)², not V — so the scoring join against
  * the mapped bigram table is a plain equi-join Spark may broadcast
  * (small V) or shuffle (large V): exactly the graduation a big model
  * table needs. The per-predecessor row-total table is ≤ V+1 rows and
  * always broadcasts. One row per document reaches the final shuffle.
  */
object BigramModel {

  private[graft] val MetaPrefix = "bigramlm v1 "

  /** Out-of-vocabulary symbol: `\u0001OOV` cannot collide with a
    * whitespace token of the fixture corpora, and is spellable in the
    * oracle as `chr(1) || 'OOV'`.
    */
  private[graft] val Oov = "\u0001OOV"

  /** Adjacent-token pairs of a document as (prev, cur) structs — the
    * bigram sufficient statistic. The token array is bound once as a
    * lambda variable (the `Dedup.shingles` lesson: a non-variable
    * subtree in a lambda body re-evaluates per element).
    */
  private def pairsOf(text: Column): Column =
    element_at(transform(array(TextAnalysis.tokens(text)), toks =>
      when(size(toks) < 2,
          array().cast("array<struct<prev:string,cur:string>>"))
        .otherwise(transform(sequence(lit(1), size(toks) - 1), i =>
          struct(element_at(toks, i).as("prev"),
            element_at(toks, i + 1).as("cur"))))), 1)

  /** Raw bigram counts of a document frame. Map-side combine bounds
    * shuffle volume by distinct pairs per partition.
    */
  def bigramCounts(docs: DataFrame): DataFrame =
    docs.select(explode(pairsOf(col("text"))).as("bg"))
      .select(col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c"))

  /** The model's lifecycle ([[Artifact.DocLedger]]): the unigram
    * `counts/` and bigram `counts2/` ledgers plus the gen-stamped id
    * ledger over `(doc_id, text)`.
    */
  private[graft] val ledger = Artifact.DocLedger(MetaPrefix, Seq("doc_id", "text"),
    Seq(col("doc_id")),
    Seq(Artifact.Additive("counts", (d, _) => LanguageModel.tokenCounts(d), Seq("token"), "c"),
      Artifact.Additive("counts2", (d, _) => bigramCounts(d), Seq("prev", "cur"), "c")))

  /** Build-if-needed bigram model over the corpus, guarded by the
    * corpus content fingerprint. Returns the artifact dir.
    */
  def ensureLm2(spark: SparkSession, docs: DataFrame, dir: String): String =
    ledger.ensure(spark, docs, dir, "unit=ws")

  /** Score documents against the stored model: per-document token
    * count and interpolated mean negative log-likelihood,
    *   p(t₁) = p_uni(t₁);  p(tᵢ | tᵢ₋₁) = λ·p_bi + (1−λ)·p_uni, i ≥ 2,
    * with add-one smoothing on both components over the top-`vocabSize`
    * unigram vocabulary: p_uni = (c₁+1)/D as in [[LanguageModel.score]]
    * and p_bi(cur'|prev') = (c₂(prev',cur')+1)/(Σ_cur' c₂(prev',·)+V+1)
    * after both sides collapse onto [[Oov]] — each conditional is a
    * proper distribution over the V+1 outcomes. Rounded to 6 decimals
    * (the house float-parity contract); any batch is scorable.
    */
  /** Shared scoring prep: netted top-V vocab (+ unigram smoothing
    * constant), the OOV-mapped netted bigram table, and the per-token
    * (cur, prev) stream with both sides mapped — everything both
    * smoothers ([[score2]] JM, [[score2Kn]] KN) read.
    */
  private case class ScorePrep(v: DataFrame, vSize: Long, dUni: Long,
                               bg: DataFrame, nBigrams: Long,
                               stream: DataFrame)

  /** The model-side prep (netted vocab, smoothing constant, mapped
    * bigram table), cached: the JM and KN scorers share one artifact
    * and both re-netted both ledgers per call (~1 s of driver actions
    * each). Versioned by the artifact meta, whose additive fingerprint
    * bumps on append/remove. The corpus-dependent `stream` stays
    * per-call.
    */
  private def prepCached(spark: SparkSession, dir: String,
                         vocabSize: Int): (DataFrame, Long, Long, DataFrame, Long) =
    ArtifactCache.get(spark.sparkContext, s"bigram-prep#$dir#$vocabSize",
      Artifact.readMeta(spark, dir).getOrElse("")) {
      val p = modelPrep(spark, dir, vocabSize)
      ArtifactCache.Entry(p, Seq(p._1, p._4))
    }

  /** Pre-net the model side into the cache — warm-phase hook so
    * the first scorer (JM or KN) measures serve cost, not the one-time
    * two-ledger netting (the [[LanguageModel.warmVocab]] discipline).
    */
  def warmServing(spark: SparkSession, dir: String, vocabSize: Int = 4096): Unit =
    prepCached(spark, dir, vocabSize)

  private def scorePrep(spark: SparkSession, docs: DataFrame, dir: String,
                        vocabSize: Int): ScorePrep = {
    val (v, vSize, dUni, bg, nBigrams) = prepCached(spark, dir, vocabSize)
    ScorePrep(v, vSize, dUni, bg, nBigrams, tokenStream(docs, v))
  }

  private def modelPrep(spark: SparkSession, dir: String,
                        vocabSize: Int): (DataFrame, Long, Long, DataFrame, Long) = {
    Artifact.requireKind(spark, dir, MetaPrefix)
    val v = spark.read.parquet(s"$dir/counts")
      .groupBy(col("token")).agg(sum(col("c")).as("c"))
      .filter(col("c") > 0)
      .orderBy(col("c").desc, col("token")).limit(vocabSize)
      .localCheckpoint()
    val vSize = v.count()
    val dUni = v.agg((coalesce(sum(col("c")), lit(0L)) + lit(vSize) + 1L).as("d"))
      .head().getLong(0)
    // bigram ledger netted, then both sides mapped onto the bounded
    // vocab ∪ {OOV} space — the stored ledger stays vocab-independent
    val mapSide = (side: String) =>
      when(col(s"${side}_in"), col(side)).otherwise(lit(Oov))
    val bg = spark.read.parquet(s"$dir/counts2")
      .groupBy(col("prev"), col("cur")).agg(sum(col("c")).as("c"))
      .filter(col("c") > 0)
      .join(broadcast(v.select(col("token").as("prev"), lit(true).as("prev_in"))),
        Seq("prev"), "left")
      .join(broadcast(v.select(col("token").as("cur"), lit(true).as("cur_in"))),
        Seq("cur"), "left")
      .select(mapSide("prev").as("prev"), mapSide("cur").as("cur"), col("c"))
      .groupBy(col("prev"), col("cur")).agg(sum(col("c")).as("c2"))
      .localCheckpoint()
    (v, vSize, dUni, bg, bg.count())
  }

  /** The per-call corpus side: one (cur, prev) struct per token
    * position, built in-row (the array is never carried through the
    * explode), both sides mapped onto vocab ∪ {OOV}.
    */
  private def tokenStream(docs: DataFrame, v: DataFrame): DataFrame = {
    val terms = element_at(transform(array(TextAnalysis.tokens(col("text"))), toks =>
      transform(sequence(lit(1), size(toks)), i =>
        struct(element_at(toks, i).as("cur"),
          when(i === 1, lit(null).cast("string"))
            .otherwise(element_at(toks, i - 1)).as("prev")))), 1)
    docs.select(col("doc_id"), explode(terms).as("t"))
      .select(col("doc_id"), col("t.cur").as("cur"), col("t.prev").as("prev"))
      .join(broadcast(v.select(col("token").as("cur"), col("c").as("c1"))),
        Seq("cur"), "left")
      .join(broadcast(v.select(col("token").as("prev"), lit(true).as("prev_in"))),
        Seq("prev"), "left")
      .withColumn("prev_m",
        when(col("prev").isNull, lit(null).cast("string"))
          .otherwise(when(col("prev_in"), col("prev")).otherwise(lit(Oov))))
      .withColumn("cur_m",
        when(col("c1").isNotNull, col("cur")).otherwise(lit(Oov)))
  }

  /** The model join: a localCheckpointed table has no stats, so the
    * planner would default the token-stream join to SortMergeJoin —
    * shuffling the corpus-sized stream even at V=4096. Decide from the
    * mapped table's KNOWN row count instead: broadcast while it is
    * bounded-small (≤ 2²⁰ mapped pairs ≈ tens of MB), graduate to the
    * shuffle join only when a large vocabulary makes it genuinely big.
    */
  private def bgSideOf(p: ScorePrep): DataFrame = {
    val bgRenamed = p.bg.withColumnRenamed("prev", "prev_m")
      .withColumnRenamed("cur", "cur_m")
    if (p.nBigrams <= (1L << 20)) broadcast(bgRenamed) else bgRenamed
  }

  def score2(spark: SparkSession, docs: DataFrame, dir: String,
             vocabSize: Int = 4096, lambda: Double = 0.5): DataFrame = {
    val pr = scorePrep(spark, docs, dir, vocabSize)
    // per-predecessor totals: ≤ V+1 rows, always broadcastable
    val prevTot = pr.bg.groupBy(col("prev")).agg(sum(col("c2")).as("tot"))
    val pUni = (coalesce(col("c1"), lit(0L)) + 1L).cast("double") / lit(pr.dUni.toDouble)
    val pBi = (coalesce(col("c2"), lit(0L)) + 1L).cast("double") /
      (coalesce(col("tot"), lit(0L)) + lit(pr.vSize) + 1L).cast("double")
    pr.stream
      .join(bgSideOf(pr), Seq("prev_m", "cur_m"), "left")
      .join(broadcast(prevTot.withColumnRenamed("prev", "prev_m")),
        Seq("prev_m"), "left")
      .withColumn("p",
        when(col("prev").isNull, pUni)
          .otherwise(lit(lambda) * pBi + lit(1.0 - lambda) * pUni))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(-log(col("p"))) / count(lit(1)), 6).as("mean_nll2"))
  }

  /** Interpolated Kneser–Ney scoring — the standard LM-filter smoothing
    * (Chen & Goodman 1999), the fidelity upgrade over [[score2]]'s
    * Jelinek–Mercer mix: instead of blending in the raw unigram, the
    * backoff weight is an absolute discount D freed from each seen
    * bigram, and the backoff distribution is the CONTINUATION
    * probability (how many distinct predecessors a word follows — "is
    * this word productive in new contexts?", the property that makes
    * KN separate formulaic repetition from genuine fluency):
    *
    *   p(cur|prev) = max(c₂−D, 0)/tot(prev)
    *               + (D·N₁₊(prev,·)/tot(prev)) · p_cont(cur)
    *   p_cont(cur) = (N₁₊(·,cur) + 1) / (B + V + 1)
    *
    * with B = distinct mapped bigrams; an unseen predecessor backs off
    * entirely to p_cont; the first token scores under the add-one
    * unigram (the [[score2]] convention). Add-one on the continuation
    * numerator keeps every conditional a proper nonzero distribution
    * over vocab ∪ {OOV}.
    *
    * The continuation counts N₁₊ are exact per-key row counts of the
    * NETTED bigram table — derived at read rather than stored as
    * ledgers, because they are pure functions of state the
    * append/remove/compact lifecycle already maintains (storing them
    * would denormalize the artifact for two ≤(V+1)-row aggregates of an
    * already-materialized table).
    *
    * Determinism: every input is an exact integer (counts, N₁₊, B, V);
    * D = 0.75 is dyadic so c₂−D is exact; the probability is a fixed
    * chain of single IEEE ops mirrored token-for-token in the oracle
    * SQL; round-6 on the mean (the house ln-parity contract).
    */
  def score2Kn(spark: SparkSession, docs: DataFrame, dir: String,
               vocabSize: Int = 4096, discount: Double = 0.75): DataFrame = {
    val pr = scorePrep(spark, docs, dir, vocabSize)
    // per-predecessor totals + distinct-successor counts; per-successor
    // distinct-predecessor counts: all ≤ V+1 rows, always broadcast
    val prevStats = pr.bg.groupBy(col("prev"))
      .agg(sum(col("c2")).as("tot"), count(lit(1)).as("n1p"))
    val curStats = pr.bg.groupBy(col("cur"))
      .agg(count(lit(1)).as("n1c"))
    val contDen = lit((pr.nBigrams + pr.vSize + 1).toDouble)
    val pUni = (coalesce(col("c1"), lit(0L)) + 1L).cast("double") / lit(pr.dUni.toDouble)
    val pCont = (coalesce(col("n1c"), lit(0L)) + 1L).cast("double") / contDen
    val totD = col("tot").cast("double")
    // unseen (prev, cur) pair under a seen prev: coalesce(c2, 0) makes
    // the discounted term an exact 0.0 and the backoff mass carries —
    // bit-identical to a dedicated branch, and one CASE arm fewer to
    // mirror in the oracle
    val pKn = greatest(coalesce(col("c2"), lit(0L)).cast("double") - lit(discount),
        lit(0.0)) / totD +
      ((lit(discount) * col("n1p").cast("double")) / totD) * pCont
    pr.stream
      .join(bgSideOf(pr), Seq("prev_m", "cur_m"), "left")
      .join(broadcast(prevStats.withColumnRenamed("prev", "prev_m")),
        Seq("prev_m"), "left")
      .join(broadcast(curStats.withColumnRenamed("cur", "cur_m")),
        Seq("cur_m"), "left")
      .withColumn("p",
        when(col("prev").isNull, pUni)
          .otherwise(when(col("tot").isNull, pCont).otherwise(pKn)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(-log(col("p"))) / count(lit(1)), 6).as("mean_nll_kn"))
  }
}
