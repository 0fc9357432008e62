package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Binary logistic-regression quality classifier — the fastText-style
  * LEARNED filter LLM pipelines actually deploy, complementing the
  * counting-based [[Classifier]] (Naive Bayes): NB's model IS its
  * sufficient statistics, LR's weights come out of an optimization
  * loop — the harder determinism problem, solved here the k-means/BPE
  * way (every iteration is a groupBy-sum with pinned arithmetic, so a
  * DuckDB oracle replays the ENTIRE training run and the scores
  * hash-match).
  *
  * The fixture task is TEACHER DISTILLATION (the CCNet/FineWeb move:
  * compress an expensive gate into a cheap linear filter): the teacher
  * is the seed-vocab unigram-LM perplexity gate (`mean_nll ≤ 3.40625`,
  * the same gate [[graft.stream.CuratedIngest]] runs), the student is
  * σ(b + Σ_j w_j f_j) over normalized top-256 token frequencies. The
  * teacher's decision IS a linear function of those features, so the
  * distillation target is honestly learnable — at sf0.01 the trained
  * student agrees with the teacher on ~84% of all documents (seed
  * agreement ~89%) against a 53% majority baseline. `lang`/`source`
  * are NOT usable targets on this fixture: every language draws from
  * one shared 31-word pool, so no unigram signal exists (measured at
  * chance).
  *
  * The determinism contract (every engine, every partitioning, every
  * replay lands on bit-identical weights): the ENTIRE loop runs on the
  * 10⁻⁶ INTEGER grid — features F = halfaway(c·10⁶, l), margin and
  * gradient terms halfaway(a·b, 10⁶) over exact long products (all ≤
  * 10¹⁶, inside long/BIGINT in both engines), updates
  * w − halfaway(lr·g, n) — where halfaway is the pca_covariance
  * half-away-from-zero integral division. Integer arithmetic is the
  * point, not a flourish: rounding a DOUBLE to k decimals is
  * engine-dependent near half-grid boundaries (Spark rounds the
  * shortest-decimal representation, DuckDB rounds the scaled binary;
  * measured ~5e-6 disagreement per op at k=12 — a near-certain hit
  * across one sf0.1 training run — and ~50% per EXACT-half tie, which
  * iteration 1 mass-produces via err = ±0.5 times odd-grid features).
  * The one double-input round left is σ's 6-dp snap, whose input is a
  * continuous function of an exact integer — boundary hits are
  * measure-zero-ish (~1e-10/op), the same class as every round-6
  * output in the repo. Rounding is part of the algorithm, not
  * cosmetics (the [[Clustering]] centroid contract).
  *
  * Hyperparameters are pinned dyadic (lr=2048, lrBias=32, 16 steps):
  * the hairline teacher margins (mean_nll spans only ~0.35 nats) need
  * large weights to saturate σ, and the bias gradient dominates early
  * — a shared rate just flip-flops the all-positive/all-negative
  * decision, so the bias moves 64× slower (measured: shared-rate
  * configs stay degenerate at ~0.53 agreement; this one reaches
  * 0.84).
  *
  * Scale shape at 100 TB: the seed set is bounded by design (curated
  * positives), so training cost is iters × (one scan of the seed
  * token stream + one ≤vocabSize-row exchange) — the driver holds
  * only the (vocab × 1) weight vector between steps, the MLlib
  * contract. Scoring the full corpus is one explode + one broadcast
  * join against the 256-row weight table + one partial-aggregated
  * groupBy(doc_id): |docs| rows reach the exchange, the token stream
  * never does.
  *
  * The trained model is a persisted [[Artifact]] guarded by the seed
  * fingerprint. Unlike the NB ledgers, GD weights are NOT additive
  * sufficient statistics, so there is no O(batch) append: a changed
  * seed retrains (ensure sees a new fingerprint and rebuilds) — the
  * honest lifecycle for any learned-optimizer model.
  */
object LrClassifier {

  private[graft] val MetaPrefix = "lrclass v1 "

  val TeacherThreshold = 3.40625 // dyadic — the <= compare is portable

  /** Teacher scores: seed-vocab unigram-LM mean NLL (the
    * [[LanguageModel.score]] replay shape — plain round-6 fold, proven
    * hash-stable), with vocab = the SAME top-`vocabSize` seed tokens
    * the student uses as features.
    */
  private def teacherNll(docs: DataFrame, seed: DataFrame,
                         vocabSize: Int): DataFrame = {
    val counts = seed
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val v = counts.orderBy(col("c").desc, col("token")).limit(vocabSize)
      .localCheckpoint()
    val consts = v.agg(
      (coalesce(sum(col("c")), lit(0L)) + count(lit(1)) + 1L).as("d"))
    docs.select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      .join(broadcast(v), Seq("token"), "left")
      .crossJoin(broadcast(consts))
      .groupBy(col("doc_id"))
      .agg(round(
        sum(-log((coalesce(col("c"), lit(0L)) + 1L).cast("double") / col("d")))
          / count(lit(1)), 6).as("mean_nll"))
  }

  /** The deterministic distillation seed the fixture queries train on:
    * every 5th document, labeled by the teacher gate.
    */
  def fixtureSeed(docs: DataFrame, vocabSize: Int = 256): DataFrame = {
    val seed = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      .select(col("doc_id"), col("text"))
    seed.join(teacherNll(seed, seed, vocabSize), Seq("doc_id"))
      .select(col("doc_id"), col("text"),
        when(col("mean_nll") <= lit(TeacherThreshold), lit(1.0))
          .otherwise(lit(0.0)).as("y"))
  }

  /** Half-away-from-zero integral division of two long columns (den >
    * 0) — the pca_covariance rounding pattern; positive operands make
    * Spark's truncating `DIV` and DuckDB's flooring `//` agree.
    */
  private def halfAway(num: org.apache.spark.sql.Column,
                       den: org.apache.spark.sql.Column) = {
    import graft.functions.native.long_div
    when(num < 0L, -long_div(num * -2L + den, den * 2L))
      .otherwise(long_div(num * 2L + den, den * 2L))
  }

  /** Per-(doc, vocab-token) feature in integer micro-units:
    * F = halfaway(c·10⁶, l) — exact integer division, no double ever
    * rounds (c, l are counts).
    */
  private def featU(tc: DataFrame, vdf: DataFrame, docLen: DataFrame) =
    tc.join(vdf, Seq("token"), "left_semi")
      .join(docLen, Seq("doc_id"))
      .select(col("doc_id"), col("token"),
        halfAway(col("c") * 1000000L, col("l")).as("fu"))

  /** Per-doc margin in micro-units from a weight table `(token, wu)`:
    * Σ halfaway(wu·fu, 10⁶) — every term an exact integer. Bound:
    * per-step weight updates are ≤ lr·10⁶, so |wu| ≤ iters·lr·10⁶
    * (~3.3·10¹⁰ at the default lr=2048, 16 steps); with fu ≤ 10⁶ the
    * products stay ≤ ~3.3·10¹⁶ < 2⁶³ — inside long/BIGINT in both
    * engines for any lr·iters up to ~9·10⁶.
    */
  private def marginU(feats: DataFrame, wdf: DataFrame) =
    feats.join(wdf, Seq("token"))
      .select(col("doc_id"), halfAway(col("wu") * col("fu"), lit(1000000L)).as("tu"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tu")).as("su"))

  private def sigma6(mu: org.apache.spark.sql.Column) =
    round(lit(1.0) / (lit(1.0) + exp(-(mu.cast("double") / lit(1000000.0)))), 6)

  /** Train on a labeled seed `(doc_id, text, y)`; returns the vocab
    * order, the micro-unit weight map, and the micro-unit bias (value =
    * unit/10⁶). Pure driver-bounded state: one (vocabSize)-entry map
    * between iterations.
    */
  def train(spark: SparkSession, labeled: DataFrame,
            vocabSize: Int = 256, iters: Int = 16,
            lr: Long = 2048L,
            lrBias: Long = 32L): (Seq[String], Map[String, Long], Long) = {
    import spark.implicits._
    val toks = labeled
      .select(col("doc_id"), col("y"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
    val docLen = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("l"))
    val tc = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
    val vocab = tc.groupBy(col("token")).agg(sum(col("c")).as("ct"))
      .orderBy(col("ct").desc, col("token")).limit(vocabSize)
      .select(col("token")).as[String].collect().toSeq
    val vdf = broadcast(vocab.toDF("token"))
    val feats = featU(tc, vdf, docLen).localCheckpoint()
    val ids = labeled.select(col("doc_id"), col("y")).localCheckpoint()
    val n = ids.count()
    def halfAwayL(num: Long, den: Long): Long =
      if (num < 0) -((-num * 2 + den) / (den * 2)) else (num * 2 + den) / (den * 2)
    var w = vocab.map(_ -> 0L).toMap
    var b = 0L
    for (_ <- 1 to iters) {
      val wdf = broadcast(w.toSeq.toDF("token", "wu"))
      // errors in micro-units: σ is the ONE double-input round of the
      // whole loop (its argument is an exact integer scaled once), and
      // its output lands back on the integer grid immediately
      val err = ids.join(marginU(feats, wdf), Seq("doc_id"), "left")
        .select(col("doc_id"),
          ((sigma6(lit(b) + coalesce(col("su"), lit(0L))) - col("y"))
            .cast("decimal(13,6)") * 1000000L).cast("long").as("eu"))
        .localCheckpoint()
      val grads = feats.join(err, Seq("doc_id"))
        .select(col("token"), halfAway(col("eu") * col("fu"), lit(1000000L)).as("gu"))
        .groupBy(col("token")).agg(sum(col("gu")).as("g"))
        .as[(String, Long)].collect().toMap
      val gb = err.agg(sum(col("eu"))).head().getLong(0)
      w = w.map { case (t, wt) =>
        t -> (wt - halfAwayL(lr * grads.getOrElse(t, 0L), n))
      }
      b = b - halfAwayL(lrBias * gb, n)
    }
    (vocab, w, b)
  }

  /** Build-if-needed LR model artifact: `weights` (token, wu) + `bias`
    * (single row, micro-units), guarded by the seed content
    * fingerprint.
    */
  def ensureLr(spark: SparkSession, labeled: DataFrame, dir: String,
               vocabSize: Int = 256, iters: Int = 16,
               lr: Long = 2048L, lrBias: Long = 32L): String =
    Artifact.ensure(spark, dir,
      MetaPrefix + s"unit=ws v=$vocabSize iters=$iters lr=$lr lrb=$lrBias fp=" +
        Artifact.fingerprint(labeled, col("doc_id"), col("text"), col("y"))) {
      buildLr(spark, labeled, dir, vocabSize, iters, lr, lrBias)
    }

  /** [[ensureLr]] for the FIXTURE seed ([[fixtureSeed]] over `docs`):
    * same trained artifact, but the freshness key fingerprints the RAW
    * %5 slice `(doc_id, text)` instead of the teacher-labeled frame —
    * the labels are a deterministic function of that slice and the
    * teacher threshold, so fingerprinting them adds no guarding power
    * while costing the whole teacher scoring pipeline (seed-vocab
    * build + broadcast-join NLL fold, ~1.6 s at sf0.1) on EVERY serve
    * of every `classify_lr_*` query (r18 optimization: 4 redundant
    * teacher passes per bench run → 0; the raw-slice fingerprint also
    * hits the [[Artifact.fingerprint]] cache, which the
    * teacher-labeled plan could not — its pinned vocab is a
    * localCheckpoint leaf). The threshold joins the metadata line so a
    * changed teacher gate still retrains.
    */
  def ensureLrFixture(spark: SparkSession, docs: DataFrame, dir: String,
                      vocabSize: Int = 256, iters: Int = 16,
                      lr: Long = 2048L, lrBias: Long = 32L): String =
    Artifact.ensure(spark, dir,
      MetaPrefix + s"unit=ws v=$vocabSize iters=$iters lr=$lr lrb=$lrBias " +
        s"thr=$TeacherThreshold fixture fp=" +
        Artifact.fingerprint(
          docs.filter(pmod(col("doc_id"), lit(5L)) === 0L),
          col("doc_id"), col("text"))) {
      buildLr(spark, fixtureSeed(docs, vocabSize), dir, vocabSize, iters, lr, lrBias)
    }

  private def buildLr(spark: SparkSession, labeled: DataFrame, dir: String,
                      vocabSize: Int, iters: Int, lr: Long, lrBias: Long): Unit = {
    import spark.implicits._
    val (_, w, b) = train(spark, labeled, vocabSize, iters, lr, lrBias)
    w.toSeq.toDF("token", "wu").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/weights")
    Seq(b).toDF("bu").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/bias")
  }

  /** Score documents against the stored model: `(doc_id, margin, p)`,
    * margin = b + w·f and p = σ(margin), both reported at 6 dp. One
    * corpus pass: explode, broadcast-join the 256-row weight table,
    * partial-aggregated per-doc fold — all in exact micro-units until
    * the terminal σ/round.
    */
  def score(spark: SparkSession, docs: DataFrame, dir: String): DataFrame = {
    Artifact.requireKind(spark, dir, MetaPrefix)
    val w = broadcast(spark.read.parquet(s"$dir/weights"))
    val b = spark.read.parquet(s"$dir/bias").head().getLong(0)
    val toks = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("token"))
    val docLen = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("l"))
    val tc = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
    val su = marginU(
      tc.join(docLen, Seq("doc_id"))
        .select(col("doc_id"), col("token"),
          halfAway(col("c") * 1000000L, col("l")).as("fu")),
      w)
    docs.select(col("doc_id"))
      .join(su, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (lit(b) + coalesce(col("su"), lit(0L))).as("mu"))
      .select(col("doc_id"),
        round(col("mu").cast("double") / lit(1000000.0), 6).as("margin"),
        sigma6(col("mu")).as("p"))
  }

  /** The filter decision: keep iff p ≥ 1/2 (dyadic threshold — the
    * compare is portable because both sides are exact).
    */
  def predict(spark: SparkSession, docs: DataFrame, dir: String): DataFrame =
    score(spark, docs, dir)
      .select(col("doc_id"),
        when(col("p") >= 0.5, lit("keep")).otherwise(lit("drop"))
          .as("pred_label"),
        col("p"), col("margin"))

  /** Regression floors for [[agreementReport]] — alarms, not targets:
    * measured operating points are 0.836/0.890/0.823 (all/seed/
    * holdout) at sf0.01 and 0.809/0.827/0.805 at sf0.1, against a
    * ~0.53 majority baseline, so
    * a floor trip means the training loop or the teacher gate broke,
    * not that the corpus drifted a point. Micro-units (ppm).
    */
  val defaultAgreementFloors: Map[String, Long] =
    Map("all" -> 780000L, "seed" -> 800000L, "holdout" -> 760000L)

  /** Teacher-agreement calibration report — the ANN recall-report
    * discipline applied to the learned filter: the distillation
    * quality claim (student σ(w·f+b) vs the unigram-LM perplexity
    * teacher it was trained to imitate) lands IN the data the
    * correctness gate snapshots, with per-segment floors and a pass
    * column, instead of living only in a spec. Segments: `seed` (the
    * doc_id%5=0 training slice), `holdout` (everything else — the
    * honest generalization number), `all`.
    *
    * Agreement is a half-up integer micro-unit ratio (the
    * retention_ppm discipline); the double is derived by one
    * correctly-rounded ppm/10⁶ division. One corpus pass for the
    * teacher re-score + one for the student + a single global
    * aggregate — the unpivot is 3 in-row structs, never a shuffle.
    */
  def agreementReport(spark: SparkSession, docs: DataFrame, dir: String,
                      floors: Map[String, Long] = defaultAgreementFloors): DataFrame = {
    Artifact.requireKind(spark, dir, MetaPrefix)
    val seed = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      .select(col("doc_id"), col("text"))
    // teacher vocab (top-256 seed tokens WITH counts) and the student's
    // weight table index the SAME token set (both are the seed's
    // top-256 — fixtureSeed/train contract), so one broadcast join
    // serves both folds and the corpus token stream explodes ONCE:
    // teacher nll as Σ c·(−ln((vc+1)/d)) over per-(doc, token) counts
    // (the occurrence sum regrouped — the oracle mirrors this shape),
    // student margin as the usual micro-unit fold. Halves the at-scale
    // cost vs running teacherNll and predict() as separate passes.
    // ONE corpus tokenize pass (r19): the per-(doc, token) counts feed
    // the doc-length fold, the per-doc score join, and — pinned — the
    // teacher vocab too (the seed vocab is tc's seed slice
    // re-aggregated: Σ per-doc occurrence counts ≡ the occurrence
    // count, so `counts` is value-identical either way). Without the
    // pin the tc subtree is recomputed per consumer, so the gate
    // follows the ExactSubstr byte-budget discipline: below the budget
    // the single materialization wins (fixture: 2.2 tokenize passes →
    // 1); above it (a 100 TB corpus would pin a token-scale frame to
    // non-reliable executor disk) keep the recompute shape with the
    // separate seed pass.
    val tcRaw = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
    val docBytes =
      try {
        val files = docs.inputFiles
        if (files.isEmpty) Long.MaxValue
        else {
          val conf = spark.sparkContext.hadoopConfiguration
          files.map { f =>
            val p = new org.apache.hadoop.fs.Path(f)
            p.getFileSystem(conf).getFileStatus(p).getLen
          }.sum
        }
      } catch { case _: Throwable => Long.MaxValue } // unknown: don't pin
    val pinTc = docBytes <= (8L << 30)
    val tc = if (pinTc) tcRaw.localCheckpoint(false) else tcRaw
    val counts =
      if (pinTc)
        tc.filter(pmod(col("doc_id"), lit(5L)) === 0L)
          .groupBy(col("token")).agg(sum(col("c")).as("vc"))
      else seed
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("vc"))
    val v = counts.orderBy(col("vc").desc, col("token")).limit(256)
      .localCheckpoint(false) // lazy pin: first consumer materializes
    val consts = v.agg(
      (coalesce(sum(col("vc")), lit(0L)) + count(lit(1)) + 1L).as("d"))
    val w = broadcast(spark.read.parquet(s"$dir/weights"))
    val b = spark.read.parquet(s"$dir/bias").head().getLong(0)
    val docLen = tc.groupBy(col("doc_id")).agg(sum(col("c")).as("l"))
    val perDoc = tc
      .join(docLen, Seq("doc_id"))
      .join(broadcast(v), Seq("token"), "left")
      .join(w, Seq("token"), "left")
      .crossJoin(broadcast(consts))
      .groupBy(col("doc_id"))
      .agg(
        round(sum(col("c") *
            -log((coalesce(col("vc"), lit(0L)) + 1L).cast("double") / col("d")))
          / sum(col("c")), 6).as("mean_nll"),
        sum(when(col("wu").isNotNull,
          halfAway(col("wu") * halfAway(col("c") * 1000000L, col("l")),
            lit(1000000L))).otherwise(lit(0L))).as("su"))
    val flags = docs
      .select(col("doc_id"), (pmod(col("doc_id"), lit(5L)) === 0L).as("is_seed"))
      .join(perDoc, Seq("doc_id"), "left") // token-free docs: teacher drops
      .select(col("is_seed"),
        (coalesce(col("mean_nll") <= lit(TeacherThreshold), lit(false)) ===
          (sigma6(lit(b) + coalesce(col("su"), lit(0L))) >= 0.5)).as("agree"))
    val tot = flags.agg(
      count(lit(1)).as("n_all"),
      sum(when(col("agree"), 1L).otherwise(0L)).as("a_all"),
      sum(when(col("is_seed"), 1L).otherwise(0L)).as("n_seed"),
      sum(when(col("is_seed") && col("agree"), 1L).otherwise(0L)).as("a_seed"))
      .withColumn("n_holdout", col("n_all") - col("n_seed"))
      .withColumn("a_holdout", col("a_all") - col("a_seed"))
    val rows = Seq("all", "seed", "holdout").map { seg =>
      val ppm = expr(s"(2 * a_$seg * 1000000 + n_$seg) DIV (2 * n_$seg)")
      val floor = floors.getOrElse(seg, 0L)
      struct(lit(seg).as("segment"),
        col(s"n_$seg").as("n_docs"), col(s"a_$seg").as("n_agree"),
        ppm.as("agreement_ppm"),
        (ppm.cast("double") / lit(1000000.0)).as("agreement"),
        lit(floor).as("floor_ppm"),
        (ppm >= lit(floor)).as("pass"))
    }
    tot.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }
}
