package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training — the missing first step of every
  * LLM data pipeline: learn the subword vocabulary FROM the corpus the
  * engine just curated.
  *
  * The industrial-shape algorithm (what HF tokenizers / SentencePiece do
  * under the hood), not the textbook per-document one:
  *
  *  1. One corpus-proportional pass builds the WORD VOCABULARY
  *     `(word, count)` — the only step that ever touches the corpus.
  *  2. Each of the M merge rounds runs over the vocabulary only:
  *     weighted adjacent-pair counts (one partial-aggregated shuffle of
  *     ≤ |vocab| pair rows), a global top-1 (ordered limit; ties broken
  *     by frequency desc, then (left, right) asc — pinned so the merge
  *     SEQUENCE is deterministic, because every later round depends on
  *     it), and a per-word greedy re-segmentation (map-only).
  *     Training cost is M × O(|vocab|), independent of corpus size —
  *     which is exactly why word-level pre-tokenization exists.
  *  3. Encoding memoizes through the trained vocabulary: a corpus word
  *     joins the `(word → symbols)` table instead of re-running merges
  *     (the HF "word cache", as a join); [[applyMerges]] remains the
  *     from-scratch path for out-of-vocabulary words.
  *
  * Greedy application contract (both engines, provably identical): one
  * merge (a,b) rewrites symbols left-to-right, non-overlapping — here a
  * left fold that coalesces the accumulator tail, in the SQL oracle a
  * `replace` over a delimiter-wrapped rendering (`␟a␟␟b␟` → `␟ab␟`,
  * every symbol individually wrapped so matches anchor on whole symbols
  * and adjacent matches share no characters).
  *
  * Deliberately NOT a delta-lifecycle artifact (unlike the
  * NB/unigram/bigram/inverted-index family): the merge list is an
  * order-sensitive chain of global argmaxes, so there is no O(batch)
  * append that preserves it — any corpus change can reorder round 1 and
  * invalidate everything after. Tokenizers are retrained, not patched;
  * pretending otherwise would be a correctness bug dressed as a feature.
  * The TRAINED result is still a persisted, fingerprint-guarded
  * artifact ([[trained]], r18): any corpus or parameter change triggers
  * a FULL retrain — never an append — and an unchanged corpus serves
  * the stored merge list + vocabulary segmentation instead of
  * re-training identically every session.
  */
object Bpe {

  final case class Merge(rank: Int, lhs: String, rhs: String, pairN: Long)

  /** Corpus → `(w, n)` word counts; the single corpus-wide pass. */
  private[ext] def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))

  /** One symbol per CHARACTER (code point): `substr` walks Unicode
    * characters in both engines, where `split(w, "")` would shear a
    * non-BMP character into two lone surrogates (UTF-16 code units) and
    * diverge from the oracle's per-character `w[i]`.
    */
  private[ext] def charsCol(w: Column): Column =
    transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))

  /** Initial segmentation: one symbol per character. */
  private[ext] def initState(words: DataFrame): DataFrame =
    words.withColumn("syms", charsCol(col("w")))

  /** Greedy left-to-right application of one merge: a left fold whose
    * accumulator tail coalesces `… a | b` into `… ab`. Non-overlapping
    * by construction (the merged symbol never re-matches `a` unless a
    * later round makes it a pair member again).
    */
  private[ext] def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** From-scratch segmentation of a word column under a trained merge
    * list — the OOV path of the encoder.
    */
  def applyMerges(w: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(charsCol(w)) { (c, m) => applyMerge(c, m.lhs, m.rhs) }

  /** Weighted adjacent-pair counts over the current segmentation. */
  private def pairCounts(state: DataFrame): DataFrame =
    state.select(col("n"),
        explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("lhs"), b.as("rhs")))).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("n")).as("pn"))

  /** Train `nMerges` rounds; returns the merge sequence and the final
    * `(w, n, syms)` vocabulary segmentation. Deterministic end-to-end.
    */
  def train(docs: DataFrame, nMerges: Int = 8): (Seq[Merge], DataFrame) = {
    var state = initState(wordCounts(docs)).localCheckpoint()
    val merges = Seq.newBuilder[Merge]
    for (r <- 1 to nMerges) {
      val top = pairCounts(state)
        .orderBy(col("pn").desc, col("lhs"), col("rhs")).limit(1)
        .collect()
      require(top.nonEmpty,
        s"corpus exhausted at merge round $r: every word is one symbol")
      val Row(l: String, rt: String, pn: Long) = top.head
      merges += Merge(r, l, rt, pn)
      state = state.withColumn("syms", applyMerge(col("syms"), l, rt))
        .localCheckpoint()
    }
    (merges.result(), state)
  }

  /** Trained tokenizer, persisted as a fingerprint-guarded artifact
    * (r18 optimization): the merge list + final vocabulary
    * segmentation are written once per corpus content and re-served
    * across sessions — every warm phase previously re-trained the
    * identical tokenizer (~1.9 s of the bench build line). This is
    * NOT a delta lifecycle (the class-doc argument stands: the merge
    * chain of global argmaxes admits no O(batch) append) — `ensure`
    * does a FULL retrain on any corpus or parameter change, which is
    * exactly "tokenizers are retrained, not patched" made persistent:
    * a shipped tokenizer is an artifact, not a per-session scratch
    * value. The loaded result is cached per (app, key), versioned by
    * the artifact's metadata file, which every build rewrites: queries
    * share one load, and a rebuilt directory (say, after it was
    * deleted) is loaded again rather than served from files that are
    * gone.
    */
  def trained(spark: SparkSession, docs: DataFrame, key: String,
              nMerges: Int = 8): (Seq[Merge], DataFrame) = {
    val dir = s"${Artifact.root(key)}/bpe_m$nMerges"
    Artifact.ensure(spark, dir,
      s"bpe v1 m=$nMerges fp=" +
        Artifact.fingerprint(docs, col("doc_id"), col("text"))) {
      val (m, st) = train(docs, nMerges)
      mergeTable(spark, m).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/merges")
      st.write.mode("overwrite").parquet(s"$dir/state")
    }
    ArtifactCache.get(spark.sparkContext, s"bpe#$key#$nMerges",
        Artifact.fileFingerprint(spark, s"$dir/index_meta.txt")) {
      val m = spark.read.parquet(s"$dir/merges")
        .orderBy(col("merge_rank")).collect()
        .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq
      ArtifactCache.Entry((m, spark.read.parquet(s"$dir/state")))
    }
  }

  /** The learned merge table as a DataFrame (merge_rank, lhs, rhs,
    * pair_n) — rank order IS the application order.
    */
  def mergeTable(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.map(m => (m.rank, m.lhs, m.rhs, m.pairN))
      .toDF("merge_rank", "lhs", "rhs", "pair_n")
  }

  /** Subword vocabulary after training: each token with its total
    * corpus occurrence count (word count × uses within the word).
    */
  def vocab(state: DataFrame): DataFrame =
    state.select(explode(col("syms")).as("token"), col("n"))
      .groupBy(col("token")).agg(sum(col("n")).as("n_occ"))
      .orderBy(col("token"))

  /** Tokenizer fertility report per language — the quality number a
    * tokenizer review actually reads (how many subwords a word costs,
    * how many chars a token carries, per language): docs × the trained
    * tokenizer's per-doc counts, rolled up by lang with half-up ppm
    * ratios. Ratios are carried in DECIMAL(38,0) (HUGEINT in the
    * oracle): corpus char sums × 2·10⁶ overflow a long at 100 TB.
    * Documents with no words contribute chars but no tokens — they
    * ride via the LEFT join with zero counts, so the char column still
    * audits the whole corpus.
    */
  def fertility(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val counts = encodeStats(docs, merges)
      .select(col("doc_id"), col("n_words"), col("n_tokens"))
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .join(counts, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(coalesce(col("n_words"), lit(0L))).as("n_words"),
        sum(coalesce(col("n_tokens"), lit(0L))).as("n_tokens"))
      .select(col("lang"), col("n_docs"), col("n_chars"), col("n_words"),
        col("n_tokens"),
        expr("""CAST((2 * CAST(n_chars AS DECIMAL(38,0)) * 1000000 + n_tokens)
                DIV (2 * n_tokens) AS BIGINT)""").as("chars_per_token_ppm"),
        expr("""CAST((2 * CAST(n_tokens AS DECIMAL(38,0)) * 1000000 + n_words)
                DIV (2 * n_words) AS BIGINT)""").as("tokens_per_word_ppm"))
  }

  /** Per-document token statistics under the trained tokenizer: the
    * whole document (word split + per-word greedy segmentation) runs
    * through ONE native kernel call ([[graft.functions.native
    * .bpe_doc_stats]]) inside the scan's whole-stage-generated code —
    * zero joins, zero explode, zero shuffle. Both prior shapes are
    * gone on purpose: the "memoized encode" vocabulary join turns into
    * a corpus-sized shuffle at 100 TB (the word vocabulary is itself
    * billions of rows), and even a per-WORD kernel still pays the
    * explode's row amplification plus a doc_id re-aggregation of the
    * word stream — measured 2.4× the whole per-doc cost at the 100×
    * point. The kernel's greedy semantics equal the layered
    * [[applyMerges]] fold word for word (parity spec-pinned in
    * `BpeSpec`; the fold remains the SQL-replayable oracle twin).
    * Documents whose text has no words (empty/spaces-only) drop, same
    * as under `explode`.
    */
  def encodeStats(docs: DataFrame, merges: Seq[Merge]): DataFrame =
    docs.select(col("doc_id"), graft.functions.native.bpe_doc_stats(
        col("text"), merges.map(_.lhs).toArray, merges.map(_.rhs).toArray)
        .as("st"))
      .select(col("doc_id"),
        shiftright(col("st"), 32).as("n_words"),
        col("st").bitwiseAND(lit(0xFFFFFFFFL)).as("n_tokens"))
      .filter(col("n_words") > 0)
      .orderBy(col("doc_id"))
}
