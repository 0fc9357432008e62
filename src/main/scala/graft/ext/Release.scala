package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus RELEASE as one oracle-verified rewrite — the
  * query that certifies the curation stages COMPOSE at document
  * level, not just that each stage is individually correct:
  *
  *   markup-extract → PII redact (counted) → normalize →
  *   length / stopword / perplexity gates → paragraph dedup →
  *   exact dedup → benchmark decontamination → released docs
  *
  * The eval slice (`doc_id % 10 = 0`) is held out of the release and
  * serves as the decontamination benchmark (processed through the
  * same markup/normalize front-end, PII plant aside). Every stage
  * reuses the exact construction its standalone query certifies
  * (shell literals from `text_extract_markup`, the PII plant from
  * `text_pii_redact`, the funnel's gate predicates, the
  * `quality_perplexity` vocabulary recipe trained on the chained
  * normalized corpus itself, `dedup_paragraphs`' segment rule,
  * `decontaminate`'s 5-gram overlap), so the mega-oracle is a
  * composition of already-verified fragments and a hash match
  * certifies the whole pipeline end to end.
  *
  * Scale shape: the chain is narrow per-row string work until the
  * segment dedup (one shuffle on segment), the exact dedup (one
  * shuffle on rebuilt text), and the decon probe (benchmark shingles
  * broadcast); the perplexity vocabulary is one bounded (top-4096)
  * aggregate over the token stream. No driver-side loops; every
  * intermediate is a DataFrame.
  */
object Release {

  val MinTokens = 30
  val MaxStopwordFrac = 0.12
  /** Perplexity gate MARGIN above the corpus mean NLL. The gate is
    * RELATIVE (the CCNet shape): an absolute NLL cutoff is
    * scale-dependent — the smoothing denominator grows with corpus
    * size, so the same corpus at 10× sits ~ln 10 higher and an
    * absolute 4.0 released ZERO documents at sf1. The comparison runs
    * in exact DECIMAL arithmetic over the round-6 per-doc values
    * (`(nll − margin)·n ≤ Σnll`), so both engines decide identically
    * — no float-sum order, no boundary straddling.
    */
  val PplMarginNll = 0.25
  val VocabSize = 4096
  val DeconShingle = 5
  val DeconMinShared = 5L

  /** The shared front-end: the `text_extract_markup` HTML shell over
    * the (optionally PII-planted) text, stripped back to plain text,
    * PII counted + redacted, then normalized. Constructions are
    * shared literal-for-literal with their standalone queries.
    */
  private def prepared(docs: DataFrame, plantPii: Boolean): DataFrame = {
    val id = col("doc_id").cast("string")
    val t0: Column =
      if (!plantPii) col("text")
      else concat_ws(" ", col("text"),
        concat(lit("user"), id, lit("@mail.example.com")),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("call 555-"),
            lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
            lit("-"),
            lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"), 4, "0")))
          .otherwise(lit("no phone")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit("from 10."),
            pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
            pmod(col("doc_id") * 3, lit(256)).cast("string"), lit(".1")))
          .otherwise(lit("local")))
    val html = concat(
      lit("<html><head><title>"), col("source"),
      lit("</title><style>p{margin:0}</style>" +
        "<script type=\"text/javascript\">var id="), id,
      lit(";</script></head><body><h1>"), col("source"),
      lit("</h1><p>"), replace(t0, lit(". "), lit(".</p><p>")),
      lit("</p><!-- id:"), id,
      lit(" --><div class=\"nav\">Home &amp; About &gt; Contact</div>" +
        "</body></html>"))
    val redacted = TextAnalysis.redactPii(
      docs.select(col("doc_id"), col("lang"),
        TextAnalysis.extractMarkup(html).as("text")))
    redacted.select(col("doc_id"), col("lang"),
      (col("n_emails") + col("n_phones") + col("n_ips")).as("n_pii"),
      TextAnalysis.normalize(col("text")).as("text"))
  }

  /** The released corpus: one row per surviving document with its PII
    * audit count, final token count, and an md5 content digest of the
    * final (markup-stripped, redacted, normalized, segment-deduped)
    * text.
    */
  def release(docs: DataFrame,
              pplMarginNll: Double = PplMarginNll,
              deconMinShared: Long = DeconMinShared): DataFrame = {
    // the prepared frames and the two gate/dedup waypoints each feed
    // SEVERAL consumers (vocab + nll + gate; segments + id join;
    // overlap probe + anti join) — without pinning, the whole regex
    // front-end re-runs once per consumer (measured 6.5 -> ~2.5 s at
    // sf0.1). All are bounded (one row per doc, text-sized).
    val corpus = prepared(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      plantPii = true).localCheckpoint()
    val bench = prepared(docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      plantPii = false).localCheckpoint()
    val stop = array(TextAnalysis.StopWords.map(lit): _*)
    val withTok = corpus
      .withColumn("__t", TextAnalysis.tokens(col("text")))
      .withColumn("__n", size(col("__t")).cast("long"))
    // perplexity model trained on the chained normalized corpus itself
    // (a release is a one-shot job — no persisted artifact needed);
    // the quality_perplexity vocabulary recipe: top-4096 by (count
    // desc, token), add-one smoothing over d = total + |V| + 1
    val vocab = withTok
      .select(explode(col("__t")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token")).limit(VocabSize)
      .localCheckpoint()
    val consts = vocab.agg(
      (coalesce(sum(col("c")), lit(0L)) + count(lit(1)) + 1L).as("d"))
    val nll = withTok
      .select(col("doc_id"), explode(col("__t")).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .crossJoin(broadcast(consts))
      .groupBy(col("doc_id"))
      .agg(round(
        sum(-log((coalesce(col("c"), lit(0L)) + 1L).cast("double") / col("d")))
          / count(lit(1)), 6).as("mean_nll"))
      // one row per doc, consumed twice (corpus-mean fold + gate join)
      // — without the pin the exploded token-stream scoring runs twice
      .localCheckpoint()
    // the relative perplexity cutoff: exact decimal fold over the
    // round-6 per-doc values — (nll − margin)·n ≤ Σnll decides
    // identically in any engine and at any corpus scale
    // tight precisions keep every product within 38 digits, so both
    // engines compute the EXACT rational value (no overflow rounding)
    val nllDec = col("mean_nll").cast("decimal(12,6)")
    val pplStats = nll.agg(
      sum(nllDec).as("nll_sum"),
      count(lit(1)).cast("decimal(12,0)").as("nll_n")).localCheckpoint()
    val gated = withTok.join(nll, Seq("doc_id"))
      .crossJoin(broadcast(pplStats))
      .filter(col("__n") >= MinTokens &&
        size(filter(col("__t"), t => array_contains(stop, t))).cast("double") /
          size(col("__t")) <= MaxStopwordFrac &&
        (nllDec - lit(pplMarginNll).cast("decimal(12,6)")) * col("nll_n") <=
          col("nll_sum"))
      .select(col("doc_id"), col("lang"), col("n_pii"), col("text"))
      .localCheckpoint()
    // paragraph (16-token segment) dedup: first occurrence wins
    // corpus-wide; a doc whose every segment was seen before drops
    val rebuilt = Dedup.dedupSegments(gated)
      .filter(col("n_kept") >= 1)
      .select(col("doc_id"), col("text_dedup").as("text"))
      .join(gated.select(col("doc_id"), col("lang"), col("n_pii")), Seq("doc_id"))
    // exact dedup on the rebuilt text (keep the smallest doc_id)
    val keepIds = rebuilt.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val deduped = rebuilt.join(keepIds, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    // benchmark decontamination over the final text
    val clean = Dedup.removeContaminated(deduped,
      bench.select(col("doc_id"), col("text")),
      w = DeconShingle, minOverlap = deconMinShared)
    clean.select(col("doc_id"), col("lang"), col("n_pii"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
      md5(col("text")).as("text_md5"))
  }

  /** [[release]] with default parameters, cached per (app, corpus
    * fingerprint): the text chain is one deterministic corpus pass
    * consumed by TWO registered queries (corpus_release and
    * corpus_release_mm), so the suite pays the regex front-end + gates
    * + dedup + decon once, not per consumer. The returned frame is
    * localCheckpointed (pinned by the cache entry).
    */
  def releaseCached(spark: SparkSession, docs: DataFrame): DataFrame = {
    // the fingerprint covers EVERY input column the chain reads:
    // `source` survives markup extraction into the released text/md5
    // and `lang` is carried to the output, so a corpus whose lang or
    // source changed under identical (doc_id, text) must re-key — with
    // the persisted memo an under-keyed fingerprint would serve a stale
    // released corpus across sessions, not just within one app
    val fp = Artifact.fingerprint(docs,
      col("doc_id"), col("text"), col("lang"), col("source"))
    ArtifactCache.get(spark.sparkContext, "release", fp) {
      // the chain is deterministic per corpus fingerprint, so its
      // result PERSISTS across apps (keyed on the fingerprint — the
      // path needs no fixture dir): a warm fixture reads the released
      // corpus back instead of re-running the 6+ s chain per session.
      // The _DONE marker commits the write, and the write runs under
      // the house pending-mutation window (begin before the overwrite,
      // end after the marker) so a concurrent reader of the same
      // fingerprint key sees either the committed store or a
      // mid-mutation state it rebuilds from — never a half-written
      // directory served as fresh. A crash mid-write rebuilds.
      // Growth is one entry per distinct corpus ever released (shared
      // across fixtures, so entries must never be pruned by "not the
      // current fixture's fingerprint"); a deployment would retire old
      // fingerprints by retention policy, not by this library.
      val dir = s"target/artifacts/release_memo/${fp.replace(':', '_')}"
      val done = new org.apache.hadoop.fs.Path(s"$dir/_DONE")
      val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(done) && !Artifact.hasPendingMutation(spark, dir)) {
        val rel = spark.read.parquet(s"$dir/rel")
        ArtifactCache.Entry(rel)
      } else {
        val rel = release(docs).localCheckpoint()
        Artifact.beginMutation(spark, dir)
        rel.write.mode("overwrite").parquet(s"$dir/rel")
        fs.create(done, true).close()
        Artifact.endMutation(spark, dir)
        ArtifactCache.Entry(rel, Seq(rel))
      }
    }
  }

  /** The MULTIMODAL release: the text chain ([[release]]) composed
    * with the media family's already-verified stages over the
    * decode-once feature store at `mediaDir` — a released document
    * must also
    *  1. pass every [[MediaQuality.mediaOkFlags]] gate (all three
    *     modality OK flags, undecodable fails closed),
    *  2. not match a benchmark media asset
    *     ([[MediaDedup.deconMedia]] — exact or near tier), and
    *  3. be the FIRST SURVIVOR of its perceptual image duplicate
    *     group ([[MediaDedup.imageDupGroupsOver]] over the release
    *     corpus's stored dHashes — keep doc iff it is the minimum
    *     surviving doc_id of its group, so a group whose natural rep
    *     fell to a text gate still releases one member).
    *
    * Stage order (text chain → media gates → decon → group collapse)
    * is part of the declared semantics and replayed by the oracle.
    * Scale shape: every media stage reads the slim feature store —
    * zero payload bytes — and the group collapse runs over group
    * REPRESENTATIVES (bounded by distinct perceptual content, not
    * corpus size); the release-side joins are doc_id equi joins.
    */
  /** The multimodal release's media-decon eval suite stays FIXED-SIZE
    * regardless of corpus scale: assets come from `doc_id < 2000`
    * only. The default `decon_media` bound (50000) saturates the
    * degenerate fixture image universe at 10× — every mod-256 raster
    * class gains a benchmark asset and the exact tier then correctly
    * (but uselessly) empties the whole release, the same
    * scale-dependent-cutoff failure the relative ppl gate fixed in
    * the text chain. A fixed 2000-bound suite flags a scale-stable
    * class fraction at every fixture size.
    */
  val MediaBenchBound = 2000L

  def releaseMultimodal(spark: SparkSession, docs: DataFrame,
                        mediaDir: String): DataFrame = {
    // one row per doc, consumed by the gate semi join + the final
    // projection — the text chain must not re-run per consumer
    val base = releaseCached(spark, docs)
    val okIds = MediaQuality.mediaOkFlags(spark, mediaDir)
      .filter(col("audio_ok") && col("video_ok") && col("image_ok"))
      .select(col("doc_id"))
    val deconIds = MediaDedup.deconMedia(spark, docs, mediaDir,
        benchIdBound = MediaBenchBound)
      .select(col("doc_id"))
    val surv = base.join(okIds, Seq("doc_id"), "left_semi")
      .join(deconIds, Seq("doc_id"), "left_anti")
      // lazy pin (r19): consumed twice (group-min fold + final semi);
      // the first consuming job materializes — no dedicated job round
      .localCheckpoint(false)
    val groups = MediaDedup.imageDupGroupsOver(
      MediaFeatures.features(spark, mediaDir)
        .filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(col("doc_id"), col("dhash").as("sig"))
        .filter(col("sig").isNotNull))
    val keep = surv.select(col("doc_id"))
      .join(groups, Seq("doc_id"))
      .groupBy(col("group_id")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    surv.join(keep, Seq("doc_id"), "left_semi")
  }
}
