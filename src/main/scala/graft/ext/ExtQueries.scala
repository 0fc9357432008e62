package graft.ext

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** North-star operator queries (SURVEY.md §7.4): dedup, similarity
  * search, text analysis. SQL-expressible ones carry DuckDB oracles;
  * the sketch/LSH ops are rows-only checked here and property-tested in
  * scalatest.
  */
object ExtQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup via content hash groupBy.
    "dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d))
        .orderBy(col("keep_doc_id"))),

    // MinHash + LSH near-dup candidate pairs, exact-Jaccard verified.
    // Served from the persisted pair artifact (threshold applied at read
    // time) — the LSH pass itself runs once per corpus at build; this
    // equals Dedup.minhashPairs at the same parameters by construction.
    "dedup_minhash_lsh" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = Dedup.ensurePairs(s, docs, s"${Artifact.root(d)}/neardup")
      Dedup.loadPairs(s, dir)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // SimHash Hamming-distance near-dup pairs (pigeonhole banding),
    // over md5-derived token-hash bits so DuckDB replays the signature
    // construction bit-for-bit; the xxhash64 kernel (Dedup.simhash)
    // stays as the at-scale twin, spec-covered.
    "dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), maxHamming = 16,
          sigOf = Dedup.simhashMd5)
        .orderBy(col("a_id"), col("b_id"))),

    // Duplicate groups: connected components over the LSH near-dup pair
    // graph, every member labeled with its component-min doc_id. The
    // pair graph is the persisted artifact dedup_minhash_lsh computes
    // live — built once per corpus (fingerprint-guarded), consumed here
    // and by dedup_apply.
    "dedup_groups" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = Dedup.ensurePairs(s, docs, s"${Artifact.root(d)}/neardup")
      Dedup.duplicateGroups(Dedup.loadPairs(s, dir))
        .orderBy(col("doc_id"))
    }),

    // End-to-end dedup application: corpus minus non-canonical dup-group
    // members (each group keeps its min doc_id). Groups come from the
    // persisted dupgroups artifact (duplicateGroups runs once per
    // pair-table content — a build step, not a per-query cost); the
    // same CC stays live under the oracle via dedup_groups.
    "dedup_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = Dedup.ensurePairs(s, docs, s"${Artifact.root(d)}/neardup")
      val gdir = Dedup.ensureGroups(s, dir, s"${Artifact.root(d)}/dupgroups")
      Dedup.applyDedupStored(s, docs, gdir)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Incremental dedup: the %10==0 slice plays "tonight's batch", the
    // rest is the indexed corpus — batch near-dups found via the
    // persisted band index without re-signing the corpus.
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val dir = Dedup.ensureBandIndex(s, corpus, s"${Artifact.root(d)}/bandindex")
      Dedup.incrementalPairs(s, batch, corpus, dir)
        .orderBy(col("new_id"), col("corpus_id"))
    }),

    // Top-K n-gram-Jaccard pairs among LSH candidates, served from the
    // persisted pair artifact (every candidate carries its exact
    // jaccard at rest — the top-K is one TakeOrderedAndProject).
    "dedup_ngram_jaccard" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = Dedup.ensurePairs(s, docs, s"${Artifact.root(d)}/neardup")
      Dedup.topJaccardPairsStored(s, dir)
        .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
    }),

    // Asymmetric-containment top-K (quote/subset detection): pairs
    // ranked by |A∩B| / min(|A|,|B|) over 5-gram shingles (the
    // decontamination granularity — distinctive phrases, not w=3
    // function-word collocations). Candidates come from a df-capped
    // shingle posting pass — NOT minhash bands, which structurally
    // miss short-inside-long pairs (Jaccard → 0 while containment =
    // 1.0); the reported score is exact. Served from the persisted
    // containment artifact (r14): the posting-stats exchange runs once
    // at build, both containment queries read the stored candidate set.
    "dedup_containment" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = Dedup.ensureContainment(s, docs, s"${Artifact.root(d)}/containment")
      Dedup.containmentTopKStored(s, docs, dir)
        .orderBy(col("containment").desc, col("a_id"), col("b_id"))
    }),

    // The removal form of containment: the corpus with every
    // subsumed document dropped (loser = smaller shingle set; mutual
    // containment keeps the smaller doc_id) — subset removal that
    // hash dedup, MinHash, and paragraph dedup each miss. Same
    // persisted artifact as dedup_containment.
    "dedup_apply_containment" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = Dedup.ensureContainment(s, docs, s"${Artifact.root(d)}/containment")
      Dedup.applyContainmentStored(s, docs, dir)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Incremental containment admission: the %10==0 slice plays
    // "tonight's batch" against the indexed rest-of-corpus — batch
    // shingles probe the PERSISTED shingle map (Bloom-prefiltered map
    // scan, stored id-set fan-out), so nothing corpus-sized is
    // re-shingled at admission time. The dedup_incremental analog for
    // the quote/subset relation.
    "dedup_containment_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val dir = Dedup.ensureContainment(s, corpus,
        s"${Artifact.root(d)}/containment_corpus")
      Dedup.incrementalContainment(s, batch, corpus, dir, minContainment = 0.5)
        .orderBy(col("new_id"), col("corpus_id"))
    }),

    // Embedding-cosine near-dup pairs: md5-integer SRP candidate
    // buckets + exact micro-unit cosine, so the DuckDB oracle replays
    // candidate generation and scoring bit-for-bit (the float-plane
    // kernel stays as the at-scale twin in cosineNearDupPairs).
    // spread=false: first op is the SRP-bucket explode → groupBy(bucket)
    // exchange — floor redistribution is pure cost (A/B min-of-3 1.13 s
    // without vs 1.28 with; Tables.scala wantSpread note)
    "dedup_embed_cosine" -> ((s, d) =>
      Similarity.cosineNearDupPairsExact(Tables.embeddings(s, d, wantSpread = false))
        .orderBy(col("cos").desc, col("a_id"), col("b_id"))),

    // Exact brute-force cosine top-k (baseline ANN path). rank cast to
    // long to match the oracle's ROW_NUMBER (bigint in DuckDB).
    "sim_bruteforce_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("q_id"), col("rank"))),

    // SRP-LSH bucketed ANN (scale path), served from the persisted
    // bucket table — the corpus is SRP-hashed once, not per query.
    "sim_lsh_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = AnnIndex.ensureSrp(s, emb, s"${AnnIndex.defaultRoot(d)}/srp_h8t4")
      AnnIndex.searchSrp(s, emb, dir).orderBy(col("q_id"), col("rank"))
    }),

    // IVF coarse-quantizer ANN served from the persisted index: built
    // once under target/ann_index (load-once/serve-many), probed cells
    // partition-prune the assignments scan.
    "sim_ivf_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = AnnIndex.ensureIvf(s, emb, s"${AnnIndex.defaultRoot(d)}/ivf_c16")
      AnnIndex.searchIvf(s, emb, dir).orderBy(col("q_id"), col("rank"))
    }),

    // PQ-compressed ANN with asymmetric distance, served from the
    // persisted 32×-compressed code table.
    "sim_pq_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = AnnIndex.ensurePq(s, emb, s"${AnnIndex.defaultRoot(d)}/pq_m8")
      AnnIndex.searchPq(s, emb, dir).orderBy(col("q_id"), col("rank"))
    }),

    // IVF-PQ composition (residual PQ within coarse cells) — the
    // production index shape at 100 TB: partition-pruned probe + ADC
    // over codes + exact rerank.
    "sim_ivfpq_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = AnnIndex.ensureIvfPq(s, emb, s"${AnnIndex.defaultRoot(d)}/ivfpq_c16_m8")
      AnnIndex.searchIvfPq(s, emb, dir).orderBy(col("q_id"), col("rank"))
    }),

    // Recall@k of every ANN variant against the exact brute-force truth
    // set, as one report row per index family — the quality number the
    // rows-only sim_*_topk entries cannot pin. Rows-only itself (the
    // approximate sides are engine-private, like sim_ivf*), but the
    // recall column is spec-gated (AnnIndexSpec) and the truth side is
    // the oracle-green sim_bruteforce_topk pair set.
    "sim_recall_report" -> ((s, d) =>
      AnnIndex.recallReport(s, Tables.embeddings(s, d), AnnIndex.defaultRoot(d))
        .orderBy(col("method"))),

    // Vocabulary with document frequency + idf: the corpus-statistics
    // pass behind TF-IDF weighting and vocab pruning. Per-doc distinct
    // terms explode into one groupBy; the doc count joins in-plan as a
    // broadcast 1-row aggregate (no driver action).
    "text_vocab_tfidf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      docs.select(explode(array_distinct(split(col("text"), " "))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDocs))
        .select(col("term"), col("df"),
          round(log(col("n_docs").cast("double") / col("df")), 6).as("idf"))
        .orderBy(col("df").desc, col("term"))
        .limit(50)
    }),

    // Token counting per language (whitespace tokenizer).
    "text_token_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), size(TextAnalysis.tokens(col("text"))).as("n_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"))
        .orderBy(col("lang"))),

    // Per-document quality features (row-level).
    "text_quality" -> ((s, d) =>
      TextAnalysis.qualityFeatures(Tables.documents(s, d))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_chars_measured").cast("long").as("n_chars_measured"),
          col("avg_token_len"), col("stopword_ratio"))
        .orderBy(col("doc_id"))),

    // Gopher-style repetition filters: distinct-token ratio, top
    // token/bigram fractions, threshold pass — per-row equal-run scans
    // over sorted token arrays, never an explode+groupBy shuffle.
    "text_repetition" -> ((s, d) =>
      TextAnalysis.repetitionFeatures(Tables.documents(s, d))
        .select(col("doc_id"), col("n_tokens"), col("distinct_token_ratio"),
          col("top_token_count"), col("top_token_fraction"),
          col("top_bigram_count"), col("top_bigram_fraction"),
          col("repetition_pass"))
        .orderBy(col("doc_id"))),

    // Language-ID heuristic vs labeled lang: confusion counts.
    "text_langid" -> ((s, d) =>
      TextAnalysis.withPredictedLang(Tables.documents(s, d))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred_lang"))),

    // Winnowing-style min-selected document fingerprints. md5 gram
    // hashes make the fingerprint VALUE oracle-replayable (the native
    // XXH64 rolling kernel remains as the spec-verified scale path).
    "text_fingerprint" -> ((s, d) =>
      TextAnalysis.withFingerprint(Tables.documents(s, d))
        .select(col("doc_id"), col("fingerprint"))
        .orderBy(col("doc_id"))),

    // Corpus text normalization + PII masking (per-row, shuffle-free).
    "text_normalize" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.normalize(col("text")).as("norm_text"))
        .orderBy(col("doc_id"))),

    // Markup-to-text extraction: the fixture text wrapped in a
    // deterministic HTML shell (title/style/script/comments/entities —
    // the construction is shared literal-for-literal with the oracle),
    // then extracted by the portable regex chain. The hash match
    // certifies the STRIP rules, independently implemented in DuckDB.
    "text_extract_markup" -> ((s, d) => {
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>"), col("source"),
        lit("</title><style>p{margin:0}</style>" +
          "<script type=\"text/javascript\">var id="), id,
        lit(";</script></head><body><h1>"), col("source"),
        lit("</h1><p>"), replace(col("text"), lit(". "), lit(".</p><p>")),
        lit("</p><!-- id:"), id,
        lit(" --><div class=\"nav\">Home &amp; About &gt; Contact</div>" +
          "</body></html>"))
      Tables.documents(s, d)
        .select(col("doc_id"), html.as("__html"))
        .select(col("doc_id"),
          length(col("__html")).cast("long").as("n_raw_chars"),
          TextAnalysis.extractMarkup(col("__html")).as("text_plain"))
        .withColumn("n_plain_chars", length(col("text_plain")).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic hash-mod stratified sampling (a filter, not a sort —
    // the shape that survives 100 TB and stays reproducible).
    "doc_sample_stratified" -> ((s, d) =>
      TextAnalysis.sampleStratified(Tables.documents(s, d), "lang", "doc_id",
        Map("en" -> 200, "es" -> 100, "zh" -> 50), defaultPermille = 25)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // Context-window chunking (64-token windows every 48).
    "doc_chunk" -> ((s, d) =>
      TextAnalysis.chunkTokens(Tables.documents(s, d))
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text"),
          col("n_chunk_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // Benchmark decontamination: 5-gram overlap of corpus docs against
    // the (deterministically chosen) eval subset.
    "decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationReport(
          docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(10)) === 0))
        .orderBy(col("doc_id"))
    }),

    // SEMANTIC decontamination (paraphrase-robust): the shingle
    // exact/Bloom decon family passes a reworded benchmark item; its
    // embedding does not move. Cross-side (corpus × benchmark)
    // candidates from md5-integer SRP buckets — the benchmark bucket
    // table broadcasts, the corpus never shuffles — scored with the
    // exact micro-unit cosine; top-25 report, both stages replayed
    // bit-for-bit by the oracle.
    "decon_semantic" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.semanticContamination(
          emb.filter(pmod(col("vec_id"), lit(10)) === 0),
          emb.filter(pmod(col("vec_id"), lit(10)) =!= 0))
        .orderBy(col("cos").desc, col("corpus_id"), col("bench_id"))
        .limit(25)
    }),

    // The removal form: corpus embeddings within the cosine radius of
    // any benchmark embedding are dropped (flagged docs carry an exact
    // verified cosine — SRP can only miss a borderline pair, never
    // flag an unrelated one). The fixture radius (0.4) is demonstrative
    // — this synthetic corpus plants no cross-split paraphrases, so it
    // exercises the pipeline on the highest organic matches; production
    // radii sit at ≥0.9, where SRP bucket collision is near-certain
    // (SimilaritySpec plants a cos≈0.999 paraphrase and asserts it is
    // caught). The oracle replays BOTH candidate generation and
    // scoring, so the gate is exact at any radius.
    "decon_semantic_apply" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.removeSemanticContamination(
          emb.filter(pmod(col("vec_id"), lit(10)) === 0),
          emb.filter(pmod(col("vec_id"), lit(10)) =!= 0),
          radius = 0.4)
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    }),

    // Embedding L2-normalization, projected to scalars (norm + first
    // component) so a generic checker can sort/hash the output.
    "embed_normalize" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          round(sqrt(graft.functions.native.dot_product(
            col("embedding"), col("embedding"))), 6).as("norm_before"),
          round(element_at(Similarity.l2Normalize(col("embedding")), 1), 6).as("c0_after"))
        .orderBy(col("vec_id"))),

    // Multimodal: binary media column → REAL P6 decode (header parsed
    // from the payload bytes inside one codegen'd kernel call — see
    // Multimodal scaladoc) → integer pixel stats. width/height here are
    // what the DECODER recovered from the image header, not the
    // metadata columns; the oracle replays the generative raster
    // formula, so a hash match certifies the decode end to end.
    "mm_decode_features" -> ((s, d) =>
      Multimodal.decodeStats(Multimodal.withFakeMedia(Tables.documents(s, d)))
        .select(Seq(col("doc_id"), col("width"), col("height"),
          col("r_sum"), col("g_sum"), col("b_sum")) ++
          (0 until Multimodal.FeatureDim).map(i =>
            element_at(col("hist"), i + 1).as(f"h$i%02d")): _*)
        .orderBy(col("doc_id"))),

    // Multimodal: tiled average-pooling over the DECODED raster — the
    // spatial feature-extract step after decode, on real pixels, one
    // codegen'd kernel call per row; oracle replays the generative
    // formula pixel-by-pixel with the same integral tile partition.
    "mm_tile_stats" -> ((s, d) =>
      Multimodal.tilePool(Multimodal.withFakeMedia(Tables.documents(s, d)))
        .orderBy(col("doc_id"), col("tile"))),

    // Multimodal: metadata-only resize (never touches the payload).
    "mm_resize_meta" -> ((s, d) =>
      Multimodal.resizeMeta(Multimodal.withFakeMedia(Tables.documents(s, d)), 48)
        .select(col("doc_id"), col("width"), col("height"),
          col("out_width"), col("out_height"))
        .orderBy(col("doc_id"))),

    // Multimodal: video-style frame sampling (explode into strided slices).
    "mm_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.withFakeMedia(Tables.documents(s, d)))
        .select(col("doc_id"), col("frame"), length(col("frame_bytes")).as("frame_len"))
        .orderBy(col("doc_id"), col("frame"))),

    // Multimodal: the SECOND real decode — binary audio column → strict
    // RIFF/PCM parse (channels / sample rate / frame count recovered
    // from the payload bytes with every derived header field
    // cross-checked) → one-pass integer sample stats, all inside one
    // codegen'd kernel call per row; the oracle replays the generative
    // sample formula, so a hash match certifies the decode end to end.
    "audio_decode_stats" -> ((s, d) =>
      Multimodal.audioStats(Multimodal.withFakeAudio(Tables.documents(s, d)))
        .select(Seq(col("doc_id"), col("n_channels"), col("sample_rate"),
          col("n_frames"), col("duration_ms"), col("c0_sum"),
          col("all_sum"), col("peak")) ++
          (0 until graft.functions.WavKernel.HistBins).map(i =>
            element_at(col("hist"), i + 1).as(f"h$i%02d")): _*)
        .orderBy(col("doc_id"))),

    // Multimodal: windowed feature-extract over the decoded sample
    // stream — per 256-frame window, max and sum of |sample| over all
    // channels; SERVED from the decode-once feature store (the decode
    // ran once in the warm build; the query explodes stored window
    // folds). Oracle replays the generative sample formula with the
    // identical window partition.
    "audio_window_stats" -> ((s, d) =>
      MediaFeatures.audioWindowsStored(s,
        MediaFeatures.ensure(s, Tables.documents(s, d), MediaFeatures.defaultDir(d)))
        .orderBy(col("doc_id"), col("win"))),

    // Multimodal training-set assembly: sequence packing where each
    // doc's budget cost is its MULTIMODAL token count (text tokens +
    // decoded image patches + audio windows + sampled video frames) —
    // the packCounts seam fed by the decode kernels, so shard/bin
    // boundaries of a multimodal pack are oracle-verifiable.
    // (the token terms are SERVED from the feature store's stored
    // dims/frame counts — no payload access in the pack's plan)
    "train_pack_multimodal" -> ((s, d) =>
      TrainingSet.packCounts(
          MediaFeatures.tokenCountsStored(s, Tables.documents(s, d),
            MediaFeatures.ensure(s, Tables.documents(s, d),
              MediaFeatures.defaultDir(d))),
          budget = 768L)
        .orderBy(col("doc_id"))),

    // Multimodal: the tri-modal dataset card — all three decoded
    // modalities joined per doc (slim projections, two exchanges of a
    // few longs per row) and aggregated per language; every number
    // comes from payload BYTES, so the hash match certifies the three
    // decodes composing through a join.
    // (SERVED from the feature store: the three modalities arrive
    // pre-joined in one stored row per doc, so the card is one slim
    // doc_id join + one aggregate — no decode, no tri-modal join)
    "mm_multimodal_profile" -> ((s, d) =>
      MediaFeatures.profileStored(s, Tables.documents(s, d),
          MediaFeatures.ensure(s, Tables.documents(s, d),
            MediaFeatures.defaultDir(d)))
        .orderBy(col("lang"))),

    // Multimodal: the THIRD real decode — binary video column → strict
    // Y4M parse (dims / fps / frame count recovered from the payload
    // bytes, with the canonical parameter line and every FRAME marker
    // checked) → one-pass integer plane stats, all inside one codegen'd
    // kernel call per row; the oracle replays the generative byte
    // formula, so a hash match certifies the decode end to end.
    "video_decode_stats" -> ((s, d) =>
      Multimodal.videoStats(Multimodal.withFakeVideo(Tables.documents(s, d)))
        .select(Seq(col("doc_id"), col("width"), col("height"), col("fps"),
          col("n_frames"), col("duration_ms"), col("y_sum"), col("u_sum"),
          col("v_sum"), col("y_peak")) ++
          (0 until graft.functions.Y4mKernel.HistBins).map(i =>
            element_at(col("hist"), i + 1).as(f"h$i%02d")): _*)
        .orderBy(col("doc_id"))),

    // Multimodal: DECODED frame sampling — every 2nd frame's luma plane
    // folded from the real payload bytes (vs mm_frame_sample's opaque
    // byte slices); one row per sampled frame, oracle replays the
    // generative formula per frame.
    // (SERVED from the feature store's stride-1 per-frame luma sums,
    // filtered to every 2nd frame — same rows as the strided decode)
    "video_frame_stats" -> ((s, d) =>
      MediaFeatures.videoFramesStored(s,
        MediaFeatures.ensure(s, Tables.documents(s, d), MediaFeatures.defaultDir(d)),
        every = 2)
        .orderBy(col("doc_id"), col("frame"))),

    // Multimodal: shot-boundary detection over the decoded per-frame
    // luma folds — exact integer deltas against a per-pixel threshold,
    // all in-row (one decode + one frame fold per payload, no window);
    // the oracle replays the per-frame sums and the same threshold.
    // (SERVED from the feature store: exact integer deltas over the
    // STORED per-frame luma sums — no video decode at query time)
    "video_shot_cuts" -> ((s, d) =>
      MediaFeatures.shotCutsStored(s,
        MediaFeatures.ensure(s, Tables.documents(s, d), MediaFeatures.defaultDir(d)))
        .orderBy(col("doc_id"), col("frame"))),

    // Multimodal: image similarity search over DECODED pixel features —
    // cosine top-k per query image over the 16-bin value histograms the
    // P6 decode recovers; fixed broadcast query set against one linear
    // corpus scan (the bruteForceTopK shape), integer dots + one IEEE
    // division, oracle-replayed bit-for-bit.
    // (SERVED from the feature store's stored 16-bin histograms — the
    // in-row literal-query-vector scoring is unchanged, the decode is
    // gone from the plan)
    "mm_hist_neighbors" -> ((s, d) =>
      MediaFeatures.histNeighborsStored(s,
        MediaFeatures.ensure(s, Tables.documents(s, d), MediaFeatures.defaultDir(d)))
        .orderBy(col("q_id"), col("rank"))),

    // The decode-once feature store's own certification: stored rows
    // (built ONCE in the warm phase from payload bytes) projected to
    // the NEW derived signatures — the 63-bit dHash over the 9×8
    // tile means and the 35-bit audio fingerprint over 64-frame
    // window energies — plus the dims/frame counts the pack serves
    // from. The oracle replays the generative formulas, so a hash
    // match certifies the store's content end to end (the six serve
    // queries certify the remaining stored fields).
    "mm_feature_store" -> ((s, d) =>
      MediaFeatures.features(s,
          MediaFeatures.ensure(s, Tables.documents(s, d),
            MediaFeatures.defaultDir(d)))
        .select(col("doc_id"), col("img_w"), col("img_h"), col("dhash"),
          col("a_frames"), col("a_fp"), col("v_frames"))
        .orderBy(col("doc_id"))),

    // Perceptual image dedup: corpus dHash signatures SERVED from the
    // feature store, tonight's re-rendered arrivals (a perturbed
    // first-tile region — different bytes, same image) decoded for
    // real, exact-signature groups collapsed FIRST (the
    // exact-dup-before-LSH rule — raw-signature banding emitted 5.1M
    // quadratic sibling pairs at 10×), then group representatives
    // banded through the SimHash pigeonhole and Hamming-verified.
    // The oracle replays signatures, the group collapse, AND the
    // banding discovery (bucket cap included).
    "dedup_image_phash" -> ((s, d) =>
      MediaDedup.imagePhashPairs(s, Tables.documents(s, d),
          MediaFeatures.ensure(s, Tables.documents(s, d),
            MediaFeatures.defaultDir(d)))
        .orderBy(col("a_id"), col("b_id"))),

    // The removal form: one survivor per exact-signature group minus
    // representatives losing a near-dup rep pair — what an ingest
    // gate keeps after near-dup screening of re-rendered media.
    "dedup_apply_image" -> ((s, d) =>
      MediaDedup.applyImagePhash(s, Tables.documents(s, d),
          MediaFeatures.ensure(s, Tables.documents(s, d),
            MediaFeatures.defaultDir(d)))
        .orderBy(col("doc_id"))),

    // Audio fingerprint dedup: stored window-energy fingerprints vs
    // re-encoded arrivals (same PCM samples, rewritten container
    // header), candidates bucketed on (signature, window count),
    // verified by exact window-vector equality.
    "dedup_audio_fp" -> ((s, d) =>
      MediaDedup.audioFpPairs(s, Tables.documents(s, d),
          MediaFeatures.ensure(s, Tables.documents(s, d),
            MediaFeatures.defaultDir(d)))
        .orderBy(col("a_id"), col("b_id"))),

    // Video content-identity dedup: a re-encoded clip (identical
    // frames, rewritten Y4M parameter line — the fps field swapped)
    // has a new payload hash but the same decoded frame stream. The
    // corpus side is the store's stride-1 per-frame luma sums;
    // arrivals are decoded for real; payload-level groups collapse
    // BEFORE pairing (the exact-dup-before-LSH rule — fixture clips
    // repeat every 256 doc_ids), candidates bucket on the
    // sign-of-delta fingerprint + frame count, and survive only exact
    // dims + frame-vector equality. Cap telemetry on every row.
    "dedup_video_fp" -> ((s, d) =>
      MediaDedup.videoFpPairs(s, Tables.documents(s, d),
          MediaFeatures.ensure(s, Tables.documents(s, d),
            MediaFeatures.defaultDir(d)))
        .orderBy(col("a_id"), col("b_id"))),

    // PERCEPTUAL (resize-robust) video dedup: a re-render at 2× the
    // resolution (real nearest-neighbor upscale re-encode — new
    // payload hash, new dims, new frame vector) evades every exact
    // tier; this one verifies resolution-NORMALIZED frame means by
    // exact cross-multiplied integer equality. Content groups (fps
    // excluded) collapse before pairing; candidates bucket on the
    // scale-invariant sign-of-delta fingerprint + frame count; cap
    // telemetry on every row.
    "dedup_video_percep" -> ((s, d) =>
      MediaDedup.videoPercepPairs(s, Tables.documents(s, d),
          MediaFeatures.ensure(s, Tables.documents(s, d),
            MediaFeatures.defaultDir(d)))
        .orderBy(col("a_id"), col("b_id"))),

    // PERCEPTUAL (resample-robust) audio dedup: a 2× nearest-neighbor
    // resample (same waveform, doubled rate and frame count) evades
    // the exact 64-frame window tier; this one compares the
    // TIME-normalized energy envelope — windows of 64·(rate/8000)
    // frames, exact cross-multiplied equality against the rate. The
    // corpus envelope derives from the STORED 64-frame windows
    // (adjacent sums — zero payload access); arrivals decode for real.
    "dedup_audio_percep" -> ((s, d) =>
      MediaDedup.audioPercepPairs(s, Tables.documents(s, d),
          MediaFeatures.ensure(s, Tables.documents(s, d),
            MediaFeatures.defaultDir(d)))
        .orderBy(col("a_id"), col("b_id"))),

    // Media decontamination report: exact tier = payload hash vs the
    // broadcast benchmark assets; near tier = equal dims + rotation-
    // matched 16-bin histogram (catches the +16-shifted re-rendered
    // asset the exact tier misses). Corpus side is one scan of the
    // slim feature store.
    "decon_media" -> ((s, d) =>
      MediaDedup.deconMedia(s, Tables.documents(s, d),
          MediaFeatures.ensure(s, Tables.documents(s, d),
            MediaFeatures.defaultDir(d)))
        .orderBy(col("doc_id"))),

    // The removal form: corpus minus every matched document.
    "decon_media_apply" -> ((s, d) =>
      MediaDedup.deconMediaApply(s, Tables.documents(s, d),
          MediaFeatures.ensure(s, Tables.documents(s, d),
            MediaFeatures.defaultDir(d)))
        .orderBy(col("doc_id"))),

    // Audio/video decontamination: the decon_media discipline for the
    // other two modalities — exact tier by stored payload hash, content
    // tier by decoded fingerprint + exact vector equality (catches the
    // 48 kHz / fps-swapped re-encoded assets the exact tier misses).
    // Assets bounded to a FIXED 2000-id eval suite (video payload
    // identity is mod-256 congruence here — a growing slice saturates
    // all 256 classes).
    "decon_media_av" -> ((s, d) =>
      MediaDedup.deconMediaAv(s, Tables.documents(s, d),
          MediaFeatures.ensure(s, Tables.documents(s, d),
            MediaFeatures.defaultDir(d)))
        .orderBy(col("doc_id"), col("modality"))),

    // Full perceptual duplicate GROUPS: connected components over the
    // rep-level Hamming pairs, expanded through the exact-signature
    // groups so every doc carries its cluster label — the image
    // analog of dedup_groups, sharing the label-propagation engine.
    "dedup_image_groups" -> ((s, d) =>
      MediaDedup.imageDupGroups(s, Tables.documents(s, d),
          MediaFeatures.ensure(s, Tables.documents(s, d),
            MediaFeatures.defaultDir(d)))
        .orderBy(col("doc_id"))),

    // O(batch) incremental media admission, oracle-verified end to
    // end: the store is ensured over the SEED slice (doc_id%10≠0 —
    // rebuilt to seed state each app in the warm phase), tonight's
    // batch (the %10=0 slice) is decoded ALONE and appended under a
    // new generation (idempotent via the store's own membership), and
    // the serve view over the union must equal a full-corpus build —
    // which is exactly what the mm_feature_store oracle replays.
    "mm_features_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val seedDir = MediaFeatures.seedDir(d)
      MediaFeatures.ensureSeedOrUnion(s,
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), docs, seedDir)
      MediaFeatures.append(s,
        docs.filter(pmod(col("doc_id"), lit(10)) === 0), seedDir)
      MediaFeatures.features(s, seedDir)
        .select(col("doc_id"), col("img_w"), col("img_h"), col("dhash"),
          col("a_frames"), col("a_fp"), col("v_frames"))
        .orderBy(col("doc_id"))
    }),

    // End-to-end corpus RELEASE as ONE rewrite: markup-extract → PII
    // redact → normalize → length/stopword/perplexity gates →
    // paragraph + exact dedup → benchmark decon → released docs with
    // a content digest. Certifies the stages COMPOSE at doc level
    // (each stage reuses the construction its standalone query
    // certifies); the oracle replays the whole chain.
    "corpus_release" -> ((s, d) =>
      Release.releaseCached(s, Tables.documents(s, d))
        .orderBy(col("doc_id"))),

    // The MULTIMODAL release: the text chain composed with the media
    // stages it shares a corpus with — quality gates (fail-closed),
    // media decontamination, and the perceptual image duplicate-group
    // collapse (keep the minimum surviving member per group). Every
    // media stage reads the decode-once feature store; the mega-oracle
    // composes the already-verified fragments in the declared order.
    "corpus_release_mm" -> ((s, d) =>
      Release.releaseMultimodal(s, Tables.documents(s, d),
          MediaFeatures.ensure(s, Tables.documents(s, d),
            MediaFeatures.defaultDir(d)))
        .orderBy(col("doc_id"))),

    // End-to-end corpus preparation: quality filter → deterministic
    // sample → normalize → chunk → per-language accounting. The whole
    // chain is narrow (filters, per-row transforms, one explode) until
    // the final small aggregate — the shape of a real training-data
    // prep job at 100 TB.
    "corpus_prepare" -> ((s, d) => {
      val quality = TextAnalysis.qualityFeatures(Tables.documents(s, d))
        .filter(col("n_tokens") >= 30 && col("stopword_ratio") <= 0.5)
      val sampled = TextAnalysis.sampleStratified(quality, "lang", "doc_id",
        Map("en" -> 500, "es" -> 500, "fr" -> 500, "de" -> 500, "zh" -> 500))
      TextAnalysis.chunkTokens(
          sampled.withColumn("text", TextAnalysis.normalize(col("text"))))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_chunk_tokens")).cast("long").as("total_chunk_tokens"))
        .orderBy(col("lang"))
    }),

    // Corpus-relative curation: drop documents below the corpus's own
    // 25th-percentile token count (adaptive floor, not a fixed cutoff).
    "text_length_floor" -> ((s, d) =>
      TextAnalysis.keepAboveLengthQuantile(Tables.documents(s, d))
        .select(col("doc_id"), size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))),

    // Curation-funnel report: per-stage doc/token survival through
    // length floor → stopword cap → repetition filters → sample, all
    // from ONE corpus pass (per-row stage booleans + conditional sums
    // in a single partial-aggregable agg; the unpivot runs on the
    // one-row result) — now extended with the MEDIA gates (audio /
    // video / image quality predicates over the decode-once feature
    // store, joined slim), so the funnel reports media survival too.
    "curate_funnel" -> ((s, d) =>
      TextAnalysis.curationFunnel(Tables.documents(s, d),
          mediaOk = Some(MediaQuality.mediaOkFlags(s,
            MediaFeatures.ensure(s, Tables.documents(s, d),
              MediaFeatures.defaultDir(d)))))
        .orderBy(col("stage_idx"))),

    // Media quality gate: every rejected document (silent/clipped
    // audio, black/static video, under/over-exposed image — exact
    // integer predicates over DECODED stats) across the corpus plus
    // six byte-constructed degenerate arrivals that give every gate
    // verified traffic. The static gate carries real in-data traffic
    // (~1.2% of fixture videos are exactly luma-static).
    "mm_quality_gate" -> ((s, d) =>
      MediaQuality.qualityGate(s,
          MediaFeatures.ensure(s, Tables.documents(s, d),
            MediaFeatures.defaultDir(d)))
        .orderBy(col("doc_id"))),

    // Per-language length deciles via broadcast percentile thresholds —
    // the scalable NTILE: the corpus never sorts, assignment is a
    // per-row comparison against nine broadcast numbers.
    "curate_quality_buckets" -> ((s, d) =>
      TextAnalysis.qualityDecileBuckets(Tables.documents(s, d))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("score")).as("min_chars"), max(col("score")).as("max_chars"))
        .orderBy(col("lang"), col("bucket"))),

    // URL/domain curation (C4/RefinedWeb stage): per-domain doc/char
    // concentration with half-up ppm shares — map-only extraction, one
    // partial-aggregated shuffle on domain.
    "curate_domain_stats" -> ((s, d) =>
      Curation.domainStats(Tables.documents(s, d)).orderBy(col("domain"))),

    // Block/allow-list corpus rewrite: broadcast anti-join against the
    // blocklist table + a pushable allow-pattern predicate.
    "curate_domain_filter" -> ((s, d) =>
      Curation.domainFilter(Tables.documents(s, d),
        Curation.fixtureBlocklist(s)).orderBy(col("doc_id"))),

    // Per-domain concentration cap: top-`maxPerDomain` by the quality
    // proxy via the rank-filter (WindowGroupLimit) shape — no full
    // per-domain sort.
    "curate_domain_cap" -> ((s, d) =>
      Curation.domainCap(Tables.documents(s, d), maxPerDomain = 10)
        .orderBy(col("domain"), col("domain_rank"))),

    // Perplexity quality scoring (CCNet): per-doc mean NLL against the
    // PERSISTED corpus unigram model (built once per corpus
    // fingerprint, O(batch)-appendable). Scoring is an exploded token
    // stream against the broadcast vocabulary — one row per doc
    // reaches the final shuffle.
    "quality_perplexity" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = LanguageModel.ensureLm(s, docs, s"${Artifact.root(d)}/unigram_lm")
      LanguageModel.score(s, docs, dir).orderBy(col("doc_id"))
    }),

    // CCNet's head/middle/tail split: perplexity terciles via one tiny
    // broadcast percentile aggregate — the corpus never sorts.
    "quality_ppl_buckets" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = LanguageModel.ensureLm(s, docs, s"${Artifact.root(d)}/unigram_lm")
      LanguageModel.perplexityBuckets(LanguageModel.score(s, docs, dir))
        .select(col("doc_id"), col("mean_nll"), col("ppl_bucket"))
        .orderBy(col("doc_id"))
    }),

    // SemDeDup: within-cluster cosine pairs over the deterministic
    // full-corpus Lloyd fit (the SAME fit cluster_kmeans_* replays in
    // SQL — one shared artifact), scored in exact micro-units so the
    // whole query hash-verifies. semanticTopKPairs (sampled quantizer,
    // maxCell guard, SRP sub-split) stays as the at-scale twin,
    // spec-covered.
    "dedup_semantic" -> ((s, d) =>
      Similarity.semanticPairsExact(s, Tables.embeddings(s, d), d)
        .orderBy(col("cos").desc, col("a_id"), col("b_id"))),

    // Training-set assembly (TrainingSet): token-budget packing via a
    // per-shard prefix sum — NO global sort; the window partitions are
    // corpus/nShards.
    "train_pack" -> ((s, d) =>
      TrainingSet.pack(Tables.documents(s, d), budget = 512L, nShards = 8)
        .orderBy(col("doc_id"))),

    // Attention-span metadata over the packed stream: per training
    // sequence, each document's (start, length) within the window —
    // the block-diagonal attention-mask input; boundary-straddling
    // docs emit one span per touched sequence.
    "train_pack_spans" -> ((s, d) =>
      TrainingSet.packSpans(Tables.documents(s, d), budget = 512L, nShards = 8)
        .orderBy(col("shard"), col("bin"), col("span_start"), col("doc_id"))),

    // Same packing dataflow budgeted by the TRAINED BPE tokenizer's
    // subword counts — bins hold ~budget model tokens, the unit the
    // export actually feeds a trainer. The oracle re-trains the
    // tokenizer (all 8 merge rounds) and re-derives every boundary.
    "train_pack_bpe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = Bpe.trained(s, docs, d)._1
      TrainingSet.packBpe(docs, merges, budget = 512L, nShards = 8)
        .orderBy(col("doc_id"))
    }),

    // Domain re-weighting to a target mixture: deterministic
    // replicate/downsample per language (bounded in-row explode).
    "train_mixture" -> ((s, d) =>
      TrainingSet.mixture(Tables.documents(s, d),
          Map("en" -> 0.5, "fr" -> 2.0, "de" -> 1.25, "es" -> 1.0, "zh" -> 3.5))
        .select(col("doc_id"), col("lang"), col("copy"))
        .orderBy(col("doc_id"), col("copy"))),

    // Temperature-scaled domain sampling weights (tau=1/2, the
    // mT5/XLM-R multilingual recipe): sqrt keeps the power correctly
    // rounded in every engine; weights normalized over an exact
    // decimal sum of round-6 terms.
    "train_temperature_mix" -> ((s, d) =>
      TrainingSet.temperatureMix(Tables.documents(s, d))),

    // Contamination-safe holdout split: deterministic validation
    // sample + near-dup leakage guard off the persisted pair artifact.
    // The oracle recomputes the pair graph with exact all-pairs Jaccard
    // (the same equivalence dedup_minhash_lsh pins).
    "train_holdout_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = Dedup.ensurePairs(s, docs, s"${Artifact.root(d)}/neardup")
      TrainingSet.holdoutSplit(s, docs, dir)
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Sharded JSONL export: the manifest served FROM THE WRITTEN
    // ARTIFACT, so the oracle checks the whole export path (assignment,
    // write, manifest) against an independent recount.
    "train_shard_manifest" -> ((s, d) => {
      val dir = TrainingSet.writeShards(s, Tables.documents(s, d),
        s"${Artifact.root(d)}/shards")
      TrainingSet.shardManifest(s, dir)
        .select(col("shard"), col("n_docs"), col("n_tokens"))
        .orderBy(col("shard"))
    }),

    // Substring-duplication spans (Lee et al. ExactSubstr at k-gram
    // granularity): per-doc coverage by 8-token runs that also occur in
    // another document — the boilerplate detector document-level dedup
    // cannot see. Interval-union window so overlaps never double-count.
    "dedup_substring_spans" -> ((s, d) =>
      Dedup.dupSpanStats(Tables.documents(s, d), k = 8)
        .orderBy(col("doc_id"))),

    // ExactSubstr REWRITE (Lee et al., the removal step): every
    // cross-document duplicated 8-token run keeps exactly one occurrence
    // corpus-wide (least (doc_id,pos) keeper) and tokens covered only by
    // redundant occurrences are dropped. Token-granular cost ∝
    // duplicated volume only; the corpus never shuffles at token
    // granularity.
    "dedup_substring_rewrite" -> ((s, d) =>
      Dedup.rewriteDupSpans(Tables.documents(s, d), k = 8)
        .orderBy(col("doc_id"))),

    // Winnowing fingerprints (Schleimer et al. 2003, MOSS): per-doc
    // count + density of window-min-selected 5-gram fingerprints
    // (w=4 → expected density 2/(w+1) = 0.4). md5 gram hashes, so the
    // oracle replays the exact SELECTION, not just the counts.
    "dedup_winnow_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cnt = Dedup.winnowFingerprints(docs, k = 5, w = 4)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
      docs.select(col("doc_id"),
          greatest(size(split(col("text"), " ")) - lit(4), lit(0))
            .cast("long").as("n_grams"))
        .join(cnt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_fp"), lit(0L)).as("n_fp"),
          round(coalesce(col("n_fp"), lit(0L)).cast("double") /
            greatest(col("n_grams"), lit(1L)).cast("double"), 6).as("fp_density"))
        .orderBy(col("doc_id"))
    }),

    // The MOSS overlap report: top-25 document pairs by shared distinct
    // winnowing fingerprints. The skew cap (buckets of 2..64 docs per
    // fingerprint) is part of the operator's definition and the oracle
    // applies the identical filter.
    "dedup_winnow_pairs" -> ((s, d) =>
      Dedup.winnowOverlapPairs(Tables.documents(s, d), k = 5, w = 4, maxBucket = 64)
        .orderBy(col("n_shared").desc, col("a_id"), col("b_id"))
        .limit(25)),

    // PII scrubbing (the Dolma/FineWeb pre-release stage): redact
    // emails / IPv4s / phones to typed placeholders + per-doc counts.
    // The fixture corpus carries no PII, so the query plants
    // deterministic id-derived contact strings first — the operator is
    // exercised on every row and the redaction rates are non-trivial.
    "text_pii_redact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val planted = docs.select(col("doc_id"),
        concat_ws(" ", col("text"),
          concat(lit("user"), col("doc_id"), lit("@mail.example.com")),
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
            .otherwise(lit("local"))).as("text"))
      TextAnalysis.redactPii(planted)
        .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
          col("text").as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // Interpolated bigram perplexity (Jelinek–Mercer): each token
    // conditions on its predecessor, separating rare WORDS from wrong
    // word ORDER — which the unigram scorer cannot see. The model is a
    // persisted two-ledger artifact; the oracle re-trains both ledgers
    // in SQL.
    "quality_perplexity_bigram" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = BigramModel.ensureLm2(s, docs, s"${Artifact.root(d)}/bigram_lm")
      BigramModel.score2(s, docs, dir).orderBy(col("doc_id"))
    }),

    // Kneser–Ney smoothed scoring from the SAME bigram artifact — the
    // standard LM-filter smoothing (continuation-probability backoff
    // with absolute discount 0.75); the oracle re-derives the
    // continuation counts and replays the discount chain exactly.
    "quality_perplexity_kn" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = BigramModel.ensureLm2(s, docs, s"${Artifact.root(d)}/bigram_lm")
      BigramModel.score2Kn(s, docs, dir).orderBy(col("doc_id"))
    }),

    // Model-based classifier (multinomial Naive Bayes): trained on a
    // deterministic labeled seed (every 5th doc, labeled by lang),
    // scored over the WHOLE corpus from the persisted model artifact.
    // Training is counting, so the oracle re-trains the model in SQL —
    // the per-(doc, label) joint log-likelihoods hash-match exactly.
    "classify_nb_scores" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = Classifier.ensureNb(s, Classifier.fixtureSeed(docs),
        s"${Artifact.root(d)}/nbclass")
      Classifier.score(s, docs, dir).orderBy(col("doc_id"), col("label"))
    }),

    // The decision boundary: argmax label + margin over the runner-up
    // (the quality-filter threshold knob), ties broken by label.
    "classify_nb_pred" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = Classifier.ensureNb(s, Classifier.fixtureSeed(docs),
        s"${Artifact.root(d)}/nbclass")
      Classifier.predict(s, docs, dir).orderBy(col("doc_id"))
    }),

    // Learned quality filter (binary logistic regression, the
    // fastText-style model pipelines actually deploy): 16 full-batch
    // GD steps over the labeled seed on the 10^-6 integer micro-unit
    // grid — the oracle replays the ENTIRE training loop in generated
    // SQL (the k-means/BPE pattern) and the corpus scores hash-match.
    "classify_lr_scores" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = LrClassifier.ensureLrFixture(s, docs,
        s"${Artifact.root(d)}/lrclass")
      LrClassifier.score(s, docs, dir).orderBy(col("doc_id"))
    }),

    // The filter decision at the dyadic p >= 1/2 threshold.
    "classify_lr_pred" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = LrClassifier.ensureLrFixture(s, docs,
        s"${Artifact.root(d)}/lrclass")
      LrClassifier.predict(s, docs, dir).orderBy(col("doc_id"))
    }),

    // Teacher-agreement calibration report (the ANN recall-report
    // discipline for the learned filter): per-segment agreement vs the
    // perplexity teacher, with floors and a pass column — so the
    // distillation quality claim is pinned by the correctness gate,
    // not only by LrClassifierSpec.
    "classify_lr_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = LrClassifier.ensureLrFixture(s, docs,
        s"${Artifact.root(d)}/lrclass")
      LrClassifier.agreementReport(s, docs, dir).orderBy(col("segment"))
    }),

    // DSIR importance selection (Xie et al. 2023): weight every doc by
    // its log-likelihood ratio between a TARGET-domain unigram LM (the
    // corpus's en documents) and the RAW-corpus LM, both persisted
    // artifacts; keep the top of the ranking. The classifier-free
    // data-selection recipe.
    "dsir_select" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val raw = LanguageModel.ensureLm(s, docs, s"${Artifact.root(d)}/unigram_lm")
      val target = LanguageModel.ensureLm(s, docs.filter(col("lang") === "en"),
        s"${Artifact.root(d)}/unigram_lm_target")
      LanguageModel.importanceWeights(s, docs, target, raw)
        .orderBy(col("log_ratio").desc, col("doc_id")).limit(100)
    }),

    // JSON extraction + aggregation over events.props.
    "json_extract_agg" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type")))
,
    // BM25 retrieval from the PERSISTED inverted index: the read is
    // partition-pruned to the query terms' buckets, df and collection
    // stats are broadcast, top-k is an ordered limit. The oracle
    // rebuilds the whole index in SQL — BM25 over integer statistics
    // is exactly reproducible under the round-6 contract.
    "search_bm25" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = InvertedIndex.ensureIndex(s, docs, s"${Artifact.root(d)}/invindex")
      InvertedIndex.searchBm25(s, dir, "spark window join merge", k = 20)
    }),

    // Conjunctive (boolean-AND) term match from the same index — the
    // contamination-probe shape: every doc containing ALL query terms,
    // with its summed term frequency.
    "search_conjunctive" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = InvertedIndex.ensureIndex(s, docs, s"${Artifact.root(d)}/invindex")
      InvertedIndex.searchAll(s, dir, "spark query stream")
        .orderBy(col("doc_id"))
    }),

    // Hybrid retrieval: BM25 from the persisted index + dense cosine
    // (query vector = vec 0) fused by Reciprocal Rank Fusion — the
    // lexical+semantic candidate pull of a curation stack. Both lists
    // are top-20 bounded BEFORE fusion, so the rank windows and the
    // full-outer fusion join are driver-sized at any corpus scale; the
    // oracle re-derives both lists and the fusion in SQL (integer
    // ranks → exactly reproducible).
    "search_hybrid_rrf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = InvertedIndex.ensureIndex(s, docs, s"${Artifact.root(d)}/invindex")
      Retrieval.hybridSearch(s, dir, "spark window join merge",
        Tables.embeddings(s, d), queryVecId = 0L, perList = 20, k = 15)
    }),

    // Closed-form OLS (length ~ token count + distinct-token count):
    // ONE partial-aggregated pass computes the ten Gram moments, the
    // 3x3 Cramer solve happens in-plan on that single row — no driver
    // collect, no iteration. Integer features make every moment exact;
    // the oracle repeats the determinant expansion token-for-token.
    "reg_fit_ols" -> ((s, d) =>
      Regression.fit(Regression.features(Tables.documents(s, d)))),

    // The fitted proxy applied corpus-wide (betas broadcast back over
    // the feature pass): top-50 absolute residuals = the docs whose
    // length their token structure least explains — the linear-probe
    // outlier sweep of a curation stack, one map pass at any scale.
    "reg_outlier_residuals" -> ((s, d) =>
      Regression.topResiduals(
        Regression.features(Tables.documents(s, d)), k = 50)),

    // Corpus-drift monitoring: per-term KL(new||old) contributions
    // between the even/odd snapshot halves — one map-side-combined
    // count pass, totals derived from the grouped table, smoothing
    // keeps every term finite. The page-worthy drift explanation.
    "corpus_drift_kl" -> ((s, d) =>
      TextAnalysis.tokenDriftKl(Tables.documents(s, d),
        pmod(col("doc_id"), lit(2)) === 1, k = 20)),

    // Cross-source contamination matrix: distinct shared 8-gram
    // shingles per source pair — the who-overlaps-whom audit before
    // sources are mixture-weighted. One shingle-keyed shuffle; the
    // pair explode runs on per-shingle source SETS (dimension-bounded),
    // never on the corpus.
    "corpus_source_overlap" -> ((s, d) =>
      CorpusAudit.sourceOverlap(Tables.documents(s, d), w = 8)),

    // Per-source health scorecard: volumes, whole-doc dup rate, mean
    // length — one partial-aggregated groupBy(source); ratios are one
    // double division of exact integers (no terminal round needed).
    "corpus_source_scorecard" -> ((s, d) =>
      CorpusAudit.sourceScorecard(Tables.documents(s, d))),

    // Embedding-space drift between the even/odd snapshot halves:
    // per-dimension means in exact integer micro-units (the
    // Pca.meansPass discipline, in-plan) — representation change,
    // where corpus_drift_kl sees vocabulary change.
    "embed_drift_means" -> ((s, d) =>
      CorpusAudit.embedDriftMeans(Tables.embeddings(s, d))),

    // PMI collocations: the phrase-mining signal for multi-word vocab
    // units. Two count passes + vocab joins the planner sizes itself;
    // integer counts and one pinned ratio keep it hash-verifiable.
    // spread=false: first op is the token explode → groupBy(token)
    // exchange (A/B min-of-3: 0.83 s without vs 1.16 with)
    "text_pmi_collocations" -> ((s, d) =>
      TextAnalysis.pmiCollocations(Tables.documents(s, d, wantSpread = false),
        minCount = 5, k = 30)),

    // SQ8 embedding quantization report — the 4x storage-compression
    // stage next to PQ's 32x: per-dim min/max broadcast back over one
    // map pass; per-vector reconstruction MSE / max-abs error via
    // 9-dp-snapped err squared in exact decimal (err^2 lives at 1e-7).
    "embed_sq8_error" -> ((s, d) =>
      Similarity.sq8ReconError(Tables.embeddings(s, d))),

    // PCA stage 1: the exact-decimal covariance pass. n·d(d+1)/2
    // exploded cells partial-aggregate to 2080 before the exchange, so
    // the shuffle is moment-sized at any corpus scale; decimal sums +
    // one pinned centering expression make every cell hash-verifiable.
    "pca_covariance" -> ((s, d) =>
      Pca.covarianceCells(s, Tables.embeddings(s, d), key = d)),

    // PCA stage 2: driver Jacobi on the 2080 collected moments (the
    // k-means pattern — data never leaves the cluster, moments do).
    // Iterative rotations are not SQL-expressible -> rows-only; the
    // spectrum invariants (trace identity, monotonicity, orthonormal
    // basis) are pinned by PcaSpec.
    "pca_eigvals" -> ((s, d) =>
      Pca.topEigvals(s, Tables.embeddings(s, d), k = 8, key = d)),

    // PCA stage 3: corpus-wide projection onto the top-2 axes — the
    // axes ride along as literals (nothing broadcast, nothing
    // shuffled), one codegen'd map pass. Rows-only for the same
    // reason; PcaSpec pins projection variance = eigenvalue.
    "pca_project_top2" -> ((s, d) =>
      Pca.projectTop2(s, Tables.embeddings(s, d), key = d)),

    // Exact global token heavy hitters — the groupBy baseline the CMS
    // query is graded against. One hash-agg with map-side combine;
    // (count DESC, term) pins the k boundary.
    "tokens_heavy_hitters" -> ((s, d) =>
      Sketches.heavyHitters(
        Sketches.tokenStream(Tables.documents(s, d)), k = 30)),

    // Count-min sketch point estimates for those heavy hitters. The
    // sketch is d·w cells regardless of vocabulary size — the
    // bounded-memory path when distinct terms outgrow a groupBy — and
    // the md5-derived bucket family makes even the estimates (and the
    // CMS overestimate-only invariant) exactly oracle-reproducible.
    "tokens_cms_estimate" -> ((s, d) =>
      Sketches.cmsEstimateTopK(Tables.documents(s, d), k = 30)),

    // Decontamination through the fixed-size Bloom sketch instead of the
    // exact broadcast set — the path that survives a benchmark union too
    // big to broadcast. The sketch is SIZED FROM the benchmark's
    // measured shingle cardinality (≥14 bits/item), same as the
    // streaming gate — the old fixed 1 MiB default saturated at the
    // 100× fixture (~5M shingles → 1.6 bits/item) and its false
    // positives rejected nearly the whole corpus. At that sizing the
    // false-positive rate is ~0, so the survivors equal the exact
    // path's and the query hash-verifies against the exact SQL; the
    // deliberately-undersized direction is spec-pinned instead.
    "decontaminate_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // the streaming gate's warm-primed serving memo holds the
      // identical adaptively-sized sketch for this benchmark slice —
      // serve from it instead of re-measuring cardinality per run
      Dedup.removeContaminatedWithSketch(
          docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          graft.stream.StreamQueries.deconSketch(s, d))
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Paragraph-granular dedup: every distinct 16-token segment survives
    // once (least (doc_id, seg_idx) occurrence) and docs are reassembled
    // from their surviving segments — the corpus REWRITE that strips
    // repeated boilerplate whole-doc dedup can't touch.
    "dedup_paragraphs" -> ((s, d) =>
      Dedup.dedupSegments(Tables.documents(s, d))
        .orderBy(col("doc_id"))),

    // Frequency-thresholded boilerplate strip (the RefinedWeb/C4
    // line-frequency rule at segment granularity): segments in > 2
    // distinct docs are removed from EVERY doc — the complement of
    // dedup_paragraphs' first-occurrence keeping.
    "dedup_boilerplate" -> ((s, d) =>
      Dedup.boilerplateStrip(Tables.documents(s, d))
        .orderBy(col("doc_id"))),

    // Full-corpus Lloyd k-means, everything deterministic (smallest-id
    // seeds, in-order double folds, decimal-mean round-6 centroids) so
    // the oracle replays the ENTIRE algorithm in SQL. Per iteration the
    // corpus is scanned once, never shuffled; the only exchange is the
    // k·dim partial-aggregated centroid update.
    "cluster_kmeans_assign" -> ((s, d) =>
      Clustering.fitted(s, Tables.embeddings(s, d), d)
        .select(col("vec_id"), col("cluster"))
        .orderBy(col("vec_id"))),

    // Per-cluster size + inertia from the same pinned (memoized) fit.
    "cluster_kmeans_stats" -> ((s, d) =>
      Clustering.clusterStats(Clustering.fitted(s, Tables.embeddings(s, d), d))),

    // Cluster ↔ ground-truth label agreement: plurality label per
    // cluster — the eval that says whether unsupervised topics track
    // the labeled taxonomy.
    "cluster_kmeans_purity" -> ((s, d) =>
      Clustering.clusterPurity(Clustering.fitted(s, Tables.embeddings(s, d), d))),

    // Centrality-canonical selection: PageRank over the persisted pair
    // graph picks each duplicate group's hub (the member every variant
    // is a near-copy of) instead of dedup_apply's arbitrary min-id.
    // Everything is ∝ the dup graph, never the corpus; the oracle
    // replays all three iterations in SQL over the same recursive-CC
    // groups.
    "dedup_canonical_rank" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairDir = Dedup.ensurePairs(s, docs, s"${Artifact.root(d)}/neardup")
      val groupsDir = Dedup.ensureGroups(s, pairDir, s"${Artifact.root(d)}/dupgroups")
      GraphRank.canonicalByRank(s, pairDir, groupsDir)
    }),

    // The corpus rewrite under the centrality keeper — dedup_apply with
    // the group hub surviving instead of the min id.
    "dedup_apply_canonical" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairDir = Dedup.ensurePairs(s, docs, s"${Artifact.root(d)}/neardup")
      val groupsDir = Dedup.ensureGroups(s, pairDir, s"${Artifact.root(d)}/dupgroups")
      GraphRank.applyCanonical(s, docs, pairDir, groupsDir)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // BPE tokenizer training: the learned merge sequence. One corpus
    // pass for word counts; each round's pair statistics run over the
    // vocabulary only. The oracle replays all 8 rounds in generated SQL.
    "bpe_train_merges" -> ((s, d) => Bpe.mergeTable(s,
      Bpe.trained(s, Tables.documents(s, d), d)._1)),

    // Subword vocabulary after training, with total occurrence counts.
    "bpe_vocab" -> ((s, d) =>
      Bpe.vocab(Bpe.trained(s, Tables.documents(s, d), d)._2)),

    // Per-doc token counts under the trained tokenizer — encoding via
    // the native single-loop segmentation kernel, map-side, no join.
    "bpe_encode_stats" -> ((s, d) => {
      val merges = Bpe.trained(s, Tables.documents(s, d), d)._1
      Bpe.encodeStats(Tables.documents(s, d), merges)
    }),

    // Tokenizer fertility per language (chars/token, subwords/word on
    // the half-up ppm grid) — the review table for tokenizer quality.
    "bpe_fertility" -> ((s, d) => {
      val merges = Bpe.trained(s, Tables.documents(s, d), d)._1
      Bpe.fertility(Tables.documents(s, d), merges).orderBy(col("lang"))
    })
  )

  /** Full k-means replay in SQL, shared by the three cluster_* oracles:
    * same smallest-id seeds, same in-order double fold for d² (explicit
    * multiply, not pow — libm pow(x,2) may differ in ULPs from x*x),
    * same lexicographic tie-break (struct-min ≡ first-position argmin),
    * same decimal-mean round-6 centroid contract, same empty-cluster
    * retention (LEFT JOIN + COALESCE).
    */
  /** Shared CTE prefix of the semantic-decontamination oracles: micro
    * units, md5-integer SRP planes/buckets (the dedup_embed_cosine
    * derivation, with the plane count `hh` derived from the benchmark
    * cardinality by the same pure-integer search the Spark side runs —
    * smallest h ≥ 6 with 2^h·2 ≥ |bench|), cross-side candidates
    * (corpus %10<>0 × benchmark %10=0), and the exact integer dot/norm
    * sums. Ends after `dp` — consumers append either the scored SELECT
    * or further CTEs (prefixed with a comma).
    */
  private val SemDeconSql: String =
    """WITH hc AS (
      |  SELECT MIN(p) AS hh FROM generate_series(6, 30) AS gs(p)
      |  WHERE (CAST(1 AS BIGINT) << p) * 2 >=
      |    (SELECT count(*) FROM embeddings WHERE vec_id % 10 = 0)
      |), e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), u AS (
      |  SELECT vec_id, i,
      |    CAST(CAST(v[i+1] AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xu
      |  FROM e CROSS JOIN generate_series(0, 63) AS g(i)
      |), pl AS (
      |  SELECT t, p, i,
      |    (strpos('0123456789abcdef', substr(md5(
      |       CAST(t AS VARCHAR) || '_' || CAST(p AS VARCHAR) || '_' ||
      |       CAST(i AS VARCHAR)), 1, 1)) - 1) * 16
      |    + strpos('0123456789abcdef', substr(md5(
      |       CAST(t AS VARCHAR) || '_' || CAST(p AS VARCHAR) || '_' ||
      |       CAST(i AS VARCHAR)), 2, 1)) - 1 - 128 AS c
      |  FROM generate_series(0, 3) AS gt(t)
      |  CROSS JOIN generate_series(0, 29) AS gp(p)
      |  CROSS JOIN generate_series(0, 63) AS gi(i)
      |  JOIN hc ON p < hc.hh
      |), dots AS (
      |  SELECT u.vec_id, pl.t, pl.p, SUM(pl.c * u.xu) AS s
      |  FROM u JOIN pl ON pl.i = u.i GROUP BY 1, 2, 3
      |), bk AS (
      |  SELECT vec_id, t,
      |    SUM(CASE WHEN s >= 0 THEN 1 << p ELSE 0 END) AS bucket
      |  FROM dots GROUP BY 1, 2
      |), cand AS (
      |  SELECT DISTINCT a.vec_id AS corpus_id, b.vec_id AS bench_id
      |  FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket
      |  WHERE a.vec_id % 10 <> 0 AND b.vec_id % 10 = 0
      |), dp AS (
      |  SELECT c.corpus_id, c.bench_id,
      |    SUM(uc.xu * ub.xu) AS num,
      |    SUM(uc.xu * uc.xu) AS cn,
      |    SUM(ub.xu * ub.xu) AS bn
      |  FROM cand c
      |  JOIN u uc ON uc.vec_id = c.corpus_id
      |  JOIN u ub ON ub.vec_id = c.bench_id AND ub.i = uc.i
      |  GROUP BY 1, 2
      |)
      |""".stripMargin

  private val kmeansSql: String =
    """WITH emb AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |), c0 AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c_id, e
      |  FROM (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT 8)
      |), d1 AS (
      |  SELECT v.vec_id, c.c_id,
      |    list_sum(list_transform(list_zip(v.e, c.e),
      |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
      |  FROM emb v CROSS JOIN c0 c
      |), a1 AS (
      |  SELECT vec_id, (min(struct_pack(d := d, c := c_id))).c AS cluster
      |  FROM d1 GROUP BY vec_id
      |), ux AS (
      |  SELECT vec_id, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM emb
      |), u1 AS (
      |  SELECT a.cluster AS c_id, ux.i,
      |    round(CAST(SUM(CAST(ux.x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(ux.x), 6) AS cx
      |  FROM a1 a JOIN ux USING (vec_id)
      |  GROUP BY 1, 2
      |), c1 AS (
      |  SELECT c0.c_id, COALESCE(u.e, c0.e) AS e
      |  FROM c0 LEFT JOIN (
      |    SELECT c_id, list(cx ORDER BY i) AS e FROM u1 GROUP BY c_id
      |  ) u USING (c_id)
      |), d2 AS (
      |  SELECT v.vec_id, v.label, c.c_id,
      |    list_sum(list_transform(list_zip(v.e, c.e),
      |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
      |  FROM emb v CROSS JOIN c1 c
      |), a2 AS (
      |  SELECT vec_id, any_value(label) AS label,
      |    (min(struct_pack(d := d, c := c_id))).c AS cluster,
      |    (min(struct_pack(d := d, c := c_id))).d AS d2
      |  FROM d2 GROUP BY vec_id
      |)""".stripMargin

  /** BPE replay in generated SQL, shared by the three bpe_* oracles.
    * Segmentations live as delimiter-wrapped strings (`␟s␟` per symbol,
    * chr(31)): one merge round = pair counts from the split form, a
    * lexicographic struct-min top-1 (ties identical to the Spark side's
    * (pn desc, lhs, rhs) ordering), and a plain `replace` of
    * `␟a␟␟b␟` → `␟ab␟` — anchored on whole symbols by the wrapping, and
    * non-overlapping exactly like the Spark fold because adjacent
    * matches share no characters.
    */
  private def bpeRoundsSql(m: Int): String = {
    val us = "chr(31)"
    val sb = new StringBuilder(
      s"""WITH words AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
         |  ) t WHERE w <> '' GROUP BY w
         |), rep0 AS (
         |  SELECT w, n, array_to_string(list_transform(
         |    range(1, length(w) + 1), i -> $us || w[i] || $us), '') AS rep
         |  FROM words
         |)""".stripMargin)
    for (r <- 1 to m) {
      sb ++= s""", syms${r - 1} AS (
                |  SELECT w, n, string_split(substr(rep, 2, length(rep) - 2),
                |    $us || $us) AS syms, rep
                |  FROM rep${r - 1}
                |), p$r AS (
                |  SELECT syms[CAST(i AS INT)] AS lhs,
                |    syms[CAST(i AS INT) + 1] AS rhs,
                |    CAST(SUM(n) AS BIGINT) AS pn
                |  FROM syms${r - 1}, unnest(range(1, len(syms))) AS u(i)
                |  GROUP BY 1, 2
                |), m$r AS (
                |  SELECT (min(struct_pack(a := -pn, l := lhs, r2 := rhs))) AS mm
                |  FROM p$r
                |), rep$r AS (
                |  SELECT w, n, replace(rep,
                |    $us || mm.l || $us || $us || mm.r2 || $us,
                |    $us || mm.l || mm.r2 || $us) AS rep
                |  FROM rep${r - 1} CROSS JOIN m$r
                |)""".stripMargin
    }
    sb ++= s""", symsN AS (
              |  SELECT w, n, string_split(substr(rep, 2, length(rep) - 2),
              |    $us || $us) AS syms
              |  FROM rep$m
              |)""".stripMargin
    sb.toString
  }

  private val bpeMerges = 8

  /** Full logistic-regression training replay in generated SQL (the
    * LrClassifier determinism contract): the whole loop on the 1e-6
    * INTEGER grid — features/margin terms/gradient terms as half-away
    * integral divisions over exact BIGINT products, updates likewise —
    * with sigma's 6-dp snap as the single double-input round.
    * Iteration r's CTEs read only iteration r-1's, exactly like the
    * Spark driver loop. Ends with `am` = per-doc margin micro-units
    * for the WHOLE corpus under the final weights w{iters}/b{iters}.
    */
  private def lrSql(iters: Int): String = {
    def ha(num: String, den: String): String =
      s"CASE WHEN ($num) < 0 THEN -((($num) * -2 + ($den)) // (($den) * 2)) " +
        s"ELSE (($num) * 2 + ($den)) // (($den) * 2) END"
    val sb = new StringBuilder(
      s"""WITH seed0 AS MATERIALIZED (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        |), stoks AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM seed0
        |), stc AS MATERIALIZED (
        |  SELECT doc_id, token, COUNT(*) AS c FROM stoks GROUP BY 1, 2
        |), vc AS MATERIALIZED (
        |  SELECT token, ct FROM (
        |    SELECT token, SUM(c) AS ct FROM stc GROUP BY token
        |    ORDER BY ct DESC, token LIMIT 256)
        |), v AS MATERIALIZED (
        |  SELECT token FROM vc
        |), dd AS MATERIALIZED (
        |  SELECT (SELECT COALESCE(SUM(ct), 0) + COUNT(*) + 1 FROM vc) AS d
        |), ylab AS MATERIALIZED (
        |  SELECT t.doc_id,
        |    CASE WHEN round(SUM(-ln((COALESCE(vc.ct, 0) + 1) * 1.0 /
        |        (SELECT d FROM dd))) / COUNT(*), 6) <= 3.40625
        |      THEN 1.0 ELSE 0.0 END AS y
        |  FROM stoks t LEFT JOIN vc USING (token) GROUP BY t.doc_id
        |), seed AS MATERIALIZED (
        |  SELECT s.doc_id, y.y FROM seed0 s JOIN ylab y USING (doc_id)
        |), sdl AS MATERIALIZED (
        |  SELECT doc_id, COUNT(*) AS l FROM stoks GROUP BY doc_id
        |), feat AS MATERIALIZED (
        |  SELECT stc.doc_id, stc.token,
        |    ${ha("stc.c * 1000000", "sdl.l")} AS fu
        |  FROM stc JOIN v USING (token) JOIN sdl USING (doc_id)
        |), nn AS MATERIALIZED (
        |  SELECT COUNT(*) AS n FROM seed
        |), w0 AS MATERIALIZED (
        |  SELECT token, CAST(0 AS BIGINT) AS wu FROM v
        |), b0 AS MATERIALIZED (
        |  SELECT CAST(0 AS BIGINT) AS bu
        |)""".stripMargin)
    for (r <- 1 to iters) {
      sb ++= s""", e$r AS MATERIALIZED (
                |  SELECT s.doc_id,
                |    CAST(CAST(round(1.0 / (1.0 + exp(-(CAST((SELECT bu FROM b${r - 1})
                |        + COALESCE(t.su, 0) AS DOUBLE) / 1000000.0))), 6) - s.y
                |      AS DECIMAL(13,6)) * 1000000 AS BIGINT) AS eu
                |  FROM seed s LEFT JOIN (
                |    SELECT f.doc_id,
                |      SUM(${ha("w.wu * f.fu", "1000000")}) AS su
                |    FROM feat f JOIN w${r - 1} w USING (token)
                |    GROUP BY f.doc_id) t
                |  USING (doc_id)
                |), g$r AS MATERIALIZED (
                |  SELECT f.token,
                |    SUM(${ha("e.eu * f.fu", "1000000")}) AS g
                |  FROM feat f JOIN e$r e USING (doc_id) GROUP BY f.token
                |), w$r AS MATERIALIZED (
                |  SELECT w.token,
                |    CAST(w.wu - (${ha("2048 * COALESCE(g.g, 0)", "(SELECT n FROM nn)")})
                |      AS BIGINT) AS wu
                |  FROM w${r - 1} w LEFT JOIN g$r g USING (token)
                |), b$r AS MATERIALIZED (
                |  SELECT CAST((SELECT bu FROM b${r - 1}) -
                |    (${ha(s"32 * (SELECT SUM(eu) FROM e$r)", "(SELECT n FROM nn)")})
                |    AS BIGINT) AS bu
                |)""".stripMargin
    }
    sb ++= s""", atoks AS MATERIALIZED (
              |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
              |  FROM documents
              |), adl AS MATERIALIZED (
              |  SELECT doc_id, COUNT(*) AS l FROM atoks GROUP BY doc_id
              |), atc AS MATERIALIZED (
              |  SELECT doc_id, token, COUNT(*) AS c FROM atoks GROUP BY 1, 2
              |), am AS MATERIALIZED (
              |  SELECT d.doc_id,
              |    (SELECT bu FROM b$iters) + COALESCE(t.su, 0) AS mu
              |  FROM documents d LEFT JOIN (
              |    SELECT a.doc_id,
              |      SUM(${ha(s"w.wu * (${ha("a.c * 1000000", "adl.l")})", "1000000")}) AS su
              |    FROM atc a JOIN w$iters w USING (token)
              |    JOIN adl USING (doc_id)
              |    GROUP BY a.doc_id) t USING (doc_id)
              |)""".stripMargin
    sb.toString
  }

  private val lrIters = 16

  /** PageRank-canonical replay: the dedup_groups recursive-CC prefix
    * (same shingles, threshold, edges, reach) plus `iters` generated
    * SIMILARITY-WEIGHTED rank iterations under the GraphRank
    * determinism contract — w = round(jaccard, 9), weighted degrees
    * and round-12 per-edge terms summed exactly as DECIMAL(32,12),
    * teleport and damping as independent double literals.
    */
  private def canonicalRankSql(iters: Int): String = {
    val sb = new StringBuilder(
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS s
        |  FROM documents
        |), pairs AS (
        |  SELECT a_id, b_id, j FROM (
        |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) t WHERE j >= 0.35
        |), edges AS (
        |  SELECT a_id AS src, b_id AS dst, round(j, 9) AS w FROM pairs
        |  UNION ALL
        |  SELECT b_id AS src, a_id AS dst, round(j, 9) AS w FROM pairs
        |), reach(id, label) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
        |), grp AS (
        |  SELECT id AS doc_id, MIN(label) AS group_id FROM reach GROUP BY id
        |), nodes AS (
        |  SELECT src AS id,
        |    CAST(SUM(CAST(w AS DECIMAL(32,12))) AS DOUBLE) AS wdeg
        |  FROM edges GROUP BY src
        |), nn AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes
        |), p0 AS (
        |  SELECT id, CAST(1 AS DOUBLE) / nn.n AS p FROM nodes CROSS JOIN nn
        |)""".stripMargin)
    for (t <- 1 to iters) {
      sb ++= s""", p$t AS (
                |  SELECT e.dst AS id,
                |    round(CAST(0.15 AS DOUBLE) * (CAST(1 AS DOUBLE) / nn.n) +
                |      CAST(0.85 AS DOUBLE) * CAST(SUM(CAST(
                |        round(p.p * (e.w / nd.wdeg), 9)
                |        AS DECIMAL(32,12))) AS DOUBLE), 9) AS p
                |  FROM edges e
                |  JOIN p${t - 1} p ON e.src = p.id
                |  JOIN nodes nd ON nd.id = e.src
                |  CROSS JOIN nn
                |  GROUP BY e.dst, nn.n
                |)""".stripMargin
    }
    sb ++= s""", canon AS (
              |  SELECT g.group_id,
              |    (min(struct_pack(a := -p.p, b := g.doc_id))).b AS canonical_id,
              |    CAST(COUNT(*) AS BIGINT) AS n_members,
              |    -((min(struct_pack(a := -p.p, b := g.doc_id))).a) AS score
              |  FROM p$iters p JOIN grp g ON p.id = g.doc_id
              |  GROUP BY g.group_id
              |)""".stripMargin
    sb.toString
  }

  /** Shared replay core for the image-phash family: dHash signatures
    * for corpus images ∪ perturbed re-rendered arrivals, then the
    * banding DISCOVERY itself (chunk join + bucket cap) — the house
    * convention of replaying candidate generation, not just the
    * verify rule.
    */
  /** Parameterizable phash replay body (no leading WITH): `@IMGS@`
    * supplies the image universe as `(id, seed, w, h, pert)` rows over
    * the dims CTE `im` — corpus ∪ perturbed arrivals for the dedup
    * family, the bare release corpus for `corpus_release_mm`. CTE
    * names (`im`, not `m`) are chosen to compose with the decon/gate
    * cores without collisions.
    */
  private def imagePhashBodyImgs(imgsSql: String): String =
    """im AS (
      |  SELECT doc_id,
      |    (doc_id + 0) * 2654435761 % 4294967296 % 64 + 32 AS w,
      |    (doc_id + 1) * 2654435761 % 4294967296 % 64 + 32 AS h
      |  FROM documents
      |), imgs AS (
      |@IMGS@
      |), px AS (
      |  SELECT id, seed, w, h, pert,
      |    unnest(generate_series(0, CAST(w * h - 1 AS BIGINT))) AS p
      |  FROM imgs
      |), t AS (
      |  SELECT id,
      |    CAST((((p // w) * 8) // h) * 9 + ((p % w) * 9) // w AS INTEGER)
      |      AS tile,
      |    CASE WHEN pert AND p < (w + 8) // 9
      |      THEN ((seed + (p * 3 + 0) * 2654435761) % 256 + 128) % 256
      |           + ((seed + (p * 3 + 1) * 2654435761) % 256 + 128) % 256
      |           + ((seed + (p * 3 + 2) * 2654435761) % 256 + 128) % 256
      |      ELSE (seed + (p * 3 + 0) * 2654435761) % 256
      |           + (seed + (p * 3 + 1) * 2654435761) % 256
      |           + (seed + (p * 3 + 2) * 2654435761) % 256 END AS s
      |  FROM px
      |), tm AS (
      |  SELECT id, tile,
      |    CAST((2 * SUM(s) + 3 * COUNT(*)) // (2 * (3 * COUNT(*))) AS BIGINT)
      |      AS mv
      |  FROM t GROUP BY 1, 2
      |), tl AS (
      |  SELECT id, list(mv ORDER BY tile) AS l FROM tm GROUP BY 1
      |), bits AS (
      |  SELECT id, k,
      |    CASE WHEN l[(k // 8) * 9 + (k % 8) + 2] > l[(k // 8) * 9 + (k % 8) + 1]
      |      THEN (1::BIGINT << k) ELSE 0 END AS b
      |  FROM tl, (SELECT unnest(generate_series(0, 62)) AS k)
      |), sg AS (
      |  SELECT id, CAST(SUM(b) AS BIGINT) AS sig FROM bits GROUP BY 1
      |), grp AS (
      |  SELECT sig, MIN(id) AS rep_id, COUNT(*) AS n_members
      |  FROM sg GROUP BY 1
      |), ch AS (
      |  SELECT rep_id AS id, sig, g.ci, (sig >> (16 * g.ci)) & 65535 AS chunk
      |  FROM grp CROSS JOIN generate_series(0, 3) AS g(ci)
      |), bsz AS (
      |  SELECT ci, chunk, COUNT(*) AS mm FROM ch GROUP BY 1, 2
      |), pairs AS (
      |  SELECT DISTINCT a.id AS a_id, b.id AS b_id,
      |    CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
      |  FROM ch a
      |  JOIN ch b ON a.ci = b.ci AND a.chunk = b.chunk AND a.id < b.id
      |  JOIN bsz s ON s.ci = a.ci AND s.chunk = a.chunk
      |    AND s.mm BETWEEN 2 AND 256
      |)""".stripMargin.replace("@IMGS@", imgsSql)

  private val imagePhashCore: String = "WITH " + imagePhashBodyImgs(
    """  SELECT doc_id AS id, doc_id AS seed, w, h, FALSE AS pert FROM im
      |  UNION ALL
      |  SELECT doc_id + 10000000, doc_id, w, h, TRUE FROM im
      |  WHERE doc_id % 41 = 0""".stripMargin)

  /** The perceptual-group replay appendix (recursive transitive
    * closure over the rep-level pairs + label expansion through the
    * exact-signature groups) — shared by `dedup_image_groups` and the
    * multimodal release. Requires the enclosing query to start with
    * WITH RECURSIVE.
    */
  private val imageGroupClosureBody: String =
    """edges AS (
      |  SELECT a_id AS src, b_id AS dst FROM pairs WHERE hamming <= 3
      |  UNION ALL
      |  SELECT b_id, a_id FROM pairs WHERE hamming <= 3
      |), reach(id, label) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
      |), comp AS (
      |  SELECT id, MIN(label) AS group_id FROM reach GROUP BY id
      |), glab AS (
      |  SELECT sg.id AS doc_id, COALESCE(c.group_id, g.rep_id) AS group_id
      |  FROM sg JOIN grp g ON sg.sig = g.sig
      |  LEFT JOIN comp c ON c.id = g.rep_id
      |)""".stripMargin

  /** Shared replay core for media decontamination: per-image 16-bin
    * histograms for corpus + benchmark assets (exact copies of the
    * %97=0 slice; +16-shifted re-renders of the %97=13 slice), exact
    * tier = byte-equality rule (equal dims ∧ congruent raster seed mod
    * 256 — equivalent to payload equality under the generative
    * formula), near tier = equal dims ∧ rotation-matched histogram.
    */
  private def deconMediaCoreBound(bound: Long): String = {
    val rots = Seq(0, 1, 15).map {
      case 0 => "c.l = a.l"
      case r => s"(c.l[${r + 1}:16] || c.l[1:$r]) = a.l"
    }.mkString("\n      OR ")
    s"""WITH m AS (
       |  SELECT doc_id,
       |    (doc_id + 0) * 2654435761 % 4294967296 % 64 + 32 AS w,
       |    (doc_id + 1) * 2654435761 % 4294967296 % 64 + 32 AS h
       |  FROM documents
       |), cpx AS (
       |  SELECT doc_id, w, h,
       |    unnest(generate_series(0, CAST(w * h * 3 - 1 AS BIGINT))) AS k
       |  FROM m
       |), chist AS (
       |  SELECT doc_id, ((doc_id + k * 2654435761) % 256) // 16 AS bin,
       |    COUNT(*) AS c
       |  FROM cpx GROUP BY 1, 2
       |), chl AS (
       |  SELECT doc_id, list(c ORDER BY bin) AS l FROM chist GROUP BY 1
       |), corp AS (
       |  SELECT m.doc_id, m.w, m.h, chl.l FROM m JOIN chl USING (doc_id)
       |), assets AS (
       |  SELECT doc_id + 20000000 AS bench_id, doc_id AS seed, w, h FROM m
       |  WHERE doc_id % 97 = 0 AND doc_id < @BND@
       |  UNION ALL
       |  SELECT doc_id + 30000000, doc_id + 16, w, h FROM m
       |  WHERE doc_id % 97 = 13 AND doc_id < @BND@
       |), apx AS (
       |  SELECT bench_id, seed, w, h,
       |    unnest(generate_series(0, CAST(w * h * 3 - 1 AS BIGINT))) AS k
       |  FROM assets
       |), ahist AS (
       |  SELECT bench_id, seed, w, h,
       |    ((seed + k * 2654435761) % 256) // 16 AS bin, COUNT(*) AS c
       |  FROM apx GROUP BY 1, 2, 3, 4, 5
       |), ahl AS (
       |  SELECT bench_id, seed, w, h, list(c ORDER BY bin) AS l
       |  FROM ahist GROUP BY 1, 2, 3, 4
       |), matches AS (
       |  SELECT c.doc_id,
       |    MAX(CASE WHEN (c.doc_id % 256) = (a.seed % 256) THEN 2 ELSE 1 END)
       |      AS pri
       |  FROM corp c
       |  JOIN ahl a ON c.w = a.w AND c.h = a.h
       |  WHERE (c.doc_id % 256) = (a.seed % 256)
       |    OR $rots
       |  GROUP BY 1
       |)""".stripMargin.replace("@BND@", bound.toString)
  }

  private val deconMediaCore: String = deconMediaCoreBound(50000L)

  /** Shared replay core for the media quality gates: the six
    * exact-integer predicates over the generative formulas, one row
    * per corpus document (`corpflags`). Carries an `undecodable`
    * term (always 0 — the generative corpus can't be malformed) so
    * every consumer mirrors [[MediaQuality.qualityFlags]]' fail-closed
    * flag and stays faithful if malformed corpus media is ever
    * planted. `mediaGateFlagsCoreFrom` restricts the replay to a
    * doc_id subset (the streamed media ingest gates only the batch
    * slice).
    */
  private def mediaGateFlagsCoreFrom(src: String): String =
    """WITH am AS (
      |  SELECT doc_id,
      |    (doc_id + 3) * 2654435761 % 4294967296 % 2048 + 256 AS frames,
      |    (doc_id + 4) * 2654435761 % 4294967296 % 2 + 1 AS channels
      |  FROM @MSRC@
      |), au AS (
      |  SELECT doc_id, MAX(abs(v)) AS peak,
      |    SUM(CASE WHEN (v + 32768) // 4096 IN (0, 15) THEN 1 ELSE 0 END)
      |      AS rail,
      |    COUNT(*) AS n
      |  FROM (SELECT doc_id, (doc_id + k * 2654435761) % 65536 - 32768 AS v
      |        FROM (SELECT doc_id,
      |                unnest(generate_series(0,
      |                  CAST(frames * channels - 1 AS BIGINT))) AS k
      |              FROM am))
      |  GROUP BY 1
      |), vm AS (
      |  SELECT doc_id,
      |    (doc_id + 6) * 2654435761 % 4294967296 % 32 + 16 AS w,
      |    (doc_id + 7) * 2654435761 % 4294967296 % 32 + 16 AS h,
      |    (doc_id + 8) * 2654435761 % 4294967296 % 8 + 2 AS nf
      |  FROM @MSRC@
      |), vv AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN plane = 0 AND val // 16 = 0 THEN 1 ELSE 0 END) AS b0,
      |    SUM(CASE WHEN plane = 0 THEN 1 ELSE 0 END) AS n
      |  FROM (SELECT doc_id, (j % (w * h * 3)) // (w * h) AS plane,
      |          (doc_id + j * 2654435761) % 256 AS val
      |        FROM (SELECT doc_id, w, h,
      |                unnest(generate_series(0,
      |                  CAST(nf * w * h * 3 - 1 AS BIGINT))) AS j
      |              FROM vm))
      |  GROUP BY 1
      |), fyq AS (
      |  SELECT doc_id, f,
      |    SUM((doc_id + (f * 3 * w * h + i) * 2654435761) % 256) AS y
      |  FROM (SELECT doc_id, w, h, f,
      |          unnest(generate_series(0, CAST(w * h - 1 AS BIGINT))) AS i
      |        FROM (SELECT doc_id, w, h,
      |                unnest(generate_series(0, CAST(nf - 1 AS BIGINT))) AS f
      |              FROM vm))
      |  GROUP BY 1, 2
      |), stq AS (
      |  SELECT doc_id, COUNT(*) AS nfr, COUNT(DISTINCT y) AS nd
      |  FROM fyq GROUP BY 1
      |), imq AS (
      |  SELECT doc_id,
      |    (doc_id + 0) * 2654435761 % 4294967296 % 64 + 32 AS w,
      |    (doc_id + 1) * 2654435761 % 4294967296 % 64 + 32 AS h
      |  FROM @MSRC@
      |), ihq AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN val // 16 <= 1 THEN 1 ELSE 0 END) AS head,
      |    SUM(CASE WHEN val // 16 >= 14 THEN 1 ELSE 0 END) AS tail,
      |    COUNT(*) AS n
      |  FROM (SELECT doc_id, (doc_id + k * 2654435761) % 256 AS val
      |        FROM (SELECT doc_id,
      |                unnest(generate_series(0, CAST(w * h * 3 - 1 AS BIGINT)))
      |                  AS k
      |              FROM imq))
      |  GROUP BY 1
      |), corpflags AS (
      |  SELECT d.doc_id,
      |    0 AS undecodable,
      |    CASE WHEN au.peak < 327 THEN 1 ELSE 0 END AS audio_silent,
      |    CASE WHEN au.rail * 4 > au.n THEN 1 ELSE 0 END AS audio_clipped,
      |    CASE WHEN vv.b0 * 2 > vv.n THEN 1 ELSE 0 END AS video_black,
      |    CASE WHEN stq.nfr >= 2 AND stq.nd = 1 THEN 1 ELSE 0 END
      |      AS video_static,
      |    CASE WHEN ihq.head * 2 > ihq.n THEN 1 ELSE 0 END AS img_dark,
      |    CASE WHEN ihq.tail * 2 > ihq.n THEN 1 ELSE 0 END AS img_bright
      |  FROM @MSRC@ d
      |  JOIN au USING (doc_id) JOIN vv USING (doc_id)
      |  JOIN stq USING (doc_id) JOIN ihq USING (doc_id)
      |)""".stripMargin.replace("@MSRC@", src)

  private val mediaGateFlagsCore: String = mediaGateFlagsCoreFrom("documents")

  /** The release chain's shared front-end replay: shell → strip →
    * redact → normalize (constructions shared literal-for-literal
    * with text_extract_markup / text_pii_redact / text_normalize).
    * `@PLANT@` switches the PII plant on (corpus side) or off
    * (benchmark side).
    */
  private val releaseFrontEnd: String =
    ("""  SELECT doc_id, lang,
      |    CAST(len(regexp_extract_all(stripped, '@EMAIL@')) AS BIGINT)
      |      + CAST(len(regexp_extract_all(stripped, '@PHONE@')) AS BIGINT)
      |      + CAST(len(regexp_extract_all(stripped, '@IP@')) AS BIGINT) AS n_pii,
      |    trim(regexp_replace(
      |      regexp_replace(
      |        lower(regexp_replace(
      |          regexp_replace(
      |            regexp_replace(regexp_replace(regexp_replace(stripped,
      |              '@EMAIL@', '<EMAIL>', 'g'), '@IP@', '<IP>', 'g'),
      |              '@PHONE@', '<PHONE>', 'g'),
      |            '@EMAIL@', '<email>', 'g'),
      |          '[0-9]{6,}', '<num>', 'g')),
      |        '[.,!?;:]', '', 'g'),
      |      '\s+', ' ', 'g')) AS text
      |  FROM (
      |    SELECT doc_id, lang,
      |      trim(regexp_replace(
      |        replace(replace(replace(replace(replace(
      |          regexp_replace(
      |            regexp_replace(
      |              regexp_replace(
      |                regexp_replace(
      |                  '<html><head><title>' || source || '</title><style>p{margin:0}</style><script type="text/javascript">var id='
      |                  || CAST(doc_id AS VARCHAR) || ';</script></head><body><h1>' || source || '</h1><p>'
      |                  || replace(@PLANT@, '. ', '.</p><p>') || '</p><!-- id:' || CAST(doc_id AS VARCHAR)
      |                  || ' --><div class="nav">Home &amp; About &gt; Contact</div></body></html>',
      |                  '<script[^>]*>.*?</script>', ' ', 'gs'),
      |                '<style[^>]*>.*?</style>', ' ', 'gs'),
      |              '<!--.*?-->', ' ', 'gs'),
      |            '<[^>]*>', ' ', 'g'),
      |          '&nbsp;', ' '), '&quot;', '"'), '&gt;', '>'), '&lt;', '<'), '&amp;', '&'),
      |        '\s+', ' ', 'g')) AS stripped
      |    FROM documents WHERE @WHERE@
      |  )""".stripMargin
      .replace("@EMAIL@", TextAnalysis.EmailRe)
      .replace("@IP@", TextAnalysis.Ipv4Re)
      .replace("@PHONE@", TextAnalysis.PhoneRe))

  private val releasePlant: String =
    """concat_ws(' ', text,
      |      'user' || CAST(doc_id AS VARCHAR) || '@mail.example.com',
      |      CASE WHEN doc_id % 3 = 0
      |        THEN 'call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
      |             || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
      |        ELSE 'no phone' END,
      |      CASE WHEN doc_id % 5 = 0
      |        THEN 'from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
      |             || CAST((doc_id * 3) % 256 AS VARCHAR) || '.1'
      |        ELSE 'local' END)""".stripMargin

  /** The feature-store certification replay as a WITH-body, over a
    * parameterizable doc_id source (`documents` for the batch store;
    * the streamed ingest's admitted-set CTE for `stream_media_corpus`).
    * CTE names are prefixed (`fam`/`fvm`) so the body composes with
    * [[mediaGateFlagsCoreFrom]] without collisions.
    */
  private def mediaFeatureStoreBody(src: String): String =
    """m AS (
        |  SELECT doc_id,
        |    (doc_id + 0) * 2654435761 % 4294967296 % 64 + 32 AS w,
        |    (doc_id + 1) * 2654435761 % 4294967296 % 64 + 32 AS h
        |  FROM @FSRC@
        |), px AS (
        |  SELECT doc_id, w, h,
        |    unnest(generate_series(0, CAST(w * h - 1 AS BIGINT))) AS p
        |  FROM m
        |), t AS (
        |  SELECT doc_id,
        |    CAST((((p // w) * 8) // h) * 9 + ((p % w) * 9) // w AS INTEGER)
        |      AS tile,
        |    (doc_id + (p * 3 + 0) * 2654435761) % 256
        |      + (doc_id + (p * 3 + 1) * 2654435761) % 256
        |      + (doc_id + (p * 3 + 2) * 2654435761) % 256 AS s
        |  FROM px
        |), tm AS (
        |  SELECT doc_id, tile,
        |    CAST((2 * SUM(s) + 3 * COUNT(*)) // (2 * (3 * COUNT(*))) AS BIGINT)
        |      AS mv
        |  FROM t GROUP BY 1, 2
        |), tl AS (
        |  SELECT doc_id, list(mv ORDER BY tile) AS l FROM tm GROUP BY 1
        |), bits AS (
        |  SELECT doc_id, k,
        |    CASE WHEN l[(k // 8) * 9 + (k % 8) + 2] > l[(k // 8) * 9 + (k % 8) + 1]
        |      THEN (1::BIGINT << k) ELSE 0 END AS b
        |  FROM tl, (SELECT unnest(generate_series(0, 62)) AS k)
        |), dh AS (
        |  SELECT doc_id, CAST(SUM(b) AS BIGINT) AS dhash FROM bits GROUP BY 1
        |), fam AS (
        |  SELECT doc_id,
        |    (doc_id + 3) * 2654435761 % 4294967296 % 2048 + 256 AS frames,
        |    (doc_id + 4) * 2654435761 % 4294967296 % 2 + 1 AS channels
        |  FROM @FSRC@
        |), asamp AS (
        |  SELECT doc_id, channels,
        |    unnest(generate_series(0, CAST(frames * channels - 1 AS BIGINT))) AS k
        |  FROM fam
        |), awin AS (
        |  SELECT doc_id, CAST((k // channels) // 64 AS INTEGER) AS win,
        |    SUM(abs((doc_id + k * 2654435761) % 65536 - 32768)) AS sa
        |  FROM asamp GROUP BY 1, 2
        |), awl AS (
        |  SELECT doc_id, list(sa ORDER BY win) AS wl FROM awin GROUP BY 1
        |), afpb AS (
        |  SELECT doc_id, k,
        |    CASE WHEN len(wl) > k + 1 AND wl[k + 2] > wl[k + 1]
        |      THEN (1::BIGINT << k) ELSE 0 END AS b
        |  FROM awl, (SELECT unnest(generate_series(0, 34)) AS k)
        |), afp AS (
        |  SELECT doc_id, CAST(SUM(b) AS BIGINT) AS a_fp FROM afpb GROUP BY 1
        |), fvm AS (
        |  SELECT doc_id,
        |    (doc_id + 8) * 2654435761 % 4294967296 % 8 + 2 AS nf
        |  FROM @FSRC@
        |)
        |SELECT d.doc_id, CAST(m.w AS BIGINT) AS img_w,
        |  CAST(m.h AS BIGINT) AS img_h, dh.dhash,
        |  CAST(fam.frames AS BIGINT) AS a_frames, afp.a_fp,
        |  CAST(fvm.nf AS BIGINT) AS v_frames
        |FROM @FSRC@ d
        |JOIN m USING (doc_id) JOIN dh USING (doc_id) JOIN fam USING (doc_id)
        |JOIN afp USING (doc_id) JOIN fvm USING (doc_id)
        |ORDER BY doc_id""".stripMargin.replace("@FSRC@", src)

  private val mediaFeatureStoreSql: String =
    "WITH " + mediaFeatureStoreBody("documents")

  /** The streamed media ingest's replay: the final store must equal
    * seed ∪ admitted-batch, where a batch doc (`doc_id % 10 = 0`) is
    * admitted iff (a) none of the seven quality flags fire and (b) no
    * content-identical document precedes it — under the generative
    * formulas, full tri-modal payload equality is EXACTLY doc_id
    * congruence mod 65536 (raster bytes mod 256, WAV samples mod
    * 65536, every metadata hash mod a divisor of 65536), so "a seed
    * doc exists in the class" replays the store tier and "a smaller
    * batch doc exists in the class" replays the within-batch tier.
    * The perceptual tier needs no extra term for REAL docs: its
    * wav+y4m equality requirement already implies full-triple
    * equality (mod-65536 congruence), so it can only reject planted
    * arrivals — which, like every plant, carry ids above the real
    * range, always lose the smaller-id rule, and never appear in the
    * output. Features for the admitted set then replay through the
    * shared store-certification body.
    *
    * Validity bounds (documented, not incidental): the within-batch
    * MIN term quantifies over gate-PASSING batch docs (the engine
    * keeps the min id among quality SURVIVORS — a gated sibling must
    * not shadow its class), and the min-per-class rule itself equals
    * the engine's first-wins-across-batches semantics only while
    * (a) the fixture drains as ONE `AvailableNow` batch and (b) no two
    * real batch docs share a mod-65536 class — true below doc_id
    * lcm(65536, 10) = 327,680, far above every fixture's id range
    * (see the [[graft.stream.MediaIngest]] admission scaladoc).
    */
  private[graft] val streamMediaCorpusSql: String =
    mediaGateFlagsCoreFrom("(SELECT doc_id FROM documents WHERE doc_id % 10 = 0)") +
    """
      |, cadm AS (
      |  SELECT doc_id FROM documents WHERE doc_id % 10 <> 0
      |  UNION ALL
      |  SELECT f.doc_id FROM corpflags f
      |  WHERE f.undecodable + f.audio_silent + f.audio_clipped
      |      + f.video_black + f.video_static + f.img_dark + f.img_bright = 0
      |    AND NOT EXISTS (SELECT 1 FROM documents s
      |      WHERE s.doc_id % 10 <> 0
      |        AND s.doc_id % 65536 = f.doc_id % 65536)
      |    AND f.doc_id = (SELECT MIN(g.doc_id) FROM corpflags g
      |      WHERE g.undecodable + g.audio_silent + g.audio_clipped
      |          + g.video_black + g.video_static + g.img_dark + g.img_bright = 0
      |        AND g.doc_id % 65536 = f.doc_id % 65536)
      |), """.stripMargin + mediaFeatureStoreBody("cadm")

  /** The text release chain as a WITH-body ending in the released-set
    * CTE `rel` — shared by `corpus_release` (bare projection) and
    * `corpus_release_mm` (composed with the media stages).
    */
  private val releaseChainBody: String =
    """nrm AS (
         |@FRONT_CORPUS@
         |), tk AS (
         |  SELECT doc_id, lang, n_pii, text, string_split(text, ' ') AS t
         |  FROM nrm
         |), voc AS (
         |  SELECT token, COUNT(*) AS c
         |  FROM (SELECT unnest(t) AS token FROM tk)
         |  GROUP BY token ORDER BY c DESC, token LIMIT 4096
         |), consts AS (
         |  SELECT (SELECT SUM(c) FROM voc) + (SELECT COUNT(*) FROM voc) + 1 AS d
         |), nll AS (
         |  SELECT s.doc_id,
         |    round(SUM(-ln((coalesce(v.c, 0) + 1) * 1.0 / (SELECT d FROM consts)))
         |      / COUNT(*), 6) AS mean_nll
         |  FROM (SELECT doc_id, unnest(t) AS token FROM tk) s
         |  LEFT JOIN voc v USING (token) GROUP BY s.doc_id
         |), pstat AS (
         |  SELECT CAST(SUM(CAST(mean_nll AS DECIMAL(12,6))) AS DECIMAL(38,6))
         |      AS nll_sum,
         |    CAST(COUNT(*) AS DECIMAL(12,0)) AS nll_n
         |  FROM nll
         |), gated AS (
         |  SELECT tk.doc_id, tk.lang, tk.n_pii, tk.t
         |  FROM tk JOIN nll USING (doc_id) CROSS JOIN pstat
         |  WHERE len(t) >= 30
         |    AND CAST(len(list_filter(t, x -> list_contains(
         |      ['the','a','of','and','to','in','is','on'], x))) AS DOUBLE)
         |      / len(t) <= 0.12
         |    AND (CAST(mean_nll AS DECIMAL(12,6)) - CAST(0.25 AS DECIMAL(12,6)))
         |      * nll_n <= nll_sum
         |), segs AS (
         |  SELECT doc_id, i AS seg_idx,
         |    array_to_string(t[(i*16+1):(i*16+16)], ' ') AS seg
         |  FROM (SELECT doc_id, t,
         |          unnest(generate_series(0, CAST((len(t) - 1) // 16 AS BIGINT)))
         |            AS i
         |        FROM gated)
         |  WHERE i * 16 < len(t)
         |), keep AS (
         |  SELECT doc_id, seg_idx, seg,
         |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
         |  FROM segs
         |), rebuilt AS (
         |  SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS text
         |  FROM keep WHERE rn = 1 GROUP BY doc_id
         |), exact AS (
         |  SELECT MIN(doc_id) AS doc_id FROM rebuilt GROUP BY text
         |), dd AS (
         |  SELECT r.doc_id, g.lang, g.n_pii, r.text
         |  FROM rebuilt r
         |  JOIN exact e ON r.doc_id = e.doc_id
         |  JOIN gated g ON g.doc_id = r.doc_id
         |), benchsh AS (
         |  SELECT DISTINCT sh FROM (
         |    SELECT unnest(list_distinct(list_transform(
         |      generate_series(1, greatest(len(string_split(text, ' ')) - 4, 1)),
         |      i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))) AS sh
         |    FROM (
         |@FRONT_BENCH@
         |    ))
         |), contaminated AS (
         |  SELECT d.doc_id FROM (
         |    SELECT doc_id, unnest(list_distinct(list_transform(
         |      generate_series(1, greatest(len(string_split(text, ' ')) - 4, 1)),
         |      i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))) AS sh
         |    FROM dd) d
         |  JOIN benchsh b USING (sh)
         |  GROUP BY d.doc_id HAVING COUNT(*) >= 5
         |), rel AS (
         |  SELECT doc_id, lang, n_pii, text FROM dd
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
         |)""".stripMargin
        .replace("@FRONT_CORPUS@", releaseFrontEnd
          .replace("@PLANT@", releasePlant)
          .replace("@WHERE@", "doc_id % 10 <> 0"))
        .replace("@FRONT_BENCH@", releaseFrontEnd
          .replace("@PLANT@", "text")
          .replace("@WHERE@", "doc_id % 10 = 0"))

  val oracles: Map[String, String] = Map(
    "dedup_canonical_rank" -> (canonicalRankSql(3) +
      """
        |SELECT group_id, canonical_id, n_members, score FROM canon
        |ORDER BY group_id""".stripMargin),

    "dedup_apply_canonical" -> (canonicalRankSql(3) +
      """
        |SELECT d.doc_id, d.lang FROM documents d
        |WHERE d.doc_id NOT IN (
        |  SELECT g.doc_id FROM grp g JOIN canon c USING (group_id)
        |  WHERE g.doc_id <> c.canonical_id)
        |ORDER BY d.doc_id""".stripMargin),

    "bpe_train_merges" -> (bpeRoundsSql(bpeMerges) +
      (1 to bpeMerges).map(r =>
        s"""SELECT CAST($r AS INT) AS merge_rank, mm.l AS lhs, mm.r2 AS rhs,
           |  CAST(-mm.a AS BIGINT) AS pair_n FROM m$r""".stripMargin)
        .mkString("\n", "\nUNION ALL\n", "\nORDER BY merge_rank")),

    "bpe_vocab" -> (bpeRoundsSql(bpeMerges) +
      """
        |SELECT token, CAST(SUM(n) AS BIGINT) AS n_occ FROM (
        |  SELECT n, unnest(syms) AS token FROM symsN
        |) t GROUP BY token ORDER BY token""".stripMargin),

    "bpe_encode_stats" -> (bpeRoundsSql(bpeMerges) +
      """
        |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(len(v.syms)) AS BIGINT) AS n_tokens
        |FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |) d JOIN symsN v USING (w)
        |WHERE d.w <> ''
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),

    "bpe_fertility" -> (bpeRoundsSql(bpeMerges) +
      """
        |, enc AS (
        |  SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |    CAST(SUM(len(v.syms)) AS BIGINT) AS n_tokens
        |  FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |  ) d JOIN symsN v USING (w)
        |  WHERE d.w <> '' GROUP BY d.doc_id
        |), g AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(d.n_chars) AS BIGINT) AS n_chars,
        |    CAST(SUM(COALESCE(e.n_words, 0)) AS BIGINT) AS n_words,
        |    CAST(SUM(COALESCE(e.n_tokens, 0)) AS BIGINT) AS n_tokens
        |  FROM documents d LEFT JOIN enc e USING (doc_id)
        |  GROUP BY lang
        |)
        |SELECT lang, n_docs, n_chars, n_words, n_tokens,
        |  CAST((2 * CAST(n_chars AS HUGEINT) * 1000000 + n_tokens)
        |       // (2 * n_tokens) AS BIGINT) AS chars_per_token_ppm,
        |  CAST((2 * CAST(n_tokens AS HUGEINT) * 1000000 + n_words)
        |       // (2 * n_words) AS BIGINT) AS tokens_per_word_ppm
        |FROM g ORDER BY lang""".stripMargin),

    // Full SimHash replay in 32-bit halves (DuckDB's << overflows at
    // 64 bits; every value here stays under 2^32): token bits from
    // md5 hex, occurrence-weighted per-bit votes (bit set iff vote
    // strictly positive — the native SimHash64 rule), four 16-bit
    // pigeonhole chunks with the same 2..256 bucket-size window, and
    // hamming = popcount(hi⊕hi') + popcount(lo⊕lo').
    "dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        |), th AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS hi,
        |    CAST('0x' || substr(md5(t), 9, 8) AS BIGINT) AS lo
        |  FROM toks
        |), votes AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN ((hi >> b) & 1) = 1 THEN 1 ELSE -1 END) AS vhi,
        |    SUM(CASE WHEN ((lo >> b) & 1) = 1 THEN 1 ELSE -1 END) AS vlo
        |  FROM th CROSS JOIN generate_series(0, 31) AS g(b)
        |  GROUP BY 1, 2
        |), sig AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN vhi > 0 THEN (1::BIGINT << b) ELSE 0 END)
        |      AS BIGINT) AS sig_hi,
        |    CAST(SUM(CASE WHEN vlo > 0 THEN (1::BIGINT << b) ELSE 0 END)
        |      AS BIGINT) AS sig_lo
        |  FROM votes GROUP BY doc_id
        |), ch AS (
        |  SELECT doc_id, sig_hi, sig_lo, g.ci,
        |    CASE g.ci
        |      WHEN 0 THEN sig_lo & 65535
        |      WHEN 1 THEN (sig_lo >> 16) & 65535
        |      WHEN 2 THEN sig_hi & 65535
        |      ELSE (sig_hi >> 16) & 65535 END AS chunk
        |  FROM sig CROSS JOIN generate_series(0, 3) AS g(ci)
        |), bsz AS (
        |  SELECT ci, chunk, COUNT(*) AS m FROM ch GROUP BY 1, 2
        |), pairs AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(bit_count(xor(a.sig_hi, b.sig_hi))
        |       + bit_count(xor(a.sig_lo, b.sig_lo)) AS INT) AS hamming
        |  FROM ch a
        |  JOIN ch b ON a.ci = b.ci AND a.chunk = b.chunk
        |    AND a.doc_id < b.doc_id
        |  JOIN bsz s ON s.ci = a.ci AND s.chunk = a.chunk
        |    AND s.m BETWEEN 2 AND 256
        |)
        |SELECT a_id, b_id, hamming FROM pairs
        |WHERE hamming <= 16
        |ORDER BY a_id, b_id""".stripMargin,

    // md5-integer SRP buckets rebuilt in SQL (strpos-over-hex = the
    // first md5 byte, shifted to [-128,127] — same derivation as
    // Similarity.md5PlaneComponent), exact integer dot-sign bucket
    // bits, then micro-unit cosine with one terminal double
    // expression. Candidate generation and scoring both replay
    // bit-for-bit; no rounding anywhere.
    "dedup_embed_cosine" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), u AS (
        |  SELECT vec_id, i,
        |    CAST(CAST(v[i+1] AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xu
        |  FROM e CROSS JOIN generate_series(0, 63) AS g(i)
        |), pl AS (
        |  SELECT t, p, i,
        |    (strpos('0123456789abcdef', substr(md5(
        |       CAST(t AS VARCHAR) || '_' || CAST(p AS VARCHAR) || '_' ||
        |       CAST(i AS VARCHAR)), 1, 1)) - 1) * 16
        |    + strpos('0123456789abcdef', substr(md5(
        |       CAST(t AS VARCHAR) || '_' || CAST(p AS VARCHAR) || '_' ||
        |       CAST(i AS VARCHAR)), 2, 1)) - 1 - 128 AS c
        |  FROM generate_series(0, 3) AS gt(t)
        |  CROSS JOIN generate_series(0, 5) AS gp(p)
        |  CROSS JOIN generate_series(0, 63) AS gi(i)
        |), dots AS (
        |  SELECT u.vec_id, pl.t, pl.p, SUM(pl.c * u.xu) AS s
        |  FROM u JOIN pl ON pl.i = u.i GROUP BY 1, 2, 3
        |), bk AS (
        |  SELECT vec_id, t,
        |    SUM(CASE WHEN s >= 0 THEN 1 << p ELSE 0 END) AS bucket
        |  FROM dots GROUP BY 1, 2
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM bk a JOIN bk b
        |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        |), dp AS (
        |  SELECT c.a_id, c.b_id,
        |    SUM(ua.xu * ub.xu) AS num,
        |    SUM(ua.xu * ua.xu) AS na,
        |    SUM(ub.xu * ub.xu) AS nb
        |  FROM cand c
        |  JOIN u ua ON ua.vec_id = c.a_id
        |  JOIN u ub ON ub.vec_id = c.b_id AND ub.i = ua.i
        |  GROUP BY 1, 2
        |)
        |SELECT a_id, b_id,
        |  CASE WHEN na = 0 OR nb = 0 THEN CAST(0 AS DOUBLE)
        |       ELSE CAST(num AS DOUBLE) /
        |            (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
        |  END AS cos
        |FROM dp
        |ORDER BY cos DESC, a_id, b_id
        |LIMIT 25""".stripMargin,

    // Semantic decontamination replayed like dedup_embed_cosine, with
    // asymmetric sides: md5-integer SRP buckets rebuilt in SQL,
    // cross-side (corpus % 10 <> 0) × (benchmark % 10 = 0) candidates
    // from bucket equality, exact micro-unit cosine — candidate
    // generation and scoring both bit-for-bit.
    "decon_semantic" -> (SemDeconSql +
      """SELECT corpus_id, bench_id,
        |  CASE WHEN cn = 0 OR bn = 0 THEN CAST(0 AS DOUBLE)
        |       ELSE CAST(num AS DOUBLE) /
        |            (sqrt(CAST(cn AS DOUBLE)) * sqrt(CAST(bn AS DOUBLE)))
        |  END AS cos
        |FROM dp
        |ORDER BY cos DESC, corpus_id, bench_id
        |LIMIT 25""".stripMargin),

    // The removal form at radius 0.4: survivors = corpus vec_ids whose
    // every SRP-candidate cosine stays below the radius.
    "decon_semantic_apply" -> (SemDeconSql.stripSuffix("\n") +
      """, flagged AS (
        |  SELECT DISTINCT corpus_id FROM dp
        |  WHERE cn <> 0 AND bn <> 0
        |    AND CAST(num AS DOUBLE) /
        |        (sqrt(CAST(cn AS DOUBLE)) * sqrt(CAST(bn AS DOUBLE))) >= 0.4
        |)
        |SELECT e.vec_id FROM embeddings e
        |LEFT JOIN flagged f ON e.vec_id = f.corpus_id
        |WHERE e.vec_id % 10 <> 0 AND f.corpus_id IS NULL
        |ORDER BY e.vec_id""".stripMargin),

    // kmeansSql's a2 assignment (identical fit to cluster_kmeans_*) as
    // the SemDeDup quantizer, then within-cluster micro-unit cosine —
    // the same exact-integer scoring as dedup_embed_cosine.
    "dedup_semantic" -> (kmeansSql +
      """, u AS (
        |  SELECT vec_id, i,
        |    CAST(CAST(e[i+1] AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xu
        |  FROM emb CROSS JOIN generate_series(0, 63) AS g(i)
        |), cpairs AS (
        |  SELECT a.cluster AS cell, a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM a2 a JOIN a2 b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |), dp AS (
        |  SELECT c.cell, c.a_id, c.b_id,
        |    SUM(ua.xu * ub.xu) AS num,
        |    SUM(ua.xu * ua.xu) AS na,
        |    SUM(ub.xu * ub.xu) AS nb
        |  FROM cpairs c
        |  JOIN u ua ON ua.vec_id = c.a_id
        |  JOIN u ub ON ub.vec_id = c.b_id AND ub.i = ua.i
        |  GROUP BY 1, 2, 3
        |)
        |SELECT cell, a_id, b_id,
        |  CASE WHEN na = 0 OR nb = 0 THEN CAST(0 AS DOUBLE)
        |       ELSE CAST(num AS DOUBLE) /
        |            (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
        |  END AS cos
        |FROM dp
        |ORDER BY cos DESC, a_id, b_id
        |LIMIT 25""".stripMargin),

    "cluster_kmeans_assign" -> (kmeansSql +
      "\nSELECT vec_id, cluster FROM a2 ORDER BY vec_id"),

    "cluster_kmeans_stats" -> (kmeansSql +
      """
        |SELECT cluster, COUNT(*) AS n_vecs,
        |  CAST(SUM(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE) AS inertia
        |FROM a2 GROUP BY cluster ORDER BY cluster""".stripMargin),

    "cluster_kmeans_purity" -> (kmeansSql +
      """, lab AS (
        |  SELECT cluster, label, COUNT(*) AS n FROM a2 GROUP BY 1, 2
        |)
        |SELECT cluster, CAST(SUM(n) AS BIGINT) AS n_vecs,
        |  (min(struct_pack(a := -n, b := label))).b AS top_label,
        |  CAST(-((min(struct_pack(a := -n, b := label))).a) AS BIGINT) AS top_label_n
        |FROM lab GROUP BY cluster ORDER BY cluster""".stripMargin),

    // Exact ANN baseline is SQL-expressible: cosine in double (matching
    // the native expression's double accumulation over float inputs),
    // same round-then-rank order, same tie-break.
    "sim_bruteforce_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
        |  FROM embeddings WHERE vec_id < 10
        |), scored AS (
        |  SELECT q.q_id, e.vec_id AS n_id, e.label AS n_label,
        |    round(list_inner_product(q.q_emb, CAST(e.embedding AS DOUBLE[]))
        |      / (sqrt(list_inner_product(q.q_emb, q.q_emb))
        |         * sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
        |                                   CAST(e.embedding AS DOUBLE[])))), 6) AS cos
        |  FROM embeddings e JOIN q ON q.q_id <> e.vec_id
        |), ranked AS (
        |  SELECT q_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank,
        |    n_id, n_label, cos
        |  FROM scored
        |)
        |SELECT q_id, rank, n_id, n_label, cos FROM ranked
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // Exact all-pairs threshold Jaccard. The Spark side goes through
    // r=4 LSH banding; it matches the exact answer because every pair
    // over the 0.35 threshold in this corpus is a planted near-dup at
    // j ≥ 0.9, where band collision is ~certain (borderline-j pairs
    // with sub-1 recall would be a genuine LSH/exact divergence — the
    // corpus has none, which is what makes this oracle-able at all).
    "dedup_minhash_lsh" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS s
        |  FROM documents
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |)
        |SELECT a_id, b_id, jaccard FROM pairs
        |WHERE jaccard >= 0.35 ORDER BY a_id, b_id""".stripMargin,

    // Exact batch-vs-corpus threshold Jaccard. The Spark side goes
    // through the persisted band index; recall argument identical to
    // dedup_minhash_lsh (every over-threshold pair in this corpus is a
    // planted near-dup at j ≥ 0.9, where r=4 band collision is ~certain).
    "dedup_incremental" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS s
        |  FROM documents
        |), pairs AS (
        |  SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        |)
        |SELECT new_id, corpus_id, jaccard FROM pairs
        |WHERE jaccard >= 0.35 ORDER BY new_id, corpus_id""".stripMargin,

    // Connected components as a recursive transitive closure over the
    // exact ≥0.35-Jaccard pair graph (same pair set the LSH path
    // provably recovers — see the dedup_minhash_lsh oracle note);
    // component label = min reachable doc_id, exactly the fixpoint the
    // Spark min-label propagation converges to.
    "dedup_groups" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS s
        |  FROM documents
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.35
        |), edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION ALL
        |  SELECT b_id AS src, a_id AS dst FROM pairs
        |), reach(id, label) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
        |)
        |SELECT id AS doc_id, MIN(label) AS group_id FROM reach
        |GROUP BY id ORDER BY doc_id""".stripMargin,

    "dedup_apply" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS s
        |  FROM documents
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.35
        |), edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION ALL
        |  SELECT b_id AS src, a_id AS dst FROM pairs
        |), reach(id, label) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
        |), losers AS (
        |  SELECT id FROM reach GROUP BY id HAVING id <> MIN(label)
        |)
        |SELECT d.doc_id, d.lang FROM documents d
        |LEFT JOIN losers l ON d.doc_id = l.id
        |WHERE l.id IS NULL
        |ORDER BY d.doc_id""".stripMargin,

    "text_vocab_tfidf" ->
      """WITH t AS (
        |  SELECT unnest(list_distinct(string_split(text, ' '))) AS term
        |  FROM documents
        |), df AS (
        |  SELECT term, COUNT(*) AS df FROM t GROUP BY term
        |)
        |SELECT term, df,
        |  round(ln((SELECT COUNT(*) FROM documents) * 1.0 / df), 6) AS idf
        |FROM df ORDER BY df DESC, term LIMIT 50""".stripMargin,

    // The REAL P6 decode, hash-verified: the oracle replays the
    // GENERATIVE raster formula (byte k = (doc_id + k·2654435761) mod
    // 256 — Multimodal.withFakeMedia / PpmKernel.synth) while the Spark
    // side recovers the same numbers by PARSING the payload bytes, so a
    // hash match certifies header parse + channel split + histogram.
    // All-integer arithmetic; DuckDB SUM(int)→HUGEINT cast back to
    // BIGINT per the house discipline.
    "mm_decode_features" -> {
      val bins = (0 until 16).map(i =>
        f"  CAST(SUM(CASE WHEN val // 16 = $i THEN 1 ELSE 0 END) AS BIGINT) AS h$i%02d")
        .mkString(",\n")
      s"""WITH m AS (
         |  SELECT doc_id,
         |    (doc_id + 0) * 2654435761 % 4294967296 % 64 + 32 AS w,
         |    (doc_id + 1) * 2654435761 % 4294967296 % 64 + 32 AS h
         |  FROM documents
         |), px AS (
         |  SELECT doc_id, w, h,
         |    unnest(generate_series(0, CAST(w * h * 3 - 1 AS BIGINT))) AS k
         |  FROM m
         |), v AS (
         |  SELECT doc_id, w, h, k % 3 AS ch,
         |    (doc_id + k * 2654435761) % 256 AS val
         |  FROM px
         |)
         |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         |  CAST(SUM(CASE WHEN ch = 0 THEN val ELSE 0 END) AS BIGINT) AS r_sum,
         |  CAST(SUM(CASE WHEN ch = 1 THEN val ELSE 0 END) AS BIGINT) AS g_sum,
         |  CAST(SUM(CASE WHEN ch = 2 THEN val ELSE 0 END) AS BIGINT) AS b_sum,
         |$bins
         |FROM v GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin
    },

    // Tiled pooling replay: pixel p = (x, y) = (p mod w, p div w), its
    // three raster bytes k = 3p..3p+2 from the generative formula, its
    // tile from the same integral equi-partition the kernel computes;
    // half-up integral mean per tile. SUM goes HUGEINT in DuckDB →
    // cast back to BIGINT per the house discipline.
    "mm_tile_stats" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    (doc_id + 0) * 2654435761 % 4294967296 % 64 + 32 AS w,
        |    (doc_id + 1) * 2654435761 % 4294967296 % 64 + 32 AS h
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, w, h,
        |    unnest(generate_series(0, CAST(w * h - 1 AS BIGINT))) AS p
        |  FROM m
        |), t AS (
        |  SELECT doc_id,
        |    CAST((((p // w) * 4) // h) * 4 + ((p % w) * 4) // w AS INTEGER)
        |      AS tile,
        |    (doc_id + (p * 3 + 0) * 2654435761) % 256
        |      + (doc_id + (p * 3 + 1) * 2654435761) % 256
        |      + (doc_id + (p * 3 + 2) * 2654435761) % 256 AS s
        |  FROM px
        |)
        |SELECT doc_id, tile,
        |  CAST((2 * SUM(s) + 3 * COUNT(*)) // (2 * (3 * COUNT(*))) AS BIGINT)
        |    AS mean_val
        |FROM t GROUP BY 1, 2 ORDER BY doc_id, tile""".stripMargin,

    // The REAL WAV decode, hash-verified like mm_decode_features: the
    // oracle replays the GENERATIVE sample formula (sample k =
    // ((doc_id + k·2654435761) mod 65536) − 32768 over frames·channels
    // samples — Multimodal.withFakeAudio / WavKernel.synth) while the
    // Spark side recovers the same numbers by PARSING the RIFF payload
    // bytes. duration_ms is truncating integer division of positive
    // longs (identical in both engines); histogram bins are
    // (v + 32768) div 4096 over nonnegative values.
    "audio_decode_stats" -> {
      val bins = (0 until 16).map(i =>
        f"  CAST(SUM(CASE WHEN (v + 32768) // 4096 = $i THEN 1 ELSE 0 END) AS BIGINT) AS h$i%02d")
        .mkString(",\n")
      s"""WITH m AS (
         |  SELECT doc_id,
         |    (doc_id + 3) * 2654435761 % 4294967296 % 2048 + 256 AS frames,
         |    (doc_id + 4) * 2654435761 % 4294967296 % 2 + 1 AS channels,
         |    ((doc_id + 5) * 2654435761 % 4294967296 % 2 + 1) * 8000 AS rate
         |  FROM documents
         |), s AS (
         |  SELECT doc_id, frames, channels, rate,
         |    unnest(generate_series(0, CAST(frames * channels - 1 AS BIGINT))) AS k
         |  FROM m
         |), v AS (
         |  SELECT doc_id, frames, channels, rate, k,
         |    (doc_id + k * 2654435761) % 65536 - 32768 AS v
         |  FROM s
         |)
         |SELECT doc_id,
         |  CAST(channels AS BIGINT) AS n_channels,
         |  CAST(rate AS BIGINT) AS sample_rate,
         |  CAST(frames AS BIGINT) AS n_frames,
         |  CAST(frames * 1000 // rate AS BIGINT) AS duration_ms,
         |  CAST(SUM(CASE WHEN k % channels = 0 THEN v ELSE 0 END) AS BIGINT) AS c0_sum,
         |  CAST(SUM(v) AS BIGINT) AS all_sum,
         |  CAST(MAX(abs(v)) AS BIGINT) AS peak,
         |$bins
         |FROM v GROUP BY 1, 2, 3, 4, 5 ORDER BY doc_id""".stripMargin
    },

    // Feature-store signature replay: the dHash bits from the 9×8
    // tile-mean replay (the mm_tile_stats formula at the dHash grid),
    // the audio fingerprint bits from the 64-frame window-energy
    // replay (the audio_window_stats formula at window 64) — both
    // all-integer, summed into sign-free ≤63-bit signatures (DuckDB
    // raises on 1::BIGINT << 63, which is why the top dHash bit is
    // dropped by design).
    "mm_feature_store" -> mediaFeatureStoreSql,

    // the incremental-admission serve must equal a full-corpus build,
    // so it shares the store-certification replay verbatim
    "mm_features_incr" -> mediaFeatureStoreSql,

    // Release-chain replay: the whole pipeline re-derived in SQL —
    // front-end (shell/strip/redact/normalize, shared fragments),
    // gates (length, stopword fraction, round-6 mean NLL against the
    // top-4096 vocabulary of the chained corpus), 16-token segment
    // dedup (first occurrence wins), exact dedup on the rebuilt text,
    // 5-gram benchmark decon, md5 digest of the released text.
    "corpus_release" ->
      ("WITH " + releaseChainBody + """
         |SELECT doc_id, lang, n_pii,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  md5(text) AS text_md5
         |FROM rel ORDER BY doc_id""".stripMargin),

    // The multimodal release: the text chain's released set (`rel`)
    // composed with the media stages — quality gates (all seven flags,
    // replayed over the %10≠0 slice), media decontamination (exact +
    // near tier), and the perceptual image duplicate-group collapse
    // (keep the minimum SURVIVING doc_id per group), in the declared
    // stage order. Every fragment is the one its standalone query
    // certifies.
    "corpus_release_mm" ->
      ("WITH RECURSIVE " + releaseChainBody + ", " +
        mediaGateFlagsCoreFrom(
          "(SELECT doc_id FROM documents WHERE doc_id % 10 <> 0)")
          .stripPrefix("WITH ") + ", " +
        deconMediaCoreBound(2000L).stripPrefix("WITH ") + ", " +
        imagePhashBodyImgs(
          """  SELECT doc_id AS id, doc_id AS seed, w, h, FALSE AS pert
            |  FROM im WHERE doc_id % 10 <> 0""".stripMargin) + ", " +
        imageGroupClosureBody + """
          |, surv AS (
          |  SELECT r.doc_id, r.lang, r.n_pii, r.text, gl.group_id
          |  FROM rel r
          |  JOIN corpflags f ON f.doc_id = r.doc_id
          |  JOIN glab gl ON gl.doc_id = r.doc_id
          |  WHERE f.undecodable + f.audio_silent + f.audio_clipped
          |      + f.video_black + f.video_static + f.img_dark + f.img_bright = 0
          |    AND r.doc_id NOT IN (SELECT doc_id FROM matches)
          |), keepg AS (
          |  SELECT group_id, MIN(doc_id) AS doc_id FROM surv GROUP BY 1
          |)
          |SELECT s.doc_id, s.lang, s.n_pii,
          |  CAST(len(string_split(s.text, ' ')) AS BIGINT) AS n_tokens,
          |  md5(s.text) AS text_md5
          |FROM surv s JOIN keepg k ON s.doc_id = k.doc_id
          |ORDER BY s.doc_id""".stripMargin),


    // Perceptual image dedup replay: dHash signatures for corpus ∪
    // perturbed arrivals, banding discovery included (bucket cap
    // replayed, the dedup_simhash convention).
    "dedup_image_phash" ->
      s"""$imagePhashCore
         |SELECT a_id, b_id, hamming,
         |  (SELECT COUNT(*) FROM bsz WHERE mm > 256) AS n_capped_buckets
         |FROM pairs
         |WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin,

    "dedup_apply_image" ->
      s"""$imagePhashCore
         |SELECT rep_id AS doc_id FROM grp
         |WHERE rep_id NOT IN (
         |  SELECT DISTINCT b_id FROM pairs WHERE hamming <= 3)
         |ORDER BY doc_id""".stripMargin,

    // Image duplicate-group replay: the phash core's rep pairs closed
    // transitively (recursive CTE), labels expanded through the
    // exact-signature groups; singleton components label as their own
    // rep.
    "dedup_image_groups" ->
      (s"""$imagePhashCore
          |, $imageGroupClosureBody
          |SELECT doc_id, group_id,
          |  (SELECT COUNT(*) FROM bsz WHERE mm > 256) AS n_capped_buckets
          |FROM glab
          |ORDER BY doc_id""".stripMargin
        .replaceFirst("WITH ", "WITH RECURSIVE ")),

    // Audio fingerprint dedup replay: 64-frame window-energy vectors
    // for corpus ∪ re-encoded arrivals (the re-encode keeps the seed,
    // so its sample stream is identical), fingerprint bits, bucket
    // discovery on (signature, window count) with the cap, exact
    // vector-equality verify.
    "dedup_audio_fp" ->
      """WITH am AS (
        |  SELECT doc_id,
        |    (doc_id + 3) * 2654435761 % 4294967296 % 2048 + 256 AS frames,
        |    (doc_id + 4) * 2654435761 % 4294967296 % 2 + 1 AS channels
        |  FROM documents
        |), clips AS (
        |  SELECT doc_id AS id, doc_id AS seed, frames, channels FROM am
        |  UNION ALL
        |  SELECT doc_id + 10000000, doc_id, frames, channels FROM am
        |  WHERE doc_id % 89 = 0
        |), samp AS (
        |  SELECT id, seed, channels,
        |    unnest(generate_series(0, CAST(frames * channels - 1 AS BIGINT))) AS k
        |  FROM clips
        |), win AS (
        |  SELECT id, CAST((k // channels) // 64 AS INTEGER) AS win,
        |    SUM(abs((seed + k * 2654435761) % 65536 - 32768)) AS sa
        |  FROM samp GROUP BY 1, 2
        |), vec AS (
        |  SELECT id, list(sa ORDER BY win) AS wl, COUNT(*) AS nwin
        |  FROM win GROUP BY 1
        |), sigb AS (
        |  SELECT id, k,
        |    CASE WHEN len(wl) > k + 1 AND wl[k + 2] > wl[k + 1]
        |      THEN (1::BIGINT << k) ELSE 0 END AS b
        |  FROM vec, (SELECT unnest(generate_series(0, 34)) AS k)
        |), sg AS (
        |  SELECT id, CAST(SUM(b) AS BIGINT) AS sig FROM sigb GROUP BY 1
        |), fv AS (
        |  SELECT v.id, v.wl, v.nwin, s.sig FROM vec v JOIN sg s USING (id)
        |), bsz AS (
        |  SELECT sig, nwin, COUNT(*) AS mm FROM fv GROUP BY 1, 2
        |)
        |SELECT a.id AS a_id, b.id AS b_id, CAST(a.nwin AS BIGINT) AS n_windows,
        |  (SELECT COUNT(*) FROM bsz WHERE mm > 256) AS n_capped_buckets
        |FROM fv a
        |JOIN fv b ON a.sig = b.sig AND a.nwin = b.nwin AND a.id < b.id
        |  AND a.wl = b.wl
        |JOIN bsz s ON s.sig = a.sig AND s.nwin = a.nwin
        |  AND s.mm BETWEEN 2 AND 256
        |ORDER BY a_id, b_id""".stripMargin,

    // Video content-identity replay: per-frame luma sums from the
    // generative formula (frame f's luma bytes sit at stream positions
    // f·3wh .. f·3wh+wh−1) for corpus ∪ fps-swapped re-encodes,
    // payload-group collapse on (dims, fps, frame vector), bucket
    // discovery on (sign-of-delta fingerprint, frame count) with the
    // cap + its telemetry, exact dims/vector-equality verify.
    "dedup_video_fp" ->
      """WITH vm AS (
        |  SELECT doc_id,
        |    (doc_id + 6) * 2654435761 % 4294967296 % 32 + 16 AS w,
        |    (doc_id + 7) * 2654435761 % 4294967296 % 32 + 16 AS h,
        |    (doc_id + 8) * 2654435761 % 4294967296 % 8 + 2 AS nf,
        |    ((doc_id + 9) * 2654435761 % 4294967296 % 2 + 1) * 12 AS fps
        |  FROM documents
        |), clips AS (
        |  SELECT doc_id AS id, doc_id AS seed, w, h, nf, fps FROM vm
        |  UNION ALL
        |  SELECT doc_id + 10000000, doc_id, w, h, nf, 36 - fps FROM vm
        |  WHERE doc_id % 67 = 0
        |), fy AS (
        |  SELECT id, f,
        |    SUM((seed + (f * 3 * w * h + i) * 2654435761) % 256) AS y
        |  FROM (SELECT id, seed, w, h, f,
        |          unnest(generate_series(0, CAST(w * h - 1 AS BIGINT))) AS i
        |        FROM (SELECT id, seed, w, h,
        |                unnest(generate_series(0, CAST(nf - 1 AS BIGINT))) AS f
        |              FROM clips))
        |  GROUP BY 1, 2
        |), vec AS (
        |  SELECT id, list(y ORDER BY f) AS vl, COUNT(*) AS nwin
        |  FROM fy GROUP BY 1
        |), fv AS (
        |  SELECT v.id, c.w, c.h, c.fps, v.vl, v.nwin
        |  FROM vec v JOIN clips c ON c.id = v.id
        |), grp AS (
        |  SELECT w, h, fps, vl, nwin, MIN(id) AS id
        |  FROM fv GROUP BY 1, 2, 3, 4, 5
        |), sigb AS (
        |  SELECT id, k,
        |    CASE WHEN len(vl) > k + 1 AND vl[k + 2] > vl[k + 1]
        |      THEN (1::BIGINT << k) ELSE 0 END AS b
        |  FROM grp, (SELECT unnest(generate_series(0, 7)) AS k)
        |), sg AS (
        |  SELECT id, CAST(SUM(b) AS BIGINT) AS sig FROM sigb GROUP BY 1
        |), reps AS (
        |  SELECT g.id, g.w, g.h, g.vl, g.nwin, s.sig
        |  FROM grp g JOIN sg s USING (id)
        |), bsz AS (
        |  SELECT sig, nwin, COUNT(*) AS mm FROM reps GROUP BY 1, 2
        |)
        |SELECT a.id AS a_id, b.id AS b_id, CAST(a.nwin AS BIGINT) AS n_frames,
        |  (SELECT COUNT(*) FROM bsz WHERE mm > 256) AS n_capped_buckets
        |FROM reps a
        |JOIN reps b ON a.sig = b.sig AND a.nwin = b.nwin AND a.id < b.id
        |  AND a.w = b.w AND a.h = b.h AND a.vl = b.vl
        |JOIN bsz s ON s.sig = a.sig AND s.nwin = a.nwin
        |  AND s.mm BETWEEN 2 AND 256
        |ORDER BY a_id, b_id""".stripMargin,

    // Perceptual video replay: frame-sum vectors from the generative
    // formula for corpus clips; the 2× NN-upscaled re-renders replay
    // through the resize rule itself — each source pixel is counted
    // 2·2 times, so the plant's frame sum is exactly 4× the source's
    // at 2×-doubled dims. Content groups key (dims, vector) — fps
    // excluded, matching the engine — and pairs survive the exact
    // cross-multiplied normalized-mean equality
    // a_vl[f]·(b_w·b_h) = b_vl[f]·(a_w·a_h), replayed as the VECTOR
    // arithmetic (never a doc_id congruence — complete-cycle clips
    // with w·h ≡ 0 mod 256 genuinely match across dims; the
    // decon_media_av lesson).
    "dedup_video_percep" ->
      """WITH vm AS (
        |  SELECT doc_id,
        |    (doc_id + 6) * 2654435761 % 4294967296 % 32 + 16 AS w,
        |    (doc_id + 7) * 2654435761 % 4294967296 % 32 + 16 AS h,
        |    (doc_id + 8) * 2654435761 % 4294967296 % 8 + 2 AS nf
        |  FROM documents
        |), clips AS (
        |  SELECT doc_id AS id, doc_id AS seed, w, h, w AS bw, h AS bh,
        |    nf, 1 AS mult
        |  FROM vm
        |  UNION ALL
        |  SELECT doc_id + 10000000, doc_id, 2 * w, 2 * h, w, h, nf, 4
        |  FROM vm WHERE doc_id % 71 = 0
        |), fy AS (
        |  SELECT id, f,
        |    mult * SUM((seed + (f * 3 * bw * bh + i) * 2654435761) % 256) AS y
        |  FROM (SELECT id, seed, bw, bh, mult, f,
        |          unnest(generate_series(0, CAST(bw * bh - 1 AS BIGINT))) AS i
        |        FROM (SELECT id, seed, bw, bh, mult,
        |                unnest(generate_series(0, CAST(nf - 1 AS BIGINT))) AS f
        |              FROM clips))
        |  GROUP BY id, f, mult
        |), vec AS (
        |  SELECT id, list(y ORDER BY f) AS vl, COUNT(*) AS nwin
        |  FROM fy GROUP BY 1
        |), fv AS (
        |  SELECT v.id, c.w, c.h, v.vl, v.nwin
        |  FROM vec v JOIN clips c ON c.id = v.id
        |), grp AS (
        |  SELECT w, h, vl, nwin, MIN(id) AS id FROM fv GROUP BY 1, 2, 3, 4
        |), sigb AS (
        |  SELECT id, k,
        |    CASE WHEN len(vl) > k + 1 AND vl[k + 2] > vl[k + 1]
        |      THEN (1::BIGINT << k) ELSE 0 END AS b
        |  FROM grp, (SELECT unnest(generate_series(0, 7)) AS k)
        |), sg AS (
        |  SELECT id, CAST(SUM(b) AS BIGINT) AS sig FROM sigb GROUP BY 1
        |), reps AS (
        |  SELECT g.id, g.w, g.h, g.vl, g.nwin, s.sig
        |  FROM grp g JOIN sg s USING (id)
        |), bsz AS (
        |  SELECT sig, nwin, COUNT(*) AS mm FROM reps GROUP BY 1, 2
        |)
        |SELECT a.id AS a_id, b.id AS b_id, CAST(a.nwin AS BIGINT) AS n_frames,
        |  (SELECT COUNT(*) FROM bsz WHERE mm > 256) AS n_capped_buckets
        |FROM reps a
        |JOIN reps b ON a.sig = b.sig AND a.nwin = b.nwin AND a.id < b.id
        |  AND list_transform(a.vl, x -> x * b.w * b.h)
        |    = list_transform(b.vl, x -> x * a.w * a.h)
        |JOIN bsz s ON s.sig = a.sig AND s.nwin = a.nwin
        |  AND s.mm BETWEEN 2 AND 256
        |ORDER BY a_id, b_id""".stripMargin,

    // Perceptual audio replay: time-normalized energy envelopes from
    // the generative sample formula — window = 64·(rate/8000) frames
    // (equal time spans at every rate); the 2× NN resamples replay
    // through the resample rule itself (source frame = output frame
    // // 2, doubled rate and frame count). Groups key (rate,
    // envelope); pairs survive the exact cross-multiplied equality
    // a_wl[t]·b_rate = b_wl[t]·a_rate.
    "dedup_audio_percep" ->
      """WITH am AS (
        |  SELECT doc_id,
        |    (doc_id + 3) * 2654435761 % 4294967296 % 2048 + 256 AS frames,
        |    (doc_id + 4) * 2654435761 % 4294967296 % 2 + 1 AS channels,
        |    ((doc_id + 5) * 2654435761 % 4294967296 % 2 + 1) * 8000 AS rate
        |  FROM documents
        |), clips AS (
        |  SELECT doc_id AS id, doc_id AS seed, frames, channels, rate,
        |    1 AS dup
        |  FROM am
        |  UNION ALL
        |  SELECT doc_id + 10000000, doc_id, 2 * frames, channels, 2 * rate, 2
        |  FROM am WHERE doc_id % 83 = 0
        |), samp AS (
        |  SELECT id, seed, channels, rate, dup,
        |    unnest(generate_series(0, CAST(frames * channels - 1 AS BIGINT))) AS k
        |  FROM clips
        |), win AS (
        |  SELECT id, CAST((k // channels) // (64 * (rate // 8000)) AS INTEGER)
        |      AS win,
        |    SUM(abs((seed + (((k // channels) // dup) * channels + k % channels)
        |      * 2654435761) % 65536 - 32768)) AS sa
        |  FROM samp GROUP BY 1, 2
        |), vec AS (
        |  SELECT id, list(sa ORDER BY win) AS wl, COUNT(*) AS nwin
        |  FROM win GROUP BY 1
        |), fv AS (
        |  SELECT v.id, c.rate, v.wl, v.nwin
        |  FROM vec v JOIN clips c ON c.id = v.id
        |), grp AS (
        |  SELECT rate, wl, nwin, MIN(id) AS id FROM fv GROUP BY 1, 2, 3
        |), sigb AS (
        |  SELECT id, k,
        |    CASE WHEN len(wl) > k + 1 AND wl[k + 2] > wl[k + 1]
        |      THEN (1::BIGINT << k) ELSE 0 END AS b
        |  FROM grp, (SELECT unnest(generate_series(0, 34)) AS k)
        |), sg AS (
        |  SELECT id, CAST(SUM(b) AS BIGINT) AS sig FROM sigb GROUP BY 1
        |), reps AS (
        |  SELECT g.id, g.rate, g.wl, g.nwin, s.sig
        |  FROM grp g JOIN sg s USING (id)
        |), bsz AS (
        |  SELECT sig, nwin, COUNT(*) AS mm FROM reps GROUP BY 1, 2
        |)
        |SELECT a.id AS a_id, b.id AS b_id, CAST(a.nwin AS BIGINT) AS n_windows,
        |  (SELECT COUNT(*) FROM bsz WHERE mm > 256) AS n_capped_buckets
        |FROM reps a
        |JOIN reps b ON a.sig = b.sig AND a.nwin = b.nwin AND a.id < b.id
        |  AND list_transform(a.wl, x -> x * b.rate)
        |    = list_transform(b.wl, x -> x * a.rate)
        |JOIN bsz s ON s.sig = a.sig AND s.nwin = a.nwin
        |  AND s.mm BETWEEN 2 AND 256
        |ORDER BY a_id, b_id""".stripMargin,

    // Media decontamination replay: see deconMediaCore — exact tier by
    // the generative byte-equality rule, near tier by rotation-matched
    // histograms, priority exact > near per document.
    "decon_media" ->
      s"""$deconMediaCore
         |SELECT doc_id,
         |  CASE WHEN pri = 2 THEN 'exact' ELSE 'near' END AS match_kind
         |FROM matches ORDER BY doc_id""".stripMargin,

    "decon_media_apply" ->
      s"""$deconMediaCore
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM matches)
         |ORDER BY doc_id""".stripMargin,

    // Audio/video decon replay: the CONTENT tiers replay the engine's
    // true rule — decoded vector equality (every asset's decoded
    // vector equals its source doc's corpus vector: re-encoding keeps
    // the PCM / frame bytes) — NOT a doc_id congruence: fixture videos
    // whose w·h ≡ 0 (mod 256) fold to id-INDEPENDENT luma sums
    // (complete mod-256 residue cycles), so the lossy-fold tier
    // genuinely matches them across congruence classes (safe-direction
    // over-removal, the Bloom-decon FP precedent; such clips are also
    // exactly the luma-static ones the quality gate rejects). The
    // EXACT tiers stay congruences: payload equality is ≡ mod 65536
    // (audio) / ≡ mod 256 (video, fps hash divides it), and only the
    // exact-slice assets can payload-match (the re-encodes carry a
    // rate/fps no corpus doc has).
    "decon_media_av" ->
      """WITH aw AS (
        |  SELECT doc_id, list(sa ORDER BY win) AS wl FROM (
        |    SELECT doc_id, CAST((k // channels) // 64 AS INTEGER) AS win,
        |      SUM(abs((doc_id + k * 2654435761) % 65536 - 32768)) AS sa
        |    FROM (SELECT doc_id, channels,
        |            unnest(generate_series(0,
        |              CAST(frames * channels - 1 AS BIGINT))) AS k
        |          FROM (SELECT doc_id,
        |                  (doc_id + 3) * 2654435761 % 4294967296 % 2048 + 256
        |                    AS frames,
        |                  (doc_id + 4) * 2654435761 % 4294967296 % 2 + 1
        |                    AS channels
        |                FROM documents))
        |    GROUP BY 1, 2)
        |  GROUP BY 1
        |), fyv AS (
        |  SELECT doc_id, list(y ORDER BY f) AS vl FROM (
        |    SELECT doc_id, f,
        |      SUM((doc_id + (f * 3 * w * h + i) * 2654435761) % 256) AS y
        |    FROM (SELECT doc_id, w, h, f,
        |            unnest(generate_series(0, CAST(w * h - 1 AS BIGINT))) AS i
        |          FROM (SELECT doc_id, w, h,
        |                  unnest(generate_series(0, CAST(nf - 1 AS BIGINT)))
        |                    AS f
        |                FROM (SELECT doc_id,
        |                        (doc_id + 6) * 2654435761 % 4294967296 % 32 + 16
        |                          AS w,
        |                        (doc_id + 7) * 2654435761 % 4294967296 % 32 + 16
        |                          AS h,
        |                        (doc_id + 8) * 2654435761 % 4294967296 % 8 + 2
        |                          AS nf
        |                      FROM documents)))
        |    GROUP BY 1, 2)
        |  GROUP BY 1
        |), amatch AS (
        |  SELECT d.doc_id,
        |    MAX(CASE WHEN a.s % 97 = 31 AND d.doc_id % 65536 = a.s % 65536
        |        THEN 2 ELSE 1 END) AS pri
        |  FROM aw d
        |  JOIN (SELECT w.doc_id AS s, w.wl FROM aw w
        |        WHERE w.doc_id < 2000
        |          AND (w.doc_id % 97 = 31 OR w.doc_id % 97 = 47)) a
        |    ON d.wl = a.wl
        |  GROUP BY 1
        |), vmatch AS (
        |  SELECT d.doc_id,
        |    MAX(CASE WHEN v.s % 97 = 59 AND d.doc_id % 256 = v.s % 256
        |        THEN 2 ELSE 1 END) AS pri
        |  FROM fyv d
        |  JOIN (SELECT f.doc_id AS s, f.vl FROM fyv f
        |        WHERE f.doc_id < 2000
        |          AND (f.doc_id % 97 = 59 OR f.doc_id % 97 = 73)) v
        |    ON d.vl = v.vl
        |  GROUP BY 1
        |)
        |SELECT doc_id, modality,
        |  CASE WHEN pri = 2 THEN 'exact' ELSE 'content' END AS match_kind
        |FROM (
        |  SELECT doc_id, 'audio' AS modality, pri FROM amatch
        |  UNION ALL
        |  SELECT doc_id, 'video' AS modality, pri FROM vmatch)
        |ORDER BY doc_id, modality""".stripMargin,

    // Multimodal pack replay: the same prefix-sum packing as
    // train_pack, with the per-doc cost = text tokens + image patches
    // (ceil-div on the metadata-formula dims — identical to the
    // decoded dims by the hash-verified decode equivalence) + audio
    // windows + sampled video frames.
    "train_pack_multimodal" ->
      """WITH im AS (
        |  SELECT doc_id,
        |    (doc_id + 0) * 2654435761 % 4294967296 % 64 + 32 AS w,
        |    (doc_id + 1) * 2654435761 % 4294967296 % 64 + 32 AS h
        |  FROM documents
        |), au AS (
        |  SELECT doc_id,
        |    (doc_id + 3) * 2654435761 % 4294967296 % 2048 + 256 AS frames
        |  FROM documents
        |), vm AS (
        |  SELECT doc_id,
        |    (doc_id + 8) * 2654435761 % 4294967296 % 8 + 2 AS nf
        |  FROM documents
        |), t AS (
        |  SELECT d.doc_id,
        |    CAST(len(string_split(d.text, ' '))
        |      + ((im.w + 15) // 16) * ((im.h + 15) // 16)
        |      + (au.frames + 255) // 256
        |      + (vm.nf + 1) // 2 AS BIGINT) AS n_tokens,
        |    d.doc_id % 8 AS shard,
        |    (d.doc_id * 40503) % 65521 AS sk
        |  FROM documents d
        |  JOIN im USING (doc_id) JOIN au USING (doc_id) JOIN vm USING (doc_id)
        |), o AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
        |      ORDER BY sk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS token_offset
        |  FROM t
        |)
        |SELECT doc_id, shard,
        |  token_offset // 768 AS bin,
        |  n_tokens, token_offset
        |FROM o ORDER BY doc_id""".stripMargin,

    // Tri-modal dataset-card replay: image pixel volume from the
    // metadata formula, audio duration/peak and video frame/luma
    // volumes from the full generative sample/byte replays, joined per
    // doc exactly as the Spark side joins the three decode stages.
    "mm_multimodal_profile" ->
      """WITH au AS (
        |  SELECT doc_id,
        |    (doc_id + 3) * 2654435761 % 4294967296 % 2048 + 256 AS frames,
        |    (doc_id + 4) * 2654435761 % 4294967296 % 2 + 1 AS channels,
        |    ((doc_id + 5) * 2654435761 % 4294967296 % 2 + 1) * 8000 AS rate
        |  FROM documents
        |), ap AS (
        |  SELECT doc_id, frames * 1000 // rate AS audio_ms,
        |    MAX(abs((doc_id + k * 2654435761) % 65536 - 32768)) AS apeak
        |  FROM (SELECT doc_id, frames, rate,
        |          unnest(generate_series(0, CAST(frames * channels - 1 AS BIGINT))) AS k
        |        FROM au) GROUP BY 1, 2
        |), vm AS (
        |  SELECT doc_id,
        |    (doc_id + 6) * 2654435761 % 4294967296 % 32 + 16 AS w,
        |    (doc_id + 7) * 2654435761 % 4294967296 % 32 + 16 AS h,
        |    (doc_id + 8) * 2654435761 % 4294967296 % 8 + 2 AS nf
        |  FROM documents
        |), vv AS (
        |  SELECT doc_id, nf,
        |    SUM(CASE WHEN (j % (w * h * 3)) // (w * h) = 0
        |        THEN (doc_id + j * 2654435761) % 256 ELSE 0 END) AS vy
        |  FROM (SELECT doc_id, w, h, nf,
        |          unnest(generate_series(0, CAST(nf * w * h * 3 - 1 AS BIGINT))) AS j
        |        FROM vm) GROUP BY 1, 2
        |), im AS (
        |  SELECT doc_id,
        |    ((doc_id + 0) * 2654435761 % 4294967296 % 64 + 32)
        |    * ((doc_id + 1) * 2654435761 % 4294967296 % 64 + 32) AS px
        |  FROM documents
        |)
        |SELECT d.lang, COUNT(*) AS n_docs,
        |  CAST(SUM(im.px) AS BIGINT) AS px_total,
        |  CAST(SUM(ap.audio_ms) AS BIGINT) AS audio_ms_total,
        |  CAST(MAX(ap.apeak) AS BIGINT) AS audio_peak_max,
        |  CAST(SUM(vv.nf) AS BIGINT) AS video_frames_total,
        |  CAST(SUM(vv.vy) AS BIGINT) AS video_y_total
        |FROM documents d
        |JOIN im USING (doc_id) JOIN ap USING (doc_id) JOIN vv USING (doc_id)
        |GROUP BY 1 ORDER BY lang""".stripMargin,

    // Windowed audio feature replay: |sample| from the generative
    // formula, window = (k div channels) div 256 — the identical
    // frame-window partition the kernel computes.
    "audio_window_stats" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    (doc_id + 3) * 2654435761 % 4294967296 % 2048 + 256 AS frames,
        |    (doc_id + 4) * 2654435761 % 4294967296 % 2 + 1 AS channels
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, channels,
        |    unnest(generate_series(0, CAST(frames * channels - 1 AS BIGINT))) AS k
        |  FROM m
        |), v AS (
        |  SELECT doc_id, CAST((k // channels) // 256 AS INTEGER) AS win,
        |    abs((doc_id + k * 2654435761) % 65536 - 32768) AS a
        |  FROM s
        |)
        |SELECT doc_id, win,
        |  CAST(MAX(a) AS BIGINT) AS peak,
        |  CAST(SUM(a) AS BIGINT) AS sum_abs
        |FROM v GROUP BY 1, 2 ORDER BY doc_id, win""".stripMargin,

    // The REAL Y4M decode, hash-verified like the image and audio
    // kernels: the oracle replays the GENERATIVE byte formula (stream
    // plane byte j = (doc_id + j·2654435761) mod 256 over nf·3wh bytes,
    // plane = (j mod 3wh) div wh — Multimodal.withFakeVideo /
    // Y4mKernel.synth) while the Spark side recovers the same numbers
    // by PARSING the Y4M parameter line and frame markers. All-integer
    // arithmetic; DuckDB SUM→HUGEINT cast back to BIGINT per the house
    // discipline.
    "video_decode_stats" -> {
      val bins = (0 until 16).map(i =>
        f"  CAST(SUM(CASE WHEN plane = 0 AND val // 16 = $i THEN 1 ELSE 0 END) AS BIGINT) AS h$i%02d")
        .mkString(",\n")
      s"""WITH m AS (
         |  SELECT doc_id,
         |    (doc_id + 6) * 2654435761 % 4294967296 % 32 + 16 AS w,
         |    (doc_id + 7) * 2654435761 % 4294967296 % 32 + 16 AS h,
         |    (doc_id + 8) * 2654435761 % 4294967296 % 8 + 2 AS nf,
         |    ((doc_id + 9) * 2654435761 % 4294967296 % 2 + 1) * 12 AS fps
         |  FROM documents
         |), px AS (
         |  SELECT doc_id, w, h, nf, fps,
         |    unnest(generate_series(0, CAST(nf * w * h * 3 - 1 AS BIGINT))) AS j
         |  FROM m
         |), v AS (
         |  SELECT doc_id, w, h, nf, fps,
         |    (j % (w * h * 3)) // (w * h) AS plane,
         |    (doc_id + j * 2654435761) % 256 AS val
         |  FROM px
         |)
         |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         |  CAST(fps AS BIGINT) AS fps, CAST(nf AS BIGINT) AS n_frames,
         |  CAST(nf * 1000 // fps AS BIGINT) AS duration_ms,
         |  CAST(SUM(CASE WHEN plane = 0 THEN val ELSE 0 END) AS BIGINT) AS y_sum,
         |  CAST(SUM(CASE WHEN plane = 1 THEN val ELSE 0 END) AS BIGINT) AS u_sum,
         |  CAST(SUM(CASE WHEN plane = 2 THEN val ELSE 0 END) AS BIGINT) AS v_sum,
         |  CAST(MAX(CASE WHEN plane = 0 THEN val ELSE 0 END) AS BIGINT) AS y_peak,
         |$bins
         |FROM v GROUP BY 1, 2, 3, 4, 5, 6 ORDER BY doc_id""".stripMargin
    },

    // Shot-cut replay: per-frame luma sums from the generative formula,
    // deltas via LAG, the identical integer per-pixel threshold.
    "video_shot_cuts" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    (doc_id + 6) * 2654435761 % 4294967296 % 32 + 16 AS w,
        |    (doc_id + 7) * 2654435761 % 4294967296 % 32 + 16 AS h,
        |    (doc_id + 8) * 2654435761 % 4294967296 % 8 + 2 AS nf
        |  FROM documents
        |), fr AS (
        |  SELECT doc_id, w, h,
        |    unnest(generate_series(0, CAST(nf - 1 AS BIGINT))) AS f
        |  FROM m
        |), px AS (
        |  SELECT doc_id, w, h, f,
        |    unnest(generate_series(0, CAST(w * h - 1 AS BIGINT))) AS i
        |  FROM fr
        |), ys AS (
        |  SELECT doc_id, w, h, f,
        |    SUM((doc_id + (f * 3 * w * h + i) * 2654435761) % 256) AS y
        |  FROM px GROUP BY 1, 2, 3, 4
        |), d AS (
        |  SELECT doc_id, f, w * h AS wh,
        |    y - LAG(y) OVER (PARTITION BY doc_id ORDER BY f) AS delta
        |  FROM ys
        |)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame,
        |  CAST(delta AS BIGINT) AS y_delta,
        |  CAST(CASE WHEN abs(delta) >= 8 * wh THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_cut
        |FROM d WHERE delta IS NOT NULL ORDER BY doc_id, frame""".stripMargin,

    // Image-similarity replay: the 16 decoded histogram bins as
    // columns (generative-formula counts), exact integer dot products
    // and norms per (query, candidate) pair, one double division +
    // round(6) at the end — the same arithmetic order as the Spark
    // side, so the hash match certifies decoded-feature search end to
    // end.
    "mm_hist_neighbors" -> {
      val bcols = (0 until 16).map(i =>
        s"    CAST(SUM(CASE WHEN val // 16 = $i THEN 1 ELSE 0 END) AS BIGINT) AS b$i")
        .mkString(",\n")
      val prods = (0 until 16).map(i => s"q.b$i * n.b$i").mkString(" + ")
      val nq = (0 until 16).map(i => s"q.b$i * q.b$i").mkString(" + ")
      val nn = (0 until 16).map(i => s"n.b$i * n.b$i").mkString(" + ")
      s"""WITH m AS (
         |  SELECT doc_id,
         |    (doc_id + 0) * 2654435761 % 4294967296 % 64 + 32 AS w,
         |    (doc_id + 1) * 2654435761 % 4294967296 % 64 + 32 AS h
         |  FROM documents
         |), px AS (
         |  SELECT doc_id,
         |    unnest(generate_series(0, CAST(w * h * 3 - 1 AS BIGINT))) AS k
         |  FROM m
         |), v AS (
         |  SELECT doc_id, (doc_id + k * 2654435761) % 256 AS val FROM px
         |), hb AS (
         |  SELECT doc_id,
         |$bcols
         |  FROM v GROUP BY 1
         |), pairs AS (
         |  SELECT q.doc_id AS q_id, n.doc_id AS n_id,
         |    $prods AS num,
         |    $nq AS na,
         |    $nn AS nb
         |  FROM hb q JOIN hb n ON n.doc_id <> q.doc_id
         |  WHERE q.doc_id < 10
         |), scored AS (
         |  SELECT q_id, n_id,
         |    round(CASE WHEN na = 0 OR nb = 0 THEN CAST(0 AS DOUBLE)
         |      ELSE CAST(num AS DOUBLE)
         |           / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
         |      END, 6) AS cos
         |  FROM pairs
         |), ranked AS (
         |  SELECT q_id, n_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, n_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, n_id, cos
         |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    },

    // Decoded frame sampling replay: frame f's luma plane spans stream
    // bytes f·3wh .. f·3wh + wh − 1 of the generative formula; every
    // 2nd frame is sampled, matching videoFrameSample(every = 2).
    "video_frame_stats" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    (doc_id + 6) * 2654435761 % 4294967296 % 32 + 16 AS w,
        |    (doc_id + 7) * 2654435761 % 4294967296 % 32 + 16 AS h,
        |    (doc_id + 8) * 2654435761 % 4294967296 % 8 + 2 AS nf
        |  FROM documents
        |), fr AS (
        |  SELECT doc_id, w, h,
        |    unnest(generate_series(0, CAST(nf - 1 AS BIGINT))) AS f
        |  FROM m
        |), px AS (
        |  SELECT doc_id, f,
        |    unnest(generate_series(0, CAST(w * h - 1 AS BIGINT))) AS i,
        |    f * 3 * w * h AS base
        |  FROM fr WHERE f % 2 = 0
        |)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame,
        |  CAST(SUM((doc_id + (base + i) * 2654435761) % 256) AS BIGINT) AS y_sum
        |FROM px GROUP BY 1, 2 ORDER BY doc_id, frame""".stripMargin,

    // Multimodal metadata stages: the fake-media metadata is portable
    // integer arithmetic (see Multimodal.withFakeMedia), so the
    // metadata-only resize and the frame sampler are exactly
    // reproducible in SQL.
    "mm_resize_meta" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST((doc_id + 0) * 2654435761 % 4294967296 % 64 + 32 AS INTEGER) AS width,
        |    CAST((doc_id + 1) * 2654435761 % 4294967296 % 64 + 32 AS INTEGER) AS height
        |  FROM documents
        |)
        |SELECT doc_id, width, height,
        |  CAST(ceil(width * least(1.0, 48 / greatest(width, height))) AS INTEGER) AS out_width,
        |  CAST(ceil(height * least(1.0, 48 / greatest(width, height))) AS INTEGER) AS out_height
        |FROM m ORDER BY doc_id""".stripMargin,

    // total = the P6 payload length: 13-byte header (2-digit dims) +
    // w·h·3 raster bytes.
    "mm_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(13 + ((doc_id + 0) * 2654435761 % 4294967296 % 64 + 32)
        |             * ((doc_id + 1) * 2654435761 % 4294967296 % 64 + 32)
        |             * 3 AS INTEGER) AS total,
        |    CAST((doc_id + 2) * 2654435761 % 4294967296 % 8 + 1 AS INTEGER) AS nFrames
        |  FROM documents
        |), frames AS (
        |  SELECT doc_id, total, nFrames,
        |    CAST(unnest(generate_series(0, nFrames - 1)) AS INTEGER) AS frame,
        |    greatest(total // nFrames, 1) AS slice_len
        |  FROM m
        |)
        |SELECT doc_id, frame,
        |  CAST(greatest(least(slice_len, total - (frame * slice_len + 1) + 1), 0)
        |       AS INTEGER) AS frame_len
        |FROM frames WHERE frame % 2 = 0
        |ORDER BY doc_id, frame""".stripMargin,

    // Exact all-pairs top-K Jaccard (feasible at oracle scale). The
    // Spark side goes through LSH candidates; it matches the exact
    // answer because the top-K head (j ≥ 0.9 here) collides in the r=4
    // banding with p ≈ 1 — this oracle is precisely the recall claim.
    // Same shingling (w=3, distinct), same (double) inter/union math,
    // same tie-break.
    "dedup_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS s
        |  FROM documents
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |)
        |SELECT a_id, b_id, jaccard FROM pairs
        |ORDER BY jaccard DESC, a_id, b_id LIMIT 25""".stripMargin,

    // Exact all-pairs containment (feasible at oracle scale); the
    // Spark side goes through the df-capped posting join, which finds
    // the containment head with certainty — a contained document
    // shares ALL its rare shingles with its container. Same 5-gram
    // shingling, same min-denominator, same tie-break.
    "dedup_containment" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' ')) - 4, 1)),
        |    i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS s
        |  FROM documents
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_inter,
        |    CAST(len(a.s) AS BIGINT) AS n_a, CAST(len(b.s) AS BIGINT) AS n_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |)
        |SELECT a_id, b_id, n_inter, n_a, n_b,
        |  CAST(n_inter AS DOUBLE) / least(n_a, n_b) AS containment
        |FROM pairs
        |ORDER BY containment DESC, a_id, b_id LIMIT 25""".stripMargin,

    // Removal form replayed on the exact all-pairs table: identical
    // ≥ 0.9 threshold, identical loser rule (smaller set; tie →
    // larger id), survivors anti-joined.
    "dedup_apply_containment" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' ')) - 4, 1)),
        |    i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS s
        |  FROM documents
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    len(list_intersect(a.s, b.s)) AS n_inter,
        |    len(a.s) AS n_a, len(b.s) AS n_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |), losers AS (
        |  SELECT DISTINCT CASE WHEN n_a < n_b THEN a_id
        |                       WHEN n_b < n_a THEN b_id
        |                       ELSE greatest(a_id, b_id) END AS doc_id
        |  FROM pairs
        |  WHERE CAST(n_inter AS DOUBLE) / least(n_a, n_b) >= 0.9
        |)
        |SELECT d.doc_id, d.n_chars FROM documents d
        |LEFT JOIN losers l USING (doc_id)
        |WHERE l.doc_id IS NULL
        |ORDER BY d.doc_id""".stripMargin,

    // Incremental containment replayed exactly: all (batch, corpus)
    // pairs at the same threshold. The Spark side discovers candidates
    // through the stored df-capped shingle map; it matches the exact
    // answer because a ≥0.5-containment pair shares at least half the
    // smaller side's shingles, whose corpus-df on this fixture stays
    // under the cap (the documented dfCap semantics).
    "dedup_containment_incr" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' ')) - 4, 1)),
        |    i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS s
        |  FROM documents
        |), pairs AS (
        |  SELECT b.doc_id AS new_id, c.doc_id AS corpus_id,
        |    CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) /
        |      least(len(b.s), len(c.s)) AS containment
        |  FROM sh b JOIN sh c ON b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
        |)
        |SELECT new_id, corpus_id, containment FROM pairs
        |WHERE containment >= 0.5
        |ORDER BY new_id, corpus_id""".stripMargin,

    // Language-ID argmax: Spark's array_max over struct(score, lang)
    // breaks ties toward the lexicographically LAST lang, so the CASE
    // tests langs in descending lex order with >= comparisons.
    "text_langid" ->
      """WITH scored AS (
        |  SELECT lang,
        |    len(list_intersect(string_split(text, ' '), ['der','die','und','das'])) AS s_de,
        |    len(list_intersect(string_split(text, ' '), ['the','and','of','is'])) AS s_en,
        |    len(list_intersect(string_split(text, ' '), ['el','la','de','que'])) AS s_es,
        |    len(list_intersect(string_split(text, ' '), ['le','la','et','les'])) AS s_fr,
        |    len(list_intersect(string_split(text, ' '), ['的','是','了','在'])) AS s_zh
        |  FROM documents
        |), pred AS (
        |  SELECT lang,
        |    CASE
        |      WHEN s_zh >= s_fr AND s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de THEN 'zh'
        |      WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
        |      WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
        |      WHEN s_en >= s_de THEN 'en'
        |      ELSE 'de' END AS pred_lang
        |  FROM scored
        |)
        |SELECT lang, pred_lang, COUNT(*) AS n FROM pred
        |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin,

    "dedup_exact" ->
      """SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_doc_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY text
        |ORDER BY keep_doc_id""".stripMargin,

    "text_token_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens
        |FROM documents GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "text_quality" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  length(text) AS n_chars_measured,
        |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS avg_token_len,
        |  CAST(len(list_intersect(string_split(text, ' '),
        |       ['the','a','of','and','to','in','is','on'])) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS stopword_ratio
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // Per-doc token/bigram modes via unnest+GROUP BY (SQL's natural
    // formulation; the Spark side stays row-local, but counts agree).
    // Thresholds mirror TextAnalysis.repetitionFeatures defaults.
    "text_repetition" ->
      """WITH s AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), tc AS (
        |  SELECT doc_id, tok, count(*) AS c
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM s) GROUP BY 1, 2
        |), td AS (
        |  SELECT doc_id, count(DISTINCT tok) AS nd, max(c) AS topc FROM tc GROUP BY 1
        |), bc AS (
        |  SELECT doc_id, bg, count(*) AS c
        |  FROM (SELECT doc_id, unnest(list_transform(
        |          generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i + 1])) AS bg
        |        FROM s) GROUP BY 1, 2
        |), bd AS (
        |  SELECT doc_id, max(c) AS topb FROM bc GROUP BY 1
        |)
        |SELECT s.doc_id,
        |  len(t) AS n_tokens,
        |  CAST(td.nd AS DOUBLE) / len(t) AS distinct_token_ratio,
        |  td.topc AS top_token_count,
        |  CAST(td.topc AS DOUBLE) / len(t) AS top_token_fraction,
        |  coalesce(bd.topb, 0) AS top_bigram_count,
        |  CASE WHEN len(t) > 1
        |       THEN CAST(bd.topb AS DOUBLE) / (len(t) - 1) ELSE 0.0 END
        |    AS top_bigram_fraction,
        |  CAST(CAST(td.nd AS DOUBLE) / len(t) >= 0.40
        |   AND CAST(td.topc AS DOUBLE) / len(t) <= 0.12
        |   AND (len(t) = 1 OR CAST(bd.topb AS DOUBLE) / (len(t) - 1) <= 0.08)
        |   AS INTEGER) AS repetition_pass
        |FROM s JOIN td USING (doc_id) LEFT JOIN bd USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // DuckDB regexp_replace needs the 'g' flag to match Spark's
    // replace-all semantics; patterns are in the shared RE2/Java subset.
    "text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(
        |      lower(regexp_replace(
        |        regexp_replace(text,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
        |        '[0-9]{6,}', '<num>', 'g')),
        |      '[.,!?;:]', '', 'g'),
        |    '\s+', ' ', 'g')) AS norm_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // The markup shell is built from the same literals, then stripped
    // by DuckDB's own RE2 regexp_replace — an independent
    // implementation of the extraction chain, not an inversion of the
    // construction. Entity decode order matters (&amp; last) and is
    // part of the replayed semantics.
    "text_extract_markup" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    '<html><head><title>' || source || '</title><style>p{margin:0}</style><script type="text/javascript">var id='
        |    || CAST(doc_id AS VARCHAR) || ';</script></head><body><h1>' || source || '</h1><p>'
        |    || replace(text, '. ', '.</p><p>') || '</p><!-- id:' || CAST(doc_id AS VARCHAR)
        |    || ' --><div class="nav">Home &amp; About &gt; Contact</div></body></html>' AS h
        |  FROM documents
        |), ext AS (
        |  SELECT doc_id, CAST(length(h) AS BIGINT) AS n_raw_chars,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(h, '<script[^>]*>.*?</script>', ' ', 'gs'),
        |              '<style[^>]*>.*?</style>', ' ', 'gs'),
        |            '<!--.*?-->', ' ', 'gs'),
        |          '<[^>]*>', ' ', 'g'),
        |        '&nbsp;', ' '), '&quot;', '"'), '&gt;', '>'), '&lt;', '<'), '&amp;', '&'),
        |      '\s+', ' ', 'g')) AS text_plain
        |  FROM raw
        |)
        |SELECT doc_id, n_raw_chars, text_plain,
        |  CAST(length(text_plain) AS BIGINT) AS n_plain_chars
        |FROM ext ORDER BY doc_id""".stripMargin,

    // The md5 token-4-gram min replayed exactly (winnowing-style min
    // selection; short docs hash whole text). Lexicographic min over
    // lowercase hex agrees across engines.
    "text_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(1, CAST(len(toks) AS BIGINT) - 3)) AS pos
        |  FROM t WHERE len(toks) >= 4
        |), gm AS (
        |  SELECT doc_id, MIN(md5(array_to_string(toks[pos:pos+3], ' '))) AS fp
        |  FROM g GROUP BY doc_id
        |)
        |SELECT t.doc_id, COALESCE(gm.fp, md5(t.text)) AS fingerprint
        |FROM t LEFT JOIN gm USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Winnowing selection replayed gram-for-gram: same md5 5-gram
    // hashes, same (h ASC, pos DESC) robust-winnowing rank, same
    // w=4 window minima over positions <= greatest(1, n-3).
    "dedup_winnow_stats" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
        |), gr AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(1, CAST(len(toks) AS BIGINT) - 4)) AS pos
        |  FROM t WHERE len(toks) >= 5
        |), gh AS (
        |  SELECT doc_id, pos,
        |    md5(array_to_string(toks[pos:pos+4], ' ')) AS h
        |  FROM gr
        |), r AS (
        |  SELECT doc_id, pos, h,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h ASC, pos DESC)
        |      AS ord,
        |    COUNT(*) OVER (PARTITION BY doc_id) AS n
        |  FROM gh
        |), wm AS (
        |  SELECT doc_id, pos, n,
        |    MIN(ord) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |  FROM r
        |), sel AS (
        |  SELECT DISTINCT doc_id, wmin FROM wm WHERE pos <= GREATEST(1, n - 3)
        |), cnt AS (
        |  SELECT doc_id, COUNT(*) AS n_fp FROM sel GROUP BY doc_id
        |)
        |SELECT t.doc_id,
        |  GREATEST(CAST(len(t.toks) AS BIGINT) - 4, 0) AS n_grams,
        |  CAST(COALESCE(c.n_fp, 0) AS BIGINT) AS n_fp,
        |  round(CAST(COALESCE(c.n_fp, 0) AS DOUBLE)
        |    / CAST(GREATEST(CAST(len(t.toks) AS BIGINT) - 4, 1) AS DOUBLE), 6)
        |    AS fp_density
        |FROM t LEFT JOIN cnt c USING (doc_id) ORDER BY doc_id""".stripMargin,

    // The MOSS overlap pairs from the identical selection: distinct
    // (doc, fingerprint), 2..64 bucket cap, in-bucket a<b pairs, shared
    // counts, (n_shared DESC, a_id, b_id) top-25 boundary.
    "dedup_winnow_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), gr AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(1, CAST(len(toks) AS BIGINT) - 4)) AS pos
        |  FROM t WHERE len(toks) >= 5
        |), gh AS (
        |  SELECT doc_id, pos,
        |    md5(array_to_string(toks[pos:pos+4], ' ')) AS h
        |  FROM gr
        |), r AS (
        |  SELECT doc_id, pos, h,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h ASC, pos DESC)
        |      AS ord,
        |    COUNT(*) OVER (PARTITION BY doc_id) AS n
        |  FROM gh
        |), wm AS (
        |  SELECT doc_id, pos, n,
        |    MIN(ord) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |  FROM r
        |), sel AS (
        |  SELECT DISTINCT doc_id, wmin FROM wm WHERE pos <= GREATEST(1, n - 3)
        |), fp AS (
        |  SELECT DISTINCT r.doc_id, r.h
        |  FROM r JOIN sel ON r.doc_id = sel.doc_id AND r.ord = sel.wmin
        |), b AS (
        |  SELECT h FROM fp GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 64
        |), p AS (
        |  SELECT f1.doc_id AS a_id, f2.doc_id AS b_id
        |  FROM fp f1 JOIN fp f2 USING (h) JOIN b USING (h)
        |  WHERE f1.doc_id < f2.doc_id
        |)
        |SELECT a_id, b_id, COUNT(*) AS n_shared FROM p GROUP BY a_id, b_id
        |ORDER BY n_shared DESC, a_id, b_id LIMIT 25""".stripMargin,

    "doc_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (doc_id + 1) * 2654435761 % 4294967296 % 1000 <
        |  CASE lang WHEN 'en' THEN 200 WHEN 'es' THEN 100 WHEN 'zh' THEN 50
        |    ELSE 25 END
        |ORDER BY doc_id""".stripMargin,

    "doc_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), c AS (
        |  SELECT doc_id, toks,
        |    CAST(unnest(generate_series(0, (len(toks) + 47) // 48 - 1)) AS BIGINT)
        |      AS chunk_idx
        |  FROM t
        |)
        |SELECT doc_id, chunk_idx,
        |  array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
        |    AS chunk_text,
        |  CAST(len(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS INTEGER)
        |    AS n_chunk_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' ')) - 4, 1)),
        |    i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))) AS sh
        |  FROM documents
        |), bench AS (
        |  SELECT DISTINCT sh FROM sh WHERE doc_id % 10 = 0
        |)
        |SELECT s.doc_id, COUNT(*) AS n_overlap
        |FROM sh s JOIN bench b USING (sh)
        |WHERE s.doc_id % 10 <> 0
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    "embed_normalize" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        |)
        |SELECT vec_id,
        |  round(sqrt(list_inner_product(emb, emb)), 6) AS norm_before,
        |  round(emb[1] / sqrt(list_inner_product(emb, emb)), 6) AS c0_after
        |FROM e ORDER BY vec_id""".stripMargin,

    "corpus_prepare" ->
      """WITH quality AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE len(string_split(text, ' ')) >= 30
        |    AND CAST(len(list_intersect(string_split(text, ' '),
        |          ['the','a','of','and','to','in','is','on'])) AS DOUBLE)
        |        / len(string_split(text, ' ')) <= 0.5
        |), sampled AS (
        |  SELECT doc_id, lang,
        |    trim(regexp_replace(
        |      regexp_replace(
        |        lower(regexp_replace(
        |          regexp_replace(text,
        |            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
        |          '[0-9]{6,}', '<num>', 'g')),
        |        '[.,!?;:]', '', 'g'),
        |      '\s+', ' ', 'g')) AS text
        |  FROM quality
        |  WHERE (doc_id + 1) * 2654435761 % 4294967296 % 1000 < 500
        |), c AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM sampled
        |), chunks AS (
        |  SELECT lang, toks,
        |    CAST(unnest(generate_series(0, (len(toks) + 47) // 48 - 1)) AS BIGINT)
        |      AS chunk_idx
        |  FROM c
        |)
        |SELECT lang, COUNT(*) AS n_chunks,
        |  CAST(SUM(len(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64])) AS BIGINT)
        |    AS total_chunk_tokens
        |FROM chunks GROUP BY lang ORDER BY lang""".stripMargin,

    // Integer token counts keep the interpolated percentile exact in
    // both engines, so the threshold comparison is deterministic.
    "text_length_floor" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
        |), thr AS (
        |  SELECT quantile_cont(n_tokens, 0.25) AS q FROM t
        |)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM t, thr WHERE n_tokens >= q
        |ORDER BY doc_id""".stripMargin,

    // The funnel re-derives every stage flag independently: repetition
    // via unnest+GROUP BY modes (as in text_repetition), stopword ratio
    // via list_intersect, the sample via the shared hash-mod predicate.
    // Media gate replay: all six predicates re-derived from the
    // generative formulas for the corpus; the six constructed
    // arrivals' flags are analytic literals (their payloads are fixed
    // byte constructions — all-zero samples, rail samples, zero/
    // repeated planes, constant rasters).
    "mm_quality_gate" ->
      s"""$mediaGateFlagsCore
         |, allrows AS (
         |  SELECT doc_id, undecodable, audio_silent, audio_clipped,
         |    video_black, video_static, img_dark, img_bright
         |  FROM corpflags
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    (40000001, 0, 1, 0, 0, 0, 0, 0),
         |    (40000002, 0, 0, 1, 0, 0, 0, 0),
         |    (40000003, 0, 0, 0, 1, 1, 0, 0),
         |    (40000004, 0, 0, 0, 0, 1, 0, 0),
         |    (40000005, 0, 0, 0, 0, 0, 1, 0),
         |    (40000006, 0, 0, 0, 0, 0, 0, 1))
         |    v(doc_id, undecodable, audio_silent, audio_clipped, video_black,
         |      video_static, img_dark, img_bright)
         |)
         |SELECT doc_id,
         |  CAST(undecodable AS BIGINT) AS undecodable,
         |  CAST(audio_silent AS BIGINT) AS audio_silent,
         |  CAST(audio_clipped AS BIGINT) AS audio_clipped,
         |  CAST(video_black AS BIGINT) AS video_black,
         |  CAST(video_static AS BIGINT) AS video_static,
         |  CAST(img_dark AS BIGINT) AS img_dark,
         |  CAST(img_bright AS BIGINT) AS img_bright
         |FROM allrows
         |WHERE undecodable + audio_silent + audio_clipped + video_black
         |  + video_static + img_dark + img_bright > 0
         |ORDER BY doc_id""".stripMargin,

    "curate_funnel" ->
      s"""$mediaGateFlagsCore
        |, s AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), tc AS (
        |  SELECT doc_id, tok, count(*) AS c
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM s) GROUP BY 1, 2
        |), td AS (
        |  SELECT doc_id, count(DISTINCT tok) AS nd, max(c) AS topc FROM tc GROUP BY 1
        |), bc AS (
        |  SELECT doc_id, bg, count(*) AS c
        |  FROM (SELECT doc_id, unnest(list_transform(
        |          generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i + 1])) AS bg
        |        FROM s) GROUP BY 1, 2
        |), bd AS (
        |  SELECT doc_id, max(c) AS topb FROM bc GROUP BY 1
        |), f AS (
        |  SELECT s.doc_id, len(t) AS n_tokens,
        |    len(t) >= 30 AS k1,
        |    CAST(len(list_filter(t, x -> list_contains(
        |        ['the','a','of','and','to','in','is','on'], x))) AS DOUBLE)
        |      / len(t) <= 0.12 AS q2,
        |    (CAST(td.nd AS DOUBLE) / len(t) >= 0.40
        |      AND CAST(td.topc AS DOUBLE) / len(t) <= 0.12
        |      AND (len(t) = 1 OR CAST(bd.topb AS DOUBLE) / (len(t) - 1) <= 0.08))
        |      AS q3,
        |    (s.doc_id + 1) * 2654435761 % 4294967296 % 1000 < 500 AS q4,
        |    (cf.undecodable + cf.audio_silent + cf.audio_clipped = 0) AS q5,
        |    (cf.undecodable + cf.video_black + cf.video_static = 0) AS q6,
        |    (cf.undecodable + cf.img_dark + cf.img_bright = 0) AS q7
        |  FROM s JOIN td USING (doc_id) LEFT JOIN bd USING (doc_id)
        |    JOIN corpflags cf ON cf.doc_id = s.doc_id
        |), g AS (
        |  SELECT count(*) AS d0, SUM(n_tokens) AS t0,
        |    SUM(CASE WHEN k1 THEN 1 ELSE 0 END) AS d1,
        |    SUM(CASE WHEN k1 THEN n_tokens ELSE 0 END) AS t1,
        |    SUM(CASE WHEN k1 AND q2 THEN 1 ELSE 0 END) AS d2,
        |    SUM(CASE WHEN k1 AND q2 THEN n_tokens ELSE 0 END) AS t2,
        |    SUM(CASE WHEN k1 AND q2 AND q3 THEN 1 ELSE 0 END) AS d3,
        |    SUM(CASE WHEN k1 AND q2 AND q3 THEN n_tokens ELSE 0 END) AS t3,
        |    SUM(CASE WHEN k1 AND q2 AND q3 AND q4 THEN 1 ELSE 0 END) AS d4,
        |    SUM(CASE WHEN k1 AND q2 AND q3 AND q4 THEN n_tokens ELSE 0 END) AS t4,
        |    SUM(CASE WHEN k1 AND q2 AND q3 AND q4 AND q5 THEN 1 ELSE 0 END) AS d5,
        |    SUM(CASE WHEN k1 AND q2 AND q3 AND q4 AND q5 THEN n_tokens ELSE 0 END) AS t5,
        |    SUM(CASE WHEN k1 AND q2 AND q3 AND q4 AND q5 AND q6 THEN 1 ELSE 0 END) AS d6,
        |    SUM(CASE WHEN k1 AND q2 AND q3 AND q4 AND q5 AND q6 THEN n_tokens ELSE 0 END) AS t6,
        |    SUM(CASE WHEN k1 AND q2 AND q3 AND q4 AND q5 AND q6 AND q7 THEN 1 ELSE 0 END) AS d7,
        |    SUM(CASE WHEN k1 AND q2 AND q3 AND q4 AND q5 AND q6 AND q7 THEN n_tokens ELSE 0 END) AS t7
        |  FROM f
        |)
        |SELECT CAST(stage_idx AS INTEGER) AS stage_idx, stage,
        |  CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM (
        |  SELECT 0 AS stage_idx, 'input' AS stage, d0 AS n_docs, t0 AS n_tokens FROM g
        |  UNION ALL SELECT 1, 'length_floor', d1, t1 FROM g
        |  UNION ALL SELECT 2, 'stopword_cap', d2, t2 FROM g
        |  UNION ALL SELECT 3, 'repetition', d3, t3 FROM g
        |  UNION ALL SELECT 4, 'sample', d4, t4 FROM g
        |  UNION ALL SELECT 5, 'media_audio', d5, t5 FROM g
        |  UNION ALL SELECT 6, 'media_video', d6, t6 FROM g
        |  UNION ALL SELECT 7, 'media_image', d7, t7 FROM g
        |) ORDER BY stage_idx""".stripMargin,

    // Integer char counts keep the interpolated decile thresholds exact
    // in both engines (the text_length_floor precedent).
    "curate_quality_buckets" ->
      """WITH s AS (
        |  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS score FROM documents
        |), thr AS (
        |  SELECT lang,
        |    quantile_cont(score, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS thrs
        |  FROM s GROUP BY lang
        |)
        |SELECT s.lang,
        |  CAST(len(list_filter(thrs, t -> t < score)) + 1 AS INTEGER) AS bucket,
        |  COUNT(*) AS n_docs, MIN(score) AS min_chars, MAX(score) AS max_chars
        |FROM s JOIN thr USING (lang)
        |GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,

    // The same deterministic fixture URL re-derived in SQL; shares on
    // the half-up ppm grid, char share in HUGEINT (the Spark side uses
    // DECIMAL(38,0) — 100 TB char sums overflow a long when scaled).
    "curate_domain_stats" ->
      """WITH u AS (
        |  SELECT regexp_extract(
        |      'https://' || source || '.example.com/' || lang || '/'
        |        || CAST(doc_id % 97 AS VARCHAR),
        |      '^[a-z]+://([^/]+)/', 1) AS domain,
        |    n_chars
        |  FROM documents
        |), g AS (
        |  SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |  FROM u GROUP BY domain
        |), t AS (
        |  SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS tot_chars FROM g
        |)
        |SELECT domain, n_docs, n_chars,
        |  (2 * n_docs * 1000000 + tot_docs) // (2 * tot_docs) AS doc_share_ppm,
        |  CAST((2 * CAST(n_chars AS HUGEINT) * 1000000 + tot_chars)
        |       // (2 * tot_chars) AS BIGINT) AS char_share_ppm
        |FROM g CROSS JOIN t ORDER BY domain""".stripMargin,

    "curate_domain_filter" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' || source || '.example.com/' || lang || '/'
        |      || CAST(doc_id % 97 AS VARCHAR) AS url
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, regexp_extract(url, '^[a-z]+://([^/]+)/', 1) AS domain,
        |    url
        |  FROM u
        |)
        |SELECT doc_id, domain, url FROM w
        |WHERE regexp_matches(domain, '^[a-z0-9.-]+\.example\.com$')
        |  AND domain NOT IN ('src0.example.com', 'src13.example.com')
        |ORDER BY doc_id""".stripMargin,

    "curate_domain_cap" ->
      """WITH w AS (
        |  SELECT doc_id, n_chars, regexp_extract(
        |      'https://' || source || '.example.com/' || lang || '/'
        |        || CAST(doc_id % 97 AS VARCHAR),
        |      '^[a-z]+://([^/]+)/', 1) AS domain
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, domain, n_chars,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY domain
        |      ORDER BY n_chars DESC, doc_id) AS INT) AS domain_rank
        |  FROM w
        |)
        |SELECT doc_id, domain, domain_rank, n_chars FROM r
        |WHERE domain_rank <= 10
        |ORDER BY domain, domain_rank""".stripMargin,

    // Unigram-LM perplexity: the oracle re-trains the model from the
    // raw corpus (the artifact the Spark side serves from is built from
    // the same rows). Integer counts and a round-6 mean NLL — the same
    // ln-parity contract text_vocab_tfidf pins.
    "quality_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |), counts AS (
        |  SELECT token, COUNT(*) AS c FROM toks GROUP BY token
        |), vocab AS (
        |  SELECT token, c FROM counts ORDER BY c DESC, token LIMIT 4096
        |), consts AS (
        |  SELECT (SELECT SUM(c) FROM vocab) + (SELECT COUNT(*) FROM vocab) + 1 AS d
        |)
        |SELECT t.doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  round(SUM(-ln((coalesce(v.c, 0) + 1) * 1.0 / (SELECT d FROM consts)))
        |    / COUNT(*), 6) AS mean_nll
        |FROM toks t LEFT JOIN vocab v USING (token)
        |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,

    "quality_ppl_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |), counts AS (
        |  SELECT token, COUNT(*) AS c FROM toks GROUP BY token
        |), vocab AS (
        |  SELECT token, c FROM counts ORDER BY c DESC, token LIMIT 4096
        |), consts AS (
        |  SELECT (SELECT SUM(c) FROM vocab) + (SELECT COUNT(*) FROM vocab) + 1 AS d
        |), scored AS (
        |  SELECT t.doc_id,
        |    round(SUM(-ln((coalesce(v.c, 0) + 1) * 1.0 / (SELECT d FROM consts)))
        |      / COUNT(*), 6) AS mean_nll
        |  FROM toks t LEFT JOIN vocab v USING (token)
        |  GROUP BY t.doc_id
        |), thr AS (
        |  SELECT quantile_cont(mean_nll,
        |    [CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3]) AS t
        |  FROM scored
        |)
        |SELECT s.doc_id, s.mean_nll,
        |  CASE WHEN s.mean_nll <= t[1] THEN 'head'
        |       WHEN s.mean_nll <= t[2] THEN 'middle'
        |       ELSE 'tail' END AS ppl_bucket
        |FROM scored s, thr ORDER BY s.doc_id""".stripMargin,

    // The oracle keys on the k-gram STRINGS where the Spark side keys
    // on their 64-bit hashes (collision odds ~n²/2⁶⁴ — the same trade
    // candidatePairs documents); coverage arithmetic is identical.
    // The ExactSubstr REWRITE replayed end-to-end: same cross-document
    // k-gram test and least-(doc_id,pos) keeper as the spans oracle
    // (gram strings here vs xxhash64 on the engine side — identical
    // modulo 2^-64 collisions, the accepted spans-oracle argument),
    // same per-token keeper-vs-redundant resolution, and the rewrite
    // reassembled by string_agg over surviving token positions.
    "dedup_substring_rewrite" ->
      """WITH parts AS (
        |  SELECT doc_id, string_split(text, ' ') AS p FROM documents
        |), kg AS (
        |  SELECT doc_id, i AS pos, array_to_string(p[i:i+7], ' ') AS g
        |  FROM (SELECT doc_id, p, unnest(generate_series(1, len(p) - 7)) AS i
        |        FROM parts)
        |), keepers AS (
        |  SELECT g,
        |    (min(struct_pack(d := doc_id, p := pos))).d AS kd,
        |    (min(struct_pack(d := doc_id, p := pos))).p AS kp
        |  FROM kg GROUP BY g HAVING MIN(doc_id) <> MAX(doc_id)
        |), dropset AS (
        |  SELECT doc_id, tpos FROM (
        |    SELECT k2.doc_id, k2.pos + u.o AS tpos,
        |      (k2.doc_id = ke.kd AND k2.pos = ke.kp) AS is_keeper
        |    FROM kg k2 JOIN keepers ke USING (g)
        |    CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS o) u
        |  ) t GROUP BY doc_id, tpos HAVING NOT bool_or(is_keeper)
        |), dcnt AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dropped
        |  FROM dropset GROUP BY doc_id
        |), toks AS (
        |  SELECT doc_id, unnest(p) AS tok, generate_subscripts(p, 1) AS ti
        |  FROM parts
        |), rewrite AS (
        |  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.ti) AS text_rewrite
        |  FROM toks t
        |  LEFT JOIN dropset ds ON ds.doc_id = t.doc_id AND ds.tpos = t.ti
        |  WHERE ds.tpos IS NULL
        |  GROUP BY t.doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  COALESCE(c.n_dropped, 0) AS n_dropped,
        |  COALESCE(r.text_rewrite, '') AS text_rewrite
        |FROM documents d
        |LEFT JOIN dcnt c USING (doc_id)
        |LEFT JOIN rewrite r ON r.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "dedup_substring_spans" ->
      """WITH parts AS (
        |  SELECT doc_id, string_split(text, ' ') AS p FROM documents
        |), kg AS (
        |  SELECT doc_id, i AS pos, array_to_string(p[i:i+7], ' ') AS g
        |  FROM (SELECT doc_id, p, unnest(generate_series(1, len(p) - 7)) AS i
        |        FROM parts)
        |), cross_doc AS (
        |  SELECT g FROM kg GROUP BY g HAVING MIN(doc_id) <> MAX(doc_id)
        |), dup AS (
        |  SELECT doc_id, pos FROM kg JOIN cross_doc USING (g)
        |), cov AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_kgrams,
        |    CAST(SUM(CASE WHEN nxt IS NULL THEN 8
        |                  ELSE LEAST(8, nxt - pos) END) AS BIGINT) AS dup_tokens
        |  FROM (SELECT doc_id, pos,
        |          LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |        FROM dup)
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  COALESCE(c.n_dup_kgrams, 0) AS n_dup_kgrams,
        |  COALESCE(c.dup_tokens, 0) AS dup_tokens,
        |  round(COALESCE(c.dup_tokens, 0) * 1.0
        |    / len(string_split(d.text, ' ')), 6) AS dup_fraction
        |FROM documents d LEFT JOIN cov c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // The PII patterns live in the Java-regex ∩ RE2 subset (classes,
    // bounded repetition, ASCII \b — no lookarounds), so the oracle
    // runs them verbatim; DuckDB's regexp_replace needs the explicit
    // 'g' flag to match Spark's replace-all default.
    "text_pii_redact" ->
      ("""WITH planted AS (
        |  SELECT doc_id,
        |    concat_ws(' ', text,
        |      'user' || CAST(doc_id AS VARCHAR) || '@mail.example.com',
        |      CASE WHEN doc_id % 3 = 0
        |        THEN 'call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |             || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
        |        ELSE 'no phone' END,
        |      CASE WHEN doc_id % 5 = 0
        |        THEN 'from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
        |             || CAST((doc_id * 3) % 256 AS VARCHAR) || '.1'
        |        ELSE 'local' END) AS text
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '@EMAIL@')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '@PHONE@')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(text, '@IP@')) AS BIGINT) AS n_ips,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text, '@EMAIL@', '<EMAIL>', 'g'),
        |      '@IP@', '<IP>', 'g'),
        |    '@PHONE@', '<PHONE>', 'g') AS redacted
        |FROM planted ORDER BY doc_id""".stripMargin
        .replace("@EMAIL@", TextAnalysis.EmailRe)
        .replace("@IP@", TextAnalysis.Ipv4Re)
        .replace("@PHONE@", TextAnalysis.PhoneRe)),

    // The bigram model re-trained in SQL: unigram vocab, mapped bigram
    // counts (both sides collapsed onto chr(1)||'OOV' outside the top-V
    // vocabulary), per-predecessor totals, then the interpolated
    // p = 0.5·p_bi + 0.5·p_uni per transition (p_uni alone for the
    // first token). Same round-6 ln-parity contract as the unigram LM.
    "quality_perplexity_bigram" ->
      """WITH parts AS (
        |  SELECT doc_id, string_split(text, ' ') AS p FROM documents
        |), toks AS (
        |  SELECT doc_id, i, p[i] AS cur,
        |    CASE WHEN i = 1 THEN NULL ELSE p[i-1] END AS prev
        |  FROM (SELECT doc_id, p, unnest(generate_series(1, len(p))) AS i
        |        FROM parts)
        |), c1 AS (
        |  SELECT cur AS token, COUNT(*) AS c FROM toks GROUP BY 1
        |), v AS (
        |  SELECT token, c FROM c1 ORDER BY c DESC, token LIMIT 4096
        |), consts AS (
        |  SELECT (SELECT SUM(c) FROM v) + (SELECT COUNT(*) FROM v) + 1 AS d,
        |         (SELECT COUNT(*) FROM v) AS vs
        |), bg AS (
        |  SELECT
        |    CASE WHEN pv.token IS NULL THEN chr(1) || 'OOV' ELSE t.prev END AS prev,
        |    CASE WHEN cv.token IS NULL THEN chr(1) || 'OOV' ELSE t.cur END AS cur,
        |    COUNT(*) AS c2
        |  FROM toks t
        |  LEFT JOIN v pv ON pv.token = t.prev
        |  LEFT JOIN v cv ON cv.token = t.cur
        |  WHERE t.prev IS NOT NULL
        |  GROUP BY 1, 2
        |), tot AS (
        |  SELECT prev, SUM(c2) AS tot FROM bg GROUP BY prev
        |), terms AS (
        |  SELECT t.doc_id, t.cur, t.prev, cv.c AS c1,
        |    CASE WHEN t.prev IS NULL THEN NULL
        |         WHEN pv.token IS NULL THEN chr(1) || 'OOV'
        |         ELSE t.prev END AS prev_m,
        |    CASE WHEN cv.token IS NULL THEN chr(1) || 'OOV'
        |         ELSE t.cur END AS cur_m
        |  FROM toks t
        |  LEFT JOIN v cv ON cv.token = t.cur
        |  LEFT JOIN v pv ON pv.token = t.prev
        |), scored AS (
        |  SELECT tm.doc_id,
        |    CASE WHEN tm.prev IS NULL
        |      THEN (COALESCE(tm.c1, 0) + 1) * 1.0 / (SELECT d FROM consts)
        |      ELSE 0.5 * ((COALESCE(b.c2, 0) + 1) * 1.0
        |             / (COALESCE(tt.tot, 0) + (SELECT vs FROM consts) + 1))
        |         + 0.5 * ((COALESCE(tm.c1, 0) + 1) * 1.0 / (SELECT d FROM consts))
        |    END AS pr
        |  FROM terms tm
        |  LEFT JOIN bg b ON b.prev = tm.prev_m AND b.cur = tm.cur_m
        |  LEFT JOIN tot tt ON tt.prev = tm.prev_m
        |)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  round(SUM(-ln(pr)) / COUNT(*), 6) AS mean_nll2
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // KN replay: same vocab/OOV-mapping scaffold as the JM oracle, two
    // continuation-count aggregates over the mapped bigram table, and
    // the discount chain written op-for-op as the engine computes it
    // (greatest / + · with identical parenthesization).
    "quality_perplexity_kn" ->
      """WITH parts AS (
        |  SELECT doc_id, string_split(text, ' ') AS p FROM documents
        |), toks AS (
        |  SELECT doc_id, i, p[i] AS cur,
        |    CASE WHEN i = 1 THEN NULL ELSE p[i-1] END AS prev
        |  FROM (SELECT doc_id, p, unnest(generate_series(1, len(p))) AS i
        |        FROM parts)
        |), c1 AS (
        |  SELECT cur AS token, COUNT(*) AS c FROM toks GROUP BY 1
        |), v AS (
        |  SELECT token, c FROM c1 ORDER BY c DESC, token LIMIT 4096
        |), consts AS (
        |  SELECT (SELECT SUM(c) FROM v) + (SELECT COUNT(*) FROM v) + 1 AS d,
        |         (SELECT COUNT(*) FROM v) AS vs
        |), bg AS (
        |  SELECT
        |    CASE WHEN pv.token IS NULL THEN chr(1) || 'OOV' ELSE t.prev END AS prev,
        |    CASE WHEN cv.token IS NULL THEN chr(1) || 'OOV' ELSE t.cur END AS cur,
        |    COUNT(*) AS c2
        |  FROM toks t
        |  LEFT JOIN v pv ON pv.token = t.prev
        |  LEFT JOIN v cv ON cv.token = t.cur
        |  WHERE t.prev IS NOT NULL
        |  GROUP BY 1, 2
        |), pstats AS (
        |  SELECT prev, SUM(c2) AS tot, COUNT(*) AS n1p FROM bg GROUP BY prev
        |), cstats AS (
        |  SELECT cur, COUNT(*) AS n1c FROM bg GROUP BY cur
        |), bconst AS (
        |  SELECT CAST((SELECT COUNT(*) FROM bg)
        |    + (SELECT vs FROM consts) + 1 AS DOUBLE) AS bv
        |), terms AS (
        |  SELECT t.doc_id, t.cur, t.prev, cv.c AS c1,
        |    CASE WHEN t.prev IS NULL THEN NULL
        |         WHEN pv.token IS NULL THEN chr(1) || 'OOV'
        |         ELSE t.prev END AS prev_m,
        |    CASE WHEN cv.token IS NULL THEN chr(1) || 'OOV'
        |         ELSE t.cur END AS cur_m
        |  FROM toks t
        |  LEFT JOIN v cv ON cv.token = t.cur
        |  LEFT JOIN v pv ON pv.token = t.prev
        |), scored AS (
        |  SELECT tm.doc_id,
        |    CASE WHEN tm.prev IS NULL
        |      THEN (COALESCE(tm.c1, 0) + 1) * 1.0 / (SELECT d FROM consts)
        |    WHEN ps.tot IS NULL
        |      THEN (COALESCE(cs.n1c, 0) + 1) * 1.0 / (SELECT bv FROM bconst)
        |    ELSE greatest(CAST(COALESCE(b.c2, 0) AS DOUBLE) - 0.75, 0.0)
        |           / CAST(ps.tot AS DOUBLE)
        |       + ((0.75 * CAST(ps.n1p AS DOUBLE)) / CAST(ps.tot AS DOUBLE))
        |           * ((COALESCE(cs.n1c, 0) + 1) * 1.0 / (SELECT bv FROM bconst))
        |    END AS pr
        |  FROM terms tm
        |  LEFT JOIN bg b ON b.prev = tm.prev_m AND b.cur = tm.cur_m
        |  LEFT JOIN pstats ps ON ps.prev = tm.prev_m
        |  LEFT JOIN cstats cs ON cs.cur = tm.cur_m
        |)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  round(SUM(-ln(pr)) / COUNT(*), 6) AS mean_nll_kn
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Naive Bayes is oracle-able because training IS counting: the SQL
    // re-trains the model (per-label token counts over the same seed,
    // shared top-V vocabulary) and re-derives every smoothed joint
    // log-likelihood. Same round-6 ln-parity contract as the LM.
    "classify_nb_scores" ->
      """WITH seed AS (
        |  SELECT doc_id, text, lang AS label FROM documents WHERE doc_id % 5 = 0
        |), ctoks AS (
        |  SELECT label, unnest(string_split(text, ' ')) AS token FROM seed
        |), counts AS (
        |  SELECT label, token, COUNT(*) AS c FROM ctoks GROUP BY 1, 2
        |), v AS (
        |  SELECT token FROM (
        |    SELECT token, SUM(c) AS ct FROM counts GROUP BY token
        |    ORDER BY ct DESC, token LIMIT 4096)
        |), vc AS (
        |  SELECT c.label, c.token, c.c FROM counts c JOIN v USING (token)
        |), nd AS (
        |  SELECT label, COUNT(*) AS n_docs FROM seed GROUP BY label
        |), ls AS (
        |  SELECT nd.label,
        |    COALESCE(s.cv, 0) + (SELECT COUNT(*) FROM v) + 1 AS d,
        |    ln(nd.n_docs * 1.0 / (SELECT SUM(n_docs) FROM nd)) AS logprior
        |  FROM nd LEFT JOIN (
        |    SELECT label, SUM(c) AS cv FROM vc GROUP BY label) s USING (label)
        |), dtoks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |)
        |SELECT dt.doc_id, ls.label,
        |  round(ls.logprior
        |    + SUM(ln((COALESCE(vc.c, 0) + 1) * 1.0 / ls.d)), 6) AS logp
        |FROM dtoks dt CROSS JOIN ls
        |LEFT JOIN vc ON vc.token = dt.token AND vc.label = ls.label
        |GROUP BY dt.doc_id, ls.label, ls.logprior, ls.d
        |ORDER BY dt.doc_id, ls.label""".stripMargin,

    "classify_lr_scores" -> (lrSql(lrIters) +
      """
        |SELECT doc_id,
        |  round(CAST(mu AS DOUBLE) / 1000000.0, 6) AS margin,
        |  round(1.0 / (1.0 + exp(-(CAST(mu AS DOUBLE) / 1000000.0))), 6) AS p
        |FROM am ORDER BY doc_id""".stripMargin),

    "classify_lr_pred" -> (lrSql(lrIters) +
      """
        |SELECT doc_id,
        |  CASE WHEN p >= 0.5 THEN 'keep' ELSE 'drop' END AS pred_label,
        |  p, margin
        |FROM (
        |  SELECT doc_id,
        |    round(CAST(mu AS DOUBLE) / 1000000.0, 6) AS margin,
        |    round(1.0 / (1.0 + exp(-(CAST(mu AS DOUBLE) / 1000000.0))), 6) AS p
        |  FROM am)
        |ORDER BY doc_id""".stripMargin),

    // The report replays the whole training loop (am = final margins),
    // re-scores the TEACHER over the full corpus from the same seed
    // vocab (vc/dd) the loop materialized, and aggregates agreement on
    // the half-up ppm grid.
    "classify_lr_report" -> (lrSql(lrIters) +
      """
        |, tkeep AS (
        |  SELECT a.doc_id,
        |    CASE WHEN round(SUM(a.c * -ln((COALESCE(vc.ct, 0) + 1) * 1.0 /
        |        (SELECT d FROM dd))) / SUM(a.c), 6) <= 3.40625
        |      THEN 1 ELSE 0 END AS tk
        |  FROM atc a LEFT JOIN vc USING (token) GROUP BY a.doc_id
        |), flags AS (
        |  SELECT (d.doc_id % 5 = 0) AS is_seed,
        |    (COALESCE(t.tk, 0) =
        |      CASE WHEN round(1.0 / (1.0 + exp(-(CAST(a.mu AS DOUBLE)
        |        / 1000000.0))), 6) >= 0.5 THEN 1 ELSE 0 END) AS agree
        |  FROM documents d
        |  LEFT JOIN tkeep t USING (doc_id)
        |  JOIN am a USING (doc_id)
        |), tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
        |    CAST(SUM(CASE WHEN agree THEN 1 ELSE 0 END) AS BIGINT) AS a_all,
        |    CAST(SUM(CASE WHEN is_seed THEN 1 ELSE 0 END) AS BIGINT) AS n_seed,
        |    CAST(SUM(CASE WHEN is_seed AND agree THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a_seed
        |  FROM flags
        |), seg AS (
        |  SELECT 'all' AS segment, n_all AS n_docs, a_all AS n_agree,
        |    CAST(780000 AS BIGINT) AS floor_ppm FROM tot
        |  UNION ALL
        |  SELECT 'seed', n_seed, a_seed, 800000 FROM tot
        |  UNION ALL
        |  SELECT 'holdout', n_all - n_seed, a_all - a_seed, 760000 FROM tot
        |)
        |SELECT segment, n_docs, n_agree,
        |  CAST((2 * n_agree * 1000000 + n_docs) // (2 * n_docs) AS BIGINT)
        |    AS agreement_ppm,
        |  ((2 * n_agree * 1000000 + n_docs) // (2 * n_docs)) / 1000000.0
        |    AS agreement,
        |  floor_ppm,
        |  (2 * n_agree * 1000000 + n_docs) // (2 * n_docs) >= floor_ppm AS pass
        |FROM seg ORDER BY segment""".stripMargin),

    "classify_nb_pred" ->
      """WITH seed AS (
        |  SELECT doc_id, text, lang AS label FROM documents WHERE doc_id % 5 = 0
        |), ctoks AS (
        |  SELECT label, unnest(string_split(text, ' ')) AS token FROM seed
        |), counts AS (
        |  SELECT label, token, COUNT(*) AS c FROM ctoks GROUP BY 1, 2
        |), v AS (
        |  SELECT token FROM (
        |    SELECT token, SUM(c) AS ct FROM counts GROUP BY token
        |    ORDER BY ct DESC, token LIMIT 4096)
        |), vc AS (
        |  SELECT c.label, c.token, c.c FROM counts c JOIN v USING (token)
        |), nd AS (
        |  SELECT label, COUNT(*) AS n_docs FROM seed GROUP BY label
        |), ls AS (
        |  SELECT nd.label,
        |    COALESCE(s.cv, 0) + (SELECT COUNT(*) FROM v) + 1 AS d,
        |    ln(nd.n_docs * 1.0 / (SELECT SUM(n_docs) FROM nd)) AS logprior
        |  FROM nd LEFT JOIN (
        |    SELECT label, SUM(c) AS cv FROM vc GROUP BY label) s USING (label)
        |), dtoks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |), scored AS (
        |  SELECT dt.doc_id, ls.label,
        |    round(ls.logprior
        |      + SUM(ln((COALESCE(vc.c, 0) + 1) * 1.0 / ls.d)), 6) AS logp
        |  FROM dtoks dt CROSS JOIN ls
        |  LEFT JOIN vc ON vc.token = dt.token AND vc.label = ls.label
        |  GROUP BY dt.doc_id, ls.label, ls.logprior, ls.d
        |), ranked AS (
        |  SELECT doc_id, label, logp,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY logp DESC, label) AS rn,
        |    LEAD(logp) OVER (PARTITION BY doc_id ORDER BY logp DESC, label) AS runner
        |  FROM scored
        |)
        |SELECT doc_id, label AS pred_label, round(logp - runner, 6) AS margin
        |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // DSIR: both unigram models re-trained in SQL (target = en docs,
    // raw = whole corpus), each with its own top-V vocabulary; the
    // importance weight is the difference of the two round-6 mean NLLs.
    "dsir_select" ->
      """WITH dtoks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |), rc AS (
        |  SELECT token, COUNT(*) AS c FROM dtoks GROUP BY token
        |), rv AS (
        |  SELECT token, c FROM rc ORDER BY c DESC, token LIMIT 4096
        |), rconst AS (
        |  SELECT (SELECT SUM(c) FROM rv) + (SELECT COUNT(*) FROM rv) + 1 AS d
        |), rscore AS (
        |  SELECT t.doc_id,
        |    round(SUM(-ln((COALESCE(v.c, 0) + 1) * 1.0 / (SELECT d FROM rconst)))
        |      / COUNT(*), 6) AS nll_raw
        |  FROM dtoks t LEFT JOIN rv v USING (token) GROUP BY t.doc_id
        |), ttoks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |  WHERE lang = 'en'
        |), tc AS (
        |  SELECT token, COUNT(*) AS c FROM ttoks GROUP BY token
        |), tv AS (
        |  SELECT token, c FROM tc ORDER BY c DESC, token LIMIT 4096
        |), tconst AS (
        |  SELECT (SELECT SUM(c) FROM tv) + (SELECT COUNT(*) FROM tv) + 1 AS d
        |), tscore AS (
        |  SELECT t.doc_id,
        |    round(SUM(-ln((COALESCE(v.c, 0) + 1) * 1.0 / (SELECT d FROM tconst)))
        |      / COUNT(*), 6) AS nll_target
        |  FROM dtoks t LEFT JOIN tv v USING (token) GROUP BY t.doc_id
        |)
        |SELECT r.doc_id, s.nll_target, r.nll_raw,
        |  round(r.nll_raw - s.nll_target, 6) AS log_ratio
        |FROM rscore r JOIN tscore s USING (doc_id)
        |ORDER BY log_ratio DESC, doc_id LIMIT 100""".stripMargin,

    // The pack/mixture/export family is pure integer arithmetic over
    // (doc_id, whitespace token count) — fully portable, so the oracle
    // re-derives every assignment independently.
    "train_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    doc_id % 8 AS shard,
        |    (doc_id * 40503) % 65521 AS sk
        |  FROM documents
        |), o AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
        |      ORDER BY sk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS token_offset
        |  FROM t
        |)
        |SELECT doc_id, shard,
        |  token_offset // 512 AS bin,
        |  n_tokens, token_offset
        |FROM o ORDER BY doc_id""".stripMargin,

    // Same packing prefix sum, then one span row per (doc, touched
    // sequence window): identical integer window arithmetic.
    "train_pack_spans" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    doc_id % 8 AS shard,
        |    (doc_id * 40503) % 65521 AS sk
        |  FROM documents
        |), o AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
        |      ORDER BY sk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS token_offset
        |  FROM t
        |), sp AS (
        |  SELECT shard, doc_id, token_offset, n_tokens,
        |    unnest(generate_series(token_offset // 512,
        |                           (token_offset + n_tokens - 1) // 512)) AS bin
        |  FROM o WHERE n_tokens > 0
        |)
        |SELECT shard, bin, doc_id,
        |  CAST(greatest(token_offset - bin * 512, 0) AS BIGINT) AS span_start,
        |  CAST(least(token_offset + n_tokens, (bin + 1) * 512)
        |    - greatest(token_offset, bin * 512) AS BIGINT) AS span_len
        |FROM sp
        |ORDER BY shard, bin, span_start, doc_id""".stripMargin,

    "train_pack_bpe" -> (bpeRoundsSql(bpeMerges) +
      """
        |, enc AS (
        |  SELECT d.doc_id, CAST(SUM(len(v.syms)) AS BIGINT) AS n_tokens
        |  FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |  ) d JOIN symsN v USING (w)
        |  WHERE d.w <> '' GROUP BY d.doc_id
        |), t AS (
        |  SELECT doc_id, COALESCE(e.n_tokens, 0) AS n_tokens,
        |    doc_id % 8 AS shard,
        |    (doc_id * 40503) % 65521 AS sk
        |  FROM documents LEFT JOIN enc e USING (doc_id)
        |), o AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
        |      ORDER BY sk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS token_offset
        |  FROM t
        |)
        |SELECT doc_id, shard,
        |  token_offset // 512 AS bin,
        |  n_tokens, token_offset
        |FROM o ORDER BY doc_id""".stripMargin),

    "train_mixture" ->
      """WITH w AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'fr' THEN 2.0
        |      WHEN 'de' THEN 1.25 WHEN 'es' THEN 1.0 WHEN 'zh' THEN 3.5
        |      ELSE 1.0 END AS DOUBLE) AS wt,
        |    (doc_id * 40503) % 65521 AS sk
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, lang,
        |    CAST(FLOOR(wt) AS BIGINT)
        |      + CASE WHEN sk < CAST(FLOOR((wt - FLOOR(wt)) * 65521) AS BIGINT)
        |             THEN 1 ELSE 0 END AS n_copies
        |  FROM w
        |)
        |SELECT n.doc_id, n.lang, CAST(c.copy AS BIGINT) AS copy
        |FROM n JOIN (SELECT unnest(range(1, 5)) AS copy) c ON c.copy <= n.n_copies
        |ORDER BY doc_id, copy""".stripMargin,

    "train_temperature_mix" ->
      """WITH dom AS (
        |  SELECT lang AS domain, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang
        |), tot AS (
        |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens FROM dom
        |), s AS (
        |  SELECT domain, n_docs, n_tokens,
        |    CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE) AS share,
        |    round(sqrt(CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)),
        |      6) AS s6
        |  FROM dom CROSS JOIN tot
        |), z AS (
        |  SELECT CAST(SUM(CAST(s6 AS DECIMAL(32,6))) AS DOUBLE) AS z FROM s
        |)
        |SELECT domain, n_docs, n_tokens,
        |  round(share, 6) AS share,
        |  round(s6 / z, 6) AS weight,
        |  round((s6 / z) / share, 6) AS upsample
        |FROM s CROSS JOIN z
        |ORDER BY domain""".stripMargin,

    "train_holdout_split" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS s
        |  FROM documents
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.35
        |), leaked AS (
        |  SELECT DISTINCT CASE WHEN (a_id * 40503) % 65521 < 6552
        |                       THEN b_id ELSE a_id END AS doc_id
        |  FROM pairs
        |  WHERE ((a_id * 40503) % 65521 < 6552) <> ((b_id * 40503) % 65521 < 6552)
        |)
        |SELECT d.doc_id,
        |  CASE WHEN (d.doc_id * 40503) % 65521 < 6552 THEN 'validation'
        |       WHEN l.doc_id IS NOT NULL THEN 'leaked'
        |       ELSE 'train' END AS split
        |FROM documents d LEFT JOIN leaked l ON l.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "train_shard_manifest" ->
      """SELECT doc_id % 8 AS shard, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "json_extract_agg" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS min_k,
        |  MAX(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // BM25 re-derived from scratch: tf/df/dl/N are integer counts,
    // avgdl the one division, the scoring expression pinned to the same
    // association order as the Spark side, round-6 after the per-doc
    // sum, and the SAME (score DESC, doc_id) order at the k boundary.
    "search_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
        |), stats AS (
        |  SELECT COUNT(*) AS n_docs, SUM(dl) * 1.0 / COUNT(*) AS avgdl FROM dl
        |), q AS (
        |  SELECT unnest(['spark', 'window', 'join', 'merge']) AS term
        |), matched AS (
        |  SELECT t.doc_id, t.term, t.tf FROM tf t JOIN q USING (term)
        |), dfq AS (
        |  SELECT term, COUNT(*) AS df FROM matched GROUP BY term
        |)
        |SELECT m.doc_id, COUNT(*) AS n_terms,
        |  round(SUM(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
        |    * (m.tf * 2.2)
        |    / (m.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))), 6) AS score
        |FROM matched m
        |JOIN dfq f USING (term) JOIN dl d USING (doc_id) CROSS JOIN stats s
        |GROUP BY m.doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "search_conjunctive" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        |), q AS (
        |  SELECT unnest(['spark', 'query', 'stream']) AS term
        |)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS total_tf
        |FROM tf JOIN q USING (term)
        |GROUP BY doc_id HAVING COUNT(*) = 3
        |ORDER BY doc_id""".stripMargin,

    // RRF fusion of the two lists the engine already oracles exactly:
    // the search_bm25 top-20 (integer-stat BM25, same order contract)
    // and the sim_bruteforce cosine top-20 for query vector 0. Ranks
    // are integers, 1/(60+r) is one double division, additions in the
    // pinned sparse+dense order, round-6 at the end — bit-reproducible.
    "search_hybrid_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
        |), stats AS (
        |  SELECT COUNT(*) AS n_docs, SUM(dl) * 1.0 / COUNT(*) AS avgdl FROM dl
        |), q AS (
        |  SELECT unnest(['spark', 'window', 'join', 'merge']) AS term
        |), matched AS (
        |  SELECT t.doc_id, t.term, t.tf FROM tf t JOIN q USING (term)
        |), dfq AS (
        |  SELECT term, COUNT(*) AS df FROM matched GROUP BY term
        |), bm25 AS (
        |  SELECT m.doc_id,
        |    round(SUM(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
        |      * (m.tf * 2.2)
        |      / (m.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))), 6) AS score
        |  FROM matched m
        |  JOIN dfq f USING (term) JOIN dl d USING (doc_id) CROSS JOIN stats s
        |  GROUP BY m.doc_id
        |  ORDER BY score DESC, doc_id LIMIT 20
        |), sparse AS (
        |  SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r_sparse
        |  FROM bm25
        |), qv AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS q_emb
        |  FROM embeddings WHERE vec_id = 0
        |), cosd AS (
        |  SELECT e.vec_id AS doc_id,
        |    round(list_inner_product(q.q_emb, CAST(e.embedding AS DOUBLE[]))
        |      / (sqrt(list_inner_product(q.q_emb, q.q_emb))
        |         * sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
        |                                   CAST(e.embedding AS DOUBLE[])))), 6) AS cos
        |  FROM embeddings e CROSS JOIN qv q WHERE e.vec_id <> 0
        |), dense AS (
        |  SELECT doc_id, r_dense FROM (
        |    SELECT doc_id,
        |      ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r_dense
        |    FROM cosd)
        |  WHERE r_dense <= 20
        |)
        |SELECT doc_id, r_sparse, r_dense,
        |  round(COALESCE(1.0 / (60 + r_sparse), 0)
        |      + COALESCE(1.0 / (60 + r_dense), 0), 6) AS rrf_score
        |FROM sparse FULL OUTER JOIN dense USING (doc_id)
        |ORDER BY rrf_score DESC, doc_id LIMIT 15""".stripMargin,

    // Same integer moments, same double casts, same determinant
    // association order as Regression.dets — the betas are then one
    // division each, round-6.
    "reg_fit_ols" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS x2,
        |    n_chars AS y
        |  FROM documents
        |), m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS m11,
        |    CAST(SUM(x1) AS DOUBLE) AS m12, CAST(SUM(x2) AS DOUBLE) AS m13,
        |    CAST(SUM(x1*x1) AS DOUBLE) AS m22, CAST(SUM(x1*x2) AS DOUBLE) AS m23,
        |    CAST(SUM(x2*x2) AS DOUBLE) AS m33,
        |    CAST(SUM(y) AS DOUBLE) AS v1, CAST(SUM(x1*y) AS DOUBLE) AS v2,
        |    CAST(SUM(x2*y) AS DOUBLE) AS v3, CAST(SUM(y*y) AS DOUBLE) AS syy,
        |    COUNT(*) AS n
        |  FROM f
        |), s AS (
        |  SELECT n, m11, v1, v2, v3, syy,
        |    m11*(m22*m33 - m23*m23) - m12*(m12*m33 - m23*m13)
        |      + m13*(m12*m23 - m22*m13) AS det,
        |    v1*(m22*m33 - m23*m23) - m12*(v2*m33 - m23*v3)
        |      + m13*(v2*m23 - m22*v3) AS det0,
        |    m11*(v2*m33 - v3*m23) - v1*(m12*m33 - m23*m13)
        |      + m13*(m12*v3 - v2*m13) AS det1,
        |    m11*(m22*v3 - m23*v2) - m12*(m12*v3 - v2*m13)
        |      + v1*(m12*m23 - m22*m13) AS det2
        |  FROM m
        |)
        |SELECT n, round(det0/det, 6) AS beta0, round(det1/det, 6) AS beta1,
        |  round(det2/det, 6) AS beta2,
        |  round(1.0 - (syy - (((det0/det)*v1 + (det1/det)*v2) + (det2/det)*v3))
        |          / (syy - v1*v1/m11), 6) AS r2
        |FROM s""".stripMargin,

    // Scoring replays the fit CTE, then applies the ROUND-6 betas in
    // the pinned (b0 + b1*x1) + b2*x2 order — identical coefficients,
    // identical per-row arithmetic, same (|resid| DESC, doc_id) order
    // at the k boundary.
    "reg_outlier_residuals" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS x2,
        |    n_chars AS y
        |  FROM documents
        |), m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS m11,
        |    CAST(SUM(x1) AS DOUBLE) AS m12, CAST(SUM(x2) AS DOUBLE) AS m13,
        |    CAST(SUM(x1*x1) AS DOUBLE) AS m22, CAST(SUM(x1*x2) AS DOUBLE) AS m23,
        |    CAST(SUM(x2*x2) AS DOUBLE) AS m33,
        |    CAST(SUM(y) AS DOUBLE) AS v1, CAST(SUM(x1*y) AS DOUBLE) AS v2,
        |    CAST(SUM(x2*y) AS DOUBLE) AS v3
        |  FROM f
        |), s AS (
        |  SELECT
        |    m11*(m22*m33 - m23*m23) - m12*(m12*m33 - m23*m13)
        |      + m13*(m12*m23 - m22*m13) AS det,
        |    v1*(m22*m33 - m23*m23) - m12*(v2*m33 - m23*v3)
        |      + m13*(v2*m23 - m22*v3) AS det0,
        |    m11*(v2*m33 - v3*m23) - v1*(m12*m33 - m23*m13)
        |      + m13*(m12*v3 - v2*m13) AS det1,
        |    m11*(m22*v3 - m23*v2) - m12*(m12*v3 - v2*m13)
        |      + v1*(m12*m23 - m22*m13) AS det2
        |  FROM m
        |), b AS (
        |  SELECT round(det0/det, 6) AS beta0, round(det1/det, 6) AS beta1,
        |    round(det2/det, 6) AS beta2
        |  FROM s
        |), scored AS (
        |  SELECT f.doc_id, f.y,
        |    round((b.beta0 + b.beta1 * f.x1) + b.beta2 * f.x2, 6) AS pred
        |  FROM f CROSS JOIN b
        |)
        |SELECT doc_id, y, pred, round(y - pred, 6) AS resid
        |FROM scored
        |ORDER BY abs(round(y - pred, 6)) DESC, doc_id LIMIT 50""".stripMargin,

    // Same conditional counts, same add-one smoothing over the union
    // vocab, same p_new*ln(p_new/p_old) association order, round-6,
    // same (|kl| DESC, term) order at the k boundary.
    "corpus_drift_kl" ->
      """WITH toks AS (
        |  SELECT doc_id % 2 = 1 AS is_new,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents
        |), counts AS (
        |  SELECT term,
        |    CAST(SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS n_old,
        |    CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM toks GROUP BY term
        |), totals AS (
        |  SELECT CAST(SUM(n_old) AS BIGINT) AS t_old,
        |    CAST(SUM(n_new) AS BIGINT) AS t_new, COUNT(*) AS v
        |  FROM counts
        |)
        |SELECT term, n_old, n_new,
        |  round((CAST(n_new + 1 AS DOUBLE) / (t_new + v))
        |    * ln((CAST(n_new + 1 AS DOUBLE) / (t_new + v))
        |      / (CAST(n_old + 1 AS DOUBLE) / (t_old + v))), 6) AS kl_term
        |FROM counts CROSS JOIN totals
        |ORDER BY abs(kl_term) DESC, term LIMIT 20""".stripMargin,

    // Same 8-gram shingle family as decontaminate (short-doc edge
    // included), distinct (source, shingle) pairs self-joined on the
    // shingle with src_a < src_b — counts distinct shared shingles per
    // unordered source pair, same (src_a, src_b) order.
    "corpus_source_overlap" ->
      """WITH sh AS (
        |  SELECT DISTINCT source, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' ')) - 7, 1)),
        |    i -> array_to_string(string_split(text, ' ')[i:i+7], ' ')))) AS sh
        |  FROM documents
        |)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Exact integer counts per source; avg_tokens and dup_rate are one
    // double division of exact integers (the davg discipline — no
    // terminal round on either engine).
    "corpus_source_scorecard" ->
      """SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_texts,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
        |    AS avg_tokens,
        |  CAST(COUNT(*) - COUNT(DISTINCT text) AS DOUBLE) / COUNT(*)
        |    AS dup_rate
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // Per-dim integer micro-unit sums (the pca_covariance casting
    // chain: float -> double -> decimal(18,6) -> x1e6 integer), means
    // as one double division of exact integers, delta a subtraction of
    // identical doubles — hash-verifies with no terminal round.
    "embed_drift_means" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), x AS (
        |  SELECT vec_id, i,
        |    CAST(CAST(v[i+1] AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xu
        |  FROM e CROSS JOIN generate_series(0, 63) AS g(i)
        |), m AS (
        |  SELECT i,
        |    CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN xu END) AS HUGEINT) AS sx_old,
        |    CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN xu END) AS HUGEINT) AS sx_new,
        |    CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
        |    CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM x GROUP BY i
        |)
        |SELECT CAST(i AS INT) AS i, n_old, n_new,
        |  CAST(sx_old AS DOUBLE) / (CAST(n_old AS DOUBLE) * 1000000.0)
        |    AS mean_old,
        |  CAST(sx_new AS DOUBLE) / (CAST(n_new AS DOUBLE) * 1000000.0)
        |    AS mean_new,
        |  CAST(sx_new AS DOUBLE) / (CAST(n_new AS DOUBLE) * 1000000.0)
        |    - CAST(sx_old AS DOUBLE) / (CAST(n_old AS DOUBLE) * 1000000.0)
        |    AS delta
        |FROM m ORDER BY i""".stripMargin,

    // Same unigram/bigram integer counts, same
    // ln((n_ab/n_bi) / ((n_a/n_tok)*(n_b/n_tok))) association order,
    // round-6, same (pmi DESC, a, b) order at the k boundary.
    "text_pmi_collocations" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
        |), uni AS (
        |  SELECT term, COUNT(*) AS n FROM toks GROUP BY term
        |), nt AS (
        |  SELECT COUNT(*) AS n_tok FROM toks
        |), bgs AS (
        |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1])) AS bg
        |  FROM (SELECT string_split(text, ' ') AS t FROM documents) s
        |), nb AS (
        |  SELECT COUNT(*) AS n_bi FROM bgs
        |), bc AS (
        |  SELECT bg, COUNT(*) AS n_ab FROM bgs GROUP BY bg
        |  HAVING COUNT(*) >= 5
        |)
        |SELECT string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b,
        |  n_ab, ua.n AS n_a, ub.n AS n_b,
        |  round(ln((CAST(n_ab AS DOUBLE) / n_bi)
        |    / ((CAST(ua.n AS DOUBLE) / n_tok)
        |       * (CAST(ub.n AS DOUBLE) / n_tok))), 6) AS pmi
        |FROM bc CROSS JOIN nt CROSS JOIN nb
        |JOIN uni ua ON ua.term = string_split(bg, ' ')[1]
        |JOIN uni ub ON ub.term = string_split(bg, ' ')[2]
        |ORDER BY pmi DESC, a, b LIMIT 30""".stripMargin,

    // SQ8 replayed exactly: float extrema are exact, the quantize /
    // dequantize chain is pinned double arithmetic on non-negative
    // round inputs (HALF_UP = away-from-zero there); err snaps to the
    // 9-dp grid and is SQUARED in exact decimal arithmetic — a fine
    // (12-dp) cast of the raw double err^2 flaked 3 cells in 320k at
    // sf0.1 (engine-dependent boundary rounding).
    "embed_sq8_error" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), x AS (
        |  SELECT vec_id, i, v[i+1] AS x
        |  FROM e CROSS JOIN generate_series(0, 63) AS g(i)
        |), st AS (
        |  SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM x GROUP BY i
        |), q AS (
        |  SELECT x.vec_id,
        |    x.x - (CASE WHEN st.hi = st.lo THEN st.lo
        |      ELSE st.lo + LEAST(GREATEST(
        |          round((x.x - st.lo) / ((st.hi - st.lo) / 255), 0), 0), 255)
        |        * ((st.hi - st.lo) / 255) END) AS err
        |  FROM x JOIN st USING (i)
        |)
        |SELECT vec_id,
        |  round(CAST(SUM(CAST(CAST(round(err, 9) AS DECIMAL(12,9))
        |      * CAST(round(err, 9) AS DECIMAL(12,9)) AS DECIMAL(32,18)))
        |    AS DOUBLE) / COUNT(*), 12) AS mse,
        |  MAX(round(ABS(err), 9)) AS max_abs_err
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // Covariance replayed cell-for-cell in exact integer micro-units:
    // per-term cast to decimal(18,6) then ×1e6 → integer sums, then
    // the centering identity (n·P·1e6 − X_i·X_j) over n²·1e6 rounded
    // half-away-from-zero by INTEGER division — the round never
    // touches a double, so Spark decimal and DuckDB HUGEINT agree
    // bit-for-bit (the r7 mismatch was round-6 applied to a double).
    // Moments in exact integer micro-units: per-ELEMENT rounding
    // (xu = round6(x)·1e6 — the embed_drift_means chain), then pure
    // integer product sums P = Σ xu_i·xu_j and the centering identity
    // cov = (n·P − X_i·X_j)/(n²·1e12), round-6 as a half-away integral
    // division — every quantity exact in both engines (the Spark side
    // is a single treeAggregate over longs; Pca.momentsPass).
    "pca_covariance" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), u AS (
        |  SELECT vec_id, CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS i,
        |    CAST(CAST(unnest(v) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xu
        |  FROM e
        |), cells AS (
        |  SELECT a.i AS i, b.i AS j,
        |    CAST(SUM(a.xu * b.xu) AS HUGEINT) AS sprod_pu,
        |    COUNT(*) AS n
        |  FROM u a JOIN u b ON a.vec_id = b.vec_id AND b.i >= a.i
        |  GROUP BY 1, 2
        |), means AS (
        |  SELECT i, CAST(SUM(xu) AS HUGEINT) AS sx_u FROM u GROUP BY i
        |), t AS (
        |  SELECT c.i, c.j,
        |    CAST(c.n AS HUGEINT) * c.sprod_pu - mi.sx_u * mj.sx_u AS num,
        |    CAST(c.n AS HUGEINT) * c.n * 1000000 AS den
        |  FROM cells c JOIN means mi ON mi.i = c.i JOIN means mj ON mj.i = c.j
        |)
        |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
        |  CAST(CASE WHEN num < 0 THEN -((2 * (-num) + den) // (2 * den))
        |            ELSE (2 * num + den) // (2 * den) END AS DOUBLE)
        |    / 1000000 AS cov
        |FROM t ORDER BY i, j""".stripMargin,

    "tokens_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
        |)
        |SELECT term, COUNT(*) AS n FROM toks GROUP BY term
        |ORDER BY n DESC, term LIMIT 30""".stripMargin,

    // The sketch replayed cell-for-cell: same md5 hex-pair buckets
    // (strpos arithmetic here, conv() on the Spark side — both parse
    // two lowercase hex chars to 0..255), same d×w cell counts, same
    // min-over-rows estimate. CMS is deterministic given the hash
    // family, so n_est hash-matches, not just n_exact.
    "tokens_cms_estimate" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
        |), entries AS (
        |  SELECT i AS row_i,
        |    (strpos('0123456789abcdef', substr(md5(term), 2*i+1, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(md5(term), 2*i+2, 1)) - 1)
        |      AS bucket
        |  FROM toks CROSS JOIN generate_series(0, 3) AS g(i)
        |), sketch AS (
        |  SELECT row_i, bucket, COUNT(*) AS c FROM entries GROUP BY 1, 2
        |), exact AS (
        |  SELECT term, COUNT(*) AS n_exact FROM toks GROUP BY term
        |  ORDER BY n_exact DESC, term LIMIT 30
        |), probes AS (
        |  SELECT e.term, e.n_exact, i AS row_i,
        |    (strpos('0123456789abcdef', substr(md5(e.term), 2*i+1, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(md5(e.term), 2*i+2, 1)) - 1)
        |      AS bucket
        |  FROM exact e CROSS JOIN generate_series(0, 3) AS g(i)
        |)
        |SELECT p.term, p.n_exact, MIN(s.c) AS n_est,
        |  MIN(s.c) - p.n_exact AS overest
        |FROM probes p JOIN sketch s USING (row_i, bucket)
        |GROUP BY p.term, p.n_exact
        |ORDER BY n_exact DESC, term""".stripMargin,

    // The Bloom path's oracle is the EXACT decontamination answer: at
    // the configured sketch size the filter's false-positive set is
    // empty on the fixture, so probabilistic and exact survivors agree
    // row-for-row (the sketch is deterministic — same bits every build).
    "decontaminate_bloom" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' ')) - 4, 1)),
        |    i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))) AS sh
        |  FROM documents
        |), bench AS (
        |  SELECT DISTINCT sh FROM sh WHERE doc_id % 10 = 0
        |), contam AS (
        |  SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (sh)
        |  WHERE s.doc_id % 10 <> 0
        |)
        |SELECT d.doc_id, d.n_chars FROM documents d
        |WHERE d.doc_id % 10 <> 0
        |  AND d.doc_id NOT IN (SELECT doc_id FROM contam)
        |ORDER BY d.doc_id""".stripMargin,

    // Same segmentation (aligned 16-token windows), same canonical
    // keeper (least (doc_id, seg_idx), via the window rank), same
    // in-order reassembly. n_segs arithmetic mirrors the Spark side's
    // ceil(len/16) with the empty-tokens guard irrelevant here (the
    // fixture has no empty texts; string_split('',' ') = [''] on both
    // engines anyway).
    "dedup_paragraphs" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), segs AS (
        |  SELECT doc_id, i AS seg_idx,
        |    array_to_string(t[(i*16+1):(i*16+16)], ' ') AS seg
        |  FROM toks CROSS JOIN generate_series(0, 255) AS g(i)
        |  WHERE i * 16 < len(t)
        |), keep AS (
        |  SELECT doc_id, seg_idx, seg,
        |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
        |  FROM segs
        |), rebuilt AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(seg, ' ' ORDER BY seg_idx) AS text_dedup
        |  FROM keep WHERE rn = 1 GROUP BY doc_id
        |)
        |SELECT t.doc_id,
        |  CAST(floor((len(t.t) - 1) / 16.0) AS BIGINT) + 1 AS n_segs,
        |  COALESCE(r.n_kept, 0) AS n_kept,
        |  COALESCE(r.text_dedup, '') AS text_dedup
        |FROM toks t LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    // Same segment stream; a segment in > 2 distinct docs is stripped
    // from every doc (no first-occurrence survivor).
    "dedup_boilerplate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), segs AS (
        |  SELECT doc_id, i AS seg_idx,
        |    array_to_string(t[(i*16+1):(i*16+16)], ' ') AS seg
        |  FROM toks CROSS JOIN generate_series(0, 255) AS g(i)
        |  WHERE i * 16 < len(t)
        |), df AS (
        |  SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY seg
        |), kept AS (
        |  SELECT s.doc_id, s.seg_idx, s.seg
        |  FROM segs s JOIN df USING (seg) WHERE df.df <= 2
        |), rebuilt AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(seg, ' ' ORDER BY seg_idx) AS text_clean
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT t.doc_id,
        |  CAST(floor((len(t.t) - 1) / 16.0) AS BIGINT) + 1 AS n_segs,
        |  COALESCE(r.n_kept, 0) AS n_kept,
        |  COALESCE(r.text_clean, '') AS text_clean
        |FROM toks t LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin
  )
}
