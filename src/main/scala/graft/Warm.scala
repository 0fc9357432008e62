package graft

import graft.ext.{AnnIndex, Artifact, Dedup}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Explicit artifact warm phase: build every persisted artifact the
  * query set serves from (near-dup pair table, dedup band index, the
  * four ANN indexes, the key-value serving store) in one place, so
  * Bench/Verify per-query numbers measure SERVE cost — not the cold
  * build of whichever consumer happens to run first alphabetically.
  * Paths must match the query wiring in [[graft.ext.ExtQueries]] /
  * [[graft.serve.KeyValue]] exactly; `ensure` makes a second call a
  * fingerprint check, so warming an already-built fixture is cheap.
  */
object Warm {

  /** Registered queries given one untimed steady-state serve at the end
    * of [[ensureAll]] — each is the first bench consumer of an artifact
    * / datasource family whose one-time JIT / listing / init cost would
    * otherwise land in its measured window. Names are asserted against
    * `SparkEntry.queries` at warm time (a rename must fail loud, not
    * silently stop warming).
    */
  val warmServeQueries: Seq[String] = Seq(
    "tokens_cms_estimate",    // CMS kernel + token-stream codegen
    "tokens_heavy_hitters",   // exact top-k twin of the same stream
    "search_bm25",            // inverted-index bucket read
    "train_holdout_split",    // near-dup pair artifact read + split
    "train_pack",             // pack window codegen
    "train_shard_manifest",   // shard-directory listing + footer reads
    "p5_p8_validate_events",  // validate-chain codegen
    "s7_binary_source",       // binaryFile datasource init
    "s5_avro_roundtrip",      // avro datasource init
    "s6_schema_evolution")    // mergeSchema listing path

  /** CLI: `runMain graft.Warm [sfDir]` — the warm phase alone, for
    * measuring build_sec without a full bench run (pair with
    * `SPARK_GRAFT_WARM_DEBUG=1` for the per-step breakdown).
    */
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    // same untimed fixture warmup as Bench, so the step breakdown below
    // measures what the bench's build_sec sees (not cold-JVM parquet
    // init charged to whichever step runs first)
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"))
      try spark.read.parquet(s"$d/$t.parquet").foreach(_ => ())
      catch { case _: Throwable => () }
    println(f"[warm] total ${ensureAll(spark, d)}%.1f s")
    spark.stop()
  }

  /** Per-step wall timing, printed when `SPARK_GRAFT_WARM_DEBUG` is set
    * — the warm phase is 30%+ of a gate line, so WHERE it goes must be
    * measurable without code edits.
    */
  private val debugSteps = sys.env.contains("SPARK_GRAFT_WARM_DEBUG")
  private def step[A](name: String)(f: => A): A = {
    val t = System.nanoTime()
    val r = f
    if (debugSteps)
      println(f"[warm] $name ${(System.nanoTime() - t) / 1e9}%.2f s")
    r
  }

  /** Run independent step-chains CONCURRENTLY on a bounded pool (guide
    * §2.6: actions are only sequential because the driver calls them
    * sequentially — overlapping independent jobs back-fills executor
    * capacity each tiny build/freshness job leaves idle; the serial
    * warm spent ~25 s steady-state on ~60 steps whose median job keeps
    * <10% of the machine busy). Steps WITHIN a chain run in order;
    * chains are arranged so no two chains ever touch the same artifact
    * directory ([[graft.ext.Artifact.ensure]] has no cross-thread
    * lock). Thread count scales with the session's core count, never a
    * local constant. Fail-fast semantics are preserved: the first
    * chain failure is rethrown after all chains settle (so no build is
    * left mid-flight when the caller sees the error).
    */
  private def runChains(spark: SparkSession,
                        chains: Seq[Seq[(String, () => Any)]]): Unit = {
    val threads = math.max(2, math.min(8, spark.sparkContext.defaultParallelism / 2))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = chains.map { chain =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = chain.foreach { case (name, f) => step(name)(f()) }
        })
      }
      var firstFailure: Option[Throwable] = None
      futures.foreach { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          if (firstFailure.isEmpty) firstFailure = Some(e.getCause)
        }
      }
      firstFailure.foreach(throw _)
    } finally pool.shutdown()
  }

  /** Build (or freshness-check) all artifacts for a fixture dir; returns
    * wall seconds spent — reported by Bench as `build_sec` so the
    * per-query numbers stay honest.
    */
  def ensureAll(spark: SparkSession, d: String): Double = {
    val t0 = System.nanoTime()
    val docs = Tables.documents(spark, d)
    val emb = Tables.embeddings(spark, d)
    val seedDocs = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    // Dependency chains (see [[runChains]]): an artifact and everything
    // that reads or re-ensures its directory share one chain —
    //  - dupgroups keys on the neardup pair artifact;
    //  - warmVocab primes the cached vocab of its just-ensured LM;
    //  - streamCurated internally ensures unigram_lm_seed
    //    (stream_curated_corpus's quality gate scores against it);
    //  - the serving store build ensures the media feature store
    //    (KeyValue.scala's media profile family), so serving and
    //    servingDaily follow mediaFeatures.
    runChains(spark, Seq(
      Seq("neardup" -> (() => Dedup.ensurePairs(spark, docs, s"${Artifact.root(d)}/neardup")),
        "dupgroups" -> (() => Dedup.ensureGroups(spark, s"${Artifact.root(d)}/neardup",
          s"${Artifact.root(d)}/dupgroups"))),
      Seq("bandindex" -> (() => Dedup.ensureBandIndex(spark, seedDocs,
        s"${Artifact.root(d)}/bandindex"))),
      // containment index twins: full corpus (serves dedup_containment /
      // dedup_apply_containment) and the %10≠0 slice (the indexed corpus
      // dedup_containment_incr probes) — the posting-stats exchange runs
      // here, once, not per query
      Seq("containment" -> (() => Dedup.ensureContainment(spark, docs,
        s"${Artifact.root(d)}/containment"))),
      Seq("containment_corpus" -> (() => Dedup.ensureContainment(spark, seedDocs,
        s"${Artifact.root(d)}/containment_corpus"))),
      Seq("shards" -> (() => graft.ext.TrainingSet.writeShards(spark, docs,
        s"${Artifact.root(d)}/shards"))),
      // prime the cached vocabs right after each LM: the first
      // scorer would otherwise pay the one-time ledger netting inside
      // its own per-query measurement
      Seq("unigram_lm" -> (() => graft.ext.LanguageModel.ensureLm(spark, docs,
          s"${Artifact.root(d)}/unigram_lm")),
        "warmVocab:unigram_lm" -> (() => graft.ext.LanguageModel.warmVocab(spark,
          s"${Artifact.root(d)}/unigram_lm"))),
      Seq("unigram_lm_target" -> (() => graft.ext.LanguageModel.ensureLm(spark,
          docs.filter(col("lang") === "en"), s"${Artifact.root(d)}/unigram_lm_target")),
        "warmVocab:unigram_lm_target" -> (() => graft.ext.LanguageModel.warmVocab(spark,
          s"${Artifact.root(d)}/unigram_lm_target"))),
      // seed-slice LM: the stream_curated_corpus quality gate scores
      // against a model trained on the seed (doc_id%10<>0) corpus only;
      // the curated-ingest lifecycle (root seeded + wire spool streamed
      // once; the query measures replay+serve) re-ensures the same LM
      // dir, so it stays in this chain
      Seq("unigram_lm_seed" -> (() => graft.ext.LanguageModel.ensureLm(spark, seedDocs,
          s"${Artifact.root(d)}/unigram_lm_seed")),
        "warmVocab:unigram_lm_seed" -> (() => graft.ext.LanguageModel.warmVocab(spark,
          s"${Artifact.root(d)}/unigram_lm_seed")),
        "streamCurated" -> (() => graft.stream.StreamQueries.ensureCurated(spark, d))),
      Seq("nbclass" -> (() => graft.ext.Classifier.ensureNb(spark,
          graft.ext.Classifier.fixtureSeed(docs), s"${Artifact.root(d)}/nbclass")),
        "warmServing:nb" -> (() => graft.ext.Classifier.warmServing(spark,
          s"${Artifact.root(d)}/nbclass"))),
      Seq("lrclass" -> (() => graft.ext.LrClassifier.ensureLrFixture(spark, docs,
        s"${Artifact.root(d)}/lrclass"))),
      Seq("bigram_lm" -> (() => graft.ext.BigramModel.ensureLm2(spark, docs,
          s"${Artifact.root(d)}/bigram_lm")),
        "warmServing:bigram" -> (() => graft.ext.BigramModel.warmServing(spark,
          s"${Artifact.root(d)}/bigram_lm"))),
      Seq("invindex" -> (() => graft.ext.InvertedIndex.ensureIndex(spark, docs,
        s"${Artifact.root(d)}/invindex"))),
      // per-doc media fixture files (s7_binary_source reads the SCAN;
      // the one-time 5000-file staging belongs here, not in its window)
      Seq("mediaFiles" -> (() => graft.ext.Multimodal.ensureMediaFiles(spark, d)),
        "mediaGateSpool" -> (() => graft.ext.Multimodal.ensureMediaGateSpool(spark, d))),
      // decode-once media feature store: the ONE tri-modal decode pass —
      // every mm_*/video_*/audio_* serve and the media dedup/decon/gate
      // families read stored features instead of re-decoding payloads.
      // The incremental-admission twin (the %10≠0 seed slice the
      // mm_features_incr query appends tonight's batch onto) follows;
      // then the serving stores, whose build ensures the feature store.
      Seq("mediaFeatures" -> (() => graft.ext.MediaFeatures.ensure(spark,
          Tables.documents(spark, d), graft.ext.MediaFeatures.defaultDir(d))),
        "mediaFeaturesSeed" -> (() => graft.ext.MediaFeatures.ensureSeedOrUnion(spark,
          Tables.documents(spark, d).filter(pmod(col("doc_id"), lit(10)) =!= 0),
          Tables.documents(spark, d), graft.ext.MediaFeatures.seedDir(d))),
        // serving store: build AND the load-once memory materialization
        "serving" -> (() => graft.serve.KeyValue.servingTableCached(spark, d)),
        // incremental day-partitioned store (l1_metric_lookup_daily):
        // build AND the load-once materialization (the day layout's many
        // partition directories make per-query listing the dominant cost)
        "servingDaily" -> (() => graft.serve.KeyValue.dailyStoreCached(spark, d))),
      // streamed media-ingest lifecycle (stream_media_corpus): store
      // seeded (one decode pass) under its OWN root, arrival spool
      // written and streamed once here; the query measures the
      // replay-storm serve
      Seq("streamMedia" -> (() => graft.stream.StreamQueries.ensureMediaIngest(spark, d))),
      // cached per application (see Bpe.trained): loaded
      // here so no bpe_* query pays the training cost as first consumer
      Seq("bpe" -> (() => graft.ext.Bpe.trained(spark, docs, d))),
      // release-chain cache: one text-release pass now serves two
      // registered queries (corpus_release, corpus_release_mm)
      Seq("release" -> (() => graft.ext.Release.releaseCached(spark, docs))),
      Seq("ann:ivf" -> (() => AnnIndex.ensureIvf(spark, emb, s"${AnnIndex.defaultRoot(d)}/ivf_c16"))),
      Seq("ann:pq" -> (() => AnnIndex.ensurePq(spark, emb, s"${AnnIndex.defaultRoot(d)}/pq_m8"))),
      Seq("ann:ivfpq" -> (() => AnnIndex.ensureIvfPq(spark, emb,
        s"${AnnIndex.defaultRoot(d)}/ivfpq_c16_m8"))),
      Seq("ann:srp" -> (() => AnnIndex.ensureSrp(spark, emb, s"${AnnIndex.defaultRoot(d)}/srp_h8t4"))),
      // co-located bucketed fact tables (j5_bucketed_join)
      Seq("bucketed" -> (() => graft.analytics.Bucketed.ensureTables(spark, d))),
      // decontamination-gate sketch (stream_decon_corpus): the benchmark
      // cardinality pass + adaptive Bloom build happen here, so the timed
      // query measures only the streamed per-row probe
      Seq("deconSketch" -> (() => graft.stream.StreamQueries.deconSketch(spark, d)))))
    // One untimed steady-state serve per remaining artifact/expression
    // family (r10 advice #1): the fixture-table page-cache warmup above
    // fixed the document-table families, but on a fresh host the FIRST
    // serve of several families still pays one-time JIT / datasource
    // init / directory-listing cost inside its measured window — the
    // round-10 gate charged tokens_cms_estimate 5.25 s vs 0.73 s in the
    // builder's same-commit run (search_bm25 3.3 vs 0.9, train_* 4-5×).
    // Running the actual registered query once here moves that cost
    // into build_sec, so the per-query numbers measure the plan. Serves
    // run AFTER every artifact chain (they read the artifacts) and are
    // mutually independent (distinct queries, distinct scratch dirs),
    // so they share the same concurrent pool.
    val missing = warmServeQueries.filterNot(SparkEntry.queries.contains)
    // fail LOUD on a renamed query: the catch below is for transient
    // serve failures only — a stale name here would silently stop
    // warming a family and re-introduce first-serve inflation
    require(missing.isEmpty, s"Warm.warmServeQueries not in SparkEntry.queries: ${missing.mkString(", ")}")
    runChains(spark, warmServeQueries.map { q =>
      Seq(s"serve:$q" -> (() =>
        try GraftSession.forceAndCount(SparkEntry.queries(q)(spark, d))
        catch { case _: Throwable => () })) // warm-only: Bench reports real failures
    })
    (System.nanoTime() - t0) / 1e9
  }
}
