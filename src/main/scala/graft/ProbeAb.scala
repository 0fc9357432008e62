package graft

import graft.Profile.step
import graft.ext.{AnnIndex, Artifact, BigramModel, Dedup, InvertedIndex, LanguageModel, Similarity, TrainingSet}
import graft.stream.IncrementalIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Named probes that [[graft.Profile]] runs like registered queries:
  *
  *   SPARK_GRAFT_SF_DIR=<fixture> sbt "runMain graft.Profile index_lifecycle cc"
  *
  * A lifecycle probe rebuilds one artifact from nothing and walks it
  * through its build, append, remove, compact or refresh steps; each
  * step's wall is a named action of the run ([[Profile.step]]). The
  * warm serve numbers are the registered queries over the same
  * artifacts (`sim_*_topk`, `search_bm25`, `j5_bucketed_join`, …). A
  * claim that is a check `require`s, so a broken one fails the run; a
  * claim that is only measured is the probe's result frame, one row per
  * violation, so `rows` 0 means pass.
  */
object ProbeAb {

  /** A fixed 500-document batch under ids clear of any corpus: its
    * append and removal cost must track the batch, not the corpus.
    */
  private def syntheticBatch(s: SparkSession, text: String): DataFrame =
    s.range(500).select((col("id") + 2000000000L).as("doc_id"),
      concat(lit(text), col("id")).as("text"))

  /** Re-ensures an artifact after an append and a removal of the same
    * batch: the subtracted fingerprint must land back on the corpus's,
    * so the ensure serves. A drift in the fingerprint arithmetic would
    * rebuild, and the metadata line would change.
    */
  private def requireRoundTrip(s: SparkSession, dir: String)(ensure: => Unit): Unit = {
    val meta = Artifact.readMeta(s, dir)
    ensure
    require(Artifact.readMeta(s, dir) == meta,
      s"$dir: append+remove must round-trip the fingerprint (ensure rebuilt)")
  }

  /** Scratch directory of a probe, one per fixture. */
  private def scratch(kind: String, d: String): String =
    s"target/$kind/${new java.io.File(d).getName}"

  /** Expected vectors per SemDeDup cell: 16 cells on sf0.1's 2,000. */
  private val SemanticCellSize = 125

  def probes: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the distributed connected-components engine on the MinHash
    // near-duplicate pair graph, which grows with the fixture
    "cc" -> ((s, d) => {
      val dir = Dedup.ensurePairs(s, Tables.documents(s, d), s"${Artifact.root(d)}/neardup")
      Dedup.duplicateGroupsDistributed(Dedup.loadPairs(s, dir))
    }),
    // each persisted ANN index built from nothing
    "ann_build" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val root = AnnIndex.defaultRoot(d)
      Seq[(String, String, String => String)](
        ("ivf", "ivf_c16", AnnIndex.ensureIvf(s, emb, _)),
        ("pq", "pq_m8", AnnIndex.ensurePq(s, emb, _)),
        ("ivfpq", "ivfpq_c16_m8", AnnIndex.ensureIvfPq(s, emb, _)),
        ("srp", "srp_h8t4", AnnIndex.ensureSrp(s, emb, _))).foreach {
        case (name, sub, ensure) =>
          Fs.deleteTree(s"$root/$sub")
          step(s"${name}_build")(ensure(s"$root/$sub"))
      }
      s.emptyDataFrame
    }),
    // the inverted index: build ∝ corpus, append and remove ∝ batch
    "index_lifecycle" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = s"${Artifact.root(d)}/invindex"
      val batch = syntheticBatch(s, "appended index row tokens ")
      Fs.deleteTree(dir)
      step("build")(InvertedIndex.ensureIndex(s, docs, dir))
      step("append_batch")(InvertedIndex.ledger.append(s, batch, dir))
      step("remove_batch")(InvertedIndex.ledger.remove(s, batch, dir))
      requireRoundTrip(s, dir)(InvertedIndex.ensureIndex(s, docs, dir))
      step("compact")(InvertedIndex.ledger.compact(s, dir))
      s.emptyDataFrame
    }),
    // the unigram and bigram models' lifecycles, then SemDeDup pair
    // search at 16 cells (within-cell work grows with the corpus) and
    // at a constant expected cell size (it does not)
    "lm_lifecycle" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val batch = syntheticBatch(s, "appended tokens row ")
      val lmDir = s"${Artifact.root(d)}/unigram_lm"
      Fs.deleteTree(lmDir)
      step("build")(LanguageModel.ensureLm(s, docs, lmDir))
      step("score")(GraftSession.forceAndCount(LanguageModel.score(s, docs, lmDir)))
      step("append_batch")(LanguageModel.ledger.append(s, batch, lmDir))
      step("remove_batch")(LanguageModel.ledger.remove(s, batch, lmDir))
      requireRoundTrip(s, lmDir)(LanguageModel.ensureLm(s, docs, lmDir))
      val lm2Dir = s"${Artifact.root(d)}/bigram_lm"
      Fs.deleteTree(lm2Dir)
      step("lm2_build")(BigramModel.ensureLm2(s, docs, lm2Dir))
      step("lm2_score")(GraftSession.forceAndCount(BigramModel.score2(s, docs, lm2Dir)))
      step("lm2_append_batch")(BigramModel.ledger.append(s, batch, lm2Dir))
      step("lm2_remove_batch")(BigramModel.ledger.remove(s, batch, lm2Dir))
      requireRoundTrip(s, lm2Dir)(BigramModel.ensureLm2(s, docs, lm2Dir))
      val emb = Tables.embeddings(s, d)
      val cells = math.max(16, math.round(emb.count().toDouble / SemanticCellSize).toInt)
      Seq(16, cells).distinct.foreach { n =>
        step(s"semantic_cells$n")(
          GraftSession.forceAndCount(Similarity.semanticTopKPairs(emb, nCells = n)))
      }
      s.emptyDataFrame
    }),
    // the shard export: build ∝ corpus; append, replay, remove and
    // compact of a fixed 500-document batch ∝ batch
    "export_lifecycle" -> ((s, d) => {
      val dir = scratch("export_scale", d)
      val corpus = Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang"))
      val batch = corpus.orderBy(col("doc_id")).limit(500)
        .withColumn("doc_id", col("doc_id") + 10000000L).localCheckpoint()
      Fs.deleteTree(dir)
      step("build")(TrainingSet.writeShards(s, corpus, dir, nShards = 8))
      step("append")(TrainingSet.appendShards(s, batch, dir))
      step("replay")(TrainingSet.appendShards(s, batch, dir))
      val removed = batch.orderBy(col("doc_id")).limit(50).localCheckpoint()
      step("remove")(TrainingSet.removeFromShards(s, removed, dir))
      step("compact")(TrainingSet.compactShards(s, dir))
      s.emptyDataFrame
    }),
    // streaming ingest: a fixed 50-document batch held out of the seed
    // corpus, its replay, then 50 corpus documents under fresh ids —
    // one row per clone the LSH admission let through
    "ingest_lifecycle" -> ((s, d) => {
      val root = scratch("ingest_scale", d)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val held = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .orderBy(col("doc_id")).limit(50).localCheckpoint()
      val seed = docs.join(held.select(col("doc_id")), Seq("doc_id"), "left_anti")
      val batch = held.withColumn("doc_id", col("doc_id") + 10000000L)
      val clones = seed.orderBy(col("doc_id")).limit(50)
        .withColumn("doc_id", col("doc_id") + 20000000L).localCheckpoint()
      Fs.deleteTree(root)
      step("init")(IncrementalIngest.init(s, seed, root))
      step("ingest_batch")(IncrementalIngest.ingestBatch(s, batch, root))
      step("replay")(IncrementalIngest.ingestBatch(s, batch, root))
      val caught = step("dup_batch")(IncrementalIngest.ingestBatch(s, clones, root))
      s.range(clones.count() - caught.rejectedVsCorpus).toDF()
    }),
    // the day-partitioned serving store over a fixture copy: build, a
    // no-op re-ensure, then one planted event in one day — the refresh
    // pays that day, not history
    "serve_refresh" -> ((s, d) => {
      val work = s"${scratch("servescale", d)}_fx"
      // events rewritten (the plant mutates them), the rest linked:
      // Fs.deleteTree removes a link, never its target
      Fs.deleteTree(work)
      new java.io.File(work).mkdirs()
      Tables.table(s, d, "events").repartition(4).write.parquet(s"$work/events.parquet")
      Seq("customer", "lineitem").foreach { t =>
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(s"$work/$t.parquet"),
          java.nio.file.Paths.get(s"$d/$t.parquet").toAbsolutePath)
      }
      Fs.deleteTree(s"${Artifact.root(work)}/serving_daily")
      step("build")(serve.KeyValue.ensureStoreDaily(s, work))
      step("noop_check")(serve.KeyValue.ensureStoreDaily(s, work))
      val ev = s.read.parquet(s"$work/events.parquet").localCheckpoint()
      ev.unionByName(ev.orderBy(col("ts")).limit(1).withColumn("value", col("value") + 1.0))
        .repartition(4).write.mode("overwrite").parquet(s"$work/events.parquet.new")
      Fs.deleteTree(s"$work/events.parquet")
      new java.io.File(s"$work/events.parquet.new")
        .renameTo(new java.io.File(s"$work/events.parquet"))
      step("refresh")(serve.KeyValue.ensureStoreDaily(s, work))
      s.emptyDataFrame
    }),
    // the PCA moments on the treeAggregate double path (the exact
    // decimal path is the registered pca_covariance)
    "pca_fast" -> ((s, d) => {
      step("cov_fast")(ext.Pca.covarianceFastMatrix(Tables.embeddings(s, d)))
      s.emptyDataFrame
    }),
    // j5_bucketed_join off the raw parquet: the two join exchanges the
    // bucketed layout removes
    "bucket_raw_join" -> ((s, d) => analytics.Bucketed.salesByPriorityUnbucketed(s, d)),
    // KMV at the production k=256: the estimator-branch groups whose
    // relative error exceeds 4·rse = 4/√254 ≈ 25.1%
    "kmv256_error" -> ((s, d) =>
      analytics.Kpis.genreKpisKmv(analytics.Enrich.enriched(s, d), k = 256)
        .filter(col("uniq_exact") >= 256)
        .filter(abs(col("uniq_kmv") - col("uniq_exact")) / col("uniq_exact") > 0.2510)),
    // funnel skew point: the fixture's event stream plus one synthetic
    // bot user with 10⁶ same-step events — the shape the per-step rank
    // cap exists for (without it this is a single million-element
    // collect_list buffer in one task)
    "funnel_skew" -> ((s, d) => {
      val bot = s.range(1000000L)
        .select(lit(99999999L).as("user_id"), lit("view").as("event_type"),
          (lit(1704067200L) + col("id")).cast("timestamp").as("ts"))
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
        .unionByName(bot)
      analytics.Kpis.funnelWindowed(ev,
        Seq("signup", "view", "click", "purchase"), maxGapDays = 7)
        .orderBy(col("step"))
    }),
    // a17 decomposition: the sketch-only serving twin (two full-data
    // passes — ranges, bins — since `ranges` is checkpointed)…
    "a17_serve" -> ((s, d) =>
      analytics.Quantiles.histogramQuantileServe(Tables.lineitem(s, d))
        .drop("width_u")),
    // …vs the full gate report (sketch + histogram-guided exact rider)
    "a17_full" -> ((s, d) =>
      analytics.Quantiles.histogramQuantiles(Tables.lineitem(s, d))),
    // …vs the irreducible floor: one aggregate pass over the cents
    "a17_ranges" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("c"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("c")).as("mn"), max(col("c")).as("mx"),
          count(lit(1)).as("n"))))
}
