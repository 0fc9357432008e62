package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Committed A/B probe harness behind the SCALING.md kernel claims —
  * so every "native kernel vs compositional tree" number in the doc is
  * reproducible from the tree it ships with. Each probe is a named
  * thunk over a fixture directory; [[graft.Profile]] runs them by name
  * like registered queries (run 2 or 3 = the warm number the doc
  * quotes):
  *
  *   sbt "runMain graft.Profile cms_kernel cms_hex"     # CMS A/B
  *   sbt "runMain graft.Profile bpe_stream bpe_kernel bpe_fold"
  *   sbt "runMain graft.Profile cc"                     # distributed CC
  *
  * The BPE trio decomposes the encode family: `bpe_stream` is the
  * word stream alone (explode + filter + per-doc agg, no
  * segmentation), so kernel-vs-fold deltas read against the floor the
  * segmentation can never beat.
  */
object ProbeAb {

  private def wordStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")

  /** The image rep-pair graph the image-group queries feed the CC
    * engine: one representative per distinct dhash, Hamming ≤ 3 pairs.
    */
  private def imageRepPairs(s: SparkSession, d: String): DataFrame = {
    val dir = ext.MediaFeatures.defaultDir(d)
    ext.MediaFeatures.ensure(s, Tables.documents(s, d), dir)
    val sigs = ext.MediaFeatures.features(s, dir)
      .select(col("doc_id"), col("dhash").as("sig"))
      .filter(col("sig").isNotNull)
    val reps = sigs.groupBy(col("sig")).agg(min(col("doc_id")).as("rep_id"))
      .select(col("rep_id").as("doc_id"), col("sig")).localCheckpoint()
    ext.Dedup.hammingPairs(reps, 3, 256).localCheckpoint()
  }

  def probes: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the distributed connected-components engine on the image
    // rep-pair graph, past the driver union-find gate
    "cc" -> ((s, d) => ext.Dedup.duplicateGroupsDistributed(imageRepPairs(s, d))),
    // media-gate decomposition (per-doc .bin arrival shape — the
    // variant the landed parquet-spool gate REPLACED): the same files
    // as a BATCH binaryFile scan + decode + agg (no streaming
    // machinery)…
    "mediagate_batch" -> ((s, d) => {
      val spool = ext.Multimodal.ensureMediaFiles(s, d)
      s.read.format("binaryFile").load(spool)
        .select(functions.native.ppm_decode_stats(col("content")).as("dec"))
        .select(coalesce(col("dec.width"), lit(-1L)).as("width"),
          coalesce(col("dec.r_sum"), lit(0L)).as("r_sum"))
        .groupBy(col("width"))
        .agg(count(lit(1)).as("n_docs"), sum(col("r_sum")).as("total_r"))
    }),
    // …vs the stream WITHOUT the decode (file-stream bookkeeping floor)
    "mediagate_stream_floor" -> ((s, d) => {
      val spool = ext.Multimodal.ensureMediaFiles(s, d)
      import org.apache.spark.sql.types._
      val binSchema = StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType)))
      val out = stream.StreamQueries.scratchDir("probe-mg-sink")
      val ckpt = stream.StreamQueries.scratchDir("probe-mg-ckpt")
      val q = s.readStream.format("binaryFile").schema(binSchema).load(spool)
        .select(length(col("content")).as("len"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(out).agg(sum(col("len")).as("total"))
    }),
    // hist-neighbors decomposition: decode floor alone…
    "mmnn_decode" -> ((s, d) =>
      ext.Multimodal.decodeStats(
          ext.Multimodal.withFakeMedia(Tables.documents(s, d)))
        .select(col("doc_id"), col("hist").cast("array<double>").as("vec"))
        .agg(sum(element_at(col("vec"), 1)).as("probe"))),
    // …then the broadcast pair scan without the top-k window
    "mmnn_join" -> ((s, d) => {
      val hists = ext.Multimodal.decodeStats(
          ext.Multimodal.withFakeMedia(Tables.documents(s, d)))
        .select(col("doc_id"), col("hist").cast("array<double>").as("vec"))
      val queries = hists.filter(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"), col("vec").as("q_vec"))
      hists.join(broadcast(queries), col("q_id") =!= col("doc_id"))
        .select(functions.native.cosine_sim(col("q_vec"), col("vec")).as("cos"))
        .agg(sum(col("cos")).as("probe"))
    }),
    // CMS sketch build: one digest + byte-mask loop per token…
    "cms_kernel" -> ((s, d) =>
      ext.Sketches.cmsBuild(ext.Sketches.tokenStream(Tables.documents(s, d)))),
    // …vs the d×(substring + base-conv) expression tree the oracle replays
    "cms_hex" -> ((s, d) =>
      ext.Sketches.tokenStream(Tables.documents(s, d))
        .select(posexplode(ext.Sketches.bucketsHex(col("term"), 4))
          .as(Seq("row_i", "bucket")))
        .groupBy(col("row_i"), col("bucket"))
        .agg(count(lit(1)).as("c"))),
    // BPE word stream floor: no segmentation at all
    "bpe_stream" -> ((s, d) =>
      wordStream(Tables.documents(s, d))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(length(col("w"))).as("n_tokens"))),
    // native single-loop kernel per word
    "bpe_kernel" -> ((s, d) => {
      val merges = ext.Bpe.trained(s, Tables.documents(s, d), d)._1
      wordStream(Tables.documents(s, d))
        .withColumn("k", functions.native.bpe_token_count(col("w"),
          merges.map(_.lhs).toArray, merges.map(_.rhs).toArray))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("k")).as("n_tokens"))
    }),
    // whole-document kernel: split + segmentation in one call, no explode
    "bpe_doc" -> ((s, d) => {
      val merges = ext.Bpe.trained(s, Tables.documents(s, d), d)._1
      ext.Bpe.encodeStats(Tables.documents(s, d), merges)
    }),
    // curated replay decomposition: serve only (corpus read + sort)…
    "curated_serve" -> ((s, d) => {
      val (root, _, _, _) = stream.StreamQueries.ensureCurated(s, d)
      stream.IncrementalIngest.corpus(s, root).orderBy(col("doc_id"))
    }),
    // …vs the full registered replay+serve shape
    "curated_full" -> ((s, d) =>
      stream.StreamQueries.queries("stream_curated_corpus")(s, d)),
    // …vs the LM gate alone over the replayed slice
    "curated_lm" -> ((s, d) => {
      val (_, _, lmDir, _) = stream.StreamQueries.ensureCurated(s, d)
      val batch = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"), col("text"))
      ext.LanguageModel.score(s, batch, lmDir, 4096)
        .filter(col("mean_nll") <= 3.40625).select(col("doc_id"))
    }),
    // …vs the admission chain as one BATCH call (no streaming runtime):
    // isolates micro-batch machinery cost from the gates themselves
    "curated_batch" -> ((s, d) => {
      val (root, spool, lmDir, wireSchema) = stream.StreamQueries.ensureCurated(s, d)
      val wire = s.read.schema(wireSchema).parquet(spool)
      val decoded = wire
        .select(from_json(col("value").cast("string"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType)))).as("r"))
        .select(col("r.*"))
      stream.CuratedIngest.ingestBatch(s, decoded, root, lmDir,
        maxMeanNll = 3.40625)
      stream.IncrementalIngest.corpus(s, root).orderBy(col("doc_id"))
    }),
    // …step-timed admission chain (prints [probe-step] lines)
    "curated_steps" -> ((s, d) => {
      val (root, spool, lmDir, wireSchema) = stream.StreamQueries.ensureCurated(s, d)
      def step[T](name: String)(f: => T): T = {
        val t0 = System.nanoTime()
        val r = f
        println(s"[probe-step] $name ${(System.nanoTime() - t0) / 1e9}")
        r
      }
      val wire = s.read.schema(wireSchema).parquet(spool)
      val decoded = wire
        .select(from_json(col("value").cast("string"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType)))).as("r"))
        .select(col("r.*"))
      val b = step("dedup_ckpt")(
        decoded.dropDuplicates("doc_id").localCheckpoint())
      val batchRows = step("count_b")(b.count())
      val keptIds = ext.LanguageModel.score(s, b, lmDir, 4096)
        .filter(col("mean_nll") <= 3.40625).select(col("doc_id"))
      val kept = step("lm_score_ckpt")(
        b.join(broadcast(keptIds), Seq("doc_id"), "left_semi").localCheckpoint())
      val keptRows = step("count_kept")(kept.count())
      val corpusDf = step("corpus_open")(stream.IncrementalIngest.corpus(s, root))
      val seen = corpusDf
        .join(broadcast(kept.select(col("doc_id"))), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), xxhash64(col("text")).as("corpus_h"))
      val marked = kept.withColumn("batch_h", xxhash64(col("text")))
        .join(broadcast(seen), Seq("doc_id"), "left")
      val counters = step("counters_agg")(marked.agg(
        sum(when(col("corpus_h") === col("batch_h"), 1L).otherwise(0L)),
        sum(when(col("corpus_h").isNotNull && col("corpus_h") =!= col("batch_h"),
          1L).otherwise(0L))).head())
      println(s"[probe-step] rows batch=$batchRows kept=$keptRows replayed=${counters.get(0)}")
      corpusDf.limit(1)
    }),
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
    // a17 decomposition: the sketch-only serving twin (should be two
    // full-data passes — ranges, bins — after the r13 checkpoint fix;
    // un-checkpointed it silently re-derived `ranges` inside both
    // broadcasts and paid a third pass)…
    "a17_serve" -> ((s, d) =>
      analytics.Quantiles.histogramQuantileServe(Tables.lineitem(s, d))
        .drop("width_u")),
    // …vs the full gate report (sketch + histogram-guided exact rider)
    "a17_full" -> ((s, d) =>
      analytics.Quantiles.histogramQuantiles(Tables.lineitem(s, d))),
    // …vs the pre-r13 serve shape (no checkpoint on `ranges`: both
    // broadcasts re-derive it from the raw data — one hidden extra pass)
    "a17_serve_nockpt" -> ((s, d) =>
      analytics.Quantiles.histogramQuantileServeNoCkpt(Tables.lineitem(s, d))
        .drop("width_u")),
    // …vs the irreducible floor: one aggregate pass over the cents
    "a17_ranges" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("c"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("c")).as("mn"), max(col("c")).as("mx"),
          count(lit(1)).as("n"))),
    // round-13 additions: the three new registered queries, timeable
    // standalone (containment = bucket-local pair fan-out; markup =
    // pure per-row regex chain; cms_update = streaming sketch +
    // upsert-log replay + probe serve)
    "containment" -> ((s, d) =>
      ext.ExtQueries.queries("dedup_containment")(s, d)),
    // containment decomposition: the shingle/posting floor…
    "cont_posting" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(ext.Dedup.shingleHashes(col("text"), 5)).as("shh"))
        .groupBy(col("shh")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= 64)),
    // …the stats pass as registered (count/min/max, codegen'd)
    "cont_stats" -> ((s, d) => {
      val posting = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(ext.Dedup.shingleHashes(col("text"), 5)).as("shh"))
      posting.groupBy(col("shh"))
        .agg(count(lit(1)).as("df"),
          min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
        .filter(col("df") >= 2 && col("df") <= 64)
    }),
    // …the raw per-doc shingle-hash map pass, no shuffle at all
    "cont_sets" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(ext.Dedup.shingleHashes(col("text"), 5)).as("n"))),
    // …stats (checkpointed) + the df≥3 second pass, cumulative
    "cont_to_lists" -> ((s, d) => {
      val posting = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(ext.Dedup.shingleHashes(col("text"), 5)).as("shh"))
      val stats = posting.groupBy(col("shh"))
        .agg(count(lit(1)).as("df"),
          min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
        .filter(col("df") >= 2 && col("df") <= 64)
        .localCheckpoint()
      val multi = stats.filter(col("df") >= 3).select(col("shh"))
      posting.join(multi, Seq("shh"))
        .groupBy(col("shh")).agg(collect_list(col("doc_id")).as("ids"))
        .select(size(col("ids")).as("n"))
    }),
    "markup" -> ((s, d) =>
      ext.ExtQueries.queries("text_extract_markup")(s, d)),
    "cms_update" -> ((s, d) =>
      stream.StreamQueries.queries("stream_cms_update")(s, d)),
    // the M layered aggregate-fold trees the oracle replays
    "bpe_fold" -> ((s, d) => {
      val merges = ext.Bpe.trained(s, Tables.documents(s, d), d)._1
      wordStream(Tables.documents(s, d))
        .withColumn("k",
          size(ext.Bpe.applyMerges(col("w"), merges)).cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("k")).as("n_tokens"))
    }))
}
