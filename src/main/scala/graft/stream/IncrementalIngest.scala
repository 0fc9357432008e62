package graft.stream

import graft.ext.{Artifact, Dedup}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingestion driving the incremental dedup lifecycle end to
  * end — the integration the persisted artifacts exist for: micro-batches
  * arrive (file drop, Kafka, or a test harness — any [[SourceConfig]]),
  * each batch is admitted exactly once, near-dup-checked against the
  * persisted corpus band index ([[graft.ext.Dedup.ensureBandIndex]]),
  * survivors are folded into the corpus store AND the index in O(batch)
  * ([[graft.ext.Dedup.appendBandIndex]]), and duplicates are rejected
  * with per-batch stats. This is the reference's event-driven
  * arrival→pipeline shape (`dags/etl_pipeline_dag.py:48-63`) applied to
  * the training-data dedup problem: a nightly/continuous feed against a
  * 100 TB indexed corpus where re-signing the corpus per batch is not an
  * option.
  *
  * State at rest, under one root:
  *  - `corpus/batch=<fp>/` — accepted `(doc_id, text)` rows, one
  *    partition directory per ingested batch, each written to a staging
  *    path and RENAMED in (rename is the atomic commit: a crashed batch
  *    leaves no partial corpus data, only an ignored staging dir).
  *  - `bandindex/` — the [[graft.ext.Dedup.ensureBandIndex]] artifact
  *    over exactly the corpus store's contents.
  *  - `index_meta.txt` — `ingest v1 k=.. bands=.. fp=..` with the
  *    additive corpus fingerprint, bumped arithmetically per batch.
  *
  * Consistency: every mutation runs under the root's pending marker
  * ([[graft.ext.Artifact.beginMutation]]). The corpus store is the
  * source of truth — [[recover]] rebuilds the band index and the
  * fingerprint line from it, so any crash window (mid-index-append,
  * between rename and fingerprint bump) ends in a consistent state and
  * the interrupted batch simply replays: admission is idempotent (ids
  * already in the corpus are skipped), so at-least-once delivery from
  * the stream checkpoint becomes exactly-once ingestion.
  */
object IncrementalIngest {

  /** Per-batch admission outcome. `replayed` rows were already ingested
    * with identical content (re-delivery — skipped); `conflicting` rows
    * re-use an ingested doc_id with DIFFERENT text (skipped and counted,
    * never silently dropped: the corpus is insert-only, like the ANN
    * index appends); `rejectedVsCorpus`/`rejectedWithinBatch` are
    * near-dups (≥ minJaccard) against the indexed corpus / a
    * smaller-id batch sibling.
    */
  final case class IngestStats(
      batchRows: Long,
      replayed: Long,
      conflicting: Long,
      rejectedVsCorpus: Long,
      rejectedWithinBatch: Long,
      accepted: Long)

  private val MetaRe = """ingest v1 k=(\d+) bands=(\d+) fp=.*""".r

  private def kindPrefix = "ingest v1 "
  private def indexPath(root: String) = s"$root/bandindex"
  private def rejectionsPath(root: String) = s"$root/rejections"

  private val RejectionsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("rej_h",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("kind",
      org.apache.spark.sql.types.StringType)))

  /** The rejection LEDGER: `(doc_id, rej_h, kind)` of rows the near-dup
    * gates rejected, appended per batch. Semantically a CACHE of gate
    * decisions, valid while the corpus is insert-only: a doc rejected
    * against corpus state S stays rejected under any superset of S (its
    * matching document cannot leave an insert-only store), so a
    * re-delivered `(doc_id, text)` whose hash is in the ledger
    * short-circuits in the same O(batch) membership join that skips
    * re-delivered ADMITTED rows — without it, every replay re-runs the
    * LSH gate for the batch's perpetual rejects, which made the
    * replay-storm serve pay the full first-ingest dedup cost forever.
    * [[removeDocs]] deletes the ledger wholesale (a removal can
    * invalidate a rejection); losing or truncating it costs only
    * re-evaluation, never correctness.
    */
  private def rejections(spark: SparkSession, root: String): DataFrame = {
    val p = new Path(rejectionsPath(root))
    if (CorpusStore.fs(spark, root).exists(p))
      spark.read.schema(RejectionsSchema).parquet(rejectionsPath(root))
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], RejectionsSchema)
  }

  private def params(spark: SparkSession, root: String): (Int, Int) =
    Artifact.readMeta(spark, root) match {
      case Some(MetaRe(k, b)) => (k.toInt, b.toInt)
      case other => throw new IllegalStateException(s"no ingest root at $root: $other")
    }

  /** The accepted corpus so far: `(doc_id, text)`, the union of every
    * committed batch directory.
    */
  def corpus(spark: SparkSession, root: String): DataFrame =
    CorpusStore.read(spark, root, Seq("doc_id", "text"))

  /** Seed an ingest root. Idempotent on an existing root with matching
    * parameters — including one that has since absorbed batches: this
    * is a stateful store, not a derived artifact, so re-running init
    * must never wipe ingested state. For the same reason a root with
    * DIFFERENT parameters fails fast (changing k/bands invalidates
    * every stored signature — that is a deliberate destroy-and-reseed,
    * not something init may do silently), and a root left mid-mutation
    * is directed to [[recover]] rather than re-seeded over.
    */
  def init(spark: SparkSession, seed: DataFrame, root: String,
           k: Int = 32, bands: Int = 8): String = {
    val existing = Artifact.readMeta(spark, root)
    val paramPrefix = s"${kindPrefix}k=$k bands=$bands fp="
    if (existing.exists(_.startsWith(kindPrefix))) {
      if (Artifact.hasPendingMutation(spark, root))
        throw new IllegalStateException(
          s"ingest root at $root was left mid-mutation — run recover() first")
      if (!existing.exists(_.startsWith(paramPrefix)))
        throw new IllegalStateException(
          s"ingest root at $root exists with different parameters " +
            s"(${existing.get}) — delete it explicitly to re-seed with k=$k bands=$bands")
    } else {
      val s = seed.select(col("doc_id"), col("text"))
      require(!s.isEmpty, "ingest seed must be non-empty (it anchors the corpus schema)")
      CorpusStore.fs(spark, root).delete(new Path(root), true)
      CorpusStore.writeSeed(spark, root, s)
      Dedup.ensureBandIndex(spark, corpus(spark, root), indexPath(root), k, bands)
      Artifact.endMutation(spark, root)
      Artifact.writeMeta(spark, root,
        s"$paramPrefix${Artifact.fingerprint(s, col("doc_id"), col("text"))}")
    }
    root
  }

  /** Admit one batch: exactly-once by doc_id, near-dup rejection against
    * the indexed corpus then within the batch ([[graft.ext.Dedup.applyDedup]]:
    * survivor = component-min doc_id), accepted
    * rows folded into the corpus store and the band index in O(batch).
    *
    * Only the batch is shingled/signed; the corpus contributes its
    * stored buckets and the texts of colliding candidates
    * ([[graft.ext.Dedup.incrementalPairs]]) — per-batch cost is
    * independent of corpus size up to the candidate joins.
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame, root: String,
                  minJaccard: Double = 0.35, maxBucket: Int = 64): IngestStats = {
    val b = batch.select(col("doc_id"), col("text"))
      .dropDuplicates("doc_id").localCheckpoint()
    ingestNormalized(spark, b, b.count(), root, minJaccard, maxBucket)
  }

  /** [[ingestBatch]]'s core over a batch the caller has already
    * normalized (id-unique `(doc_id, text)`, materialized) and counted
    * — the curated front end calls this directly so a batch isn't
    * deduplicated, checkpointed and counted a SECOND time on its way
    * through two gates. The replay path runs once per re-delivered
    * micro-batch, so every avoided job here is steady-state serve cost;
    * it also defers all materialization of the admission join until a
    * batch actually has fresh rows (a pure replay ends at one
    * aggregate).
    */
  private[stream] def ingestNormalized(spark: SparkSession, b: DataFrame,
                                       batchRows: Long, root: String,
                                       minJaccard: Double,
                                       maxBucket: Int): IngestStats = {
    Artifact.requireKind(spark, root, kindPrefix)
    val (k, bands) = params(spark, root)
    val corpusDf = corpus(spark, root)

    // Admission: one narrow (doc_id, text-hash) read of the corpus,
    // semi-joined down to the batch's ids before it reaches the driver's
    // join — re-deliveries (same id, same content) are skipped silently,
    // content conflicts (same id, new content) are skipped LOUDLY in the
    // stats: the store is insert-only, matching the ANN append contract.
    val seen = corpusDf
      .join(broadcast(b.select(col("doc_id"))), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), xxhash64(col("text")).as("corpus_h"))
    // rejection-ledger hits short-circuit exactly like corpus hits: the
    // join key is (doc_id, content hash), so a conflicting re-offer of
    // a rejected id (new text) falls through to the full gate
    val rejSeen = rejections(spark, root)
      .join(broadcast(b.select(col("doc_id"))), Seq("doc_id"), "left_semi")
      .dropDuplicates("doc_id", "rej_h") // crash-replayed appends
      .withColumnRenamed("rej_h", "batch_h")
    // not checkpointed: a replay batch needs exactly ONE action off this
    // join (the counter aggregate); only the fresh path re-evaluates it,
    // into `fresh`'s own checkpoint
    val marked = b.withColumn("batch_h", xxhash64(col("text")))
      .join(broadcast(seen), Seq("doc_id"), "left")
      .join(broadcast(rejSeen), Seq("doc_id", "batch_h"), "left")
    // one aggregation job for all four admission counters (each separate
    // count is a full driver round-trip; the per-batch action count IS
    // the ingest latency floor at small batch sizes)
    val counters = marked.agg(
      sum(when(col("corpus_h") === col("batch_h"), 1L).otherwise(0L)),
      sum(when(col("corpus_h").isNotNull && col("corpus_h") =!= col("batch_h"),
        1L).otherwise(0L)),
      sum(when(col("corpus_h").isNull && col("kind") === "corpus", 1L)
        .otherwise(0L)),
      sum(when(col("corpus_h").isNull && col("kind") === "batch", 1L)
        .otherwise(0L))).head()
    val replayed = Option(counters.get(0)).fold(0L)(_.asInstanceOf[Long])
    val conflicting = Option(counters.get(1)).fold(0L)(_.asInstanceOf[Long])
    val rejCorpusLedger = Option(counters.get(2)).fold(0L)(_.asInstanceOf[Long])
    val rejBatchLedger = Option(counters.get(3)).fold(0L)(_.asInstanceOf[Long])
    val freshCount = batchRows - replayed - conflicting -
      rejCorpusLedger - rejBatchLedger

    // ledger hits re-count under their original rejection bucket, so a
    // replayed batch reports the same stats as its first delivery
    if (freshCount == 0L)
      return IngestStats(batchRows, replayed, conflicting,
        rejCorpusLedger, rejBatchLedger, 0L)

    val fresh = marked.filter(col("corpus_h").isNull && col("kind").isNull)
      .select(col("doc_id"), col("text")).localCheckpoint()

    // Near-dup rejection, corpus first (a batch doc similar to both an
    // indexed doc and a batch sibling is a corpus-dup), then within the
    // batch among the remainder.
    val dupIds = Dedup.incrementalPairs(spark, fresh, corpusDf, indexPath(root),
        k, bands, minJaccard, maxBucket)
      .select(col("new_id").as("doc_id")).distinct()
    val afterCorpus = fresh.join(broadcast(dupIds), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val afterCorpusCount = afterCorpus.count()
    // within-batch keeping: the pair graph here is bounded by the batch,
    // so applyDedup's size gate takes the driver union-find — distributed
    // CC's convergence-check round-trips dominated the whole admission
    // at micro-batch sizes (2.8 s of a 7 s batch)
    val accepted =
      if (afterCorpusCount == 0L) afterCorpus
      else Dedup.applyDedup(afterCorpus,
          Dedup.minhashPairs(afterCorpus, k, bands, minJaccard, maxBucket))
        .localCheckpoint()
    val acceptedCount = accepted.count()

    if (acceptedCount > 0L) {
      val fp = Artifact.fingerprint(accepted, col("doc_id"), col("text"))
      // Stage the corpus files fully BEFORE any mutation; the rename in
      // commitStaged is the atomic commit of the batch's corpus data.
      CorpusStore.stage(spark, root, accepted)
      Artifact.beginMutation(spark, root)
      Dedup.appendBandIndex(spark, accepted, indexPath(root), k, bands)
      CorpusStore.commitStaged(spark, root, fp)
      Artifact.addToFingerprint(spark, root, kindPrefix, fp)
      Artifact.endMutation(spark, root)
    }
    if (freshCount > acceptedCount) {
      // record this batch's fresh rejections in the ledger so their
      // re-delivery short-circuits; outside the mutation window on
      // purpose — the ledger is a cache (see [[rejections]]): a crash
      // leaves whichever task files committed, all of them valid
      val corpusRej = fresh
        .join(broadcast(dupIds), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), xxhash64(col("text")).as("rej_h"),
          lit("corpus").as("kind"))
      val batchRej = afterCorpus
        .join(broadcast(accepted.select(col("doc_id"))), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), xxhash64(col("text")).as("rej_h"),
          lit("batch").as("kind"))
      // best-effort by CONTRACT: the corpus mutation above already
      // committed, and the ledger is a pure cache — a failed append
      // must degrade to "this batch's rejections re-gate on replay",
      // never to misreporting an admitted batch as failed
      try corpusRej.unionByName(batchRej)
        .write.mode("append").parquet(rejectionsPath(root))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[ingest] rejection-ledger append failed (cache only, batch committed): ${e.getMessage}")
      }
    }
    IngestStats(batchRows, replayed, conflicting,
      rejCorpusLedger + (freshCount - afterCorpusCount),
      rejBatchLedger + (afterCorpusCount - acceptedCount), acceptedCount)
  }

  /** Delete documents from the ingest root — the right-to-be-forgotten
    * operation a training corpus owes its sources — in O(removed), not
    * O(corpus): only the corpus batch directories that contain removed
    * ids are rewritten (loss-free swap, [[CorpusStore.rewriteBatchDir]]),
    * the band index masks the removed docs via tombstones + negative
    * size deltas ([[graft.ext.Dedup.removeFromBandIndex]] — physical
    * cleanup at the next [[maintain]]), and both fingerprints are
    * adjusted arithmetically so later ensures SERVE the shrunken corpus
    * instead of rebuilding. After removal the ids are free again: a
    * near-dup of a removed doc is no longer rejected, and the id itself
    * is re-ingestable. A crash mid-removal recovers like any other
    * mutation ([[recover]]) and the removal replays. Returns the number
    * of documents actually removed.
    */
  def removeDocs(spark: SparkSession, root: String, ids: DataFrame): Long = {
    Artifact.requireKind(spark, root, kindPrefix)
    val (k, bands) = params(spark, root)
    val idsDf = ids.select(col("doc_id")).distinct().localCheckpoint()
    val removed = CorpusStore.readWithBatch(spark, root, Seq("doc_id", "text"))
      .join(broadcast(idsDf), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val n = removed.count()
    if (n == 0L) return 0L
    Artifact.beginMutation(spark, root)
    Dedup.removeFromBandIndex(spark,
      removed.select(col("doc_id"), col("text")), indexPath(root), k, bands)
    val touched = removed.select(col("batch")).distinct()
      .collect().map(_.getString(0))  // bounded: one entry per touched dir
    touched.foreach { b =>
      val remaining = spark.read
        .parquet(s"$root/corpus/batch=$b")
        .join(broadcast(idsDf), Seq("doc_id"), "left_anti")
      CorpusStore.rewriteBatchDir(spark, root, b, remaining)
    }
    Artifact.subtractFromFingerprint(spark, root, kindPrefix,
      Artifact.fingerprint(removed, col("doc_id"), col("text")))
    Artifact.endMutation(spark, root)
    // rejection-ledger invalidation: a removed doc may have been the
    // very match that rejected a near-dup, so cached gate decisions are
    // no longer implied by the (shrunken) corpus — drop them wholesale
    // and let re-offers re-evaluate (removal is the rare path)
    CorpusStore.fs(spark, root).delete(new Path(rejectionsPath(root)), true)
    n
  }

  /** Rebuild derived state from the source of truth after a crash left
    * the root mid-mutation: the corpus store's committed batch
    * directories are authoritative (staging is discarded), the band
    * index is re-ensured over them (a half-appended index rebuilds — its
    * own pending marker or fingerprint mismatch triggers it), and the
    * root fingerprint line is recomputed. The interrupted batch simply
    * replays through admission afterwards.
    */
  def recover(spark: SparkSession, root: String): Unit = {
    val (k, bands) = params(spark, root)
    CorpusStore.recoverLayout(spark, root)
    val c = corpus(spark, root).localCheckpoint()
    Dedup.ensureBandIndex(spark, c, indexPath(root), k, bands)
    Artifact.writeMeta(spark, root,
      s"${kindPrefix}k=$k bands=$bands fp=${Artifact.fingerprint(c, col("doc_id"), col("text"))}")
    Artifact.endMutation(spark, root)
  }

  /** Housekeeping between ingest runs: compact the band index's
    * accumulated per-batch file sets ([[graft.ext.Dedup.compactBandIndex]])
    * and rewrite the corpus store's batch directories into one sized
    * file set when either is fragmented past `maxFiles`. Content and
    * metadata are unchanged — returns (files before, after) summed over
    * what was compacted.
    */
  def maintain(spark: SparkSession, root: String, maxFiles: Int = 64): (Int, Int) = {
    Artifact.requireKind(spark, root, kindPrefix)
    var (before, after) = (0, 0)
    val bandFiles = CorpusStore.parquetFiles(spark, s"${indexPath(root)}/bands") +
      CorpusStore.parquetFiles(spark, s"${indexPath(root)}/sizes")
    if (bandFiles > maxFiles) {
      val (b, a) = Dedup.compactBandIndex(spark, indexPath(root))
      before += b; after += a
    }
    if (CorpusStore.corpusFileCount(spark, root) > maxFiles) {
      val (b, a) = CorpusStore.compact(spark, root, Seq("doc_id", "text"))
      before += b; after += a
    }
    (before, after)
  }

  /** The streaming front end: any [[SourceConfig]] of `(doc_id, text)`
    * rows → [[ingestBatch]] per micro-batch under a checkpoint.
    * `Trigger.AvailableNow` drains what has arrived and stops — the
    * scheduled-catch-up shape; the checkpoint makes delivery
    * at-least-once and admission makes ingestion exactly-once, so a
    * replayed micro-batch after a crash is a counted no-op.
    */
  def start(spark: SparkSession, source: SourceConfig, checkpointDir: String,
            root: String, minJaccard: Double = 0.35, maxBucket: Int = 64,
            onBatch: (Long, IngestStats) => Unit = (_, _) => ()): StreamingQuery =
    StreamSources.open(spark, source)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty)
          onBatch(id, ingestBatch(spark, batch, root, minJaccard, maxBucket))
      }
      .start()
}
