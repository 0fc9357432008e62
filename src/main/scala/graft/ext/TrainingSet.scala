package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The OUTPUT end of a training-data pipeline: turn a curated corpus
  * into the thing a trainer actually consumes — documents packed into
  * fixed token budgets, domains re-weighted to a target mixture, and
  * the result exported as self-describing shards with manifests.
  *
  * Everything here is DETERMINISTIC (pure functions of doc_id and
  * text): a training set must be reproducible bit-for-bit from the
  * same corpus, and every assignment must be re-derivable for audit —
  * so no `rand()`, no partition-index dependence, no collect-order
  * dependence. Determinism is also what makes each operator
  * oracle-checkable in a second engine.
  *
  * Scale shapes (100 TB):
  *  - [[pack]] never does a global sort: documents are sharded by a
  *    pure key, and the prefix-sum window that assigns bins runs
  *    per-shard — one shuffle, each window partition is corpus/nShards.
  *  - [[mixture]] replicates via a bounded in-row `sequence` explode
  *    (no join against a copies table) and downsamples with a pure
  *    predicate pushed at the scan.
  *  - [[writeShards]] is one hash shuffle wide; manifests are computed
  *    from the same frame (no second corpus pass) and the export is an
  *    [[Artifact]]: fingerprint-guarded, rebuilt only when the corpus
  *    or the layout parameters change.
  */
object TrainingSet {

  /** Whitespace token count — [[TextAnalysis.tokens]]' cardinality, the
    * budget unit for packing (a real deployment would swap in a BPE
    * count; the dataflow is identical).
    */
  def tokenCount(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    size(TextAnalysis.tokens(text)).cast("long")

  /** Deterministic pseudo-shuffle key: a multiplicative hash small
    * enough to stay exact in any 64-bit engine (doc_id ≤ ~10¹³ keeps
    * doc_id·40503 < 2⁶³). Decorrelates storage order (doc_id is
    * usually insertion order — adjacent ids are same-source, same-day)
    * from training order without `rand()`, and is re-derivable anywhere
    * — including the DuckDB oracle, which engine-private hashes like
    * xxhash64 are not.
    */
  def shuffleKey(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (docId * lit(40503L)) % lit(65521L)

  /** Pack documents into fixed token budgets: each document lands in a
    * (shard, bin) such that every bin holds ~`budget` tokens of
    * pseudo-shuffled documents. Token-offset binning — bin =
    * floor(running-token-offset / budget) — is the scalable form of
    * greedy packing: the assignment is a per-shard prefix sum (one
    * window over a hash-sharded frame, NO global sort), whereas exact
    * first-fit packing is inherently sequential. Bins may overshoot the
    * budget by at most one document's tokens; trainers that need hard
    * caps truncate at read time.
    *
    * Output: (doc_id, shard, bin, n_tokens, token_offset) — offset is
    * the document's first token position within its shard's stream,
    * which is exactly what a sequence-packing loader needs to slice
    * without re-counting.
    */
  def pack(docs: DataFrame, budget: Long = 512L, nShards: Int = 8): DataFrame =
    packCounts(
      docs.select(col("doc_id"), tokenCount(col("text")).as("n_tokens")),
      budget, nShards)

  /** [[pack]] with the budget unit supplied as a precomputed
    * `(doc_id, n_tokens)` frame — the seam that lets the SAME packing
    * dataflow budget by whatever the downstream trainer counts:
    * whitespace tokens ([[pack]]) or the trained BPE tokenizer's
    * subword counts ([[packBpe]]).
    */
  def packCounts(counted: DataFrame, budget: Long = 512L,
                 nShards: Int = 8): DataFrame = {
    require(budget > 0L, s"token budget must be positive: $budget")
    require(nShards > 0, s"shard count must be positive: $nShards")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("sk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    counted
      .select(col("doc_id"), col("n_tokens"),
        pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
        shuffleKey(col("doc_id")).as("sk"))
      .withColumn("token_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // integer division, not floor(double/double): offsets past 2^53
      // tokens per shard would lose bits in a double
      .select(col("doc_id"), col("shard"),
        expr(s"token_offset div ${budget}L").as("bin"),
        col("n_tokens"), col("token_offset"))
  }

  /** Token-budget packing where the budget unit is the TRAINED BPE
    * tokenizer's subword count per document ([[Bpe.encodeStats]]) —
    * what the export actually feeds a trainer, so bins hold ~`budget`
    * model tokens rather than whitespace-token proxies. Integer counts
    * from the same replayable merge sequence as `bpe_encode_stats`, so
    * every shard boundary is oracle-verifiable. Documents with no
    * words (empty text) pack with n_tokens = 0.
    *
    * Scale shape: identical to [[pack]] — the encode is one explode +
    * a map-side native segmentation kernel + a per-doc sum, and the
    * packing stays a per-shard prefix sum with NO global sort.
    */
  def packBpe(docs: DataFrame, merges: Seq[graft.ext.Bpe.Merge],
              budget: Long = 512L, nShards: Int = 8): DataFrame = {
    val counts = graft.ext.Bpe.encodeStats(docs, merges)
      .select(col("doc_id"), col("n_tokens"))
    packCounts(
      docs.select(col("doc_id"))
        .join(counts, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens")),
      budget, nShards)
  }

  /** Attention-span metadata for the packed stream: training sequence
    * `bin` of a shard covers token positions [bin·budget, (bin+1)·
    * budget); a document whose packed tokens overlap that window
    * contributes one span row (start WITHIN the sequence + length) —
    * exactly the per-sequence document-boundary list a loader needs to
    * build block-diagonal attention masks (no cross-document
    * attention) without re-tokenizing. Documents straddling a
    * sequence boundary emit one row per touched sequence; span
    * lengths per (shard, bin) sum to the window's occupancy. One
    * bounded in-row explode over the touched-bin range (≤
    * ⌈n_tokens/budget⌉ + 1 rows per doc) on top of [[pack]]'s
    * prefix-sum dataflow — no extra shuffle, all integer arithmetic,
    * fully SQL-replayable.
    */
  def packSpans(docs: DataFrame, budget: Long = 512L,
                nShards: Int = 8): DataFrame = {
    require(budget > 0L, s"token budget must be positive: $budget")
    pack(docs, budget, nShards)
      .filter(col("n_tokens") > 0L)
      .withColumn("bin", explode(expr(
        s"sequence(token_offset div ${budget}L," +
          s" (token_offset + n_tokens - 1) div ${budget}L)")))
      .select(col("shard"), col("bin"), col("doc_id"),
        greatest(col("token_offset") - col("bin") * lit(budget), lit(0L))
          .as("span_start"),
        (least(col("token_offset") + col("n_tokens"),
          (col("bin") + 1) * lit(budget))
          - greatest(col("token_offset"), col("bin") * lit(budget)))
          .as("span_len"))
  }

  /** Re-weight domains to a target mixture: every document of domain d
    * appears `floor(weight(d))` times, plus once more for the
    * deterministic `frac(weight(d))` fraction of its domain (selected
    * by the pseudo-shuffle key, so the extra copies are spread across
    * the corpus, not a doc_id prefix). weight < 1 downsamples, > 1
    * upsamples — the standard Pile/ROOTS-style mixture table. Copies
    * are numbered so downstream packing/sharding can keep them apart.
    *
    * The explode is `sequence(1, n_copies)` on a row whose n_copies ≥ 1
    * — bounded by ⌈max weight⌉, never corpus-sized — and the n_copies=0
    * rows are dropped by a pushable filter before it.
    */
  def mixture(docs: DataFrame, weights: Map[String, Double],
              domainCol: String = "lang"): DataFrame = {
    require(weights.values.forall(_ >= 0.0),
      s"mixture weights must be non-negative: $weights")
    val wCol = weights.foldLeft(lit(1.0)) { case (acc, (dom, wt)) =>
      when(col(domainCol) === dom, lit(wt)).otherwise(acc)
    }
    // the fractional copy goes to docs whose shuffle-key residue falls
    // below frac·65521 — exact integer threshold, no float comparison
    val thresh = (wCol - floor(wCol)) * lit(65521.0)
    docs
      .withColumn("n_copies",
        (floor(wCol).cast("long") +
          when(shuffleKey(col("doc_id")) < floor(thresh).cast("long"), 1L).otherwise(0L)))
      .filter(col("n_copies") >= 1L)
      .withColumn("copy", explode(sequence(lit(1L), col("n_copies"))))
      .drop("n_copies")
  }

  /** Temperature-scaled domain sampling weights (the mT5/XLM-R
    * multilingual recipe): p(d) ∝ share(d)^τ with τ = 1/2, which
    * upsamples low-resource domains relative to their raw token share
    * without letting any domain dominate — the standard knob between
    * τ=1 (proportional, head domains swamp) and τ=0 (uniform,
    * low-resource noise swamps). Reports, per domain: volume, raw
    * token share, the temperature-scaled sampling weight, and the
    * implied upsampling factor weight/share a sampler applies.
    *
    * τ is pinned at 1/2 so the power is `sqrt` — correctly rounded
    * IEEE in every engine, unlike `pow(x, τ)` for general τ whose libm
    * results differ in ulps. Determinism: counts are exact integers;
    * share is one double division of exact integers; each √share
    * snaps to 6 dp and the normalizer is their exact DECIMAL(32,6)
    * sum; weight and upsample are single double divisions, round-6.
    * One dimension-sized groupBy — the corpus is scanned once and
    * never shuffled beyond the per-domain partial aggregates.
    */
  def temperatureMix(docs: DataFrame, domainCol: String = "lang"): DataFrame = {
    val byDom = docs.groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(tokenCount(col("text"))).as("n_tokens"))
    val tot = byDom.agg(sum(col("n_tokens")).as("tot_tokens"))
    val withShare = byDom.crossJoin(broadcast(tot))
      .withColumn("share",
        col("n_tokens").cast("double") / col("tot_tokens").cast("double"))
      .withColumn("s6", round(sqrt(col("share")), 6))
    val z = withShare
      .agg(sum(col("s6").cast("decimal(32,6)")).cast("double").as("z"))
    withShare.crossJoin(broadcast(z))
      .select(col("domain"), col("n_docs"), col("n_tokens"),
        round(col("share"), 6).as("share"),
        round(col("s6") / col("z"), 6).as("weight"),
        round((col("s6") / col("z")) / col("share"), 6).as("upsample"))
      .orderBy(col("domain"))
  }

  /** Contamination-safe train/holdout split. Assignment is pure id
    * arithmetic: documents whose [[shuffleKey]] residue falls below
    * `valPermille`/1000 of the key space become `validation`; the rest
    * are `train` EXCEPT documents near-duplicate to a validation doc
    * (≥ minJaccard in the persisted pair artifact,
    * [[Dedup.ensurePairs]]), which are labeled `leaked` — keeping them
    * in train would hand the model its own eval set, the classic
    * benchmark-contamination failure.
    *
    * Scale shape: the leaked set is derived from the PAIR TABLE alone
    * (a pair leaks iff exactly one side is validation — membership is a
    * pure function of the id, so no join against the corpus is needed
    * to find them); the corpus itself takes one broadcast anti-ish join
    * against that small set and never shuffles.
    */
  def holdoutSplit(spark: SparkSession, docs: DataFrame, pairDir: String,
                   valPermille: Int = 100, minJaccard: Double = 0.35): DataFrame = {
    require(valPermille > 0 && valPermille < 1000, s"valPermille in (0,1000): $valPermille")
    val valThresh = 65521L * valPermille / 1000L
    def isVal(id: org.apache.spark.sql.Column) = shuffleKey(id) < lit(valThresh)
    val leaked = Dedup.loadPairs(spark, pairDir, minJaccard)
      .filter(isVal(col("a_id")) =!= isVal(col("b_id")))
      .select(when(isVal(col("a_id")), col("b_id")).otherwise(col("a_id")).as("doc_id"))
      .distinct()
    docs
      .join(broadcast(leaked.withColumn("is_leaked", lit(true))), Seq("doc_id"), "left")
      .withColumn("split",
        when(isVal(col("doc_id")), "validation")
          .when(col("is_leaked"), "leaked")
          .otherwise("train"))
      .drop("is_leaked")
  }

  /** Export a corpus as training shards at rest, Artifact-guarded:
    *  - `shards/shard=K/` — JSONL files (the format trainers read),
    *    each file internally ordered by the pseudo-shuffle key. One
    *    file per shard at build; appends add one per batch until
    *    [[compactShards]] folds them back.
    *  - `manifest/` — per-shard ledger rows `(shard, n_docs, n_tokens,
    *    content_h)`, additive like the band index's sizes table:
    *    consumers aggregate, appends only add rows. What a loader
    *    checks before touching data ([[shardManifest]]).
    *  - `ids/` — `(doc_id, h)` of every exported document: the narrow
    *    column [[appendShards]]' idempotency and change detection read
    *    (the JSONL itself is never re-parsed to answer "is this doc
    *    already exported?").
    * One wide shuffle (the shard hash); manifest and ids aggregate the
    * same shuffled frame, so the corpus is read once. Returns the
    * artifact directory.
    */
  def writeShards(spark: SparkSession, docs: DataFrame, dir: String,
                  nShards: Int = 8): String = {
    val fp = Artifact.fingerprint(docs, col("doc_id"), col("text"))
    Artifact.ensure(spark, dir, s"shards v2 n=$nShards fp=$fp") {
      writeShardData(docs, dir, nShards, mode = "overwrite")
      // a fresh build has nothing logically deleted
      tombstonePath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(tombstonePath(dir), true)
    }
  }

  private def rowHash = xxhash64(col("doc_id"), col("text"))

  /** The shared physical write of [[writeShards]] (overwrite) and
    * [[appendShards]] (append): JSONL data + manifest ledger rows +
    * ids sidecar, all from one materialization of the shard-shuffled
    * frame.
    */
  private def writeShardData(docs: DataFrame, dir: String, nShards: Int,
                             mode: String): Unit = {
    val assigned = docs
      .select(col("doc_id"), col("text"), col("lang"),
        pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
        shuffleKey(col("doc_id")).as("sk"))
      .repartition(nShards, col("shard"))
      .localCheckpoint() // feeds the JSONL write, the manifest, and ids
    assigned
      .sortWithinPartitions(col("shard"), col("sk"), col("doc_id"))
      .select(col("shard"),
        to_json(struct(col("doc_id"), col("text"), col("lang"))).as("value"))
      .write.partitionBy("shard").mode(mode).text(s"$dir/shards")
    assigned.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text"))).as("n_tokens"),
        sum(rowHash).as("content_h"))
      .coalesce(1).write.mode(mode).parquet(s"$dir/manifest")
    assigned.select(col("doc_id"), rowHash.as("h"))
      .coalesce(1).write.mode(mode).parquet(s"$dir/ids")
  }

  private val ShardMetaRe = """shards v2 n=(\d+) fp=.*""".r

  // ------------------------------------------------ logical deletion

  private def tombstonePath(dir: String) =
    new org.apache.hadoop.fs.Path(s"$dir/tombstones")

  private def hasTombstones(spark: SparkSession, dir: String): Boolean = {
    val p = tombstonePath(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private[graft] def loadTombstones(spark: SparkSession, dir: String): DataFrame =
    if (hasTombstones(spark, dir)) spark.read.parquet(tombstonePath(dir).toString)
    else spark.range(0).select(col("id").as("doc_id"))

  /** Delete documents from an export in O(removed) — a right-to-be-
    * forgotten request has to reach the TRAINING SET, not just the
    * corpus, or the data keeps shipping to trainers. Removed ids are
    * masked via a tombstone set (readers anti-join it), the manifest
    * ledger gets NEGATIVE delta rows recomputed from the removed
    * content, and the metadata fingerprint is adjusted arithmetically
    * so a later ensure over the shrunken corpus SERVES. JSONL rows are
    * dropped physically at [[compactShards]]; until then re-inserting
    * a removed id is REFUSED (JSONL rows carry no generation column, so
    * the delete → compact → re-insert order is the supported one — the
    * same policy as the ANN indexes). `removed` must carry
    * (doc_id, text, lang): the removed CONTENT, for the ledger deltas.
    *
    * Idempotent and membership-checked, like [[Artifact.DocLedger.remove]]:
    * the batch is semi-joined against the export's LIVE id set (ids
    * minus existing tombstones) before any delta is computed, so a
    * retried removal or a never-exported id is a no-op — without the
    * guard it would over-subtract the manifest ledger, corrupt the
    * stored fingerprint, and tombstone ids that were never exported
    * (blocking their future append).
    */
  def removeFromShards(spark: SparkSession, removed: DataFrame, dir: String): Unit = {
    Artifact.requireKind(spark, dir, "shards v2 ")
    val nShards = shardCount(spark, dir)
    val live = spark.read.parquet(s"$dir/ids").select(col("doc_id"))
      .join(loadTombstones(spark, dir), Seq("doc_id"), "left_anti")
    val r = removed.select(col("doc_id"), col("text"), col("lang"))
      .join(broadcast(removed.select(col("doc_id"))
          .join(live, Seq("doc_id"), "left_semi")),
        Seq("doc_id"), "left_semi")
      .localCheckpoint()
    if (!r.isEmpty) {
      Artifact.beginMutation(spark, dir)
      r.groupBy(pmod(col("doc_id"), lit(nShards.toLong)).as("shard"))
        .agg((-count(lit(1))).as("n_docs"),
          (-sum(tokenCount(col("text")))).as("n_tokens"),
          (-sum(rowHash)).as("content_h"))
        .coalesce(1).write.mode("append").parquet(s"$dir/manifest")
      val union = loadTombstones(spark, dir)
        .unionByName(r.select(col("doc_id"))).distinct().localCheckpoint()
      val fs = tombstonePath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/tombstones.next")
      fs.delete(tmp, true)
      union.coalesce(1).write.parquet(tmp.toString)
      fs.delete(tombstonePath(dir), true)
      if (!fs.rename(tmp, tombstonePath(dir)))
        throw new IllegalStateException(s"tombstone swap failed at $dir")
      Artifact.subtractFromFingerprint(spark, dir, "shards v2 ",
        Artifact.fingerprint(r, col("doc_id"), col("text")))
      Artifact.endMutation(spark, dir)
    }
  }

  private def shardCount(spark: SparkSession, dir: String): Int =
    Artifact.readMeta(spark, dir) match {
      case Some(ShardMetaRe(n)) => n.toInt
      case other => throw new IllegalStateException(s"no shards artifact at $dir: $other")
    }

  /** Catch the export up to the corpus: append every corpus document
    * not yet exported. Callable anytime (it is how an export recovers
    * if a crash separated a corpus commit from its export append): the
    * missing set comes from one narrow id anti-join, then only the
    * missing documents' text is read — O(missing), not O(corpus).
    * Removed-but-not-yet-compacted ids are skipped, not re-added (their
    * masked rows are still on disk; they become syncable again after
    * [[compactShards]] drops them) — so sync never races a pending
    * deletion back into the training set.
    */
  def syncShards(spark: SparkSession, corpus: DataFrame, dir: String): Unit = {
    Artifact.requireKind(spark, dir, "shards v2 ")
    val unsyncable = spark.read.parquet(s"$dir/ids").select(col("doc_id"))
      .unionByName(loadTombstones(spark, dir))
    val missingIds = corpus.select(col("doc_id"))
      .join(unsyncable, Seq("doc_id"), "left_anti").localCheckpoint()
    if (!missingIds.isEmpty)
      appendShards(spark,
        corpus.join(broadcast(missingIds), Seq("doc_id"), "left_semi"), dir)
  }

  /** Fold a new corpus batch into an existing export in O(batch) — the
    * nightly lifecycle: the corpus grows incrementally
    * ([[graft.stream.IncrementalIngest]]), and re-exporting 100 TB
    * because tonight's batch added 0.1% is not an option. Batch rows
    * already exported are skipped (idempotent — a double-submitted
    * batch is a no-op, checked against the narrow `ids/` sidecar, one
    * broadcast semi-join); a resubmitted id with CHANGED text fails
    * fast like the ANN appends (exports are insert-only — silently
    * skipping would keep serving the stale text under a matching
    * fingerprint). Each surviving batch appends one JSONL file per
    * touched shard, additive manifest rows, and ids; the metadata
    * fingerprint is bumped arithmetically, so a later [[writeShards]]
    * over the union corpus SERVES instead of rebuilding. Crash-atomic
    * under the pending marker.
    */
  def appendShards(spark: SparkSession, batch: DataFrame, dir: String): Unit = {
    Artifact.requireKind(spark, dir, "shards v2 ")
    val nShards = shardCount(spark, dir)
    val b = batch.select(col("doc_id"), col("text"), col("lang")).localCheckpoint()
    // an intra-batch duplicate id would ship the document twice in one
    // append (the idempotency check only sees STORED ids) — fail fast
    Artifact.DocLedger.requireUniqueIds(b, "export batch")
    // a removed-but-not-yet-compacted id may not be re-exported: its
    // masked JSONL row would unmask as a duplicate (no generation column
    // in the data files) — delete → compact → re-insert, as with the ANN
    // indexes
    if (hasTombstones(spark, dir)) {
      val reinserted = loadTombstones(spark, dir)
        .join(broadcast(b.select(col("doc_id"))), Seq("doc_id"), "left_semi")
        .take(5).map(_.getLong(0))
      if (reinserted.nonEmpty)
        throw new IllegalStateException(
          s"ids ${reinserted.mkString(", ")} were removed from this export — " +
            "compact it to drop the masked rows before re-inserting them")
    }
    val matched = spark.read.parquet(s"$dir/ids")
      .join(broadcast(b.select(col("doc_id"), rowHash.as("batch_h"))), Seq("doc_id"))
      .localCheckpoint()
    val changed = matched.filter(col("batch_h") =!= col("h"))
      .select(col("doc_id")).take(5).map(_.getLong(0))
    if (changed.nonEmpty)
      throw new IllegalStateException(
        s"export append is insert-only: ids resubmitted with changed content " +
          s"(${changed.mkString(", ")}) — rebuild the export over the corrected corpus")
    val fresh = b.join(broadcast(matched.select(col("doc_id"))), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    if (!fresh.isEmpty) {
      Artifact.beginMutation(spark, dir)
      writeShardData(fresh, dir, nShards, mode = "append")
      Artifact.addToFingerprint(spark, dir, "shards v2 ",
        Artifact.fingerprint(fresh, col("doc_id"), col("text")))
      Artifact.endMutation(spark, dir)
    }
  }

  /** Compact an export after a run of appends: each shard's JSONL file
    * set is rewritten into ONE file re-sorted by the shuffle key (so
    * in-file training order covers the whole shard again), and the
    * manifest/ids parquet deltas merge back to sized files. Content
    * and the metadata line are unchanged; the JSONL swap runs under
    * the pending marker like [[Artifact.compactParquet]]'s. Returns
    * (files before, after) over everything rewritten.
    */
  def compactShards(spark: SparkSession, dir: String): (Int, Int) = {
    Artifact.requireKind(spark, dir, "shards v2 ")
    val metaBefore = Artifact.readMeta(spark, dir)
    val shardsPath = new org.apache.hadoop.fs.Path(s"$dir/shards")
    val fs = shardsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def textFiles(p: org.apache.hadoop.fs.Path): Int = {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) if (it.next().getPath.getName.startsWith("part-")) n += 1
      n
    }
    val before = textFiles(shardsPath)
    // one task per shard: re-derive (shard, sk) from the data itself,
    // rewrite each shard directory as a single sorted file — dropping
    // logically-deleted rows, after which the tombstone set clears
    val all = spark.read.schema("doc_id LONG, text STRING, lang STRING")
      .json(s"$dir/shards")
      .withColumn("shard", col("shard").cast("long")) // partition col
    val tombstones =
      if (!hasTombstones(spark, dir)) None
      else Some(loadTombstones(spark, dir).localCheckpoint())
    val rows = tombstones.fold(all)(t => all.join(broadcast(t), Seq("doc_id"), "left_anti"))
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/shards.compacting")
    fs.delete(tmp, true)
    rows
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), shuffleKey(col("doc_id")), col("doc_id"))
      .select(col("shard"),
        to_json(struct(col("doc_id"), col("text"), col("lang"))).as("value"))
      .write.partitionBy("shard").mode("overwrite").text(tmp.toString)
    Artifact.beginMutation(spark, dir)
    fs.delete(shardsPath, true)
    if (!fs.rename(tmp, shardsPath))
      throw new IllegalStateException(s"shard compaction rename failed at $dir")
    Artifact.endMutation(spark, dir)
    val (m0, m1) = Artifact.compactParquet(spark, dir, "manifest",
      merge = _.groupBy(col("shard")).agg(
        sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("content_h")).as("content_h")))
    val (i0, i1) = Artifact.compactParquet(spark, dir, "ids",
      merge = df => tombstones.fold(df)(t =>
        df.join(broadcast(t), Seq("doc_id"), "left_anti")))
    // masked rows are physically gone from data and ids; the set clears.
    // A crash before this delete leaves tombstones that mask nothing.
    fs.delete(tombstonePath(dir), true)
    assert(Artifact.readMeta(spark, dir) == metaBefore,
      "shard compaction must not touch the metadata line")
    (before + m0 + i0, textFiles(shardsPath) + m1 + i1)
  }

  /** The manifest of a written export — what a training job validates
    * against before reading shard data. Ledger rows aggregated to one
    * per shard (appends leave deltas until [[compactShards]]).
    */
  def shardManifest(spark: SparkSession, dir: String): DataFrame = {
    Artifact.requireKind(spark, dir, "shards v2 ")
    spark.read.parquet(s"$dir/manifest")
      .groupBy(col("shard"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("content_h")).as("content_h"))
  }

  /** Read one exported shard back. Training order is per file (one
    * file per shard once [[compactShards]] has run). Logically-deleted
    * documents are masked out — a no-op plan when nothing was removed.
    */
  def readShard(spark: SparkSession, dir: String, shard: Int): DataFrame = {
    Artifact.requireKind(spark, dir, "shards v2 ")
    val rows = spark.read.schema("doc_id LONG, text STRING, lang STRING")
      .json(s"$dir/shards/shard=$shard")
    if (!hasTombstones(spark, dir)) rows
    else rows.join(broadcast(loadTombstones(spark, dir)), Seq("doc_id"), "left_anti")
  }
}
