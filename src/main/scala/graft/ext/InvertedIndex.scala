package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index with BM25 ranking — the retrieval primitive
  * a training-data pipeline needs the moment curation asks "which
  * documents mention X" (contamination probes, topic audits, targeted
  * corpus slices). Classic IR (Robertson & Walker BM25; Zobel & Moffat,
  * "Inverted files for text search engines", ACM CS 2006) re-expressed
  * as a Spark artifact in the house pattern ([[Artifact]]):
  *
  *  - `postings/` — `(term, doc_id, tf)` delta rows, laid out
  *    `partitionBy(bucket)` where `bucket = xxhash64(term) mod B`. A
  *    query touches only its terms' buckets, so the read is
  *    partition-pruned to ≤ |terms| of B directories — search cost
  *    scales with the terms' posting lists, never with corpus size.
  *  - `ids/` — `(doc_id, dl, gen)`: the document-length ledger (BM25's
  *    length normalization) doubling as the gen-stamped id ledger for
  *    append idempotency and tombstone-masked removal.
  *
  * Both tables are additive ledgers, so the full lifecycle is delta
  * writes: append folds a batch's own postings in O(batch), removal
  * writes NEGATIVE tf deltas recounted from the removed docs' text
  * (net tf ≤ 0 drops the posting at read — the one shared definition of
  * "still indexed"), and compaction merges deltas back to one row per
  * `(term, doc_id)`. Collection statistics (N, avgdl) are DERIVED at
  * read from the masked id ledger, so they follow every mutation with
  * no separate stats bookkeeping to drift.
  *
  * Scale shape at 100 TB: the build is one map-side-combinable
  * aggregation per output; search reads pruned buckets, nets per-term
  * posting deltas, broadcasts the |terms|-row df table and the 1-row
  * stats row, and joins matched docs against the id ledger — the only
  * shuffle proportional to anything is on the matched posting set
  * itself. Top-k is an ordered limit (TakeOrderedAndProject), never a
  * global sort.
  */
object InvertedIndex {

  private[graft] val MetaPrefix = "invindex v1 "

  /** Postings directory partition count. Not a build parameter of the
    * CONTENT (any B serves the same results) but baked into the meta
    * line so an index is always read with the hash that wrote it.
    */
  private val DefaultBuckets = 64

  private def bucketCol(term: Column, nBuckets: Int): Column =
    pmod(xxhash64(term), lit(nBuckets.toLong))

  /** Per-(doc, term) frequencies of a document frame — the index's
    * sufficient statistic. Map-side combine bounds shuffle volume by
    * distinct (doc, term) pairs per partition.
    */
  private def termFreqs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** The index's lifecycle ([[Artifact.DocLedger]]): the bucketed
    * `postings/` ledger, laid out with the bucket count of the meta
    * line, and the `(doc_id, dl, gen)` id ledger over `(doc_id, text)`.
    * Postings need no masking at read: a removed doc's rows net to
    * tf ≤ 0 and are excluded by the read-side filter.
    */
  private[graft] val ledger = Artifact.DocLedger(MetaPrefix, Seq("doc_id", "text"),
    Seq(col("doc_id"), size(TextAnalysis.tokens(col("text"))).cast("long").as("dl")),
    Seq(Artifact.Additive("postings",
      (d, meta) => termFreqs(d).withColumn("bucket", bucketCol(col("term"), bucketsIn(meta))),
      Seq("term", "doc_id"), "tf", partitionBy = Seq("bucket"))))

  /** Build-if-needed inverted index over the corpus, guarded by the
    * corpus content fingerprint. Returns the artifact dir.
    */
  def ensureIndex(spark: SparkSession, docs: DataFrame, dir: String,
                  nBuckets: Int = DefaultBuckets): String =
    ledger.ensure(spark, docs, dir, s"unit=ws buckets=$nBuckets")

  /** The bucket count of a metadata line — terms must be hashed with
    * the modulus the build wrote.
    */
  private def bucketsIn(meta: String): Int =
    """buckets=(\d+)""".r.findFirstMatchIn(meta) match {
      case Some(g) => g.group(1).toInt
      case None => throw new IllegalStateException(s"no bucket count in meta: $meta")
    }

  private def storedBuckets(spark: SparkSession, dir: String): Int =
    bucketsIn(Artifact.readMeta(spark, dir).getOrElse(""))

  /** Net live postings for a term set: the query terms are hashed to
    * their buckets with a tiny local plan (bounded by |terms|), and the
    * postings read carries both the bucket set (→ static
    * PartitionFilters: only the terms' directories are listed) and the
    * term set (→ pushed row-group filter inside them). Delta rows net
    * per (term, doc) with non-positive sums dropped.
    */
  def postingsFor(spark: SparkSession, dir: String, terms: Seq[String]): DataFrame = {
    Artifact.requireKind(spark, dir, MetaPrefix)
    val nBuckets = storedBuckets(spark, dir)
    val t = terms.distinct
    val buckets = spark.createDataFrame(t.map(Tuple1(_))).toDF("term")
      .select(bucketCol(col("term"), nBuckets).as("bucket"))
      .distinct().collect().map(_.getLong(0))
    spark.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(t: _*))
      .groupBy(col("term"), col("doc_id")).agg(sum(col("tf")).as("tf"))
      .filter(col("tf") > 0)
  }

  /** BM25 top-k over the stored index (Robertson/Sparck Jones idf in
    * Lucene's always-positive `ln(1 + (N-df+0.5)/(df+0.5))` form;
    * k1/b defaults per the literature). All inputs are integers except
    * avgdl, every operation is pinned to one association order, and the
    * per-doc sum is rounded to 6 decimals — the house float-parity
    * contract, so the whole ranking is DuckDB-reproducible. Returns
    * `(doc_id, n_terms, score)` ordered score-desc, doc_id-asc
    * (deterministic at the k boundary).
    */
  def searchBm25(spark: SparkSession, dir: String, query: String, k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val matched = postingsFor(spark, dir, query.split(" ").toSeq.filter(_.nonEmpty))
    val dfTable = matched.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val ids = ledger.liveIds(spark, dir)
    val stats = ids.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")) * lit(1.0) / count(lit(1))).as("avgdl"))
    matched
      .join(broadcast(dfTable), Seq("term"))
      .join(ids.select(col("doc_id"), col("dl")), Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("w",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
          * (col("tf") * lit(k1 + 1.0))
          / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), round(sum(col("w")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Conjunctive (boolean-AND) match over the stored index: documents
    * containing EVERY query term, with their summed term frequency —
    * the contamination-probe shape ("which documents mention all of
    * these"). Same pruned read as [[searchBm25]]; the match condition
    * is a count over the per-doc group, never a self-join per term.
    */
  def searchAll(spark: SparkSession, dir: String, query: String): DataFrame = {
    val terms = query.split(" ").toSeq.filter(_.nonEmpty).distinct
    postingsFor(spark, dir, terms)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("total_tf"))
      .filter(col("n_terms") === terms.length)
      .select(col("doc_id"), col("total_tf"))
  }
}
