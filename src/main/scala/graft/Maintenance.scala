package graft

import graft.ext.{AnnIndex, Artifact, BigramModel, Classifier, Dedup, InvertedIndex, LanguageModel}
import org.apache.spark.sql.SparkSession

/** One housekeeping entry point for every persisted artifact of a
  * fixture — the nightly-maintenance counterpart of [[Warm.ensureAll]]
  * (which builds them): compact each artifact's appended/fragmented
  * file sets back into sized files. Content, metadata lines, and query
  * results are unchanged by construction (each family's compactor
  * asserts its own invariants); artifacts that do not exist yet are
  * skipped, not created.
  *
  * Returns one (artifact, filesBefore, filesAfter) row per compacted
  * artifact, for logging/alerting.
  */
object Maintenance {

  def compactAll(spark: SparkSession, d: String): Seq[(String, Int, Int)] = {
    val results = Seq.newBuilder[(String, Int, Int)]
    def has(dir: String, prefix: String): Boolean =
      Artifact.readMeta(spark, dir).exists(_.startsWith(prefix)) &&
        !Artifact.hasPendingMutation(spark, dir)
    def run(name: String, dir: String, prefix: String)(f: => (Int, Int)): Unit =
      if (has(dir, prefix)) { val (b, a) = f; results += ((name, b, a)) }

    val root = Artifact.root(d)
    run("neardup", s"$root/neardup", "neardup v2 ") {
      Dedup.compactPairs(spark, s"$root/neardup")
    }
    run("dupgroups", s"$root/dupgroups", "dupgroups v1 ") {
      Artifact.compactParquet(spark, s"$root/dupgroups", "groups")
    }
    run("bandindex", s"$root/bandindex", "bandindex v3 ") {
      Dedup.compactBandIndex(spark, s"$root/bandindex")
    }
    run("serving", s"$root/serving", "serving v1 ") {
      Artifact.compactParquet(spark, s"$root/serving", "store",
        sortCols = Seq("pk", "sk"))
    }
    run("shards", s"$root/shards", "shards v2 ") {
      graft.ext.TrainingSet.compactShards(spark, s"$root/shards")
    }
    // the streamed curated-corpus root: band index + corpus store file
    // sets, swept through the ingest layer's own maintainer
    run("stream_curated", s"$root/stream_curated", "ingest v1 ") {
      graft.stream.IncrementalIngest.maintain(spark, s"$root/stream_curated")
    }
    // the document ledgers: per-key deltas merged, masked id rows
    // dropped, tombstones cleared
    Seq("unigram_lm" -> LanguageModel.ledger, "unigram_lm_target" -> LanguageModel.ledger,
        "unigram_lm_seed" -> LanguageModel.ledger, "nbclass" -> Classifier.ledger,
        "bigram_lm" -> BigramModel.ledger, "invindex" -> InvertedIndex.ledger).foreach {
      case (name, ledger) =>
        run(name, s"$root/$name", ledger.kind)(ledger.compact(spark, s"$root/$name"))
    }
    // containment index twins (full corpus + the %10≠0 incremental
    // slice): shingle map re-merged to one live row per shingle, docs
    // manifest masked against tombstones, pair files re-sized
    run("containment", s"$root/containment", "containment v2 ") {
      Dedup.compactContainmentIndex(spark, s"$root/containment")
    }
    run("containment_corpus", s"$root/containment_corpus", "containment v2 ") {
      Dedup.compactContainmentIndex(spark, s"$root/containment_corpus")
    }
    // decode-once media feature store: one gen-0 row per live doc,
    // tombstones cleared, generation counter reset
    run("media_features", s"$root/media_features",
        graft.ext.MediaFeatures.MetaPrefix) {
      graft.ext.MediaFeatures.compact(spark, s"$root/media_features")
    }
    run("media_features_seed", graft.ext.MediaFeatures.seedDir(d),
        graft.ext.MediaFeatures.MetaPrefix) {
      graft.ext.MediaFeatures.compact(spark, graft.ext.MediaFeatures.seedDir(d))
    }
    // the streamed media-ingest root: the same MediaFeatures store
    // lifecycle (its rejection ledger is a pure cache of gate
    // decisions — compaction removes no documents, so it stays valid)
    run("stream_media", s"$root/stream_media",
        graft.ext.MediaFeatures.MetaPrefix) {
      graft.ext.MediaFeatures.compact(spark, s"$root/stream_media")
    }
    // serving_daily is NOT swept: dynamic partition overwrite leaves one
    // file per day by construction, so it never fragments
    val ann = AnnIndex.defaultRoot(d)
    Seq("ivf_c16" -> "ivf ", "pq_m8" -> "pq ",
        "ivfpq_c16_m8" -> "ivfpq ", "srp_h8t4" -> "srp ").foreach {
      case (sub, prefix) =>
        run(sub, s"$ann/$sub", prefix)(AnnIndex.compact(spark, s"$ann/$sub"))
    }
    results.result()
  }

  /** CLI: `runMain graft.Maintenance [sfDir]` — compact everything and
    * print one line per artifact.
    */
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    compactAll(spark, d).foreach { case (n, b, a) =>
      println(s"[maintenance] $n: $b -> $a parquet files")
    }
    spark.stop()
  }
}
