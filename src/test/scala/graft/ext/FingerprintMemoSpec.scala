package graft.ext

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.bridge

/** The r18 fingerprint session memo: a memo hit must be
  * indistinguishable from a recompute, and anything whose content is
  * not provably a pure function of its input files must never be
  * memoized.
  */
class FingerprintMemoSpec extends SparkSuite {
  import spark.implicits._

  private def docs = Tables.documents(spark, sfDir)

  test("deterministicFileKey: Some for file-backed deterministic plans, None otherwise") {
    assert(bridge.deterministicFileKey(docs).isDefined)
    assert(bridge.deterministicFileKey(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)).isDefined)
    // in-memory frames: no file identity to key on
    assert(bridge.deterministicFileKey(
      Seq((1L, "a")).toDF("doc_id", "text")).isEmpty)
    // localCheckpoint truncates lineage to a LogicalRDD leaf — two
    // different checkpoints can canonicalize identically, so no key
    assert(bridge.deterministicFileKey(docs.localCheckpoint()).isEmpty)
    // non-deterministic expressions poison the plan
    assert(bridge.deterministicFileKey(
      docs.withColumn("r", rand())).isEmpty)
  }

  test("memoized fingerprint equals a fresh compute and repeated calls agree") {
    val slice = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
    val a = Artifact.fingerprint(slice, col("doc_id"), col("text"))
    val b = Artifact.fingerprint(slice, col("doc_id"), col("text"))
    assert(a == b)
    // a checkpointed copy of the same rows bypasses the memo entirely —
    // its fingerprint must still be the same value (memo ≡ recompute)
    val c = Artifact.fingerprint(slice.localCheckpoint(),
      col("doc_id"), col("text"))
    assert(a == c, "memo hit must equal the non-memoized compute")
    // different column set → different memo slot, not a stale hit
    val d = Artifact.fingerprint(slice, col("doc_id"))
    assert(a != d)
  }

  test("sessions of one SparkContext share the fingerprint cache") {
    val cols = Seq(col("doc_id"), col("text"))
    val slice = (s: org.apache.spark.sql.SparkSession) =>
      Tables.documents(s, sfDir).filter(pmod(col("doc_id"), lit(7L)) === 0L)
    // frames are built first: reading a file in a new session infers
    // its schema with a job of its own
    val mine = slice(spark)
    val theirs = slice(spark.newSession())
    val a = Artifact.fingerprint(mine, cols: _*)
    val group = s"fpmemo-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "second-session fingerprint")
    val b = try Artifact.fingerprint(theirs, cols: _*)
      finally spark.sparkContext.clearJobGroup()
    assert(a == b)
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty,
      "the second session must hit the first session's entry, not rescan")
  }

  test("a rewritten input file can never serve a stale fingerprint") {
    val dir = s"target/test_fpmemo_${System.nanoTime()}"
    Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val df1 = spark.read.parquet(dir)
    val fp1 = Artifact.fingerprint(df1, col("doc_id"), col("text"))
    // overwrite with different content at the SAME path — part-file
    // names change per write, so the memo key must miss
    Seq((1L, "one"), (3L, "three")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val df2 = spark.read.parquet(dir)
    val fp2 = Artifact.fingerprint(df2, col("doc_id"), col("text"))
    assert(fp1 != fp2, "rewritten content must re-fingerprint")
    deleteRecursively(dir)
  }

  test("ensureLrFixture: serves warm, rebuilds on slice change, model equals ensureLr's") {
    val dir1 = s"target/test_lrfix_${System.nanoTime()}"
    val dir2 = s"${dir1}_b"
    LrClassifier.ensureLrFixture(spark, docs, dir1, vocabSize = 64, iters = 4)
    val metaAfterBuild = Artifact.readMeta(spark, dir1)
    // warm re-ensure: same meta line, no rebuild (mtime of weights
    // unchanged)
    val wPath = new java.io.File(s"$dir1/weights")
    val mt = wPath.lastModified
    LrClassifier.ensureLrFixture(spark, docs, dir1, vocabSize = 64, iters = 4)
    assert(Artifact.readMeta(spark, dir1) == metaAfterBuild)
    assert(wPath.lastModified == mt, "warm ensure must not rebuild")
    // the fixture-keyed artifact trains the SAME model as the
    // labeled-frame path over the same seed
    LrClassifier.ensureLr(spark, LrClassifier.fixtureSeed(docs, 64), dir2,
      vocabSize = 64, iters = 4)
    val w1 = spark.read.parquet(s"$dir1/weights")
      .orderBy(col("token")).collect().toSeq
    val w2 = spark.read.parquet(s"$dir2/weights")
      .orderBy(col("token")).collect().toSeq
    assert(w1 == w2, "fixture ensure must train the identical model")
    // a changed slice (drop one seed doc) must read as stale
    val fpFull = Artifact.fingerprint(
      docs.filter(pmod(col("doc_id"), lit(5L)) === 0L),
      col("doc_id"), col("text"))
    val fpDropped = Artifact.fingerprint(
      docs.filter(pmod(col("doc_id"), lit(5L)) === 0L && col("doc_id") =!= 0L),
      col("doc_id"), col("text"))
    assert(fpFull != fpDropped)
    deleteRecursively(dir1); deleteRecursively(dir2)
  }
}
