package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The Naive Bayes classifier: training is counting, so every score is
  * hand-computable; the artifact lifecycle mirrors the unigram LM's
  * and must keep append/remove exactly equal to a rebuild.
  */
class ClassifierSpec extends SparkSuite {
  import spark.implicits._

  private def labeled(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "label")

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val work = "target/test_artifacts/nbspec"

  private def freshDir(name: String): String = {
    val d = s"$work/$name"
    deleteRecursively(d)
    d
  }

  // two classes with disjoint vocabularies — planted so the decision
  // boundary is unambiguous
  private def seed = labeled(
    (1L, "good clean fluent text", "hi"),
    (2L, "good fluent good text", "hi"),
    (3L, "spam junk noise spam", "lo"),
    (4L, "junk noise junk junk", "lo"))

  test("score: hand-computed joint log-likelihood, both labels, proper distributions") {
    val d = freshDir("score")
    Classifier.ensureNb(spark, seed, d)
    // counts: hi = {good:3, clean:1, fluent:2, text:2}, lo = {spam:2, junk:4, noise:2}
    // vocab (V=7, all tokens); D_hi = 8 + 7 + 1 = 16; D_lo = 8 + 7 + 1 = 16
    // priors: ln(2/4) each
    val s = Classifier.score(spark, docs((9L, "good junk zzz")), d)
      .as[(Long, String, Double)].collect().sortBy(_._2).toSeq
    assert(s.map(x => (x._1, x._2)) == Seq((9L, "hi"), (9L, "lo")))
    val wantHi = math.log(0.5) +
      math.log(4.0 / 16) + math.log(1.0 / 16) + math.log(1.0 / 16)
    val wantLo = math.log(0.5) +
      math.log(1.0 / 16) + math.log(5.0 / 16) + math.log(1.0 / 16)
    assert(math.abs(s(0)._3 - wantHi) < 1e-6, s"hi: got ${s(0)._3} want $wantHi")
    assert(math.abs(s(1)._3 - wantLo) < 1e-6, s"lo: got ${s(1)._3} want $wantLo")
  }

  test("predict: planted classes recovered, margins positive, label tiebreak") {
    val d = freshDir("predict")
    Classifier.ensureNb(spark, seed, d)
    val p = Classifier.predict(spark, docs(
        (10L, "good fluent clean"), (11L, "spam spam noise"), (12L, "zzz qqq")), d)
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(p(0)._2 == "hi" && p(1)._2 == "lo")
    assert(p(0)._3 > 0 && p(1)._3 > 0, "planted classes must win with a margin")
    // an all-OOV doc scores identically under both labels (equal
    // priors, equal D=16) — the true tie breaks by label asc
    assert(p(2)._2 == "hi" && p(2)._3 == 0.0)
  }

  test("vocabSize bounds the vocabulary: rare tokens degrade to OOV") {
    val d = freshDir("vocab")
    Classifier.ensureNb(spark, seed, d)
    // V=2 keeps {junk:4, good:3} (count desc); everything else is OOV:
    // D_hi = 3 + 2 + 1 = 6, D_lo = 4 + 2 + 1 = 7
    val s = Classifier.score(spark, docs((9L, "good junk")), d, vocabSize = 2)
      .as[(Long, String, Double)].collect().sortBy(_._2)
    val wantHi = math.log(0.5) + math.log(4.0 / 6) + math.log(1.0 / 6)
    val wantLo = math.log(0.5) + math.log(1.0 / 7) + math.log(5.0 / 7)
    assert(math.abs(s(0)._3 - wantHi) < 1e-6)
    assert(math.abs(s(1)._3 - wantLo) < 1e-6)
  }

  test("append equals rebuild; idempotent; duplicate ids fail fast") {
    val half1 = labeled((1L, "good clean", "hi"), (3L, "spam junk", "lo"))
    val half2 = labeled((2L, "good fluent", "hi"), (4L, "junk noise", "lo"))
    val inc = freshDir("append_inc")
    val ref = freshDir("append_ref")
    Classifier.ensureNb(spark, half1, inc)
    Classifier.ledger.append(spark, half2, inc)
    Classifier.ensureNb(spark, half1.unionByName(half2), ref)
    assert(Artifact.readMeta(spark, inc) == Artifact.readMeta(spark, ref),
      "additive fingerprint must land on the full seed's")
    val batch = docs((9L, "good junk zzz"))
    assert(Classifier.score(spark, batch, inc).collect().toSeq ==
      Classifier.score(spark, batch, ref).collect().toSeq)
    // double-submit: no-op
    val meta = Artifact.readMeta(spark, inc)
    Classifier.ledger.append(spark, half2, inc)
    assert(Artifact.readMeta(spark, inc) == meta)
    // intra-batch duplicate id: fail fast, artifact untouched
    intercept[IllegalArgumentException] {
      Classifier.ledger.append(spark,
        labeled((7L, "a", "hi"), (7L, "a", "hi")), inc)
    }
    assert(Artifact.readMeta(spark, inc) == meta)
  }

  test("removal equals rebuild; retried removal is a no-op; compaction drops residue") {
    val keep = labeled((1L, "good clean", "hi"), (3L, "spam junk", "lo"))
    val gone = labeled((2L, "good zz zz", "hi"), (4L, "noise zz", "lo"))
    val inc = freshDir("remove_inc")
    val ref = freshDir("remove_ref")
    Classifier.ensureNb(spark, keep.unionByName(gone), inc)
    Classifier.ledger.remove(spark, gone, inc)
    Classifier.ensureNb(spark, keep, ref)
    assert(Artifact.readMeta(spark, inc) == Artifact.readMeta(spark, ref),
      "subtracted fingerprint must land on the surviving seed's")
    val batch = docs((9L, "good zz junk"))
    assert(Classifier.score(spark, batch, inc).collect().toSeq ==
      Classifier.score(spark, batch, ref).collect().toSeq,
      "`zz` netted to zero must be out of the vocabulary")
    val meta = Artifact.readMeta(spark, inc)
    Classifier.ledger.remove(spark, gone, inc)
    assert(Artifact.readMeta(spark, inc) == meta, "double-remove must be a no-op")
    // compaction: same scores, tombstones cleared, deltas merged
    Classifier.ledger.compact(spark, inc)
    assert(!Artifact.hasTombstones(spark, inc))
    assert(Classifier.score(spark, batch, inc).collect().toSeq ==
      Classifier.score(spark, batch, ref).collect().toSeq)
    assert(spark.read.parquet(s"$inc/counts")
      .groupBy(col("label"), col("token")).count().filter(col("count") > 1).isEmpty)
  }
}
