package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The interpolated bigram LM: hand-computable scoring, sensitivity to
  * token ORDER (the property the unigram model lacks), and the full
  * two-ledger artifact lifecycle staying equal to a rebuild.
  */
class BigramModelSpec extends SparkSuite {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val work = "target/test_artifacts/lm2spec"

  private def freshDir(name: String): String = {
    val d = s"$work/$name"
    deleteRecursively(d)
    d
  }

  test("score2: hand-computed interpolated NLL") {
    val d = freshDir("score")
    // corpus: "x y x y" + "y x" → uni {x:3, y:3}, D = 6 + 2 + 1 = 9;
    // bigrams {(x,y):2, (y,x):2}, tot(x)=2, tot(y)=2, D2 = tot + V + 1 = 5
    BigramModel.ensureLm2(spark, docs((1L, "x y x y"), (2L, "y x")), d)
    val s = BigramModel.score2(spark, docs((9L, "x y")), d)
      .as[(Long, Long, Double)].collect()
    assert(s.length == 1 && s.head._2 == 2)
    val pFirst = 4.0 / 9                        // uni(x)
    val pTrans = 0.5 * (3.0 / 5) + 0.5 * (4.0 / 9) // λ·bi(y|x) + (1−λ)·uni(y)
    val want = -(math.log(pFirst) + math.log(pTrans)) / 2
    assert(math.abs(s.head._3 - want) < 1e-6, s"got ${s.head._3} want $want")
  }

  test("score2Kn: hand-computed Kneser-Ney NLL") {
    val d = freshDir("scorekn")
    // corpus: "x y x y" + "y x" → uni {x:3, y:3}, V=2, D_uni = 9;
    // mapped bigrams {(x,y):2, (y,x):2} → B=2, tot(x)=2, n1p(x)=1,
    // n1c(y)=1; continuation denominator B+V+1 = 5
    BigramModel.ensureLm2(spark, docs((1L, "x y x y"), (2L, "y x")), d)
    val s = BigramModel.score2Kn(spark, docs((9L, "x y")), d)
      .as[(Long, Long, Double)].collect()
    assert(s.length == 1 && s.head._2 == 2)
    val pFirst = 4.0 / 9 // uni(x), add-one
    // KN(y|x): max(2−0.75,0)/2 + (0.75·1/2)·((1+1)/5)
    val pTrans = 1.25 / 2 + (0.75 * 1 / 2) * (2.0 / 5)
    val want = -(math.log(pFirst) + math.log(pTrans)) / 2
    assert(math.abs(s.head._3 - want) < 1e-6, s"got ${s.head._3} want $want")
    // unseen predecessor ("q") backs off to the smoothed continuation:
    // q maps to OOV (not in vocab {x,y}), OOV never appears as a mapped
    // predecessor → p = p_cont(x) = (1+1)/5
    val s2 = BigramModel.score2Kn(spark, docs((10L, "q x")), d)
      .as[(Long, Long, Double)].collect()
    val pQ = 1.0 / 9 // OOV unigram: (0+1)/9
    val pX = 2.0 / 5
    val want2 = -(math.log(pQ) + math.log(pX)) / 2
    assert(math.abs(s2.head._3 - want2) < 1e-6, s"got ${s2.head._3} want $want2")
  }

  test("KN separates formulaic repetition from productive word use") {
    val d = freshDir("kncont")
    // 'of' is frequent but ONLY ever follows 'out' (formulaic);
    // 'cat' is rarer but follows many predecessors (productive).
    // After an unseen predecessor, KN must prefer the productive word —
    // the continuation-probability property JM lacks.
    BigramModel.ensureLm2(spark, docs(
      (1L, "out of out of out of out of"),
      (2L, "big cat small cat red cat fast cat")), d)
    val s = BigramModel.score2Kn(spark, docs(
        (10L, "zzz of"), (11L, "zzz cat")), d)
      .orderBy(col("doc_id"))
      .as[(Long, Long, Double)].collect()
    assert(s(0)._3 > s(1)._3,
      s"continuation backoff must score productive 'cat' above formulaic 'of': $s")
  }

  test("bigram model penalizes wrong ORDER where the unigram model cannot") {
    val d2 = freshDir("order_bi")
    val d1 = freshDir("order_uni")
    val corpus = docs((1L, "x y x y"), (2L, "x y"))
    BigramModel.ensureLm2(spark, corpus, d2)
    LanguageModel.ensureLm(spark, corpus, d1)
    // same tokens, opposite order: "x y" follows the corpus transitions,
    // "y x" never occurs in it
    val inOrder = docs((8L, "x y"))
    val scrambled = docs((9L, "y x"))
    def bi(b: org.apache.spark.sql.DataFrame) =
      BigramModel.score2(spark, b, d2).as[(Long, Long, Double)].head()._3
    def uni(b: org.apache.spark.sql.DataFrame) =
      LanguageModel.score(spark, b, d1).as[(Long, Long, Long, Double)].head()._4
    assert(bi(scrambled) > bi(inOrder),
      "the bigram model must score the unseen transition worse")
    // the unigram model sees identical token multisets — near-equal
    // means (uni(x) vs uni(y) counts differ, so compare the bags): here
    // x and y have different corpus counts, so compare the SAME bag
    assert(math.abs(uni(docs((8L, "x y"))) - uni(docs((9L, "y x")))) < 1e-9,
      "the unigram model cannot distinguish order")
  }

  test("OOV collapses both bigram sides; single-token docs score on the unigram") {
    val d = freshDir("oov")
    BigramModel.ensureLm2(spark, docs((1L, "x y x y"), (2L, "y x")), d)
    // "z" is OOV: uni = 1/9; single token → no transition term
    val s1 = BigramModel.score2(spark, docs((9L, "z")), d)
      .as[(Long, Long, Double)].head()
    assert(s1._2 == 1)
    assert(math.abs(s1._3 - (-math.log(1.0 / 9))) < 1e-6)
    // "z z": transition (OOV→OOV) has c2=0 and tot(OOV)=0 → p_bi = 1/3
    // (0 + V + 1 = 3); p = 0.5/3 + 0.5/9
    val s2 = BigramModel.score2(spark, docs((9L, "z z")), d)
      .as[(Long, Long, Double)].head()
    val want = -(math.log(1.0 / 9) + math.log(0.5 / 3 + 0.5 / 9)) / 2
    assert(math.abs(s2._3 - want) < 1e-6, s"got ${s2._3} want $want")
  }

  test("append equals rebuild; idempotent; duplicate ids fail fast") {
    val half1 = docs((1L, "x y x"), (2L, "y z"))
    val half2 = docs((3L, "z x y"), (4L, "x x"))
    val inc = freshDir("append_inc")
    val ref = freshDir("append_ref")
    BigramModel.ensureLm2(spark, half1, inc)
    BigramModel.ledger.append(spark, half2, inc)
    BigramModel.ensureLm2(spark, half1.unionByName(half2), ref)
    assert(Artifact.readMeta(spark, inc) == Artifact.readMeta(spark, ref))
    val batch = docs((9L, "x y z q"), (10L, "y y"))
    assert(BigramModel.score2(spark, batch, inc).collect().toSeq ==
      BigramModel.score2(spark, batch, ref).collect().toSeq)
    val meta = Artifact.readMeta(spark, inc)
    BigramModel.ledger.append(spark, half2, inc)
    assert(Artifact.readMeta(spark, inc) == meta, "double-submit is a no-op")
    intercept[IllegalArgumentException] {
      BigramModel.ledger.append(spark, docs((7L, "a"), (7L, "a")), inc)
    }
    assert(Artifact.readMeta(spark, inc) == meta)
  }

  test("removal equals rebuild; retried removal no-op; compaction drops residue") {
    val keep = docs((1L, "x y x"), (2L, "y z"))
    val gone = docs((3L, "z z q q"), (4L, "q x"))
    val inc = freshDir("remove_inc")
    val ref = freshDir("remove_ref")
    BigramModel.ensureLm2(spark, keep.unionByName(gone), inc)
    BigramModel.ledger.remove(spark, gone, inc)
    BigramModel.ensureLm2(spark, keep, ref)
    assert(Artifact.readMeta(spark, inc) == Artifact.readMeta(spark, ref),
      "subtracted fingerprint must land on the surviving corpus's")
    val batch = docs((9L, "x y z q"), (10L, "q q"))
    assert(BigramModel.score2(spark, batch, inc).collect().toSeq ==
      BigramModel.score2(spark, batch, ref).collect().toSeq,
      "netted-out tokens and transitions must leave both ledgers")
    val meta = Artifact.readMeta(spark, inc)
    BigramModel.ledger.remove(spark, gone, inc)
    assert(Artifact.readMeta(spark, inc) == meta, "double-remove is a no-op")
    BigramModel.ledger.compact(spark, inc)
    assert(!Artifact.hasTombstones(spark, inc))
    assert(BigramModel.score2(spark, batch, inc).collect().toSeq ==
      BigramModel.score2(spark, batch, ref).collect().toSeq)
    assert(spark.read.parquet(s"$inc/counts2")
      .groupBy(col("prev"), col("cur")).count().filter(col("count") > 1).isEmpty,
      "compaction must merge per-pair deltas to one row")
  }
}
