package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._

class LanguageModelSpec extends SparkSuite {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val work = "target/test_artifacts/lmspec"

  private def freshDir(name: String): String = {
    val d = s"$work/$name"
    deleteRecursively(d)
    d
  }

  test("vocab: summed counts, count-desc token-asc order, bounded") {
    val d = freshDir("vocab")
    LanguageModel.ensureLm(spark, docs(
      (1L, "a b a"), (2L, "b c b a")), d)
    val v = LanguageModel.vocab(spark, d, 2).as[(String, Long)].collect()
    // counts: a=3, b=3, c=1 → tiebreak puts a before b; c cut by limit
    assert(v.toSeq == Seq(("a", 3L), ("b", 3L)))
  }

  test("add-one smoothing is a proper distribution (integer identity)") {
    val d = freshDir("smooth")
    LanguageModel.ensureLm(spark, docs((1L, "a b a c d e"), (2L, "a b")), d)
    val v = LanguageModel.vocab(spark, d, 3).as[(String, Long)].collect()
    // D = Σ_vocab c + |vocab| + 1; numerators are (c+1) per vocab token
    // plus 1 for OOV — Σ numerators must equal D exactly
    val dDenom = v.map(_._2).sum + v.length + 1
    assert(v.map(_._2 + 1).sum + 1 == dDenom)
  }

  test("score: hand-computed mean NLL, OOV counted, any batch scorable") {
    val d = freshDir("score")
    LanguageModel.ensureLm(spark, docs(
      (1L, "a a a b"), (2L, "b c")), d)
    // corpus counts: a=3, b=2, c=1; vocabSize=2 → vocab {a:3, b:2},
    // D = 5 + 2 + 1 = 8; p(a)=4/8, p(b)=3/8, p(OOV)=1/8
    val scored = LanguageModel.score(spark,
        docs((9L, "a b z")), d, vocabSize = 2)
      .as[(Long, Long, Long, Double)].collect()
    assert(scored.length == 1)
    val (_, n, oov, nll) = scored.head
    assert(n == 3 && oov == 1)
    val want = -(math.log(4.0 / 8) + math.log(3.0 / 8) + math.log(1.0 / 8)) / 3
    assert(math.abs(nll - want) < 1e-6, s"got $nll want $want")
  }

  test("append equals rebuild: vocab, scores, and metadata line") {
    val half1 = docs((1L, "a b c"), (2L, "b c d"))
    val half2 = docs((3L, "c d e"), (4L, "a a a"))
    val full = half1.unionByName(half2)
    val inc = freshDir("append_inc")
    val ref = freshDir("append_ref")
    LanguageModel.ensureLm(spark, half1, inc)
    LanguageModel.ledger.append(spark, half2, inc)
    LanguageModel.ensureLm(spark, full, ref)
    assert(Artifact.readMeta(spark, inc) == Artifact.readMeta(spark, ref),
      "additive fingerprint must land on the full corpus fingerprint")
    // a later ensure over the full corpus must SERVE, not rebuild:
    // the counts files written by the append are still there
    val filesBefore = new java.io.File(s"$inc/counts").listFiles().length
    LanguageModel.ensureLm(spark, full, inc)
    assert(new java.io.File(s"$inc/counts").listFiles().length == filesBefore)
    val vi = LanguageModel.vocab(spark, inc, 10).as[(String, Long)].collect().toSeq
    val vr = LanguageModel.vocab(spark, ref, 10).as[(String, Long)].collect().toSeq
    assert(vi == vr)
    val batch = docs((9L, "a e z"))
    val si = LanguageModel.score(spark, batch, inc, 4).collect().toSeq
    val sr = LanguageModel.score(spark, batch, ref, 4).collect().toSeq
    assert(si == sr)
  }

  test("append is idempotent: double-submitted batch is a no-op") {
    val d = freshDir("idem")
    LanguageModel.ensureLm(spark, docs((1L, "a b")), d)
    val batch = docs((2L, "b c"))
    LanguageModel.ledger.append(spark, batch, d)
    val meta = Artifact.readMeta(spark, d)
    val v = LanguageModel.vocab(spark, d, 10).as[(String, Long)].collect().toSeq
    LanguageModel.ledger.append(spark, batch, d)
    assert(Artifact.readMeta(spark, d) == meta)
    assert(LanguageModel.vocab(spark, d, 10).as[(String, Long)].collect().toSeq == v)
  }

  test("append fails fast on intra-batch duplicate doc_ids, artifact untouched") {
    val d = freshDir("dupbatch")
    LanguageModel.ensureLm(spark, docs((1L, "a b")), d)
    val meta = Artifact.readMeta(spark, d)
    val v = LanguageModel.vocab(spark, d, 10).as[(String, Long)].collect().toSeq
    // same id twice in one batch: the idempotency anti-join only sees
    // STORED ids, so without the guard the tokens would double-count
    intercept[IllegalArgumentException] {
      LanguageModel.ledger.append(spark, docs((2L, "b c"), (2L, "b c")), d)
    }
    assert(Artifact.readMeta(spark, d) == meta, "failed append must not touch metadata")
    assert(LanguageModel.vocab(spark, d, 10).as[(String, Long)].collect().toSeq == v,
      "failed append must not touch the ledger")
  }

  test("compaction: fewer files, same vocab, metadata untouched") {
    val d = freshDir("compact")
    LanguageModel.ensureLm(spark, docs((1L, "a b")), d)
    (2 to 6).foreach(i => LanguageModel.ledger.append(spark, docs((i.toLong, "a b c")), d))
    val meta = Artifact.readMeta(spark, d)
    val v = LanguageModel.vocab(spark, d, 10).as[(String, Long)].collect().toSeq
    val (before, after) = LanguageModel.ledger.compact(spark, d)
    assert(after < before, s"compaction must shrink the file count: $before -> $after")
    assert(Artifact.readMeta(spark, d) == meta)
    assert(LanguageModel.vocab(spark, d, 10).as[(String, Long)].collect().toSeq == v)
  }

  test("removal equals rebuild: vocab, scores, fingerprint; then " +
      "recycle the id with new text; compaction drops the residue") {
    val keep = docs((1L, "a b c"), (2L, "b c d"))
    val gone = docs((3L, "c d e zz zz"), (4L, "a zz"))
    val inc = freshDir("remove_inc")
    LanguageModel.ensureLm(spark, keep.unionByName(gone), inc)
    LanguageModel.ledger.remove(spark, gone, inc)

    def assertEqualsFresh(corpus: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val ref = freshDir(s"remove_ref_$tag")
      LanguageModel.ensureLm(spark, corpus, ref)
      assert(Artifact.readMeta(spark, inc) == Artifact.readMeta(spark, ref),
        s"[$tag] subtracted fingerprint must land on the surviving corpus's")
      assert(LanguageModel.vocab(spark, inc, 10).as[(String, Long)].collect().toSeq
        == LanguageModel.vocab(spark, ref, 10).as[(String, Long)].collect().toSeq,
        s"[$tag] vocab")
      val batch = docs((9L, "a d e zz q"))
      assert(LanguageModel.score(spark, batch, inc, 4).collect().toSeq
        == LanguageModel.score(spark, batch, ref, 4).collect().toSeq, s"[$tag] score")
    }
    // `zz` (count 3) and `e` net to zero — they must vanish from vocab,
    // and a later ensure over the shrunken corpus must SERVE (fingerprint)
    assertEqualsFresh(keep, "after_remove")

    // removal is idempotent: the docs are no longer live
    val meta = Artifact.readMeta(spark, inc)
    LanguageModel.ledger.remove(spark, gone, inc)
    assert(Artifact.readMeta(spark, inc) == meta, "double-remove must be a no-op")

    // recycle id 3 with DIFFERENT text: the append must not treat the
    // masked id as indexed, and the model must equal a fresh build over
    // the new corpus (the old text's counts are gone, the new ones live)
    val recycled = docs((3L, "b q q"))
    LanguageModel.ledger.append(spark, recycled, inc)
    assertEqualsFresh(keep.unionByName(recycled), "after_recycle")

    // compaction drops masked id rows + netted-out tokens, clears the
    // tombstones, and changes nothing observable
    LanguageModel.ledger.compact(spark, inc)
    assert(!Artifact.hasTombstones(spark, inc), "compaction clears tombstones")
    assertEqualsFresh(keep.unionByName(recycled), "after_compact")
    val tokens = spark.read.parquet(s"$inc/counts")
      .groupBy(col("token")).count().filter(col("count") > 1).count()
    assert(tokens == 0, "compaction must merge per-token deltas to one row")
  }

  test("DSIR importance weights rank target-like documents first") {
    val tgt = freshDir("dsir_target")
    val raw = freshDir("dsir_raw")
    val corpus = docs(
      (1L, "alpha beta alpha"), (2L, "gamma delta gamma"),
      (3L, "alpha beta beta"), (4L, "delta delta gamma"))
    val target = docs((10L, "alpha beta alpha beta"), (11L, "beta alpha"))
    LanguageModel.ensureLm(spark, corpus, raw)
    LanguageModel.ensureLm(spark, target, tgt)
    val w = LanguageModel.importanceWeights(spark, corpus, tgt, raw)
      .as[(Long, Double, Double, Double)].collect().sortBy(_._1)
    assert(w.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L), "one weight per document")
    val ratio = w.map(x => x._1 -> x._4).toMap
    // alpha/beta documents look like the target; gamma/delta do not
    assert(ratio(1L) > ratio(2L) && ratio(3L) > ratio(4L),
      s"target-like docs must outrank off-target ones: $ratio")
    // the weight IS the difference of the two mean NLLs
    w.foreach { case (_, t, r, lr) =>
      assert(math.abs(lr - (r - t)) < 1e-6, s"log_ratio identity: $lr vs ${r - t}")
    }
  }

  test("perplexity buckets: tercile split covers all docs, head ≤ tail") {
    val d = freshDir("buckets")
    // 9 docs with distinct score profiles: common tokens → low nll,
    // rare-token soup → high
    val corpus = docs((1 to 9).map { i =>
      (i.toLong, (Seq.fill(10 - i)("common") ++ Seq.fill(i)(s"rare$i")).mkString(" "))
    }: _*)
    LanguageModel.ensureLm(spark, corpus, d)
    val b = LanguageModel.perplexityBuckets(
        LanguageModel.score(spark, corpus, d, vocabSize = 1))
      .select(col("ppl_bucket"), col("mean_nll")).as[(String, Double)].collect()
    assert(b.length == 9)
    val byBucket = b.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
  }
}
