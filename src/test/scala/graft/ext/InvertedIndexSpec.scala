package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._

class InvertedIndexSpec extends SparkSuite {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val work = "target/test_artifacts/invspec"

  private def freshDir(name: String): String = {
    val d = s"$work/$name"
    deleteRecursively(d)
    d
  }

  // corpus: dl 3/2/4, N=3, avgdl=3.0
  private def corpus3 = docs(
    (1L, "a a b"), (2L, "a c"), (3L, "b b b c"))

  test("bm25: hand-computed scores, deterministic order, bounded k") {
    val d = freshDir("bm25")
    InvertedIndex.ensureIndex(spark, corpus3, d)
    val res = InvertedIndex.searchBm25(spark, d, "a b", k = 10)
      .as[(Long, Long, Double)].collect()
    // df(a)=df(b)=2 → idf = ln(1 + (3-2+0.5)/(2+0.5)) = ln(1.6) for both;
    // per-doc tf component: tf*2.2 / (tf + 1.2*(0.25 + 0.75*dl/3))
    val idf = math.log(1.6)
    val want = Map(
      1L -> idf * (2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3.0 / 3.0))
        + 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 3.0 / 3.0))),
      2L -> idf * 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 2.0 / 3.0)),
      3L -> idf * 3 * 2.2 / (3 + 1.2 * (0.25 + 0.75 * 4.0 / 3.0)))
    assert(res.map(_._1).toSeq == Seq(1L, 3L, 2L), "score-desc, doc-asc order")
    assert(res.collect { case (id, _, s) => math.abs(s - want(id)) }.max < 1e-6)
    assert(res.collect { case (1L, n, _) => n }.head == 2L, "n_terms matched")
    val top2 = InvertedIndex.searchBm25(spark, d, "a b", k = 2).collect()
    assert(top2.length == 2)
  }

  test("conjunctive match requires every term") {
    val d = freshDir("conj")
    InvertedIndex.ensureIndex(spark, corpus3, d)
    val res = InvertedIndex.searchAll(spark, d, "a b")
      .as[(Long, Long)].collect().toSeq
    assert(res == Seq((1L, 3L)), "only doc 1 has both terms; tf sums to 3")
  }

  test("append equals rebuild: metadata line and search results") {
    val half1 = docs((1L, "a a b"), (2L, "a c"))
    val half2 = docs((3L, "b b b c"), (4L, "c c d"))
    val inc = freshDir("append_inc")
    val ref = freshDir("append_ref")
    InvertedIndex.ensureIndex(spark, half1, inc)
    InvertedIndex.ledger.append(spark, half2, inc)
    InvertedIndex.ensureIndex(spark, half1.unionByName(half2), ref)
    assert(Artifact.readMeta(spark, inc) == Artifact.readMeta(spark, ref),
      "additive fingerprint must land on the full corpus fingerprint")
    // a later ensure over the full corpus must SERVE, not rebuild
    val idFiles = new java.io.File(s"$inc/ids").listFiles().length
    InvertedIndex.ensureIndex(spark, half1.unionByName(half2), inc)
    assert(new java.io.File(s"$inc/ids").listFiles().length == idFiles)
    val qi = InvertedIndex.searchBm25(spark, inc, "a b c", 10).collect().toSeq
    val qr = InvertedIndex.searchBm25(spark, ref, "a b c", 10).collect().toSeq
    assert(qi == qr)
  }

  test("append is idempotent; intra-batch duplicate ids fail fast") {
    val d = freshDir("idem")
    InvertedIndex.ensureIndex(spark, corpus3, d)
    val metaBefore = Artifact.readMeta(spark, d)
    InvertedIndex.ledger.append(spark, docs((2L, "a c")), d)
    assert(Artifact.readMeta(spark, d) == metaBefore, "double submit is a no-op")
    intercept[IllegalArgumentException] {
      InvertedIndex.ledger.append(spark, docs((9L, "x"), (9L, "x")), d)
    }
  }

  test("remove equals fresh build on the remnant; double-remove no-op") {
    val keep = docs((1L, "a a b"), (3L, "b b b c"))
    val gone = docs((2L, "a c"))
    val d = freshDir("remove")
    val ref = freshDir("remove_ref")
    InvertedIndex.ensureIndex(spark, keep.unionByName(gone), d)
    InvertedIndex.ledger.remove(spark, gone, d)
    InvertedIndex.ensureIndex(spark, keep, ref)
    assert(Artifact.readMeta(spark, d) == Artifact.readMeta(spark, ref),
      "subtracted fingerprint must equal the remnant corpus fingerprint")
    val qi = InvertedIndex.searchBm25(spark, d, "a b c", 10).collect().toSeq
    val qr = InvertedIndex.searchBm25(spark, ref, "a b c", 10).collect().toSeq
    assert(qi == qr, "N, avgdl, df and tf must all reflect the removal")
    val metaAfter = Artifact.readMeta(spark, d)
    InvertedIndex.ledger.remove(spark, gone, d)
    assert(Artifact.readMeta(spark, d) == metaAfter, "double remove is a no-op")
  }

  test("re-insert after removal serves the NEW text (tf, dl, stats)") {
    val d = freshDir("reinsert")
    val ref = freshDir("reinsert_ref")
    InvertedIndex.ensureIndex(spark, corpus3, d)
    InvertedIndex.ledger.remove(spark, docs((1L, "a a b")), d)
    InvertedIndex.ledger.append(spark, docs((1L, "a")), d)
    InvertedIndex.ensureIndex(spark,
      docs((1L, "a"), (2L, "a c"), (3L, "b b b c")), ref)
    assert(Artifact.readMeta(spark, d) == Artifact.readMeta(spark, ref))
    val qi = InvertedIndex.searchBm25(spark, d, "a b", 10).collect().toSeq
    val qr = InvertedIndex.searchBm25(spark, ref, "a b", 10).collect().toSeq
    assert(qi == qr, "old postings must net out; dl must be the new length")
  }

  test("compaction: fewer files, meta unchanged, identical results") {
    val d = freshDir("compact")
    InvertedIndex.ensureIndex(spark, corpus3, d)
    (4L to 9L).foreach { i =>
      InvertedIndex.ledger.append(spark, docs((i, s"a b term$i")), d)
    }
    InvertedIndex.ledger.remove(spark, docs((4L, "a b term4")), d)
    val before = InvertedIndex.searchBm25(spark, d, "a b c", 20).collect().toSeq
    val metaBefore = Artifact.readMeta(spark, d)
    val (fb, fa) = InvertedIndex.ledger.compact(spark, d)
    assert(fa < fb, s"compaction must shrink the file count ($fb -> $fa)")
    assert(Artifact.readMeta(spark, d) == metaBefore)
    assert(!Artifact.hasTombstones(spark, d), "masked rows dropped physically")
    val after = InvertedIndex.searchBm25(spark, d, "a b c", 20).collect().toSeq
    assert(after == before)
    assert(new java.io.File(s"$d/postings").listFiles()
      .exists(_.getName.startsWith("bucket=")), "partitioned layout preserved")
  }

  test("search reads only the query terms' buckets (static partition pruning)") {
    val d = freshDir("prune")
    // enough distinct terms that the query's buckets are a strict subset
    val many = (1L to 50L).map(i => (i, s"term$i filler$i"))
    InvertedIndex.ensureIndex(spark, docs(many: _*), d)
    val res = InvertedIndex.postingsFor(spark, d, Seq("term7", "term13"))
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"),
      s"postings read must prune on the bucket partition column:\n$plan")
  }
}
