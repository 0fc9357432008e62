package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The laws of the doc-keyed delta-ledger lifecycle, on a toy ledger of
  * two tables: corpus token counts, and per-document token counts laid
  * out `partitionBy(part)` like the inverted index's postings.
  */
class DocLedgerSpec extends SparkSuite {
  import spark.implicits._

  private val work = "target/test_artifacts/docledger"

  private def freshDir(name: String): String = {
    val d = s"$work/$name"
    deleteRecursively(d)
    d
  }

  private def docs(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")

  private def tokenCounts(d: DataFrame): DataFrame =
    d.select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))

  private def docLengths(d: DataFrame): DataFrame =
    d.select(col("doc_id"), size(TextAnalysis.tokens(col("text"))).cast("long").as("n"),
      pmod(col("doc_id"), lit(2L)).as("part"))

  /** Set to make the second table's delta throw — a crash between the
    * first table's write and the second's.
    */
  @volatile private var crashSecond = false

  private val ledger = Artifact.DocLedger("toyledger v1 ", Seq("doc_id", "text"),
    Seq(col("doc_id")),
    Seq(Artifact.Additive("tokens", (d, _) => tokenCounts(d), Seq("token"), "c"),
      Artifact.Additive("lengths", (d, _) => {
        if (crashSecond) throw new RuntimeException("crash in the second table's delta")
        docLengths(d)
      }, Seq("doc_id"), "n", partitionBy = Seq("part"))))

  private def ensure(d: DataFrame, dir: String): String = ledger.ensure(spark, d, dir, "unit=ws")

  /** Everything a reader sees: netted tables and live ids. */
  private def content(dir: String): (Seq[(String, Long)], Seq[(Long, Long)], Seq[Long]) = (
    spark.read.parquet(s"$dir/tokens").groupBy(col("token")).agg(sum(col("c")).as("c"))
      .filter(col("c") > 0).as[(String, Long)].collect().toSeq.sorted,
    spark.read.parquet(s"$dir/lengths").groupBy(col("doc_id")).agg(sum(col("n")).as("n"))
      .filter(col("n") > 0).as[(Long, Long)].collect().toSeq.sorted,
    ledger.liveIds(spark, dir).select(col("doc_id")).as[Long].collect().toSeq.sorted)

  private def parquetFiles(dir: String): Set[String] = {
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f.getPath) else Nil
    walk(new java.io.File(dir)).toSet
  }

  /** The ledger at `dir` reads exactly like a fresh build over `corpus`. */
  private def assertEqualsFresh(dir: String, corpus: DataFrame, tag: String): Unit = {
    val ref = freshDir(s"ref_$tag")
    ensure(corpus, ref)
    assert(Artifact.readMeta(spark, dir) == Artifact.readMeta(spark, ref), s"[$tag] meta")
    assert(content(dir) == content(ref), s"[$tag] content")
  }

  private val keep = docs((1L, "a b c"), (2L, "b c d"))
  private val gone = docs((3L, "c d e zz"), (4L, "a zz"))

  test("append, then ensure over the union, serves with no rebuild and a fresh build's meta") {
    val d = freshDir("append")
    ensure(keep, d)
    ledger.append(spark, gone, d)
    val full = keep.unionByName(gone)
    assertEqualsFresh(d, full, "append")
    val files = parquetFiles(d)
    ensure(full, d)
    assert(parquetFiles(d) == files, "a matching meta must serve, not rebuild")
    // a double-submitted batch is a no-op
    val meta = Artifact.readMeta(spark, d)
    ledger.append(spark, gone, d)
    assert(Artifact.readMeta(spark, d) == meta && parquetFiles(d) == files)
  }

  test("append fails fast on intra-batch duplicate ids, artifact untouched") {
    val d = freshDir("dupbatch")
    ensure(keep, d)
    val meta = Artifact.readMeta(spark, d)
    val before = content(d)
    val e = intercept[IllegalArgumentException] {
      ledger.append(spark, docs((5L, "x"), (5L, "x")), d)
    }
    assert(e.getMessage.contains("duplicate doc_ids"))
    assert(Artifact.readMeta(spark, d) == meta && content(d) == before)
  }

  test("remove equals a rebuild on the remnant; a retried remove is a no-op") {
    val d = freshDir("remove")
    ensure(keep.unionByName(gone), d)
    ledger.remove(spark, gone, d)
    assertEqualsFresh(d, keep, "remove")
    val meta = Artifact.readMeta(spark, d)
    val files = parquetFiles(d)
    ledger.remove(spark, gone, d)
    assert(Artifact.readMeta(spark, d) == meta, "a retried remove must not touch the meta")
    assert(parquetFiles(d) == files, "a retried remove must write no deltas")
    // removing an id that was never indexed is a no-op too
    ledger.remove(spark, docs((42L, "never indexed")), d)
    assert(Artifact.readMeta(spark, d) == meta && parquetFiles(d) == files)
  }

  test("re-inserting a removed id serves the new text") {
    val d = freshDir("reinsert")
    ensure(keep.unionByName(gone), d)
    ledger.remove(spark, gone, d)
    val recycled = docs((3L, "b q q"))
    ledger.append(spark, recycled, d)
    assertEqualsFresh(d, keep.unionByName(recycled), "reinsert")
  }

  test("compaction: no more files, same content and meta, tombstones cleared") {
    val d = freshDir("compact")
    ensure(keep, d)
    (5L to 8L).foreach(i => ledger.append(spark, docs((i, s"a b t$i")), d))
    ledger.remove(spark, docs((5L, "a b t5")), d)
    assert(Artifact.hasTombstones(spark, d))
    val meta = Artifact.readMeta(spark, d)
    val before = content(d)
    val nBefore = parquetFiles(d).size
    val (fb, fa) = ledger.compact(spark, d)
    assert(fa <= fb && parquetFiles(d).size <= nBefore,
      s"compaction must not grow the file set ($fb -> $fa)")
    assert(Artifact.readMeta(spark, d) == meta)
    assert(content(d) == before)
    assert(!Artifact.hasTombstones(spark, d), "compaction clears the tombstones")
    // per-key deltas merged to one row, masked id rows dropped physically
    assert(spark.read.parquet(s"$d/tokens").groupBy(col("token")).count()
      .filter(col("count") > 1).isEmpty)
    assert(spark.read.parquet(s"$d/lengths").groupBy(col("doc_id")).count()
      .filter(col("count") > 1).isEmpty)
    assert(spark.read.parquet(s"$d/ids").count() == before._3.length)
    assert(new java.io.File(s"$d/lengths").listFiles().exists(_.getName.startsWith("part=")),
      "partitioned layout preserved")
    assertEqualsFresh(d, keep.unionByName(docs((6L, "a b t6"), (7L, "a b t7"),
      (8L, "a b t8"))), "compact")
  }

  test("crash atomicity: a throwing delta leaves the marker; requireKind refuses; " +
      "ensure rebuilds to the fresh build") {
    val d = freshDir("crash")
    ensure(keep, d)
    crashSecond = true
    try intercept[RuntimeException](ledger.append(spark, gone, d))
    finally crashSecond = false
    assert(Artifact.hasPendingMutation(spark, d), "the half-written append must stay marked")
    intercept[IllegalStateException](Artifact.requireKind(spark, d, ledger.kind))
    intercept[IllegalStateException](ledger.append(spark, gone, d))
    intercept[IllegalStateException](ledger.remove(spark, keep, d))
    ensure(keep, d)
    assert(!Artifact.hasPendingMutation(spark, d))
    assertEqualsFresh(d, keep, "crash")
  }
}
