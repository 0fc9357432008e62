package graft.serve

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The incremental day-partitioned serving store: per-day refresh must
  * be EXACT (equal to a full rebuild), touch only changed days, drop
  * vanished days, and invalidate everything on a dimension change.
  */
class KeyValueDailySpec extends SparkSuite {
  import spark.implicits._

  private val fixture = "target/kvdailyfx"
  private val root = s"target/artifacts/kvdailyfx/serving_daily"

  private def ts(day: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-03-0$day $h%02d:00:00")
  private def dt(day: Int) = java.sql.Date.valueOf(f"2024-03-0$day")

  /** Three days of events + lineitem, two customers. Writers are split
    * per table: a mutation must rewrite ONLY the table it changes —
    * customer freshness is file-level (mtime), so an incidental rewrite
    * of it would legitimately force a full store rebuild.
    */
  private def writeEvents(extraDay2: Boolean = false, dropDay3: Boolean = false,
                          orphanDay3: Boolean = false, nullTs: Boolean = false): Unit = {
    val base = for {
      day <- 1 to (if (dropDay3) 2 else 3); h <- 1 to 4
      // orphanDay3 re-points day 3 at a user that doesn't exist — the
      // enrichment inner join then drops the whole day
    } yield (if (h % 2 == 0) "click" else "play", ts(day, h),
      if (orphanDay3 && day == 3) 99L else (h % 2) + 1L, h * 1.5)
    val events = base ++ (if (extraDay2) Seq(("click", ts(2, 9), 1L, 9.0)) else Nil) ++
      (if (nullTs) Seq(("play", null, 1L, 2.0)) else Nil)
    events.toDF("event_type", "ts", "user_id", "value")
      .repartition(1).write.mode("overwrite").parquet(s"$fixture/events.parquet")
  }
  private def writeCustomer(rename: Boolean = false): Unit =
    Seq((1L, if (rename) "Ann2" else "Ann", 1L, "B1"), (2L, "Bob", 2L, "B2"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
      .repartition(1).write.mode("overwrite").parquet(s"$fixture/customer.parquet")
  private def writeLineitem(dropDay3: Boolean = false): Unit =
    (for { day <- 1 to (if (dropDay3) 2 else 3); p <- 1 to 3 }
      yield ("A", dt(day), p.toLong))
      .toDF("l_returnflag", "l_shipdate", "l_partkey")
      .repartition(1).write.mode("overwrite").parquet(s"$fixture/lineitem.parquet")
  private def writeFixture(): Unit = { writeEvents(); writeCustomer(); writeLineitem() }

  private def storeRows(): Set[(String, String, String, String)] =
    KeyValue.loadDailyStore(spark, fixture)
      .as[(String, String, String, String)].collect().toSet

  private def fullRebuildRows(): Set[(String, String, String, String)] =
    KeyValue.servingTable(spark, fixture)
      .as[(String, String, String, String)].collect().toSet

  private def partMtime(day: Int): Long = {
    val d = new java.io.File(s"$root/store/d=2024-03-0$day")
    assert(d.isDirectory, s"missing day partition: $d")
    Option(d.listFiles).get.filter(_.getName.endsWith(".parquet")).map(_.lastModified).max
  }

  test("daily store: exact vs full build; single-day change rewrites only that day") {
    deleteRecursively(fixture); deleteRecursively(root)
    writeFixture()
    assert(storeRows() == fullRebuildRows(), "day-partitioned build must equal the full table")
    val (t1, t2, t3) = (partMtime(1), partMtime(2), partMtime(3))

    // no input change → ensure is a fingerprint check, nothing rewritten
    KeyValue.ensureStoreDaily(spark, fixture)
    assert((partMtime(1), partMtime(2), partMtime(3)) == ((t1, t2, t3)))

    // one planted day-2 event → only d=2024-03-02 is rewritten
    writeEvents(extraDay2 = true)
    KeyValue.ensureStoreDaily(spark, fixture)
    assert(partMtime(1) == t1 && partMtime(3) == t3, "untouched days must not be rewritten")
    assert(partMtime(2) != t2, "the changed day must be rewritten")
    assert(storeRows() == fullRebuildRows(), "post-refresh content must equal a full rebuild")
  }

  test("daily store: vanished day dropped, dimension change rebuilds everything") {
    deleteRecursively(fixture); deleteRecursively(root)
    writeFixture()
    KeyValue.ensureStoreDaily(spark, fixture)
    val t1 = partMtime(1)
    // day 3 disappears from the inputs → its partition is dropped
    writeEvents(dropDay3 = true); writeLineitem(dropDay3 = true)
    KeyValue.ensureStoreDaily(spark, fixture)
    assert(!new java.io.File(s"$root/store/d=2024-03-03").exists, "vanished day must be dropped")
    assert(partMtime(1) == t1)
    assert(storeRows() == fullRebuildRows())
    // customer (non-date dimension) change → every day rebuilds
    writeCustomer(rename = true)
    KeyValue.ensureStoreDaily(spark, fixture)
    assert(partMtime(1) != t1, "a dimension change invalidates all days")
    assert(storeRows() == fullRebuildRows())
  }

  /** The near-empty-day refresh: day 3's events all re-point to an
    * unknown user (the enrichment inner join drops every kpi item) and
    * its lineitems vanish (no top-song items) — the refreshed day must
    * shed those families' stale items, not serve them forever. A day in
    * the fingerprint set can't currently recompute to FULLY empty
    * (top-genre items need no join), so the `emptied`-day deletion in
    * `ensureStoreDaily` is the guard for when an item-family change
    * breaks that invariant; this pins the reachable part.
    */
  test("daily store: refreshed day sheds item families that recomputed to empty") {
    deleteRecursively(fixture); deleteRecursively(root)
    writeFixture()
    KeyValue.ensureStoreDaily(spark, fixture)
    val t1 = partMtime(1)
    val before = storeRows().filter(_._1.endsWith("2024-03-03"))
    assert(before.exists(_._4 == "genre_metric") && before.exists(_._4 == "top_song"))
    writeEvents(orphanDay3 = true); writeLineitem(dropDay3 = true)
    KeyValue.ensureStoreDaily(spark, fixture)
    val after = storeRows().filter(_._1.endsWith("2024-03-03"))
    assert(!after.exists(r => r._4 == "genre_metric" || r._4 == "top_song"),
      s"stale kpi/top-song items must be gone: $after")
    assert(after.exists(_._4 == "top_genre"), "the surviving family is served")
    assert(partMtime(1) == t1, "untouched days must not be rewritten")
    assert(storeRows() == fullRebuildRows())
    // and the refresh converged: re-ensure rewrites nothing
    val t3 = partMtime(3)
    KeyValue.ensureStoreDaily(spark, fixture)
    assert(partMtime(1) == t1 && partMtime(3) == t3)
    assert(storeRows() == fullRebuildRows())
  }

  /** Media items ride the same O(changed-days) lifecycle: docs land in
    * the store keyed `MEDIA#<lang>#DATE#<d>` (d = the derived ingest
    * day), a corpus change refreshes ONLY the ingest days it touches,
    * and event/lineitem days stay untouched by a corpus-only change.
    */
  private def writeDocs(relabel: Boolean = false): Unit =
    Seq((1L, "alpha beta", if (relabel) "fr" else "en", "s1", 10L),
        (2L, "gamma delta", "en", "s1", 11L),
        (8L, "epsilon zeta", "de", "s2", 12L)) // 8 % 7 = 1 → shares doc 1's day
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.mode("overwrite").parquet(s"$fixture/documents.parquet")

  test("daily store: media items refresh per derived ingest day") {
    deleteRecursively(fixture); deleteRecursively(root)
    deleteRecursively("target/artifacts/kvdailyfx/media_features")
    writeFixture(); writeDocs()
    KeyValue.ensureStoreDaily(spark, fixture)
    assert(storeRows() == fullRebuildRows(), "media items must match the full build")
    val media = storeRows().filter(_._4 == "media_profile")
    assert(media.exists(_._1.startsWith("MEDIA#en#DATE#2024-01-02")) &&
      media.exists(_._1.startsWith("MEDIA#en#DATE#2024-01-03")) &&
      media.exists(_._1.startsWith("MEDIA#de#DATE#2024-01-02")),
      s"expected per-day media items, got ${media.map(_._1)}")
    // doc 1 changes lang → only its ingest day (2024-01-02) rewrites;
    // the feature store is doc_id-keyed, so no media rebuild either
    val docDayDir = new java.io.File(s"$root/store/d=2024-01-02")
    val otherDocDay = new java.io.File(s"$root/store/d=2024-01-03")
    val (tDoc, tOther, tEv) =
      (docDayDir.lastModified, otherDocDay.lastModified, partMtime(1))
    Thread.sleep(1100) // mtime granularity
    writeDocs(relabel = true)
    KeyValue.ensureStoreDaily(spark, fixture)
    assert(new java.io.File(s"$root/store/d=2024-01-02").lastModified != tDoc,
      "the touched ingest day must be rewritten")
    assert(otherDocDay.lastModified == tOther && partMtime(1) == tEv,
      "untouched ingest/event days must not be rewritten")
    assert(storeRows() == fullRebuildRows())
    val relabeled = storeRows().filter(_._4 == "media_profile")
    assert(relabeled.exists(_._1.startsWith("MEDIA#fr#DATE#2024-01-02")) &&
      !relabeled.exists(_._1.startsWith("MEDIA#en#DATE#2024-01-02")),
      s"the relabeled day must serve the new lang: ${relabeled.map(_._1)}")
  }

  /** The manifest's bookkeeping: after each kind of file change, its
    * per-day sums equal a fingerprint scan over all files.
    */
  test("daily store: manifest day sums equal a full fingerprint scan through appends, a replay, an overwrite and a deleted file") {
    deleteRecursively(fixture); deleteRecursively(root)
    writeFixture()
    def refreshed(): Unit = {
      KeyValue.ensureStoreDaily(spark, fixture)
      val full = KeyValue.dayTotals(KeyValue.dayFingerprints(spark, fixture,
        KeyValue.dataFiles(spark, fixture)))
      assert(KeyValue.manifestDays(spark, fixture) == full)
    }
    def batch(day: Int, v: Double) =
      Seq(("play", ts(day, 7), 1L, v)).toDF("event_type", "ts", "user_id", "value")
    refreshed()
    graft.stream.ServingIngest.appendEvents(spark, fixture, batch(2, 2.0), 0L)
    refreshed()
    graft.stream.ServingIngest.appendEvents(spark, fixture, batch(4, 3.0), 1L)
    refreshed()
    // a replayed batch re-lands byte-identical files with new mtimes:
    // the manifest takes the new file set, no day is rewritten
    val days = (1 to 4).map(partMtime)
    Thread.sleep(20)
    graft.stream.ServingIngest.appendEvents(spark, fixture, batch(4, 3.0), 1L)
    refreshed()
    assert((1 to 4).map(partMtime) == days, "a replay must not rewrite any day")
    writeEvents(extraDay2 = true)
    refreshed()
    graft.stream.ServingIngest.appendEvents(spark, fixture, batch(3, 5.0), 2L)
    refreshed()
    new java.io.File(s"$fixture/events.parquet").listFiles()
      .filter(_.getName.startsWith("ingest-b2-")).foreach(_.delete())
    refreshed()
    assert(storeRows() == fullRebuildRows())
  }

  test("daily store: a row with no day fails the refresh, naming the input and the row count") {
    deleteRecursively(fixture); deleteRecursively(root)
    writeFixture()
    KeyValue.ensureStoreDaily(spark, fixture)
    writeEvents(nullTs = true)
    val incremental = intercept[IllegalStateException](KeyValue.ensureStoreDaily(spark, fixture))
    assert(incremental.getMessage.contains("events: 1 row"), incremental.getMessage)
    // a dimension change takes the full-rebuild branch: the same error
    writeCustomer(rename = true)
    val rebuild = intercept[IllegalStateException](KeyValue.ensureStoreDaily(spark, fixture))
    assert(rebuild.getMessage.contains("events: 1 row"), rebuild.getMessage)
  }

  test("daily store: day partitions prune lookups, rows sorted by (pk, sk) within a day") {
    deleteRecursively(fixture); deleteRecursively(root)
    writeFixture()
    val path = KeyValue.ensureStoreDaily(spark, fixture)
    val pruned = spark.read.parquet(path).filter(col("d") === "2024-03-02")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(d"),
      s"day filter must land in PartitionFilters:\n$plan")
    val rows = spark.read.parquet(s"$root/store/d=2024-03-02")
      .select("pk", "sk").as[(String, String)].collect().toSeq
    assert(rows == rows.sortBy(identity), "rows within a day file must be (pk, sk)-sorted")
  }
}
