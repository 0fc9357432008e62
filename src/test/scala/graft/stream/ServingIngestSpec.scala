package graft.stream

import graft.SparkSuite
import graft.ext.Artifact
import graft.serve.KeyValue
import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

object ServingIngestSpec {
  /** Raw event row in the fixture table's on-disk shape (µs ts). */
  final case class EventRow(event_id: Long, ts: java.sql.Timestamp,
                            user_id: Long, event_type: String,
                            value: Double, props: String)
}

/** The streamed transform→serve chain: event batches append to an owned
  * copy of the fact table, the day-partitioned serving store refreshes
  * exactly its changed days per micro-batch, lookups see the refreshed
  * store, and a checkpoint replay moves nothing.
  */
class ServingIngestSpec extends SparkSuite {
  import ServingIngestSpec.EventRow
  import spark.implicits._

  private val base = "target/servingingestspec"
  private val fix = s"$base/servefix"

  private def setUp(): Unit = {
    deleteRecursively(base)
    deleteRecursively(Artifact.root(fix))
    Files.createDirectories(Paths.get(fix))
    new File(sfDir).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath, Paths.get(fix, f.getName)))
  }

  private def ev(id: Long, day: String, user: Long, typ: String, v: Double) =
    EventRow(id, java.sql.Timestamp.valueOf(s"$day 12:00:00"), user, typ, v, "{}")

  private def dayDirs(store: String): Map[String, Long] =
    new File(store).listFiles().filter(_.getName.startsWith("d="))
      .map(d => d.getName -> d.listFiles().map(_.lastModified()).max).toMap

  private def storeRows(df: DataFrame): Set[(String, String, String, String)] =
    df.select("pk", "sk", "value", "record_type")
      .as[(String, String, String, String)].collect().toSet

  private def runStream(ckpt: String, rows: Seq[EventRow]): Vector[Long] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventRow]
    if (rows.nonEmpty) input.addData(rows: _*)
    var batches = Vector.empty[Long]
    val q = ServingIngest.start(spark, DirectSource(input.toDF()), ckpt, fix,
      onBatch = (id, _) => batches = batches :+ id)
    q.awaitTermination()
    batches
  }

  test("streamed increment refreshes exactly the touched days; lookups serve the refreshed store") {
    setUp()
    val store = KeyValue.ensureStoreDaily(spark, fix)
    val before = dayDirs(store)
    assert(before.nonEmpty)
    // prime the load-once cache so the test proves the post-refresh reload too
    val primedL1 = KeyValue.dailyStoreCached(spark, fix)
      .filter(col("pk").contains("DATE#2024-02-01")).count()
    assert(primedL1 == 0L, "the new day must not exist before the increment")

    val batches = runStream(s"$base/ckpt1", Seq(
      ev(2001L, "2024-01-03", 0L, "click", 5.5),
      ev(2002L, "2024-01-03", 1L, "purchase", 7.25),
      ev(2003L, "2024-02-01", 2L, "click", 1.75)))
    assert(batches == Vector(0L), s"one drained micro-batch: $batches")

    val after = dayDirs(store)
    assert(after.keySet == before.keySet + "d=2024-02-01",
      "the new day must appear as a new partition")
    val touched = before.keys.filter(d => before(d) != after(d)).toSet
    assert(touched == Set("d=2024-01-03"),
      s"only the modified existing day may be rewritten: $touched")

    // the incrementally refreshed store must equal a from-scratch
    // recompute of the serving projection over the mutated fact table
    assert(storeRows(KeyValue.loadDailyStore(spark, fix)) ==
      storeRows(KeyValue.servingTable(spark, fix)),
      "O(changed days) refresh must be content-identical to a full rebuild")

    // and the CACHED lookup path serves the refreshed data (invalidate
    // dropped the pre-mutation materialization)
    assert(KeyValue.dailyStoreCached(spark, fix)
      .filter(col("pk").contains("DATE#2024-02-01")).count() > 0L,
      "lookups after the streamed increment must see the new day")
  }

  test("checkpoint replay is a physical no-op end to end") {
    setUp()
    val rows = Seq(ev(2001L, "2024-01-05", 0L, "view", 2.5))
    runStream(s"$base/ckpt2", rows)
    val store = s"${Artifact.root(fix)}/serving_daily/store"
    val storeState = dayDirs(store)
    val factFiles = new File(s"$fix/events.parquet").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap

    val replay = runStream(s"$base/ckpt2", rows)
    assert(replay.isEmpty, "a drained checkpoint delivers no batches")
    assert(dayDirs(store) == storeState, "the store must not be touched")
    assert(new File(s"$fix/events.parquet").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap == factFiles,
      "the fact table must not be touched")
  }

  test("re-running an identical batch id re-lands byte-identical files and the store ignores it") {
    setUp()
    KeyValue.ensureStoreDaily(spark, fix)
    val rows = Seq(ev(3001L, "2024-01-07", 1L, "click", 3.5)).toDF()
    ServingIngest.appendEvents(spark, fix, rows, batchId = 0L)
    val store = KeyValue.ensureStoreDaily(spark, fix)
    val state = dayDirs(store)
    val rowsAfterFirst = storeRows(KeyValue.loadDailyStore(spark, fix))

    // the foreachBatch replay contract: same batch id, same data —
    // the append clears its own previous file set and re-lands, the
    // day fingerprints don't move, the store is not rewritten
    ServingIngest.appendEvents(spark, fix, rows, batchId = 0L)
    KeyValue.ensureStoreDaily(spark, fix)
    assert(dayDirs(store) == state, "identical replayed content must not refresh any day")
    assert(storeRows(KeyValue.loadDailyStore(spark, fix)) == rowsAfterFirst,
      "no double-counting under batch replay")
  }

  test("a batch with a null ts is rejected and leaves the table untouched") {
    setUp()
    val events = new File(s"$fix/events.parquet")
    val before = events.lastModified
    val bad = Seq(ev(5001L, "2024-01-03", 1L, "play", 1.0),
      ev(5002L, "2024-01-03", 1L, "play", 2.0).copy(ts = null)).toDF()
    val e = intercept[Exception](ServingIngest.appendEvents(spark, fix, bad, batchId = 5L))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("null ts")), messages.mkString("\n"))
    assert(events.isFile && events.lastModified == before, "the table must be untouched")
    assert(!new File(s"$fix/_staging_events_b5").exists, "nothing may stay staged")
  }

  /** The benchmark's refresh shape: music tables only, a file-source
    * stream over a spool directory, a store already refreshed once,
    * then one landed batch.
    */
  test("a warm streamed refresh fingerprints only its batch's files, in at most 16 jobs") {
    setUp()
    Files.delete(Paths.get(fix, "documents.parquet"))
    KeyValue.ensureStoreDaily(spark, fix)
    val spool = s"$base/spool_warm"
    def land(rows: Seq[EventRow]): Unit =
      rows.toDF().coalesce(1).write.mode("append").parquet(spool)
    land(Seq(ev(6001L, "2024-01-05", 0L, "view", 2.5)))
    val schema = spark.read.parquet(spool).schema
    def refresh(): Unit =
      ServingIngest.start(spark, FileSourceConfig(spool, "parquet", schema),
        s"$base/ckpt_warm", fix).awaitTermination()
    refresh()
    land(Seq(ev(6002L, "2024-02-01", 2L, "click", 1.75)))

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    session.listenerManager.register(listener)
    val jobs =
      try jobsDuring(refresh())._2
      finally session.listenerManager.unregister(listener)
    assert(jobs <= 16, s"a warm streamed refresh ran $jobs jobs")
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case _ => p.children.flatMap(scans)
    }
    val fingerprinted = plans.asScala.toSeq
      .filter(_.toString.contains("input_file_name"))
      .flatMap(scans).flatMap(_.relation.location.inputFiles)
    assert(fingerprinted.nonEmpty, "the refresh must fingerprint the batch")
    assert(fingerprinted.forall(_.contains("/events.parquet/ingest-b1-")),
      s"the fingerprint scan must read only the batch's files: $fingerprinted")
    assert(storeRows(KeyValue.loadDailyStore(spark, fix)) ==
      storeRows(KeyValue.servingTable(spark, fix)))
  }

  test("lookups racing a streamed refresh never fail and the store ends exact") {
    setUp()
    KeyValue.ensureStoreDaily(spark, fix)
    KeyValue.dailyStoreCached(spark, fix).count()
    // two landed files → two micro-batches: a new day plus an edited
    // one, then late data for another existing day
    val spool = s"$base/spool"
    Seq(ev(4001L, "2024-02-01", 2L, "click", 1.75),
        ev(4002L, "2024-01-03", 1L, "purchase", 7.25)).toDF()
      .coalesce(1).write.mode("append").parquet(spool)
    Seq(ev(4003L, "2024-01-05", 0L, "view", 2.5)).toDF()
      .coalesce(1).write.mode("append").parquet(spool)
    val schema = spark.read.parquet(spool).schema

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val lookups = new java.util.concurrent.atomic.AtomicInteger
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val keys = Seq("DATE#2024-01-03", "DATE#2024-01-05", "DATE#2024-02-01",
      "GENRE#click#DATE#2024-01-03")
    val readers = keys.map { pk =>
      val t = new Thread(() =>
        while (!stop.get) {
          try {
            KeyValue.dailyStoreCached(spark, fix).filter(col("pk") === pk).collect()
            lookups.incrementAndGet()
          } catch { case e: Throwable => failures.add(s"$pk: $e") }
        })
      t.start()
      t
    }
    val batches =
      try {
        var ids = Vector.empty[Long]
        ServingIngest.start(spark,
            FileSourceConfig(spool, "parquet", schema, Map("maxFilesPerTrigger" -> "1")),
            s"$base/ckpt_race", fix, onBatch = (id, _) => ids = ids :+ id)
          .awaitTermination()
        ids
      } finally {
        stop.set(true)
        readers.foreach(_.join())
      }
    assert(batches == Vector(0L, 1L), s"two micro-batches: $batches")
    assert(failures.isEmpty, failures.asScala.take(5).mkString("\n"))
    assert(lookups.get > 0)
    // the store reads cleanly and equals a from-scratch recompute
    assert(storeRows(KeyValue.loadDailyStore(spark, fix)) ==
      storeRows(KeyValue.servingTable(spark, fix)))
    assert(KeyValue.dailyStoreCached(spark, fix)
      .filter(col("pk") === "DATE#2024-02-01").count() > 0L)
  }
}
