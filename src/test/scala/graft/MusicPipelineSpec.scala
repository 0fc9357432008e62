package graft

import graft.ingest.Validate
import graft.sources.Csv
import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{classic, DataFrame}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{bridge, caches}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** End-to-end reference-schema pipeline: the golden semantics a user of
  * the reference expects after switching engines.
  */
class MusicPipelineSpec extends SparkSuite {
  import spark.implicits._

  private def streams = Seq(
    ("u1", "t1", "2025-06-22 10:00:00"),
    ("u1", "t1", "2025-06-22 11:00:00"),
    ("u2", "t1", "2025-06-22 12:00:00"),
    ("u2", "t2", "2025-06-22 13:00:00"),
    ("u3", "t3", "2025-06-23 09:00:00"),   // second day
    ("u9", "t1", "2025-06-22 09:00:00"),   // unknown user → dropped by join
    ("u1", "bad", "not-a-time")            // malformed ts → dropped by validation
  ).toDF("user_id", "track_id", "listen_time")

  private def songs = Seq(
    ("t1", "Song1", "A", "80", "60000", " Rock"),
    ("t2", "Song2", "B", "70", "30000", "pop"),
    ("t3", "Song3", "C", "60", "90000", "rock")
  ).toDF("track_id", "track_name", "artists", "popularity", "duration_ms", "track_genre")

  private def users = Seq(
    ("u1", "Ann", "30", "US", "2024-01-01 00:00:00"),
    ("u2", "Bob", "40", "DE", "2024-01-01 00:00:00"),
    ("u3", "Cyd", "50", "FR", "2024-01-01 00:00:00")
  ).toDF("user_id", "user_name", "user_age", "user_country", "created_at")

  test("full run: KPIs, top-K, serving items match reference semantics") {
    val out = MusicPipeline.run(streams, songs, users)

    val kpis = out.genreKpis.orderBy("track_genre", "date").collect()
    // rock on 06-22: 3 plays (u1×2, u2×1), 2 listeners, 180000 ms total
    val rock22 = kpis.find(r => r.getString(0) == "rock"
      && r.getDate(1).toString == "2025-06-22").get
    assert(rock22.getLong(2) == 3 && rock22.getLong(3) == 2)
    assert(rock22.getLong(4) == 180000L)
    assert(rock22.getDouble(6) == 90000.0)  // per-user avg

    val topSongs = out.topSongs.filter(col("track_genre") === "rock"
      && col("date") === "2025-06-22").orderBy("rank").collect()
    assert(topSongs.length == 1 && topSongs(0).getString(2) == "t1")

    val topGenres = out.topGenres.filter(col("date") === "2025-06-22")
      .orderBy("rank").collect()
    assert(topGenres.map(_.getString(1)).toSeq == Seq("rock", "pop"))

    // serving: 4 metric items per kpi row + 1 per rank row
    val nKpi = out.genreKpis.count()
    val items = out.servingItems.cache()
    try {
      assert(items.filter(col("record_type") === "genre_metric").count() == nKpi * 4)
      assert(items.filter(!col("pk").rlike("^(GENRE#[a-z]+#DATE#|DATE#)\\d{4}.*")).isEmpty)
    } finally items.unpersist()
  }

  test("PROCESS_DATE scope: single-day run excludes other days") {
    val out = MusicPipeline.run(streams, songs, users, Some("2025-06-22"))
    assert(out.genreKpis.filter(col("date") =!= "2025-06-22").isEmpty)
    assert(out.genreKpis.count() == 2)
  }

  private def classicSpark = spark.asInstanceOf[classic.SparkSession]

  /** `written` holds the same rows as `frame`, as a multiset. */
  private def assertSameRows(written: DataFrame, frame: DataFrame, what: String): Unit = {
    val w = written.select(frame.columns.map(col).toIndexedSeq: _*)
    assert(w.exceptAll(frame).isEmpty && frame.exceptAll(w).isEmpty, what)
    assert(w.count() == frame.count(), what)
  }

  private def checkWrite(processDate: Option[String]): Unit = {
    val dir = Files.createTempDirectory("graft-music-write").toString
    try {
      // the test session is shared: other suites' entries may be present
      val entries = caches.entries(spark)
      val out = MusicPipeline.run(streams, songs, users, processDate)
      MusicPipeline.write(out, dir)
      for ((name, frame) <- Seq("genre_kpis" -> out.genreKpis, "top_songs" -> out.topSongs,
          "top_genres" -> out.topGenres, "serving" -> out.servingItems)) {
        assertSameRows(spark.read.parquet(s"$dir/$name"), frame, name)
        val cached = frame.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
        assert(cached.isEmpty, s"$name reads a cached relation")
      }
      val parts = new File(s"$dir/serving").listFiles().map(_.getPath)
        .filter(p => p.contains("part-") && p.endsWith(".parquet")).sorted
      assert(parts.nonEmpty)
      for (p <- parts) {
        val keys = spark.read.parquet(p).select("pk", "sk").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        assert(keys == keys.sorted, s"$p is not sorted by (pk, sk)")
      }
      assert(caches.entries(spark) == entries, "run/write left a cache entry")
    } finally deleteRecursively(dir)
  }

  test("write: each output directory equals its Outputs frame; serving sorted by (pk, sk)") {
    checkWrite(None)
  }

  test("write with PROCESS_DATE: outputs equal their frames; serving sorted by (pk, sk)") {
    checkWrite(Some("2025-06-22"))
  }

  test("an Observation on the input streams counts the validated rows once") {
    val (observed, obs) = Validate.observed(Validate.validateStreams(streams), "kept", Nil)
    val dir = Files.createTempDirectory("graft-music-obs").toString
    try {
      MusicPipeline.write(MusicPipeline.run(observed, songs, users), dir)
      // a never-fired Observation blocks `get`; fail instead of hanging
      val metrics = Await.result(Future(obs.get), 60.seconds)
      assert(metrics("n_rows") == 6L)
      assert(Validate.validateStreams(streams).count() == 6L)
    } finally deleteRecursively(dir)
  }

  /** File scans under `root` in an executed plan, adaptive and command
    * wrappers unwrapped (a reused exchange is a leaf: counted once).
    */
  private def scansUnder(p: SparkPlan, root: String): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scansUnder(a.executedPlan, root)
    case q: QueryStageExec => scansUnder(q.plan, root)
    case c: CommandResultExec => scansUnder(c.commandPhysicalPlan, root)
    case s: FileSourceScanExec =>
      if (s.relation.location.rootPaths.exists(_.toString.contains(root))) Seq(s) else Nil
    case _ => p.children.flatMap(scansUnder(_, root))
  }

  test("run and write scan each source file once") {
    val dir = Files.createTempDirectory("graft-music-scans").toString
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    def strings(df: DataFrame) = StructType(df.columns.map(StructField(_, StringType)))
    try {
      val in = s"$dir/in"
      val sources = Seq("streams" -> streams, "songs" -> songs, "users" -> users)
      for ((name, df) <- sources) df.write.option("header", "true").csv(s"$in/$name")
      val Seq(st, so, us) = sources.map { case (name, df) => Csv.read(spark, s"$in/$name", strings(df)) }
      bridge.drainListenerBus(spark)
      classicSpark.listenerManager.register(listener)
      try {
        MusicPipeline.write(MusicPipeline.run(st, so, us), s"$dir/out")
        bridge.drainListenerBus(spark)
      } finally classicSpark.listenerManager.unregister(listener)
      val scans = plans.asScala.toSeq.flatMap(scansUnder(_, in)).size
      assert(scans >= 1 && scans <= 3, s"$scans scans of the inputs in ${plans.size} executions")
      assert(spark.read.parquet(s"$dir/out/serving").count() ==
        MusicPipeline.run(streams, songs, users).servingItems.count())
    } finally deleteRecursively(dir)
  }

  test("SQL registration: native functions usable from spark.sql") {
    graft.functions.native.registerAll(spark)
    val row = spark.sql(
      """SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
        |       simhash64(array(CAST(7 AS BIGINT))) AS s,
        |       jaccard_sim(array('a','b'), array('b','c')) AS j,
        |       minhash_sig(array('a','b'), 4) AS m,
        |       rolling_min_hash('abcdefghij', 8) AS r""".stripMargin).head()
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
    assert(row.getLong(1) == 7L)
    assert(math.abs(row.getDouble(2) - 1.0 / 3) < 1e-12)
    assert(row.getSeq[Long](3).length == 4)
  }
}
