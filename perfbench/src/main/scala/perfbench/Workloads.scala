package perfbench

import graft.{GraftSession, MusicPipeline, SparkEntry}
import graft.ingest.Validate
import graft.serve.KeyValue
import graft.sources.Csv
import graft.stream.{FileSourceConfig, ServingIngest}
import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.Plans
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

object Workloads {

  /** The workloads `BENCHMARK.json` lists. `batch` is `etl_batch`
    * followed by `calibration` in one session; the others are run by
    * hand, because a full evaluation of more workloads would not fit its
    * time budget on a 4-core host.
    */
  val Driven = Set("batch", "ingest_refresh")
  val All = Driven ++ Set("etl_batch", "calibration", "serve_lookups")

  def run(ctx: Ctx): Outcome = ctx.args.workload match {
    case "batch" => Batch.run(ctx)
    case "etl_batch" => Etl.run(ctx)
    case "serve_lookups" => Serve.run(ctx)
    case "ingest_refresh" => Ingest.run(ctx)
    case "calibration" => Calibration.run(ctx)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `side` on a thread of its own while `main` runs on this one;
    * returns both values once both have ended, and rethrows the failure
    * of either. For set-up work only: nothing timed runs beside it.
    */
  def alongside[A, B](side: => A)(main: => B): (A, B) = {
    @volatile var a: Option[A] = None
    @volatile var err: Throwable = null
    val t = new Thread(() => try a = Some(side) catch { case e: Throwable => err = e }, "perfbench-setup")
    t.start()
    val b = try main finally t.join()
    if (err != null) throw err
    (a.get, b)
  }

  def copyDir(from: File, to: File): Unit = {
    to.mkdirs()
    from.listFiles().foreach { f =>
      val t = new File(to, f.getName)
      if (f.isDirectory) copyDir(f, t)
      else Files.copy(f.toPath, t.toPath, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def deleteDir(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteDir))
    f.delete()
  }

  def dirBytesFiles(f: File): (Long, Long) =
    if (f.isFile) (if (f.getName.endsWith(".parquet")) (f.length, 1L) else (0L, 0L))
    else Option(f.listFiles()).toSeq.flatten.map(dirBytesFiles)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  // ------------------------------------------------------------ fixture tables

  val EventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def eventRow(e: FixtureGen.Event): Row =
    Row(e.id, new java.sql.Timestamp(e.tsMicros / 1000), e.user, e.typ, e.value, e.props)

  /** Writes one table as a single parquet file at `dir/name.parquet`, the
    * fixture layout.
    */
  def writeTable(spark: SparkSession, dir: File, name: String, schema: StructType,
                 rows: Seq[Row]): Unit = {
    val tmp = new File(dir, s"_tmp_$name")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(dir, s"$name.parquet").toPath, StandardCopyOption.REPLACE_EXISTING)
    deleteDir(tmp)
  }

  final case class ServeFixture(events: Vector[FixtureGen.Event],
                                lineitems: Vector[FixtureGen.LineItem], sizes: FixtureGen.Sizes)

  def serveFixture(seed: Long, sizes: FixtureGen.Sizes): ServeFixture = {
    val r = new SplittableRandom(seed)
    val ev = FixtureGen.events(r, sizes.events, 0L, sizes.customers, _ => r.nextInt(sizes.days))
    ServeFixture(ev, FixtureGen.lineitems(r, sizes.lineitems, sizes), sizes)
  }

  /** Writes those of `customer`, `events` and `lineitem` that `keep`
    * picks.
    */
  def writeServeTables(spark: SparkSession, dir: File, fx: ServeFixture, seed: Long,
                       keep: String => Boolean = _ => true): Unit = {
    dir.mkdirs()
    val r = new SplittableRandom(seed ^ 0xc0ffeeL)
    val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    if (keep("customer")) writeTable(spark, dir, "customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
      (0 until fx.sizes.customers).map(c => Row(c.toLong, f"Customer#$c%09d", c % 25,
        r.nextInt(1000000) / 100.0 - 999.99, segs(c % segs.length))))
    if (keep("events")) writeTable(spark, dir, "events", EventSchema, fx.events.map(eventRow))
    if (keep("lineitem")) writeTable(spark, dir, "lineitem", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
      fx.lineitems.map(l => Row(l.order, l.part, l.supp, l.line, l.qty, l.price, l.disc, l.tax,
        l.flag, l.status, new java.sql.Timestamp(l.shipMicros / 1000))))
  }

  // ------------------------------------------------------------ lookups

  def query(store: DataFrame, l: Lookup): DataFrame = {
    val byPk = col("pk") === l.pk
    val f = l.pattern match {
      case 1 => byPk && col("sk") === l.sk
      case 2 => byPk && col("sk").startsWith("SONG#")
      case _ => byPk && col("sk").between("GENRE_RANK#1", "GENRE_RANK#3")
    }
    store.filter(f).select(col("sk"), col("value"))
  }

  def rows(q: DataFrame): Vector[(String, String)] =
    q.collect().map(r => (r.getString(0), r.getString(1))).toVector.sortBy(_._1)

  /** Lookup timings of the traced run: plan (Catalyst phases, forced by
    * `executedPlan`), execute (collect) and rows the scan emitted.
    */
  final class LookupTrace {
    val planMs = ArrayBuffer.empty[Double]
    val execMs = ArrayBuffer.empty[Double]
    var scanned = 0L
    var returned = 0L
    def run(q: DataFrame): Vector[(String, String)] = {
      val t0 = System.nanoTime()
      q.queryExecution.executedPlan
      val t1 = System.nanoTime()
      val out = rows(q)
      val t2 = System.nanoTime()
      planMs += (t1 - t0) / 1e6
      execMs += (t2 - t1) / 1e6
      scanned += Plans.scannedRows(q)
      returned += out.size
      out
    }
    def metrics(ctx: Ctx, lookups: Int): Map[String, Double] = {
      ctx.drain()
      val c = ctx.listener.counters("serve.lookup")
      Map(
        "serve.lookup_plan_ms" -> (if (planMs.isEmpty) 0.0 else Stats.median(planMs.toSeq)),
        "serve.lookup_exec_ms" -> (if (execMs.isEmpty) 0.0 else Stats.median(execMs.toSeq)),
        "serve.jobs_per_lookup" -> c.jobs.get.toDouble / math.max(1, lookups),
        "serve.tasks_per_lookup" -> c.tasks.get.toDouble / math.max(1, lookups),
        "serve.rows_examined_per_result" -> scanned.toDouble / math.max(1L, returned))
    }
  }

  /** Traced minus untraced wall of `n` lookups, from the median latency
    * of the traced and the untraced ones (ms samples). Medians, because a
    * lookup that waits out a refresh would swamp a mean.
    */
  def overheadS(traced: collection.Seq[Double], plain: collection.Seq[Double], n: Int): Double =
    if (traced.isEmpty || plain.isEmpty) 0.0
    else (Stats.median(traced.toSeq) - Stats.median(plain.toSeq)) * n / 1000

  def latencyMetrics(lat: Seq[Double]): Map[String, Double] =
    Map("serve.lookup_p50_ms" -> (if (lat.isEmpty) 0.0 else Stats.median(lat)),
      "serve.lookup_p95_ms" -> Stats.p95(lat).getOrElse(0.0),
      "serve.lookup_samples" -> lat.size.toDouble)
}

import Workloads._

/** `etl_batch`: the paper's dataflow as one batch — landed CSVs →
  * `Csv.read` → `Validate` → `MusicPipeline.run` → `MusicPipeline.write`,
  * then [[ReadRounds]] keyed reads of each lookup pattern on the written
  * store.
  */
object Etl {
  val StreamFiles = 4
  /** Reads of each lookup pattern after a pass. */
  val ReadRounds = 1
  /** The JIT-cold set-up pass runs on the inputs shrunk by this factor.
    * The pipeline's joins are broadcast by hint, so its plans, and the
    * code Spark generates for them, do not depend on the input size: the
    * small pass compiles what the timed passes run.
    */
  val WarmUpShrink = 20

  private def strings(cols: String*) = StructType(cols.map(StructField(_, StringType)))
  val SongsSchema = strings("id", "track_id", "artists", "album_name", "track_name", "popularity",
    "duration_ms", "explicit", "track_genre")
  val UsersSchema = strings("user_id", "user_name", "user_age", "user_country", "created_at")
  val StreamsSchema = strings("user_id", "track_id", "listen_time")

  final case class Pass(wallS: Double, readMs: Seq[Double], kept: Long, digest: ItemDigest,
                        readsOk: Boolean)

  /** A landed input with the answers a pass over it must give. */
  final case class Input(dir: File, landed: MusicGen.Landed, digest: ItemDigest,
                         probe: Seq[(Lookup, Vector[(String, String)])])

  def landInput(dir: File, seed: Long, streamFiles: Int, shrink: Int): Input = {
    val landed = MusicGen.land(dir, seed, streamFiles, shrink)
    val items = MusicModel.servingItems(landed)
    Input(dir, landed, MusicModel.digest(items), reads(items))
  }

  /** One lookup of each pattern on the busiest genre-day, with the
    * model's answer.
    */
  def reads(items: Seq[MusicModel.Item]): Seq[(Lookup, Vector[(String, String)])] = {
    val hot = items.filter(_.sk == "METRIC#listen_count").maxBy(i => (i.value.toLong, i.pk))
    val day = hot.pk.split("#DATE#")(1)
    Seq(Lookup(1, hot.pk, hot.sk), Lookup(2, hot.pk, "SONG#"), Lookup(3, s"DATE#$day", "GENRE_RANK#"))
      .map { l =>
        val hit = (sk: String) => l.pattern match {
          case 1 => sk == l.sk
          case 2 => sk.startsWith("SONG#")
          case _ => sk >= "GENRE_RANK#1" && sk <= "GENRE_RANK#3"
        }
        l -> items.filter(i => i.pk == l.pk && hit(i.sk)).map(i => (i.sk, i.value)).toVector.sortBy(_._1)
      }
  }

  /** `beside` is another workload's set-up, run on a thread of its own
    * during this one's. `next` runs after the passes, before a traced
    * run's single-core pass stops the session.
    */
  def run(ctx: Ctx, beside: () => Unit = () => (), next: () => Unit = () => ()): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    // set-up: a JIT-cold pass over a shrunken copy of the inputs, while
    // a second thread lands the full inputs and runs `beside`
    val ((in, (small, cold)), setupOnlyS) = timed(alongside {
      val in = landInput(ctx.dir("landed"), ctx.args.seed, StreamFiles, 1)
      beside()
      in
    } {
      val small = landInput(ctx.dir("landed-small"), ctx.args.seed, 1, WarmUpShrink)
      (small, pass(ctx, small.dir, ctx.dir("out/cold").getPath, small.probe, traced = false))
    })
    val dir = in.dir
    val probe = in.probe
    val landed = in.landed
    val validRows = landed.songs.size + landed.users.size + landed.streams.size
    val setupS = ctx.sessionS + setupOnlyS
    ctx.note(f"etl set-up: session ${ctx.sessionS}%.2fs, then $setupOnlyS%.2fs (cold pass ${cold.wallS}%.2fs)")

    // set-up garbage is collected before, not during, the measured pass.
    // One timed pass keeps a run within its time budget; it is the first
    // over the full inputs, which the JIT has not yet fully compiled for.
    System.gc()
    if (ctx.args.trace) Tracer.setLayer(spark, "etl.plain")
    val warm = pass(ctx, dir, ctx.dir("out/warm").getPath, probe, traced = false)
    val wallS = warm.wallS
    ctx.note(f"etl pass: $wallS%.3fs")
    // a traced run then times a second plain pass and a traced one. The
    // second plain pass is as warm as the traced and the single-core
    // pass, so the overhead and the speedup compare warm with warm.
    val traced =
      if (!ctx.args.trace) None
      else {
        Tracer.setLayer(spark, "etl.reference")
        val ref = pass(ctx, dir, ctx.dir("out/reference").getPath, probe, traced = false)
        Tracer.setLayer(spark, null)
        Some((ref, pass(ctx, dir, ctx.dir("out/traced").getPath, probe, traced = true)))
      }
    next()
    val all = (cold, small) +: (warm +: traced.toSeq.flatMap { case (r, t) => Seq(r, t) }).map(_ -> in)
    val bad = all.filter { case (p, i) => p.digest != i.digest || p.kept != i.landed.streams.size || !p.readsOk }
    val notes = bad.map { case (p, i) =>
      s"etl: store digest ${p.digest} (model ${i.digest}), kept ${p.kept} (generated " +
        s"${i.landed.streams.size}), keyed reads ${if (p.readsOk) "agree" else "disagree"} with the model"
    }
    var m = Map(
      "setup_s" -> setupS,
      "wall_s" -> wallS,
      "throughput_per_s" -> validRows / wallS,
      "latency_p50_ms" -> Stats.median(warm.readMs))
    for ((ref, t) <- traced) {
      ctx.drain()
      val plain = ctx.listener.counters("etl.plain")
      val (bytes, files) = dirBytesFiles(new File(ctx.args.work, "out/traced/serving"))
      m ++= ctx.layerMetrics() ++ Map(
        "sources.read_s" -> ctx.selfS("sources.read"),
        "sources.scan_amplification" -> plain.bytesRead.get.toDouble / landed.bytes,
        "ingest.validate_s" -> ctx.selfS("ingest.validate"),
        "ingest.kept_ratio" -> t.kept.toDouble / landed.streamRows,
        "analytics.enrich_s" -> ctx.selfS("analytics.enrich"),
        "analytics.kpis_s" -> ctx.selfS("analytics.kpis"),
        "analytics.topk_s" -> ctx.selfS("analytics.topk"),
        "analytics.shuffle_write_bytes" -> plain.shuffleWrite.get.toDouble,
        "analytics.spill_bytes" -> plain.spill.get.toDouble,
        "serve.store_write_s" -> ctx.selfS("serve.store_write"),
        "serve.store_bytes" -> bytes.toDouble,
        "serve.store_files" -> files.toDouble,
        "trace.wall_s" -> t.wallS,
        "trace.overhead_s" -> (t.wallS - ref.wallS),
        "trace.spans" -> tr.spans.size.toDouble)
      m += "analytics.speedup_vs_1core" -> oneCore(ctx, dir, probe) / ref.wallS
    }
    Outcome(all.size.toLong, bad.size.toLong, m, notes)
  }

  /** One pass. In a traced pass each layer's output is cached and
    * counted before the next layer reads it, so one span holds one
    * layer's work.
    */
  def pass(ctx: Ctx, dir: File, out: String, probe: Seq[(Lookup, Vector[(String, String)])],
           traced: Boolean): Pass = {
    val spark = ctx.spark
    def tr[T](name: String)(body: => T): T = if (traced) ctx.tracer(name)(body) else body
    def force(df: DataFrame): DataFrame = if (traced) { val c = df.cache(); c.count(); c } else df
    val t0 = System.nanoTime()
    val (songs, users, streams) = tr("sources.read") {
      (force(Csv.read(spark, s"$dir/songs.csv", SongsSchema)),
        force(Csv.read(spark, s"$dir/users.csv", UsersSchema)),
        force(Csv.read(spark, s"$dir/streams", StreamsSchema)))
    }
    val (vSongs, vUsers, vStreams, obs) = tr("ingest.validate") {
      val (vs, obs) = Validate.observed(Validate.validateStreams(streams), "kept", Nil)
      (force(Validate.validateSongs(songs)), force(Validate.validateUsers(users)), force(vs), obs)
    }
    val outs = MusicPipeline.run(vStreams, vSongs, vUsers)
    val forced =
      if (!traced) outs
      else {
        tr("analytics.enrich") { Plans.aggregateInput(outs.genreKpis).foreach(force) }
        val k = tr("analytics.kpis") { force(outs.genreKpis) }
        val (s, g) = tr("analytics.topk") { (force(outs.topSongs), force(outs.topGenres)) }
        MusicPipeline.Outputs(k, s, g, outs.servingItems)
      }
    tr("serve.store_write") { MusicPipeline.write(forced, out) }
    val t1 = System.nanoTime()
    if (ctx.args.trace && !traced) Tracer.setLayer(spark, "etl.check")
    // each read opens the written store afresh, as a first reader would
    val got = Seq.fill(ReadRounds)(probe).flatten.map { case (l, want) =>
      val (g, s) = timed(rows(query(spark.read.parquet(s"$out/serving"), l)))
      (g == want, s * 1000)
    }
    if (traced) spark.catalog.clearCache()
    val stored = spark.read.parquet(s"$out/serving")
      .select(col("pk"), col("sk"), col("value"), col("record_type")).collect()
    val digest = ItemDigest.of(stored.iterator.map(r => Seq(r.getString(0), r.getString(1), r.getString(2), r.getString(3))))
    val kept = obs.get.get("n_rows").map(_.toString.toLong).getOrElse(-1L)
    Pass((t1 - t0) / 1e9, got.map(_._2), kept, digest, got.forall(_._1))
  }

  /** Pass wall at `local[1]`, the single-threaded baseline. */
  def oneCore(ctx: Ctx, dir: File, probe: Seq[(Lookup, Vector[(String, String)])]): Double = {
    ctx.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val one = Main.session(1, ctx.args.work)
    try pass(new Ctx(one, ctx.args.copy(trace = false), 0.0), dir, ctx.dir("out/one").getPath,
      probe, traced = false).wallS
    finally one.stop()
  }
}

/** `batch`: `etl_batch`, then `calibration`, in one session. The two
  * set-ups run side by side, and the timed parts one after the other.
  * Its end-to-end metrics are the ETL passes', except `latency_p50_ms`,
  * which is calibration's sum of per-query medians in ms; `setup_s`
  * covers both set-ups.
  */
object Batch {
  def run(ctx: Ctx): Outcome = {
    @volatile var prepared: Calibration.Prepared = null
    var cal = Outcome(0, 0, Map.empty)
    val etl = Etl.run(ctx, beside = () => prepared = Calibration.setUp(ctx),
      next = () => cal = Calibration.measure(ctx, prepared, 0.0))
    val (e, c) = (etl.metrics, cal.metrics)
    var m = e ++ c ++ Map(
      "setup_s" -> e("setup_s"),
      "wall_s" -> e("wall_s"),
      "throughput_per_s" -> e("throughput_per_s"),
      "latency_p50_ms" -> c("wall_s") * 1000)
    if (ctx.args.trace)
      m ++= Seq("trace.wall_s", "trace.overhead_s").map(k => k -> (e(k) + c(k)))
    Outcome(etl.attempted + cal.attempted, etl.failed + cal.failed, m, etl.notes ++ cal.notes)
  }
}

/** `serve_lookups`: a closed-loop client issuing a recorded mix of the
  * three lookup patterns over `KeyValue.servingTableCached`.
  */
object Serve {
  val Round = 100
  /** Enough samples that at least 10 lie beyond the p95. */
  val MinLookups = 210

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val fx = serveFixture(ctx.args.seed, FixtureGen.Serving)
    val model = ServeModel.build(fx.events, fx.lineitems, fx.sizes.customers)
    val fixture = ctx.dir("fixture")
    writeServeTables(spark, fixture, fx, ctx.args.seed)
    val r = new SplittableRandom(ctx.args.seed)
    val days = r.ints(0, fx.sizes.days).distinct().limit(fx.sizes.days).toArray.toIndexedSeq
    val mix = Lookup.mix(r, 4000, days)

    // set-up: own a copy, build the store cold, load it, warm up
    val own = new File(ctx.args.work, "own").getPath
    val ((_, buildS), setupOnlyS) = timed {
      copyDir(fixture, new File(own))
      val built = timed(KeyValue.ensureStore(spark, own))
      val store = KeyValue.servingTableCached(spark, own)
      mix.take(20).foreach(l => rows(query(store, l)))
      built
    }
    val setupS = ctx.sessionS + setupOnlyS
    ctx.note(f"serve set-up $setupOnlyS%.2fs (store build $buildS%.2fs)")
    val store = KeyValue.servingTableCached(spark, own)
    val whole = ItemDigest.of(store.select("pk", "sk", "value").collect().iterator
      .map(r => Seq(r.getString(0), r.getString(1), r.getString(2))))
    var failed = if (whole == model.digest) 0L else 1L
    val notes = ArrayBuffer.empty[String]
    if (failed > 0) notes += s"serve: store digest $whole != model ${model.digest}"

    val lat = ArrayBuffer.empty[Double]
    val rounds = ArrayBuffer.empty[Double]
    val lt = new LookupTrace
    val tracedMs, plainMs = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var roundStart = t0
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds || lat.size < MinLookups) {
      val l = mix(i % mix.size)
      // a traced run traces every other lookup, so traced and untraced
      // lookups share one JIT and cache state for the overhead estimate
      val traced = ctx.args.trace && i % 2 == 0
      val a = System.nanoTime()
      val got =
        if (traced) ctx.tracer("serve.lookup")(lt.run(query(KeyValue.servingTableCached(spark, own), l)))
        else rows(query(KeyValue.servingTableCached(spark, own), l))
      val b = System.nanoTime()
      lat += (b - a) / 1e6
      (if (traced) tracedMs else plainMs) += (b - a) / 1e6
      if (got != model.answer(l)) {
        failed += 1
        if (notes.size < 5) notes += s"serve: $l returned $got, expected ${model.answer(l)}"
      }
      i += 1
      if (i % Round == 0) { rounds += (b - roundStart) / 1e9; roundStart = b }
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    var m = Map(
      "setup_s" -> setupS,
      "wall_s" -> Stats.median(rounds.toSeq),
      "throughput_per_s" -> lat.size / loopS,
      "latency_p50_ms" -> Stats.median(lat.toSeq)) ++ latencyMetrics(lat.toSeq)
    if (ctx.args.trace)
      m ++= ctx.layerMetrics() ++ lt.metrics(ctx, tracedMs.size) ++ Map(
        "serve.store_build_s" -> buildS,
        "trace.spans" -> ctx.tracer.spans.size.toDouble,
        "trace.wall_s" -> loopS,
        "trace.overhead_s" -> overheadS(tracedMs, plainMs, lat.size))
    Outcome(lat.size + 1L, failed, m, notes.toSeq)
  }
}

/** `ingest_refresh`: an open-loop generator lands event batches on a
  * fixed schedule; `ServingIngest.start` appends each and refreshes the
  * day-partitioned store, while a closed-loop reader issues
  * recent-day-favoured lookups on `KeyValue.dailyStoreCached`.
  *
  * Reads are serialized with refreshes by a fair read/write lock, so no
  * lookup overlaps a refresh: the engine does not support that yet. A
  * `dailyStoreCached` call between `ServingIngest`'s cache invalidation
  * and the end of its `ensureStoreDaily` starts a second rebuild of the
  * same store, and the two leave it unreadable (without the lock, a
  * 4-core run failed 3,655 of 3,674 lookups with
  * `CONFLICTING_PARTITION_COLUMN_NAMES`). A lookup that arrives during a
  * refresh waits for it, and its latency includes the wait.
  */
object Ingest {
  /** A new day, then a late batch on a past day. */
  val Batches = 2
  /** Gap between scheduled arrivals. An assumption: the reference lands
    * stream files at unpredictable times and runs its DAG `@daily`; no
    * arrival rate is recorded, so the benchmark compresses a day to
    * this gap. It is longer than a refresh on a slow 4-core host (about
    * 9 s), so that batches do not queue behind each other.
    */
  val IntervalMs = 10000L
  /** Rows per batch: the reference's observed stream file size. */
  val BatchRows = 11346
  val LateEvery = 2

  final case class Probe(pk: String, count: Long)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sizes = FixtureGen.Serving
    val fx = serveFixture(ctx.args.seed, sizes)
    val fixture = ctx.dir("fixture")
    writeServeTables(spark, fixture, fx, ctx.args.seed)
    val intervalMs = math.max(IntervalMs, ctx.seconds * 1000L / (Batches - 1))
    val sched = Schedule.batches(ctx.args.seed, Batches, intervalMs, sizes.days, LateEvery)
    val staging = ctx.dir("staging")
    val warmDir = ctx.dir("warm")
    // the batches, the warm-up batch and the answer keys are made beside
    // the cold store build
    def inputs() = {
      val r = new SplittableRandom(ctx.args.seed ^ 0xba7c4L)
      var nextId = fx.events.size.toLong
      val batches = sched.map { b =>
        val ev = FixtureGen.events(r, BatchRows, nextId, sizes.customers, _ => b.day)
        nextId += BatchRows
        ev
      }
      // set-up ingests one warm-up batch on a past day through the same path
      val warm = FixtureGen.events(r, BatchRows, nextId, sizes.customers, _ => 0)
      // the answer key after each refresh: fixture, warm-up and the first v batches
      val models = (0 to Batches).map(v =>
        ServeModel.build(fx.events ++ warm ++ batches.take(v).flatten, fx.lineitems, sizes.customers))
      val probes = sched.indices.map { i =>
        val b = batches(i)
        val typ = b.groupBy(_.typ).maxBy { case (t, es) => (es.size, t) }._1
        val pk = s"GENRE#$typ#DATE#${FixtureGen.dayString(sched(i).day)}"
        Probe(pk, models(i + 1).l1(pk, "METRIC#listen_count").head._2.toLong)
      }
      batches.zipWithIndex.foreach { case (ev, i) =>
        writeTable(spark, staging, f"b$i%03d", EventSchema, ev.map(eventRow))
      }
      writeTable(spark, warmDir, "w", EventSchema, warm.map(eventRow))
      (models, probes)
    }

    // set-up: own a copy, build the daily store cold, ingest one warm-up
    // batch through the refresh path, load the store, warm up the reader
    val own = new File(ctx.args.work, "own").getPath
    val src = ctx.dir("src")
    val ckpt = new File(ctx.args.work, "ckpt").getPath
    val (((models, probes), (storePath, buildS)), setupOnlyS) = timed {
      copyDir(fixture, new File(own))
      val done = alongside(inputs())(timed(KeyValue.ensureStoreDaily(spark, own)))
      ctx.note("ingest set-up: store built")
      Files.copy(new File(warmDir, "w.parquet").toPath, new File(src, "w.parquet").toPath)
      ServingIngest.start(spark, FileSourceConfig(src.getPath, "parquet", EventSchema), ckpt, own)
        .awaitTermination()
      ctx.note("ingest set-up: warm-up batch applied")
      val store = KeyValue.dailyStoreCached(spark, own)
      Lookup.mix(new SplittableRandom(ctx.args.seed), 20, 0 until sizes.days).foreach(l => rows(query(store, l)))
      done
    }
    val setupS = ctx.sessionS + setupOnlyS
    ctx.note(f"ingest set-up $setupOnlyS%.2fs (store build $buildS%.2fs)")
    val landing = ctx.dir("landing")
    val storeDir = new File(storePath).getAbsoluteFile
    val setupTriggers = ctx.progress.triggers.size
    val lock = new java.util.concurrent.locks.ReentrantReadWriteLock(true)
    @volatile var version = 0 // batches whose refresh has completed
    @volatile var landed = 0
    @volatile var done = false
    val landedMs = Array.fill(Batches)(-1L)
    val startedMs = Array.fill(Batches)(-1L)
    val refreshedMs = Array.fill(Batches)(-1L)
    val freshMs = Array.fill(Batches)(-1L)
    val lat, tracedMs, plainMs = ArrayBuffer.empty[Double]
    val lt = new LookupTrace
    val failures = new java.util.concurrent.atomic.AtomicLong
    val notes = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    var daysRewritten = 0L
    var appended = 0L
    val t0 = System.nanoTime()
    def nowMs = (System.nanoTime() - t0) / 1000000L

    val generator = new Thread(() => {
      sched.foreach { b =>
        val wait = b.dueMs - nowMs
        if (wait > 0) Thread.sleep(wait)
        Files.move(new File(staging, f"b${b.index}%03d.parquet").toPath,
          new File(landing, f"b${b.index}%03d.parquet").toPath, StandardCopyOption.ATOMIC_MOVE)
        landedMs(b.index) = nowMs
        landed = b.index + 1
      }
    }, "perfbench-generator")

    val reader = new Thread(() => {
      val rr = new SplittableRandom(ctx.args.seed ^ 0x4eadL)
      var n = 0
      while (!done) {
        // a traced run traces every other lookup, as in serve_lookups
        val traced = ctx.args.trace && n % 2 == 0
        n += 1
        val a = System.nanoTime()
        lock.readLock().lock()
        // chosen under the lock: the first read after a refresh probes the
        // oldest refreshed batch whose effect no lookup has shown yet
        val (l, probe, got, v) =
          try {
            val v = version
            val probe = (0 until v).find(i => freshMs(i) < 0)
            val l = probe.map(i => Lookup(1, probes(i).pk, "METRIC#listen_count")).getOrElse {
              // recent days are hot: newest-first over the days applied so far
              val newest = sizes.days + sched.take(v).count(!_.late)
              Lookup.one(rr, FixtureGen.dayString(newest - 1 - new Zipf(newest, 1.0).sample(rr)), rr.nextInt(10))
            }
            val got =
              try {
                val q = query(KeyValue.dailyStoreCached(spark, own), l)
                Right(if (traced) ctx.tracer("serve.lookup")(lt.run(q)) else rows(q))
              } catch { case e: Exception => Left(e) }
            (l, probe, got, v)
          } finally lock.readLock().unlock()
        val end = nowMs
        val ms = (System.nanoTime() - a) / 1e6
        lat.synchronized { lat += ms; (if (traced) tracedMs else plainMs) += ms }
        if (!got.contains(models(v).answer(l))) {
          failures.incrementAndGet()
          if (notes.size < 5) notes.add(s"ingest: $l after refresh $v returned " +
            got.fold(e => s"error $e", g => s"$g, expected ${models(v).answer(l)}"))
        }
        for (i <- probe; g <- got.toOption)
          if (g.headOption.exists(_._2.toLong >= probes(i).count)) freshMs(i) = end
      }
    }, "perfbench-reader")

    generator.start()
    reader.start()
    val deadline = t0 + (ctx.seconds + 60) * 1000000000L
    var refreshes = 0
    try {
      while (version < Batches && System.nanoTime() < deadline) {
        val upTo = landed
        if (upTo > version) {
          (version until upTo).foreach { i =>
            Files.move(new File(landing, f"b$i%03d.parquet").toPath,
              new File(src, f"b$i%03d.parquet").toPath, StandardCopyOption.ATOMIC_MOVE)
          }
          val before = dayStamps(storeDir)
          lock.writeLock().lock()
          try {
            val start = nowMs
            ctx.tracer("stream.ingest") {
              ServingIngest.start(spark, FileSourceConfig(src.getPath, "parquet", EventSchema),
                ckpt, own).awaitTermination()
            }
            val at = nowMs
            (version until upTo).foreach { i => startedMs(i) = start; refreshedMs(i) = at }
            appended += (upTo - version).toLong * BatchRows
            version = upTo
          } finally lock.writeLock().unlock()
          ctx.note(s"ingest refresh of batches $upTo done at ${refreshedMs(upTo - 1)}ms")
          val after = dayStamps(storeDir)
          daysRewritten += after.count { case (d, t) => !before.get(d).contains(t) }
          refreshes += 1
        } else Thread.sleep(5)
      }
      // the reader must see every batch's effect
      while (freshMs.exists(_ < 0) && System.nanoTime() < deadline) Thread.sleep(5)
    } finally {
      done = true
      generator.join()
      reader.join()
    }
    val missing = freshMs.count(_ < 0)
    if (missing > 0) notes.add(s"ingest: $missing batches never became visible")
    val fresh = sched.indices.filter(freshMs(_) >= 0).map(i => (freshMs(i) - sched(i).dueMs) / 1000.0)
    val applied = sched.indices.filter(refreshedMs(_) >= 0)
    // refresh work only: each refresh's duration, without the time a
    // batch waited for an earlier refresh to end
    val refreshS = applied.map(i => (startedMs(i), refreshedMs(i))).distinct
      .map { case (s, e) => (e - s) / 1000.0 }
    val latency = lat.synchronized(lat.toVector)
    val failed = failures.get + missing
    var m = Map(
      "setup_s" -> setupS,
      "wall_s" -> (if (refreshS.isEmpty) 0.0 else Stats.median(refreshS)),
      "throughput_per_s" -> appended / math.max(1e-9, refreshS.sum),
      "latency_p50_ms" -> (if (fresh.isEmpty) 0.0 else Stats.median(fresh) * 1000)) ++
      latencyMetrics(latency)
    if (ctx.args.trace) {
      ctx.drain()
      val ing = ctx.listener.counters("stream.ingest")
      val trig = ctx.progress.triggers.drop(setupTriggers)
      val ol = sched.indices.map(i => OpenLoop.Batch(sched(i).dueMs, landedMs(i), refreshedMs(i)))
      m ++= ctx.layerMetrics() ++ lt.metrics(ctx, tracedMs.size) ++ Map(
        "trace.overhead_s" -> overheadS(tracedMs, plainMs, latency.size),
        "stream.freshness_p50_s" -> (if (fresh.isEmpty) 0.0 else Stats.median(fresh)),
        "stream.trigger_s" -> (if (trig.isEmpty) 0.0 else Stats.median(trig.map(_.triggerMs / 1000.0))),
        "stream.add_batch_s" -> (if (trig.isEmpty) 0.0 else Stats.median(trig.map(_.addBatchMs / 1000.0))),
        "stream.backlog_max" -> OpenLoop.backlogMax(ol).toDouble,
        "stream.generator_late_ms" -> OpenLoop.lateness(ol).max.toDouble,
        "serve.refresh_s" -> ctx.selfS("stream.ingest") / math.max(1, refreshes),
        "serve.days_rewritten" -> daysRewritten.toDouble,
        "serve.rows_scanned_per_appended_row" -> ing.recordsRead.get.toDouble / math.max(1L, appended),
        "serve.store_build_s" -> buildS,
        "trace.wall_s" -> (refreshedMs.max - sched.head.dueMs) / 1000.0,
        "trace.spans" -> ctx.tracer.spans.size.toDouble)
    }
    Outcome(latency.size + Batches.toLong, failed, m, notes.toArray.toSeq.map(_.toString))
  }

  /** Newest file mtime per `d=` partition of the daily store. */
  def dayStamps(store: File): Map[String, Long] =
    Option(store.listFiles()).toSeq.flatten.filter(_.getName.startsWith("d="))
      .map(d => d.getName -> Option(d.listFiles()).toSeq.flatten.map(_.lastModified).foldLeft(0L)(math.max))
      .toMap
}

/** `calibration`: one query per hot path through `SparkEntry.queries`,
  * timed with `GraftSession.forceAndCount` after an untimed pass has
  * built their artifacts.
  */
object Calibration {
  /** Fixed seed of the calibration fixture: its expected outputs are
    * recorded in `calibration_expected.tsv`.
    */
  val FixtureSeed = 42L
  /** Timed rounds at least; each query's figure is its median over
    * them.
    */
  val MinRounds = 3

  def expected: Map[String, (Long, Long)] =
    Option(getClass.getResourceAsStream("/perfbench/calibration_expected.tsv")).map { in =>
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
        .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2).toLong)).toMap
      finally in.close()
    }.getOrElse(Map.empty)

  /** Row count and order-independent hash: the `forceAndCount` plan with
    * its hash kept.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.filterNot(_.dataType.isInstanceOf[MapType]).map(f => col(f.name))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("h")).agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Writes the tables the calibration queries read: `events` and
    * `orders` (as-of join), `documents` (MinHash) and `embeddings` (IVF).
    */
  def writeFixture(spark: SparkSession, dir: File): Unit = {
    val s = FixtureGen.Calibration
    val fx = serveFixture(FixtureSeed, s)
    writeServeTables(spark, dir, fx, FixtureSeed, keep = Set("events"))
    val r = new SplittableRandom(FixtureSeed ^ 0xca1L)
    // the supplier balances the recorded fixture drew first, kept so the
    // later tables match calibration_expected.tsv
    (0 until s.suppliers).foreach(_ => r.nextInt(1000000))
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    writeTable(spark, dir, "orders", StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType))),
      (0 until s.orders).map(i => Row(i.toLong, r.nextInt(s.customers).toLong,
        if (r.nextBoolean()) "O" else "F", 1000 + r.nextInt(40000000) / 100.0,
        new java.sql.Timestamp((FixtureGen.Day0Micros + r.nextInt(s.days) * FixtureGen.DayMicros +
          r.nextLong(FixtureGen.DayMicros)) / 1000), prio(r.nextInt(prio.length)))))
    writeTable(spark, dir, "documents", StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))),
      FixtureGen.documents(r, s.documents).map { case (a, b, c, d, e) => Row(a, b, c, d, e) })
    writeTable(spark, dir, "embeddings", StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))),
      FixtureGen.embeddings(r, s.embeddings).map { case (a, b, c) => Row(a, b.toSeq, c) })
  }

  /** What the set-up leaves for the timed rounds: the owned fixture
    * copy, whose artifacts the cold pass built, and its check results.
    */
  final case class Prepared(own: File, failed: Long, notes: Seq[String])

  /** Set-up: writes the fixture, owns a copy, and runs one untimed pass
    * that builds every artifact and checks outputs.
    */
  def setUp(ctx: Ctx): Prepared = {
    val spark = ctx.spark
    val fixture = ctx.dir("fixture")
    writeFixture(spark, fixture)
    val own = new File(ctx.args.work, "calib")
    copyDir(fixture, own)
    val expect = expected
    val notes = ArrayBuffer.empty[String]
    Main.Calibration.foreach { case (q, _) =>
      val (got, qs) = timed(digest(SparkEntry.queries(q)(spark, own.getPath)))
      ctx.note(f"calibration cold $q: $qs%.2fs")
      expect.get(q) match {
        case Some((n, h)) if q == "sim_ivf_topk" && got._1 == n => ()
        case Some(e) if e == got => ()
        case e => notes += s"calibration: $q got rows=${got._1} hash=${got._2}, expected ${e.getOrElse("(none)")}"
      }
    }
    Prepared(own, notes.size.toLong, notes.toSeq)
  }

  def run(ctx: Ctx): Outcome = {
    val (p, setupOnlyS) = timed(setUp(ctx))
    ctx.note(f"calibration set-up $setupOnlyS%.2fs")
    measure(ctx, p, ctx.sessionS + setupOnlyS)
  }

  /** The timed rounds, after [[setUp]]. */
  def measure(ctx: Ctx, p: Prepared, setupS: Double): Outcome = {
    val spark = ctx.spark
    val own = p.own
    val expect = expected
    val notes = ArrayBuffer.empty[String] ++= p.notes
    var failed = p.failed
    val times = Main.Calibration.map(_._1).map(_ -> ArrayBuffer.empty[Double]).toMap
    System.gc()
    val r = new SplittableRandom(ctx.args.seed)
    val t0 = System.nanoTime()
    var rounds = 0
    var runs = 0L
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds || rounds < MinRounds) {
      val order = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
        .shuffle(Main.Calibration.toVector)
      order.foreach { case (q, module) =>
        val (n, s) = timed(ctx.tracer(s"$module.$q") {
          GraftSession.forceAndCount(SparkEntry.queries(q)(spark, own.getPath))
        })
        times(q) += s
        if (rounds == 0) ctx.note(f"calibration $q: $s%.3fs")
        runs += 1
        if (!expect.get(q).exists(_._1 == n)) {
          failed += 1
          if (notes.size < 5) notes += s"calibration: $q returned $n rows"
        }
      }
      rounds += 1
    }
    val medians = Main.Calibration.map { case (q, _) => Stats.median(times(q).toSeq) }
    val wall = medians.sum
    var m = Map(
      "setup_s" -> setupS,
      "wall_s" -> wall,
      "throughput_per_s" -> Main.Calibration.size / wall,
      // with three queries a median would be one query's time
      "latency_p50_ms" -> math.exp(medians.map(math.log).sum / medians.size) * 1000)
    if (ctx.args.trace) {
      ctx.drain()
      m ++= ctx.layerMetrics()
      Main.Calibration.foreach { case (q, module) =>
        m += s"$module.${q}_s" -> Stats.median(times(q).toSeq)
        m += s"$module.${q}_tasks" -> ctx.listener.counters(s"$module.$q").tasks.get.toDouble / rounds
      }
      val (_, plainS) = timed(Main.Calibration.foreach { case (q, _) =>
        GraftSession.forceAndCount(SparkEntry.queries(q)(spark, own.getPath)) })
      m += "trace.wall_s" -> wall
      m += "trace.overhead_s" -> (wall - plainS)
      m += "trace.spans" -> ctx.tracer.spans.size.toDouble
    }
    Outcome(runs + Main.Calibration.size, failed, m, notes.toSeq)
  }
}
