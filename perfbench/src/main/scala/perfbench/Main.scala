package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Command line: `--workload W --seed N --seconds S --trace 0|1
  * --work DIR`. Prints one JSON result object as the last line of
  * stdout; exits non-zero when an output check failed. Spark runs at
  * `local[<available processors>]`.
  */
object Main {

  /** End-to-end metrics every workload reports (name → unit). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms")

  /** Layers whose tasks the traced run charges. */
  val Layers = Seq("sources", "ingest", "analytics", "serve", "stream", "plans", "ext")

  /** The calibration set: one query per hot path of the modules no
    * other workload reaches, with the module it exercises. The native
    * kernels of `functions` run inside `dedup_minhash_lsh` (MinHash
    * signatures) and `sim_ivf_topk` (cell assignment, dot products).
    */
  val Calibration: Seq[(String, String)] = Seq(
    "asof_join_native" -> "plans", "dedup_minhash_lsh" -> "ext", "sim_ivf_topk" -> "ext")

  private def layerTotals(ls: Seq[String]) =
    ls.flatMap(l => Seq(s"$l.tasks" -> "count", s"$l.task_busy_s" -> "s", s"$l.gc_s" -> "s"))

  /** Per-layer metrics of the traced run (name → unit). */
  val PerLayer: Seq[(String, String)] =
    layerTotals(Layers) ++
    Seq(
      "sources.read_s" -> "s", "sources.scan_amplification" -> "ratio",
      "ingest.validate_s" -> "s", "ingest.kept_ratio" -> "ratio",
      "analytics.enrich_s" -> "s", "analytics.kpis_s" -> "s", "analytics.topk_s" -> "s",
      "analytics.shuffle_write_bytes" -> "bytes", "analytics.spill_bytes" -> "bytes",
      "analytics.speedup_vs_1core" -> "ratio",
      "serve.store_write_s" -> "s", "serve.store_bytes" -> "bytes", "serve.store_files" -> "count",
      "serve.store_build_s" -> "s",
      "serve.lookup_p50_ms" -> "ms", "serve.lookup_p95_ms" -> "ms", "serve.lookup_samples" -> "count",
      "serve.lookup_plan_ms" -> "ms", "serve.lookup_exec_ms" -> "ms",
      "serve.jobs_per_lookup" -> "count", "serve.tasks_per_lookup" -> "count",
      "serve.rows_examined_per_result" -> "ratio",
      "serve.refresh_s" -> "s", "serve.days_rewritten" -> "count",
      "serve.rows_scanned_per_appended_row" -> "ratio",
      "stream.freshness_p50_s" -> "s", "stream.trigger_s" -> "s", "stream.add_batch_s" -> "s",
      "stream.backlog_max" -> "count", "stream.generator_late_ms" -> "ms",
      "trace.wall_s" -> "s", "trace.overhead_s" -> "s", "trace.spans" -> "count",
      "peak_rss_mb" -> "MB") ++
    Calibration.flatMap { case (q, m) => Seq(s"$m.${q}_s" -> "s", s"$m.${q}_tasks" -> "count") }

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")).getAbsoluteFile)
  }

  val Cpus: Int = Runtime.getRuntime.availableProcessors

  def session(cpus: Int, work: File): SparkSession = {
    val s = graft.GraftSession.builder(s"local[$cpus]", cpus.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      // loopback only: runs need no network and no host-name lookup
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def json(correct: Boolean, attempted: Long, failed: Long,
           metrics: Seq[(String, (Double, String))]): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
    val ms = metrics.map { case (n, (v, u)) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.All(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.All.mkString(", ")}")
    a.work.mkdirs()
    val t0 = System.nanoTime()
    val spark = session(Cpus, a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, a, sessionS)
    val out =
      try Workloads.run(ctx)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          spark.stop()
          System.out.flush()
          sys.exit(3)
      }
    val m = mutable.LinkedHashMap.empty[String, Double]
    m ++= out.metrics
    m("peak_rss_mb") = peakRssMb()
    val names = if (a.trace) PerLayer else EndToEnd
    val missing = names.map(_._1).filterNot(m.contains)
    if (!a.trace) require(missing.isEmpty, s"workload did not report ${missing.mkString(", ")}")
    val metrics = names.map { case (n, u) => n -> (m.getOrElse(n, 0.0), u) }
    if (a.trace) ctx.tracer.writeJsonl(new File(a.work.getParentFile, s"trace-${a.workload}-${a.seed}.jsonl"))
    spark.stop()
    val ok = out.failed == 0
    out.notes.foreach(n => System.err.println(s"[perfbench] $n"))
    println(json(ok, out.attempted, out.failed, metrics))
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }
}

/** Host-speed probe, run in a JVM of its own before and after each
  * benchmark run: a fixed integer and cache workload on every core at
  * once. Prints the median of the later repetitions, in seconds.
  */
object Probe {
  @volatile private var sink = 0L

  def work(seed: Long): Long = {
    val arr = new Array[Long](1 << 16)
    var x = seed | 1L
    var acc = 0L
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      val j = (x & 0xffff).toInt
      arr(j) += x
      acc += arr((j * 31) & 0xffff)
      i += 1
    }
    acc
  }

  def main(argv: Array[String]): Unit = {
    val reps = (0 until 11).map { r =>
      val t0 = System.nanoTime()
      val ts = (0 until Main.Cpus).map { k =>
        val t = new Thread(() => sink += work(k + 7L * r))
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    println(Stats.median(reps.drop(2)))
  }
}

/** What one workload run hands back. */
final case class Outcome(attempted: Long, failed: Long, metrics: Map[String, Double],
                         notes: Seq[String] = Nil)

/** Per-run context: session, arguments, tracer and listeners. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val sessionS: Double) {
  val listener = new LayerListener
  val progress = new ProgressListener
  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(progress)
  val tracer = new Tracer(spark, s"${args.workload}-${args.seed}", args.trace)
  def seconds: Int = args.seconds
  def dir(name: String): File = { val f = new File(args.work, name); f.mkdirs(); f }
  /** Progress line on stderr. */
  def note(msg: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1fs $msg")
  private val started = System.nanoTime()
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Layer totals (tasks, busy seconds, GC seconds) from the job groups
    * whose name starts with the layer.
    */
  def layerMetrics(): Map[String, Double] = {
    drain()
    import scala.jdk.CollectionConverters._
    val groups = listener.byGroup.asScala.toSeq
    Main.Layers.flatMap { l =>
      val cs = groups.collect { case (g, c) if g == l || g.startsWith(l + ".") => c }
      Seq(s"$l.tasks" -> cs.map(_.tasks.get).sum.toDouble,
        s"$l.task_busy_s" -> cs.map(_.runMs.get).sum / 1000.0,
        s"$l.gc_s" -> cs.map(_.gcMs.get).sum / 1000.0)
    }.toMap
  }

  /** Self seconds of the spans with the given name. */
  def selfS(name: String): Double =
    Span.selfByName(tracer.spans).getOrElse(name, 0L) / 1e9
}
