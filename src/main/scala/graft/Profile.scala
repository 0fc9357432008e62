package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Where a query's time goes, layer by layer: the engine's one
  * diagnostics path. Each name (a registered query, else a
  * [[ProbeAb.probes]] entry) runs three times in a row: run 1 is cold
  * (it pays any artifact build), runs 2 and 3 are warm. A run's wall
  * time splits at Catalyst's phase boundaries:
  *
  *  - construct: the query closure, with its eager actions (artifact
  *    ensure, pins, guards) and any stream it drives to completion;
  *  - analyze: the counted plan on top of the frame
  *    ([[GraftSession.forced]]; a Dataset analyzes as it is built, so
  *    the frame's own analysis falls in construct);
  *  - optimize: logical optimization plus physical planning;
  *  - execute: the count.
  *
  * Jobs, stages, tasks, task I/O, the named SQL actions besides the
  * count, each probe [[step]] and every stream trigger come from one
  * SparkListener on the context, added for the call and removed before
  * it returns, also when a name throws. A session's
  * StreamingQueryListener or QueryExecutionListener would not do: each
  * hears only its own session, streams run on cloned sessions
  * (`StreamQueries.streamSession`), and a session cloned while a
  * QueryExecutionListener is registered keeps a copy of it. Nothing
  * else should run on the context during a call.
  *
  *   SPARK_GRAFT_SF_DIR=<fixture dir> \
  *     sbt "runMain graft.Profile [--explain] [key=value…] name…"
  *
  * prints one JSON line per run ([[Run.json]]). Each `key=value` is set
  * on the session before the first name; `--explain` prints each
  * name's formatted plan before its runs. SPARK_GRAFT_CPUS defaults to
  * the host's processor count.
  */
object Profile {

  final case class Trigger(batchId: Long, numInputRows: Long,
      durationMs: Map[String, Long], stateRows: Long)

  final case class Run(name: String, run: Int, rows: Long, wallS: Double,
      constructS: Double, analyzeS: Double, optimizeS: Double, executeS: Double,
      jobS: Seq[Double], stages: Long, tasks: Long, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      actions: Seq[(String, Double)], triggers: Seq[Trigger]) {

    def json: String = {
      def obj(kv: (String, Any)*) =
        kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      def arr(xs: Iterable[Any]) = xs.mkString("[", ",", "]")
      def str(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      def sec(x: Double) = f"$x%.4f"
      obj("name" -> str(name), "run" -> run, "rows" -> rows, "wall_s" -> sec(wallS),
        "construct_s" -> sec(constructS), "analyze_s" -> sec(analyzeS),
        "optimize_s" -> sec(optimizeS), "execute_s" -> sec(executeS),
        "jobs" -> jobS.size, "stages" -> stages, "tasks" -> tasks,
        "job_s" -> arr(jobS.map(sec)),
        "input_bytes" -> inputBytes, "shuffle_read_bytes" -> shuffleReadBytes,
        "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
        "actions" -> arr(actions.map { case (n, s) => obj("name" -> str(n), "s" -> sec(s)) }),
        "triggers" -> arr(triggers.map(t => obj("batchId" -> t.batchId,
          "numInputRows" -> t.numInputRows,
          "durationMs" -> obj(t.durationMs.toSeq.sortBy(_._1).map { case (k, v) => k -> v }: _*),
          "stateRows" -> t.stateRows))))
    }
  }

  /** Everything the context reports between two [[reset]]s. */
  private final class Recorder extends SparkListener {
    private val jobStart = mutable.LinkedHashMap.empty[Int, Long]
    private val jobEnd = mutable.Map.empty[Int, Long]
    private var stages, tasks, input, shuffleRead, shuffleWrite, spill = 0L
    private val actions = mutable.ArrayBuffer.empty[(String, Double, Option[QueryExecution])]
    private val triggers = mutable.ArrayBuffer.empty[Trigger]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { jobStart(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized { jobEnd(e.jobId) = e.time }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        input += m.inputMetrics.bytesRead
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case q: QueryProgressEvent =>
          val p = q.progress
          triggers += Trigger(p.batchId, p.numInputRows,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            p.stateOperators.map(_.numRowsTotal).sum)
        case Step(n, s) => actions += ((n, s, None))
        case _ => actions ++= bridge.actionEnd(e).map { case (n, s, qe) => (n, s, Some(qe)) }
      }
    }

    def reset(): Unit = synchronized {
      jobStart.clear(); jobEnd.clear(); actions.clear(); triggers.clear()
      stages = 0; tasks = 0; input = 0; shuffleRead = 0; shuffleWrite = 0; spill = 0
    }

    /** The run just recorded; `counted` is the count's own execution. */
    def result(name: String, run: Int, rows: Long, wallS: Double,
        phases: Seq[Double], counted: QueryExecution): Run = synchronized {
      val Seq(construct, analyze, optimize, execute) = phases
      Run(name, run, rows, wallS, construct, analyze, optimize, execute,
        jobStart.toSeq.map { case (id, t) => jobEnd.get(id).fold(-1.0)(end => (end - t) / 1e3) },
        stages, tasks, input, shuffleRead, shuffleWrite, spill,
        actions.collect { case (n, s, qe) if !qe.contains(counted) => (n, s) }.toSeq,
        triggers.toSeq)
    }
  }

  /** One step of a probe, as [[step]] reports it. */
  private final case class Step(name: String, s: Double) extends SparkListenerEvent

  /** Runs `body` and files its wall time under `name` in the current
    * run's `actions`: a probe's per-step walls
    * ([[ProbeAb.probes]]). Outside [[run]] nothing records it.
    */
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val result = body
    bridge.post(SparkSession.active, Step(name, (System.nanoTime() - t0) / 1e9))
    result
  }

  private def lookup(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.get(name).orElse(ProbeAb.probes.get(name))
      .getOrElse(throw new NoSuchElementException(s"no query or probe named $name"))

  def run(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[Run] =
    runQueries(spark, sfDir, names.map(name => name -> lookup(name)))

  /** [[run]] over named query functions. */
  private[graft] def runQueries(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[Run] = {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try queries.flatMap { case (name, query) =>
      (1 to 3).map { i =>
        bridge.drainListenerBus(spark)
        rec.reset()
        val t0 = System.nanoTime()
        val df = query(spark, sfDir)
        val t1 = System.nanoTime()
        val counted = GraftSession.forced(df)
        val qe = counted.queryExecution
        qe.analyzed
        val t2 = System.nanoTime()
        qe.optimizedPlan
        qe.executedPlan
        val t3 = System.nanoTime()
        val rows = counted.collect().head.getLong(0)
        val t4 = System.nanoTime()
        bridge.drainListenerBus(spark)
        val t5 = System.nanoTime()
        def sec(a: Long, b: Long) = (b - a) / 1e9
        rec.result(name, i, rows, sec(t0, t5),
          Seq(sec(t0, t1), sec(t1, t2), sec(t2, t3), sec(t3, t4)), qe)
      }
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.partition(_.startsWith("--"))
    val (confs, names) = rest.partition(_.contains('='))
    require(names.nonEmpty && flags.forall(_ == "--explain"),
      "usage: graft.Profile [--explain] [key=value…] name…")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a fixture directory"))
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString))
    try {
      confs.foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) }
      // absorb session start-up, so that run 1 is the query's own cold run
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      names.foreach { name =>
        if (flags.nonEmpty)
          println(lookup(name)(spark, sfDir).queryExecution.explainString(FormattedMode))
        run(spark, sfDir, Seq(name)).foreach(r => println(r.json))
      }
    } finally spark.stop()
  }
}
