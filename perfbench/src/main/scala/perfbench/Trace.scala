package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. Times are ns from the recorder's origin. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, runId: String) {
  def durNs: Long = endNs - startNs
}

object Span {
  /** Self time of each span: its duration minus its direct children's. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.map(s => s.id -> math.max(0L, s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** Total self time per span name. */
  def selfByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }
}

/** In-memory span recorder. Spans nest per thread; the active span's
  * name is also the Spark job group and layer property, so the listeners
  * below can charge every job and task to the layer that caused it. Spans are kept
  * in memory and written out once, at the end of the run.
  */
final class Tracer(spark: SparkSession, val runId: String, val enabled: Boolean) {
  private val origin = System.nanoTime()
  private val ids = new AtomicInteger(0)
  private val done = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Int, String)]] { override def initialValue() = Nil }

  def spans: Seq[Span] = done.synchronized(done.toVector)

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val id = ids.incrementAndGet()
      val parent = outer.headOption.map(_._1).getOrElse(0)
      stack.set((id, name) :: outer)
      Tracer.setLayer(spark, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        Tracer.setLayer(spark, outer.headOption.map(_._2).orNull)
        done.synchronized(done += Span(id, name, t0 - origin, t1 - origin, parent, runId))
      }
    }

  def writeJsonl(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"run_id":"${s.runId}"}""")
    } finally w.close()
  }
}

object Tracer {
  /** Local property naming the active layer. Unlike the job group, which
    * a streaming query replaces with its run id, it is inherited by the
    * threads a call starts, so micro-batch jobs are charged too.
    */
  val LayerProperty = "perfbench.layer"

  /** Makes `name` (or nothing, for null) the job group and the layer of
    * jobs this thread submits from now on.
    */
  def setLayer(spark: SparkSession, name: String): Unit = {
    val sc = spark.sparkContext
    if (name == null) sc.clearJobGroup() else sc.setJobGroup(name, name, interruptOnCancel = false)
    sc.setLocalProperty(LayerProperty, name)
  }
}

/** Spark work charged to one layer. */
final class LayerCounters {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val gcMs = new AtomicLong
  val bytesRead = new AtomicLong
  val recordsRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
}

/** SparkListener that charges each task to the layer that was active
  * when its job was submitted.
  */
final class LayerListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val byGroup = new ConcurrentHashMap[String, LayerCounters]()

  def counters(group: String): LayerCounters =
    byGroup.computeIfAbsent(group, _ => new LayerCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.LayerProperty)).orElse(Option(p.getProperty("spark.jobGroup.id"))))
      .getOrElse("untraced")
    val c = counters(g)
    c.jobs.incrementAndGet()
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageId, "untraced"))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.addAndGet(m.executorRunTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.bytesRead.addAndGet(m.inputMetrics.bytesRead)
      c.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Collects `StreamingQueryProgress` durations of every trigger. */
final class ProgressListener extends StreamingQueryListener {
  final case class Trigger(triggerMs: Long, addBatchMs: Long)
  private val buf = ArrayBuffer.empty[Trigger]
  def triggers: Seq[Trigger] = buf.synchronized(buf.toVector)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    if (p.numInputRows > 0)
      buf.synchronized(buf += Trigger(ms("triggerExecution"), ms("addBatch")))
  }
}
