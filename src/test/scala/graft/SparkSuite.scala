package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM — same config
  * surface as Verify/Bench (UTC, nanosAsLong, small shuffle partitions).
  */
object SparkTest {
  lazy val session: SparkSession = GraftSession.local("4")
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  val sfDir = "/root/testdata/sf0.001"

  /** Recursive delete for test artifact dirs. Symlinks are removed as
    * links (never followed — fixture dirs produced by ScaleUp symlink
    * shared tables, and cleanup must not reach through them).
    */
  def deleteRecursively(path: String): Unit = Fs.deleteTree(path)

  /** `body`'s result and the Spark jobs started while it ran, counted
    * by a listener that is removed before this returns.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graftbridge.bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.sql.graftbridge.bridge.drainListenerBus(spark)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
