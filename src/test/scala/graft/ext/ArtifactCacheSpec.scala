package graft.ext

import graft.SparkSuite
import java.lang.ref.WeakReference
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

object ArtifactCacheSpec {
  /** Child-JVM half of the stopped-owner case (the suite's shared
    * session cannot be stopped): caches one entry under a context and
    * one under its session, stops them, and exits 0 iff both entries
    * are gone after the next miss.
    */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val sc = spark.sparkContext
    ArtifactCache.get(sc, "ctx", "v1")(ArtifactCache.Entry(1))
    ArtifactCache.get(spark, "session", "v1")(ArtifactCache.Entry(2))
    val before = ArtifactCache.versions(sc).size + ArtifactCache.versions(spark).size
    spark.stop()
    ArtifactCache.get(new Object, "probe", "v1")(ArtifactCache.Entry(0))
    val after = ArtifactCache.versions(sc).size + ArtifactCache.versions(spark).size
    println(s"[stopcheck] before=$before after=$after")
    sys.exit(if (before == 2 && after == 0) 0 else 1)
  }
}

class ArtifactCacheSpec extends SparkSuite {

  test("concurrent misses of one key build it once") {
    val owner = new Object
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          go.await()
          ArtifactCache.get(owner, "answer", "v1") {
            builds.incrementAndGet()
            Thread.sleep(100)
            ArtifactCache.Entry(42)
          }
        }
      }))
      go.countDown()
      assert(calls.map(_.get(60, TimeUnit.SECONDS)) == Seq.fill(8)(42))
    } finally pool.shutdown()
    assert(builds.get == 1)
  }

  test("a version bump evicts the old entry and unpersists its pins") {
    val owner = new Object
    val old = spark.range(10).toDF("id").persist()
    old.count()
    ArtifactCache.get(owner, "frame", "v1")(ArtifactCache.Entry(old, Seq(old)))
    assert(old.storageLevel != StorageLevel.NONE)
    // a hit neither rebuilds nor releases
    assert(ArtifactCache.get[org.apache.spark.sql.DataFrame](owner, "frame", "v1")(
      fail("a hit must not build")) eq old)

    val fresh = spark.range(11).toDF("id").persist()
    fresh.count()
    assert(ArtifactCache.get(owner, "frame", "v2")(ArtifactCache.Entry(fresh, Seq(fresh))) eq fresh)
    assert(old.storageLevel == StorageLevel.NONE, "the replaced entry's pin must be released")
    assert(fresh.storageLevel != StorageLevel.NONE)
    assert(ArtifactCache.versions(owner) == Map("frame" -> "v2"))
    fresh.unpersist()
  }

  test("a dropped owner loses its entries") {
    def cacheUnderTransientOwner(): WeakReference[AnyRef] = {
      val value = new Array[Byte](1 << 16)
      ArtifactCache.get(new Object, "blob", "v1")(ArtifactCache.Entry(value))
      new WeakReference[AnyRef](value)
    }
    val value = cacheUnderTransientOwner()
    var tries = 0
    while (value.get != null && tries < 100) {
      System.gc()
      Thread.sleep(20)
      // any access expunges collected owners
      ArtifactCache.versions(new Object)
      tries += 1
    }
    assert(value.get == null, "the entry must not outlive its owner")
  }

  test("a stopped owner loses its entries") {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx512m") ++ jvmArgs ++
      Seq("-cp", sys.props("java.class.path"), "graft.ext.ArtifactCacheSpec")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor(300, TimeUnit.SECONDS))
    assert(proc.exitValue == 0, out.linesIterator.filter(_.contains("[stopcheck]")).mkString +
      "\n" + out.takeRight(3000))
  }
}
