package graft

import org.apache.spark.sql.functions._

/** Scale evidence for the incremental serving store
  * ([[graft.serve.KeyValue.ensureStoreDaily]]): build the
  * day-partitioned store over a fixture copy, then plant ONE extra
  * event in ONE day and re-ensure — the refresh must cost a
  * fingerprint scan of the rewritten event files plus one day's
  * recomputation, not a rebuild of history. Prints one JSON line with
  * build / no-op / one-day-refresh seconds.
  *
  * Usage: `runMain graft.ServeScale [srcSfDir] [workDir]`
  */
object ServeScale {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val work = if (args.length > 1) args(1) else "target/servescale/fx"
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))

    // fixture copy: events rewritten (it will be mutated), the rest linked
    // (Fs.deleteTree removes links as links — never through to the source)
    Fs.deleteTree(work)
    new java.io.File(work).mkdirs()
    Tables.table(spark, src, "events")
      .repartition(4).write.parquet(s"$work/events.parquet")
    Seq("customer", "lineitem").foreach { t =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$work/$t.parquet"),
        java.nio.file.Paths.get(s"$src/$t.parquet").toAbsolutePath)
    }
    val root = s"target/artifacts/${new java.io.File(work).getName}/serving_daily"
    Fs.deleteTree(root)

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val nDays = graft.serve.KeyValue.dayFingerprints(spark, work,
      graft.serve.KeyValue.dataFiles(spark, work)).map(_.d).distinct.size
    val buildSec = timed(graft.serve.KeyValue.ensureStoreDaily(spark, work))
    val noopSec = timed(graft.serve.KeyValue.ensureStoreDaily(spark, work))

    // plant one extra event in the earliest day: exactly one day changes
    val ev = spark.read.parquet(s"$work/events.parquet").localCheckpoint()
    val one = ev.orderBy(col("ts")).limit(1)
      .withColumn("value", col("value") + 1.0)
    ev.unionByName(one).repartition(4)
      .write.mode("overwrite").parquet(s"$work/events.parquet.new")
    Fs.deleteTree(s"$work/events.parquet")
    new java.io.File(s"$work/events.parquet.new").renameTo(new java.io.File(s"$work/events.parquet"))
    val refreshSec = timed(graft.serve.KeyValue.ensureStoreDaily(spark, work))

    println(s"""{"metric":"serving_refresh_sec","value":$refreshSec,"unit":"sec","n_days":$nDays,"build_sec":$buildSec,"noop_check_sec":$noopSec,"src":"$src"}""")
    spark.stop()
  }
}
