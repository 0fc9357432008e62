package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Fixture reads learn a table's schema once: a warm read of an
  * unchanged table runs no Spark job, while a landed file or a changed
  * Parquet read setting infers again.
  */
class TablesSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "target/tablesspec"

  private def events(id: Long) =
    Seq((id, java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), 1L, "play", 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("a warm read of an unchanged table runs no job; a landed file infers once") {
    deleteRecursively(dir)
    events(1L).write.parquet(s"$dir/events.parquet")
    Tables.events(spark, dir)
    val (_, warm) = jobsDuring(Tables.events(spark, dir))
    assert(warm == 0, s"a second read of an unchanged directory ran $warm jobs")

    events(2L).write.mode("append").parquet(s"$dir/events.parquet")
    val (landed, afterLand) = jobsDuring(Tables.events(spark, dir))
    assert(afterLand == 1, s"the read after a file landed ran $afterLand jobs")
    assert(landed.select("event_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("a changed Parquet read setting infers the schema again") {
    deleteRecursively(dir)
    Files.createDirectories(Paths.get(dir))
    Files.copy(Paths.get(sfDir, "events.parquet"), Paths.get(dir, "events.parquet"))
    // the fixture's ts is not adjusted to UTC: Spark infers it as
    // TIMESTAMP_NTZ unless inferTimestampNTZ is switched off
    assert(Tables.table(spark, dir, "events").schema("ts").dataType == TimestampNTZType)
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    spark.conf.set(key, "false")
    val (ltz, jobs) =
      try jobsDuring(Tables.table(spark, dir, "events"))
      finally spark.conf.unset(key)
    assert(jobs == 1, s"the read after the setting changed ran $jobs jobs")
    assert(ltz.schema("ts").dataType == TimestampType)
    assert(Tables.table(spark, dir, "events").schema("ts").dataType == TimestampNTZType)
  }
}
