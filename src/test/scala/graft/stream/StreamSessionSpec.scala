package graft.stream

import graft.SparkSuite

/** The tuned streaming session ([[StreamQueries.streamSession]]) is a
  * clone of its parent: runtime SQL confs carry over, only the shuffle
  * partition count is clamped, and one clone serves each (parent, p).
  */
class StreamSessionSpec extends SparkSuite {

  test("a tuned session keeps the parent's runtime confs and is reused per (parent, p)") {
    val parent = spark.newSession()
    parent.conf.set("spark.sql.caseSensitive", "true")
    val tiny = s"$sfDir/region.parquet"
    assert(parent.conf.get("spark.sql.shuffle.partitions").toInt > 1,
      "the clamp only tunes when the configured count exceeds 1")

    val tuned = StreamQueries.streamSession(parent, tiny)
    assert(tuned ne parent)
    assert(tuned.conf.get("spark.sql.caseSensitive") == "true",
      "a runtime conf of the parent must reach the tuned session")
    assert(tuned.conf.get("spark.sql.shuffle.partitions") == "1")
    assert(StreamQueries.streamSession(parent, tiny) eq tuned)
  }
}
