package graft

import org.apache.spark.sql.graftbridge.listeners
import org.json4s._
import org.json4s.jackson.JsonMethods

/** [[Profile]] on the sf0.01 fixture: each run's numbers add up, and the
  * call leaves no listener behind.
  */
class ProfileSpec extends SparkSuite {
  private val sf = new java.io.File(sfDir).getParent + "/sf0.01"

  /** Runs `names` and checks that every listener of the session is
    * still there afterwards and none of the engine's own was left
    * behind (Spark registers its own as sessions are cloned).
    */
  private def profile(names: String*): Seq[Profile.Run] = {
    val before = listeners.of(spark)
    val runs = Profile.run(spark, sf, names)
    val after = listeners.of(spark)
    assert(before.forall(l => after.exists(_ eq l)))
    assert(!after.exists(_.getClass.getName.startsWith("graft.")), after)
    runs
  }

  test("a batch query: rows of forceAndCount, tasks, phases that add up to the wall time") {
    val runs = profile("a1_genre_kpis")
    assert(runs.map(_.run) == Seq(1, 2, 3))
    val rows = GraftSession.forceAndCount(SparkEntry.queries("a1_genre_kpis")(spark, sf))
    assert(rows > 0)
    runs.foreach { r =>
      assert(r.rows == rows && r.tasks > 0 && r.jobS.nonEmpty && r.stages > 0, r.json)
      val phases = r.constructS + r.analyzeS + r.optimizeS + r.executeS
      assert(math.abs(phases - r.wallS) <= 0.1 * r.wallS, r.json)
      val JObject(fields) = JsonMethods.parse(r.json)
      assert(fields.map(_._1) == Seq("name", "run", "rows", "wall_s", "construct_s",
        "analyze_s", "optimize_s", "execute_s", "jobs", "stages", "tasks", "job_s",
        "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "actions", "triggers"))
    }
  }

  test("a stream query reports its triggers") {
    val runs = profile("stream_daily_counts")
    runs.foreach { r =>
      assert(r.triggers.exists(t => t.durationMs.contains("triggerExecution")), r.json)
      assert(r.triggers.map(_.numInputRows).sum > 0, r.json)
    }
  }
}
