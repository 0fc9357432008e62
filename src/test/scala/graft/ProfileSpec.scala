package graft

import org.apache.spark.sql.graftbridge.listeners
import org.json4s._
import org.json4s.jackson.JsonMethods

/** [[Profile]] on the sf0.01 fixture: each run's numbers add up, and the
  * call leaves no listener behind.
  */
class ProfileSpec extends SparkSuite {
  private val sf = new java.io.File(sfDir).getParent + "/sf0.01"

  /** Runs `body` and checks that every listener of the session is
    * still there afterwards and none of the engine's own was left
    * behind (Spark registers its own as sessions are cloned), also
    * when `body` throws.
    */
  private def leavesNoListener[T](body: => T): T = {
    val before = listeners.of(spark)
    try body
    finally {
      val after = listeners.of(spark)
      assert(before.forall(l => after.exists(_ eq l)))
      assert(!after.exists(_.getClass.getName.startsWith("graft.")), after)
    }
  }

  private def profile(names: String*): Seq[Profile.Run] =
    leavesNoListener(Profile.run(spark, sf, names))

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

  test("a lifecycle probe reports each step as a named action, and rows 0 for a pass") {
    val steps = Seq("build", "append_batch", "remove_batch", "compact")
    profile("index_lifecycle").foreach { r =>
      assert(r.rows == 0, r.json)
      assert(r.actions.map(_._1).filter(steps.contains) == steps, r.json)
      assert(r.actions.forall(_._2 >= 0), r.json)
    }
  }

  test("a failing check inside a probe propagates out of Profile.run") {
    val broken: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => {
        Profile.step("checked")(require(false, "append+remove must round-trip"))
        s.emptyDataFrame
      }
    val e = intercept[IllegalArgumentException] {
      leavesNoListener(Profile.runQueries(spark, sf, Seq("broken" -> broken)))
    }
    assert(e.getMessage.contains("append+remove must round-trip"))
  }
}
