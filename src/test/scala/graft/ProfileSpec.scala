package graft

/** Smoke test of the graft.Profile dev tool's measurement and parsing. */
class ProfileSpec extends SparkTestBase {

  test("measure: one run reports jobs, task time and the final plan") {
    val r = Profile.withRecorder(spark)(Profile.measure(spark, _, "q16_message_count", sfDir))
    assert(r.jobs >= 1)
    assert(r.taskSec >= 0.0)
    assert(r.buildSec >= 0.0 && r.buildSec <= r.wallSec)
    assert(r.plan.nonEmpty)
    assert("#\\d|plan_id=\\d|Stage \\d|\\*\\(\\d".r.findFirstIn(Profile.normalizePlan(r.plan)).isEmpty)
  }

  test("parseArgs: --conf without '=' is rejected; one and several values parse") {
    intercept[IllegalArgumentException](Profile.parseArgs(Seq("--conf", "spark.sql.x")))
    assert(Profile.parseArgs(Seq("--conf", "k=1MB|256KB")).conf.contains("k" -> Seq("1MB", "256KB")))
    assert(Profile.parseArgs(Seq("--iters", "1", "q16_message_count")).queries ==
      Seq("q16_message_count"))
  }
}
