package graft

/** The profiling entry's modes, called as plain functions on the shared
  * test session. */
class ProfileSpec extends SparkSpec {

  private val targets = Seq("link_flat_broadcast", "q01_agg")

  test("plan prints a formatted plan per target") {
    val text = Profile.plan(spark, targets)
    targets.foreach(t => assert(text.contains(s"= $t =")))
    assert(text.contains("== Physical Plan =="))
    assert(text.contains("BroadcastHashJoin"))
  }

  test("executed prints each final plan and its codegen summary") {
    val text = Profile.executed(spark, targets)
    targets.foreach(t => assert(text.contains(s"[codegen] $t: wholeStage=")))
    assert(text.contains("isFinalPlan=true"))
  }

  test("executed falls back to the DataFrame's plan when no listener event arrives") {
    val err = new java.io.ByteArrayOutputStream()
    val text = Console.withErr(err)(Profile.executed(spark, Seq("q01_agg"), waitMs = 0))
    assert(err.toString.contains("q01_agg: no listener event"))
    assert(text.contains("[codegen] q01_agg: wholeStage="))
    assert(text.contains("AdaptiveSparkPlan"))
  }

  test("time returns one time per target and rep") {
    val times = Profile.time(spark, 1, targets)
    assert(times.map(_._1) == targets)
    assert(times.forall { case (_, ts) => ts.size == 1 && ts.head > 0 })
  }

  test("extract times the extract pass without a session") {
    val report = Profile.extract(200)
    assert(report.contains("over 200 pages"))
    assert(report.contains("4d normName"))
  }

  test("an unknown target fails with the valid targets") {
    val e = intercept[IllegalArgumentException](
      Profile.plan(spark, Seq("q01_agg", "no_such_query")))
    assert(e.getMessage.contains("unknown target(s) no_such_query"))
    Seq("link_flat_broadcast", "link_flat_salted", "q01_agg")
      .foreach(t => assert(e.getMessage.contains(t)))
  }
}
