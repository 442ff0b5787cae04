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

  test("plan prints each cached relation as a leaf, ids numbered 1..n") {
    val text = Profile.plan(spark, Seq("link_flat_salted"))
    val tree = text.linesIterator.dropWhile(_ != "== Physical Plan ==")
      .takeWhile(_.nonEmpty).toSeq
    assert(tree.count(_.contains(" InMemoryTableScan (")) == 1, tree.mkString("\n"))
    // the cached key table's plan was executed when it was counted
    assert(!text.contains("InMemoryRelation") && !text.contains("== Final Plan =="),
      "a cached plan is still printed")
    val ids = tree.flatMap(l => " \\((\\d+)\\)".r.findFirstMatchIn(l))
      .map(_.group(1).toInt)
    val entries = text.linesIterator.flatMap(l =>
      "^\\((\\d+)\\) ".r.findPrefixMatchOf(l)).map(_.group(1).toInt).toSeq
    assert(ids.sorted == (1 to ids.size) && entries == (1 to ids.size),
      s"tree ids $ids, detail entries $entries")
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
