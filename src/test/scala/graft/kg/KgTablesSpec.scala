package graft.kg

import graft.SparkSpec
import java.nio.file.Files

/** KgTables stage-skip contract: a stage already in the manifest returns
  * its table without evaluating the stage body — so a resumed run builds
  * no plan and runs no eager job for it. */
class KgTablesSpec extends SparkSpec {
  import spark.implicits._

  test("a stage the manifest marks done never evaluates its body") {
    val tables = new KgTables(spark, Files.createTempDirectory("kg_tables").toString)
    tables.write(Seq(1, 2, 3).toDF("x"), "t", "r1", "stage", "fp")
    var evaluated = false
    val again = tables.write({ evaluated = true; Seq(9).toDF("x") },
      "t", "r1", "stage", "fp")
    assert(!evaluated, "a done stage must not build its DataFrame")
    assert(again.as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    // a new fingerprint is not done: the body runs and replaces the table
    val redone = tables.write({ evaluated = true; Seq(9).toDF("x") },
      "t", "r1", "stage", "fp2")
    assert(evaluated)
    assert(redone.as[Int].collect().toSeq == Seq(9))
  }
}
