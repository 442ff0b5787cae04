package graft.kg

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Salting invariance (SURVEY §5.4): the skew-salted dictionary join must
  * produce exactly the plain-join result for any salt factor. */
class SaltedJoinSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin == plain join for any nSalt (incl. heavy key skew)") {
    // skewed probe: one hot key ("USA") dominating, mimicking head entities
    val probe = (Seq.fill(500)("USA") ++ Seq("Alda", "Berg", "None", "USA"))
      .zipWithIndex.map { case (k, i) => (s"row$i", k) }
      .toDF("row_id", "k")
    val dict = Seq(("USA", "Q30"), ("Alda", "Q1"), ("Berg", "Q2"), ("Unused", "Q3"))
      .toDF("dk", "qid")

    val plain = probe.join(dict, col("k") === col("dk"), "left")
      .select("row_id", "k", "qid")
      .as[(String, String, String)].collect().toSet

    Seq(1, 2, 8, 32).foreach { n =>
      val salted = Linking.saltedJoin(probe, dict, col("k") === col("dk"), n,
        col("row_id"))
        .select("row_id", "k", "qid")
        .as[(String, String, String)].collect().toSet
      assert(salted == plain, s"nSalt=$n")
    }
  }

  test("saltedJoin inner variant preserves semantics") {
    val probe = (1 to 100).map(i => (i.toLong, s"k${i % 5}")).toDF("id", "k")
    val dict = (0 to 3).map(i => (s"k$i", i)).toDF("dk", "v")
    val plain = probe.join(dict, col("k") === col("dk"), "inner")
      .select("id", "v").as[(Long, Int)].collect().toSet
    val salted = Linking.saltedJoin(probe, dict, col("k") === col("dk"), 4,
      col("id"), "inner")
      .select("id", "v").as[(Long, Int)].collect().toSet
    assert(salted == plain)
  }
}
