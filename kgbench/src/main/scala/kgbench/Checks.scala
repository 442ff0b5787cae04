package kgbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg.{KgConfig, Oracle, PageRow, SyntheticCorpus}

/** Seeded inputs and the output checks against the repository's
  * independent oracle ([[graft.kg.Oracle]]: single-threaded, naive
  * algorithms, no code shared with the pipeline). */
object Checks {

  val EdgeCols: Seq[String] = Seq("url", "subject", "predicate", "object", "inferred")

  /** Pages [from, until) of the seeded corpus, generated on the executors
    * as the repository's own benchmark does. */
  def pages(spark: SparkSession, seed: Long, from: Long, until: Long): Dataset[PageRow] = {
    import spark.implicits._
    val factory = new SyntheticCorpus.PageFactory(seed, 120)
    spark.range(from, until)
      .repartition(spark.sparkContext.defaultParallelism * 2)
      .mapPartitions(it => it.map(i => factory.page(i.toInt)))
  }

  /** Order-free fingerprint of a multiset of edge rows: the row count and
    * two independent hash sums, so a changed, dropped or duplicated row
    * changes it. */
  final case class Print(rows: Long, h1: BigDecimal, h2: BigDecimal)

  def fingerprint(edges: DataFrame): Print = {
    val cols = EdgeCols.map(col)
    val r = edges.select(cols: _*)
      .agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")),
        sum(hash(cols: _*).cast("decimal(38,0)")))
      .head()
    def dec(i: Int) = Option(r.getDecimal(i)).map(BigDecimal(_)).getOrElse(BigDecimal(0))
    Print(r.getLong(0), dec(1), dec(2))
  }

  /** Edge rows the oracle derives from pages [from, until) of the seed,
    * with the dictionaries of `SyntheticCorpus.generate(0, seed)`. */
  def oracleEdges(spark: SparkSession, seed: Long, from: Long, until: Long,
      cfg: KgConfig): DataFrame = {
    import spark.implicits._
    val c = SyntheticCorpus.generate(0, seed)
    val dict = spark.sparkContext.broadcast((c.aliases, c.patterns, c.wdEntities))
    val factory = new SyntheticCorpus.PageFactory(seed, 120)
    spark.range(from, until)
      .repartition(spark.sparkContext.defaultParallelism * 2)
      .as[Long]
      .flatMap { i =>
        val p = factory.page(i.toInt)
        val (aliases, patterns, wd) = dict.value
        Oracle.processDoc(p, aliases, patterns, wd, cfg)._2
          .map(t => (p.url, t.subject, t.predicate, t.obj, t.inferred))
      }
      .toDF(EdgeCols: _*)
  }

  /** True when `got` equals `want` as a multiset of edge rows. On a
    * mismatch, prints a few differing rows to stderr. */
  def sameEdges(label: String, got: DataFrame, want: Print,
      wantRows: => DataFrame): Boolean = {
    val g = fingerprint(got)
    val ok = g == want
    if (!ok) {
      val gs = got.select(EdgeCols.map(col): _*)
      val extra = gs.exceptAll(wantRows)
      val missing = wantRows.exceptAll(gs)
      System.err.println(s"[kgbench] CHECK FAILED $label: got $g want $want; " +
        s"${extra.count()} unexpected rows, ${missing.count()} missing rows")
      extra.show(3, truncate = false)
      missing.show(3, truncate = false)
    }
    ok
  }

  /** Stream output: no page's edges may appear under two batch ids (a
    * replayed micro-batch written twice). */
  def noReplayedBatch(edges: DataFrame): Boolean = {
    val dup = edges.groupBy("url").agg(countDistinct("batch_id").as("n"))
      .filter(col("n") > 1).count()
    if (dup > 0) System.err.println(s"[kgbench] CHECK FAILED stream: $dup pages in more than one batch")
    dup == 0
  }

  /** Files under a table root: relative path → (size, mtime). A resumed
    * run that skips every stage leaves it, and the manifest, unchanged. */
  def snapshot(root: String): Map[String, (Long, Long)] = {
    val base = Paths.get(root)
    val s = Files.walk(base)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator).asScala
      .filter(Files.isRegularFile(_))
      .map(p => base.relativize(p).toString ->
        ((Files.size(p), Files.getLastModifiedTime(p).toMillis)))
      .toMap
    finally s.close()
  }

  /** True when a resumed run left the tables and their manifest as the
    * first run wrote them. */
  def resumeUnchanged(label: String, first: Map[String, (Long, Long)],
      resumed: Map[String, (Long, Long)]): Boolean = {
    val changed = (first.keySet ++ resumed.keySet).filter(f => first.get(f) != resumed.get(f))
    if (changed.nonEmpty) System.err.println(
      s"[kgbench] CHECK FAILED $label: the resumed run changed ${changed.toSeq.sorted.take(5).mkString(", ")}")
    changed.isEmpty
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator).asScala
      .toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }
}
