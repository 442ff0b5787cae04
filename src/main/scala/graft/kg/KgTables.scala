package graft.kg

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed table layer with an explicit snapshot/manifest protocol —
  * the sandbox stand-in for Iceberg (SURVEY §7.5: no iceberg runtime jar in
  * /opt/spark/jars; call-sites are `write(df, name)` / `read(name)` so
  * swapping in `writeTo(...).append()` against an Iceberg catalog is a
  * config change, not a rewrite).
  *
  * Resume protocol (SURVEY §7.4, mirroring the reference's
  * `is_processed_by` cache-skip, context.py:232-245): each stage write
  * appends a manifest line (run_id, stage, fingerprint, rows); a re-run
  * with the same run_id + fingerprint skips the stage and reads the
  * existing parquet — giving byte-identical output after a mid-run kill.
  */
final class KgTables(spark: SparkSession, root: String) {

  private val manifestPath = Paths.get(root, "_snapshots.jsonl")
  Files.createDirectories(Paths.get(root))

  private def manifestLines: Seq[String] =
    if (Files.exists(manifestPath))
      scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(manifestPath)).asScala.toSeq
    else Seq.empty

  def isDone(runId: String, stage: String, fingerprint: String): Boolean =
    manifestLines.exists(_.contains(s""""run_id":"$runId","stage":"$stage","fingerprint":"$fingerprint""""))

  def path(name: String): String = s"$root/$name"

  def read(name: String): DataFrame = spark.read.parquet(path(name))

  /** Write a stage output + manifest row. Returns the re-read DataFrame so
    * downstream stages scan pruned parquet instead of recomputing lineage.
    * The manifest row count comes from `df.observe()` captured DURING the
    * write — a post-write re-read + count() would be a full extra scan of
    * every stage output per run. `df` is by name: a stage already in the
    * manifest never builds its plan, nor runs any eager job inside it. */
  def write(df: => DataFrame, name: String, runId: String, stage: String,
      fingerprint: String, partitionBy: Seq[String] = Nil): DataFrame = {
    if (isDone(runId, stage, fingerprint)) return read(name)
    val obs = org.apache.spark.sql.Observation(s"rows_${name}_${System.nanoTime()}")
    val w = df.observe(obs, count(lit(1)).as("rows")).write.mode("overwrite")
    val withParts = if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w
    withParts.parquet(path(name))
    val rows = obs.get("rows").asInstanceOf[Long]
    val line = s"""{"run_id":"$runId","stage":"$stage","fingerprint":"$fingerprint","table":"$name","rows":$rows}""" + "\n"
    Files.write(manifestPath, line.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    read(name)
  }

  /** S8 training-data JSONL sink (services/openai_service.py:356-435):
    * one OpenAI-chat-format example per document — system prompt, user
    * prompt embedding the document text, assistant content as the
    * reference's semicolon-separated entity lines
    * (name_de; name_en; type; wikipedia_url_de; wikipedia_url_en; citation).
    * `spark.write.json` emits JSONL natively; entity lines are sorted for
    * deterministic output. */
  def writeTrainingJsonl(nodes: DataFrame, texts: DataFrame, name: String,
      lang: String = "de"): Unit = {
    val sysPrompt =
      if (lang == "en")
        "You are a helpful AI system for recognizing and linking entities. Your task is to identify the most important entities from a given text and link them to their Wikipedia pages."
      else
        "Du bist ein hilfreiches KI-System zur Erkennung und Verknüpfung von Entitäten. Deine Aufgabe ist es, die wichtigsten Entitäten aus einem gegebenen Text zu identifizieren und mit ihren Wikipedia-Seiten zu verknüpfen."
    val lines = nodes.select(col("url"),
      concat_ws("; ",
        coalesce(col("entity"), lit("")),
        coalesce(element_at(col("sources.wikidata.labels"), "en"), lit("")),
        coalesce(col("details.typ"), lit("")),
        coalesce(col("sources.wikipedia.url"), lit("")),
        coalesce(col("sources.wikipedia.url_alt"), lit("")),
        coalesce(col("details.citation"), lit(""))).as("line"))
      .groupBy("url")
      .agg(array_join(array_sort(collect_list(col("line"))), "\n").as("assistant"))
    lines
      .join(texts.select(col("p_url"), col("p_extract")),
        col("url") === col("p_url"), "left")
      .select(array(
        struct(lit("system").as("role"), lit(sysPrompt).as("content")),
        struct(lit("user").as("role"),
          concat(lit("Identify the main entities in the following text as semicolon-separated lines: name_de; name_en; type; wikipedia_url_de; wikipedia_url_en; citation. Text: "),
            coalesce(col("p_extract"), lit(""))).as("content")),
        struct(lit("assistant").as("role"), col("assistant").as("content"))).as("messages"))
      .write.mode("overwrite").json(path(name))
  }

  /** Per-partition lineage rows (north_rule): partition id → row count for a
    * written table, recorded into the metrics table. */
  def partitionLineage(df: DataFrame, runId: String, stage: String): DataFrame = {
    import spark.implicits._
    df.select(spark_partition_id().as("pid"))
      .groupBy("pid").agg(count(lit(1)).as("rows"))
      .select(lit(runId).as("run_id"), lit(stage).as("stage"),
        lit("partition_rows").as("metric"), col("pid").cast("string").as("key"),
        col("rows").cast("double").as("value"))
  }
}
