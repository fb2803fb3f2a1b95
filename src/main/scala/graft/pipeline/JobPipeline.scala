package graft.pipeline

import graft.functions.{HtmlToText, Normalize}
import graft.model.Schemas
import graft.operators.{Filters, Merges}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's pipeline wiring (SURVEY.md §3) as one lazy plan per
  * stage, parameterized by config — the Spark shape of
  * run_etl.py + run_job_filter.py + run_job_pipelines.py.
  *
  * Stages communicate through stored tables exactly like the reference
  * (worksheet ↔ parquet directory); each stage is itself a single
  * Catalyst plan, so the reference's step-by-step full-copy pandas
  * execution (df.copy() per filter) collapses into one fused
  * scan → filter → project → merge → write.
  */
object JobPipeline {

  /** Filter-stage config (reference: config/config.yaml:82-183). */
  final case class FilterConfig(
      daysBack: Int = 30,
      requiredCols: Seq[String] = Seq("entry_title", "summary"),
      keywordExclusions: Map[String, Seq[String]] = Map.empty,
      caseSensitive: Boolean = false,
      loadingMode: String = "append" // append | overwrite
  )

  /** Merge-strategy config (reference: run_etl.py:218-229). */
  sealed trait Strategy
  case object Scd1 extends Strategy
  case object Scd2 extends Strategy
  case object MergeUpsert extends Strategy

  /** Ingest normalization (reference: core/etl.py:108-169): raw feed
    * entries → canonical 9-col schema with cleaned summary, parsed
    * published (missing → batch time), blank notes.
    */
  def normalizeEntries(raw: DataFrame, batchTs: java.sql.Timestamp,
      displayTz: String = "UTC"): DataFrame = {
    val withCols = raw
      .withColumn("summary",
        HtmlToText.htmlToText(Normalize.nullToEmpty(col("summary"))))
      // C11: the published string is emitted in the configured display
      // timezone, matching the reference's parse → tz_convert → format
      // on every ingest (src/rss_feed_etl/core/etl.py:127-133, default
      // US/Central). Default UTC keeps the oracle-pinned outputs.
      .withColumn("published",
        Normalize.tsFormat(Normalize.toDisplayTz(Normalize.tsOrBatch(
          Normalize.tsParse(col("published").cast("string")), batchTs), displayTz)))
      .withColumn("notes",
        if (raw.columns.contains("notes")) Normalize.nullToEmpty(col("notes"))
        else lit(""))
    Normalize.canonicalSelect(withCols, Schemas.FeedEntryCols)
  }

  /** ETL stage (reference: core/etl.py:228-287): new batch → dedup
    * keep-latest within batch → strategy merge into the stage table.
    */
  def etlStage(history: DataFrame, batch: DataFrame, strategy: Strategy,
      batchTs: java.sql.Timestamp, key: String = Schemas.PrimaryKey,
      compareCols: Seq[String] = Schemas.CompareCols): DataFrame = {
    val deduped = Merges.dedupKeepLatest(batch, key,
      Seq(Normalize.tsParse(col("published"))))
    val (valid, invalid, _) = Filters.validatePk(deduped, key)
    require(invalid == 0, s"$invalid rows with null/blank primary key '$key'")
    strategy match {
      case Scd1        => Merges.scd1(history, valid, key, compareCols)
      case Scd2        => Merges.scd2(history, valid, key, compareCols, batchTs)
      case MergeUpsert => Merges.mergeUpsert(history, valid, key, compareCols)
    }
  }

  /** Filter stage (reference: run_job_filter.py:257-410): one fused
    * predicate + audit column; Catalyst combines the three filters and
    * prunes columns into the scan. The reference logs removed-row
    * counts per step (run_job_filter.py:145-146,199-201,229-236) —
    * that observable surface is provided as `observe` metrics
    * (`filter_stage`: rows_in / rows_date_ok / rows_content_ok /
    * rows_out) computed in the SAME pass, not as extra count() jobs.
    */
  def filterStage(staged: DataFrame, cfg: FilterConfig,
      asOf: java.sql.Timestamp): DataFrame = {
    val dateOk = Filters.dateRange(Normalize.tsParse(col("published")),
      cfg.daysBack, asOf)
    val contentOk = Filters.nonEmptyContent(cfg.requiredCols)
    val keywordOk = Filters.keywordExclusion(cfg.keywordExclusions,
      cfg.caseSensitive)
    staged
      .observe("filter_stage",
        count(lit(1)).as("rows_in"),
        sum(when(dateOk, 1L).otherwise(0L)).as("rows_date_ok"),
        sum(when(dateOk && contentOk, 1L).otherwise(0L)).as("rows_content_ok"),
        sum(when(dateOk && contentOk && keywordOk, 1L).otherwise(0L))
          .as("rows_out"))
      .filter(dateOk && contentOk && keywordOk)
      .withColumn("AS_OF_DT", Normalize.tsFormat(lit(asOf)))
  }

  /** Result-table load (reference: run_job_filter.py:350-382). */
  def loadResult(existing: DataFrame, filtered: DataFrame, cfg: FilterConfig,
      key: String = Schemas.PrimaryKey): DataFrame =
    cfg.loadingMode match {
      case "append" => Merges.appendDedupNewWins(existing, filtered, key)
      case _        => filtered
    }

  /** One regional pipeline end-to-end over parquet tables (the Spark
    * analogue of run_job_pipelines.py:64-109). Returns the filtered
    * result; writes both stage + result tables.
    */
  def runRegion(spark: SparkSession, rawBatch: DataFrame, stagePath: String,
      resultPath: String, strategy: Strategy, cfg: FilterConfig,
      batchTs: java.sql.Timestamp, displayTz: String = "UTC"): DataFrame = {
    val history = readOrEmpty(spark, stagePath,
      if (strategy == Scd2) Schemas.Scd2Schema else Schemas.FeedEntrySchema)
    val normalized = normalizeEntries(rawBatch, batchTs, displayTz)
    val merged = etlStage(history, normalized, strategy, batchTs)
    // the merge reads the stage table it replaces. Overwriting in place
    // deletes those files before the write job runs, which only works
    // while every history scan sits behind an exchange AQE has already
    // materialized; SCD2's pass-through of expired rows does not. So the
    // new version is written beside the old one and swapped in.
    val stage = new Path(stagePath)
    val next = new Path(stagePath + "_merging")
    merged.write.mode(SaveMode.Overwrite).parquet(next.toString)
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(stage, true)
    require(fs.rename(next, stage), s"could not move $next to $stage")

    val staged = spark.read.parquet(stagePath)
    val filtered = filterStage(staged, cfg, batchTs)
    val existing = readOrEmpty(spark, resultPath,
      org.apache.spark.sql.types.StructType(
        Schemas.FeedEntrySchema.fields :+
          org.apache.spark.sql.types.StructField("AS_OF_DT",
            org.apache.spark.sql.types.StringType)))
    val result = loadResult(existing, filtered, cfg)
    result.write.mode(SaveMode.Overwrite).parquet(resultPath + "_next")
    spark.read.parquet(resultPath + "_next")
  }

  /** One region's configuration for the multi-region orchestrator. */
  final case class RegionConfig(
      name: String,
      rawBatch: DataFrame,
      stagePath: String,
      resultPath: String,
      strategy: Strategy,
      filter: FilterConfig,
      displayTz: String = "UTC")

  /** Per-region outcome for the run summary (A2 at orchestrator level). */
  final case class RegionResult(
      name: String, success: Boolean, rows: Long, error: Option[String])

  /** Orchestrator parity with run_job_pipelines.py:169-244: run every
    * configured region (the reference's texas/us/both dispatch), keep
    * going when one fails (the reference loops all requested jobs and
    * aggregates statuses), and fold per-region success + result rows
    * into one summary. Returns (per-region results, all-succeeded) —
    * the boolean is the reference's exit code.
    */
  def runRegions(spark: SparkSession, regions: Seq[RegionConfig],
      batchTs: java.sql.Timestamp): (Seq[RegionResult], Boolean) = {
    val results = regions.map { r =>
      try {
        val out = runRegion(spark, r.rawBatch, r.stagePath, r.resultPath,
          r.strategy, r.filter, batchTs, r.displayTz)
        RegionResult(r.name, success = true, out.count(), None)
      } catch {
        case scala.util.control.NonFatal(e) =>
          RegionResult(r.name, success = false, 0L, Option(e.getMessage))
      }
    }
    (results, results.nonEmpty && results.forall(_.success))
  }

  private def readOrEmpty(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(path))) spark.read.parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }
}
