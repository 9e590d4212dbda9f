package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** RAW-layer ingest: landing JSON files → RAW table rows, reproducing the
  * reference's stage-scan + COPY INTO (SURVEY.md §2.1 S4/S5; reference
  * DAG:111-136): one row per file, regex file pruning, computed columns
  * `(source, CURRENT_TIMESTAMP(), $1)`, and an identity `id` column the
  * COPY doesn't supply.
  *
  * Scale: `wholetext` reads one file per task — at 100 TB landing volume
  * files are the parallelism unit, exactly like Snowflake's stage scan.
  * The identity id is batch-local row_number + the target's current max
  * (matching Snowflake identity semantics: unique, monotone per load, not
  * gap-free across loads); the window is over the tiny per-batch file
  * list, never over data rows.
  */
object RawIngest {

  /** Read landing files matching `glob` into RAW rows.
    *
    * @param at   ingestion timestamp (CURRENT_TIMESTAMP() at COPY time,
    *             DAG:116 — injectable for deterministic replays/tests)
    * @param startId first id to assign (pass existing max+1)
    * @param alreadyLoaded COPY INTO load-history parity: a frame whose
    *             `source_file` column holds previously ingested file paths;
    *             those files are skipped, so re-running a DAG over an
    *             unchanged landing area is a no-op exactly like
    *             Snowflake's COPY (which consults its load history and
    *             loads each file once). Anti-join, not a collected set —
    *             the history can be millions of files at scale.
    */
  def ingest(
      spark: SparkSession,
      landingDir: String,
      glob: String,
      source: String,
      at: Column,
      startId: Long,
      alreadyLoaded: Option[DataFrame]): DataFrame = {
    val files = spark.read
      .option("wholetext", "true")
      .option("pathGlobFilter", glob)
      .text(landingDir)
      .select(input_file_name().as("source_file"), col("value"))
    val fresh = alreadyLoaded.foldLeft(files)((df, loaded) =>
      df.join(loaded.select(col("source_file")).distinct(),
        Seq("source_file"), "left_anti"))
    val w = Window.orderBy(col("source_file"))
    fresh.select(
      (row_number().over(w) + lit(startId - 1)).as("id"),
      lit(source).as("source"),
      at.cast("timestamp").as("ingested_at"),
      col("source_file"),
      col("value").as("payload"))
  }
}
