package graft.pipeline

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Incremental, Scd2}

/** End-to-end orchestrator reproducing the reference DAG (SURVEY.md §3.1;
  * DAG:199-201):
  *
  *   extract/load (RAW) → staging → core → snapshots → star → test
  *
  * The topology is one ordered list, [[Pipeline.models]] — the analog of
  * dbt's `ref()` graph. Run order, the test-stage tables, the manifest
  * lineage and the docs site all come from it.
  *
  * Storage: Parquet per layer directory with atomic overwrite-swap
  * (write tmp → swap), making re-runs idempotent like MERGE. At
  * warehouse scale the same code targets bucketed tables (key-bucketed
  * upserts avoid the existing side's shuffle) or Delta MERGE — the
  * helpers are signature-compatible (SURVEY.md §7.3).
  */
final class Pipeline(spark: SparkSession, workDir: String) {
  import Pipeline._

  private def path(layer: String, table: String): String =
    s"$workDir/$layer/$table"

  def exists(layer: String, table: String): Boolean =
    ParquetIO.exists(path(layer, table))

  def read(layer: String, table: String): DataFrame =
    ParquetIO.read(spark, path(layer, table))

  /** Atomic overwrite via [[ParquetIO.overwriteSwap]]. */
  def overwriteSwap(df: DataFrame, layer: String, table: String): Unit =
    ParquetIO.overwriteSwap(df, path(layer, table))

  /** One full pipeline run over a landing directory of JSON files: every
    * model in list order, then the test stage over every non-RAW model.
    *
    * @param at logical run timestamp (ingested_at for this batch and the
    *           snapshot hard-delete invalidation time) — injectable so
    *           runs are deterministic and replayable.
    * @param fullRefresh rebuild every incremental model from its complete
    *           upstream (dbt --full-refresh). RAW stays append-only and
    *           snapshots keep their history — dbt --full-refresh does not
    *           drop snapshots either.
    * @return test results of the final `dbt test` stage.
    */
  def run(landingDir: String, at: Timestamp,
      fullRefresh: Boolean = false): Seq[Checks.CheckResult] = {
    // a model is complete before any later model reads it, so each
    // upstream is read once per run and shared by all its readers
    val upstream = mutable.Map.empty[String, DataFrame]
    def inputs(m: Model): Seq[DataFrame] = m.deps.map(d =>
      upstream.getOrElseUpdate(d, ParquetIO.read(spark, s"$workDir/${d.replace('.', '/')}")))

    models.foreach { m =>
      val target = path(m.layer, m.name)
      val firstBuild = !ParquetIO.exists(target)
      m.materialization match {
        // RAW is append-only: a later batch is APPENDED next to the
        // existing files (job-committed, so readers never see a partial
        // batch); only the scalar max(id) and the COPY load history read
        // the existing table (S4/S5, DAG:111-136)
        case RawAppend(glob, source) =>
          val existing = if (firstBuild) None else Some(ParquetIO.read(spark, target))
          val startId = existing.fold(1L)(
            _.agg(coalesce(max(col("id")), lit(0L))).first().getLong(0) + 1L)
          val batch = RawIngest.ingest(spark, landingDir, glob, source, lit(at), startId, existing)
          if (firstBuild) ParquetIO.overwriteSwap(batch, target)
          else ParquetIO.appendInPlace(batch, target)
        // dbt incremental: a first (or --full-refresh) run writes the
        // whole upstream; later runs build from what lies past the
        // target's high-water mark and MERGE-upsert on the key (P3, S6;
        // reference: DBT/models/staging/stg_wiki_sp500.sql:5-7)
        case IncrementalUpsert(key, watermark, build) =>
          if (fullRefresh || firstBuild) {
            ParquetIO.overwriteSwap(build(inputs(m), None), target)
          } else {
            val existing = ParquetIO.read(spark, target)
            val hwm = Option(existing.agg(max(col(watermark))).first().getTimestamp(0))
            ParquetIO.overwriteSwap(
              Incremental.upsert(existing, build(inputs(m), hwm), key), target)
          }
        // SCD2 snapshot, timestamp strategy on last_updated (S8/§2.9)
        case Scd2Snapshot(key, build) =>
          val batch = build(inputs(m))
          ParquetIO.overwriteSwap(
            if (firstBuild) Scd2.firstRun(batch, Seq(key), "last_updated")
            else Scd2.snapshot(ParquetIO.read(spark, target), batch, Seq(key),
              "last_updated", lit(at)),
            target)
        case Table(build) =>
          ParquetIO.overwriteSwap(build(inputs(m)), target)
      }
    }

    // ---- test stage, once at the end (DAG:177-180, ordering DAG:201) ----
    val tables = models.collect {
      case m if !m.materialization.isInstanceOf[RawAppend] => m.name -> read(m.layer, m.name)
    }.toMap
    Checks.run(tables, Checks.referenceSuite(tables))
  }
}

object Pipeline {

  /** How a model is written — the reference's per-layer strategies
    * (dbt_project.yml:35-56). Each `build` receives its model's
    * upstreams in `deps` order.
    */
  sealed trait Materialization

  /** RAW append of the landing files matching `glob` (COPY INTO). */
  final case class RawAppend(glob: String, source: String) extends Materialization

  /** Incremental upsert on `key`; `build` gets the target's
    * max(`watermark`) once the target exists (None on a full build).
    */
  final case class IncrementalUpsert(key: Seq[String], watermark: String,
      build: (Seq[DataFrame], Option[Timestamp]) => DataFrame) extends Materialization

  /** SCD2 snapshot keyed by `key`, fed the batch `build` returns. */
  final case class Scd2Snapshot(key: String, build: Seq[DataFrame] => DataFrame)
      extends Materialization

  /** Full-refresh table, rebuilt every run. */
  final case class Table(build: Seq[DataFrame] => DataFrame) extends Materialization

  /** One model: `deps` are `landing` or the `layer.name` of an earlier model. */
  final case class Model(layer: String, name: String, deps: Seq[String],
      materialization: Materialization)

  /** Rows strictly past the high-water mark (dbt's is_incremental branch). */
  private def since(df: DataFrame, column: String, hwm: Option[Timestamp]): DataFrame =
    hwm.foldLeft(df)((d, ts) => d.filter(col(column) > lit(ts)))

  /** The reference DAG in run order (DAG:199-201): RAW, staging, core,
    * snapshots (between core and star), then the star schema — dims
    * full-refresh, the fact incremental.
    */
  val models: Seq[Model] = Seq(
    Model("raw", "wiki_sp500", Seq("landing"), RawAppend("*sp500.json", "wikipedia_sp500")),
    Model("raw", "fortune_500", Seq("landing"), RawAppend("*fortune500*.json", "fortune500")),
    Model("staging", "stg_wiki_sp500", Seq("raw.wiki_sp500"),
      IncrementalUpsert(Seq("cik"), "ingested_at",
        (in, hwm) => Staging.stgWikiSp500(since(in.head, "ingested_at", hwm)))),
    Model("staging", "stg_fortune500", Seq("raw.fortune_500"),
      IncrementalUpsert(Seq("company_name"), "ingested_at",
        (in, hwm) => Staging.stgFortune500(since(in.head, "ingested_at", hwm)))),
    // the HWM goes to the model itself: it filters the wiki side only,
    // the reference's cross-source watermark quirk (SURVEY.md §7.4 #3)
    Model("core", "cr_company_complete",
      Seq("staging.stg_fortune500", "staging.stg_wiki_sp500"),
      IncrementalUpsert(Seq("cik"), "last_updated",
        (in, hwm) => Core.crCompanyComplete(in(0), in(1), hwm))),
    Model("snapshots", "company_location_snapshot", Seq("core.cr_company_complete"),
      Scd2Snapshot("location_key", in => Star.locationSnapshotBatch(in.head))),
    Model("snapshots", "fortune_metrics_snapshot", Seq("core.cr_company_complete"),
      Scd2Snapshot("fortune_metrics_key", in => Star.fortuneMetricsSnapshotBatch(in.head))),
    Model("analytics", "dim_company", Seq("core.cr_company_complete"),
      Table(in => Star.dimCompany(in.head))),
    Model("analytics", "dim_location", Seq("snapshots.company_location_snapshot"),
      Table(in => Star.dimLocation(in.head))),
    Model("analytics", "dim_fortune_metrics", Seq("snapshots.fortune_metrics_snapshot"),
      Table(in => Star.dimFortuneMetrics(in.head))),
    Model("analytics", "fact_company_performance", Seq("core.cr_company_complete"),
      IncrementalUpsert(Seq("company_key"), "last_updated",
        (in, hwm) => Star.factCompanyPerformance(since(in.head, "last_updated", hwm)))))
}
