package graft.pipeline

import java.sql.Timestamp

/** CLI entry for the firmographic pipeline — the analog of one Airflow
  * DAG run (SURVEY.md §3.1): ingest a landing dir, run every layer, print
  * the test-stage results and a small run manifest (S9 parity: model
  * list + row counts + test results).
  *
  * Usage: runMain graft.pipeline.RunPipeline [--full-refresh] <landingDir> <workDir> [asOf]
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val fullRefresh = args.contains("--full-refresh")
    val pos = args.filterNot(_ == "--full-refresh")
    val landingDir = pos(0)
    val workDir = pos(1)
    // remaining args joined: lets "2025-06-01 00:00:00" arrive unquoted
    val asOf = if (pos.length > 2) Timestamp.valueOf(pos.drop(2).mkString(" "))
      else new Timestamp(System.currentTimeMillis())
    val spark = graft.Sessions.get()

    val pipe = new Pipeline(spark, workDir)
    val results = pipe.run(landingDir, asOf, fullRefresh)

    // models in run order with their upstream lineage, mirroring the
    // reference DAG's edges (DAG:199-201; dbt graph in
    // dbt_project.yml:35-56); each table is counted once for stdout,
    // the manifest and the docs
    val dag = Seq(
      ("raw", "wiki_sp500", Seq("landing")),
      ("raw", "fortune_500", Seq("landing")),
      ("staging", "stg_wiki_sp500", Seq("raw.wiki_sp500")),
      ("staging", "stg_fortune500", Seq("raw.fortune_500")),
      ("core", "cr_company_complete",
        Seq("staging.stg_fortune500", "staging.stg_wiki_sp500")),
      ("snapshots", "company_location_snapshot", Seq("core.cr_company_complete")),
      ("snapshots", "fortune_metrics_snapshot", Seq("core.cr_company_complete")),
      ("analytics", "dim_company", Seq("core.cr_company_complete")),
      ("analytics", "dim_location", Seq("snapshots.company_location_snapshot")),
      ("analytics", "dim_fortune_metrics", Seq("snapshots.fortune_metrics_snapshot")),
      ("analytics", "fact_company_performance", Seq("core.cr_company_complete")))
    println(s"=== graft firmographics run @ $asOf ===")
    val models = dag.map { case (layer, t, deps) =>
      val m = Docs.Model(layer, t, pipe.read(layer, t).count(), deps)
      println(f"$layer%-10s $t%-30s ${m.rows}%6d rows")
      m
    }
    val failed = results.filterNot(_.passed)
    println(s"tests: ${results.size - failed.size}/${results.size} passed")
    failed.foreach(r => println(s"  FAIL ${r.table}.${r.name}: ${r.violations} violations"))

    // S9 parity: per-run manifest artifact (model list + row counts +
    // test results, keyed by invocation id — the spirit of the
    // reference's manifest/run_results S3 upload, DAG:66-107)
    val invocationId = java.util.UUID.randomUUID().toString
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val modelsJson = models.map { m =>
      val deps = m.dependsOn.map(q).mkString("[", ",", "]")
      s"""{"layer": ${q(m.layer)}, "table": ${q(m.table)}, "rows": ${m.rows}, "depends_on": $deps}"""
    }.mkString("[", ",", "]")
    val testsJson = results.map(r =>
      s"""{"table": ${q(r.table)}, "test": ${q(r.name)}, "violations": ${r.violations}}""")
      .mkString("[", ",", "]")
    val manifest =
      s"""{"invocation_id": ${q(invocationId)}, "as_of": ${q(asOf.toString)},
         | "models": $modelsJson, "tests": $testsJson}""".stripMargin
    val manifestDir = java.nio.file.Paths.get(workDir, "manifests")
    java.nio.file.Files.createDirectories(manifestDir)
    java.nio.file.Files.writeString(
      manifestDir.resolve(s"run_$invocationId.json"), manifest)
    println(s"manifest: $manifestDir/run_$invocationId.json")

    // docs site (dbt docs generate analog): one self-contained HTML page
    // with the lineage DAG as inline SVG + model/test tables
    val docTests = results.map(r => Docs.TestRow(r.table, r.name, r.violations))
    val docsDir = java.nio.file.Paths.get(workDir, "docs")
    java.nio.file.Files.createDirectories(docsDir)
    java.nio.file.Files.writeString(docsDir.resolve("index.html"),
      Docs.render(invocationId, asOf.toString, models, docTests))
    println(s"docs: $docsDir/index.html")

    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
