package graft.pipeline

import java.nio.file.{Files, Paths}
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

    // models in run order with their upstream lineage (Pipeline.models);
    // each table is counted once for stdout, the manifest and the docs
    println(s"=== graft firmographics run @ $asOf ===")
    val models = Pipeline.models.map { m =>
      val rows = pipe.read(m.layer, m.name).count()
      println(f"${m.layer}%-10s ${m.name}%-30s $rows%6d rows")
      Docs.Model(m.layer, m.name, rows, m.deps)
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
    def artifact(kind: String, dir: String, file: String, text: String): Unit = {
      val d = Paths.get(workDir, dir)
      Files.createDirectories(d)
      Files.writeString(d.resolve(file), text)
      println(s"$kind: $d/$file")
    }
    artifact("manifest", "manifests", s"run_$invocationId.json", manifest)

    // docs site (dbt docs generate analog): one self-contained HTML page
    // with the lineage DAG as inline SVG + model/test tables
    val docTests = results.map(r => Docs.TestRow(r.table, r.name, r.violations))
    artifact("docs", "docs", "index.html",
      Docs.render(invocationId, asOf.toString, models, docTests))

    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
