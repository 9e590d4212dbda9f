package graft.pipeline

/** Static docs-site generator — the analog of the reference's
  * `dbt docs generate` stage (DAG:66–107, the one surface the round-5
  * review still listed as missing). Renders the run manifest into ONE
  * self-contained HTML file: a lineage DAG drawn as inline SVG (models
  * laid out by layer column, dependency edges as lines) plus per-model
  * row counts and the data-quality test results. No external assets,
  * no JS dependencies — the artifact is portable the way the
  * reference's uploaded docs site is.
  */
object Docs {

  case class Model(layer: String, table: String, rows: Long, dependsOn: Seq[String])
  case class TestRow(table: String, name: String, violations: Long)

  /** Lineage columns: `landing`, then each layer in model run order. */
  private val LayerOrder = "landing" +: Pipeline.models.map(_.layer).distinct

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** One self-contained HTML page: SVG DAG + model table + test table. */
  def render(invocationId: String, asOf: String,
      models: Seq[Model], tests: Seq[TestRow]): String = {
    // deterministic layered layout: column = layer, row = position
    // within the layer (model order as given)
    val byLayer = LayerOrder.map(l => l -> models.filter(_.layer == l))
    val boxW = 190; val boxH = 34; val colW = 215; val rowH = 52
    val pos: Map[String, (Int, Int)] = byLayer.zipWithIndex.flatMap {
      case ((_, ms), col) => ms.zipWithIndex.map { case (m, row) =>
        s"${m.layer}.${m.table}" -> (30 + col * colW, 40 + row * rowH)
      }
    }.toMap
    val height = 60 + rowH * byLayer.map(_._2.size).foldLeft(1)(math.max)
    val width = 40 + colW * LayerOrder.size
    val edges = for {
      m <- models; dep <- m.dependsOn
      (x1, y1) <- pos.get(dep).orElse(
        if (dep == "landing") Some((10, height / 2)) else None)
      (x2, y2) <- pos.get(s"${m.layer}.${m.table}")
    } yield
      s"""<line x1="${x1 + boxW}" y1="${y1 + boxH / 2}" x2="$x2" y2="${y2 + boxH / 2}" stroke="#8a8f98" stroke-width="1.2" marker-end="url(#arr)"/>"""
    val boxes = models.flatMap { m =>
      pos.get(s"${m.layer}.${m.table}").map { case (x, y) =>
        s"""<g><rect x="$x" y="$y" width="$boxW" height="$boxH" rx="6" fill="#eef3fa" stroke="#4a6fa5"/>
           |<text x="${x + 8}" y="${y + 14}" font-size="11" font-family="monospace">${esc(m.table)}</text>
           |<text x="${x + 8}" y="${y + 28}" font-size="10" fill="#667" font-family="monospace">${esc(m.layer)} · ${m.rows} rows</text></g>""".stripMargin
      }
    }
    val headers = LayerOrder.zipWithIndex.map { case (l, col) =>
      s"""<text x="${30 + col * colW}" y="20" font-size="12" font-weight="bold" font-family="sans-serif">${esc(l)}</text>"""
    }
    val modelRows = models.map { m =>
      s"<tr><td>${esc(m.layer)}</td><td><code>${esc(m.table)}</code></td><td>${m.rows}</td><td>${esc(m.dependsOn.mkString(", "))}</td></tr>"
    }.mkString("\n")
    val testRows = tests.map { t =>
      val cls = if (t.violations == 0) "pass" else "fail"
      s"""<tr class="$cls"><td>${esc(t.table)}</td><td>${esc(t.name)}</td><td>${t.violations}</td></tr>"""
    }.mkString("\n")
    s"""<!doctype html>
       |<html><head><meta charset="utf-8"><title>graft run $invocationId</title>
       |<style>
       |body { font-family: sans-serif; margin: 24px; color: #222; }
       |table { border-collapse: collapse; margin: 12px 0 28px; }
       |td, th { border: 1px solid #ccc; padding: 4px 10px; font-size: 13px; }
       |tr.pass td { background: #f0faf0; } tr.fail td { background: #fdecec; }
       |</style></head><body>
       |<h1>graft firmographics — run docs</h1>
       |<p>invocation <code>${esc(invocationId)}</code> · as of ${esc(asOf)}</p>
       |<h2>Lineage</h2>
       |<svg width="$width" height="$height" xmlns="http://www.w3.org/2000/svg">
       |<defs><marker id="arr" markerWidth="8" markerHeight="8" refX="7" refY="3" orient="auto">
       |<path d="M0,0 L7,3 L0,6 z" fill="#8a8f98"/></marker></defs>
       |${headers.mkString("\n")}
       |${edges.mkString("\n")}
       |${boxes.mkString("\n")}
       |</svg>
       |<h2>Models</h2>
       |<table><tr><th>layer</th><th>table</th><th>rows</th><th>depends on</th></tr>
       |$modelRows</table>
       |<h2>Data-quality tests</h2>
       |<table><tr><th>table</th><th>test</th><th>violations</th></tr>
       |$testRows</table>
       |</body></html>""".stripMargin
  }
}
