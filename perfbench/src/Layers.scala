package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.perfbench.Harness.{Op, num, obj, q}

/** Per-layer metrics and spans of a traced run, from [[Trace]]'s events
  * and the harness's own operation records.
  *
  * A "pass" is the unit every per-layer sum is divided by: one
  * incremental DAG run for firmo_daily, one pass over the query list for
  * the registry workloads. Pipeline actions are attributed by the
  * warehouse paths they read and write (`<workDir>/<layer>/<table>`):
  * AQE and test-stage jobs run on pool threads, so a call-site stack
  * would not name the model that issued them.
  */
object Layers {
  val pipelineLayers = Seq("raw", "staging", "core", "snapshots", "analytics")

  private def within(t: Long, o: Op) = t >= o.start && t <= o.end

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(p => p._2 > p._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  def compute(all: Seq[Op], timed: Seq[Op], cpus: Double,
      gcMs: Long, heapPeakMb: Double): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    val n = math.max(timed.size, 1).toDouble
    val execs = Trace.execs.values.asScala.toSeq
    val jobs = Trace.jobs.values.asScala.toSeq
    val stages = Trace.stages.values.asScala.toSeq
    var busy, wall = 0.0
    var maxTaskRead = 0L
    var bytesWritten, landingBytes = 0.0

    timed.foreach { o =>
      val xs = execs.filter(x => within(x.start, o))
      val js = jobs.filter(j => within(j.start, o))
      val jobKeys = js.map(_.key).toSet
      val ss = stages.filter(s => jobKeys(s.jobKey))
      xs.foreach { x =>
        add("catalyst.analysis_ms", x.plan.analysisMs)
        add("catalyst.optimization_ms", x.plan.optimizationMs)
        add("catalyst.planning_ms", x.plan.planningMs)
        add("aqe.replans", x.replans.get)
      }
      add("spark.jobs", js.size)
      add("spark.stages", ss.count(_.tasks > 0))
      add("spark.tasks", ss.map(_.tasks).sum)
      add("sched.delay_ms", ss.map(_.schedMs).sum)
      add("exec.run_ms", ss.map(_.runMs).sum)
      add("exec.cpu_ms", ss.map(_.cpuNs).sum / 1e6)
      add("exec.gc_ms", ss.map(_.gcMs).sum)
      add("exec.serde_ms", ss.map(_.serdeMs).sum)
      add("shuffle.read_bytes", ss.map(_.shuffleRead).sum)
      add("shuffle.write_bytes", ss.map(_.shuffleWrite).sum)
      add("spill.bytes", ss.map(_.spill).sum)
      add("scan.input_bytes", ss.map(_.input).sum)
      maxTaskRead = (maxTaskRead +: ss.map(_.maxTaskRead)).max
      busy += ss.map(_.runMs).sum
      wall += o.end - o.start

      o.strs.get("workdir").foreach { wh =>
        val landing = o.strs("landing")
        def layerOf(p: String): Option[String] =
          if (p.startsWith(wh + "/")) Some(p.drop(wh.length + 1).takeWhile(_ != '/'))
          else if (p.startsWith(landing)) Some("raw")
          else None
        val lastWrite = (0L +: xs.filter(_.plan.writes.nonEmpty).map(_.start)).max
        xs.foreach { x =>
          val p = x.plan
          val ms = math.max(0L, x.end - x.start).toDouble
          val layer =
            if (p.writes.nonEmpty) layerOf(p.writes.head).getOrElse("other")
            else if (x.start > lastWrite) { if (p.filtersOrJoins) "tests" else "report" }
            else p.reads.flatMap(layerOf).maxByOption(pipelineLayers.indexOf(_)).getOrElse("other")
          add(s"$layer.ms", ms)
          if (layer == "tests" || layer == "report") add(s"$layer.actions", 1)
          add("parquet.bytes_written", p.bytes)
          add("parquet.files_written", p.files)
          bytesWritten += p.bytes
        }
        landingBytes += o.nums("landing_bytes")
        add("dag.actions", xs.size)
        add("dag.jobs", js.size)
        add("dag.tasks", ss.map(_.tasks).sum)
        add("dag.driver_gap_ms",
          (o.end - o.start) - covered(xs.map(x => (x.start, x.end)), o.start, o.end))
      }

      val children = all.filter(c => c.kind == "query" && c.start >= o.start && c.end <= o.end)
      add("registry.fn_ms", children.flatMap(_.nums.get("fn_ms")).sum)
      add("registry.action_ms", children.flatMap(_.nums.get("action_ms")).sum)
      val bs = Trace.batches.asScala.filter(b => within(b.time, o)).toSeq
      add("stream.batches", bs.size)
      add("stream.add_batch_ms", bs.map(_.durations.getOrElse("addBatch", 0L)).sum)
      add("stream.query_planning_ms", bs.map(_.durations.getOrElse("queryPlanning", 0L)).sum)
      add("stream.wal_commit_ms", bs.map(_.durations.getOrElse("walCommit", 0L)).sum)
      add("stream.state_rows", bs.map(_.stateRows).sum)
      add("stream.state_mem_bytes", bs.map(_.stateMem).sum)
    }
    val perPass = m.map { case (k, v) => k -> v / n }
    perPass("shuffle.max_task_read_bytes") = maxTaskRead
    perPass("exec.busy_ratio") = if (wall > 0) busy / (wall * cpus) else 0.0
    perPass("parquet.write_amp") = if (landingBytes > 0) bytesWritten / landingBytes else 0.0
    perPass("artifact.build_ms") =
      all.filter(_.kind == "artifact_build").map(o => (o.end - o.start).toDouble).sum
    val ensures = all.filter(_.kind == "artifact_ensure")
    perPass("artifact.ensure_ms") = ensures.map(o => (o.end - o.start).toDouble).sum / n
    perPass("jvm.gc_ms") = gcMs / n
    perPass("jvm.heap_peak_mb") = heapPeakMb
    perPass.toMap
  }

  /** Spans nest run -> operation (a set-up step, a DAG run, or a pass
    * holding its queries) -> Spark action (SQL execution) -> job -> stage;
    * each names its parent.
    */
  def writeSpans(out: Path, all: Seq[Op], jvmStart: Long, end: Long): Unit = {
    val lines = Seq.newBuilder[String]
    def span(id: String, parent: String, kind: String, name: String, s: Long, e: Long,
        extra: Seq[(String, String)] = Nil): Unit =
      lines += obj(Seq("id" -> q(id), "parent" -> q(parent), "kind" -> q(kind),
        "name" -> q(name), "start_ms" -> s.toString, "end_ms" -> e.toString) ++ extra)
    span("run", "", "run", "run", jvmStart, end)
    def innermost(t: Long): String = all.filter(o => within(t, o))
      .minByOption(o => o.end - o.start).map(o => s"op${o.id}").getOrElse("run")
    all.foreach { o =>
      val parent = all.filter(p => p.id != o.id && p.start <= o.start && p.end >= o.end &&
        (p.end - p.start) > (o.end - o.start)).minByOption(p => p.end - p.start)
        .map(p => s"op${p.id}").getOrElse("run")
      span(s"op${o.id}", parent, o.kind, o.name, o.start, o.end,
        Seq("ok" -> o.ok.toString) ++ o.nums.map { case (k, v) => k -> num(v) })
    }
    Trace.execs.values.asScala.toSeq.sortBy(_.id).foreach { x =>
      val p = x.plan
      span(s"exec${x.id}", innermost(x.start), "action", p.writes.headOption
        .orElse(p.reads.headOption).getOrElse(""), x.start, x.end,
        Seq("failed" -> x.failed.toString, "aqe_replans" -> x.replans.get.toString,
          "writes" -> p.writes.size.toString,
          "files_written" -> p.files.toString, "bytes_written" -> p.bytes.toString))
    }
    val jobs = Trace.jobs.values.asScala.toSeq
    jobs.sortBy(_.start).foreach { j =>
      val parent = if (Trace.execs.containsKey(j.execId)) s"exec${j.execId}" else innermost(j.start)
      span(s"job${j.key}", parent, "job", j.key, j.start, j.end)
    }
    Trace.stages.values.asScala.toSeq.filter(_.tasks > 0).sortBy(_.start).foreach { s =>
      span(s"stage${s.key}", if (s.jobKey.nonEmpty) s"job${s.jobKey}" else "run", "stage", s.key,
        s.start, s.end, Seq("tasks" -> s.tasks.toString, "run_ms" -> s.runMs.toString,
          "shuffle_read_bytes" -> s.shuffleRead.toString))
    }
    Files.writeString(out, lines.result().mkString("", "\n", "\n"), UTF_8)
  }
}
