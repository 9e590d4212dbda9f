package graft.perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{GraftQuery, Registry, Sessions}
import graft.operators.LshIndex
import graft.pipeline.RunPipeline

/** The benchmark's client: one closed loop in one thread, calling the
  * program only through its public entry points (`RunPipeline.main`,
  * `GraftQuery.fn` from `graft.Registry`, and the artifact stores'
  * `ensure`). `perfbench/run.py` builds and launches it; this side
  * times the calls and, in a traced run, turns the listener events of
  * [[Trace]] into spans and per-layer metrics.
  *
  * Usage: Harness key=value... with keys workload, seed, seconds, trace,
  * work, cpus, and either landing+days (firmo_daily) or sf+queries+stores
  * (registry workloads).
  */
object Harness {
  final class Op(val id: Int, val kind: String, val name: String, val start: Long) {
    var end = -1L
    var ok = true
    var error = ""
    val nums = scala.collection.mutable.LinkedHashMap[String, Double]()
    val strs = scala.collection.mutable.LinkedHashMap[String, String]()
  }

  private val ops = ArrayBuffer[Op]()
  private var opLog: Path = _

  def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")

  private def opJson(o: Op): String = obj(Seq(
    "id" -> o.id.toString, "kind" -> q(o.kind), "name" -> q(o.name),
    "start" -> o.start.toString, "end" -> o.end.toString, "ok" -> o.ok.toString,
    "error" -> q(o.error)) ++ o.nums.map { case (k, v) => k -> num(v) } ++
    o.strs.map { case (k, v) => k -> q(v) })

  private def log(line: String): Unit =
    Files.writeString(opLog, line + "\n", UTF_8,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  /** Run `body` as one operation; a throw marks it failed. The start line
    * is logged first, so a JVM that exits inside `body` still names it.
    */
  def op(kind: String, name: String)(body: Op => Unit): Op = {
    val o = new Op(ops.size, kind, name, System.currentTimeMillis())
    ops += o
    log(obj(Seq("start" -> o.id.toString, "kind" -> q(kind), "name" -> q(name))))
    val cpu0 = processCpuNs
    try body(o) catch { case e: Throwable =>
      o.ok = false
      o.error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    o.end = System.currentTimeMillis()
    o.nums("cpu_ms") = (processCpuNs - cpu0) / 1e6
    log(opJson(o))
    o
  }

  /** CPU time of every thread of this JVM so far. */
  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private def vmHwmKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    opLog = Paths.get(work, "ops.jsonl")
    val timed = ArrayBuffer[Op]()
    var setupEnd = 0L
    var gc0 = 0L
    def startTiming(): Unit = {
      setupEnd = System.currentTimeMillis()
      gc0 = gcMs
      heapPools.foreach(_.resetPeakUsage())
    }
    var finish: () => Unit = () => ()

    a("workload") match {
      case "firmo_daily" =>
        val landing = a("landing")
        val days = a("days").toInt
        def dag(kind: String, day: Int, wh: String): Op = op(kind, f"day_$day%03d") { o =>
          val dir = f"$landing/day_$day%03d"
          val at = java.time.LocalDate.of(2025, 1, 1).plusDays(day.toLong) + " 00:00:00"
          o.strs("workdir") = wh
          o.strs("landing") = dir
          o.nums("day") = day
          o.nums("landing_bytes") = Files.list(Paths.get(dir)).iterator().asScala
            .map(Files.size(_)).sum.toDouble
          val buf = new ByteArrayOutputStream()
          try Console.withOut(new PrintStream(buf, true, UTF_8)) {
            RunPipeline.main(Array(dir, wh, at))
          } finally {
            val outFile = Paths.get(work, "out", s"op_${o.id}.txt")
            Files.createDirectories(outFile.getParent)
            Files.write(outFile, buf.toByteArray)
            o.strs("stdout") = outFile.toString
          }
        }
        val wh = s"$work/warehouse"
        dag("setup_full", 0, wh)
        startTiming()
        var day = 1
        while (day < days && System.currentTimeMillis() - setupEnd < seconds * 1000) {
          timed += dag("incremental", day, wh)
          day += 1
        }

      case _ =>
        val sf = a("sf")
        val cpus = a("cpus")
        val stores = Map[String, graft.operators.ArtifactStore]("LshIndex" -> LshIndex)
        val useStores = a("stores").split(",").filter(_.nonEmpty).map(n => n -> stores(n)).toSeq
        val byId = Registry.all.map(g => g.name.takeWhile(_ != '_') -> g).toMap
        val queries: Seq[GraftQuery] = a("queries").split(",").toSeq.map(byId)
        val spark = Sessions.benchBuilder(cpus).getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        useStores.foreach { case (n, s) => op("artifact_build", n)(_ => s.ensure(spark, sf)) }
        // Warm-up pass: each result goes to parquet for the oracle check
        // that run.py makes after the run, outside every timed window.
        queries.foreach { g =>
          spark.catalog.clearCache()
          op("warmup", g.name) { _ =>
            g.fn(spark, sf).write.mode("overwrite").parquet(s"$work/verify/${g.name}")
          }
        }
        Files.createDirectories(Paths.get(work, "verify"))
        Files.writeString(Paths.get(work, "verify", "oracle_sql.json"),
          obj(queries.flatMap(g => g.oracle.map(o => g.name -> q(o)))), UTF_8)
        startTiming()
        val rng = new scala.util.Random(a("seed").toLong)
        var pass = 0
        // At least two passes: a JVM's first timed pass is slower than its
        // second, so a run that fit only one would read systematically high.
        while (pass < 2 || System.currentTimeMillis() - setupEnd < seconds * 1000) {
          timed += op("pass", s"pass_$pass") { p =>
            rng.shuffle(queries).foreach { g =>
              spark.catalog.clearCache()
              val qo = op("query", g.name) { o =>
                val t0 = System.nanoTime()
                val df = g.fn(spark, sf)
                val t1 = System.nanoTime()
                df.write.format("noop").mode("overwrite").save()
                o.nums("fn_ms") = (t1 - t0) / 1e6
                o.nums("action_ms") = (System.nanoTime() - t1) / 1e6
              }
              if (!qo.ok) p.ok = false
            }
          }
          if (traced) useStores.foreach { case (n, s) => op("artifact_ensure", n)(_ => s.ensure(spark, sf)) }
          pass += 1
        }
        finish = () => spark.stop()
    }

    val timedEnd = System.currentTimeMillis()
    val gcTimed = gcMs - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val rssKb = vmHwmKb
    finish() // stopping the context drains the listener bus
    val layers: Map[String, Double] =
      if (traced) Layers.compute(ops.toSeq, timed.toSeq, a("cpus").toDouble, gcTimed, heapPeakMb)
      else Map.empty
    if (traced) Layers.writeSpans(Paths.get(work, "spans.jsonl"), ops.toSeq, jvmStart, timedEnd)
    val result = obj(Seq(
      "setup_s" -> num((setupEnd - jvmStart) / 1000.0),
      "peak_rss_mb" -> num(rssKb / 1024.0),
      "layers" -> obj(layers.map { case (k, v) => k -> num(v) })))
    Files.writeString(Paths.get(work, "result.json"), result, UTF_8)
  }
}
