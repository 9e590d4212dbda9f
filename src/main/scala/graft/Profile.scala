package graft

/** Per-stage time-accounting profiler for single queries — answers WHERE
  * a query's wall-clock goes (task compute vs GC vs scheduler/launch
  * overhead vs shuffle fetch), which `explain` and the bench's
  * shuffle-byte meter cannot. Optimization-guide §1 ("decide whether the
  * time is going to shuffle read, shuffle write, executor compute,
  * scheduler delay, or (de)serialization") with no UI in the sandbox.
  *
  * Usage: runMain graft.Profile <nameRegex> [sfDir] [reps]
  *
  * Prints, per query: number of jobs/stages/tasks, wall seconds, and the
  * top stages by wall-span with their task counts, summed run/GC/
  * serde/fetch times and per-stage wall span (submission -> completion).
  * Diagnostic tool only — the bench contract lives in Bench.scala.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val pattern = args.headOption.getOrElse(".*")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Sessions.get()
    Bench.warm(spark, sfDir)
    val meter = TaskMeter.attach(spark)

    Registry.all.filter(_.name.matches(pattern)).foreach { q =>
      // warmup rep (codegen compile, shuffle files)
      spark.catalog.clearCache()
      try q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        println(s"${q.name} FAILED: ${e.getMessage}"); return }
      val wall = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        System.gc()
        Thread.sleep(200)
        meter.settle()
        meter.reset()
        val t0 = System.nanoTime()
        q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      meter.settle()
      val st = meter.stages
      println(f"\n===== ${q.name} wall=${wall.min}%.2f..${wall.max}%.2f s " +
        f"(last rep: jobs=${meter.jobs.get} stages=${st.size} tasks=${meter.tasks.get})")
      val totalRun = st.map(_.runMs).sum
      val totalGc = st.map(_.gcMs).sum
      val totalCpu = st.map(_.cpuNs).sum / 1e6
      val totalSched = st.map(_.schedMs).sum
      val totalSer = st.map(_.serMs).sum
      val totalFetch = st.map(_.fetchMs).sum
      val spanSum = st.map(_.spanMs).sum
      println(f"  sums: run=${totalRun}ms cpu=${totalCpu}%.0fms gc=${totalGc}ms " +
        f"serde=${totalSer}ms fetch=${totalFetch}ms sched=${totalSched}ms " +
        f"stageSpanSum=${spanSum}ms")
      st.sortBy(-_.spanMs).take(14).foreach { s =>
        println(f"  span=${s.spanMs}%5dms tasks=${s.tasks}%3d run=${s.runMs}%5dms " +
          f"cpu=${s.cpuNs / 1e6}%6.0fms gc=${s.gcMs}%4dms sched=${s.schedMs}%5dms ${s.name}")
      }
    }
    spark.stop()
  }
}
