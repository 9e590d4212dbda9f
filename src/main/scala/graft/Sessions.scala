package graft

import org.apache.spark.sql.SparkSession

/** The measured session configuration every entry point shares
  * (round 15, optimization-guide §1 "measure first" → §2.2 partition
  * sizing → §6 I/O). Every entry here was A/B-measured on the 7-query
  * working set (q137/q215/q314/q322/q133/q293/q231, sf0.1, local[32],
  * reps=5) before being committed — numbers in OPTIMIZATION_r15.md §2:
  *
  *  - **Size-driven AQE coalescing**
  *    (`coalescePartitions.parallelismFirst=false`): the default (true)
  *    coalesces post-shuffle partitions only down to the 1 MB floor "to
  *    maximize parallelism", which at bench scale leaves every few-MB
  *    shuffle fanned out across many near-empty tasks — per-stage task
  *    launch + shuffle-file churn dominates (thread dumps showed
  *    executor pools 74% idle mid-query, busy threads in
  *    DiskBlockObjectWriter.open). `false` is the guide-§2.2 posture —
  *    partitions sized by `advisoryPartitionSizeInBytes`, i.e. derived
  *    from DATA VOLUME, not core count — and is exactly what a 100 TB
  *    cluster wants too (100 MB–1 GB partitions). Suite effect: 42.5 →
  *    36.1 s.
  *  - **Advisory partition size** parameterized via
  *    `SPARK_GRAFT_ADVISORY_PART` (local default 8m): at sf0.1 the
  *    iterative graph loops (q133/q231) keep enough join parallelism at
  *    8m that their per-iteration CPU doesn't serialize, while the
  *    overhead-bound queries still coalesce to a handful of tasks
  *    (36.1 → 35.1 s with ParallelGC already on → best combined 29.2).
  *    Production: set 128m–512m per guide §2.2/§9; the knob is env-fed
  *    so cluster profiles never recompile.
  *  - **Shuffle/spill dirs on tmpfs when available** (`spark.local.dir`
  *    → /dev/shm, override via `SPARK_GRAFT_LOCAL_DIR`): the sandbox's
  *    overlay FS has ~ms-scale file-create latency and the per-query
  *    bench shape is many small stages — thread dumps caught the busy
  *    executor threads inside FileOutputStream.open/FileChannel.map on
  *    shuffle files. Bench-scale shuffle volume is ≤ a few hundred MB
  *    against 128 GB RAM, so tmpfs is safe here; the production
  *    equivalent of this knob is pointing `spark.local.dir` at fast
  *    local NVMe (guide §2.1 — local disk bandwidth for shuffle files
  *    can be the tighter limit). Suite effect: 44.9 → 42.5 s (and it
  *    compounds with the AQE change above: the fewer, larger partitions
  *    also mean fewer file creates).
  *
  * (`-XX:+UseParallelGC` rides in build.sbt javaOptions next to the
  * round-13 code-cache fix: throughput collector for a batch workload —
  * suite 36.1 → 30.6 s, measured GC time in task metrics drops ~3×.)
  */
object Sessions {
  /** The one session every entry point and the test suites run on:
    * [[benchBuilder]] sized by [[cpus]], so what Bench times is what
    * Verify and the tests check. Logs at ERROR, not WARN: Bench's JSON
    * line is parsed out of a bounded 2000-char stdout tail, and sbt
    * relays the forked JVM's stderr into that same stream
    * (BENCH_r04 was "parsed": null because the streaming queries' WARN
    * flood landed after the line). The test run would otherwise also
    * write hundreds of thousands of INFO lines.
    */
  def get(): SparkSession = {
    val spark = benchBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Task slots: `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def benchBuilder(cpus: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PART", "8m"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    localDir.fold(b)(d => b.config("spark.local.dir", d))
  }

  /** tmpfs scratch dir if present and writable (unless overridden);
    * empty string in SPARK_GRAFT_LOCAL_DIR opts out entirely.
    */
  private def localDir: Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR") match {
      case Some("") => None
      case Some(d) => Some(d)
      case None =>
        val shm = new java.io.File("/dev/shm/graft-spark-scratch")
        if ((shm.isDirectory || shm.mkdirs()) && shm.canWrite)
          Some(shm.getAbsolutePath)
        else None
    }
}
