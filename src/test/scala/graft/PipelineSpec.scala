package graft

import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Pipeline

/** End-to-end pipeline runs over the FIXTURES.md landing fixtures:
  * run 1 (initial load) then run 2 (HQ move, company dropped from the
  * ranking, new company, re-ingest of unchanged values), asserting the
  * staging/core/star semantics and the SCD2 state transitions the
  * reference produces (SURVEY.md §3.1, §2.9; FIXTURES.md §4).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def res(p: String): String =
    getClass.getClassLoader.getResource(p).getPath

  private lazy val work = Files.createTempDirectory("graft-pipe").toString
  private lazy val pipe = new Pipeline(spark, work)
  private val t1 = Timestamp.valueOf("2025-06-01 00:00:00")
  private val t2 = Timestamp.valueOf("2025-07-01 00:00:00")

  private lazy val run1 = pipe.run(res("landing1"), t1)
  private lazy val run2 = pipe.run(res("landing2"), t2)

  test("run 1: all declared data-quality checks pass") {
    val failed = run1.filterNot(_.passed)
    assert(failed.isEmpty, s"failed checks: $failed")
  }

  test("run 1: wiki staging dedups by cik (earliest date_added, NULLS LAST)") {
    run1
    val wiki = pipe.read("staging", "stg_wiki_sp500")
    assert(wiki.count() == 5) // 7 records, two dup-cik pairs collapsed
    val acme = wiki.filter(col("cik") === 111).first()
    assert(acme.getAs[String]("symbol") == "ACME") // 1957 beats 1960
    val umb = wiki.filter(col("cik") === 444).first()
    assert(umb.getAs[String]("symbol") == "UMB") // dated row beats NULL date
  }

  test("run 1: string surgery and drift tolerance") {
    run1
    val wiki = pipe.read("staging", "stg_wiki_sp500")
    val acme = wiki.filter(col("cik") === 111).first()
    assert(acme.getAs[String]("company_name") == "Acme Corp") // ' (' split
    assert(acme.getAs[Int]("founded_year") == 1902) // substring(1,4) of '1902 (1888)'
    val glx = wiki.filter(col("cik") === 222).first()
    assert(glx.isNullAt(glx.fieldIndex("headquarters_location_city"))) // 'none' -> NULL
    assert(glx.isNullAt(glx.fieldIndex("date_added"))) // '' -> NULL
    val wayne = wiki.filter(col("cik") === 555).first() // missing JSON keys
    assert(wayne.isNullAt(wayne.fieldIndex("founded_year")))
    assert(wayne.isNullAt(wayne.fieldIndex("date_added")))
  }

  test("run 1: fortune staging money/pct/flag cleaning") {
    run1
    val f = pipe.read("staging", "stg_fortune500")
    val acme = f.filter(col("company_name") === "Acme Corp").first()
    assert(acme.getAs[Double]("revenues_m") == 648125.0)
    assert(acme.getAs[Double]("market_value_m") == 483153.6)
    assert(acme.getAs[Int]("employees") == 2100000)
    assert(acme.getAs[Double]("revenue_pct_change") == 6.0)
    assert(acme.getAs[Double]("change_rank_1000") == 0.0) // '' -> 0
    val glx = f.filter(col("company_name") === "Globex").first()
    assert(glx.getAs[Double]("profits_m") == -1.5) // '-$1.5'
    assert(glx.isNullAt(glx.fieldIndex("market_value_m"))) // '' -> NULL
    assert(glx.isNullAt(glx.fieldIndex("employees")))
    assert(glx.getAs[Double]("revenue_pct_change") == 0.0) // '' -> 0
    assert(!glx.getAs[Boolean]("is_best_company")) // missing flag -> false
    assert(!glx.getAs[Boolean]("is_profitable")) // 'no' -> false
    assert(glx.getAs[Double]("change_rank_500") == -12.0)
  }

  test("run 1: core is the inner-join intersection, latest per company") {
    run1
    val core = pipe.read("core", "cr_company_complete")
    val names = core.select("company_name").collect().map(_.getString(0)).toSet
    // Hooli: fortune-only; Wayne: wiki-only -> excluded by J1
    assert(names == Set("Acme Corp", "Globex", "Initech", "Umbrella"))
  }

  test("run 2: all declared data-quality checks still pass") {
    run1
    val failed = run2.filterNot(_.passed)
    assert(failed.isEmpty, s"failed checks: $failed")
  }

  test("run 2: HQ move = hard-delete of old location key + new open key") {
    run1; run2
    val snap = pipe.read("snapshots", "company_location_snapshot")
    val acme = snap.filter(col("headquarters_city").isin("Springfield", "Shelbyville"))
    val old = acme.filter(col("headquarters_city") === "Springfield").first()
    assert(old.getAs[Timestamp]("dbt_valid_to") == t2) // invalidate_hard_deletes at run ts
    val nw = acme.filter(col("headquarters_city") === "Shelbyville").first()
    assert(nw.isNullAt(nw.fieldIndex("dbt_valid_to")))
    // dim_location shows only the new location (current-only, P4)
    val dim = pipe.read("analytics", "dim_location")
    val cities = dim.select("headquarters_city").collect().map(_.getString(0)).toSet
    assert(cities.contains("Shelbyville") && !cities.contains("Springfield"))
  }

  test("run 2: re-ingest with newer timestamp versions even identical values") {
    run1; run2
    val snap = pipe.read("snapshots", "fortune_metrics_snapshot")
    // Globex re-ingested with identical metrics -> 2 versions (timestamp strategy)
    val glx = snap.filter(col("slug") === "globex")
    assert(glx.count() == 2)
    assert(glx.filter(col("dbt_valid_to").isNull).count() == 1)
  }

  test("run 2: company absent from new batch but still in core is a no-op") {
    run1; run2
    val snap = pipe.read("snapshots", "fortune_metrics_snapshot")
    // Initech dropped from fortune ranking but its staging/core row remains
    // with the old last_updated -> single open version, no spurious close
    val ini = snap.filter(col("slug") === "initech")
    assert(ini.count() == 1)
    assert(ini.filter(col("dbt_valid_to").isNull).count() == 1)
  }

  test("run 2: new company lands across all layers") {
    run1; run2
    assert(pipe.read("core", "cr_company_complete")
      .filter(col("company_name") === "Stark Industries").count() == 1)
    assert(pipe.read("analytics", "dim_company")
      .filter(col("company_name") === "Stark Industries").count() == 1)
    assert(pipe.read("analytics", "fact_company_performance").count() == 5)
  }

  test("run 3 with no new data is a no-op (dbt re-run idempotency)") {
    run1; run2
    val before = Seq(
      pipe.read("staging", "stg_fortune500").count(),
      pipe.read("core", "cr_company_complete").count(),
      pipe.read("snapshots", "company_location_snapshot").count(),
      pipe.read("snapshots", "fortune_metrics_snapshot").count(),
      pipe.read("analytics", "fact_company_performance").count())
    val emptyLanding = Files.createTempDirectory("graft-empty").toString
    val run3 = pipe.run(emptyLanding, Timestamp.valueOf("2025-08-01 00:00:00"))
    assert(run3.filterNot(_.passed).isEmpty)
    val after = Seq(
      pipe.read("staging", "stg_fortune500").count(),
      pipe.read("core", "cr_company_complete").count(),
      pipe.read("snapshots", "company_location_snapshot").count(),
      pipe.read("snapshots", "fortune_metrics_snapshot").count(),
      pipe.read("analytics", "fact_company_performance").count())
    assert(after == before)
    // no spurious SCD2 closes: same set of open versions
    assert(pipe.read("snapshots", "fortune_metrics_snapshot")
      .filter(col("dbt_valid_to").isNull).count() == 5)
  }

  test("run 2: RAW identity ids keep increasing across loads") {
    run1; run2
    val raw = pipe.read("raw", "fortune_500")
    assert(raw.count() == 2)
    assert(raw.select(max(col("id"))).first().getLong(0) == 2L)
    assert(raw.select("id").distinct().count() == 2)
  }

  test("RAW ingest appends: run 2 leaves run-1 parquet files untouched") {
    import scala.jdk.CollectionConverters._
    val w = Files.createTempDirectory("graft-raw-append").toString
    val p = new Pipeline(spark, w)
    p.run(res("landing1"), t1)
    // appends land inside the CURRENT version directory (v1 — appends
    // never flip the pointer)
    def parts: Map[String, java.nio.file.attribute.FileTime] =
      Files.list(java.nio.file.Paths.get(
          pipeline.ParquetIO.versionPath(s"$w/raw/fortune_500", 1)))
        .iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(f => f.getFileName.toString -> Files.getLastModifiedTime(f)).toMap
    val before = parts
    assert(before.nonEmpty)
    p.run(res("landing2"), t2)
    val after = parts
    // every run-1 file survives byte-identical (same name, same mtime) —
    // the batch was appended, not union-rewritten
    before.foreach { case (name, mtime) =>
      assert(after.get(name).contains(mtime), s"run-1 file $name was rewritten")
    }
    assert(after.size > before.size)
    assert(p.read("raw", "fortune_500").count() == 2)
  }

  test("--full-refresh rebuilds poisoned incremental state from the full upstream") {
    val w = Files.createTempDirectory("graft-fullrefresh").toString
    val p = new Pipeline(spark, w)
    p.run(res("landing1"), t1)
    val healthy = p.read("staging", "stg_fortune500").count()
    assert(healthy > 1)
    // poison: truncate staging to one row with a far-future watermark, the
    // state a bad backfill leaves behind
    p.overwriteSwap(
      p.read("staging", "stg_fortune500").limit(1)
        .withColumn("ingested_at", lit(Timestamp.valueOf("2099-01-01 00:00:00"))),
      "staging", "stg_fortune500")
    val emptyLanding = Files.createTempDirectory("graft-empty-fr").toString
    // a plain incremental re-run can never recover: the watermark filter
    // sees no rows newer than 2099
    p.run(emptyLanding, Timestamp.valueOf("2025-08-01 00:00:00"))
    assert(p.read("staging", "stg_fortune500").count() == 1)
    // --full-refresh ignores is_incremental() and rebuilds from complete RAW
    val results = p.run(emptyLanding, Timestamp.valueOf("2025-09-01 00:00:00"),
      fullRefresh = true)
    assert(p.read("staging", "stg_fortune500").count() == healthy)
    assert(results.filterNot(_.passed).isEmpty)
  }

  test("re-ingesting the same landing files is a no-op (COPY load history)") {
    val w = Files.createTempDirectory("graft-copy-idem").toString
    val p = new Pipeline(spark, w)
    p.run(res("landing1"), t1)
    val rawBefore = p.read("raw", "fortune_500").count()
    // same landing dir again, later timestamp: COPY consults its load
    // history and skips every file -> RAW unchanged, and a --full-refresh
    // rebuild over the accumulated RAW still passes the unique tests
    val results = p.run(res("landing1"),
      Timestamp.valueOf("2025-06-02 00:00:00"), fullRefresh = true)
    assert(p.read("raw", "fortune_500").count() == rawBefore)
    assert(results.filterNot(_.passed).isEmpty,
      s"failed: ${results.filterNot(_.passed)}")
  }

  test("model list: unique names, deps run first, every tested table is a model") {
    val models = Pipeline.models
    val names = models.map(_.name)
    assert(names.distinct == names, "model names must be unique")
    // list order is run order: each dep is the landing area or an
    // earlier model, so no model reads a table this run has not built
    models.zipWithIndex.foreach { case (m, i) =>
      val earlier = models.take(i).map(e => s"${e.layer}.${e.name}").toSet
      m.deps.foreach(d => assert(d == "landing" || earlier(d), s"${m.name} reads $d too early"))
    }
    val checks = pipeline.Checks.referenceSuite(names.map(_ -> spark.emptyDataFrame).toMap)
    assert(checks.map(_.table).toSet.subsetOf(names.toSet))
  }

  test("acceptedValues passes NULLs (dbt compiled not-in semantics)") {
    import spark.implicits._
    val df = Seq(Some("A"), Some("X"), None).toDF("c")
    val violations = pipeline.Checks.acceptedValues("c", Seq("A", "B"))(df)
    assert(violations.count() == 1) // only "X"; the NULL row passes
  }

  test("docs site renders every model, edge and test verdict") {
    import graft.pipeline.Docs
    val models = Seq(
      Docs.Model("raw", "wiki_sp500", 10L, Seq("landing")),
      Docs.Model("staging", "stg_wiki_sp500", 9L, Seq("raw.wiki_sp500")),
      Docs.Model("core", "cr_company_complete", 8L,
        Seq("staging.stg_wiki_sp500")))
    val tests = Seq(
      Docs.TestRow("core.cr_company_complete", "unique_cik", 0L),
      Docs.TestRow("core.cr_company_complete", "not_null_name", 2L))
    val html = Docs.render("inv-1", "2025-07-01 00:00:00", models, tests)
    models.foreach(m => assert(html.contains(m.table), s"missing ${m.table}"))
    // one SVG edge per dependency (landing edge included)
    assert(html.sliding(5).count(_ == "<line") == 3, "edge count")
    assert(html.contains("class=\"pass\"") && html.contains("class=\"fail\""),
      "test verdicts must render distinctly")
    assert(html.contains("8 rows"), "row counts must render")
    // self-contained: no external references
    assert(!html.contains("http://") || html.contains("www.w3.org"),
      "no external assets beyond the SVG namespace")
  }

  test("versioned-pointer swap: commit, crash remnant, GC window") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("swap").toString
    val dir = s"$base/t"
    pipeline.ParquetIO.overwriteSwap(Seq(1, 2).toDF("v"), dir)
    assert(pipeline.ParquetIO.currentVersion(dir).contains(1L))
    assert(pipeline.ParquetIO.read(spark, dir).count() == 2)

    // crash AFTER v2 write, BEFORE pointer flip: readers still see v1;
    // the next write clears the remnant and commits cleanly
    val remnant = Paths.get(pipeline.ParquetIO.versionPath(dir, 2))
    Files.createDirectories(remnant)
    Files.writeString(remnant.resolve("part-00000"), "junk")
    assert(pipeline.ParquetIO.read(spark, dir).count() == 2,
      "uncommitted remnant must be invisible")
    pipeline.ParquetIO.overwriteSwap(Seq(10, 20, 30).toDF("v"), dir)
    assert(pipeline.ParquetIO.currentVersion(dir).contains(2L))
    assert(pipeline.ParquetIO.read(spark, dir).count() == 3)

    // GC retains exactly the previous version: after a third commit,
    // v1 is gone, v2 readable (time travel), v3 current
    pipeline.ParquetIO.overwriteSwap(Seq(7).toDF("v"), dir)
    assert(pipeline.ParquetIO.versionsOnDisk(dir) == Seq(2L, 3L))
    assert(pipeline.ParquetIO.readVersion(spark, dir, 2).count() == 3)
    assert(pipeline.ParquetIO.read(spark, dir).count() == 1)
  }

  test("concurrent readers never observe a mid-swap state") {
    import spark.implicits._
    import java.nio.file.Files
    val base = Files.createTempDirectory("swap-race").toString
    val dir = s"$base/t"
    // every committed table has count == its version: any torn read
    // (missing files, half directory) would surface as a wrong count or
    // an exception in the reader thread
    pipeline.ParquetIO.overwriteSwap(Seq.fill(1)(1).toDF("v"), dir)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val n = pipeline.ParquetIO.read(spark, dir).count()
          // every committed state has count in [1, 6]; a torn read
          // (half-visible directory) would produce something else or
          // throw from the scan
          if (n < 1 || n > 6)
            failures.add(s"count $n matches no committed version")
        } catch {
          // a reader iteration that outlives GcRetain subsequent commits
          // can lose its resolved directory — that is the documented
          // retention knob, not a torn state; anything else is a failure
          case e: Throwable
              if !e.toString.contains("does not exist") &&
                !e.toString.contains("FileNotFound") =>
            failures.add(e.toString)
          case _: Throwable => ()
        }
      }
    })
    reader.start()
    for (i <- 2 to 6) // five swaps race the reader loop
      pipeline.ParquetIO.overwriteSwap(Seq.fill(i)(1).toDF("v"), dir)
    stop.set(true)
    reader.join(30000)
    assert(failures.isEmpty, s"reader observed: ${failures.asScala.mkString("; ")}")
    assert(pipeline.ParquetIO.read(spark, dir).count() == 6)
  }

  test("second concurrent writer fails fast; a crashed writer's stale lock is stolen") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val base = Files.createTempDirectory("writer-lock").toString
    val dir = s"$base/t"
    pipeline.ParquetIO.overwriteSwap(Seq(1).toDF("v"), dir)

    // a live concurrent writer (fresh lock) => the second commit errors
    // cleanly instead of silently racing the pointer
    val lock = Paths.get(dir, "_writer.lock")
    Files.createFile(lock)
    val e = intercept[IllegalStateException] {
      pipeline.ParquetIO.overwriteSwap(Seq(2).toDF("v"), dir)
    }
    assert(e.getMessage.contains("single-writer"))
    assert(pipeline.ParquetIO.currentVersion(dir).contains(1L),
      "a refused commit must not move the pointer")
    // appendInPlace holds the same lock
    intercept[IllegalStateException] {
      pipeline.ParquetIO.appendInPlace(Seq(3).toDF("v"), dir)
    }

    // a crashed writer's lock (older than LockStaleMs) is stolen and
    // the commit proceeds; the lock is released afterwards
    Files.setLastModifiedTime(lock, FileTime.fromMillis(
      System.currentTimeMillis() - pipeline.ParquetIO.LockStaleMs - 60000))
    pipeline.ParquetIO.overwriteSwap(Seq(2, 3).toDF("v"), dir)
    assert(pipeline.ParquetIO.read(spark, dir).count() == 2)
    assert(!Files.exists(lock), "lock must be released after the commit")
  }
}
