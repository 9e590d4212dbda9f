package graft

import java.nio.file.Paths

import graft.operators.{Dedup, TrimIndex}
import graft.pipeline.ParquetIO

/** Measures the incremental arm of the materialized ExactSubstr removal
  * set ([[operators.TrimIndex]]) against the full build it replaces —
  * the [[LshAppendSmoke]] discipline on the span-dedup family: build
  * over the source documents corpus, land a re-crawl delta batch
  * (every 10th doc re-ingested under a new id — the q17 twin shape, the
  * exact ingest cadence the artifact exists for), re-ensure, and report
  * wall seconds + task bytesRead for both phases. The append must
  * tokenize/gram/pair only the delta against ONE scan of the compact
  * posting artifact (never re-tokenizing history) and take the
  * hard-linked append-version arm.
  *
  * Usage: runMain graft.TrimAppendSmoke [srcSfDir] [workDir]
  */
object TrimAppendSmoke {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = if (args.length > 1) args(1) else "/tmp/graft-trim-append-smoke"
    val smoke = Smoke()
    val spark = smoke.spark
    import spark.implicits._

    val base = Tables.load(spark, src, "documents").select($"doc_id", $"text")
    val dir = s"$work/corpus"
    ParquetIO.deleteTree(Paths.get(dir))
    base.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val build = smoke.build(TrimIndex, dir)
    val remT = TrimIndex.tableDir(dir, "removed")
    val vBefore = ParquetIO.currentVersion(remT).get
    val remBefore = ParquetIO.read(spark, remT).count()

    // the re-crawl batch: every 10th doc re-ingested under a new id
    Smoke.landDelta(
      base.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + Dedup.TwinOffset).as("doc_id"), $"text"),
      s"$dir/documents.parquet", s"$work/scratch")

    val append = smoke.ensure(TrimIndex, dir)
    val remAfter = ParquetIO.read(spark, remT).count()
    smoke.report("trim-append-smoke", None, src, build, Seq(append),
      Smoke.appendedVersion(remT, vBefore) && remAfter > remBefore,
      s"removed $remBefore -> $remAfter, version $vBefore -> ${ParquetIO.currentVersion(remT).get}")
    spark.stop()
  }
}
