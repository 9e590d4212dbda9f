package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SuffixIndex}
import graft.pipeline.ParquetIO

/** Measures the incremental arm of the materialized suffix permutation
  * ([[operators.SuffixIndex]]) against the full doubling build it
  * replaces — the [[TrimAppendSmoke]] discipline on the suffix family:
  * build over the source documents corpus, land a re-crawl delta batch
  * (every 10th POOL doc re-ingested under a new pool id — deep window
  * collisions up to fully identical suffixes, the worst case for the
  * merge's comparison kernel), re-ensure, and report wall seconds +
  * task bytesRead for both phases. The append must scan history once
  * for its windows (never re-running a doubling round over it) and
  * take the merge arm (`_last_arm` breadcrumb).
  *
  * Usage: runMain graft.SuffixAppendSmoke [srcSfDir] [workDir]
  */
object SuffixAppendSmoke {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = if (args.length > 1) args(1) else "/tmp/graft-suffix-append-smoke"
    val smoke = Smoke()
    val spark = smoke.spark
    import spark.implicits._

    val base = Tables.load(spark, src, "documents").select($"doc_id", $"text")
    val dir = s"$work/corpus"
    ParquetIO.deleteTree(Paths.get(dir))
    base.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val build = smoke.build(SuffixIndex, dir)
    val rT = SuffixIndex.tableDir(dir, "ranks")
    val nBefore = ParquetIO.read(spark, rT).count()
    def arm = Files.readString(SuffixIndex.indexPathFor(dir).resolve("_last_arm")).trim

    // the re-crawl batch: every 10th POOL doc re-ingested under a new
    // id that stays in the pool (doc_id % SufMod == 0 preserved)
    Smoke.landDelta(
      base.filter($"doc_id" % (Dedup.SufMod * 10) === 0)
        .select(($"doc_id" + lit(Dedup.TwinOffset) * 10).as("doc_id"), $"text"),
      s"$dir/documents.parquet", s"$work/scratch")
    val append = smoke.ensure(SuffixIndex, dir)
    val nAfter = ParquetIO.read(spark, rT).count()
    val arm1 = arm

    // second batch — the q327 streaming cadence: per-batch bytes must
    // stay O(base + delta) (one history window scan each), not grow
    // with how many batches came before
    Smoke.landDelta(
      base.filter($"doc_id" % (Dedup.SufMod * 10) === Dedup.SufMod * 3)
        .select(($"doc_id" + lit(Dedup.TwinOffset) * 30).as("doc_id"), $"text"),
      s"$dir/documents.parquet", s"$work/scratch")
    val append2 = smoke.ensure(SuffixIndex, dir)
    val arm2 = arm

    smoke.report("suffix-append-smoke", None, src, build, Seq(append, append2),
      arm1 == "merge" && arm2 == "merge",
      s"arm=$arm1/$arm2, ranks $nBefore -> $nAfter, " +
        s"kernelRows=${SuffixIndex.lastMergeKernelRows} rounds=${SuffixIndex.lastMergeRounds}")
    spark.stop()
  }
}
