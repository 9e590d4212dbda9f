package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.LshIndex
import graft.pipeline.ParquetIO

/** Measures the incremental arm of the materialized LSH band index
  * ([[operators.LshIndex]]) against the full build it replaces — the
  * [[AppendSmoke]]/[[GraphAppendSmoke]] discipline on the dedup family:
  * build over a K-replica documents corpus, land ONE more replica's
  * part files, re-ensure, and report wall seconds + task bytesRead for
  * both phases. The append must shingle/sign only the delta (~1/K of
  * the build's bytes) and take the hard-linked append-version arm.
  *
  * Usage: runMain graft.LshAppendSmoke [srcSfDir] [K] [workDir]
  */
object LshAppendSmoke {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 10
    val work = if (args.length > 2) args(2) else "/tmp/graft-lsh-append-smoke"
    val smoke = Smoke()
    val spark = smoke.spark
    import spark.implicits._

    val base = Tables.load(spark, src, "documents").select($"doc_id", $"text")
    val md = base.agg(max($"doc_id")).first().getLong(0) + 1L
    def rep(i: Int): DataFrame =
      base.select(($"doc_id" + i * md).as("doc_id"), $"text")

    val dir = s"$work/k$k"
    (0 until k).map(rep).reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val build = smoke.build(LshIndex, dir)
    val bandsT = LshIndex.tableDir(dir, "bands")
    val vBefore = ParquetIO.currentVersion(bandsT).get
    val bandsBefore = ParquetIO.read(spark, bandsT).count()

    Smoke.landDelta(rep(k), s"$dir/documents.parquet", s"$work/scratch")

    val append = smoke.ensure(LshIndex, dir)
    val bandsAfter = ParquetIO.read(spark, bandsT).count()
    // replica K signs to exactly 1/K of the base's band rows
    smoke.report("lsh-append-smoke", Some(k), src, build, Seq(append),
      Smoke.appendedVersion(bandsT, vBefore) && bandsAfter - bandsBefore == bandsBefore / k,
      s"bands $bandsBefore -> $bandsAfter, version $vBefore -> ${ParquetIO.currentVersion(bandsT).get}")
    spark.stop()
  }
}
