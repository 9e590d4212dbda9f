package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Similarity}
import graft.pipeline.ParquetIO

/** Measures the incremental arm of the materialized ANN index
  * ([[operators.AnnIndex]]) against the full build it replaces — the
  * round-8 O(delta) claim, measured instead of argued:
  *
  *  1. build a K-replica corpus ([[ScaleSmoke.buildScaled]]) and time
  *     `AnnIndex.ensure` — the full O(n·k) train+route+assign pass;
  *  2. land ONE more replica's parquet files in the same source
  *     directory (the append-only growth pattern `incrementalDelta`
  *     detects) and time `ensure` again — the frozen-codebook append;
  *  3. report wall seconds AND task-level `inputMetrics.bytesRead` for
  *     both phases: the append must route only the delta against
  *     broadcast codebooks, so bytes read should be ~1/K of the
  *     rebuild's (plus the fixed codebook reads), not O(index).
  *
  * Also checks the append arm actually ran (pq_codes row count grew by
  * exactly |delta|·PqSubspaces without the codebook version moving) —
  * a silent fall-through to the rebuild arm would otherwise make the
  * timing comparison vacuous.
  *
  * Usage: runMain graft.AppendSmoke [srcSfDir] [K] [workDir]
  */
object AppendSmoke {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 10
    val work = if (args.length > 2) args(2) else "/tmp/graft-append-smoke"
    val smoke = Smoke()
    val spark = smoke.spark
    import spark.implicits._

    val dir = s"$work/k$k"
    ScaleSmoke.buildScaled(spark, src, k, dir)
    val build = smoke.build(AnnIndex, dir)
    val codesDir = AnnIndex.tableDir(dir, "pq_codes")
    val cbDir = AnnIndex.tableDir(dir, s"codebook_${AnnIndex.Salts.head}")
    def state = (ParquetIO.read(spark, codesDir).count(), ParquetIO.currentVersion(cbDir))
    val before = state

    // land replica K as new files in the SAME source dir (existing
    // files' name:size:mtime untouched, so the old manifest is a strict
    // subset of the new listing = the append trigger)
    val me = Tables.load(spark, dir, "embeddings")
      .agg(max($"vec_id")).first().getLong(0) + 1L
    val r = k % 64
    val rotated =
      if (r == 0) $"embedding"
      else concat(slice($"embedding", r + 1, 64 - r), slice($"embedding", 1, r))
    val permuted = if (k < 64) rotated else reverse(rotated)
    Smoke.landDelta(Tables.load(spark, src, "embeddings")
        .select(($"vec_id" + lit(k * me)).as("vec_id"), permuted.as("embedding"), $"label"),
      s"$dir/embeddings.parquet", s"$work/delta-scratch")

    val append = smoke.ensure(AnnIndex, dir)
    val after = state
    val deltaVecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter($"vec_id" >= k * me).count()
    smoke.report("append-smoke", Some(k), src, build, Seq(append),
      before._2 == after._2 && after._1 - before._1 == deltaVecs * Similarity.PqSubspaces,
      s"codes ${before._1} -> ${after._1}, codebook version ${before._2} -> ${after._2}")
    spark.stop()
  }
}
