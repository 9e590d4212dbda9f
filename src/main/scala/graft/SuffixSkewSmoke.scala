package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.ParquetIO.deleteTree

/** Measures the [[operators.SuffixIndex]] merge arm's collision
  * BOUNDING on the adversarial corpus class the r13 verdict named: one
  * boilerplate string repeated k times across pool and delta (license
  * headers, templated docs — exactly what a dedup pipeline ingests).
  * The r13 all-pairs kernel paired every delta suffix against every
  * same-window suffix — k_delta × k_total rows per window group, k² on
  * this corpus. The bounded arm re-windows groups past
  * [[operators.SuffixIndex.MergeCollisionCap]] by doubling chunks and
  * counts cross-chunk order with per-group DISTINCT-chunk windows, so
  * comparison rows are capped at cap·|delta| by construction. This
  * smoke runs the append at growing k and prints, per level, the
  * measured kernel rows next to the naive Σ ndel·(nt−1) the unbounded
  * kernel would have materialized — the k·cap vs k² record the r14
  * done-criterion asks for.
  *
  * Usage: runMain graft.SuffixSkewSmoke [workDir]
  */
object SuffixSkewSmoke {

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("/tmp/graft-suffix-skew-smoke")
    val smoke = Smoke()
    val spark = smoke.spark
    import spark.implicits._

    val boiler =
      ("all rights reserved redistribution and use in source and binary forms " +
        "with or without modification are permitted provided that " * 2).trim
    val levels = Seq(250, 500, 1000)
    val recs = levels.map { k =>
      val dir = s"$work/k$k"
      deleteTree(Paths.get(dir))
      val base = spark.range(1, k + 1)
        .select(($"id" * 10).as("doc_id"),
          concat(lit(s"$boiler tail "), $"id".cast("string")).as("text"))
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      smoke.build(operators.SuffixIndex, dir)

      val delta = spark.range(1, k / 10 + 1)
        .select((lit(1000000L) + $"id" * 10).as("doc_id"),
          concat(lit(s"$boiler delta "), $"id".cast("string")).as("text"))
      // what the r13 all-pairs kernel would have materialized: per
      // equal-window group, every delta suffix × every other member
      val w = (df: DataFrame) => df
        .select($"doc_id", explode(sequence(lit(1), length($"text"))).as("pos"),
          $"text")
        .select(expr(s"substring(text, pos, ${operators.Dedup.SufBase})").as("g"))
      val naive = w(base).groupBy($"g").agg(count(lit(1)).as("cb"))
        .join(w(delta).groupBy($"g").agg(count(lit(1)).as("cd")), Seq("g"))
        .select(sum($"cd" * ($"cb" + $"cd" - 1))).head().getLong(0)

      Smoke.landDelta(delta, s"$dir/documents.parquet", s"$work/scratch")
      val sec = smoke.ensure(operators.SuffixIndex, dir).sec
      val arm = Files.readString(
        operators.SuffixIndex.indexPathFor(dir).resolve("_last_arm")).trim
      val kern = operators.SuffixIndex.lastMergeKernelRows
      val rounds = operators.SuffixIndex.lastMergeRounds
      System.err.println(
        f"[suffix-skew-smoke] k=$k%d append=$sec%.2f s arm=$arm " +
          s"kernelRows=$kern naiveRows=$naive rounds=$rounds")
      s"""{"k":$k,"append_sec":${f"$sec%.2f"},"kernel_rows":$kern,""" +
        s""""naive_rows":$naive,"rounds":$rounds,"arm":"$arm"}"""
    }
    println(s"""{"levels":[${recs.mkString(",")}]}""")
    spark.stop()
  }
}
