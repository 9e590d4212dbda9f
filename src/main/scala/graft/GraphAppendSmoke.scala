package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.GraphIndex
import graft.pipeline.ParquetIO

/** Measures the incremental arm of the materialized graph index
  * ([[operators.GraphIndex]]) against the full build it replaces — the
  * [[AppendSmoke]] discipline applied to edges:
  *
  *  1. assemble a K-replica orders+lineitem corpus (key-offset replicas,
  *     the [[ScaleSmoke]] recipe) and time `GraphIndex.ensure` — the
  *     full orders ⋈ lineitem derivation;
  *  2. land ONE more replica's part files in the same source dirs (the
  *     append-only growth `incrementalDelta` detects) and time `ensure`
  *     again — the delta-only derivation + anti-join + degree merge;
  *  3. report wall seconds AND task-level bytesRead for both phases:
  *     the append derives edges from 1/K of the raw bytes plus one scan
  *     of the compact edge artifact, never a raw rebuild.
  *
  * Also checks the append arm actually ran (edges version moved by one
  * AND carries hard-linked `prev*` files) — a silent fall-through to
  * the rebuild would make the timing comparison vacuous.
  *
  * Usage: runMain graft.GraphAppendSmoke [srcSfDir] [K] [workDir]
  */
object GraphAppendSmoke {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 4
    val work = if (args.length > 2) args(2) else "/tmp/graft-graph-append-smoke"
    val smoke = Smoke()
    val spark = smoke.spark
    import spark.implicits._

    // key-offset replica i of the two graph sources (the ScaleSmoke
    // formulas, restricted to the columns the index reads)
    val ob = Tables.load(spark, src, "orders").select($"o_orderkey", $"o_custkey")
    val lb = Tables.load(spark, src, "lineitem").select($"l_orderkey", $"l_suppkey")
    val mo = ob.agg(max($"o_orderkey")).first().getLong(0) + 1L
    val mc = ob.agg(max($"o_custkey")).first().getLong(0) + 1L
    val ms = lb.agg(max($"l_suppkey")).first().getLong(0) + 1L
    def ordersRep(i: Int): DataFrame = ob.select(
      ($"o_orderkey" + i * mo).as("o_orderkey"), ($"o_custkey" + i * mc).as("o_custkey"))
    def lineitemRep(i: Int): DataFrame = lb.select(
      ($"l_orderkey" + i * mo).as("l_orderkey"), ($"l_suppkey" + i * ms).as("l_suppkey"))

    val dir = s"$work/k$k"
    (0 until k).map(ordersRep).reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    (0 until k).map(lineitemRep).reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    val build = smoke.build(GraphIndex, dir)
    val edgesT = GraphIndex.tableDir(dir, "edges")
    val vBefore = ParquetIO.currentVersion(edgesT).get
    val edgesBefore = ParquetIO.read(spark, edgesT).count()

    // land replica K as new part files in the SAME source dirs
    Smoke.landDelta(ordersRep(k), s"$dir/orders.parquet", s"$work/scratch-o")
    Smoke.landDelta(lineitemRep(k), s"$dir/lineitem.parquet", s"$work/scratch-l")

    val append = smoke.ensure(GraphIndex, dir)
    val edgesAfter = ParquetIO.read(spark, edgesT).count()
    // replica K's edge set is key-disjoint from the base, so it must add
    // exactly edgesBefore / k rows
    smoke.report("graph-append-smoke", Some(k), src, build, Seq(append),
      Smoke.appendedVersion(edgesT, vBefore) && edgesAfter - edgesBefore == edgesBefore / k,
      s"edges $edgesBefore -> $edgesAfter, version $vBefore -> ${ParquetIO.currentVersion(edgesT).get}")
    spark.stop()
  }
}
