package graft

import org.apache.spark.sql.functions._

/** Measures the O(delta) selection arm (q292's production cadence)
  * against the full recompute it replaces — the AppendSmoke discipline
  * applied to SemDeDup:
  *
  *  1. FULL: frozen-codebook SemDeDup over the whole corpus (assign +
  *     all three pair-vote terms) — what a naive pipeline re-runs per
  *     ingest batch;
  *  2. MATERIALIZE the base state (assignments + base×base removals)
  *     to parquet — what a production pipeline has on disk already;
  *  3. DELTA: route ONLY the delta batch against the frozen codebook,
  *     read the materialized base state, run only the two
  *     delta-touching vote terms, and union with the stored verdicts.
  *
  * Reports wall seconds and task `inputMetrics.bytesRead` for (1) and
  * (3), and asserts the delta arm's verdict set EQUALS the full
  * recompute's (the q292 equivalence, re-checked here at smoke scale so
  * the timing comparison can't drift from a semantics change).
  *
  * Usage: runMain graft.DeltaSelectSmoke [sfDir] [workDir]
  */
object DeltaSelectSmoke {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = if (args.length > 1) args(1) else "/tmp/graft-delta-select"
    val smoke = Smoke()
    val spark = smoke.spark
    import spark.implicits._

    import graft.operators.Similarity._
    val S = graft.operators.Similarity
    def emb = Tables.load(spark, dir, "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(aggregate(zip_with($"v", $"v", _ * _),
        lit(0.0), _ + _)))
    def base = emb.filter($"vec_id" % 10 =!= 7)
    def delta = emb.filter($"vec_id" % 10 === 7)

    // phase 0 (untimed): train the frozen codebook once and pin it —
    // both arms broadcast the same artifact, exactly as production
    // (codebook lives in the index, not retrained per batch)
    val cb = S.ivfCodebookOf(spark, base.select($"vec_id", $"v"), "c")
      .localCheckpoint()

    // phase 1: full recompute over the union
    val (fullVerdicts, semFull) = smoke.measured {
      val baseA = S.semdedupAssign(spark, base, cb).persist()
      val deltaA = S.semdedupAssign(spark, delta, cb).persist()
      val unionA = baseA.unionByName(deltaA)
      val removed = S.semdedupRemovals(unionA, unionA).persist()
      val out = unionA.join(removed, unionA("vec_id") === removed("xid"), "left")
        .select(unionA("vec_id"), removed("xid").isNotNull.as("removed"))
        .as[(Long, Boolean)].collect().toMap
      baseA.unpersist(false); deltaA.unpersist(false); removed.unpersist(false)
      out
    }

    // phase 2 (untimed): materialize the base state production holds
    val baseA = S.semdedupAssign(spark, base, cb)
    baseA.write.mode("overwrite").parquet(s"$work/base_assign.parquet")
    val storedBaseA = spark.read.parquet(s"$work/base_assign.parquet")
    S.semdedupRemovals(storedBaseA, storedBaseA)
      .write.mode("overwrite").parquet(s"$work/base_removed.parquet")
    spark.catalog.clearCache()

    // phase 3: the delta arm — delta routing + the two delta-touching
    // vote terms + stored verdicts; no corpus-wide pair work
    val (deltaVerdicts, semDelta) = smoke.measured {
      val dA = S.semdedupAssign(spark, delta, cb).persist()
      val bA = spark.read.parquet(s"$work/base_assign.parquet")
      val storedRemoved = spark.read.parquet(s"$work/base_removed.parquet")
      val unionA = bA.unionByName(dA)
      val removed = storedRemoved
        .unionByName(S.semdedupRemovals(unionA, dA))
        .unionByName(S.semdedupRemovals(dA, bA))
        .distinct().persist()
      val out = unionA.join(removed, unionA("vec_id") === removed("xid"), "left")
        .select(unionA("vec_id"), removed("xid").isNotNull.as("removed"))
        .as[(Long, Boolean)].collect().toMap
      dA.unpersist(false); removed.unpersist(false)
      out
    }

    require(fullVerdicts == deltaVerdicts,
      s"delta arm diverged from full recompute: " +
        s"${fullVerdicts.size} vs ${deltaVerdicts.size} verdicts, " +
        s"diff=${(fullVerdicts.toSet diff deltaVerdicts.toSet).take(5)}")
    val nDelta = fullVerdicts.keys.count(_ % 10 == 7)

    // ---- DSIR twin (q293's cadence): frozen model, materialized base
    // scores; the delta arm featurizes ONLY the delta batch and re-cuts
    // the global budget over the score-table union
    val T = graft.operators.TextAnalysis
    def docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", $"text")
    val dbBase = T.dsirDocBuckets(docs.filter($"doc_id" % 10 =!= 7))
      .localCheckpoint()
    val lrFrozen = T.dsirModel(dbBase).localCheckpoint()
    val (fullKeep, dsirFull) = smoke.measured {
      T.dsirKeepCut(spark, T.dsirScore(T.dsirDocBuckets(docs), lrFrozen))
        .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    }
    T.dsirScore(dbBase, lrFrozen)
      .write.mode("overwrite").parquet(s"$work/base_scores.parquet")
    spark.catalog.clearCache()
    val (deltaKeep, dsirDelta) = smoke.measured {
      val union = spark.read.parquet(s"$work/base_scores.parquet")
        .unionByName(T.dsirScore(
          T.dsirDocBuckets(docs.filter($"doc_id" % 10 === 7)), lrFrozen))
      T.dsirKeepCut(spark, union)
        .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    }
    require(fullKeep == deltaKeep,
      s"DSIR delta arm diverged: ${fullKeep.size} vs ${deltaKeep.size}")
    // honest note on the DSIR bytes at THIS scale: the corpus text is
    // small and snappy-compressed while the materialized score table is
    // 5 typed columns, so delta_bytes ≈ full_bytes here — the delta
    // win is the avoided base FEATURIZATION (the ~30×-row gram
    // explosion is compute, not input bytes): wall-clock shows it
    // (measured 5.9 s → 1.9 s). At production text:score byte ratios
    // (documents are KBs, a score row is ~40 B) the bytes ratio
    // follows the same direction.

    println(f"""{"semdedup":{"full_sec":${semFull.sec}%.2f,"full_bytes":${semFull.bytes},""" +
      f""""delta_sec":${semDelta.sec}%.2f,"delta_bytes":${semDelta.bytes},""" +
      f""""n_vectors":${fullVerdicts.size},"n_delta":$nDelta,"equal":true},""" +
      f""""dsir":{"full_sec":${dsirFull.sec}%.2f,"full_bytes":${dsirFull.bytes},""" +
      f""""delta_sec":${dsirDelta.sec}%.2f,"delta_bytes":${dsirDelta.bytes},""" +
      f""""n_docs":${fullKeep.size},"equal":true}}""")
    spark.stop()
  }
}
