package graft

import java.nio.file.Paths
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.functions._

/** Measures the round-9 optimistic-concurrency layer
  * ([[pipeline.ParquetIO]] CAS commits + compaction) the way AppendSmoke
  * measures the ANN append arm — numbers, not claims:
  *
  *  1. **Compaction scale shape**: land a K-replica `documents` corpus
  *     as 64 micro-batch shards and time `compact` at two scales (1
  *     replica vs K) — the rewrite is one narrow coalesce pass, so
  *     seconds should grow ~linearly with bytes while the file count
  *     drops 64 → ⌈bytes/target⌉ at both scales; content checksums
  *     before/after must match.
  *  2. **OCC contention cost**: W writer threads × C commits each of
  *     disjoint-key upserts through `transformConcurrent` on ONE table —
  *     reports wall seconds and effective commits/sec. Every lost claim
  *     is a rebase (recompute + rewrite), so the gap between ideal
  *     (W·C·single-commit) and measured wall IS the protocol's
  *     contention price at this writer count.
  *
  * Usage: runMain graft.OccSmoke [srcSfDir] [K] [workDir]
  */
object OccSmoke {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 10
    val work = if (args.length > 2) args(2) else "/tmp/graft-occ-smoke"
    val smoke = Smoke()
    val spark = smoke.spark
    import spark.implicits._

    def checksum(dir: String): Long =
      pipeline.ParquetIO.read(spark, dir)
        .agg(sum(conv(substring(md5(concat_ws("|",
          $"doc_id".cast("string"), md5($"text"))), 1, 8), 16, 10)
          .cast("long")))
        .first().getLong(0)

    // reps key-offset replicas of the documents table
    val docs = Tables.load(spark, src, "documents")
    val nDocs = docs.count()
    def scaledDocs(reps: Int) = (0 until reps).map { r =>
      docs.select(($"doc_id" + lit(r * nDocs)).as("doc_id"), $"text",
        $"lang", $"source", $"n_chars")
    }.reduce(_ unionByName _)

    // ---- 1. compaction at two scales --------------------------------
    def compactRun(reps: Int): (Double, pipeline.ParquetIO.CompactionStats) = {
      val dir = s"$work/compact-x$reps/docs"
      pipeline.ParquetIO.overwriteConcurrent(scaledDocs(reps).repartition(64), dir)
      val before = checksum(dir)
      val (stats, Smoke.Phase(sec, _)) = smoke.measured(
        pipeline.ParquetIO.compact(spark, dir, targetBytes = 4L << 20))
      require(checksum(dir) == before, s"compact x$reps changed content!")
      (sec, stats)
    }
    val (sec1, st1) = compactRun(1)
    val (secK, stK) = compactRun(k)

    // clustered variant on the K-scale table: pays one range shuffle +
    // sort for read-time data skipping — measure the premium over the
    // narrow coalesce rewrite
    val clDir = s"$work/compact-cl/docs"
    pipeline.ParquetIO.overwriteConcurrent(scaledDocs(k).repartition(64, $"text"), clDir)
    val beforeCl = checksum(clDir)
    val (stCl, Smoke.Phase(secCl, _)) = smoke.measured(pipeline.ParquetIO.compact(
      spark, clDir, targetBytes = 4L << 20, clusterBy = Seq("doc_id")))
    require(checksum(clDir) == beforeCl, "clustered compact changed content!")

    // ---- 1b. does clustering actually buy read-time skipping? -------
    // same range predicate against the coalesce-compacted vs clustered
    // K-scale tables: clustered files own disjoint doc_id ranges, so
    // parquet row-group stats should kill most of the scan
    // two 12-file layouts of the same K-scale table: hash-scattered
    // (every file spans the full doc_id domain) vs range-clustered
    // (disjoint per-file ranges); a 5%-selectivity range predicate
    // should read ~1/12 of the clustered bytes and ALL scattered bytes
    val skipPlain = s"$work/skip-plain/docs"
    val skipCl = s"$work/skip-cl/docs"
    val kBase = scaledDocs(k)
    pipeline.ParquetIO.overwriteConcurrent(kBase.repartition(12), skipPlain)
    pipeline.ParquetIO.overwriteConcurrent(kBase.repartition(12), skipCl)
    pipeline.ParquetIO.compact(spark, skipCl,
      targetBytes = math.max(64L << 10, pipeline.ParquetIO.tableBytes(skipCl) / 12),
      clusterBy = Seq("doc_id"))
    val nAll = pipeline.ParquetIO.read(spark, skipPlain).count()
    val rangeHi = nAll / 20 // a 5%-selectivity range predicate
    // aggregate over the WIDE text column so the measurement captures
    // data-column I/O (a bare count() reads only doc_id and column
    // pruning hides the layout difference)
    def rangeScan(dir: String): Long = pipeline.ParquetIO.read(spark, dir)
      .filter($"doc_id" < rangeHi)
      .agg(sum(length($"text"))).first().getLong(0)
    val (nPlainSel, Smoke.Phase(_, plainBytes)) = smoke.measured(rangeScan(skipPlain))
    val (nClSel, Smoke.Phase(_, clBytes)) = smoke.measured(rangeScan(skipCl))
    require(nPlainSel == nClSel, "skipping changed the answer!")

    // ---- 2. OCC contention ------------------------------------------
    val writers = 4
    val commits = 3
    val occDir = s"$work/occ/table"
    // single-writer baseline: one commit of the same shape, uncontended
    val (_, Smoke.Phase(soloSec, _)) = smoke.measured {
      pipeline.ParquetIO.transformConcurrent(spark, s"$work/occ/solo") {
        case _ => Seq.tabulate(1000)(i => (i, "seed")).toDF("k", "src")
      }
    }
    val err = new AtomicReference[Throwable]()
    val (_, Smoke.Phase(occSec, _)) = smoke.measured {
      val ts = (0 until writers).map { w =>
        new Thread(() => try {
          (0 until commits).foreach { c =>
            val slice = Seq.tabulate(1000)(i => (i, s"w$w-c$c"))
              .filter(_._1 % writers == w).toDF("k", "src")
            pipeline.ParquetIO.transformConcurrent(spark, occDir, maxAttempts = 80) {
              case None       => slice
              case Some(base) =>
                base.join(slice, Seq("k"), "left_anti").unionByName(slice)
            }
          }
        } catch { case t: Throwable => err.compareAndSet(null, t) })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    if (err.get() != null) throw err.get()
    val finalRows = pipeline.ParquetIO.read(spark, occDir).count()
    require(finalRows == 1000, s"OCC lost keys: $finalRows != 1000")
    val totalCommits = writers * commits

    // ---- 3. merge-on-read UPSERT vs full-rewrite MERGE ---------------
    // same 1%-of-keys batch against the K-scale documents table: the
    // copy-on-write MERGE re-writes the whole table per batch, upsertMoR
    // writes O(batch) — wall seconds AND bytes written are the claim
    def tableBytes(dir: String): Long = pipeline.ParquetIO.tableBytes(dir)
    val morDir = s"$work/mor/docs"
    val cowDir = s"$work/cow/docs"
    pipeline.ParquetIO.overwriteConcurrent(kBase.repartition(16), morDir)
    pipeline.ParquetIO.overwriteConcurrent(kBase.repartition(16), cowDir)
    // batch derives from the IMMUTABLE source, not the target table: a
    // write to the target refreshes Spark's cache for that path, so a
    // target-derived lazy batch would re-evaluate over its own appended
    // rows (the upsertMoR contract)
    val batch = kBase
      .filter($"doc_id" % 100 === 0)
      .withColumn("text", concat($"text", lit(" [rev2]"))).persist()
    batch.count()
    val bytesBeforeMor = tableBytes(morDir)
    val (_, Smoke.Phase(morSec, _)) = smoke.measured(
      pipeline.ParquetIO.upsertMoR(spark, morDir, batch, Seq("doc_id")))
    val morWritten = tableBytes(morDir) - bytesBeforeMor
    val (_, Smoke.Phase(cowSec, _)) = smoke.measured {
      pipeline.ParquetIO.transformConcurrent(spark, cowDir) {
        case Some(base) =>
          base.join(batch.select($"doc_id"), Seq("doc_id"), "left_anti")
            .unionByName(batch)
        case None => batch
      }
    }
    val cowWritten = tableBytes(cowDir) // the rewrite IS the new version
    val morRows = pipeline.ParquetIO.readMoR(spark, morDir)
    val cowRows = pipeline.ParquetIO.read(spark, cowDir)
    require(morRows.count() == cowRows.count(),
      "MoR and CoW merges disagree on row count")
    require(morRows.filter($"text".endsWith("[rev2]")).count() ==
      cowRows.filter($"text".endsWith("[rev2]")).count(),
      "MoR and CoW merges disagree on updated rows")
    batch.unpersist()
    System.err.println(
      f"[occ-smoke] compact x1: $sec1%.2f s (${st1.filesBefore}->${st1.filesAfter} files, " +
        f"${st1.bytesBefore / 1e6}%.1f MB); compact x$k: $secK%.2f s " +
        f"(${stK.filesBefore}->${stK.filesAfter} files, ${stK.bytesBefore / 1e6}%.1f MB); " +
        f"clustered x$k: $secCl%.2f s (${stCl.filesBefore}->${stCl.filesAfter} files); " +
        f"occ: $totalCommits commits / $writers writers in $occSec%.2f s " +
        f"(${totalCommits / occSec}%.2f commits/s, solo commit $soloSec%.2f s); " +
        f"merge 1%%-batch x$k: MoR $morSec%.2f s / ${morWritten / 1e6}%.1f MB written " +
        f"vs CoW $cowSec%.2f s / ${cowWritten / 1e6}%.1f MB; " +
        f"5%%-range read: coalesced ${plainBytes / 1e6}%.2f MB vs clustered ${clBytes / 1e6}%.2f MB")
    println(s"""{"k":$k,"src":"$src","compact1_sec":${f"$sec1%.2f"},""" +
      s""""compactK_sec":${f"$secK%.2f"},"compact1_files":[${st1.filesBefore},${st1.filesAfter}],""" +
      s""""compactK_files":[${stK.filesBefore},${stK.filesAfter}],""" +
      s""""compact1_bytes":${st1.bytesBefore},"compactK_bytes":${stK.bytesBefore},""" +
      s""""clusteredK_sec":${f"$secCl%.2f"},"clusteredK_files":[${stCl.filesBefore},${stCl.filesAfter}],""" +
      s""""occ_writers":$writers,"occ_commits":$totalCommits,""" +
      s""""occ_sec":${f"$occSec%.2f"},"occ_solo_sec":${f"$soloSec%.2f"},""" +
      s""""mor_sec":${f"$morSec%.2f"},"mor_bytes":$morWritten,""" +
      s""""cow_sec":${f"$cowSec%.2f"},"cow_bytes":$cowWritten,""" +
      s""""range_read_plain_bytes":$plainBytes,"range_read_clustered_bytes":$clBytes}""")
    spark.stop()
    // scratch tables are at $work; safe to delete between runs
    graft.pipeline.ParquetIO.deleteTree(Paths.get(work))
  }
}
