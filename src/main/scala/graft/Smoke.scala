package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.ArtifactStore
import graft.pipeline.ParquetIO

/** Plumbing the smoke mains share: a warmed session, metered phases and
  * the append-smoke protocol (cold build, landed delta, re-ensure, arm
  * check) that measures an [[ArtifactStore]]'s O(delta) arm against the
  * full build it replaces.
  */
final class Smoke(val spark: SparkSession) {
  import Smoke.Phase

  val meter: TaskMeter = TaskMeter.attach(spark)

  /** Runs `f` once: its result, wall seconds and the scan bytes its
    * tasks read.
    */
  def measured[A](f: => A): (A, Phase) = {
    meter.settle()
    val b0 = meter.inputBytes.get()
    val t0 = System.nanoTime()
    val a = f
    val sec = (System.nanoTime() - t0) / 1e9
    meter.settle()
    (a, Phase(sec, meter.inputBytes.get() - b0))
  }

  def ensure(store: ArtifactStore, dir: String): Phase =
    measured(store.ensure(spark, dir))._2

  /** Wipes `store`'s index for `dir` first, so the phase measures a
    * build, not a fast-path listing.
    */
  def build(store: ArtifactStore, dir: String): Phase = {
    ParquetIO.deleteTree(store.indexPathFor(dir))
    ensure(store, dir)
  }

  /** The append-smoke record: one stderr line, then one JSON line of
    * `k` (when given), `src`, build and append seconds and bytes
    * (`append2_*`, ... for further appends) and `append_arm`.
    */
  def report(tag: String, k: Option[Int], src: String, build: Phase,
      appends: Seq[Phase], appendArm: Boolean, detail: String): Unit = {
    val named = ("build" -> build) +: appends.zipWithIndex.map { case (p, i) =>
      (if (i == 0) "append" else s"append${i + 1}") -> p
    }
    System.err.println(s"[$tag] " + named.map { case (n, p) =>
      f"$n: ${p.sec}%.2f s / ${p.bytes / 1e6}%.1f MB read"
    }.mkString("; ") + s"; appendArm=$appendArm ($detail)")
    val a = appends.head
    val more = named.drop(2).flatMap { case (n, p) =>
      Seq(f""""${n}_sec":${p.sec}%.2f""", s""""${n}_bytes":${p.bytes}""")
    }
    println((k.map(v => s""""k":$v""").toSeq ++ Seq(s""""src":"$src"""",
      f""""build_sec":${build.sec}%.2f""", f""""append_sec":${a.sec}%.2f""",
      s""""build_bytes":${build.bytes}""", s""""append_bytes":${a.bytes}""") ++
      more :+ s""""append_arm":$appendArm""").mkString("{", ",", "}"))
  }
}

object Smoke {
  final case class Phase(sec: Double, bytes: Long)

  /** The factory session, warmed so the first phase is not charged for
    * JIT and codegen start-up.
    */
  def apply(): Smoke = {
    val spark = Sessions.get()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    new Smoke(spark)
  }

  /** Lands `df` as new `delta-*` data files in the table directory
    * `target`, written first to `scratch` so the target only ever gains
    * complete files. Existing files stay untouched, so the stores'
    * listing sees a strict superset: the append trigger. Markers and
    * checksums stay behind in `scratch`.
    */
  def landDelta(df: DataFrame, target: String, scratch: String): Unit = {
    df.write.mode("overwrite").parquet(scratch)
    val tp = Paths.get(target)
    val st = Files.list(Paths.get(scratch))
    try st.iterator().asScala.toSeq
      .filter { p =>
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }
      .foreach(p => Files.move(p, tp.resolve(s"delta-${p.getFileName}"),
        StandardCopyOption.ATOMIC_MOVE))
    finally st.close()
  }

  /** True when `table` committed exactly one version past `before` and
    * that version carries hard-linked `prev<before>_` files: the
    * append-version arm, not a rebuild.
    */
  def appendedVersion(table: String, before: Long): Boolean =
    ParquetIO.currentVersion(table).contains(before + 1) && {
      val st = Files.list(Paths.get(ParquetIO.versionPath(table, before + 1)))
      try st.iterator().asScala.exists(_.getFileName.toString.startsWith(s"prev${before}_"))
      finally st.close()
    }
}
