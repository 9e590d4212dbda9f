package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.ParquetIO

/** The smoke mains' shared plumbing: a phase's metered scan bytes come
  * from the tasks it ran and nothing else, and a landed delta adds only
  * data files to the target table.
  */
class SmokeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def names(dir: String): Set[String] = {
    val st = Files.list(Paths.get(dir))
    try st.iterator().asScala.map(_.getFileName.toString).toSet
    finally st.close()
  }

  test("measured meters scan bytes: > 0 for a parquet scan, 0 for spark.range") {
    val smoke = new Smoke(spark)
    try {
      val (total, scan) = smoke.measured(
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
          .selectExpr("sum(o_totalprice)").first())
      assert(!total.isNullAt(0))
      assert(scan.bytes > 0 && scan.sec > 0)
      val (_, range) = smoke.measured(
        spark.range(100000L).selectExpr("sum(id)").first())
      assert(range.bytes == 0)
    } finally spark.sparkContext.removeSparkListener(smoke.meter)
  }

  test("landDelta moves only data files; markers and checksums stay behind") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-smoke-spec")
    try {
      val target = root.resolve("t.parquet").toString
      val scratch = root.resolve("scratch").toString
      Seq(1L, 2L).toDF("id").write.parquet(target)
      val before = names(target)
      Smoke.landDelta(Seq(3L, 4L, 5L).toDF("id"), target, scratch)
      val landed = names(target) -- before
      assert(landed.nonEmpty && landed.forall(_.startsWith("delta-part-")))
      val left = names(scratch)
      assert(left.contains("_SUCCESS") && left.exists(_.endsWith(".crc")))
      assert(!left.exists(_.startsWith("part-")))
      assert(spark.read.parquet(target).as[Long].collect().sorted.toSeq == (1L to 5L))
    } finally ParquetIO.deleteTree(root)
  }
}
