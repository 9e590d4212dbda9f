package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SuffixIndex
import graft.pipeline.ParquetIO
import graft.streaming.StreamingOps

/** q327's staged world lives in TWO independently lifecycled roots: the
  * corpus + `_complete` marker under tmpdir/graft-suffix-stream, and the
  * maintained suffix index under the artifact root (SPARK_GRAFT_INDEX_DIR,
  * documented rm-rf-safe). Round 14 regression: a `_complete` marker whose
  * index half is gone (index root wiped, crash before ensure() committed,
  * or a different index root than the staging run) must RE-EXERCISE the
  * loop — the original code crashed reading `_last_arm`, and a bare
  * ensure() would have taken the rebuild arm and broken the 'merge' pin.
  */
class StreamSuffixMaintainSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("torn stage (marker without index) re-exercises the loop; arm stays merge") {
    val dir = "/root/testdata/sf0.001"
    val r1 = StreamingOps.q327StreamSuffixMaintain(spark, dir)
      .collect().map(_.toString).sorted
    assert(r1.nonEmpty)
    // ADVICE r14: target EXACTLY the stage this corpus maps to (the
    // same key derivation q327 uses) instead of sweeping every sibling
    // stage under the shared tmpdir — a concurrent suite touching
    // q327's staged world would otherwise race — and keep the wipe as
    // a plain statement, not a side effect inside a filter predicate.
    val streamRoot = java.nio.file.Paths
      .get(sys.props("java.io.tmpdir"), "graft-suffix-stream")
    val stage = streamRoot.resolve(StreamingOps.q327StageKey(dir))
    val idx = SuffixIndex.indexPathFor(stage.resolve("corpus").toString)
    assert(Files.exists(stage.resolve("_complete")) && Files.exists(idx),
      "expected the run's own completed stage with a live index")
    ParquetIO.deleteTree(idx)
    spark.catalog.clearCache()
    val r2 = StreamingOps.q327StreamSuffixMaintain(spark, dir)
      .collect().map(_.toString).sorted
    assert(r2.sameElements(r1)) // incl. arm == 'merge' on every row
  }
}
