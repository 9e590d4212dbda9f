package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions

/** A session built with `.withExtensions(new GraftExtensions)` (the
  * builder twin of `spark.sql.extensions=graft.functions.GraftExtensions`)
  * exposes every native function to pure SQL with no application code —
  * the cluster-wide deployment path.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("SparkSessionExtensions injects the native functions into SQL") {
    // SparkTestSession's context is shared; Builder.create() makes a NEW
    // session (reusing the running SparkContext) so the extensions are
    // actually applied — getOrCreate() would return the existing default
    // session and silently skip them.
    SparkTestSession.spark
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .create()
    try {
      Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .createOrReplaceTempView("docs_ext")
      val row = spark.sql(
        """SELECT simhash64(split(text, ' ')) AS sh64,
          |  repetition_stats(word_shingles(text, 3)).n_distinct AS nd,
          |  dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp
          |FROM docs_ext WHERE doc_id = 0""".stripMargin).first()
      assert(!row.isNullAt(0))
      assert(row.getLong(1) > 0)
      assert(row.getDouble(2) == 11.0)
      // DESCRIBE FUNCTION works like a builtin
      val desc = spark.sql("DESCRIBE FUNCTION quantize_stats")
        .collect().map(_.getString(0)).mkString("\n")
      assert(desc.contains("quantize_stats"))

      // injected optimizer rule: the builtin fold over a parquet-backed
      // table (a literal Seq would be constant-folded whole) is rewritten
      // to the native DotProduct and produces the identical value
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val v = transform($"embedding", x => x.cast("double"))
      val folded = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
        .select($"vec_id", aggregate(zip_with(v, v, (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x).as("d"))
      val optimized = folded.queryExecution.optimizedPlan
      val rewritten = optimized.expressions.exists(_.exists(
        _.isInstanceOf[graft.functions.NativeExpressions.DotProduct]))
      assert(rewritten, s"DotProductRewrite did not fire:\n$optimized")
      val native = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
        .select($"vec_id", graft.functions.NativeExpressions.dotProduct(v, v).as("d"))
      assert(folded.join(native.withColumnRenamed("d", "nd"), "vec_id")
        .filter($"d" =!= $"nd").count() == 0)

      // round-4 aggregate injections: a heavy-hitters summary and a
      // bloom build+probe round trip, both from pure SQL
      val hh = spark.sql(
        """SELECT misra_gries(lang, 8) AS hh FROM docs_ext""").first()
        .getSeq[org.apache.spark.sql.Row](0)
      assert(hh.nonEmpty && hh.forall(_.getLong(1) > 0))
      // the bloom side must be constant-foldable: a scalar subquery (the
      // same shape InjectRuntimeFilter plants) — a join column is rejected
      val bloomOk = spark.sql(
        """SELECT count(*) FROM docs_ext
          |WHERE NOT might_contain(
          |  (SELECT bloom_filter_agg(doc_id, 10000L, 80000L) FROM docs_ext),
          |  doc_id)""".stripMargin)
        .first().getLong(0)
      assert(bloomOk == 0, "no false negatives via the SQL surface")
    } finally {
      // do NOT stop() this session: it shares the suite-wide SparkContext
      // (stop would kill every later suite); just detach it
      SparkSession.clearActiveSession()
      SparkSession.setDefaultSession(SparkTestSession.spark)
    }
  }

  test("Sessions is the only session builder in src/main") {
    // one config for every entry point: a second builder or a
    // hard-coded master would let what runs drift from what is tested
    val root = Paths.get("src/main/scala")
    val st = Files.walk(root)
    val sources = try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    assert(sources.exists(_.getFileName.toString == "Sessions.scala"))
    val offenders = sources.filter { p =>
      val code = Files.readString(p)
      p.getFileName.toString != "Sessions.scala" &&
        (code.contains("SparkSession.builder()") || code.contains("local["))
    }
    assert(offenders.isEmpty, s"session built outside Sessions: ${offenders.mkString(", ")}")
  }

  test("the pipeline topology is written only in Pipeline.models") {
    // RunPipeline and Docs iterate the model list; a table name spelled
    // out in either (literal or comment) would be a second, unchecked
    // copy of the DAG
    val tables = graft.pipeline.Pipeline.models.map(_.name)
    assert(tables.size == 11)
    val offenders = for {
      f <- Seq("RunPipeline.scala", "Docs.scala")
      code = Files.readString(Paths.get("src/main/scala/graft/pipeline", f))
      t <- tables if code.contains(t)
    } yield s"$f names $t"
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
