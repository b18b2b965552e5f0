package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Native vector expressions: results equal the interpreted HOF spelling,
  * codegen path actually compiles (whole-stage codegen retained), and the
  * SparkSessionExtensions hook resolves the functions in plain SQL. This is
  * the one suite that builds a session of its own (see the last test). */
class VectorExpressionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = graft.TestSession.spark
    GraftFunctions.register(s)
    s
  }

  test("dot_i64 / normsq_i64 equal the interpreted HOF results") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val vecs = (0 until 100).map { i =>
      (i.toLong, Array.fill(64)(rng.nextInt(4001).toLong - 2000),
        Array.fill(64)(rng.nextInt(4001).toLong - 2000))
    }
    val df = vecs.toDF("id", "a", "b")
    val got = df.select(col("id"),
      expr("dot_i64(a, b)").as("dot"),
      expr("normsq_i64(a)").as("nsq"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)").as("dot_hof"),
      expr("aggregate(transform(a, x -> x * x), 0L, (acc, v) -> acc + v)").as("nsq_hof"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(1) == r.getLong(3), s"dot mismatch @${r.getLong(0)}")
      assert(r.getLong(2) == r.getLong(4), s"normsq mismatch @${r.getLong(0)}")
    }
    // null propagation
    val nulls = spark.sql(
      "SELECT dot_i64(CAST(NULL AS ARRAY<BIGINT>), array(1L)) n1, " +
        "normsq_i64(CAST(NULL AS ARRAY<BIGINT>)) n2")
      .collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("expressions stay inside whole-stage codegen") {
    // a real scan so the plan is not collapsed into a LocalRelation
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(round(x * 1000) as bigint)) as q")
      .selectExpr("dot_i64(q, q) as d", "normsq_i64(q) as n")
    val codegen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"), codegen.take(400))
    // the generated java must contain our loop, not a fallback to eval()
    assert(codegen.contains("Math.min"), codegen.take(2000))
    val r = df.collect()
    assert(r.nonEmpty && r.forall(row => row.getLong(0) == row.getLong(1)))
  }

  test("SparkSessionExtensions injection resolves in a fresh session") {
    // the builder's withExtensions hook drives the same injectFunction path
    // as `spark.sql.extensions` and works for any new session — force one
    // by clearing the active/default session. The shared session is built
    // first, so the fresh session reuses its SparkContext instead of
    // defining the context for every later suite in this JVM.
    spark
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2.sql("SELECT dot_i64(array(2L, 3L), array(4L, 5L)) d")
        .collect().head.getLong(0) == 23L)
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
