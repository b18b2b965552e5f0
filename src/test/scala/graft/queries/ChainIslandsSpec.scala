package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** r16: q29 was rewritten from Spark's WITH RECURSIVE walk to a
  * gaps-and-islands window (the next-order edge is functional and links
  * only consecutive per-customer orders, so max walk depth per root ==
  * consecutive-run length). This spec pins the equivalence on fixtures
  * that exercise the boundary semantics — equal order dates (orderkey
  * tie-break), an exactly-7-day gap (same chain: root predicate is
  * STRICTLY greater than prev + 7 days), an 8-day gap (new chain),
  * singleton customers, and interleaved customers — by running BOTH
  * forms and asserting frame equality. The sf-corpus equivalence is the
  * driver's oracle hash match (q29Sql is the unchanged recursive walk).
  */
class ChainIslandsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  /** The pre-r16 recursive-walk form, verbatim (edges/roots + UnionLoop),
    * as the in-suite reference implementation. */
  private def recursiveForm(ords: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.{Window => W}
    val w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val seq0 = ords
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("next_key", lead("o_orderkey", 1).over(w))
      .withColumn("next_date", lead("o_orderdate", 1).over(w))
      .withColumn("prev_date", lag("o_orderdate", 1).over(w))
    val edges = seq0.filter(col("next_key").isNotNull &&
        col("next_date") <= col("o_orderdate") + expr("INTERVAL 7 DAY"))
      .select("o_orderkey", "next_key")
    val roots = seq0.filter(col("prev_date").isNull ||
        col("o_orderdate") > col("prev_date") + expr("INTERVAL 7 DAY"))
      .select("o_orderkey")
    edges.createOrReplaceTempView("edges_cis")
    roots.createOrReplaceTempView("roots_cis")
    try spark.sql(
      """WITH RECURSIVE walk AS (
        |  SELECT o_orderkey AS root, o_orderkey AS cur, 1 AS depth FROM roots_cis
        |  UNION ALL
        |  SELECT w.root, e.next_key, w.depth + 1
        |  FROM walk w JOIN edges_cis e ON w.cur = e.o_orderkey
        |)
        |SELECT CAST(depth AS BIGINT) AS chain_len,
        |  CAST(COUNT(*) AS BIGINT) AS n_chains
        |FROM (SELECT root, MAX(depth) AS depth FROM walk GROUP BY root)
        |GROUP BY 1 ORDER BY 1""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    finally {
      spark.catalog.dropTempView("edges_cis")
      spark.catalog.dropTempView("roots_cis")
    }
  }

  private def fixture(rows: Seq[(Long, Long, String)]) = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    rows.toDF("o_custkey", "o_orderkey", "d")
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("d")).as("o_orderdate"))
  }

  test("islands form == recursive walk on boundary fixtures") {
    val ords = fixture(Seq(
      // cust 1: run of 3 with an exactly-7-day gap inside (same chain),
      // then an 8-day gap (new chain of 1)
      (1L, 10L, "2024-01-01"), (1L, 11L, "2024-01-08"),
      (1L, 12L, "2024-01-10"), (1L, 13L, "2024-01-18"),
      // cust 2: two orders on the SAME date (orderkey tie-break), chained
      (2L, 20L, "2024-03-05"), (2L, 21L, "2024-03-05"),
      // cust 3: singleton
      (3L, 30L, "2024-06-01"),
      // cust 4: strictly descending keys on consecutive days (key order
      // must not matter, date order does)
      (4L, 42L, "2024-02-01"), (4L, 41L, "2024-02-02"),
      (4L, 40L, "2024-02-03")))
    val islands = Relational3.chainHistogramOf(ords)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(islands == recursiveForm(ords))
    // and the expected histogram by hand: chains {3,1} (c1), {2} (c2),
    // {1} (c3), {3} (c4) -> len 1 x2, len 2 x1, len 3 x2
    assert(islands == Seq((1L, 2L), (2L, 1L), (3L, 2L)))
  }

  test("islands form == recursive walk on the sf0.001 corpus") {
    val ords = Tables.orders(spark, "/root/testdata/sf0.001")
    val islands = Relational3.chainHistogramOf(ords)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(islands.nonEmpty)
    assert(islands == recursiveForm(ords))
  }
}
