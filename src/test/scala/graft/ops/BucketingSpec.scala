package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Plan gates for the bucketed layout: co-bucketed tables must join with
  * zero Exchange (no shuffle) and zero Sort (bucket files are pre-sorted),
  * while the same join on plain tables shuffles both sides. This is the
  * layout-reuse contract that deletes the per-query shuffle at 100 TB.
  */
class BucketingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val d = "/root/testdata/sf0.001"

  test("co-bucketed join has no Exchange and no Sort; plain join shuffles") {
    val li = graft.queries.Tables.lineitem(spark, d)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val ord = graft.queries.Tables.orders(spark, d)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    Bucketing.writeBucketed(li, "li_bkt", "l_orderkey", 4)
    Bucketing.writeBucketed(ord, "ord_bkt", "l_orderkey", 4)
    try {
      // disable broadcast so the bucketed layout (not a broadcast) is what
      // removes the shuffle — the thing that matters when BOTH sides are big
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // since Spark 3.0 the scan reports sorted bucket order only behind
      // this flag (and only with one file per bucket — writeBucketed
      // guarantees that); without it the join still skips the Exchange but
      // re-sorts per partition
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val joined = Bucketing.coLocatedJoin(spark, "li_bkt", "ord_bkt", "l_orderkey")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed join shuffled:\n$p")
      assert(!p.contains("Sort "), s"bucketed join re-sorted:\n$p")
      // same join without the bucketed layout shuffles both sides
      val plain = li.join(ord, "l_orderkey")
      val pp = plain.queryExecution.executedPlan.toString
      assert(pp.contains("Exchange"), pp)
      // results identical
      assert(joined.count() == plain.count())
      val a = joined.agg(sum(round(col("l_quantity") * 100).cast("long"))).head().getLong(0)
      val b = plain.agg(sum(round(col("l_quantity") * 100).cast("long"))).head().getLong(0)
      assert(a == b)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS ord_bkt")
    }
  }

  test("bucketed aggregation on the bucket key needs no exchange") {
    val li = graft.queries.Tables.lineitem(spark, d)
      .select("l_orderkey", "l_quantity")
    Bucketing.writeBucketed(li, "li_bkt2", "l_orderkey", 4)
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val agg = spark.table("li_bkt2").groupBy("l_orderkey")
        .agg(sum(round(col("l_quantity") * 100).cast("long")).as("q"))
      val p = agg.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed agg shuffled:\n$p")
      val plain = li.groupBy("l_orderkey")
        .agg(sum(round(col("l_quantity") * 100).cast("long")).as("q"))
      assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        plain.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS li_bkt2")
    }
  }
}
