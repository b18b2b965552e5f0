package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class SkewSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  test("saltedJoin equals the plain join, spread over salts") {
    import spark.implicits._
    // heavy skew: 90% of rows share key 1
    val large = spark.range(10000)
      .select(when(col("id") % 10 === 0, col("id") % 7).otherwise(1L).as("k"),
        col("id").as("payload"))
    val small = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"),
      (4L, "e"), (5L, "f"), (6L, "g")).toDF("k", "name")

    val plain = large.join(small, "k")
    val salted = Skew.saltedJoin(large, small, "k",
      saltFactor = 8, saltSource = col("payload"))
    assert(salted.count() == plain.count())
    val a = plain.select("k", "payload", "name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val b = salted.select("k", "payload", "name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(a == b)
  }

  test("keySkewReport surfaces the heavy hitter") {
    import spark.implicits._
    val df = spark.range(1000)
      .select(when(col("id") % 10 === 0, col("id") % 7).otherwise(1L).as("k"))
    val top = Skew.keySkewReport(df, "k", topK = 1).collect().head
    assert(top.getLong(0) == 1L)
    // 900 non-multiples of 10, plus multiples of 10 that are ≡ 1 (mod 7)
    assert(top.getLong(1) >= 900L)
  }
}
