package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The driver's testdata generator has changed `events.ts`'s physical type
  * twice (TIMESTAMP(NANOS)→long via nanosAsLong, then naive timestamp[us]
  * →TIMESTAMP_NTZ, which silently broke 12 queries in round 6). Pin every
  * drift mode: each must normalize to the same (TimestampType ts, long
  * ts_ns) pair, and an unrecognized type must fail with the named error.
  */
class TablesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  // one event at 2024-03-01T12:00:00.123456Z, expressed per drift mode
  private val micros = 1709294400123456L

  private def writeEvents(df: org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("tables_drift").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def check(dir: String): Unit = {
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.schema("ts_ns").dataType == LongType)
    val row = ev.select(unix_micros(col("ts")), col("ts_ns")).head()
    assert(row.getLong(0) == micros, "ts must be the micros instant")
    assert(row.getLong(1) == micros * 1000L, "ts_ns must be epoch nanos")
  }

  test("drift mode: epoch-nanos long (nanosAsLong read of TIMESTAMP(NANOS))") {
    import spark.implicits._
    check(writeEvents(Seq((1L, micros * 1000L)).toDF("event_id", "ts")))
  }

  test("drift mode: TIMESTAMP (instant micros)") {
    import spark.implicits._
    check(writeEvents(Seq((1L, micros))
      .toDF("event_id", "us").select(col("event_id"),
        timestamp_micros(col("us")).as("ts"))))
  }

  test("drift mode: TIMESTAMP_NTZ (naive timestamp[us], the round-6 break)") {
    import spark.implicits._
    val dir = writeEvents(Seq((1L, micros))
      .toDF("event_id", "us").select(col("event_id"),
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ts")))
    // confirm the fixture really round-trips as NTZ before testing the arm
    assert(spark.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType == TimestampNTZType)
    check(dir)
  }

  test("unrecognized drift mode fails with the named error, not downstream") {
    import spark.implicits._
    val dir = writeEvents(Seq((1L, "2024-03-01 12:00:00"))
      .toDF("event_id", "ts"))
    val e = intercept[UnsupportedTableSchemaException] {
      Tables.events(spark, dir)
    }
    assert(e.getMessage.contains("events.ts"))
    assert(e.getMessage.contains("StringType"))
  }
}
