package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** r15 moved the presentation orderBy BELOW the map-only decode in the
  * media queries (m01–m16, t03): the final plan no longer ends in a Sort,
  * so the output order rests on Spark preserving partition-local row
  * order through narrow ops over range-partitioned input — documented
  * behavior today, but not a contract the optimizer advertises. The r15
  * advisor asked for the guarantee to be PINNED so a Spark upgrade that
  * breaks it fails tests here instead of the driver's oracle compare.
  * AQE must be ON (the bench/driver session shape — AQE re-plans are
  * exactly where an order regression would sneak in).
  */
class OrderPreservationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val d = "/root/testdata/sf0.001"

  test("m01 (sort below decode) collects in ascending doc_id order") {
    val ids = MultiModalOps.m01ImageDecode(spark, d)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(ids.nonEmpty)
    assert(ids == ids.sorted,
      "m01's below-decode sort no longer surfaces ordered output — " +
        "re-add a top-level Sort or pin the plan")
  }

  test("m02 (explode above sorted decode) collects in (doc_id, frame_id) order") {
    val keys = MultiModalOps.m02FrameSample(spark, d)
      .collect().map(r => (r.getAs[Number]("doc_id").longValue(),
        r.getAs[Number]("frame_id").longValue())).toSeq
    assert(keys.nonEmpty)
    assert(keys == keys.sorted)
  }

  test("t03 (sort below fingerprint) collects in ascending doc_id order") {
    val ids = TextOps.t03Fingerprint(spark, d)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(ids.nonEmpty)
    assert(ids == ids.sorted)
  }
}
