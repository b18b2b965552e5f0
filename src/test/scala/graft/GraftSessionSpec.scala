package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The shared test session is the shipped [[GraftSession]] configuration,
  * and no other code builds a session of its own. */
class GraftSessionSpec extends AnyFunSuite {

  test("the shared test session carries every GraftSession setting") {
    val spark = TestSession.spark
    val sc = spark.sparkContext
    assert(sc.master == "local[4]")
    assert(sc.getConf.get("spark.kryo.classesToRegister") ==
      graft.core.KryoClasses.names)
    assert(sc.getConf.get("spark.ui.enabled") == "false")
    val sql = Map(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "131072",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.shuffle.partitions" -> sc.defaultParallelism.toString)
    sql.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(sc.defaultParallelism == 4)
  }

  test("each suite's session starts from the shipped runtime settings") {
    val spark = TestSession.spark
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val again = TestSession.spark
      assert(again eq spark)
      assert(again.conf.get("spark.sql.shuffle.partitions") == "4")
      assert(again.conf.get("spark.sql.adaptive.enabled") == "true")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("only GraftSession and one VectorExpressionsSpec test build a session") {
    // spelled in two pieces so this file does not match itself
    val needle = scala.util.matching.Regex.quote("SparkSession" + ".builder()").r
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the repository root: ${src.toAbsolutePath}")
    val walk = Files.walk(src)
    val found = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .map { (p: Path) =>
        src.relativize(p).toString.replace('\\', '/') ->
          needle.findAllIn(Files.readString(p)).size
      }
      .filter(_._2 > 0).toMap
    finally walk.close()
    assert(found == Map(
      "main/scala/graft/GraftSession.scala" -> 1,
      "test/scala/graft/functions/VectorExpressionsSpec.scala" -> 1),
      "build sessions with GraftSession.builder (mains) or " +
        "graft.TestSession.spark (suites)")
  }
}
