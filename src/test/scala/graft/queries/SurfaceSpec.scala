package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** Whole-surface gates over SparkEntry. Round 6 lost 12 oracle-green
  * queries to a single analysis-time regression that no per-suite spec
  * exercised, and the driver's correctness file silently omitted them
  * instead of recording errors. These tests make that failure mode loud:
  * every driver entry must EXECUTE, and any shrink of the reported oracle
  * surface vs earlier rounds must be explained by a currently-passing
  * query (driver omission) or this suite fails with the key diff.
  */
class SurfaceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val d = "/root/testdata/sf0.001"

  test("every oracleSql key has a queries entry") {
    val orphans = graft.SparkEntry.oracleSql.keySet.diff(
      graft.SparkEntry.queries.keySet)
    assert(orphans.isEmpty, s"oracleSql keys with no query: $orphans")
  }

  test("bench_vec line covers every query and decodes positionally") {
    // the driver captures only the LAST 2000 log characters; the
    // positional bench_vec line is the one per-query record that fits —
    // gate that it (a) stays inside the window with the compact total,
    // (b) carries every SparkEntry.queries key, (c) decodes back to the
    // exact per-query map via sorted(keys) zip t
    val names = graft.SparkEntry.queries.keys.toVector
    val times = names.zipWithIndex
      .map { case (n, i) => n -> (i + 1) / 1000.0 }.toMap
    val line = graft.Bench.benchVecLine(names, times)
    assert(line.length + 200 < 2000,
      s"bench_vec line too long for the 2000-char tail window: ${line.length}")
    val tsJson = line.split("\"t\":")(1).stripSuffix("}")
    val ts = tsJson.stripPrefix("[").stripSuffix("]").split(",").map(_.toDouble)
    assert(ts.length == names.size,
      s"bench_vec covers ${ts.length} of ${names.size} queries")
    val decoded = names.sorted.zip(ts).toMap
    assert(names.forall(n => math.abs(decoded(n) - times(n)) < 5e-4),
      "positional decode mismatch")
    // the embedded md5 prefix matches the sorted name list
    val sha = java.security.MessageDigest.getInstance("MD5")
      .digest(names.sorted.mkString(",").getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    assert(line.contains("\"names_md5\":\"" + sha + "\""), line.take(120))
  }

  test("every driver entry executes at sf0.001") {
    val failures = graft.SparkEntry.queries.toVector.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, d).count(); None }
        catch { case e: Throwable =>
          Some(name -> e.toString.linesIterator.take(2).mkString(" "))
        }
    }
    assert(failures.isEmpty,
      failures.map { case (n, m) => s"$n: $m" }.mkString(
        s"${failures.size} driver entries fail to execute:\n", "\n", ""))
  }

  test("oracle surface did not silently shrink vs recorded rounds") {
    // every oracle-backed key that appeared in ANY committed CORRECTNESS
    // file must either appear in the LATEST one or execute right now
    // (then its absence is a driver omission, already gated above)
    val root = new java.io.File("/root/repo")
    val files = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("CORRECTNESS_r\\d+\\.json")).sortBy(_.getName)
    assume(files.nonEmpty, "no correctness files present")
    def keys(f: java.io.File): Set[String] =
      "\"([a-z0-9_]+)\"\\s*:\\s*\\{".r
        .findAllMatchIn(new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        .map(_.group(1)).toSet
    val everReported = files.map(keys).reduce(_ ++ _)
    val latest = keys(files.last)
    val oracleBacked = graft.SparkEntry.oracleSql.keySet
    val vanished = (everReported & oracleBacked) -- latest
    if (vanished.nonEmpty)
      info(s"keys reported in prior rounds but missing from " +
        s"${files.last.getName}: ${vanished.toVector.sorted.mkString(", ")}")
    val stillBroken = vanished.filter { name =>
      try { graft.SparkEntry.queries(name)(spark, d).count(); false }
      catch { case _: Throwable => true }
    }
    assert(stillBroken.isEmpty,
      s"oracle surface shrank and these keys still fail: " +
        stillBroken.toVector.sorted.mkString(", "))
  }
}
