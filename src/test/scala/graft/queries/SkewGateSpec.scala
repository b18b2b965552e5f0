package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The core promise of the df-capped d02 aggregation
  * ([[graft.functions.CollectListCapped]]): a HOT shingle — one appearing
  * in 50% of all documents — must not drive the shuffle. The capped buffer
  * stops at cap+1 longs per partial, so the map-side output for the hot
  * key is ~1 KB per partition regardless of corpus size, and the dropped
  * (over-cap, NULL) group can never reach the pair-emission stage where an
  * uncapped group of m docs would explode into m²/2 pair rows.
  *
  * This gate asserts the promise with MEASURED SparkListener stage metrics
  * (total shuffle bytes written across the whole query), not plan-shape
  * reasoning: 20k docs sharing one trigram would shuffle ~200 MB+ of pair
  * rows uncapped; the budget here is 32 MB for the entire job, dominated
  * by the unique-shingle singleton groups, with the hot key contributing
  * kilobytes.
  */
class SkewGateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  test("hot shingle in 50% of docs keeps d02's total shuffle under a fixed byte budget") {
    import spark.implicits._
    val n = 40000
    // half the corpus shares ONE trigram (df = 20k >> MaxShingleDf = 128);
    // the rest is unique filler. Ten planted near-dup pairs (ids n..n+19,
    // low-df shingles) must still surface — the cap drops hot keys, not
    // the signal.
    val docs = spark.range(n.toLong).select(col("id").as("doc_id"),
      when(col("id") % 2 === 0,
        concat(lit("hot hot hot u"), col("id"), lit("a u"), col("id"), lit("b")))
        .otherwise(concat(lit("v"), col("id"), lit("a v"), col("id"),
          lit("b v"), col("id"), lit("c"))).as("text"))
    val planted = (0 until 10).flatMap { p =>
      // per-pair-unique vocabulary: cross-pair jaccard is exactly 0
      val base = (0 until 20).map(w => s"p${p}w$w").mkString(" ")
      Seq((n + 2L * p, base), (n + 2L * p + 1, base + " end"))
    }.toDF("doc_id", "text")
    val corpus = docs.unionByName(planted)

    val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        bytes.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val pairs =
      try {
        val out = graft.ops.Corpus.ngramJaccardPairs(spark, corpus,
          threshold = 0.8).collect()
        // listener delivery is async; give the final stage's event a window
        Thread.sleep(1000)
        out
      } finally spark.sparkContext.removeSparkListener(listener)

    // the planted near-dup pairs survive the cap...
    assert(pairs.length == 10, s"got ${pairs.length} pairs")
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      (0 until 10).map(p => (n + 2L * p, n + 2L * p + 1)).toSet)
    // ...and the whole job's shuffle stayed inside the budget. Uncapped,
    // the hot group alone emits 20k²/2 = 2·10⁸ pair rows (gigabytes); the
    // measured total must stay bounded by the singleton-group mass.
    val mb = bytes.get() / 1e6
    assert(mb < 32.0, f"d02 shuffled $mb%.1f MB — the hot-shingle cap is not bounding the shuffle")
  }
}
