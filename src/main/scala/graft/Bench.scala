package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * A full untimed warmup pass runs first so the timed pass measures the
  * steady-state plans (JVM/codegen/scan warmup otherwise lands on whichever
  * query runs first).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    // ERROR: repeated per-query function re-registration warns at WARN level
    // and pollutes the log tail the driver captures the json line from
    spark.sparkContext.setLogLevel("ERROR")

    // FULL-ROW materialization, not df.count(): count() lets Catalyst
    // prune every aggregate expression and then ELIMINATE left joins whose
    // right side is provably unique — the r8 scale run caught p05 benching
    // 0.7 s while its span-dedup stage alone costs 13 s, because the
    // count() plan had optimized the whole stage away. Executing the
    // as-built plan (all output columns) measures what a consumer pays.
    def materialize(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()

    // local-iteration aid: SPARK_GRAFT_ONLY=q01_agg,d02_ngram_jaccard
    // restricts the run; the driver never sets it, so its runs are full.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val allNames = SparkEntry.queries.keys.toSet
    only.foreach { o =>
      val unknown = o.diff(allNames)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toVector.sorted.mkString(",")}")
    }
    val names = allNames.toVector.sorted
      .filter(n => only.forall(_.contains(n)))
    // warmup: one untimed pass (caches parquet footers, JIT, codegen)
    names.foreach { name =>
      try materialize(SparkEntry.queries(name)(spark, sfDir))
      catch { case _: Throwable => () }
    }
    // two timed iterations, report the min: a single sample is hostage to
    // sandbox CPU/memory contention (the r04 run showed a systemic ~5×
    // inflation on every shuffle-heavy query with zero plan changes); the
    // min of two is a far better estimator of the plan's actual cost
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    require(iters >= 1,
      s"SPARK_GRAFT_BENCH_ITERS must be >= 1, got $iters") // times.min on an
    // empty run would crash AFTER the full warmup pass — fail before it
    // a failing query's wall time measures exception latency, not work —
    // record it in `errors` so the r06 mistake (12 fast-fail timings read
    // as a speedup) can't recur silently
    val errored = scala.collection.mutable.SortedSet.empty[String]
    val results = names.map { name =>
      val times = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        try { materialize(SparkEntry.queries(name)(spark, sfDir)) }
        catch { case _: Throwable => errored += name }
        (System.nanoTime() - t0) / 1e9
      }
      name -> times.min
    }
    // s02 tuning data (untimed, after the measured passes): candidate
    // volume from the band join vs threshold survivors, so band-width/
    // threshold tuning has numbers instead of plan-shape guesses
    val s02Stats: String =
      if (names.contains("s02_embed_neardup")) {
        try {
          import org.apache.spark.sql.functions.col
          import graft.queries.SimilarityOps
          graft.functions.GraftFunctions.register(spark)
          // the r9 gated constructions: s02 = hashed-bigram doc vectors,
          // adaptive bands, t=0.9; s05 = embeddings, adaptive, t=0.45 —
          // candidate volume vs survivors so the linear-floor claim of
          // the adaptive bit rule stays measured every round
          val docs = spark.read.parquet(s"$sfDir/documents.parquet")
            .select(col("doc_id"), col("text"))
          val dEmb = SimilarityOps.docBigramVectors(docs).localCheckpoint(true)
          val dBits = SimilarityOps.adaptiveBits(docs.count())
          val dRows = dEmb.count()
          val cands = SimilarityOps.s02Candidates(dEmb,
            SimilarityOps.ScaledBands, dBits).count()
          val survivors = SimilarityOps.nearDupPairsOf(dEmb,
            SimilarityOps.NearDupThreshold, SimilarityOps.ScaledBands, dBits)
            .count()
          val emb = SimilarityOps
            .withQuantized(spark.read.parquet(s"$sfDir/embeddings.parquet")
              .select(col("vec_id"), col("embedding")), "embedding")
            .localCheckpoint(true)
          val eBits = SimilarityOps.adaptiveBits(emb.count())
          val candsW = SimilarityOps.s02Candidates(emb,
            SimilarityOps.ScaledBands, eBits).count()
          val survivorsW = SimilarityOps.nearDupPairsOf(emb, 0.45,
            SimilarityOps.ScaledBands, eBits).count()
          s""","s02_rows":$dRows,"s02_bits":$dBits,"s02_candidates":$cands""" +
            s""","s02_survivors":$survivors,"s05_bits":$eBits""" +
            s""","s05_candidates":$candsW,"s05_survivors":$survivorsW"""
        } catch { case _: Throwable => "" }
      } else ""
    // millisecond precision keeps the ONE json line short enough to survive
    // intact in a bounded log tail (full-precision doubles pushed it past the
    // driver's capture window in rounds 1-3 -> parsed:null). The driver's
    // capture is a bounded TAIL: BENCH_r07.json's tail began mid-JSON, i.e.
    // the bytes BEFORE the long per-query line were clipped, so a compact
    // line printed only first never survives. Emit the compact total+errors
    // line on BOTH sides of the per-query map — whichever direction the
    // capture clips from, one complete compact line remains parseable.
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val errs = errored.map("\"" + _ + "\"").mkString("[", ",", "]")
    val compact =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","n":${names.size},"errors":$errs,"sf":"$sfDir"}"""
    // The driver's capture is a bounded TAIL (front-truncated): rounds
    // 6-8 lost the oversized single per-query line to the clip every
    // time (BENCH_r0{6,7,8}.json parsed:null). Emit the legacy full
    // line FIRST (expendable), then the per-query map again as SHORT
    // chunked lines (~1 KB each, `bench_part i/of`), then the compact
    // total LAST — the tail now always ends in complete, individually
    // parseable lines whatever the window size.
    Console.out.println(
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","errors":$errs$s02Stats}""")
    val chunks = results.grouped(30).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val part = chunk.map { case (k, v) => "\"" + k + "\":" + f(v) }
        .mkString("{", ",", "}")
      Console.out.println(
        s"""{"metric":"bench_part","part":${i + 1},"of":${chunks.size},"queries":$part}""")
    }
    if (s02Stats.nonEmpty)
      Console.out.println(s"""{"metric":"bench_stats"$s02Stats}""")
    // The driver's capture is the LAST 2000 characters of the log — a
    // window the ~4 KB of named per-query entries can NEVER fit, however
    // the parts are ordered (rounds 6-9 all lost parts 1-2 to the clip).
    // So the authoritative in-window record is POSITIONAL: one
    // `bench_vec` line carrying every query's seconds in the
    // alphabetical order of the executed names (~1 KB at 139 queries),
    // with a names-checksum so a decoder can verify its reconstruction
    // of the order from SparkEntry.queries. Emitted second-to-last:
    // compact total + bench_vec + bench_stats together stay well inside
    // the window, and BenchVecSpec gates the coverage + decode.
    Console.out.println(benchVecLine(names, results.toMap))
    Console.out.println(compact)
    Console.out.flush()
    spark.stop()
  }

  /** The tail-window-proof per-query record: seconds positionally in the
    * ALPHABETICAL order of `names` (the executed query set — the full
    * SparkEntry.queries key set in driver runs), plus an 8-hex MD5 prefix
    * of the comma-joined name list for order verification. Decode:
    * `dict(zip(sorted(SparkEntry.queries.keys), t))`. */
  private[graft] def benchVecLine(names: Seq[String],
                                  times: Map[String, Double]): String = {
    val sorted = names.sorted
    val sha = java.security.MessageDigest.getInstance("MD5")
      .digest(sorted.mkString(",").getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val ts = sorted.map(n => f(times.getOrElse(n, -1.0)))
      .mkString("[", ",", "]")
    s"""{"metric":"bench_vec","n":${sorted.size},"names_md5":"$sha"""" +
      s""","order":"sorted query names","t":$ts}"""
  }
}
