package perfbench

import java.nio.file.{Files, Paths}

/** One traced pass over every `SparkEntry.queries` entry, written as a
  * per-query table: latency, builder and execution time, jobs and shuffle
  * bytes. It is a diagnostic, not a benchmark workload: a pass over all
  * entries takes minutes. `perfbench/census.py` runs it and chooses the
  * `query_surface` subset from its table.
  *
  *   --data DIR       the query tables
  *   --out FILE       where the JSON table goes
  *   --warmups N      untraced passes before the traced one (default 1)
  */
object Census {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k -> v }.toMap
    val data = Paths.get(opts("--data")).toAbsolutePath
    val outFile = Paths.get(opts("--out")).toAbsolutePath
    val warmups = opts.getOrElse("--warmups", "1").toInt
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val root = Files.createTempDirectory("census")
    val scratch = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    val spark = Main.session(root)
    try {
      val w = new QuerySurface(data, names)
      val tracer = new Tracer(spark.sparkContext, enabled = false)
      def pass(ctx: Ctx, n: Int): PassOut = {
        val out = Files.createDirectories(root.resolve(s"out-$n"))
        try ctx.tracer.span("pass") { w.pass(ctx, out) } finally Inputs.deleteTree(out)
      }
      val ctx = Ctx(spark, tracer, root, scratch)
      (1 to warmups).foreach { n =>
        val t0 = System.nanoTime()
        pass(ctx, n)
        System.err.println(f"census: warm-up pass $n ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      val traced = ctx.copy(tracer = new Tracer(spark.sparkContext, enabled = true))
      val po = pass(traced, 0)
      w.layers(traced, traced.tracer.spans.head, root)
      traced.tracer.close()
      require(po.failures.isEmpty, po.failures.mkString("; "))
      val rows = w.perQueryTable.zip(po.latencies).map { case (row, lat) => row + ("latency_s" -> lat) }
      val doc = Map("data" -> data.getFileName.toString, "pass_s" -> po.latencies.sum,
        "jobs" -> rows.map(r => r("build_jobs").asInstanceOf[Int] + r("exec_jobs").asInstanceOf[Int]).sum,
        "queries" -> rows)
      Files.createDirectories(outFile.getParent)
      Files.writeString(outFile, new com.fasterxml.jackson.databind.ObjectMapper()
        .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
        .writerWithDefaultPrettyPrinter().writeValueAsString(doc) + "\n")
    } finally {
      spark.stop()
      Inputs.deleteTree(root)
    }
  }
}
