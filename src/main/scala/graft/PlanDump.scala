package graft
import java.nio.file.{Files, Paths}

/** Optimization-round tooling (guide §1.1/§7.2): dump the formatted
  * physical plan of named queries to files, so plan shape (Exchange
  * count, join strategy, PushedFilters/ReadSchema, codegen spans) can be
  * diffed before/after a change without a Spark-capable judge.
  *
  *   sbt "runMain graft.PlanDump <outDir> [q1,q2,...]"
  *
  * Uses [[GraftSession]], the Bench session configuration, so the dumped
  * plan is the plan the bench executes. Not part of the driver contract;
  * never run by the driver.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "plans/r15"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").toSeq
      else SparkEntry.queries.keys.toVector.sorted
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val dt = (System.nanoTime() - t0) / 1e9
      val hdr = s"// query: $name  sf: $sfDir  cpus: $cpus  " +
        f"(plan built in $dt%.2f s; explain of the as-built lazy plan —\n" +
        "// eager localCheckpoint stages inside the query builder have " +
        "already run\n// and appear as ExistingRDD/Scan leaves)\n"
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        (hdr + plan).getBytes("UTF-8"))
      println(s"dumped $name (${plan.linesIterator.size} lines)")
    }
    spark.stop()
  }
}

/** Per-job wall-time profile of ONE query under [[GraftSession]]: runs the query exactly as Bench does (toRdd.count) with a
  * listener recording every job's duration and description, so the cost
  * of a multi-job query (eager localCheckpoints, AQE stages) can be
  * attributed before optimizing (guide §1.1 "empirical").
  *
  *   sbt "runMain graft.ProfileOne <name> [iters]"
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileOne <queryName> [iters]")
    val name = args(0)
    val iters = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String, Int, String)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        def prop(key: String) = Option(js.properties)
          .flatMap(p => Option(p.getProperty(key))).getOrElse("")
        jobs.put(js.jobId, (System.nanoTime(), prop("spark.job.description"),
          js.stageIds.size, prop("spark.jobGroup.id")))
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (t0, desc, nst, group) =>
          done.add((je.jobId, (System.nanoTime() - t0) / 1e9, desc, nst, group))
        }
      }
    })
    name.split(",").foreach { nm =>
      val fn = SparkEntry.queries.getOrElse(nm, sys.error(s"unknown query: $nm"))
      // warmup
      fn(spark, sfDir).queryExecution.toRdd.count()
      (1 to iters).foreach { it =>
        // each measured iteration runs in its own job group and only that
        // group's jobs are listed: a warm-up or earlier job whose end event
        // is delivered late can no longer land in this iteration's list.
        // No description is set, so the listed label is the query's own.
        val group = s"ProfileOne $nm $it"
        spark.sparkContext.setJobGroup(group, null)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val buildS = (System.nanoTime() - t0) / 1e9
        df.queryExecution.toRdd.count()
        val total = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.clearJobGroup()
        Thread.sleep(200) // let listener drain
        println(f"== $nm iter $it: total $total%.3f s (builder incl. eager checkpoints: $buildS%.3f s)")
        import scala.jdk.CollectionConverters._
        done.asScala.toVector.filter(_._5 == group).sortBy(_._1).foreach {
          case (id, dt, desc, nst, _) =>
            println(f"  job $id%3d  $dt%7.3f s  stages=$nst%2d  $desc")
        }
      }
    }
    spark.stop()
  }
}
