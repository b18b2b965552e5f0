package graft

import org.apache.spark.sql.SparkSession

/** The one engine configuration: every main and the shared test session
  * build their session here, so a plan dumped, profiled, tested or
  * verified is the plan the bench executes. Callers may append settings
  * of their own (an app name, a bigger serializer buffer) to the returned
  * builder.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, or 4 when it is unset. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def builder(cpus: Int = GraftSession.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // ObjectHashAggregate falls back to SORT-based aggregation after only
      // 128 distinct keys per task (the conservative default) — the shingle
      // and token groupBys have ~10^4-10^5 keys per task, so the typed
      // aggregates (collect_list / collect_list_capped) were paying a full
      // sort + per-spill buffer serialization. 128k keys x ~100 B buffer
      // bounds the hash map at ~13 MB per task: safe at any scale, and the
      // dominant dedup aggregations stay in hash mode.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.kryo.classesToRegister", graft.core.KryoClasses.names)
      .config("spark.ui.enabled", "false")
}
