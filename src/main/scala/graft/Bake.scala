package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** CLI bake runner — the `pangeo-forge-runner bake` analog (SURVEY §3.3
  * entry point C; examples/runner-commands/bake.sh:1,
  * tests/test_integration.py:105-140): resolve a recipe id against the
  * feedstock registry, load deploy-time configuration from a JSON file
  * (the runner's traitlets config: `TargetStorage.root_path`,
  * `InputCacheStorage.root_path`, plus per-recipe sections), inject it
  * through [[graft.transforms.RuntimeConfig]], and execute — optionally
  * pruned to the first two pattern items for smoke runs.
  *
  * {{{
  * spark-submit --class graft.Bake ... \
  *   --recipe-id=daily-cube -f=/path/to/local.json \
  *   --job-name=daily-cube-1700000000 --prune
  * }}}
  *
  * `--Bake.recipe_id=` / `--Bake.job_name=` spellings are accepted for
  * parity with the reference runner's flags; `--repo=` is accepted and
  * ignored (this library IS the feedstock repo — recipes are Scala objects
  * registered in [[graft.examples.Feedstock]], the meta.yaml analog).
  */
object Bake {

  /** Parsed runner config: named sections of string-valued settings
    * (`examples/runner-config/local.json` shape — traitlets class name →
    * trait → value; scalar values are normalized to strings). */
  final case class BakeConfig(sections: Map[String, Map[String, String]]) {
    def section(name: String): Map[String, String] =
      sections.getOrElse(name, Map.empty)
    def targetRoot: Option[String] = section("TargetStorage").get("root_path")
    def inputCacheRoot: Option[String] = section("InputCacheStorage").get("root_path")
    /** The injected runtime config (injections.py:1-16 semantics: the
      * TARGET_STORAGE / INPUT_CACHE_STORAGE values recipes resolve). */
    def runtime: transforms.RuntimeConfig.Config =
      transforms.RuntimeConfig.Config().inject(targetRoot, inputCacheRoot)
  }

  def loadConfig(path: String): BakeConfig = {
    val root = new ObjectMapper().readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    require(root != null && root.isObject, s"config $path is not a JSON object")
    val sections = root.fields().asScala.collect {
      case e if e.getValue.isObject =>
        e.getKey -> e.getValue.fields().asScala.map { f =>
          f.getKey -> (if (f.getValue.isTextual) f.getValue.asText()
            else f.getValue.toString)
        }.toMap
    }.toMap
    BakeConfig(sections)
  }

  final case class Args(recipeId: String, configPath: String,
                        jobName: String, prune: Boolean)

  def parseArgs(args: Array[String]): Args = {
    var recipeId: Option[String] = None
    var configPath: Option[String] = None
    var jobName: Option[String] = None
    var prune = false
    args.foreach {
      case a if a.startsWith("--recipe-id=") => recipeId = Some(a.drop(12))
      case a if a.startsWith("--Bake.recipe_id=") => recipeId = Some(a.drop(17))
      case a if a.startsWith("-f=") => configPath = Some(a.drop(3))
      case a if a.startsWith("--config=") => configPath = Some(a.drop(9))
      case a if a.startsWith("--job-name=") => jobName = Some(a.drop(11))
      case a if a.startsWith("--Bake.job_name=") => jobName = Some(a.drop(16))
      case "--prune" => prune = true
      case a if a.startsWith("--repo=") => () // this library IS the feedstock
      case other => throw new IllegalArgumentException(
        s"unknown bake argument: $other (expected --recipe-id=, -f=/--config=, " +
          "--job-name=, --prune)")
    }
    Args(
      recipeId.getOrElse(throw new IllegalArgumentException(
        "--recipe-id= (or --Bake.recipe_id=) is required")),
      configPath.getOrElse(throw new IllegalArgumentException(
        "-f= (or --config=) is required")),
      jobName.getOrElse(s"${recipeId.get}-job"),
      prune)
  }

  /** Resolve + run one recipe; returns the output artifact path. Separated
    * from `main` so tests drive the full CLI path with their own session.
    * `quiet` suppresses the stdout status line — harness-embedded callers
    * (the `e2e_bake_cli` driver entry) must not emit JSON-shaped lines into
    * the log tail the driver parses its ONE bench line from. */
  def run(spark: SparkSession, args: Array[String], quiet: Boolean = false): String = {
    val a = parseArgs(args)
    val recipe = examples.Feedstock.recipes.getOrElse(a.recipeId,
      throw new IllegalArgumentException(
        s"unknown recipe id '${a.recipeId}'; registered: " +
          examples.Feedstock.recipes.keys.toVector.sorted.mkString(", ")))
    val config = loadConfig(a.configPath)
    val out = recipe.bake(spark, config, a.prune)
    if (!quiet)
      println(s"""{"recipe_id":"${a.recipeId}","job_name":"${a.jobName}","output":"$out"}""")
    out
  }

  def main(argv: Array[String]): Unit = {
    val spark = GraftSession.builder().appName("graft-bake").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, argv)
    finally spark.stop()
  }
}
