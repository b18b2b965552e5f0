package graft

import org.apache.spark.sql.SparkSession

/** The session every suite runs on: [[GraftSession]] at 4 cores, so tests
  * run the configuration that ships. Suites share one JVM, so the first
  * call defines the SparkContext; every call re-applies the shipped
  * runtime SQL settings to the shared session.
  */
object TestSession {
  def spark: SparkSession = GraftSession.builder(4).getOrCreate()
}
