package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for ScalaTest suites (lazily created once per JVM),
  * built with the same settings as every benchmark and tool session.
  */
object SparkSessionTestWrapper {
  lazy val spark: SparkSession = Bench.buildSession("4")
}
