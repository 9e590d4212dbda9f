package graft

import org.apache.spark.sql.SparkSession

/** One shared session for all suites: the program's own config
  * ([[Sessions.get]]), so the tests check what the entry points run.
  */
object SparkTestSession {
  lazy val spark: SparkSession = Sessions.get()
}
