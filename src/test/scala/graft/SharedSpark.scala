package graft

import org.apache.spark.sql.SparkSession

/** The specs' Spark session: [[Sessions.local]] at 4 cores, shared by
  * every spec in the test JVM. */
trait SharedSpark {
  lazy val spark: SparkSession = Sessions.local(4)
}
