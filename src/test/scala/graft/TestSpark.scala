package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, four threads on any host
  * so specs that pin partition counts see the same plans everywhere. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}
