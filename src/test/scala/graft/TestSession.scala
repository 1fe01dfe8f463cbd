package graft

import org.apache.spark.sql.SparkSession

object TestSession {
  lazy val spark: SparkSession = graft.util.LocalSession(4)
  val sf: String = "/root/testdata/sf0.001"
}
