package graft.util

import org.apache.spark.sql.SparkSession

/** The one local session graft's mains and specs run on: `local[cpus]`
  * with as many shuffle partitions, parquet nanosecond timestamps read as
  * longs (as the fixtures store them), the UTC session time zone and no
  * UI. The time zone is set here rather than left to the JVM flags of an
  * sbt fork, so a plain `java -cp` run reads timestamps the same way. */
object LocalSession {

  /** `cpus` defaults to `SPARK_GRAFT_CPUS`, or 4. */
  def apply(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
