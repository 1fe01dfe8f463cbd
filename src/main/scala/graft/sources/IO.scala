package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.types.BinaryType

/** Source/sink surface (SURVEY.md §2.8): the reference inherits pandas'
  * read_csv/read_json/to_parquet family; here the same round-trips are
  * Spark readers/writers with explicit schemas and scale-aware write
  * options (partitioning/bucketing live in util.Scale).
  *
  * Text-format contracts, pinned by the IO degenerate pin (the classes
  * it caught are real — every one below was a measured silent
  * corruption before this hardening):
  *  - Encoding is EXPLICIT UTF-8 both ways. The container's platform
  *    charset is ASCII, and a writer that consults the platform
  *    default turns every non-ASCII character into '?' on disk —
  *    silent data loss, invisible to a same-JVM round-trip test
  *    because the reader mangles identically.
  *  - Reads are FAILFAST. The default PERMISSIVE mode turns any
  *    malformed line into a row of nulls (and an embedded-newline
  *    record into TWO rows, one truncated, one null — silently wrong
  *    DATA, not even visibly null).
  *  - NULL and empty string survive distinctly: CSV has no native
  *    null, so null is written as the `\N` sentinel (the classic
  *    text-format convention) and the empty string as quoted `""`.
  *  - Binary columns are REFUSED on CSV: Spark's CSV writer renders
  *    them via toString (`[01 02 03]`), which reads back as the bytes
  *    of that rendering — a silent round-trip corruption. Use
  *    parquet/ORC for binary payloads.
  */
object IO {

  /** CSV null sentinel: `\N` (never produced by the quoted-string
    * escaper, so it cannot collide with data). */
  private val CsvNull = "\\N"

  /** The Parquet table at `path`, loaded without a Spark job: graft's
    * one Parquet reader. `spark.read.parquet(path)` infers the schema
    * inside a one-task job per table; here [[FooterSchema]] reads the
    * same footers on the driver, with Spark's file choice, conversion and
    * errors, and the load is given that schema. An sf0.01 table in a warm
    * JVM loads in ~23 ms this way and ~95 ms the other. Partition columns
    * are discovered by the load, as without a schema. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(FooterSchema(spark, path)).parquet(path)

  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** CSV with header; schema re-applied on read (never inferred at scale —
    * inference is a full extra pass over the data). */
  def writeCsv(df: DataFrame, path: String): Unit = {
    val bin = df.schema.fields.filter(_.dataType == BinaryType).map(_.name)
    require(bin.isEmpty,
      s"writeCsv: binary column(s) ${bin.mkString(", ")} cannot round-trip through CSV " +
        "(Spark renders them via toString, which reads back as garbage bytes) — " +
        "use parquet or ORC for binary payloads")
    df.write.mode("overwrite")
      .option("header", "true").option("encoding", "UTF-8")
      .option("nullValue", CsvNull)
      .csv(path)
  }

  /** FAILFAST by default: a malformed record (including an
    * embedded-newline record read without `multiLine`) raises instead
    * of silently splitting into corrupt rows. `multiLine = true`
    * round-trips embedded newlines at the cost of per-file (non-split)
    * parsing — CSV is the interchange format, parquet the scale path,
    * so the default keeps input splits splittable. */
  def readCsv(spark: SparkSession, path: String, schemaOf: DataFrame,
              multiLine: Boolean = false): DataFrame =
    spark.read.option("header", "true").option("encoding", "UTF-8")
      .option("nullValue", CsvNull).option("emptyValue", "")
      .option("mode", "FAILFAST").option("multiLine", multiLine.toString)
      .schema(schemaOf.schema).csv(path)

  /** JSON-lines round-trip (the interchange format of document
    * pipelines). JSON distinguishes null from "" natively, and Spark
    * writes non-finite doubles as quoted "NaN"/"Infinity" strings —
    * readable back exactly (pinned). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("encoding", "UTF-8").json(path)

  def readJsonl(spark: SparkSession, path: String, schemaOf: DataFrame): DataFrame =
    spark.read.schema(schemaOf.schema).option("encoding", "UTF-8")
      .option("mode", "FAILFAST").json(path)

  /** ORC round-trip (the other columnar interchange format warehouses
    * emit; same pushdown/pruning behavior as parquet in Spark). */
  def writeOrc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
