package graft

import java.nio.file.{Files, Path => JPath}

import graft.sources.IO
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** graft's Parquet reader ([[IO.readParquet]]) against
  * `spark.read.parquet(path)`: the same schema on every layout Spark's
  * inference distinguishes, the same errors, and no Spark job. */
class TableReaderSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSession._

  private val made = scala.collection.mutable.ArrayBuffer.empty[JPath]
  private def tmp(): JPath = { val d = Files.createTempDirectory("graft_reader"); made += d; d }
  override def afterAll(): Unit =
    made.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
  private def files(dir: JPath): Seq[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[JPath].getFileName.toString).toSeq.sorted finally s.close()
  }

  /** A session with `confs` set, beside the shared one. */
  private def session(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def parity(s: SparkSession, path: String): Unit =
    assert(IO.readParquet(s, path).schema === s.read.parquet(path).schema, path)

  /** The error condition of `f`, from the first Spark error in its cause chain. */
  private def condition(f: => Any): String = {
    val e = intercept[Throwable](f)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case t: SparkThrowable if t.getCondition != null => t.getCondition }
      .getOrElse(fail(s"no Spark error condition in $e"))
  }

  /** A Parquet file written without Spark, so no Spark schema rides in
    * its footer and the reader must convert the Parquet types. */
  private def writeRaw(file: JPath): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message m {
        |  required int64 id;
        |  optional int64 ts_nanos (TIMESTAMP(NANOS,true));
        |  optional int64 ts_ntz (TIMESTAMP(MICROS,false));
        |  optional int64 price (DECIMAL(18,2));
        |  optional group tags (LIST) { repeated group list { optional binary element (STRING); } }
        |  optional group pt { optional double x; optional double y; }
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(file.toString)).withType(schema)
      .withConf(new Configuration()).build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
        .append("id", 1L).append("ts_nanos", 1000L).append("ts_ntz", 2000L).append("price", 12345L)
      g.addGroup("tags").addGroup("list").append("element", "a")
      g.addGroup("pt").append("x", 1.0).append("y", 2.0)
      w.write(g)
    } finally w.close()
  }

  test("schema parity: pyarrow single files, raw nested/decimal/NTZ/nanos columns, nanosAsLong on and off") {
    val s = session()
    Seq("region", "nation", "customer", "events", "embeddings").foreach(t => parity(s, s"$sf/$t.parquet"))
    val dir = tmp()
    val raw = dir.resolve("raw.parquet")
    writeRaw(raw)
    val on = session("spark.sql.legacy.parquet.nanosAsLong" -> "true")
    parity(on, raw.toString)
    assert(IO.readParquet(on, raw.toString).schema("ts_nanos").dataType.typeName === "long")
    val off = session("spark.sql.legacy.parquet.nanosAsLong" -> "false")
    val expected = condition(off.read.parquet(raw.toString).schema)
    assert(condition(IO.readParquet(off, raw.toString)) === expected)
  }

  test("schema parity: Spark-written directories — _SUCCESS/.crc, summary files, partitionBy, mergeSchema") {
    val s = session()
    val dir = tmp()
    val typed = s.range(4).select(col("id"),
      (col("id") / 3).cast("decimal(12,2)").as("dec"),
      array(col("id"), col("id") + 1).as("arr"),
      struct(col("id").as("a"), col("id").cast("string").as("b")).as("st"),
      map(col("id"), col("id").cast("string")).as("m"),
      lit("2024-01-02 03:04:05").cast("timestamp_ntz").as("ntz"),
      (col("id") % 2).as("part"), concat(lit("k"), col("id") % 2).as("key"))
    val plain = dir.resolve("plain").toString
    typed.repartition(2).write.parquet(plain)
    assert(files(dir.resolve("plain")).exists(_ == "_SUCCESS"))
    assert(files(dir.resolve("plain")).exists(_.endsWith(".crc")))
    parity(s, plain)

    val parted = dir.resolve("parted").toString
    typed.write.partitionBy("part", "key").parquet(parted)
    parity(s, parted)
    assert(IO.readParquet(s, parted).schema.fieldNames.takeRight(2).toSeq === Seq("part", "key"))
    assert(IO.readParquet(s, parted).drop("m").exceptAll(s.read.parquet(parted).drop("m")).isEmpty)

    // summary files: a foreign data file sorts first, so the summary,
    // then _metadata, then the first data file decide the schema in turn
    val summ = dir.resolve("summ")
    val withSummary = session("parquet.summary.metadata.level" -> "ALL")
    withSummary.range(3).select(col("id"), col("id").cast("string").as("b")).write.parquet(summ.toString)
    s.range(3).select(col("id").cast("int").as("other")).coalesce(1).write.parquet(dir.resolve("foreign").toString)
    val foreign = files(dir.resolve("foreign")).find(_.endsWith(".parquet")).get
    Files.copy(dir.resolve("foreign").resolve(foreign), summ.resolve("part-0-first.parquet"))
    assert(files(summ).contains("_common_metadata") && files(summ).contains("_metadata"))
    parity(s, summ.toString)
    Files.delete(summ.resolve("_common_metadata"))
    parity(s, summ.toString)
    Files.delete(summ.resolve("_metadata"))
    parity(s, summ.toString)
    assert(IO.readParquet(s, summ.toString).schema.fieldNames.toSeq === Seq("other"))

    // two data files with different columns, merged and not
    val merged = dir.resolve("merged").toString
    s.range(2).select(col("id"), lit(1).as("b")).write.parquet(merged)
    s.range(2).select(col("id"), lit("x").as("c")).write.mode("append").parquet(merged)
    parity(s, merged)
    val merging = session("spark.sql.parquet.mergeSchema" -> "true")
    parity(merging, merged)
    assert(IO.readParquet(merging, merged).schema.fieldNames.toSet === Set("id", "b", "c"))
  }

  test("error parity: a missing path and an empty directory fail with Spark's conditions") {
    val s = session()
    val missing = tmp().resolve("missing.parquet").toString
    assert(condition(IO.readParquet(s, missing)) === condition(s.read.parquet(missing)))
    assert(condition(IO.readParquet(s, missing)) === "PATH_NOT_FOUND")
    val empty = tmp().toString
    assert(condition(IO.readParquet(s, empty)) === condition(s.read.parquet(empty)))
    assert(condition(IO.readParquet(s, empty)) === "UNABLE_TO_INFER_SCHEMA")
  }

  test("loading five tables in a fresh session launches no Spark job") {
    val s = spark.newSession()
    val tables = Seq("customer", "orders", "lineitem", "events", "embeddings")
    val meter = new Bench.Meter(s)
    val loaded = try {
      val ts = tables.map(graft.util.D.t(s, sf, _))
      ts.foreach(_.schema)
      meter.drain()
      ts
    } finally meter.close()
    assert(meter.jobs.get === 0L)
    assert(loaded.map(_.schema) === tables.map(t => s.read.parquet(s"$sf/$t.parquet").schema))
  }
}
