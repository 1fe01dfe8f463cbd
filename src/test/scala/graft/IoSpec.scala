package graft

import graft.sources.IO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IoSpec extends AnyFunSuite {
  import TestSession._

  test("csv and jsonl round-trips preserve data with explicit schemas") {
    val base = graft.util.D.t(spark, sf, "customer")
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    IO.writeCsv(base, "/tmp/graft_io_csv")
    val csv = IO.readCsv(spark, "/tmp/graft_io_csv", base)
    assert(csv.count() === base.count())
    assert(csv.exceptAll(base).count() === 0)

    IO.writeJsonl(base, "/tmp/graft_io_jsonl")
    val jl = IO.readJsonl(spark, "/tmp/graft_io_jsonl", base)
    assert(jl.exceptAll(base).count() === 0)

    IO.writeParquet(base, "/tmp/graft_io_parq", partitionBy = Seq("c_mktsegment"))
    val pq = IO.readParquet(spark, "/tmp/graft_io_parq")
    assert(pq.count() === base.count())
  }

  test("orc round-trip preserves data and prunes partitions") {
    import graft.sources.IO
    val base = graft.util.D.t(spark, sf, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    IO.writeOrc(base, "/tmp/graft_orc", partitionBy = Seq("o_orderstatus"))
    val back = IO.readOrc(spark, "/tmp/graft_orc")
    assert(back.count() === base.count())
    val pruned = back.filter(col("o_orderstatus") === "F")
    import org.apache.spark.sql.execution.FileSourceScanExec
    assert(graft.util.PlanShape.all[FileSourceScanExec](pruned.queryExecution.executedPlan)
      .exists(_.partitionFilters.nonEmpty), "the status filter prunes no partition")
    assert(pruned.count() === base.filter(col("o_orderstatus") === "F").count())
  }

  test("native functions usable from SQL after registration") {
    graft.functions.GraftFunctions.register(spark)
    graft.util.D.t(spark, sf, "embeddings").createOrReplaceTempView("emb")
    val r = spark.sql(
      """SELECT cosine_similarity(embedding, embedding) AS c,
        |       fixed_dot(transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 100000000) AS BIGINT)),
        |                 transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 100000000) AS BIGINT))) AS d
        |FROM emb LIMIT 5""".stripMargin).collect()
    assert(r.forall(row => math.abs(row.getDouble(0) - 1.0) < 1e-9 && row.getLong(1) > 0))
    // the sketch aggregate too: kmin from pure SQL, checked against the
    // 3 smallest distinct vec_ids computed by a plain query
    val km = spark.sql("SELECT kmin(vec_id, 3) AS hs FROM emb").head().getSeq[Long](0)
    val expected = spark.sql("SELECT DISTINCT vec_id FROM emb ORDER BY vec_id LIMIT 3")
      .collect().map(_.getLong(0)).toSeq
    assert(km === expected)
    // invalid arity / non-positive k fail fast instead of crashing executors
    intercept[Exception](spark.sql("SELECT kmin(vec_id) FROM emb"))
    intercept[Exception](spark.sql("SELECT kmin(vec_id, 0) FROM emb").collect())
    // k may be any constant integral expression, not just an INT literal
    val kmLong = spark.sql("SELECT kmin(vec_id, CAST(3 AS BIGINT)) AS hs FROM emb")
      .head().getSeq[Long](0)
    assert(kmLong === expected)
    val kmFold = spark.sql("SELECT kmin(vec_id, 1 + 2) AS hs FROM emb")
      .head().getSeq[Long](0)
    assert(kmFold === expected)
    // the text ops from pure SQL, against their regex-chain definitions
    val txt = spark.sql(
      """SELECT ascii_normalize('  Hello,  World! 42 ') AS n,
        |       stripped_count('Hello, World! 42') AS c""".stripMargin).head()
    // stripped: 'H', ',', 'W', '!' -> 4
    assert(txt.getString(0) === "hello world 42" && txt.getInt(1) === 4)
    // the signature ops from pure SQL, against their builtin-chain forms
    val sig = spark.sql(
      """SELECT word_shingles('a b c d') AS ws,
        |       shingle_hashes('a b c d') AS sh,
        |       transform(array('a b c', 'b c d'),
        |         s -> CAST(conv(substring(md5(CAST(s AS BINARY)), 1, 15), 16, 10) AS BIGINT)) AS ref_sh,
        |       simhash60('a b c d') AS s60,
        |       fixed_scale(array(CAST(0.25 AS FLOAT), CAST(-1.0 AS FLOAT))) AS fs""".stripMargin).head()
    assert(sig.getSeq[String](0) === Seq("a b c", "b c d"))
    assert(sig.getSeq[Long](1) === sig.getSeq[Long](2))
    assert(sig.getLong(3) !== 0L)
    assert(sig.getSeq[Long](4) === Seq(25000000L, -100000000L))
    // the parameterized n-gram form: window from any foldable integral
    val ng = spark.sql(
      "SELECT word_ngrams('a b c d', 2) AS n2, word_ngrams('a b c d', 1 + 2) AS n3").head()
    assert(ng.getSeq[String](0) === Seq("a b", "b c", "c d"))
    assert(ng.getSeq[String](1) === Seq("a b c", "b c d"))
    intercept[Exception](spark.sql("SELECT word_ngrams('a b')"))
    intercept[Exception](spark.sql("SELECT word_ngrams('a b', 0)"))
    // argmax_by from pure SQL: value parity with the Column API
    // aggregate, and the plan keeps the hash-aggregable form
    val amSql = spark.sql(
      """SELECT vec_id % 5 AS g,
        |  argmax_by(vec_id, CAST(vec_id % 97 AS DOUBLE)) AS a
        |FROM emb GROUP BY 1""".stripMargin)
    val amPlan = amSql.queryExecution.executedPlan
    assert(graft.util.PlanShape.evaluating(amPlan, "argmax_by").nonEmpty, s"no argmax_by:\n$amPlan")
    assert(graft.util.PlanShape.all[org.apache.spark.sql.execution.aggregate.SortAggregateExec](
      amPlan).isEmpty, s"argmax_by fell back to a sort aggregate:\n$amPlan")
    val amCol = graft.util.D.t(spark, sf, "embeddings")
      .groupBy((col("vec_id") % 5).as("g"))
      .agg(graft.functions.ArgMaxBy.argmax(
        col("vec_id"), (col("vec_id") % 97).cast("double")).as("w"))
    assert(amSql.join(amCol, "g").filter(col("a") =!= col("w")).count() === 0)
    intercept[Exception](spark.sql("SELECT argmax_by(vec_id) FROM emb"))
    // fixed_scale rejects non-float/double arrays at ANALYSIS time (an
    // array<int> would silently read garbage under UnsafeArrayData)
    intercept[Exception](spark.sql("SELECT fixed_scale(array(1, 2))").collect())
    intercept[Exception](
      spark.sql("SELECT fixed_scale(CAST(NULL AS STRING))").collect())
    // the language-signal ops from pure SQL
    val ls = spark.sql(
      """SELECT cjk_count('ab 中文 c') AS z,
        |       alpha_tokens('ab 77 c9 中文') AS a,
        |       stop_hits('the cat und der hund', 'de') AS h""".stripMargin).head()
    assert(ls.getInt(0) === 2 && ls.getInt(1) === 2 && ls.getInt(2) === 2)
    // extra args fail loudly instead of being silently ignored
    intercept[Exception](spark.sql("SELECT cjk_count('a', 'b')"))
    intercept[Exception](spark.sql("SELECT ascii_normalize('a', ' ')"))
    // lang must be a known constant: bad arity, unknown lang, non-constant
    intercept[Exception](spark.sql("SELECT stop_hits('x')"))
    intercept[Exception](spark.sql("SELECT stop_hits('x', 'xx')"))
    intercept[Exception](
      spark.sql("SELECT stop_hits(lang, lang) FROM (SELECT 'de' AS lang)"))
  }

  test("as-of join semantics on a constructed case") {
    import spark.implicits._
    val l = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 102L))
      .toDF("user_id", "t", "event_id")
    val r = Seq((1L, 10L, 900L), (1L, 15L, 901L), (2L, 9L, 902L))
      .toDF("user_id", "t", "event_id")
    val j = graft.operators.AsOf.join(l, r, "user_id", "t", "event_id", Seq("t"))
      .select("user_id", "t", "right_t").collect()
      .map(x => (x.getLong(0), x.getLong(1), if (x.isNullAt(2)) -1L else x.getLong(2))).toSet
    // exact match at t=10 joins; t=20 takes the later signup 15; user 2
    // at t=5 has no prior right row
    assert(j === Set((1L, 10L, 10L), (1L, 20L, 15L), (2L, 5L, -1L)))
  }

  test("zvalue matches a reference Morton interleave on random keys") {
    import spark.implicits._
    import graft.sources.Layout
    def refMorton(x: Int, y: Int): Long = {
      var z = 0L
      (0 until 16).foreach { i =>
        z |= ((x >> i) & 1).toLong << (2 * i)
        z |= ((y >> i) & 1).toLong << (2 * i + 1)
      }
      z
    }
    val rng = new scala.util.Random(11)
    val pairs = Seq((0, 0), (65535, 65535), (65535, 0), (0, 65535)) ++
      Seq.fill(500)((rng.nextInt(65536), rng.nextInt(65536)))
    val got = pairs.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zvalue(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    pairs.foreach { case (x, y) =>
      assert(got((x, y)) === refMorton(x, y), s"($x, $y)")
    }
  }

  test("z-order buckets cover provably narrow rectangles; zorderBy clusters partitions") {
    import graft.sources.Layout
    val orders = graft.util.D.t(spark, sf, "orders")
    val prof = Layout.zProfile(orders).collect()
    assert(prof.nonEmpty)
    // 18 z-bits fix 9 high bits per 16-bit dimension -> span < 2^7
    prof.foreach { r =>
      assert(r.getAs[Long]("cust_hi") - r.getAs[Long]("cust_lo") < 128L)
      assert(r.getAs[Long]("day_hi") - r.getAs[Long]("day_lo") < 128L)
    }
    // a z-ordered write gives every output partition a bounded rectangle
    // too (contiguous z-ranges nest in the quadtree): check spans shrink
    // vs the unclustered table's global spans
    val day = datediff(col("o_orderdate"), lit("1992-01-01").cast(org.apache.spark.sql.types.DateType))
    val parted = Layout.zorderBy(orders, col("o_custkey"), day, 16)
      .select(col("o_custkey").cast("long").as("c"), day.cast("long").as("d"))
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg((max("c") - min("c")).as("cspan"), (max("d") - min("d")).as("dspan"))
      .collect()
    val globalC = orders.agg(max("o_custkey").cast("long") - min("o_custkey").cast("long")).head().getLong(0)
    assert(parted.length > 1)
    // at least half the partitions are strictly tighter than the table
    assert(parted.count(_.getAs[Long]("cspan") < globalC) * 2 >= parted.length)
  }

  test("z-ordered WRITE prunes on BOTH keys: row-group skip counts observed from the parquet footers") {
    import graft.sources.Layout
    // the read-side proof: write the clustered table, read the actual
    // min/max statistics out of the written files' footers (the exact
    // stats the parquet reader's row-group filter evaluates — observed
    // skip counts, not spans inferred from in-memory partitions), and
    // count how many row groups a single-key point predicate can skip
    // on EACH dimension, against an unclustered same-file-count write.
    val orders = graft.util.D.t(spark, sf, "orders")
    val day = datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
    val dir = java.nio.file.Files.createTempDirectory("zorder_read").toString
    Layout.zorderBy(orders, col("o_custkey"), day, 16)
      .write.mode("overwrite").parquet(s"$dir/z")
    orders.repartition(16).write.mode("overwrite").parquet(s"$dir/plain")
    val cols = Seq("o_custkey", "o_orderdate")
    def hits(path: String, column: String, v: Long): (Long, Long) = {
      val st = Layout.rowGroupStats(spark, path, cols)
        .filter(col("column") === column).collect()
      (st.count(r => r.getAs[Long]("min_val") <= v &&
        v <= r.getAs[Long]("max_val")).toLong, st.length.toLong)
    }
    // sweep the deciles of each key's domain (footer-derived, tz-free
    // for the NTZ timestamp): a single point can land exactly on a
    // z-strip boundary, so the OBSERVED pruning claim is about the
    // mean skip rate across the domain, plus strict per-point dominance
    // over the unclustered baseline
    def decilePoints(column: String): Seq[Long] = {
      val g = Layout.rowGroupStats(spark, s"$dir/plain", cols)
        .filter(col("column") === column)
        .agg(min("min_val"), max("max_val")).head()
      val (lo, hi) = (g.getLong(0), g.getLong(1))
      (1 to 9).map(d => lo + (hi - lo) / 10 * d)
    }
    def sweep(column: String): Unit = {
      val pts = decilePoints(column)
      val z = pts.map(v => hits(s"$dir/z", column, v))
      val p = pts.map(v => hits(s"$dir/plain", column, v))
      val nz = z.head._2
      assert(nz >= 16L && p.head._2 >= 16L, s"expected >=16 row groups on $column")
      // the z-layout lets the reader SKIP at least half the row groups
      // on average across the key domain...
      val zHits = z.map(_._1).sum
      assert(zHits * 2 <= nz * pts.length,
        s"$column: z-layout must skip >= half the row groups on average " +
          s"(${zHits.toDouble / pts.length} of $nz hit)")
      // ...and at EVERY point strictly fewer groups than the
      // row-scattered baseline, which itself overlaps nearly all
      z.zip(p).zip(pts).foreach { case (((zh, _), (ph, _)), v) =>
        assert(zh < ph, s"$column=$v: z-layout must prune strictly better ($zh vs $ph)")
      }
      val pHits = p.map(_._1).sum
      assert(pHits * 4 >= p.head._2 * pts.length * 3,
        s"$column: row-scattered baseline should overlap nearly all groups")
    }
    sweep("o_custkey")   // first interleaved key
    sweep("o_orderdate") // SECOND key — the whole point of the interleave
    // out-of-domain completeness sanity: nothing overlaps an impossible key
    assert(hits(s"$dir/z", "o_custkey", -5L)._1 === 0L)
  }

  test("zorderBy clusters a key domain wider than the exact-multiply range (double-quantized path)") {
    import spark.implicits._
    import graft.sources.Layout
    // keys spanning nearly the full Long range: the multiply-first
    // normalization (c - lo) * 65535 overflows (ANSI: throws; non-ANSI:
    // silently garbles the z-order); the double-quantized path must
    // keep the layout monotone — with y constant, range partitions on z
    // are contiguous x ranges, so per-partition [min, max] spans must
    // be disjoint
    val rng = new scala.util.Random(7)
    val xs = Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 1L) ++ Seq.fill(195)(rng.nextLong())
    val df = xs.toDF("x").withColumn("y", lit(1L))
    val parts = Layout.zorderBy(df, col("x"), col("y"), 8)
      .withColumn("pid", spark_partition_id())
      .groupBy("pid").agg(min("x").as("lo"), max("x").as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1).toSeq
    assert(parts.length > 1)
    parts.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"wide-domain partitions must cover disjoint x ranges: $parts")
      case _ =>
    }
  }

  test("rowGroupStats refuses a directory with no top-level parquet files (nested-layout misread guard)") {
    // it lists ONE directory level by design (per leaf partition dir at
    // scale); silently returning zero rows on a partitioned root could
    // be misread as "no row groups hit" by a pruning assertion
    val dir = java.nio.file.Files.createTempDirectory("rg_empty").toString
    val e = intercept[IllegalArgumentException] {
      graft.sources.Layout.rowGroupStats(spark, dir, Seq("o_custkey"))
    }
    assert(e.getMessage.contains("leaf partition directory"))
  }
}
