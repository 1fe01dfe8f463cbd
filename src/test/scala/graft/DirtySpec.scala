package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the dirty-data contracts the round-8 fixture audit established
  * (see BASELINE.md "dirty"): null values have no bin, null keys form
  * no groups/baskets, null text produces no chunks/tokens but keeps its
  * metadata row, and the imperative paths never NPE. These are the
  * regression tests for the 3-crash / 13-divergence class — the fixture
  * evidence lives in CORRECTNESS_dirty_r08.json; this spec keeps the
  * semantics from silently regressing between audits. */
class DirtySpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("binExpr is null-preserving (least() must not file nulls in the top bin)") {
    val rows = Seq[(java.lang.Double, Int)]((0.0, 0), (5.0, 0), (10.0, 0), (null, 0))
      .toDF("x", "k")
    val out = rows.select(
      graft.explain.Fedex.binExpr(col("x"), lit(0.0), lit(10.0), 10).as("bin"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getInt(0))
    assert(out.toSeq === Seq(0, 5, 9, null))
    // degenerate lo == hi range must also stay null for null input
    val deg = rows.select(
      graft.explain.Fedex.binExpr(col("x"), lit(3.0), lit(3.0), 10).as("bin"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getInt(0))
    assert(deg.toSeq === Seq(0, 0, 0, null))
  }

  test("CDC chunker: null text yields no chunks, no NPE") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, null.asInstanceOf[String]), (3L, "")).toDF("doc_id", "text")
    val out = graft.text.Cdc.chunkHashes(spark, docs)
    val ids = out.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(!ids.contains(2L) && !ids.contains(3L))
    assert(ids.contains(1L))
  }

  test("media decode: null body keeps its row with all-null metadata") {
    val docs = Seq((1L, "hello media body"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = graft.multimodal.Multimodal.decodeMeta(spark, docs)
      .orderBy("doc_id").collect()
    assert(out.length === 2)
    assert(out(0).getString(5) != null)           // real format decoded
    assert(out(1).isNullAt(1) && out(1).isNullAt(5)) // null byte_len + format
  }

  test("bagFingerprint: null text stays null, distinct from empty text") {
    val out = Seq((1L, ""), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .select(graft.text.TextOps.bagFingerprint(col("text")).as("fp"))
      .collect()
    assert(out(0).getString(0) != null)
    assert(out(1).isNullAt(0))
  }

  test("connectedComponents ignores nothing it is given: null-free edge contract") {
    // closure inputs are pair tables built upstream; document the cast
    // behavior: null ids become null src/dst and never join, so they
    // cannot corrupt labels
    val pairs = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (null, 3L))
      .toDF("doc_a", "doc_b")
    val cc = graft.dedup.Cluster.connectedComponents(pairs)
    val byId = cc.collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(byId(1L) === 1L && byId(2L) === 1L)
    assert(byId.get(3L) === Some(3L)) // 3's only edge has a null peer: singleton label
  }

  test("stratifiedSplit keeps the NULL stratum (null-safe offset join)") {
    val docs = (1L to 40L).map(i =>
        (i, if (i % 10 == 0) null else if (i <= 20) "en" else "fr",
          s"tok$i tok${i + 1} tok${i + 2}"))
      .toDF("doc_id", "lang", "text")
    val out = graft.text.Profile.stratifiedSplit(docs)
    val langs = out.select("lang").distinct().collect()
      .map(r => Option(r.getString(0))).toSet
    assert(langs.contains(None), "NULL stratum must survive the offset join")
    // every doc is assigned exactly once
    assert(out.agg(sum("n_docs")).head().getLong(0) === 40L)
  }

  /** Benignity for the degenerate-corpus pins is decided by MESSAGE
    * FRAGMENT, never by exception class: Spark surfaces some genuine
    * runtime failures as IllegalArgumentException (and guard-shaped
    * classes generally), so a class-based filter could silently excuse
    * exactly the crash class these pins exist to remove luck from. Every
    * fragment below is either a missing-table shape (queries needing
    * other tables are out of scope on a single-table dir) or a
    * deliberate fail-loud guard message from main source. */
  private val benignFragments = Seq(
    // missing-table / schema shapes on a single-table fixture dir
    "PATH_NOT_FOUND", "Path does not exist",
    "UNRESOLVED_COLUMN", "DATATYPE_MISMATCH",
    // deliberate nonempty-model / domain guards (fail loud BY DESIGN)
    "exceeds the mask width",          // q_basket_pairs vocab-width guard
    "need a positive corpus size",     // dsir corpus guard
    "pca: empty corpus",               // Pca nonempty guard
    "no non-null rows in",             // quantile/qcut guard on all-null col
    "need at least one n per family",  // ngram-family guard (Corpus.scala, exact require() string)
    "requires numeric attributes",     // pruning guards
    // parameter guards surfaced via plans — QUALIFIED with their exact
    // require() prefixes from main source: the bare "must be >= 1" /
    // "must be positive" fragments also appear in genuine Spark runtime
    // errors, so an unqualified match could silently excuse a real crash
    // (the luck class this message-fragment design exists to remove)
  )

  private def runAll(dir: String): (Int, Seq[(String, String)]) = {
    var ran = 0
    val crashed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try { fn(spark, dir).collect(); ran += 1 }
      catch {
        case e: Throwable =>
          // unwrap Spark's wrapped task failures to the root cause
          var c: Throwable = e
          while (c.getCause != null && c.getCause != c) c = c.getCause
          val m = Option(c.getMessage).getOrElse(c.getClass.getName)
          if (!benignFragments.exists(m.contains))
            crashed += name -> s"${c.getClass.getSimpleName}: ${m.take(160)}"
      }
    }
    (ran, crashed.toSeq)
  }

  test("no documents-family query crashes on a fully-degenerate corpus (the deterministic hash-luck killer)") {
    // The fixture audits inject dirty text into HASH-CHOSEN slices — a
    // shape that never rolls a given degenerate doc simply isn't tested
    // (the round-9 combo audit caught exactly such a latent ANSI
    // DIVIDE_BY_ZERO: empty-text docs missed the r8 dirty fixture by
    // hash luck). This pin removes the luck: EVERY degenerate text
    // class is present, every registered query that can run on a
    // documents-only dir must complete without an arithmetic/NPE crash.
    val degenerate = Seq[(Long, String, String, String, Long)](
      (1L, null, "en", "web", 0L),                      // null text
      (2L, "", "en", "web", 0L),                        // empty
      (3L, "   ", null, "web", 3L),                     // whitespace-only + null lang
      (4L, "!!! ??? ///", "fr", "web", 11L),            // punctuation-only tokens
      (5L, "a", "en", "books", 1L),                     // single char
      (6L, "\tword\nword\t", "en", "books", 12L),       // tabs/newlines
      (7L, "the the the the the", "en", "web", 19L),    // pure repetition
      (8L, "0 1 2 3 4 5 6 7 8 9", "xx", "web", 19L),    // digits only
      (9L, ("verylongtoken" * 40) + " end", "en", null, 524L), // 520-char token + null source
      (10L, "the quick brown fox jumps over the lazy dog", "en", "web", 44L))
    val dir = java.nio.file.Files.createTempDirectory("degen").toString
    degenerate.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val (ran, crashed) = runAll(dir)
    assert(ran >= 40, s"expected a substantial documents-only subset to run; ran=$ran")
    assert(crashed.isEmpty,
      s"queries crashed on the degenerate corpus:\n${crashed.mkString("\n")}")
  }

  test("no events-family query crashes on a fully-degenerate event log") {
    // same deterministic hash-luck killer for the events family: every
    // degenerate event class present at once. ts and user_id stay
    // non-null — they are the fold-ordering contract the dirty fixture
    // documents; everything else is adversarial.
    def ts(us: Long) = new java.sql.Timestamp(us / 1000) // ms precision is enough here
    val degenerate = Seq[(Long, java.sql.Timestamp, Long, String, java.lang.Double, String)](
      (1L, ts(1000000L), 1L, null, null, null),                       // null type/value/props
      (2L, ts(1000000L), 1L, "view", 0.0, "{}"),                      // same-ts tie, empty props
      (3L, ts(1000000L), 1L, "view", -5.5, "not json"),               // tie + negative + malformed props
      (4L, ts(2000000L), 1L, "purchase", 9e11, "{\"k\": 1}"),         // huge value (inside the documented DECIMAL(18,6) envelope; ≥1e12 is fail-loud BY CONTRACT in both engines)
      (5L, ts(3000000L), 2L, "signup", null, "{\"k\": null}"),        // null value, null json field
      (6L, ts(3000001L), 2L, "purchase", 1.0, "{\"k\": 2}"),          // instant conversion
      (7L, ts(9000000L), 3L, "zzz-unknown-type", 2.0, "[]"),          // out-of-domain type, non-object json
      (8L, ts(9000000L), 3L, "", 3.0, "{\"k\": 3}"))                  // empty-string type
    val dir = java.nio.file.Files.createTempDirectory("degen_ev").toString
    degenerate.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val (ran, crashed) = runAll(dir)
    assert(ran >= 15, s"expected a substantial events-only subset to run; ran=$ran")
    assert(crashed.isEmpty,
      s"queries crashed on the degenerate event log:\n${crashed.mkString("\n")}")
  }

  test("no embeddings-family query crashes on a degenerate vector corpus") {
    // same deterministic hash-luck killer for the ANN/kmeans/PQ family:
    // every degenerate vector class present at once — zero vectors
    // (cosine denominators), exact ties, near-zero norms, and huge
    // magnitudes. vec_id stays a clean key and dims stay uniform —
    // they are the storage contract the generator documents; the
    // VALUES are adversarial.
    val dim = 8
    def v(xs: Float*): Array[Float] = (xs ++ Seq.fill(dim - xs.length)(0.0f)).toArray
    val degenerate = Seq[(Long, Array[Float], Long)](
      (0L, Array.fill(dim)(0.0f), 0L),                 // all-zero vector (norm 0)
      (1L, Array.fill(dim)(0.0f), 0L),                 // zero-vector TIE (dup content)
      (2L, v(1.0f), 1L),                               // unit axis
      (3L, v(1.0f), 1L),                               // exact duplicate (cosine 1 tie)
      (4L, v(-1.0f), 1L),                              // antipodal (cosine -1)
      (5L, v(1e-8f, 1e-8f), 2L),                       // near-zero norm (fixed-point underflow)
      (6L, v(8.0f, -8.0f, 8.0f), 2L),                  // large magnitude, inside the documented Σ|x·y|<920 fixed-point envelope
      (7L, Array.tabulate(dim)(i => (i - 3).toFloat), 3L), // mixed signs
      (8L, v(0.5f, 0.5f, 0.5f, 0.5f), 3L),             // plain vector
      (9L, v(0.707f, -0.707f), 4L))                    // singleton label
    val dir = java.nio.file.Files.createTempDirectory("degen_emb").toString
    val spark0 = spark
    import spark0.implicits._
    degenerate.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val (ran, crashed) = runAll(dir)
    assert(ran >= 10, s"expected a substantial embeddings-only subset to run; ran=$ran")
    assert(crashed.isEmpty,
      s"queries crashed on the degenerate vector corpus:\n${crashed.mkString("\n")}")
  }

  test("no relational/explainer query crashes on a fully-degenerate TPC-H micro-schema") {
    // the fourth family pin: all seven TPC-H tables at once (the
    // relational + explainer families join across them), every
    // degenerate row class present deterministically — null/orphan/
    // duplicate keys, null and zero measures, discount = 1.0 (the
    // 1-discount multiplier hits zero), NULL DATES (the class the
    // hash-sliced dirty fixture never injects: every window/datediff/
    // date_format path sees a null), empty and null strings.
    def ts(day: Int): java.sql.Timestamp =
      if (day < 0) null else java.sql.Timestamp.valueOf(f"1995-01-${day + 1}%02d 00:00:00")
    val dir = java.nio.file.Files.createTempDirectory("degen_tpch").toString
    Seq[(java.lang.Long, String, java.lang.Integer, java.lang.Double, String)](
      (1L, "cust-a", 0, 100.0, "BUILDING"),
      (2L, "cust-b", 1, null, "BUILDING"),          // null acctbal
      (3L, null, 1, -999.99, null),                 // null name + segment, negative bal
      (4L, "", 2, 0.0, ""),                         // empty strings, zero bal
      (4L, "cust-dup", 2, 50.0, "MACHINERY"),       // DUPLICATE custkey
      (5L, "cust-e", null, 25.0, "AUTOMOBILE"))     // null nationkey
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq[(java.lang.Long, java.lang.Long, String, java.lang.Double, java.sql.Timestamp, String)](
      (10L, 1L, "F", 1000.0, ts(0), "1-URGENT"),
      (11L, 2L, "O", 0.0, ts(1), "5-LOW"),          // zero price
      (12L, null, "F", null, null, null),           // null FK + price + DATE + priority
      (13L, -7L, "", 500.0, ts(3), "9-INVALID"),    // orphan FK, empty status
      (13L, 1L, "P", 250.0, ts(4), "2-HIGH"),       // DUPLICATE orderkey
      (14L, 5L, "O", 750.0, null, "3-MEDIUM"))      // null date
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq[(java.lang.Long, java.lang.Long, java.lang.Long, java.lang.Integer, java.lang.Double, java.lang.Double, java.lang.Double, java.lang.Double, String, String, java.sql.Timestamp)](
      (10L, 100L, 200L, 1, 5.0, 1000.0, 0.1, 0.02, "A", "F", ts(0)),
      (10L, 101L, 201L, 2, 0.0, 0.0, 0.0, 0.0, "N", "O", ts(1)),     // zero qty/price
      (11L, 100L, 200L, 1, null, null, null, null, null, null, null), // all-null measures + DATE + flags
      (12L, -1L, 200L, 1, 3.0, 300.0, 1.0, 0.05, "R", "F", ts(2)),   // orphan part, discount = 1.0
      (13L, 101L, -2L, 1, 7.0, 700.0, 0.5, 0.01, "A", "F", null),    // orphan supp, null date
      (13L, 101L, 201L, 1, 2.0, 200.0, 0.2, 0.03, "R", "O", ts(5)),  // DUPLICATE (orderkey, linenumber)
      (99L, 100L, 200L, 3, 4.0, 400.0, 0.05, 0.04, "N", "O", ts(6))) // orphan orderkey
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq[(java.lang.Long, String, java.lang.Integer, java.lang.Double)](
      (200L, "supp-a", 0, 10.0), (201L, null, null, null))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    Seq[(java.lang.Long, String, String, String, java.lang.Integer, java.lang.Double)](
      (100L, "part-a", "Brand#1", "TYPE A", 5, 100.0),
      (101L, null, null, "", -3, null))              // negative size, nulls
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq[(java.lang.Integer, String, java.lang.Integer)](
      (0, "NATION-A", 0), (1, "NATION-B", 0), (2, null, null))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq[(java.lang.Integer, String)]((0, "REGION-A"), (1, null))
      .toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val (ran, crashed) = runAll(dir)
    assert(ran >= 70, s"expected the relational/explainer families to run; ran=$ran")
    assert(crashed.isEmpty,
      s"queries crashed on the degenerate TPC-H schema:\n${crashed.mkString("\n")}")
  }

  test("out-of-envelope vectors FAIL LOUD in the fixed-point hot path, matching the oracle's BIGINT overflow") {
    // |x| = 80 at dim 8 puts Σ(x·1e8)² past Long.MaxValue. DuckDB
    // errors on the BIGINT overflow; FixedDot must do the same
    // (multiplyExact/addExact) — a silent Java wraparound would be a
    // cross-engine DIVERGENCE instead of a crash, the worst failure
    // class the oracle hash compare exists to prevent.
    val big = Seq((0L, Array.fill(8)(80.0f), 0L), (1L, Array.fill(8)(80.0f), 0L))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[Exception] {
      big.select(graft.functions.FixedDot(
          graft.sim.Ann.scaled(col("embedding")),
          graft.sim.Ann.scaled(col("embedding"))).as("d"))
        .collect()
    }
    var c: Throwable = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    assert(c.isInstanceOf[ArithmeticException] ||
      Option(c.getMessage).exists(_.contains("overflow")),
      s"expected a loud overflow, got $c")
  }

  test("outlier explainer yields NULL scores (the oracle's x/0) when the group means collapse σ to exactly 0") {
    // tiny-magnitude agg column: every per-group mean v ≈ 0.0x, v²
    // rounds to 0.00 at the mirror's DECIMAL(24,2), svv = 0, variance
    // clamps to 0 → σ = 0 exactly. DuckDB's (vt − μ)/0.0 is NULL; ANSI
    // Spark used to throw DIVIDE_BY_ZERO (found by the Houses-notebook
    // replay). Contract: rows come back, scores NULL, no crash.
    val rng = new scala.util.Random(5)
    val rows = (1L to 400L).map(i =>
      (i, 1990L + i % 5, 0.04 + (rng.nextInt(20) * 1e-3), i % 3))
    val df = rows.toDF("id", "yr", "ratio", "attr")
    val gb = graft.core.ExplainFrame(df, "tiny").groupBy("yr").mean("ratio")
    val out = gb.explain(explainer = "outlier", dir = "high", target = "1991",
      attributes = Seq("attr"), useSampling = false).collect()
    assert(out.nonEmpty, "σ=0 must yield rows, not a crash")
    out.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("s_full")), "s_full must be NULL at σ=0 (oracle x/0)")
      assert(r.isNullAt(r.fieldIndex("influence")), "influence must be NULL at σ=0")
    }
  }

  test("multimodal byte-walkers fail LOUD (never an array-bounds crash) on every malformed payload class") {
    // the fifth family pin. The registered queries only ever see
    // payloads synthPayload built (well-formed by construction), but
    // parseMeta is the library's decode surface for REAL crawl bytes —
    // and a header byte-walker is exactly the code class where a
    // malformed input turns into an ArrayIndexOutOfBoundsException
    // instead of the documented fail-loud IllegalStateException. Every
    // malformed class, deterministically present:
    import graft.multimodal.Multimodal
    def mustFailLoud(label: String, p: Array[Byte], frag: String): Unit = {
      val e = intercept[IllegalStateException](Multimodal.parseMeta(p))
      assert(e.getMessage.contains(frag), s"$label: got '${e.getMessage}'")
    }
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // zero-length payload / format byte matching no branch
    mustFailLoud("empty", Array.emptyByteArray, "unrecognized media payload")
    mustFailLoud("all-zero", Array.fill[Byte](64)(0), "unrecognized media payload")
    mustFailLoud("plain text", "not an image at all".getBytes("UTF-8"), "unrecognized media payload")
    // JPEG truncated at the SOF marker with no room for even the length
    // field: the walk's 4-byte loop guard rejects it before any read
    mustFailLoud("jpeg truncated at SOF", bytes(0xFF, 0xD8, 0xFF, 0xC0), "no SOF marker")
    // ...but with the length field present and the dims missing, the
    // loop guard PASSES while the frame-dim read needs 9 bytes — pre-fix
    // this was an ArrayIndexOutOfBoundsException (the silent class this
    // pin exists to remove)
    mustFailLoud("jpeg SOF missing dims", bytes(0xFF, 0xD8, 0xFF, 0xC0, 0x00, 0x11, 0x08), "truncated SOF")
    // marker walk running off the end (segment length field lies)
    mustFailLoud("jpeg lying segment length", bytes(0xFF, 0xD8, 0xFF, 0xE0, 0xFF, 0xFF, 0x00, 0x00), "no SOF marker")
    // garbage where a marker byte is required
    mustFailLoud("jpeg non-marker byte", bytes(0xFF, 0xD8, 0x00, 0x12, 0x34, 0x56), "expected marker")
    // SOI immediately followed by EOI — stream ends before any frame
    mustFailLoud("jpeg SOI+EOI only", bytes(0xFF, 0xD8, 0xFF, 0xD9), "no SOF marker")
    // PNG: a valid payload ('a' = 97, 97 % 3 == 1 → png), then corrupted
    val png = Multimodal.synthPayload("a body that synthesizes as png".getBytes("UTF-8"))
    assert(Multimodal.parseMeta(png)._1 === "png")
    val crcBad = png.clone(); crcBad(17) = (crcBad(17) ^ 0x01).toByte // flip an IHDR width bit, keep CRC
    mustFailLoud("png corrupted IHDR (CRC check)", crcBad, "IHDR CRC mismatch")
    val notIhdr = png.clone(); notIhdr(12) = 'f'.toByte
    mustFailLoud("png first chunk not IHDR", notIhdr, "first chunk is not IHDR")
    // truncated PNG magic: shorter than one IHDR — documented downgrade
    // to the unrecognized branch (never an out-of-bounds read)
    mustFailLoud("png truncated", png.take(20), "unrecognized media payload")
    // truncated GIF header ('b' = 98, 98 % 3 == 2 → gif)
    val gif = Multimodal.synthPayload("b body that synthesizes as gif".getBytes("UTF-8"))
    assert(Multimodal.parseMeta(gif)._1 === "gif")
    mustFailLoud("gif truncated", gif.take(8), "unrecognized media payload")
    // GIF87a is a legal variant the sniffer accepts
    val gif87 = gif.clone(); gif87(4) = '7'.toByte
    assert(Multimodal.parseMeta(gif87)._1 === "gif")

    // seeded fuzz: random byte soup, marker-prefixed soup, and RANDOM
    // TRUNCATIONS of valid synthesized payloads (the nastiest class — a
    // structurally-plausible prefix). Contract: parseMeta either returns
    // a (format, w, h) triple or throws IllegalStateException; anything
    // else (AIOOBE, NPE, hang) fails here.
    val rng = new scala.util.Random(20260816)
    (0 until 4000).foreach { k =>
      val p: Array[Byte] = (k % 3) match {
        case 0 =>
          val a = new Array[Byte](rng.nextInt(96)); rng.nextBytes(a)
          if (a.length >= 2 && k % 2 == 0) { a(0) = 0xFF.toByte; a(1) = 0xD8.toByte }
          a
        case 1 =>
          val a = new Array[Byte](rng.nextInt(96)); rng.nextBytes(a)
          val magic = (k / 3) % 3 match {
            case 0 => bytes(0xFF, 0xD8, 0xFF)
            case 1 => bytes(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
            case _ => "GIF89a".getBytes("US-ASCII")
          }
          magic ++ a
        case _ =>
          val body = new Array[Byte](rng.nextInt(160)); rng.nextBytes(body)
          val full = Multimodal.synthPayload(body)
          full.take(rng.nextInt(full.length + 1))
      }
      try { Multimodal.parseMeta(p); () }
      catch { case _: IllegalStateException => () }
    }
    // the signature walker shares the raw-bytes surface: same fuzz, and
    // its 60-bit output must stay inside its domain on any input
    (0 until 1000).foreach { _ =>
      val a = new Array[Byte](rng.nextInt(200)); rng.nextBytes(a)
      val s = graft.functions.PhashHelper.sig(a, Multimodal.PhashBits)
      assert(s >= 0L && s < (1L << Multimodal.PhashBits))
    }
  }

  test("media decode recovers the oracle's UTF-8 BYTE conventions on degenerate text (multi-byte lead, empty, null)") {
    // the hb/byte_len contract from first principles: the format rotation
    // and dims read the first UTF-8 BYTE and the BYTE length — for a
    // 4-byte emoji lead char hb = 0xF0 = 240 (not the codepoint), and
    // byte_len counts UTF-8 bytes (not characters). DuckDB's
    // strlen/hex(BLOB) mirror must see identical values.
    val docs = Seq[(Long, String)](
      (1L, null),            // null body: all-null metadata row, kept
      (2L, ""),              // empty body: hb 0 → jpeg, dims from len 0
      (3L, "🦄 unicorn"), // U+1F984, UTF-8 lead byte 0xF0 = 240 → 240 % 3 == 0 → jpeg
      (4L, "é accent"))      // U+00E9, UTF-8 lead byte 0xC3 = 195 → 195 % 3 == 0 → jpeg
      .toDF("doc_id", "text")
    val out = graft.multimodal.Multimodal.decodeMeta(spark, docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).isNullAt(1) && out(1L).isNullAt(5)) // null text: null metadata
    val jpegOverhead = 124L // SOI 2 + APP0 18 + DQT 69 + SOF0 19 + SOS 14 + EOI 2 (Multimodal.JpegOverhead)
    val emptyLen = out(2L).getLong(1)
    assert(emptyLen === jpegOverhead && out(2L).getString(5) === "jpeg")
    val uniBytes = "🦄 unicorn".getBytes("UTF-8").length.toLong
    assert(out(3L).getString(5) === "jpeg") // 0xF0 % 3 == 0
    assert(out(3L).getLong(1) === uniBytes + jpegOverhead)
    assert(out(3L).getLong(3) === 16L + (uniBytes % 64) * 4) // width formula over BYTES
    assert(out(4L).getString(5) === "jpeg") // 0xC3 % 3 == 0
  }
}
