package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: scale an sf directory up N× for BENCH evidence (the
  * driver ships sf0.001/0.01/0.1 only; BASELINE.md's amortization
  * claims need an sf1-shaped datapoint). NOT part of the library.
  *
  * Each copy i offsets every join key by i·OFF (so key cardinalities
  * scale with the data, joins stay 1:N, and no cross-copy key ever
  * collides) and PERTURBS content so similarity workloads scale the
  * way a real corpus does instead of degenerating:
  *  - documents.text goes through a per-copy consonant permutation —
  *    length, whitespace, and token shape survive (token/quality/CDC
  *    costs scale linearly) but shingles differ across copies, so
  *    minhash/simhash/ngram dedup does not see every doc as a 10-way
  *    near-duplicate (which would blow bucket pair counts up 100×);
  *  - embeddings rotate by i dimensions (norm-preserving, near-zero
  *    cosine to the original in high-d), and labels offset per copy so
  *    label-blocked dedup keeps its block-size contract;
  *  - nation/region stay fixed (dimension tables don't scale with SF).
  *
  * Optional 4th arg `zipf` produces the SKEWED-KEY variant the skew
  * remedies (q_skew_join's hybrid router, q_salted_nunique's two-stage
  * distinct) exist for: after the copy-union, 40% of lineitem rows are
  * remapped onto 10 GLOBAL hot orderkeys and 40% of events rows onto 10
  * global hot users, Zipf(s=1)-weighted (hot key k+1 gets weight
  * 1/(k+1)), deterministic by row hash. The hot keys are copy-0 keys, so
  * they exist on the dimension side and the hot mass CONCENTRATES as
  * copies grow — the adversarial shape a uniform scale-up never shows
  * (at 10 copies the hottest orderkey carries ~8% of all lineitem rows,
  * ~4000× a uniform key's share).
  */
object GenScale {

  private val OFF = 10000000L

  /** Zipf bucket space and hot fraction: a row is remapped iff its
    * 4096-bucket hash lands below 40%, then ranked into 10 hot keys by
    * harmonic cumulative cuts. */
  private val ZipfB = 4096
  private val ZipfHotCut = (0.4 * ZipfB).toInt
  private val ZipfHotN = 10

  /** Cumulative bucket cut for hot rank k (0-based): cut(k) =
    * hotCut · H(k+1)/H(n) with H the harmonic sum. */
  private def zipfCuts: Seq[Int] = {
    val h = (1 to ZipfHotN).map(1.0 / _)
    val total = h.sum
    (1 to ZipfHotN).map(k => math.round(h.take(k).sum / total * ZipfHotCut).toInt)
  }

  /** bucket (< hotCut) → the Zipf-ranked hot key literal. */
  private def zipfPick(bucket: org.apache.spark.sql.Column, hot: Seq[Long]) =
    zipfCuts.zipWithIndex.init.foldRight(lit(hot.last)) {
      case ((cut, k), els) => when(bucket < cut, hot(k)).otherwise(els)
    }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/root/repo/bench-sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else ""
    val spark = graft.util.LocalSession()
    run(spark, src, out, copies, mode)
    spark.stop()
  }

  /** The whole generator as a callable (main is a thin CLI wrapper) so
    * the composition contracts — modes compose, rev stays on top of the
    * per-copy perturbation — are unit-testable on a tiny src dir. */
  def run(spark: SparkSession, src: String, out: String, copies: Int,
          mode: String = ""): Unit = {
    // Modes compose with '+' (e.g. "dirty+zipf+seed=5"): the five
    // independently-proven shapes leave exactly one untested PRODUCT —
    // hot-key × null-key interaction (a null-heavy hot stratum
    // exercising <=> joins under skew) × perturbed content/keys.
    // Composition order per table: content perturbation (seed/rev) is
    // part of the copy construction; then zipf remaps keys; then dirty
    // injects its violation slices ON TOP (so dirt lands INSIDE the hot
    // stratum — both coins share the row-identity bucket). Each
    // single-mode fixture is bit-identical to the pre-composition form.
    val parts = mode.split('+').filter(_.nonEmpty).toSeq
    // zipf: the SKEWED-KEY variant (see object doc)
    val zipf = parts.contains("zipf")
    // seed=N: shift every copy's perturbation index by N — at copies=1
    // this yields a CONTENT-PERTURBED fixture (permuted consonants,
    // rotated embeddings, offset keys/labels) of the SAME shape, the
    // fixture-overfit audit input: an operator that is accidentally
    // right only on the original data (hash ties, %-mod alignments,
    // empty edge buckets) fails its oracle there.
    val seed = parts.find(_.startsWith("seed=")).map(_.drop(5).toInt).getOrElse(0)
    // rev: the single-copy VOCABULARY-PRESERVING content audit —
    // reverse token order in documents and dimension order in
    // embeddings, keys and every other column untouched. Complements
    // seed=N (which offsets keys and permutes consonants): queries
    // whose literals are query TERMS (bm25) or key ranges keep nonzero
    // results here while still seeing genuinely different shingles/
    // pairs/vectors. At copies > 1, rev composes ON TOP of the
    // per-copy perturbation (round-10 change — rev alone used to win,
    // silently collapsing every copy into an exact cross-copy
    // duplicate); the multi-copy CONSTANT-VOCABULARY scale shape that
    // behavior provided is now the EXPLICIT `dup` mode below.
    val rev = parts.contains("rev")
    // dup: the constant-vocabulary SCALE audit — copies keep their key
    // offsets but their CONTENT (text, embeddings, labels) is
    // bit-identical across copies, so bytes grow N× while distinct
    // terms/pairs/vectors stay constant. This is the shape that
    // falsified the disjoint-vocab superlinearity artifact (BASELINE
    // "vocab artifact" section); `dup+rev` reproduces the pre-r10
    // multi-copy rev fixtures (bench-sf1-rev / bench-sf10-rev) exactly.
    val dup = parts.contains("dup")
    // dirty: the DATA-QUALITY audit fixture — inject a deterministic
    // violation slice for EVERY q_dq_suite constraint (null FKs, orphan
    // FKs on both legs, duplicate orderkeys, out-of-range and null
    // quantities, negative prices, out-of-domain and null priorities),
    // keyed by row-identity hash so re-runs are stable. The clean
    // fixture proves the suite reports zeros; this one proves Spark and
    // the DuckDB oracle COUNT THE SAME VIOLATIONS — the cross-engine
    // NULL/NOT-IN semantics the FK legs align explicitly.
    val dirty = parts.contains("dirty")
    require(parts.forall(p =>
      p == "zipf" || p == "rev" || p == "dirty" || p == "dup" || p.startsWith("seed=")),
      s"unknown mode '$mode' (supported: zipf, rev, dirty, dup, seed=N, '+'-composed)")
    def t(n: String): DataFrame = graft.sources.IO.readParquet(spark, s"$src/$n.parquet")

    val cons = "bcdfghjklmnpqrstvwxyz"
    def perm(i: Int): String = cons.drop(i % cons.length) + cons.take(i % cons.length)

    def scaled(name: String, keyCols: Seq[String],
               tweak: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until copies).map { i0 =>
        val i = i0 + seed // seed shifts every copy's perturbation index
        val base = keyCols.foldLeft(t(name))((d, k) => d.withColumn(k, col(k) + lit(i * OFF)))
        tweak(base, i)
      }.reduce(_ unionByName _)

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> t("region"),
      "nation" -> t("nation"),
      "customer" -> scaled("customer", Seq("c_custkey")),
      "supplier" -> scaled("supplier", Seq("s_suppkey")),
      "part" -> scaled("part", Seq("p_partkey")),
      "orders" -> scaled("orders", Seq("o_orderkey", "o_custkey"),
        (d, _) => if (!dirty) d else {
          // disjoint ~1% hash slices per defect; orphan custkeys are
          // negative (never a customer key), duplicate orderkeys
          // collapse to their 1000-block base (guaranteed collisions
          // within a slice-dense block, and the vacated keys orphan a
          // matching lineitem slice as a side effect — dirt compounds,
          // as real dirt does)
          val b = pmod(xxhash64(col("o_orderkey")), lit(4096))
          d.withColumn("o_custkey",
              when(b < 40, lit(null).cast("bigint"))
                .when(b >= 40 && b < 80, -pmod(col("o_orderkey"), lit(997)) - 1)
                .otherwise(col("o_custkey")))
            .withColumn("o_totalprice",
              when(b >= 80 && b < 120, -col("o_totalprice")).otherwise(col("o_totalprice")))
            .withColumn("o_orderpriority",
              when(b >= 120 && b < 140, lit("9-INVALID"))
                .when(b >= 140 && b < 160, lit(null).cast("string"))
                .otherwise(col("o_orderpriority")))
            .withColumn("o_orderkey",
              when(b >= 160 && b < 200,
                col("o_orderkey") - pmod(col("o_orderkey"), lit(1000)))
                .otherwise(col("o_orderkey")))
        }),
      "lineitem" -> scaled("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"),
        (d0, _) => if (!dirty && !zipf) d0 else {
          // ONE row-identity bucket drives both coins, materialized
          // BEFORE any remap: zipf first concentrates 40% of rows on 10
          // hot keys, then dirty's slices (the same low buckets, all
          // inside the hot range) null/negate keys and corrupt
          // quantities INSIDE that hot stratum — the hot-key × null-key
          // product the single-mode fixtures never exercise. Each
          // single mode alone is bit-identical to its pre-composition
          // form (same bucket, same slices).
          val d = d0.withColumn("__b",
            pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(4096)))
          val b = col("__b")
          // hot keys = the 10 smallest copy-0 orderkeys (exist in orders
          // at every copy count; +seed·OFF tracks the seed key shift)
          val z = if (!zipf) d else {
            val hotKeys = t("orders").select(col("o_orderkey")).orderBy("o_orderkey")
              .limit(ZipfHotN).collect().map(_.getLong(0) + seed * OFF).toSeq
            d.withColumn("l_orderkey",
              when(b < ZipfHotCut, zipfPick(b, hotKeys))
                .otherwise(col("l_orderkey")))
          }
          val out = if (!dirty) z else
            z.withColumn("l_quantity",
                when(b < 40, lit(0.0)).when(b >= 40 && b < 60, lit(null).cast("double"))
                  .when(b >= 60 && b < 100, lit(99.0)).otherwise(col("l_quantity")))
              .withColumn("l_orderkey",
                when(b >= 100 && b < 120, lit(null).cast("bigint"))
                  .when(b >= 120 && b < 160, -pmod(col("l_orderkey"), lit(997)) - 1)
                  .otherwise(col("l_orderkey")))
          out.drop("__b")
        }),
      "events" -> scaled("events", Seq("event_id", "user_id"),
        (d0, _) => if (!dirty && !zipf) d0 else {
          // same shared-bucket composition as lineitem; the dirty slices
          // (null value / null event_type — ts and user_id stay non-null,
          // they are the fold-ordering contract) land inside the zipf
          // hot-user stratum since both coins read the same bucket
          val d = d0.withColumn("__b", pmod(xxhash64(col("event_id")), lit(4096)))
          val b = col("__b")
          val z = if (!zipf) d else
            d.withColumn("user_id",
              when(b < ZipfHotCut,
                zipfPick(b, (1L to ZipfHotN.toLong).map(_ + seed * OFF)))
                .otherwise(col("user_id")))
          val out = if (!dirty) z else
            z.withColumn("value",
                when(b < 30, lit(null).cast(d0.schema("value").dataType))
                  .otherwise(col("value")))
              .withColumn("event_type",
                when(b >= 30 && b < 50, lit(null).cast("string"))
                  .otherwise(col("event_type")))
          out.drop("__b")
        }),
      "documents" -> scaled("documents", Seq("doc_id"), (d0, i) => {
        // content perturbation first (it reads text), dirt second (it
        // overwrites text for its slices) — so dirty composes with
        // seed/rev instead of masking them
        // rev composes ON TOP of the per-copy consonant permutation: a
        // multi-copy rev fixture must not collapse every copy's text to
        // an exact cross-copy duplicate (the shingle-space degeneration
        // the per-copy perm exists to prevent — it blows up minhash
        // bucket pair counts). copies==1 rev output is unchanged; the
        // exact-duplicate shape is the explicit `dup` mode.
        val perCopy =
          if (i == 0 || dup) d0
          else d0.withColumn("text",
            translate(col("text"), cons + cons.toUpperCase,
              perm(i) + perm(i).toUpperCase))
        val content =
          if (rev) perCopy.withColumn("text",
            array_join(reverse(split(col("text"), " ")), " "))
          else perCopy
        if (!dirty) content else {
          // text-family audit dirt: null / empty / whitespace-only text
          // and null lang — the cross-engine null-semantics slice for
          // every tokenize/shingle/quality/langid scan
          val b = pmod(xxhash64(col("doc_id")), lit(4096))
          content.withColumn("text",
              when(b < 20, lit(null).cast("string"))
                .when(b >= 20 && b < 40, lit(""))
                .when(b >= 40 && b < 60, lit("   "))
                .otherwise(col("text")))
            .withColumn("lang",
              when(b >= 60 && b < 80, lit(null).cast("string")).otherwise(col("lang")))
        }
      }),
      "embeddings" -> scaled("embeddings", Seq("vec_id"), (d, i) => {
        // dup: content identical across copies (vectors AND labels —
        // only vec_id offsets), the constant-vocabulary scale shape
        if (dup) {
          if (rev) d.withColumn("embedding", reverse(col("embedding"))) else d
        } else {
          // rotation alone has only dim distinct values (copy i >= dim
          // degenerates to identity — 37 exact-duplicate copies at
          // copies=100); compose with a norm-preserving sign flip per
          // rotation cycle so every copy stays near-orthogonal to copy 0.
          // rev then composes ON TOP of the per-copy rotation (same
          // reasoning as documents: rev alone would make every copy an
          // exact cross-copy duplicate); copies==1 rev output unchanged.
          val r = i % 64
          val rot =
            if (r == 0) col("embedding")
            else concat(slice(col("embedding"), r + 1, 10000),
              slice(col("embedding"), 1, r))
          val emb0 = if ((i / 64) % 2 == 0) rot
                     else transform(rot, x => -x)
          val emb = if (rev) reverse(emb0) else emb0
          d.withColumn("label", col("label") + lit(i * 1000))
            .withColumn("embedding", emb)
        }
      })
    )
    tables.foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(s"$out/$n.parquet")
      println(s"[genscale] $n -> $out/$n.parquet")
    }
  }
}
