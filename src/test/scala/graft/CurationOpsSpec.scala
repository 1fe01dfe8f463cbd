package graft

import graft.util.D
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 curation/quality additions: EWMA smoothing, basket pair
  * mining, DQ constraint suite, blocked fuzzy linkage, exact stratified
  * split, multimodal survivor selection. Each test asserts a semantic
  * property against an independently-computed expectation, not a golden
  * value. */
class CurationOpsSpec extends AnyFunSuite {
  import TestSession._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q_events_ewma matches a driver-side 16-lag fold per user") {
    val got = run("q_events_ewma")
      .select("user_id", "event_id", "ewma").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // reference fold: per user, time-ordered values; alpha = 0.5 over
    // the last 16 events, normalized by the present-weight sum
    val ev = D.normTs(spark.read.parquet(s"$sf/events.parquet"))
      .select("user_id", "event_id", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
    val byUser = ev.groupBy(_._1)
    var checked = 0
    byUser.foreach { case (uid, rows) =>
      val sorted = rows.sortBy(r => (r._3.getTime, r._2))
      val ordered = sorted.map(_._4)
      ordered.indices.foreach { i =>
        val win = (0 until 16).flatMap { k =>
          if (i - k >= 0) Some(math.pow(0.5, k) * ordered(i - k) -> math.pow(0.5, k))
          else None
        }
        val want = win.map(_._1).sum / win.map(_._2).sum
        val eid = sorted(i)._2
        assert(math.abs(got((uid, eid)) - want) < 1e-4,
          s"user $uid event $eid: got ${got((uid, eid))}, want ~$want")
        checked += 1
      }
    }
    assert(checked > 100)
  }

  test("q_basket_pairs support equals a driver-side basket count; lift consistent") {
    val got = run("q_basket_pairs").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val li = spark.read.parquet(s"$sf/lineitem.parquet").select("l_orderkey", "l_partkey")
      .join(spark.read.parquet(s"$sf/part.parquet").select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .select("l_orderkey", "p_brand").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val baskets = li.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brandCnt = li.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = baskets.size.toLong
    val wantSupport = baskets.values.toSeq
      .flatMap(s => s.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got.keySet === wantSupport.keySet)
    got.foreach { case (pair, (sup, lift)) =>
      assert(sup === wantSupport(pair))
      val wantLift = graft.util.Mirror.r(sup.toDouble * n / (brandCnt(pair._1) * brandCnt(pair._2)))
      assert(math.abs(lift - wantLift) < 1e-9, s"$pair lift $lift want $wantLift")
    }
  }

  test("q_dq_suite: clean synthetic tables pass every constraint; schema is the contract") {
    val rows = run("q_dq_suite").collect()
    assert(rows.length === 7)
    // driver-generated TPC-H-ish data is referentially intact by
    // construction — every constraint must pass with 0 violations
    rows.foreach { r =>
      assert(r.getAs[Long]("violations") === 0L, s"${r.getAs[String]("constraint_id")}")
      assert(r.getAs[Double]("frac") === 0.0)
      assert(r.getAs[Int]("passes") === 1)
    }
    assert(rows.map(_.getAs[String]("constraint_id")).toSet.size === 7)
  }

  test("q_fuzzy_match recovers the original name for every corrupted query") {
    val got = run("q_fuzzy_match").collect()
    val names = spark.read.parquet(s"$sf/part.parquet")
      .select("p_name").distinct().collect().map(_.getString(0))
    assert(got.length === names.length)
    // the corruption (drop 2nd char, append 'x') is 2 edits from its
    // source, and sources are word-pairs far apart — the min-distance
    // match within the block must be the original name
    val corrupt = names.map(n => (n.charAt(0) + n.substring(2) + "x") -> n).toMap
    got.foreach { r =>
      val (q, m, d) = (r.getString(0), r.getString(1), r.getInt(2))
      assert(m === corrupt(q), s"query $q matched $m, want ${corrupt(q)}")
      assert(d <= 2)
    }
  }

  test("q_split_stratified hits exact per-stratum quotas") {
    val rows = run("q_split_stratified").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val langTotals = rows.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    langTotals.foreach { case (lang, n) =>
      val train = rows.getOrElse((lang, "train"), 0L)
      val val_ = rows.getOrElse((lang, "val"), 0L)
      val test = rows.getOrElse((lang, "test"), 0L)
      assert(train === math.floor(0.8 * n).toLong, s"$lang train quota")
      assert(train + val_ === math.floor((0.8 + 0.1) * n).toLong, s"$lang val quota")
      assert(train + val_ + test === n)
    }
  }

  test("q_multimodal_keep: kept + dropped = docs; dropped = distinct larger pair ids") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val keep = run("q_multimodal_keep").collect()
    val nDocs = docs.count()
    assert(keep.map(_.getAs[Long]("n_docs")).sum === nDocs)
    keep.foreach(r => assert(
      r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") === r.getAs[Long]("n_docs")))
    val wantDropped = graft.multimodal.Multimodal.payloadPhashPairs(docs)
      .select("doc_b").distinct().count()
    assert(keep.map(_.getAs[Long]("n_dropped")).sum === wantDropped)
  }

  test("q_upsert_merge: deletes beat updates, counts reconcile, and " +
    "latest-per-key is the codegen'd offset window, never a top-1 sort") {
    val df = run("q_upsert_merge")
    val got = df.collect()
    val keys = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey").collect().map(_.getLong(0))
    // current view = every key except the deleted ones; updated = the
    // update keys that SURVIVE deletion (a key hit by both vanishes)
    assert(keys.exists(k => k % 91 == 0), "fixture lost the update+delete edge")
    assert(got.map(_.getAs[Long]("n_rows")).sum === keys.count(_ % 13 != 0))
    assert(got.map(_.getAs[Long]("n_updated")).sum ===
      keys.count(k => k % 7 == 0 && k % 13 != 0))
    // scale pin: latest-per-key must stay the codegen'd OFFSET window
    // (lead — q_scd2_history's shape, ~1 s steady at sf10), never
    // row_number+WindowGroupLimit (partial+final double sort, ~18 s)
    // nor a max_by SortAggregate (interpreted struct comparisons,
    // ~2.8 s + a 30 s first-position JIT cliff) — measured head-to-head
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("lead("), s"offset window gone:\n${plan.take(1200)}")
    assert(!plan.contains("WindowGroupLimit") && !plan.contains("row_number"),
      s"latest-per-key regressed to a top-1 sort:\n${plan.take(1200)}")
    assert(!plan.contains("max_by"), s"regressed to SortAggregate:\n${plan.take(1200)}")
  }

  test("q_scd2_history reconciles with q_upsert_merge: current versions = " +
    "merge survivors; closed versions = changed-or-deleted keys") {
    val hist = run("q_scd2_history").collect()
      .map(r => r.getString(0) -> r).toMap
    val cur = run("q_upsert_merge").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_rows")).toMap
    assert(hist.keySet === cur.keySet)
    hist.foreach { case (prio, h) =>
      // a key's CURRENT version exists iff the key survives the merge
      assert(h.getAs[Long]("n_current") === cur(prio),
        s"$prio: current versions != merge survivors")
      assert(h.getAs[Long]("n_versions") ===
        h.getAs[Long]("n_current") + h.getAs[Long]("n_closed"))
    }
    // independent closed-version count: each update closes its key's
    // insert; each delete closes its key's latest non-delete version —
    // a key hit by BOTH (the %91 edge) genuinely closes two versions,
    // so the two counts add with no overlap correction
    val keys = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey").collect().map(_.getLong(0))
    val wantClosed = keys.count(_ % 7 == 0) + keys.count(_ % 13 == 0)
    assert(hist.values.map(_.getAs[Long]("n_closed")).sum === wantClosed)
  }

  test("MaskPairCountAgg: triangular cells match brute-force pair counts " +
    "across many partitions; nulls skipped; out-of-width masks fail loud") {
    import graft.functions.MaskPairCountAgg
    import spark.implicits._
    val w = 6
    val tri = MaskPairCountAgg.tri(w) _
    val rnd = new scala.util.Random(7)
    val masks = Seq.fill(5000)(rnd.nextInt(1 << w).toLong)
    // 64 partitions forces real partial-buffer merges
    val got = masks.map(Option(_)).:+(Option.empty[Long]).toDF("mask")
      .repartition(64)
      .agg(MaskPairCountAgg.maskPairCount(col("mask"), w))
      .head().getSeq[Long](0)
    assert(got.length === w * (w + 1) / 2)
    for (i <- 0 until w; j <- i until w) {
      val want = masks.count(m => (m >> i & 1) == 1 && (m >> j & 1) == 1).toLong
      assert(got(tri(i, j)) === want, s"cell ($i,$j)")
    }
    val err = intercept[org.apache.spark.SparkException] {
      Seq(1L << w).toDF("mask")
        .agg(MaskPairCountAgg.maskPairCount(col("mask"), w)).head()
    }
    assert(err.getMessage.contains("mask_pair_count") ||
      Option(err.getCause).exists(_.getMessage.contains("mask_pair_count")))
  }
}
