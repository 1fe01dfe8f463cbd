package graft.sim

import graft.functions.{CosineSimilarity, FixedDot}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (SURVEY.md §2.4).
  *
  * Two numeric paths:
  *  - fixed-point exact cosine (`dotFix`) for oracle-checked queries —
  *    components scaled to longs at 1e8, products summed exactly in long
  *    arithmetic, so Spark and DuckDB produce bit-identical doubles;
  *  - the codegen'd native [[graft.functions.CosineSimilarity]] for the
  *    throughput path (q_ann_fast, rows-only check).
  *
  * Scale: queries/centroids are broadcast; the corpus side streams through
  * whole-stage codegen. IVF bounds the scanned set to the probed lists —
  * at cluster scale the list id becomes a partition key so probing prunes
  * partitions.
  */
object Ann {

  /** Fixed-point exact vector math: each float component is scaled to a
    * long at 1e8 (ties unrepresentable in binary → identical rounding in
    * both engines); dot products are exact Σ xi·yi over longs (|x| ≤ ~90
    * before Σ 64·(9e9)² could overflow — embeddings are unit-scale).
    * The long→double emission is one correctly-rounded conversion in both
    * engines. Integer math also keeps the hot loop codegen-friendly. */
  private val Scale = 1e8

  /** Scalar fixed-point quantizer — the reference form [[scaled]]'s
    * native expression must match element-wise (kept for specs). */
  private[graft] def fx(x: Column): Column = round(x.cast(DoubleType) * Scale, 0).cast(LongType)

  /** Pre-scaled long vector (compute once per vector; pairwise dots then
    * run through the codegen'd [[FixedDot]]) — the native one-pass
    * [[graft.functions.FixedScale]], bit-identical to
    * `transform(e, x -> round(x·1e8, 0)::long)` (see its tie-margin
    * contract) without the interpreted HOF. */
  def scaled(e: Column): Column = graft.functions.FixedScale(e)

  /** Exact fixed-point dot product (raw scale 1e16), as long — FixedDot
    * over the native [[scaled]] arrays (long addition is associative, so
    * this equals the historical `aggregate(zip_with(...))` HOF form). */
  def dotFix(a: Column, b: Column): Column =
    graft.functions.FixedDot(scaled(a), scaled(b))

  def dotFixSql(a: String, b: String): String =
    s"""(SELECT CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT) * CAST(ROUND(CAST(y AS DOUBLE) * 100000000) AS BIGINT)) AS BIGINT)
       | FROM (SELECT unnest($a) AS x, unnest($b) AS y) zz)""".stripMargin

  /** Hard cap on coarse-quantizer size: IVF lists / k-means seeds /
    * SemDeDup clusters keep at most MaxSeeds centroids REGARDLESS of
    * corpus size. Without a cap the family's deterministic vec_id-mod
    * seeding makes K scale linearly with N and the O(N·K) assignment
    * scan silently turns quadratic — measured at sf10 (200k vectors,
    * K=8,000): q_ann_ivf 250 s where the capped form needs one
    * bounded N×1024 scan. FAISS's own convention is a FIXED nlist
    * chosen for the deployment (≈√N at the target scale); 1024 = 2^10
    * sits in the typical range for 10^5..10^7-vector shards and keeps
    * every corpus up to centMod·MaxSeeds ids (sf ≤ 1 here)
    * bit-identical to the uncapped rule, because the cap predicate is
    * vacuous until vec_id exceeds centMod·MaxSeeds. */
  val MaxSeeds = 1024

  /** The bounded seed rule, Spark side: the [[MaxSeeds]] LOWEST-id
    * members of the vec_id ≡ centOff (mod centMod) residue class —
    * RANK-capped via orderBy+limit (TakeOrderedAndProject: bounded
    * per-partition heaps, never a full sort), NOT the previous
    * absolute-id bound `vec_id < centMod·MaxSeeds`. That bound assumed
    * a 0-based id space and silently selected ZERO seeds on offset ids
    * (snowflake ids, shard key offsets) — every IVF/k-means/PQ/SemDeDup
    * query quietly returned an empty result. Caught by the round-8
    * alternate-seed fixture audit (keys +7·10^7: 11 vector queries went
    * 0-row on BOTH engines). On a CONTIGUOUS 0-based id space — the
    * sf0.001/sf0.01 correctness fixtures — the two rules pick the
    * identical set, so every oracle result is unchanged. On the
    * multi-copy bench fixtures (ids offset 10⁷ per copy) the absolute
    * bound had been silently admitting COPY-0 SEEDS ONLY (K=80 at sf1,
    * not the documented 1024), so round-7's tabled vector rows
    * under-measured the real nlist=1024 assignment cost — see the
    * BASELINE round-8 erratum; K is capped either way, the cost is
    * linear in N at fixed K. */
  def seedRows(base: DataFrame, centMod: Int, centOff: Int): DataFrame =
    base.filter(col("vec_id") % centMod === centOff)
      .orderBy("vec_id").limit(MaxSeeds)

  /** DuckDB mirror of [[seedRows]] — the predicate + rank cap, valid as
    * the tail of a single-table SELECT (every call site embeds it as
    * `FROM base WHERE <this>`). */
  def seedWhere(centMod: Int, centOff: Int): String =
    s"vec_id % $centMod = $centOff ORDER BY vec_id LIMIT $MaxSeeds"

  /** The seeded centroid table (cid, ce, cn) of a [[scaledBase]] frame:
    * the [[seedRows]] members with their scaled vectors and norms. */
  private def seedTable(base: DataFrame, centMod: Int, centOff: Int): DataFrame =
    seedRows(base, centMod, centOff)
      .select(col("vec_id").as("cid"), col("fxe").as("ce"), col("nsq").as("cn"))

  /** Collect a centroid table (cid, ce, cn) — at most [[MaxSeeds]] rows,
    * the same KB-scale class as the collected PQ codebook and
    * silhouette centroids — for the scan-local
    * [[graft.functions.IvfAssign]] / [[graft.functions.IvfProbes]]
    * projections, and gate `corpus` on it. This is the ONE place the
    * empty table (a corpus whose seed class is empty) is handled: the
    * corpus is returned as `where(lit(false))`, which Catalyst folds to
    * an empty relation, so every assignment downstream is empty — the
    * result the crossJoin → argmax plans gave there. A non-empty table
    * returns `where(lit(true))`, which Catalyst prunes. Rows are sorted
    * cid-ascending (the tie-break order). A table over [[MaxSeeds]] rows
    * or with a NULL cid fails loudly. NULL vector components read as 0
    * and a NULL vector or norm scores 0.0 (the IvfCents contract). */
  private def collectCents(corpus: DataFrame,
      cents: DataFrame): (DataFrame, graft.functions.IvfCents) = {
    val rows = cents.select(col("cid"), col("ce"), col("cn"))
      .limit(MaxSeeds + 1).collect()
    require(rows.length <= MaxSeeds,
      s"centroid table has more than $MaxSeeds rows (the MaxSeeds cap)")
    require(!rows.exists(_.isNullAt(0)), "centroid table has a NULL cid")
    val sorted = rows.sortBy(_.getLong(0))
    val cb = new graft.functions.IvfCents(
      sorted.map(_.getLong(0)),
      sorted.map(r => if (r.isNullAt(1)) null
        else r.getSeq[Any](1).map(x =>
          if (x == null) 0L else x.asInstanceOf[Long]).toArray),
      sorted.map(r => if (r.isNullAt(2)) 0L else r.getLong(2)))
    (corpus.where(lit(sorted.nonEmpty)), cb)
  }

  /** (members, probes) with scan-LOCAL list assignment: `members` = the
    * base rows plus their assigned `list_id` (a pure projection —
    * [[graft.functions.IvfAssign]] over the embedded centroid table);
    * `probes` = the queryMod-sampled rows exploded to their `maxP`
    * probed lists with 1-based `probe_rn`. Zero shuffles at any scale;
    * values/ties are bit-identical to the crossJoin → argmax / probe
    * window form by the IvfCents arithmetic contract. */
  private def listAssignment(base: DataFrame, queryMod: Int, centMod: Int,
      centOff: Int, maxP: Int): (DataFrame, DataFrame) = {
    val (corpus, cb) = collectCents(base, seedTable(base, centMod, centOff))
    val members = corpus.withColumn("list_id",
      graft.functions.IvfAssign(col("fxe"), cb).getField("cid"))
    val probes = corpus.filter(col("vec_id") % queryMod === 0)
      .withColumn("__p", explode(graft.functions.IvfProbes(col("fxe"), cb, maxP)))
      .withColumn("list_id", col("__p").getField("cid"))
      .withColumn("probe_rn", col("__p").getField("rn"))
      .drop("__p")
    (members, probes)
  }

  /** Scan-local coarse-assignment COLUMN over the raw `embedding`
    * column, for composition outside this object (the IVF-PQ serving
    * path fuses it with the PQ coding projection into one corpus
    * pass), returned with `vecs` gated by [[collectCents]]. */
  private[sim] def ivfAssignCol(vecs: DataFrame, centMod: Int,
      centOff: Int): (DataFrame, Column) = {
    val (corpus, cb) = collectCents(vecs, seedTable(scaledBase(vecs), centMod, centOff))
    (corpus, graft.functions.IvfAssign(scaled(col("embedding")), cb).getField("cid"))
  }

  /** Per-vector squared norm table: (vec_id, nsq raw-scale long). */
  def normSq(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), dotFix(col("embedding"), col("embedding")).as("nsq"))

  /** (vec_id [, label], fxe, nsq) — scaled arrays + norms in one pass. */
  private def scaledBase(vecs: DataFrame, extra: Seq[String] = Nil): DataFrame =
    vecs.select((Seq(col("vec_id")) ++ extra.map(col) :+ scaled(col("embedding")).as("fxe")): _*)
      .withColumn("nsq", FixedDot(col("fxe"), col("fxe")))

  def normSqSql(table: String): String =
    s"""norms AS (SELECT vec_id,
       |    CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT) * CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS BIGINT) AS nsq
       |  FROM (SELECT vec_id, unnest(embedding) AS x FROM $table) GROUP BY vec_id)""".stripMargin

  /** Cosine from raw fixed-point dot + norms: all-double math on
    * identical operands in both engines. */
  def cosExpr(dot: Column, nsqA: Column, nsqB: Column): Column = {
    val den = sqrt(nsqA.cast(DoubleType)) * sqrt(nsqB.cast(DoubleType))
    when(den > 0, dot.cast(DoubleType) / den).otherwise(lit(0.0))
  }

  def cosSql(dot: String, nsqA: String, nsqB: String): String =
    s"""(CASE WHEN SQRT(CAST($nsqA AS DOUBLE)) * SQRT(CAST($nsqB AS DOUBLE)) > 0
       | THEN CAST($dot AS DOUBLE) / (SQRT(CAST($nsqA AS DOUBLE)) * SQRT(CAST($nsqB AS DOUBLE))) ELSE 0.0 END)""".stripMargin

  /** Brute-force cosine top-k: query set = vec_id % queryMod = 0. */
  def bruteTopK(vecs: DataFrame, queryMod: Int, k: Int): DataFrame = {
    val base = scaledBase(vecs)
    val queries = base.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("fxe").as("qe"), col("nsq").as("qn"))
    val joined = base.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosExpr(FixedDot(col("qe"), col("fxe")), col("qn"), col("nsq")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        graft.util.D.r(col("cosine"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  def bruteTopKSql(table: String, queryMod: Int, k: Int): String =
    s"""WITH ${normSqSql(table)},
       |base AS (SELECT e.vec_id, e.embedding, n.nsq FROM $table e JOIN norms n ON e.vec_id = n.vec_id),
       |scored AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    ${cosSql(dotFixSql("q.embedding", "b.embedding"), "q.nsq", "b.nsq")} AS cosine
       |  FROM base q JOIN base b ON q.vec_id % $queryMod = 0 AND b.vec_id <> q.vec_id),
       |ranked AS (SELECT query_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Contrastive hard-negative mining (the DPR/SimCSE training-data
    * step): for each anchor (vec_id % queryMod = 0), the k most-similar
    * vectors with a DIFFERENT label — the near-miss negatives a
    * contrastive loss learns most from. Same broadcast-anchor scan as
    * [[bruteTopK]] (anchors broadcast, corpus streams once through the
    * codegen'd fixed-point cosine) with the label inequality pushed
    * into the scan; rank ≤ k executes as WindowGroupLimit, so each task
    * keeps a k-row heap per anchor. IVF/LSH blocking composes for the
    * 100 TB path exactly as in the dedup family. */
  def hardNegatives(vecs: DataFrame, queryMod: Int, k: Int): DataFrame = {
    val base = scaledBase(vecs, Seq("label"))
    val queries = base.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("fxe").as("qe"), col("nsq").as("qn"))
    val joined = base.crossJoin(broadcast(queries))
      .filter(col("label") =!= col("qlabel"))
      .withColumn("cosine", cosExpr(FixedDot(col("qe"), col("fxe")), col("qn"), col("nsq")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("negative_id"),
        col("label").cast(LongType).as("neg_label"),
        graft.util.D.r(col("cosine"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** DuckDB mirror of [[hardNegatives]]. */
  def hardNegativesSql(table: String, queryMod: Int, k: Int): String =
    s"""WITH ${normSqSql(table)},
       |base AS (SELECT e.vec_id, e.label, e.embedding, n.nsq FROM $table e JOIN norms n ON e.vec_id = n.vec_id),
       |scored AS (SELECT q.vec_id AS query_id, b.vec_id AS negative_id,
       |    CAST(b.label AS BIGINT) AS neg_label,
       |    ${cosSql(dotFixSql("q.embedding", "b.embedding"), "q.nsq", "b.nsq")} AS cosine
       |  FROM base q JOIN base b ON q.vec_id % $queryMod = 0 AND b.label <> q.label),
       |ranked AS (SELECT query_id, negative_id, neg_label, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, negative_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, negative_id, neg_label, ROUND(cosine, 6) AS cosine
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** IVF-blocked hard-negative mining — the sub-quadratic form of
    * [[hardNegatives]] (the documented 100 TB path, registered end-to-end
    * rather than by analogy): every vector is assigned to its max-cosine
    * IVF list (the scan-local assignment of [[ivfTopK]]), each
    * anchor probes its `nprobe` nearest lists, and only DIFFERENT-label
    * members of the probed lists are scored — the corpus side touches
    * N·nprobe/K candidate rows instead of the brute-force N·Q. At
    * cluster scale list_id is the partition key, so the probe join
    * prunes to the probed lists at the scan (the ScaleSpec pin). Anchors
    * recall only negatives in probed lists (the standard ANN trade;
    * near-miss negatives are near the anchor, which is what probing
    * retrieves). */
  def hardNegativesIvf(vecs: DataFrame, queryMod: Int, centMod: Int,
                       centOff: Int, nprobe: Int, k: Int): DataFrame = {
    val base = scaledBase(vecs, Seq("label"))
    // scan-local assignment + probe selection (see [[listAssignment]])
    val (members, probeRows) = listAssignment(base, queryMod, centMod, centOff, nprobe)
    val probes = probeRows
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("fxe").as("qe"), col("nsq").as("qn"), col("list_id"))
    val scored = members.join(broadcast(probes), "list_id")
      .filter(col("label") =!= col("qlabel"))
      .withColumn("cosine", cosExpr(FixedDot(col("qe"), col("fxe")), col("qn"), col("nsq")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("negative_id"),
        col("label").cast(LongType).as("neg_label"),
        graft.util.D.r(col("cosine"), 6).as("cosine"), col("list_id"))
      .orderBy("query_id", "rank")
  }

  /** DuckDB mirror of [[hardNegativesIvf]]. */
  def hardNegativesIvfSql(table: String, queryMod: Int, centMod: Int,
                          centOff: Int, nprobe: Int, k: Int): String =
    s"""WITH ${normSqSql(table)},
       |base AS (SELECT e.vec_id, e.label, e.embedding, n.nsq FROM $table e JOIN norms n ON e.vec_id = n.vec_id),
       |cents AS (SELECT vec_id AS cid, embedding AS ce, nsq AS cn FROM base WHERE ${seedWhere(centMod, centOff)}),
       |scored_c AS (SELECT b.vec_id, b.label, b.embedding, b.nsq, c.cid,
       |    ${cosSql(dotFixSql("c.ce", "b.embedding"), "c.cn", "b.nsq")} AS ccos
       |  FROM base b CROSS JOIN cents c),
       |ranked_c AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored_c),
       |assign AS (SELECT vec_id, cid AS list_id FROM ranked_c WHERE rn = 1),
       |members AS (SELECT b.vec_id, b.label, b.embedding, b.nsq, a.list_id FROM base b JOIN assign a ON b.vec_id = a.vec_id),
       |probes AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qe, nsq AS qn, cid AS list_id
       |  FROM ranked_c WHERE vec_id % $queryMod = 0 AND rn <= $nprobe),
       |scored AS (SELECT p.query_id, m.vec_id AS negative_id,
       |    CAST(m.label AS BIGINT) AS neg_label, m.list_id,
       |    ${cosSql(dotFixSql("p.qe", "m.embedding"), "p.qn", "m.nsq")} AS cosine
       |  FROM members m JOIN probes p ON m.list_id = p.list_id AND m.label <> p.qlabel),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, negative_id) AS rank FROM scored)
       |SELECT query_id, rank, negative_id, neg_label, ROUND(cosine, 6) AS cosine, list_id
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** IVF: centroids = the bounded seed rule [[seedRows]] (vec_id mod
    * centMod, capped at [[MaxSeeds]]); assign every vector to its
    * max-cosine centroid; queries probe the `nprobe` nearest lists. */
  def ivfTopK(vecs: DataFrame, queryMod: Int, centMod: Int, centOff: Int,
              nprobe: Int, k: Int): DataFrame = {
    val base = scaledBase(vecs)
    // scan-local assignment + probe selection (see [[listAssignment]]):
    // the corpus side is ONE projection pass — no N×K crossJoin, no
    // argmax aggregation exchange, no corpus rejoin
    val (members, probeRows) = listAssignment(base, queryMod, centMod, centOff, nprobe)
    val probes = probeRows
      .select(col("vec_id").as("query_id"), col("fxe").as("qe"),
        col("nsq").as("qn"), col("list_id"))
    val scored = members.join(broadcast(probes), "list_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosExpr(FixedDot(col("qe"), col("fxe")), col("qn"), col("nsq")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        graft.util.D.r(col("cosine"), 6).as("cosine"), col("list_id"))
      .orderBy("query_id", "rank")
  }

  def ivfTopKSql(table: String, queryMod: Int, centMod: Int, centOff: Int,
                 nprobe: Int, k: Int): String =
    s"""WITH ${normSqSql(table)},
       |base AS (SELECT e.vec_id, e.embedding, n.nsq FROM $table e JOIN norms n ON e.vec_id = n.vec_id),
       |cents AS (SELECT vec_id AS cid, embedding AS ce, nsq AS cn FROM base WHERE ${seedWhere(centMod, centOff)}),
       |scored_c AS (SELECT b.vec_id, b.embedding, b.nsq, c.cid,
       |    ${cosSql(dotFixSql("c.ce", "b.embedding"), "c.cn", "b.nsq")} AS ccos
       |  FROM base b CROSS JOIN cents c),
       |ranked_c AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored_c),
       |assign AS (SELECT vec_id, cid AS list_id FROM ranked_c WHERE rn = 1),
       |members AS (SELECT b.vec_id, b.embedding, b.nsq, a.list_id FROM base b JOIN assign a ON b.vec_id = a.vec_id),
       |probes AS (SELECT vec_id AS query_id, embedding AS qe, nsq AS qn, cid AS list_id
       |  FROM ranked_c WHERE vec_id % $queryMod = 0 AND rn <= $nprobe),
       |scored AS (SELECT p.query_id, m.vec_id AS neighbor_id, m.list_id,
       |    ${cosSql(dotFixSql("p.qe", "m.embedding"), "p.qn", "m.nsq")} AS cosine
       |  FROM members m JOIN probes p ON m.list_id = p.list_id AND m.vec_id <> p.query_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
       |SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine, list_id
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** IVF recall@k audit — the diagnostic that tunes `nprobe`: per query,
    * how many of the EXACT top-k ([[bruteTopK]]) the IVF path
    * ([[ivfTopK]]) actually retrieved. recall = |ivf ∩ exact| / k is THE
    * quality axis of the ANN speed/recall trade; a deployment picks the
    * smallest nprobe whose recall clears its bar, and this query is that
    * measurement as a first-class operator.
    *
    * Scale: both inputs are the already-registered forms (broadcast
    * queries / probed lists); this audit only joins their Q×k top-k
    * OUTPUTS (KB-sized at any corpus size) on (query_id, neighbor_id) —
    * the corpus is never touched beyond what the two retrieval forms
    * scan, and their shared scaledBase subtree collapses via runtime
    * exchange reuse. At 100 TB one runs it over a held-out query sample,
    * which is exactly the queryMod-sampled shape registered here. */
  def ivfRecall(vecs: DataFrame, queryMod: Int, centMod: Int, centOff: Int,
                nprobe: Int, k: Int): DataFrame = {
    val ex = bruteTopK(vecs, queryMod, k).select(col("query_id"), col("neighbor_id"))
    val ap = ivfTopK(vecs, queryMod, centMod, centOff, nprobe, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    ex.join(ap, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).cast(LongType).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).cast(LongType).as("n_hit"))
      .withColumn("recall",
        graft.util.D.r(col("n_hit").cast(DoubleType) / col("n_exact"), 6))
      .orderBy("query_id")
  }

  /** DuckDB mirror of [[ivfRecall]] (the two retrieval SQLs nested as
    * self-contained subqueries so their CTE names cannot collide). */
  def ivfRecallSql(table: String, queryMod: Int, centMod: Int, centOff: Int,
                   nprobe: Int, k: Int): String =
    s"""WITH ex AS (SELECT query_id, neighbor_id FROM (
       |${bruteTopKSql(table, queryMod, k)})),
       |ap AS (SELECT query_id, neighbor_id FROM (
       |${ivfTopKSql(table, queryMod, centMod, centOff, nprobe, k)}))
       |SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  CAST(SUM(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  ROUND(CAST(SUM(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS recall
       |FROM ex LEFT JOIN ap ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  /** Recall-vs-cost CURVE over a set of `nprobe` values — the table a
    * deployment actually tunes from ([[ivfRecall]] measures ONE point;
    * this sweeps the whole speed/recall trade in a single pass).
    *
    * One corpus scoring pass serves every curve point: candidates are
    * scored once at probe depth max(probes), each candidate carrying the
    * probe RANK of its (unique) IVF list; the per-nprobe top-k is then a
    * filter `probe_rn <= nprobe` + re-rank over that already-scored
    * KB-scale table — no per-point rescans (verified: exactly one
    * assignment aggregate and one member-probe join in the plan).
    * recall is the micro-average |ivf ∩ exact| / (Q·min(k, N−1)): every
    * query contributes exactly min(k, N−1) exact rows by bruteTopK
    * construction, so micro == macro and the division is one exact
    * BIGINT/BIGINT — no double-summation-order hazard in the
    * cross-engine hash, and the denominator agrees with the SQL
    * mirror's COUNT(*) over exact rows even when the corpus has fewer
    * than k non-self neighbors per query. n_candidates (scored candidate
    * rows at that depth) is the COST axis: recall/n_candidates is the
    * measured trade, monotone in nprobe by construction (AnnSpec pins
    * monotonicity and the full-probe recall=1.0 endpoint).
    *
    * Scale: identical regime to [[ivfTopK]] — centroids and the Q-row
    * probe table broadcast, corpus streams once through the codegen'd
    * fixed-point cosine; the nprobe explosion multiplies only the
    * candidate OUTPUT (≤ |probes|·N·maxP/K rows of 4 scalars), never the
    * corpus scan. At 100 TB this runs over a held-out query sample,
    * which is exactly the queryMod-sampled shape registered here.
    * Reference: pd-explain exposes no ANN tuning surface; this is the
    * deployment-gap operator SURVEY §2.4 adds (FAISS nprobe sweeps are
    * the offline-notebook analogue). */
  def nprobeCurve(vecs: DataFrame, queryMod: Int, centMod: Int, centOff: Int,
                  probes: Seq[Int], k: Int): DataFrame = {
    require(probes.nonEmpty && probes.forall(_ > 0), "nprobeCurve: probes must be positive")
    val spark = vecs.sparkSession
    import spark.implicits._
    val maxP = probes.max
    val base = scaledBase(vecs)
    // scan-local assignment + probe selection (see [[listAssignment]])
    val (members, probeRows) = listAssignment(base, queryMod, centMod, centOff, maxP)
    val probeLists = probeRows
      .select(col("vec_id").as("query_id"), col("fxe").as("qe"),
        col("nsq").as("qn"), col("list_id"), col("probe_rn"))
    // scored ONCE at depth maxP; probe_rn = rank of the candidate's list
    val cand = members.join(broadcast(probeLists), "list_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosExpr(FixedDot(col("qe"), col("fxe")), col("qn"), col("nsq")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cosine"), col("probe_rn"))
    val np = probes.distinct.sorted.toDF("nprobe")
    val expanded = cand.join(broadcast(np), col("probe_rn") <= col("nprobe"))
    val wR = Window.partitionBy("nprobe", "query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    // ONE aggregate over the ranked+flagged candidate table yields BOTH
    // axes (hits for recall, row count for cost) — a separate cost
    // aggregate would reference the candidate subtree twice and Catalyst
    // would plan the corpus scoring pass (scan + assignment aggregate)
    // once per reference (ScaleSpec pins exactly one of each). The
    // recall denominator is Q·min(k, N−1) exactly — the exact-row count
    // by construction (bruteTopK emits exactly min(k, N−1) rows per
    // query), computed from the SAME single-row corpus aggregate that
    // yields n_queries, so the denominator matches the SQL mirror's
    // COUNT(*)-over-exact-rows even on a degenerate corpus with fewer
    // than k non-self neighbors (previously both engines silently
    // disagreed there instead of failing loud; DirtySpec pins the
    // N−1 < k endpoint). A query with zero candidates at a shallow
    // probe depth still counts — no per-exact-row join needed on the
    // curve side.
    val ex = bruteTopK(vecs, queryMod, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("exact"))
    val flagged = expanded.withColumn("rank", row_number().over(wR))
      .join(broadcast(ex), Seq("query_id", "neighbor_id"), "left")
    val qCount = scaledBase(vecs).agg(
      sum(when(col("vec_id") % queryMod === 0, 1L).otherwise(0L))
        .cast(LongType).as("n_queries"),
      count(lit(1)).cast(LongType).as("n_corpus"))
    flagged.groupBy("nprobe")
      .agg(count(lit(1)).cast(LongType).as("n_candidates"),
        sum(when(col("rank") <= k && col("exact") === 1, 1).otherwise(0))
          .cast(LongType).as("n_hit"))
      .crossJoin(broadcast(qCount))
      .select(col("nprobe").cast(LongType).as("nprobe"), col("n_queries"),
        graft.util.D.r(col("n_hit").cast(DoubleType) /
            (least(lit(k.toLong), col("n_corpus") - 1L) * col("n_queries")), 6)
          .as("mean_recall"),
        col("n_candidates"))
      .orderBy("nprobe")
  }

  /** DuckDB mirror of [[nprobeCurve]] (retrieval CTEs shared with
    * [[ivfTopKSql]]; the exact top-k nested as a self-contained
    * subquery so CTE names cannot collide). */
  def nprobeCurveSql(table: String, queryMod: Int, centMod: Int, centOff: Int,
                     probes: Seq[Int], k: Int): String = {
    val maxP = probes.max
    val vals = probes.distinct.sorted.map(p => s"($p)").mkString(", ")
    s"""WITH ${normSqSql(table)},
       |base AS (SELECT e.vec_id, e.embedding, n.nsq FROM $table e JOIN norms n ON e.vec_id = n.vec_id),
       |cents AS (SELECT vec_id AS cid, embedding AS ce, nsq AS cn FROM base WHERE ${seedWhere(centMod, centOff)}),
       |scored_c AS (SELECT b.vec_id, b.embedding, b.nsq, c.cid,
       |    ${cosSql(dotFixSql("c.ce", "b.embedding"), "c.cn", "b.nsq")} AS ccos
       |  FROM base b CROSS JOIN cents c),
       |ranked_c AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored_c),
       |assign AS (SELECT vec_id, cid AS list_id FROM ranked_c WHERE rn = 1),
       |members AS (SELECT b.vec_id, b.embedding, b.nsq, a.list_id FROM base b JOIN assign a ON b.vec_id = a.vec_id),
       |probes AS (SELECT vec_id AS query_id, embedding AS qe, nsq AS qn, cid AS list_id, rn AS probe_rn
       |  FROM ranked_c WHERE vec_id % $queryMod = 0 AND rn <= $maxP),
       |cand AS (SELECT p.query_id, m.vec_id AS neighbor_id, p.probe_rn,
       |    ${cosSql(dotFixSql("p.qe", "m.embedding"), "p.qn", "m.nsq")} AS cosine
       |  FROM members m JOIN probes p ON m.list_id = p.list_id AND m.vec_id <> p.query_id),
       |np AS (SELECT nprobe FROM (VALUES $vals) AS t(nprobe)),
       |expanded AS (SELECT np.nprobe, c.query_id, c.neighbor_id, c.cosine
       |  FROM cand c JOIN np ON c.probe_rn <= np.nprobe),
       |ivf_top AS (SELECT nprobe, query_id, neighbor_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY nprobe, query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM expanded) WHERE rank <= $k),
       |ex AS (SELECT query_id, neighbor_id FROM (
       |${bruteTopKSql(table, queryMod, k)})),
       |joined AS (SELECT np.nprobe, ex.query_id,
       |    CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM ex CROSS JOIN np
       |  LEFT JOIN ivf_top i ON i.nprobe = np.nprobe AND i.query_id = ex.query_id AND i.neighbor_id = ex.neighbor_id),
       |cost AS (SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates FROM expanded GROUP BY nprobe)
       |SELECT CAST(j.nprobe AS BIGINT) AS nprobe,
       |  CAST(COUNT(DISTINCT j.query_id) AS BIGINT) AS n_queries,
       |  ROUND(CAST(SUM(j.hit) AS DOUBLE) / COUNT(*), 6) AS mean_recall,
       |  c.n_candidates
       |FROM joined j JOIN cost c ON j.nprobe = c.nprobe
       |GROUP BY j.nprobe, c.n_candidates ORDER BY nprobe""".stripMargin
  }

  /** Shared hot path of [[fastTopK]]/[[fastTopKChecked]]: native
    * float-cosine scoring of the N·|queries| table and the top-k
    * window — ONE definition so the timed path and the oracle-checked
    * path can never drift in ranking semantics (query filter,
    * tie-break, rank cutoff). */
  private def fastRanked(vecs: DataFrame, queryMod: Int, k: Int): DataFrame = {
    val queries = vecs.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val joined = vecs.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine_fast", CosineSimilarity(col("qe"), col("embedding")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine_fast").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
  }

  /** Throughput path: native codegen'd cosine — float math, so the raw
    * cosine is not oracle-comparable (see [[fastTopKChecked]]). */
  def fastTopK(vecs: DataFrame, queryMod: Int, k: Int): DataFrame =
    fastRanked(vecs, queryMod, k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine_fast").as("cosine"))
      .orderBy("query_id", "rank")

  /** Oracle-checkable form of [[fastTopK]]: the N·|queries| hot loop and
    * the top-k selection run the native float-cosine path UNCHANGED; only
    * the ≤ |queries|·k surviving rows re-project their displayed cosine
    * through the exact fixed-point formula, making the result
    * bit-identical to [[bruteTopK]] (so it shares [[bruteTopKSql]] as its
    * oracle). This is a strict equivalence check on the fast path, not a
    * weakening: if float-cosine ordering ever diverges from the exact
    * ordering (a near-tie inside the ~1e-15-relative double error — the
    * fixed-point quantization at 1e8 dwarfs it), neighbor/rank columns
    * differ and the hash compare fails loudly. */
  def fastTopKChecked(vecs: DataFrame, queryMod: Int, k: Int): DataFrame =
    fastRanked(vecs, queryMod, k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        graft.util.D.r(cosExpr(dotFix(col("qe"), col("embedding")),
          FixedDot(scaled(col("qe")), scaled(col("qe"))),
          FixedDot(scaled(col("embedding")), scaled(col("embedding")))), 6).as("cosine"))
      .orderBy("query_id", "rank")

  /** Nearest-centroid list assignment (vec_id → list_id): a pure
    * projection on the scan ([[graft.functions.IvfAssign]] over the
    * collected ≤ MaxSeeds centroid table) — no window, no sort, zero
    * shuffles at any scale. This is also the partitioning function for
    * a list-partitioned layout — writing the corpus
    * `partitionBy("list_id")` lets a probe prune to its nprobe lists at
    * the scan (asserted in ScaleSpec). */
  def assignLists(vecs: DataFrame, centMod: Int, centOff: Int): DataFrame = {
    val base = scaledBase(vecs)
    val (corpus, cb) = collectCents(base, seedTable(base, centMod, centOff))
    corpus.select(col("vec_id"),
      graft.functions.IvfAssign(col("fxe"), cb).getField("cid").as("list_id"))
  }

  /** Contrastive training triplets (the DPR/SimCSE batch-construction
    * step [[hardNegatives]] feeds): per anchor (vec_id % queryMod = 0)
    * the single most-similar SAME-label vector (the positive) and the
    * single most-similar DIFFERENT-label vector (the hard negative),
    * with the margin a triplet loss would see. One broadcast-anchor
    * corpus scan computes every anchor cosine; ONE window partitioned
    * by (anchor, same-label?) takes both top-1s (WindowGroupLimit —
    * a 1-row heap per task per group), and a 2-row-per-anchor pivot
    * emits the triplet. Anchors with no same-label partner keep a NULL
    * positive (margin NULL) rather than disappearing — the caller
    * decides whether an unpaired anchor is an error.
    *
    * Scale: identical N×Q envelope to [[hardNegatives]] (anchors
    * broadcast, corpus streams once through the codegen'd fixed-point
    * cosine); the IVF probe composes in front exactly as
    * [[hardNegativesIvf]] for the sub-quadratic path. */
  def triplets(vecs: DataFrame, queryMod: Int): DataFrame = {
    val base = scaledBase(vecs, Seq("label"))
    val anchors = base.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("anchor_id"), col("label").as("alabel"),
        col("fxe").as("qe"), col("nsq").as("qn"))
    val joined = base.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("anchor_id"))
      .withColumn("cosine", cosExpr(FixedDot(col("qe"), col("fxe")), col("qn"), col("nsq")))
      .withColumn("is_pos", (col("label") === col("alabel")).cast(IntegerType))
    val w = Window.partitionBy("anchor_id", "is_pos")
      .orderBy(col("cosine").desc, col("vec_id"))
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("anchor_id"), col("alabel"))
      .agg(max(when(col("is_pos") === 1, col("vec_id"))).as("pos_id"),
        max(when(col("is_pos") === 1, col("cosine"))).as("pc"),
        max(when(col("is_pos") === 0, col("vec_id"))).as("neg_id"),
        max(when(col("is_pos") === 0, col("cosine"))).as("nc"))
      .select(col("anchor_id"), col("alabel").cast(LongType).as("anchor_label"),
        col("pos_id"), graft.util.D.r(col("pc"), 6).as("pos_cos"),
        col("neg_id"), graft.util.D.r(col("nc"), 6).as("neg_cos"),
        graft.util.D.r(col("pc") - col("nc"), 6).as("margin"))
      .orderBy("anchor_id")
  }

  /** DuckDB mirror of [[triplets]]. */
  def tripletsSql(table: String, queryMod: Int): String =
    s"""WITH ${normSqSql(table)},
       |base AS (SELECT e.vec_id, e.label, e.embedding, n.nsq
       |  FROM $table e JOIN norms n ON e.vec_id = n.vec_id),
       |scored AS (SELECT a.vec_id AS anchor_id, a.label AS alabel,
       |    b.vec_id, CASE WHEN b.label = a.label THEN 1 ELSE 0 END AS is_pos,
       |    ${cosSql(dotFixSql("a.embedding", "b.embedding"), "a.nsq", "b.nsq")} AS cosine
       |  FROM base a JOIN base b ON a.vec_id % $queryMod = 0 AND b.vec_id <> a.vec_id),
       |top AS (SELECT * FROM (SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY anchor_id, is_pos
       |      ORDER BY cosine DESC, vec_id) AS rn FROM scored) WHERE rn = 1)
       |SELECT anchor_id, CAST(alabel AS BIGINT) AS anchor_label,
       |  MAX(CASE WHEN is_pos = 1 THEN vec_id END) AS pos_id,
       |  ROUND(MAX(CASE WHEN is_pos = 1 THEN cosine END), 6) AS pos_cos,
       |  MAX(CASE WHEN is_pos = 0 THEN vec_id END) AS neg_id,
       |  ROUND(MAX(CASE WHEN is_pos = 0 THEN cosine END), 6) AS neg_cos,
       |  ROUND(MAX(CASE WHEN is_pos = 1 THEN cosine END)
       |    - MAX(CASE WHEN is_pos = 0 THEN cosine END), 6) AS margin
       |FROM top GROUP BY 1, 2 ORDER BY anchor_id""".stripMargin

  /** IVF-blocked contrastive triplets — the sub-quadratic form of
    * [[triplets]], registered end-to-end (the same completion
    * [[hardNegativesIvf]] gave [[hardNegatives]]): every vector is
    * assigned to its max-cosine IVF list by the scan-local assignment
    * of [[ivfTopK]], each anchor probes its `nprobe` nearest lists, and ONLY
    * members of the probed lists are scored — N·nprobe/K candidate rows
    * instead of the brute-force N·Q. ONE window partitioned by
    * (anchor, same-label?) takes both top-1s (WindowGroupLimit 1-row
    * heap), the 2-rows-per-anchor pivot emits the triplet. Anchors whose
    * probed lists hold no same-label partner keep a NULL positive
    * (margin NULL) — the standard ANN recall trade, surfaced rather
    * than hidden. At cluster scale list_id is the partition key, so the
    * probe join prunes to the probed lists at the scan (the
    * [[hardNegativesIvf]] ScaleSpec contract). */
  def tripletsIvf(vecs: DataFrame, queryMod: Int, centMod: Int,
                  centOff: Int, nprobe: Int): DataFrame = {
    val base = scaledBase(vecs, Seq("label"))
    // scan-local assignment + probe selection (see [[listAssignment]])
    val (members, probeRows) = listAssignment(base, queryMod, centMod, centOff, nprobe)
    val probes = probeRows
      .select(col("vec_id").as("anchor_id"), col("label").as("alabel"),
        col("fxe").as("qe"), col("nsq").as("qn"), col("list_id"))
    val joined = members.join(broadcast(probes), "list_id")
      .filter(col("vec_id") =!= col("anchor_id"))
      .withColumn("cosine", cosExpr(FixedDot(col("qe"), col("fxe")), col("qn"), col("nsq")))
      .withColumn("is_pos", (col("label") === col("alabel")).cast(IntegerType))
    val w = Window.partitionBy("anchor_id", "is_pos")
      .orderBy(col("cosine").desc, col("vec_id"))
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("anchor_id"), col("alabel"))
      .agg(max(when(col("is_pos") === 1, col("vec_id"))).as("pos_id"),
        max(when(col("is_pos") === 1, col("cosine"))).as("pc"),
        max(when(col("is_pos") === 0, col("vec_id"))).as("neg_id"),
        max(when(col("is_pos") === 0, col("cosine"))).as("nc"))
      .select(col("anchor_id"), col("alabel").cast(LongType).as("anchor_label"),
        col("pos_id"), graft.util.D.r(col("pc"), 6).as("pos_cos"),
        col("neg_id"), graft.util.D.r(col("nc"), 6).as("neg_cos"),
        graft.util.D.r(col("pc") - col("nc"), 6).as("margin"))
      .orderBy("anchor_id")
  }

  /** DuckDB mirror of [[tripletsIvf]]. */
  def tripletsIvfSql(table: String, queryMod: Int, centMod: Int,
                     centOff: Int, nprobe: Int): String =
    s"""WITH ${normSqSql(table)},
       |base AS (SELECT e.vec_id, e.label, e.embedding, n.nsq FROM $table e JOIN norms n ON e.vec_id = n.vec_id),
       |cents AS (SELECT vec_id AS cid, embedding AS ce, nsq AS cn FROM base WHERE ${seedWhere(centMod, centOff)}),
       |scored_c AS (SELECT b.vec_id, b.label, b.embedding, b.nsq, c.cid,
       |    ${cosSql(dotFixSql("c.ce", "b.embedding"), "c.cn", "b.nsq")} AS ccos
       |  FROM base b CROSS JOIN cents c),
       |ranked_c AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored_c),
       |assign AS (SELECT vec_id, cid AS list_id FROM ranked_c WHERE rn = 1),
       |members AS (SELECT b.vec_id, b.label, b.embedding, b.nsq, a.list_id FROM base b JOIN assign a ON b.vec_id = a.vec_id),
       |probes AS (SELECT vec_id AS anchor_id, label AS alabel, embedding AS qe, nsq AS qn, cid AS list_id
       |  FROM ranked_c WHERE vec_id % $queryMod = 0 AND rn <= $nprobe),
       |scored AS (SELECT p.anchor_id, p.alabel, m.vec_id,
       |    CASE WHEN m.label = p.alabel THEN 1 ELSE 0 END AS is_pos,
       |    ${cosSql(dotFixSql("p.qe", "m.embedding"), "p.qn", "m.nsq")} AS cosine
       |  FROM members m JOIN probes p ON m.list_id = p.list_id AND m.vec_id <> p.anchor_id),
       |top AS (SELECT * FROM (SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY anchor_id, is_pos
       |      ORDER BY cosine DESC, vec_id) AS rn FROM scored) WHERE rn = 1)
       |SELECT anchor_id, CAST(alabel AS BIGINT) AS anchor_label,
       |  MAX(CASE WHEN is_pos = 1 THEN vec_id END) AS pos_id,
       |  ROUND(MAX(CASE WHEN is_pos = 1 THEN cosine END), 6) AS pos_cos,
       |  MAX(CASE WHEN is_pos = 0 THEN vec_id END) AS neg_id,
       |  ROUND(MAX(CASE WHEN is_pos = 0 THEN cosine END), 6) AS neg_cos,
       |  ROUND(MAX(CASE WHEN is_pos = 1 THEN cosine END)
       |    - MAX(CASE WHEN is_pos = 0 THEN cosine END), 6) AS margin
       |FROM top GROUP BY 1, 2 ORDER BY anchor_id""".stripMargin

  /** Per-query probed IVF lists: the `nprobe` highest-cosine centroids
    * (ties → smaller centroid id) for every query vector — the coarse
    * quantizer step [[ivfTopK]] runs inline, exposed for composition
    * with other within-list scorers (the PQ serving path probes lists
    * with it before ADC). A scan-local top-nprobe selection
    * ([[graft.functions.IvfProbes]]) over the collected centroid table:
    * no Q×K crossJoin, no window exchange. */
  def probeLists(vecs: DataFrame, queryMod: Int, centMod: Int, centOff: Int,
      nprobe: Int): DataFrame = {
    val base = scaledBase(vecs)
    val (corpus, cb) = collectCents(base, seedTable(base, centMod, centOff))
    corpus.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"),
        explode(graft.functions.IvfProbes(col("fxe"), cb, nprobe)
          .getField("cid")).as("list_id"))
  }

  /** IVF-list-blocked embedding near-dup pairs (cosine ≥ th): every
    * vector is assigned to its max-cosine centroid (the scan-local
    * assignment of [[ivfTopK]]), and pairs are generated WITHIN a list
    * only. This is the content-blocked scale path the label-blocked
    * [[embeddingPairs]] lacks: label blocks are unbounded (one hot label → quadratic pairs
    * on one reducer), whereas list sizes average N/K and the centroid
    * count K grows with the corpus, keeping per-list work bounded; at
    * cluster scale list_id doubles as the partition key. Near-identical
    * vectors land in the same list by construction (their centroid
    * cosines are near-identical), so near-dup recall matches
    * label-blocking in practice. */
  def embeddingPairsIvf(vecs: DataFrame, th: Double,
                        centMod: Int, centOff: Int): DataFrame = {
    val base = scaledBase(vecs)
    // scan-local assignment, materialized ONCE: both sides of the
    // within-list pair self-join read the checkpointed (vec_id, fxe,
    // nsq, list_id) blocks instead of re-scanning the corpus and
    // re-running the K-centroid assignment per side (the
    // connectedComponents checkpoint convention)
    val (corpus, cb) = collectCents(base, seedTable(base, centMod, centOff))
    val m = corpus.withColumn("list_id",
        graft.functions.IvfAssign(col("fxe"), cb).getField("cid"))
      .localCheckpoint(true)
    val a = m.select(col("list_id"), col("vec_id").as("vec_a"),
      col("fxe").as("ea"), col("nsq").as("na"))
    val b = m.select(col("list_id"), col("vec_id").as("vec_b"),
      col("fxe").as("eb"), col("nsq").as("nb"))
    a.join(b, Seq("list_id")).filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        graft.util.D.r(cosExpr(FixedDot(col("ea"), col("eb")), col("na"), col("nb")), 6))
      .filter(col("cosine") >= th)
      .select(col("list_id"), col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy("list_id", "vec_a", "vec_b")
  }

  def embeddingPairsIvfSql(table: String, th: Double,
                           centMod: Int, centOff: Int): String =
    s"""WITH ${normSqSql(table)},
       |base AS (SELECT e.vec_id, e.embedding, n.nsq FROM $table e JOIN norms n ON e.vec_id = n.vec_id),
       |cents AS (SELECT vec_id AS cid, embedding AS ce, nsq AS cn FROM base WHERE ${seedWhere(centMod, centOff)}),
       |scored_c AS (SELECT b.vec_id, b.embedding, b.nsq, c.cid,
       |    ${cosSql(dotFixSql("c.ce", "b.embedding"), "c.cn", "b.nsq")} AS ccos
       |  FROM base b CROSS JOIN cents c),
       |assign AS (SELECT vec_id, cid AS list_id FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored_c)
       |  WHERE rn = 1),
       |m AS (SELECT b.vec_id, b.embedding, b.nsq, a.list_id FROM base b JOIN assign a ON b.vec_id = a.vec_id)
       |SELECT list_id, vec_a, vec_b, cosine FROM (
       |  SELECT a.list_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ROUND(${cosSql(dotFixSql("a.embedding", "b.embedding"), "a.nsq", "b.nsq")}, 6) AS cosine
       |  FROM m a JOIN m b ON a.list_id = b.list_id AND a.vec_id < b.vec_id)
       |WHERE cosine >= $th ORDER BY list_id, vec_a, vec_b""".stripMargin

  /** One Lloyd iteration (k-means step) over the embedding corpus —
    * the IVF TRAINING primitive the [[ivfTopK]]/[[embeddingPairsIvf]]
    * family assumes already happened: assign every vector to its
    * max-cosine centroid (seeded, like IVF, from the bounded
    * [[seedRows]] rule), then emit the per-cluster mean as the updated
    * centroid.
    * Output is (cluster_id, dim, n_members, centroid) — one row per
    * centroid dimension; a caller loops this (feeding means back as
    * the next round's centroids) until centroid drift converges, each
    * round an independent linear job.
    *
    * Determinism/scale: the step collects its ≤ [[MaxSeeds]]-row
    * centroid table (the IVF collect, [[collectCents]]) and assigns
    * with the scan-local [[graft.functions.IvfAssign]] (max cosine,
    * ties to the smallest cid), so assignment and the per-cluster
    * partial sums run as ONE corpus pass — a projection feeding one
    * map-side-combined aggregate, with no N×K aggregate and no rejoin
    * shuffle. Rows with a NULL vec_id are left out.
    * The mean is an exact long sum of the 1e8 fixed-point components
    * (associative — partial-aggregation order can't change it) with
    * one double division at the end, so Spark and a single-node engine
    * bit-agree. Sum envelope: |component| ≤ ~1e9·1e8 = 1e17 per row —
    * overflow needs > ~90 same-cluster-and-dim rows at the extreme
    * simultaneously, i.e. ~1e18 total tokens of identical-sign extreme
    * mass; unit-scale embeddings (|x| ≤ ~10, the [[Scale]] contract)
    * keep Σ < 2^63 up to ~9e9 vectors per cluster. */
  def kmeansStep(vecs: DataFrame, centMod: Int, centOff: Int): DataFrame = {
    val base = scaledBase(vecs)
    lloydStep(base, seedTable(base, centMod, centOff))
  }

  /** One Lloyd iteration of a [[scaledBase]] frame against a centroid
    * table (cid, ce, cn): NULL-vec_id rows dropped up front, the table
    * collected by [[collectCents]], the corpus assigned by
    * [[graft.functions.IvfAssign]] and averaged by [[meansOf]]. */
  private def lloydStep(base: DataFrame, cents: DataFrame): DataFrame = {
    val (corpus, cb) = collectCents(base.filter(col("vec_id").isNotNull), cents)
    meansOf(corpus.withColumn("cluster_id",
      graft.functions.IvfAssign(col("fxe"), cb).getField("cid")))
  }

  /** Update half of a Lloyd iteration: per-cluster exact element-wise
    * long sums via the native bounded-state [[graft.functions.ArraySumAgg]]
    * (ONE d-long buffer per cluster, map-side combined — the former
    * posexplode → groupBy(cluster, dim) form shuffled N·d rows, 38M at
    * sf1, just to add longs), one double division at the end (see
    * [[kmeansStep]]'s envelope note). The explode now runs on the
    * |clusters|-row aggregate only. Sums are identical long adds →
    * bit-identical centroids. */
  private def meansOf(assigned: DataFrame): DataFrame =
    assigned.groupBy("cluster_id")
      .agg(count(lit(1)).cast(LongType).as("n_members"),
        graft.functions.ArraySumAgg.arraySum(col("fxe")).as("sfxs"))
      .select(col("cluster_id"), col("n_members"), posexplode(col("sfxs")))
      .select(col("cluster_id"), col("pos").cast(LongType).as("dim"),
        col("n_members"),
        graft.util.D.r(col("col").cast(DoubleType) / lit(1e8) /
          col("n_members").cast(DoubleType), 6).as("centroid"))
      .orderBy("cluster_id", "dim")

  /** Per-label embedding profile — the drift/QA monitor a pipeline runs
    * per corpus slice (source, language, snapshot): member count, mean
    * vector norm, the label centroid's norm, and the members' mean/min
    * cosine to their OWN centroid (cohesion — a collapsing or shifting
    * slice shows up as avg_cos drift between snapshots long before
    * downstream metrics move).
    *
    * Determinism: centroids are the exact fixed-point per-(label, dim)
    * means ([[kmeansStep]]'s update half, keyed by label instead of
    * cluster), 6dp-rounded and re-quantized through the SAME 1e8 scaler
    * before scoring (the [[kmeansIter]] convention), so every cosine is
    * computed from bit-identical operands in both engines; per-member
    * cosines/norms round 6dp then DECIMAL-sum.
    *
    * Scale: two corpus scans (mean aggregation + scoring), each ONE
    * map-side-combined shuffle; the centroid table is label-cardinality
    * (broadcast by AQE at any corpus size) and the bounded
    * post-aggregation collect_list/transform runs on that table only —
    * the family's bounded-HOF convention. */
  def labelProfile(vecs: DataFrame): DataFrame = {
    val base = scaledBase(vecs, Seq("label"))
    // per-label element-wise sums via the bounded-state ArraySumAgg (the
    // meansOf convention: no N·d explode shuffle; the mean/requantize
    // transform runs on the label-cardinality aggregate only — the
    // family's bounded-HOF rule). Same long sums → identical centroids.
    val cents = base.groupBy("label")
      .agg(count(lit(1)).cast(LongType).as("n"),
        graft.functions.ArraySumAgg.arraySum(col("fxe")).as("sfxs"))
      .select(col("label"),
        transform(col("sfxs"), fx => graft.util.D.r(
          fx.cast(DoubleType) / lit(1e8) / col("n").cast(DoubleType), 6)).as("cemb"))
      .select(col("label"), scaled(col("cemb")).as("ce"))
      .withColumn("cn", FixedDot(col("ce"), col("ce")))
    base.join(cents, "label")
      .withColumn("cos",
        graft.util.D.r(cosExpr(FixedDot(col("ce"), col("fxe")), col("cn"), col("nsq")), 6))
      .withColumn("nrm",
        graft.util.D.r(sqrt(col("nsq").cast(DoubleType)) / lit(1e8), 6))
      .groupBy("label")
      .agg(count(lit(1)).cast(LongType).as("n_vecs"),
        graft.util.D.r(graft.util.D.dsumd(col("nrm")) / count(lit(1)), 6).as("avg_norm"),
        first(graft.util.D.r(sqrt(col("cn").cast(DoubleType)) / lit(1e8), 6))
          .as("centroid_norm"),
        graft.util.D.r(graft.util.D.dsumd(col("cos")) / count(lit(1)), 6).as("avg_cos"),
        min(col("cos")).as("min_cos"))
      .select(col("label").cast(LongType).as("label"), col("n_vecs"),
        col("avg_norm"), col("centroid_norm"), col("avg_cos"), col("min_cos"))
      .orderBy("label")
  }

  /** DuckDB mirror of [[labelProfile]]. */
  def labelProfileSql(table: String): String =
    s"""WITH ${normSqSql(table)},
       |base AS (SELECT e.vec_id, e.label, e.embedding, n.nsq FROM $table e JOIN norms n ON e.vec_id = n.vec_id),
       |md AS (SELECT label,
       |    CAST(unnest(generate_series(1, len(embedding))) - 1 AS BIGINT) AS dim,
       |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000000) AS BIGINT) AS fx
       |  FROM base),
       |means AS (SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(fx) AS BIGINT) AS sfx
       |  FROM md GROUP BY 1, 2),
       |cent AS (SELECT label,
       |    list(ROUND(CAST(sfx AS DOUBLE) / 100000000.0 / CAST(n AS DOUBLE), 6) ORDER BY dim) AS cemb
       |  FROM means GROUP BY 1),
       |cj AS (SELECT b.vec_id, b.label, b.nsq,
       |    ${dotFixSql("c.cemb", "b.embedding")} AS dot,
       |    ${dotFixSql("c.cemb", "c.cemb")} AS cn
       |  FROM base b JOIN cent c ON b.label = c.label),
       |sc AS (SELECT label, vec_id, cn,
       |    ROUND(${cosSql("dot", "cn", "nsq")}, 6) AS cos,
       |    ROUND(SQRT(CAST(nsq AS DOUBLE)) / 100000000.0, 6) AS nrm
       |  FROM cj)
       |SELECT CAST(label AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  ROUND(CAST(ROUND(SUM(CAST(nrm AS DECIMAL(25,6))), 6) AS DOUBLE) / COUNT(*), 6) AS avg_norm,
       |  ROUND(SQRT(CAST(MIN(cn) AS DOUBLE)) / 100000000.0, 6) AS centroid_norm,
       |  ROUND(CAST(ROUND(SUM(CAST(cos AS DECIMAL(25,6))), 6) AS DOUBLE) / COUNT(*), 6) AS avg_cos,
       |  MIN(cos) AS min_cos
       |FROM sc GROUP BY label ORDER BY label""".stripMargin

  /** Embedding-norm QA histogram: L2 norms in 0.1-wide buckets
    * (bucket = floor(10·‖v‖), capped at 30), with per-bucket count and
    * norm extremes — the sanity table that catches unnormalized or
    * near-zero vectors before they poison cosine retrieval (a zero
    * vector cosines to 0 against everything; an unnormalized one
    * dominates dot-product rankings). Norms come from the family's
    * fixed-point nsq (exact integer sum of squares), so the bucket
    * boundary decision is bit-identical in any engine. One scan, one
    * bounded aggregation — ≤ 31 output rows at any corpus size. */
  def normQa(vecs: DataFrame): DataFrame = {
    val base = scaledBase(vecs)
      .withColumn("nrm", graft.util.D.r(sqrt(col("nsq").cast(DoubleType)) / lit(1e8), 6))
    base.select(least(floor(col("nrm") * 10), lit(30)).cast(LongType).as("bucket"), col("nrm"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"),
        min(col("nrm")).as("min_norm"), max(col("nrm")).as("max_norm"))
      .orderBy("bucket")
  }

  /** DuckDB mirror of [[normQa]]. */
  def normQaSql(table: String): String =
    s"""WITH ${normSqSql(table)},
       |nr AS (SELECT vec_id, ROUND(SQRT(CAST(nsq AS DOUBLE)) / 100000000.0, 6) AS nrm
       |  FROM norms)
       |SELECT CAST(LEAST(FLOOR(nrm * 10), 30) AS BIGINT) AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
       |FROM nr GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Per-dimension component profile: count, exact fixed-point mean,
    * zero fraction, and component extremes per embedding dimension — the
    * dead/collapsed-dimension detector (a dimension whose values are all
    * zero or constant carries no signal and flags an upstream encoder or
    * serialization bug). All-integer aggregation until the final emit;
    * output is dims rows regardless of corpus size. */
  def dimProfile(vecs: DataFrame): DataFrame =
    scaledBase(vecs)
      .select(posexplode(col("fxe")).as(Seq("dim", "fx")))
      .groupBy("dim")
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum(col("fx")).cast(LongType).as("sfx"),
        sum(when(col("fx") === 0L, 1L).otherwise(0L)).as("n_zero"),
        min(col("fx")).as("minfx"), max(col("fx")).as("maxfx"))
      .select(col("dim").cast(LongType).as("dim"), col("n"),
        graft.util.D.r(col("sfx").cast(DoubleType) / lit(1e8) / col("n").cast(DoubleType), 6).as("mean_val"),
        graft.util.D.r(col("n_zero").cast(DoubleType) / col("n").cast(DoubleType), 6).as("zero_frac"),
        graft.util.D.r(col("minfx").cast(DoubleType) / lit(1e8), 6).as("min_val"),
        graft.util.D.r(col("maxfx").cast(DoubleType) / lit(1e8), 6).as("max_val"))
      .orderBy("dim")

  /** DuckDB mirror of [[dimProfile]]. */
  def dimProfileSql(table: String): String =
    s"""WITH md AS (SELECT
       |    CAST(unnest(generate_series(1, len(embedding))) - 1 AS BIGINT) AS dim,
       |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000000) AS BIGINT) AS fx
       |  FROM $table)
       |SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
       |  ROUND(CAST(SUM(fx) AS DOUBLE) / 100000000.0 / COUNT(*), 6) AS mean_val,
       |  ROUND(CAST(SUM(CASE WHEN fx = 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS zero_frac,
       |  ROUND(CAST(MIN(fx) AS DOUBLE) / 100000000.0, 6) AS min_val,
       |  ROUND(CAST(MAX(fx) AS DOUBLE) / 100000000.0, 6) AS max_val
       |FROM md GROUP BY dim ORDER BY dim""".stripMargin

  /** Seed centroid table (cid, cembedding) for [[kmeansFit]] /
    * [[kmeansIter]]: the family's deterministic vec_id-mod seeding.
    * For K ~ √N seeding (the scale guidance — assignment cost O(N·K)
    * stays O(N^1.5) while quantization error keeps shrinking), pass
    * centMod = [[sqrtSeedMod]](n). */
  def seedCents(vecs: DataFrame, centMod: Int, centOff: Int): DataFrame =
    seedRows(vecs, centMod, centOff)
      .select(col("vec_id").as("cid"),
        col("embedding").cast("array<double>").as("cembedding"))

  /** centMod giving ~√n seeded centroids out of n vectors. */
  def sqrtSeedMod(n: Long): Int = {
    require(n > 0, "need a positive corpus size")
    math.max(1, math.round(math.sqrt(n.toDouble))).toInt
  }

  /** One Lloyd iteration against an EXPLICIT centroid table
    * (cid, cembedding: array<double>) — [[kmeansStep]] generalized from
    * vec_id-seeded to arbitrary centroids so [[kmeansFit]] can loop it.
    * Centroids re-enter the fixed-point domain through the same
    * quantizer as the corpus ([[scaled]]), so a 6dp-mean centroid scores
    * bit-identically in any engine. Same one-corpus-pass shape as
    * [[kmeansStep]]: the table is collected, so it must hold at most
    * [[MaxSeeds]] rows and no NULL cid (either fails loudly). */
  def kmeansIter(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val c = cents.select(col("cid"), scaled(col("cembedding")).as("ce"))
      .withColumn("cn", FixedDot(col("ce"), col("ce")))
    lloydStep(scaledBase(vecs), c)
  }

  /** Centroid table (cid, cembedding) from a [[kmeansIter]]/
    * [[kmeansStep]] means output — per-cluster dim-ordered mean vector
    * (the collect_list/transform run on the K-row aggregated table, the
    * family's bounded post-aggregation HOF convention). */
  def centsFromMeans(means: DataFrame): DataFrame =
    means.groupBy(col("cluster_id").as("cid"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("centroid")))),
        s => s.getField("centroid")).as("cembedding"))

  /** Looped-to-convergence Lloyd fit (the `kmeansFit` entry point the
    * single-step family hands off to): seed from the bounded
    * [[seedRows]] rule (use [[sqrtSeedMod]] for K ~ √N below the
    * [[MaxSeeds]] cap), then repeat
    * [[kmeansIter]] until the max centroid drift (euclidean, over
    * clusters surviving the round — an empty cluster drops out, the
    * standard Lloyd behavior) is ≤ `tol` or `maxIter` rounds ran.
    *
    * Scale: each round is ONE corpus pass (the kmeansStep contract)
    * over the round's centroid table, which [[kmeansIter]] collects —
    * at most [[MaxSeeds]] rows, so the plan stays constant-size. Each round's K-row table is localCheckpointed once,
    * because it feeds both the next round's collect and the drift join;
    * the drift is one scalar per round. */
  final case class KMeansFit(centroids: DataFrame, iters: Int,
                             drifts: Seq[Double], converged: Boolean)

  def kmeansFit(vecs: DataFrame, centMod: Int, centOff: Int,
                maxIter: Int = 10, tol: Double = 1e-4): KMeansFit = {
    require(maxIter >= 1, "maxIter must be >= 1")
    require(tol >= 0, "tol must be >= 0")
    var cents = seedCents(vecs, centMod, centOff).localCheckpoint(true)
    val drifts = scala.collection.mutable.ArrayBuffer.empty[Double]
    var converged = false
    var it = 0
    while (it < maxIter && !converged) {
      val next = centsFromMeans(kmeansIter(vecs, cents)).localCheckpoint(true)
      val d2 = aggregate(
        zip_with(col("n.cembedding"), col("o.cembedding"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
      // K-row join; coalesce covers the no-surviving-cluster edge
      val drift = next.as("n").join(cents.as("o"), col("n.cid") === col("o.cid"))
        .agg(coalesce(max(sqrt(d2)), lit(0.0))).head().getDouble(0)
      cents = next
      drifts += drift
      it += 1
      converged = drift <= tol
    }
    KMeansFit(cents, it, drifts.toSeq, converged)
  }

  /** Fixed-2-iteration oracled form: seed → means → re-assign to the
    * 6dp means → means again. [[kmeansIter]] collects the K-row
    * iteration-1 table, so iteration 2 plans as the same one-pass shape
    * as iteration 1 and never as one deep chained tree; values are
    * identical to the manual composition (PcaSpec pins it). */
  def kmeans2Iter(vecs: DataFrame, centMod: Int, centOff: Int): DataFrame =
    kmeansIter(vecs, centsFromMeans(kmeansStep(vecs, centMod, centOff)))

  /** DuckDB mirror of [[kmeans2Iter]]: iteration 1 is [[kmeansStepSql]]'s
    * assignment/means; the 6dp means re-quantize at 1e8
    * (ROUND(centroid·1e8) — the [[scaled]] contract) and iteration 2
    * re-assigns and re-averages. */
  def kmeans2IterSql(table: String, centMod: Int, centOff: Int): String =
    s"""WITH ${normSqSql(table)},
       |base AS (SELECT e.vec_id, e.embedding, n.nsq FROM $table e JOIN norms n ON e.vec_id = n.vec_id),
       |cents AS (SELECT vec_id AS cid, embedding AS ce, nsq AS cn FROM base WHERE ${seedWhere(centMod, centOff)}),
       |scored_c AS (SELECT b.vec_id, b.nsq, c.cid,
       |    ${cosSql(dotFixSql("c.ce", "b.embedding"), "c.cn", "b.nsq")} AS ccos
       |  FROM base b CROSS JOIN cents c),
       |assign1 AS (SELECT vec_id, cid AS cluster_id FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored_c)
       |  WHERE rn = 1),
       |ve AS (SELECT vec_id,
       |    CAST(unnest(generate_series(1, len(embedding))) - 1 AS BIGINT) AS dim,
       |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000000) AS BIGINT) AS fx
       |  FROM base),
       |means1 AS (SELECT a.cluster_id, v.dim, COUNT(*) AS n,
       |    ROUND(CAST(CAST(SUM(v.fx) AS BIGINT) AS DOUBLE) / 100000000.0 / CAST(COUNT(*) AS DOUBLE), 6) AS centroid
       |  FROM ve v JOIN assign1 a ON v.vec_id = a.vec_id GROUP BY 1, 2),
       |c2 AS (SELECT cluster_id AS cid, dim,
       |    CAST(ROUND(centroid * 100000000) AS BIGINT) AS cfx FROM means1),
       |c2n AS (SELECT cid, CAST(SUM(cfx * cfx) AS BIGINT) AS cn FROM c2 GROUP BY 1),
       |dots AS (SELECT v.vec_id, c.cid, CAST(SUM(v.fx * c.cfx) AS BIGINT) AS dot
       |  FROM ve v JOIN c2 c ON v.dim = c.dim GROUP BY 1, 2),
       |scored2 AS (SELECT d.vec_id, d.cid,
       |    ${cosSql("d.dot", "n.nsq", "cn.cn")} AS ccos
       |  FROM dots d JOIN norms n ON d.vec_id = n.vec_id JOIN c2n cn ON d.cid = cn.cid),
       |assign2 AS (SELECT vec_id, cid AS cluster_id FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored2)
       |  WHERE rn = 1)
       |SELECT a.cluster_id, v.dim, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  ROUND(CAST(CAST(SUM(v.fx) AS BIGINT) AS DOUBLE) / 100000000.0 / CAST(COUNT(*) AS DOUBLE), 6) AS centroid
       |FROM ve v JOIN assign2 a ON v.vec_id = a.vec_id
       |GROUP BY 1, 2 ORDER BY cluster_id, dim""".stripMargin

  /** DuckDB mirror of [[kmeansStep]] (two zipped unnests = posexplode). */
  def kmeansStepSql(table: String, centMod: Int, centOff: Int): String =
    s"""WITH ${normSqSql(table)},
       |base AS (SELECT e.vec_id, e.embedding, n.nsq FROM $table e JOIN norms n ON e.vec_id = n.vec_id),
       |cents AS (SELECT vec_id AS cid, embedding AS ce, nsq AS cn FROM base WHERE ${seedWhere(centMod, centOff)}),
       |scored_c AS (SELECT b.vec_id, b.embedding, b.nsq, c.cid,
       |    ${cosSql(dotFixSql("c.ce", "b.embedding"), "c.cn", "b.nsq")} AS ccos
       |  FROM base b CROSS JOIN cents c),
       |assign AS (SELECT vec_id, cid AS cluster_id FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored_c)
       |  WHERE rn = 1),
       |ex AS (SELECT a.cluster_id,
       |    CAST(unnest(generate_series(1, len(b.embedding))) - 1 AS BIGINT) AS dim,
       |    CAST(ROUND(CAST(unnest(b.embedding) AS DOUBLE) * 100000000) AS BIGINT) AS fx
       |  FROM base b JOIN assign a ON b.vec_id = a.vec_id)
       |SELECT cluster_id, dim, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  ROUND(CAST(CAST(SUM(fx) AS BIGINT) AS DOUBLE) / 100000000.0
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS centroid
       |FROM ex GROUP BY cluster_id, dim ORDER BY cluster_id, dim""".stripMargin

  /** Exact upper-triangle Gram (second-moment) matrix of the embedding
    * corpus: G[i,j] = Σ_rows x_i·x_j for 0 ≤ i ≤ j < d — the input to
    * PCA / covariance / whitening over a corpus too large to collect.
    *
    * Spark-first shape: two CHAINED posexplodes on the scan (no
    * self-join — the (i, x_i, fxe) intermediate never shuffles), exact
    * long products at the family's 1e8 fixed-point scale, then ONE
    * hash aggregate on (i, j). Map-side partial aggregation reduces the
    * shuffle to d(d+1)/2 partial rows per task regardless of corpus
    * size — the only full-width data movement is the scan itself.
    *
    * Exactness at scale: a straight long sum of the 1e16-scale products
    * overflows around Σ x_i·x_j ≈ 920 (≈ 59k unit-norm 64-dim rows), so
    * each product is split into three 21-bit chunks summed separately
    * (the [[graft.explain.Correlation]] chunked-long design; |p| ≤ 1e16
    * < 2^54 for components in [−1, 1] — the chunk decomposition is exact
    * for ANY long via two's complement, the bound only sizes the chunk
    * sums: each grows ≤ n·2^21, overflow-safe to n ≈ 2^42 rows ≈
    * 100 TB-proof) and recombined exactly in DECIMAL once per cell.
    * Output: (i, j, n, gram) with gram = G[i,j] rounded to 6dp via the
    * deterministic DECIMAL(38,0)→DOUBLE emission (both engines convert
    * an integral decimal with one correctly-rounded step). */
  def gramMatrix(vecs: DataFrame): DataFrame = {
    val m = lit((1L << 21) - 1)
    val dec = DecimalType(38, 0)
    val p = vecs.select(scaled(col("embedding")).as("fxe"))
      .select(posexplode(col("fxe")).as(Seq("i", "xi")), col("fxe"))
      .select(col("i"), col("xi"), posexplode(col("fxe")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .select(col("i").cast(LongType).as("i"), col("j").cast(LongType).as("j"),
        (col("xi") * col("xj")).as("p"))
    val total = sum(shiftright(col("p"), 42)).cast(dec) * lit(1L << 42) +
      sum(shiftright(col("p"), 21).bitwiseAND(m)).cast(dec) * lit(1L << 21) +
      sum(col("p").bitwiseAND(m)).cast(dec)
    p.groupBy("i", "j")
      .agg(count(lit(1)).as("n"), total.cast(dec).as("gram_fix"))
      .select(col("i"), col("j"), col("n"),
        graft.util.D.r(col("gram_fix").cast(DoubleType) / lit(1e16), 6).as("gram"))
      .orderBy("i", "j")
  }

  /** DuckDB mirror of [[gramMatrix]] (zipped unnest + within-row
    * self-join; DuckDB's BIGINT SUM accumulates in int128, so the
    * chunking is unnecessary on that side — the DECIMAL(38,0) total is
    * identical). */
  def gramMatrixSql(table: String): String =
    s"""WITH e1 AS (SELECT vec_id,
       |    CAST(unnest(generate_series(1, len(embedding))) - 1 AS BIGINT) AS dim,
       |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000000) AS BIGINT) AS fx
       |  FROM $table),
       |pr AS (SELECT a.dim AS i, b.dim AS j, a.fx * b.fx AS p
       |  FROM e1 a JOIN e1 b ON a.vec_id = b.vec_id AND b.dim >= a.dim)
       |SELECT i, j, COUNT(*) AS n,
       |  ROUND(CAST(CAST(SUM(p) AS DECIMAL(38,0)) AS DOUBLE) / 10000000000000000.0, 6) AS gram
       |FROM pr GROUP BY i, j ORDER BY i, j""".stripMargin

  /** Per-dimension exact mean vector (the other PCA input): one
    * posexplode + hash aggregate, same emission rules as
    * [[kmeansStep]]'s centroid update. */
  def meanVector(vecs: DataFrame): DataFrame =
    vecs.select(scaled(col("embedding")).as("fxe"))
      .select(posexplode(col("fxe")).as(Seq("dim", "fx")))
      .groupBy(col("dim").cast(LongType).as("dim"))
      .agg(count(lit(1)).as("n"), sum(col("fx")).as("sfx"))
      .select(col("dim"), col("n"),
        graft.util.D.r(col("sfx").cast(DoubleType) / lit(Scale) /
          col("n").cast(DoubleType), 6).as("mean"))
      .orderBy("dim")

  /** Driver-side PCA over the DISTRIBUTED second moments: top-k
    * eigenpairs of the covariance C = G/n − μμᵀ by power iteration
    * with deflation. The collected state is d² + d cells (KB for
    * d = 64) — bounded by the embedding dimension, NEVER by corpus
    * size, so the collect is safe at 100 TB; the corpus is touched by
    * exactly the two aggregate scans in [[gramMatrix]]/[[meanVector]].
    *
    * Deterministic by construction: exact cross-engine Gram/mean
    * inputs, fixed start vector (1/√d, …), a deterministic
    * tolerance-based stop (pure sequential double math — the same
    * inputs converge at the same iterate on any host), and a sign
    * convention (largest-|component| coordinate made positive).
    * Returns (eigenvalue, component) pairs, largest first; use
    * [[pcaDetailed]] for the per-pair iteration count and convergence
    * flag (near-degenerate leading eigenvalues converge slowly, and
    * deflation compounds an unconverged pair's error into every later
    * pair — the flag makes that visible instead of silent). */
  def pca(vecs: DataFrame, k: Int, iters: Int = 200): Seq[(Double, Array[Double])] =
    pcaDetailed(vecs, k, maxIters = iters).map(e => (e.value, e.vector))

  /** One eigenpair of [[pcaDetailed]]: `iters` = power iterations spent,
    * `converged` = the iterate moved ≤ `tol` (∞-norm, sign-agnostic)
    * on its last step. An unconverged pair means its eigenvalue gap is
    * small at this budget — its vector (and, through deflation, later
    * pairs) may be inaccurate; raise maxIters or treat the trailing
    * pairs as unstable. */
  final case class EigenPair(value: Double, vector: Array[Double],
                             iters: Int, converged: Boolean)

  def pcaDetailed(vecs: DataFrame, k: Int, maxIters: Int = 200,
                  tol: Double = 1e-12): Seq[EigenPair] = {
    require(maxIters >= 1, "pca: maxIters must be >= 1")
    val gRows = gramMatrix(vecs).collect()
    val mRows = meanVector(vecs).collect()
    val d = mRows.length
    require(d > 0, "pca: empty corpus")
    val n = mRows.head.getLong(1).toDouble
    val mu = mRows.sortBy(_.getLong(0)).map(_.getDouble(2))
    val c = Array.ofDim[Double](d, d)
    gRows.foreach { r =>
      val (i, j, g) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(3))
      val v = g / n - mu(i) * mu(j)
      c(i)(j) = v; c(j)(i) = v
    }
    val comps = scala.collection.mutable.ArrayBuffer.empty[EigenPair]
    val a = c.map(_.clone())
    (1 to math.min(k, d)).foreach { _ =>
      var v = Array.fill(d)(1.0 / math.sqrt(d))
      var it = 0
      var delta = Double.MaxValue
      while (it < maxIters && delta > tol) {
        val av = Array.tabulate(d)(i => (0 until d).foldLeft(0.0)((s, j) => s + a(i)(j) * v(j)))
        val nrm = math.sqrt(av.map(x => x * x).sum)
        if (nrm > 0) {
          val nv = av.map(_ / nrm)
          // sign-agnostic iterate movement: power iteration may flip
          // sign step-to-step near a negative-shifted eigenvalue
          delta = math.min(
            v.indices.map(i => math.abs(nv(i) - v(i))).max,
            v.indices.map(i => math.abs(nv(i) + v(i))).max)
          v = nv
        } else delta = 0.0 // zero matrix: any unit vector is stationary
        it += 1
      }
      val lambda = (0 until d).foldLeft(0.0)((s, i) =>
        s + v(i) * (0 until d).foldLeft(0.0)((t, j) => t + a(i)(j) * v(j)))
      // sign convention: the largest-magnitude coordinate is positive
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      val vf = if (v(pivot) < 0) v.map(-_) else v
      comps += EigenPair(lambda, vf, it, delta <= tol)
      (0 until d).foreach(i => (0 until d).foreach(j => a(i)(j) -= lambda * vf(i) * vf(j)))
    }
    comps.toSeq
  }

  /** Project the corpus onto driver-computed components: per-row exact
    * fixed-point dots against the broadcast-literal component vectors
    * (codegen'd [[FixedDot]] — no UDF, no HOF). Output: vec_id +
    * pc0..pc{k-1} doubles. */
  def pcaProject(vecs: DataFrame, comps: Seq[Array[Double]]): DataFrame = {
    val base = vecs.select(col("vec_id"), scaled(col("embedding")).as("fxe"))
    val scores = comps.zipWithIndex.map { case (cvec, ci) =>
      val compFx = cvec.map(x => math.round(x * Scale))
      (FixedDot(col("fxe"), lit(compFx)).cast(DoubleType) / lit(Scale * Scale))
        .as(s"pc$ci")
    }
    base.select(col("vec_id") +: scores: _*).orderBy("vec_id")
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication = k-means
    * cluster the embeddings, then inside each cluster drop all but one
    * member of every near-duplicate group, keeping the member LEAST
    * similar to its cluster centroid (the paper's best-performing keep
    * rule — the kept example is the most "extreme"/informative one).
    *
    * Concretely: centroids are seeded like the IVF family
    * (the bounded [[seedRows]] rule — one Lloyd assignment; callers who
    * want converged centroids loop [[kmeansStep]] first); every vector
    * gets (cluster_id, cent_sim = max-cosine-to-centroid, 6dp); a
    * vector is DROPPED iff some same-cluster partner at pairwise
    * cosine ≥ eps has a strictly smaller (cent_sim, vec_id) key. Per
    * duplicate group the (cent_sim, vec_id)-minimum always survives,
    * and the rule is pairwise-local — no transitive chaining, so it
    * needs no iterative component step (see dedup.Cluster for the
    * transitive form). Returns (vec_id, cluster_id, cent_sim,
    * kept INT) ordered by vec_id.
    *
    * Scale (100 TB): assignment is the [[assignLists]] shape — the
    * collected ≤ [[MaxSeeds]]-row centroid table, a scan-local
    * projection, no corpus shuffle; the pair enumeration self-joins
    * CLUSTER blocks (the paper's whole point: clusters make the
    * quadratic step tractable), so pair count is Σ n_c² bounded by the
    * largest cluster —
    * [[graft.util.Guard.pairBlockCap]] fail-fasts any cluster block
    * over the documented bound instead of letting one hot cluster
    * melt a reducer. More/tighter clusters (bigger centMod spread or
    * looped kmeansStep) shrink blocks; eps only filters pairs. */
  def semDedup(vecs: DataFrame, eps: Double,
               centMod: Int, centOff: Int): DataFrame = {
    // NULL-id rows dropped up front (they could never join back into
    // the report anyway — the historical contract).
    val base = scaledBase(vecs).filter(col("vec_id").isNotNull)
    // Scan-local assignment ([[graft.functions.IvfAssign]]: cluster_id
    // AND cent_sim — the argmax's ccos IS max(ccos)), materialized ONCE:
    // four consumers read the assignment (block counts, both pair
    // sides, the final report), so one checkpoint serves them all.
    val (corpus, cb) = collectCents(base, seedTable(base, centMod, centOff))
    val assigned = corpus.withColumn("__a", graft.functions.IvfAssign(col("fxe"), cb))
      .select(col("vec_id"), col("fxe"), col("nsq"),
        col("__a").getField("cid").as("cluster_id"),
        graft.util.D.r(col("__a").getField("ccos"), 6).as("cent_sim"))
      .localCheckpoint(true)
    // Hot-cluster guard: same count-broadcast-back idiom as
    // embeddingPairs — the error fires on the first streamed rows of a
    // hot block, before its quadratic pair set materializes.
    val blockN = assigned.groupBy("cluster_id").agg(count(lit(1)).as("__block_n"))
    val a = assigned.select(col("cluster_id"), col("vec_id").as("vec_a"),
        col("fxe").as("ea"), col("nsq").as("na"), col("cent_sim").as("sim_a"))
      .join(blockN, Seq("cluster_id"))
    val b = assigned.select(col("cluster_id"), col("vec_id").as("vec_b"),
      col("fxe").as("eb"), col("nsq").as("nb"), col("cent_sim").as("sim_b"))
    val dropped = a.join(b, Seq("cluster_id"))
      .filter(col("vec_a") =!= col("vec_b"))
      .withColumn("pcos", graft.util.D.r(cosExpr(FixedDot(col("ea"), col("eb")),
        graft.util.Guard.pairBlockCap(col("__block_n"), col("na"), "semDedup"),
        col("nb")), 6))
      .filter(col("pcos") >= eps &&
        (col("sim_b") < col("sim_a") ||
          (col("sim_b") === col("sim_a") && col("vec_b") < col("vec_a"))))
      .select(col("vec_a").as("vec_id")).distinct()
      .withColumn("__dropped", lit(1))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"), col("cent_sim"),
        when(col("__dropped").isNull, 1).otherwise(0).cast(IntegerType).as("kept"))
      .orderBy("vec_id")
  }

  /** DuckDB mirror of [[semDedup]]. */
  def semDedupSql(table: String, eps: Double,
                  centMod: Int, centOff: Int): String =
    s"""WITH ${normSqSql(table)},
       |base AS (SELECT e.vec_id, e.embedding, n.nsq FROM $table e JOIN norms n ON e.vec_id = n.vec_id),
       |cents AS (SELECT vec_id AS cid, embedding AS ce, nsq AS cn FROM base WHERE ${seedWhere(centMod, centOff)}),
       |scored_c AS (SELECT b.vec_id, b.embedding, b.nsq, c.cid,
       |    ${cosSql(dotFixSql("c.ce", "b.embedding"), "c.cn", "b.nsq")} AS ccos
       |  FROM base b CROSS JOIN cents c),
       |m AS (SELECT vec_id, embedding, nsq, cid AS cluster_id, ROUND(ccos, 6) AS cent_sim FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored_c)
       |  WHERE rn = 1),
       |dropped AS (SELECT DISTINCT a.vec_id FROM m a JOIN m b
       |  ON a.cluster_id = b.cluster_id AND a.vec_id <> b.vec_id
       |  WHERE ROUND(${cosSql(dotFixSql("a.embedding", "b.embedding"), "a.nsq", "b.nsq")}, 6) >= $eps
       |    AND (b.cent_sim < a.cent_sim OR (b.cent_sim = a.cent_sim AND b.vec_id < a.vec_id)))
       |SELECT m.vec_id, m.cluster_id, m.cent_sim,
       |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
       |FROM m LEFT JOIN dropped d ON m.vec_id = d.vec_id
       |ORDER BY m.vec_id""".stripMargin

  // ------------------------------------------ hyperplane LSH bucketing --

  /** Number of sign bits / hyperplanes for [[lshPairs]] (2^8 buckets at
    * bench scale; raise to shrink buckets as the corpus grows). */
  val LshBits = 8

  /** Embedding dimensionality the hyperplane matrix is generated for. */
  val LshDim = 64

  /** Deterministic ±1 hyperplane matrix (LshBits × LshDim) from a
    * documented xorshift64 seed — both engines embed the SAME literal
    * signs, so bucket ids are reproducible everywhere (same idiom as
    * Dedup.Seeds). Random ±1 hyperplanes are the classic random-
    * projection LSH family for cosine similarity (sign of ⟨v, r⟩). */
  lazy val LshPlanes: IndexedSeq[IndexedSeq[Long]] = {
    var s = 0x9E3779B97F4A7C15L
    def next(): Long = { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; s }
    IndexedSeq.fill(LshBits)(IndexedSeq.fill(LshDim)(if ((next() & 1L) == 0L) 1L else -1L))
  }

  /** Hyperplane-LSH-bucketed embedding near-dup pairs (cosine ≥ th):
    * bucket = the LshBits sign bits of ⟨v, r_k⟩ over the fixed ±1
    * hyperplanes (exact fixed-point dots — ties at 0 break identically
    * in both engines). Near-identical vectors agree on every sign bit
    * with high probability, so they collide.
    *
    * Scale shape vs [[embeddingPairsIvf]]: bucketing is SCAN-LOCAL — no
    * centroid table to train or broadcast, the bucket id is a pure
    * per-row expression — and the bucket count is a config (2^bits),
    * not data-dependent; the one shuffle keys on bucket id. */
  def lshPairs(vecs: DataFrame, th: Double): DataFrame = {
    val base = scaledBase(vecs)
    val bucketExpr = (0 until LshBits).map { k =>
      when(FixedDot(col("fxe"), typedlit(LshPlanes(k))) >= 0, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)
    val b = base.withColumn("bucket", bucketExpr)
    val a1 = b.select(col("bucket"), col("vec_id").as("vec_a"),
      col("fxe").as("ea"), col("nsq").as("na"))
    val b1 = b.select(col("bucket"), col("vec_id").as("vec_b"),
      col("fxe").as("eb"), col("nsq").as("nb"))
    a1.join(b1, Seq("bucket")).filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        graft.util.D.r(cosExpr(FixedDot(col("ea"), col("eb")), col("na"), col("nb")), 6))
      .filter(col("cosine") >= th)
      .select(col("bucket"), col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy("bucket", "vec_a", "vec_b")
  }

  def lshPairsSql(table: String, th: Double): String = {
    val fx = "CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 100000000) AS BIGINT)"
    val bucket = (0 until LshBits).map { k =>
      val planes = LshPlanes(k).mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, ${LshDim + 1}), i -> $fx * ($planes)[i])) >= 0 THEN ${1L << k} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH ${normSqSql(table)},
       |base AS (SELECT e.vec_id, e.embedding, n.nsq, CAST(($bucket) AS BIGINT) AS bucket
       |  FROM $table e JOIN norms n ON e.vec_id = n.vec_id)
       |SELECT bucket, vec_a, vec_b, cosine FROM (
       |  SELECT a.bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ROUND(${cosSql(dotFixSql("a.embedding", "b.embedding"), "a.nsq", "b.nsq")}, 6) AS cosine
       |  FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |WHERE cosine >= $th ORDER BY bucket, vec_a, vec_b""".stripMargin
  }

  /** Label-blocked embedding near-dup pairs (cosine ≥ th). Default
    * bits = 0: EXACT pair enumeration within each label block (the
    * reference's semantics). With bits > 0 each label block is
    * SUB-BLOCKED by `bits` hyperplane-LSH sign bits (the mirrored
    * [[LshPlanes]]): the pair join keys on (label, bucket), so block
    * size is bounded by label_size / 2^bits in expectation — a label
    * block is never self-joined whole. The sub-blocking is
    * similarity-preserving (near-identical vectors agree on sign bits
    * with high probability), not a random salt, so recall loss is
    * principled — see [[SubBlockBits]] for the recall contract a
    * caller accepts by opting in. */
  /** Sub-block sign-bit count for the OPT-IN bounded form of
    * [[embeddingPairs]]: 2^4 = 16 sub-buckets per label cap the
    * self-join block at label_size/16 in expectation. RECALL is
    * (1−θ/π)^bits per qualifying pair and falls fast as the cosine
    * threshold drops: ≈ 2/3 at cosine 0.95 (the near-dup use case) but
    * only ≈ 13% at cosine 0.3 — at low thresholds the bounded form is a
    * biased SAMPLE of qualifying pairs. The DEFAULT is bits = 0: exact
    * label-block pair enumeration, matching the reference's exact
    * semantics (a caller gets every qualifying pair unless they opt
    * into sub-blocking knowingly). Exact label blocks are unbounded —
    * one hot label self-joins whole — so at corpus scale pass
    * bits = SubBlockBits (high-threshold near-dup), or use
    * [[embeddingPairsIvf]] / [[lshPairs]] (content-blocked, recall
    * bounded per block, not per pair). */
  val SubBlockBits = 4

  def embeddingPairs(vecs: DataFrame, th: Double, bits: Int = 0): DataFrame = {
    val base = scaledBase(vecs, Seq("label"))
    val bucketExpr =
      if (bits == 0) lit(0L)
      else (0 until bits).map { k =>
        when(FixedDot(col("fxe"), typedlit(LshPlanes(k))) >= 0, lit(1L << k)).otherwise(lit(0L))
      }.reduce(_ + _)
    val withB = base.withColumn("bkt", bucketExpr)
    // Hot-block guard: block sizes are one map-side-combined count whose
    // ~|labels|·2^bits-row output AQE broadcasts back onto side `a`; the
    // per-row `na` evaluation then fail-fasts any block over
    // Guard.MaxPairBlockRows (the join streams, so the error fires
    // before the quadratic pair set of a hot label materializes).
    val blockN = withB.groupBy(col("label").as("lbl"), col("bkt"))
      .agg(count(lit(1)).as("__block_n"))
    val a = withB.select(col("label").as("lbl"), col("bkt"), col("vec_id").as("vec_a"),
      col("fxe").as("ea"), col("nsq").as("na"))
      .join(blockN, Seq("lbl", "bkt"))
    val b = withB.select(col("label").as("lbl"), col("bkt"), col("vec_id").as("vec_b"),
      col("fxe").as("eb"), col("nsq").as("nb"))
    a.join(b, Seq("lbl", "bkt")).filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", graft.util.D.r(cosExpr(FixedDot(col("ea"), col("eb")),
        graft.util.Guard.pairBlockCap(col("__block_n"), col("na"), "embeddingPairs"),
        col("nb")), 6))
      .filter(col("cosine") >= th)
      .select(col("lbl").as("label"), col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy("label", "vec_a", "vec_b")
  }

  def embeddingPairsSql(table: String, th: Double, bits: Int = 0): String = {
    val fx = "CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 100000000) AS BIGINT)"
    val bucket =
      if (bits == 0) "0"
      else (0 until bits).map { k =>
        val planes = LshPlanes(k).mkString("[", ", ", "]")
        s"(CASE WHEN list_sum(list_transform(range(1, ${LshDim + 1}), i -> $fx * ($planes)[i])) >= 0 THEN ${1L << k} ELSE 0 END)"
      }.mkString(" + ")
    s"""WITH ${normSqSql(table)},
       |base AS (SELECT e.vec_id, e.label, e.embedding, n.nsq, CAST(($bucket) AS BIGINT) AS bkt
       |  FROM $table e JOIN norms n ON e.vec_id = n.vec_id)
       |SELECT label, vec_a, vec_b, cosine FROM (
       |  SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ROUND(${cosSql(dotFixSql("a.embedding", "b.embedding"), "a.nsq", "b.nsq")}, 6) AS cosine
       |  FROM base a JOIN base b ON a.label = b.label AND a.bkt = b.bkt AND a.vec_id < b.vec_id)
       |WHERE cosine >= $th ORDER BY label, vec_a, vec_b""".stripMargin
  }
}
