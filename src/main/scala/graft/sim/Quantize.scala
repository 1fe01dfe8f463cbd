package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-vector int8 (max-abs / symmetric) embedding quantization — the
  * compression step an ANN serving layer runs before indexing 100 TB
  * of vectors (4× smaller than float32, SIMD-friendly dot products).
  * Reference scope: pd_explain carries embeddings as raw float lists;
  * this extends the similarity family with the storage path.
  *
  * Math is exact end-to-end: components are first scaled to longs at
  * 1e8 ([[Ann.scaled]] — the library-wide fixed-point contract), then
  * the int8 code is q_i = round(|fx_i|·127 / amax) computed as
  * floor((|fx_i|·254 + amax) / (2·amax)) with ONE double division
  * whose operands are identical longs in both engines (IEEE-754
  * division is correctly rounded, so the mirrored oracle gets the
  * identical quotient bit-for-bit). Reconstruction error is the exact
  * long |fx_i·127 − q_i·amax| (the true error at scale 1e8·127).
  * Overflow headroom: |fx| ≤ ~1e9 for unit-scale embeddings, so
  * |fx|·254 ≤ 2.6e11 ≪ 2^63.
  *
  * Scale: scan-local per-row array math (codegen'd fixed-point scale +
  * higher-order functions over ≤128-element arrays), one
  * vec_id-ordered projection — zero shuffles, no joins, nothing
  * collected. The HOF lambdas are interpreted but run over the
  * embeddings table (vectors, not documents) whose row width dwarfs
  * the lambda overhead.
  */
object Quantize {

  /** Quantization report: per vector the code statistics and exact
    * reconstruction error (all BIGINT — hash-stable across engines).
    * Columns: vec_id, n_dims, amax_fx (max |component| at scale 1e8 =
    * the dequant scale), sum_q (Σ|q_i|), sum_q_sq (Σq_i² — the
    * quantized squared norm an int8 dot-product index serves from),
    * sum_err_fx / max_err_fx (Σ and max of |fx_i·127 − q_i·amax|). */
  def int8Report(vecs: DataFrame): DataFrame = {
    val a = transform(Ann.scaled(col("embedding")), x => abs(x))
    val base = vecs.select(col("vec_id"), a.as("a"))
      .withColumn("amax", array_max(col("a")))
    // amax = 0 (zero vector) → every code is 0, error 0
    val q = when(col("amax") === 0, transform(col("a"), _ => lit(0L)))
      .otherwise(transform(col("a"), x =>
        floor((x * lit(254L) + col("amax")).cast(DoubleType) /
          (col("amax") * 2).cast(DoubleType)).cast(LongType)))
    val err = zip_with(col("a"), col("q"), (x, qi) =>
      abs(x * lit(127L) - qi * col("amax")))
    base.withColumn("q", q).withColumn("err", err)
      .select(col("vec_id"),
        size(col("a")).cast(LongType).as("n_dims"),
        col("amax").as("amax_fx"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("sum_q"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x * x).as("sum_q_sq"),
        aggregate(col("err"), lit(0L), (acc, x) => acc + x).as("sum_err_fx"),
        array_max(col("err")).as("max_err_fx"))
      .orderBy("vec_id")
  }

  /** DuckDB mirror of [[int8Report]] (unnest + regroup — the oracle
    * favors clarity over the scan-local plan). */
  def int8ReportSql(table: String): String =
    s"""WITH fx AS (
       |  SELECT vec_id, ABS(CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS a
       |  FROM (SELECT vec_id, unnest(embedding) AS x FROM $table)),
       |mx AS (SELECT vec_id, MAX(a) AS amax FROM fx GROUP BY vec_id),
       |qe AS (
       |  SELECT f.vec_id, a, amax,
       |    CASE WHEN amax = 0 THEN 0
       |         ELSE CAST(FLOOR(CAST(a * 254 + amax AS DOUBLE) / CAST(2 * amax AS DOUBLE)) AS BIGINT)
       |    END AS qi
       |  FROM fx f JOIN mx USING (vec_id))
       |SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_dims,
       |  MAX(amax) AS amax_fx,
       |  CAST(SUM(qi) AS BIGINT) AS sum_q,
       |  CAST(SUM(qi * qi) AS BIGINT) AS sum_q_sq,
       |  CAST(SUM(ABS(a * 127 - qi * amax)) AS BIGINT) AS sum_err_fx,
       |  MAX(ABS(a * 127 - qi * amax)) AS max_err_fx
       |FROM qe GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Components of an embedding array in the PQ family's 1e4 fixed-point
    * domain (NOT the library-wide 1e8 — see [[pqCodes]]' determinism note). */
  private def fx4(c: Column): Column =
    transform(c, x => round(x.cast(DoubleType) * 1e4, 0).cast(LongType))

  /** One row per (id, subspace): the s-th of `m` contiguous subvectors,
    * fixed-point scaled. A narrow explode — m small rows per vector. */
  private def subs(df: DataFrame, idCol: String, m: Int): DataFrame = {
    val dsub = (size(col("_e")) / m).cast(IntegerType)
    df.select(col(idCol), col("embedding").as("_e"),
        explode(sequence(lit(0), lit(m - 1))).as("s"))
      .select(col(idCol), col("s"),
        fx4(slice(col("_e"), col("s") * dsub + 1, dsub)).as("fxs"))
  }

  /** Hard cap on PQ codebook size: at most MaxCodes codes per
    * subspace regardless of corpus size — FAISS's own ks = 2^8
    * convention (one byte per subspace code). Without it the
    * vec_id-mod seeding grows K with N, and BOTH the per-(vec,s)
    * argmin (O(N·m·K) → quadratic) and the broadcast Q×m×K ADC
    * distance table (64M rows at sf10 — the measured q_ann_pq
    * failure) blow up. The rank cap takes every residue-class member
    * while fewer than MaxCodes exist (sf ≤ 1 here), so small-SF
    * results are bit-identical to the uncapped rule. */
  val MaxCodes = 256

  /** Bounded codebook membership — [[Ann.seedRows]]'s rule at the PQ
    * cap: the MaxCodes lowest-id members of the residue class,
    * RANK-capped (orderBy+limit → TakeOrderedAndProject) rather than
    * the previous absolute-id bound, which assumed 0-based ids and
    * selected an EMPTY codebook on offset id spaces (the same bug the
    * round-8 alternate-seed audit caught in Ann.seedRows). Identical
    * set on 0-based fixtures. */
  private def codeSeedRows(vecs: DataFrame, centMod: Int, centOff: Int): DataFrame =
    vecs.filter(col("vec_id") % centMod === centOff)
      .orderBy("vec_id").limit(MaxCodes)

  /** Mirror of [[codeSeedRows]] — predicate + rank cap, embedded as the
    * tail of its single-table CTE SELECT. */
  private def codeSeedWhere(centMod: Int, centOff: Int): String =
    s"vec_id % $centMod = $centOff ORDER BY vec_id LIMIT $MaxCodes"

  /** Seeded per-subspace codebook: (s, cid, ce, cn=‖ce‖²) — m×K rows
    * with K ≤ [[MaxCodes]], broadcast at any corpus size. */
  private def codebook(vecs: DataFrame, m: Int, centMod: Int, centOff: Int): DataFrame = {
    import graft.functions.FixedDot
    subs(codeSeedRows(vecs, centMod, centOff)
        .select(col("vec_id").as("cid"), col("embedding")), "cid", m)
      .select(col("s"), col("cid"), col("fxs").as("ce"))
      .withColumn("cn", FixedDot(col("ce"), col("ce")))
  }

  /** Exact long squared L2 between a subvector column and a code column
    * (‖x‖² + ‖c‖² − 2x·c on [[graft.functions.FixedDot]]). */
  private def sqDist(x: Column, cn: Column, ce: Column): Column = {
    import graft.functions.FixedDot
    FixedDot(x, x) + cn - lit(2L) * FixedDot(x, ce)
  }

  /** Product-quantization codes (Jégou et al. 2011 — the FAISS IVF-PQ
    * compression step): split each vector into `m` contiguous
    * subvectors, quantize every subvector to its nearest code in a
    * per-subspace codebook, emit the m-byte code word and the exact
    * squared reconstruction error. A PQ index stores m bytes per
    * vector instead of 4d — the storage step between [[int8Report]]'s
    * scalar quantization and a full ANN index.
    *
    * Codebook: the family's deterministic seeding bounded at
    * [[MaxCodes]] — the MaxCodes lowest-id vectors of the residue
    * class vec_id ≡ centOff (mod centMod) contribute their s-th
    * subvector as subspace s's code (code id = contributor's vec_id);
    * a real
    * deployment trains per-subspace k-means ([[Ann.kmeansFit]] per
    * subspace composes for that), the seeded form keeps the operator
    * oracle-checkable.
    *
    * Determinism: subvectors enter a 1e4 fixed-point domain (NOT the
    * library's 1e8 — squared L2 sums must stay ≤ 2^53 so the argmin
    * score is an EXACT double: |d|² ≤ dsub·(2·1e4)² ≈ 3e9 per
    * subspace), distances are exact longs via ‖x‖² + ‖c‖² − 2x·c on
    * [[graft.functions.FixedDot]], argmin ties break to the smallest
    * code id (the oracle's ORDER BY dist, cid — the
    * [[graft.functions.PqCodebook]] contract), and the error emits at
    * the 1e8 (= 1e4²) scale.
    *
    * Scale: the m×K codebook is collected once ([[pqEncoder]]) and the
    * whole coding is a projection on the corpus scan — zero shuffles;
    * values/ties/err are bit-identical to the explode → join → argmin
    * form by the PqCodebook arithmetic contract. */
  def pqCodes(vecs: DataFrame, m: Int, centMod: Int, centOff: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val (corpus, enc) = pqEncoder(vecs, m, centMod, centOff)
    corpus.select(col("vec_id"), enc.as("pq"))
      .select(col("vec_id"),
        concat_ws("-", transform(col("pq.codes"),
          x => x.cast(StringType))).as("codes"),
        graft.util.D.r(col("pq.dsum").cast(DoubleType) / lit(1e8), 6).as("err_sq"))
      .orderBy("vec_id")
  }

  /** Collect the bounded seeded codebook (≤ m×[[MaxCodes]] rows — the
    * same KB-scale driver-table class as the silhouette centroids) and
    * build the scan-local [[graft.functions.PqEncode]] column over the
    * full fx4-scaled vector, returned with `vecs` gated on the
    * codebook: an empty seed class (a degenerate corpus) gates the
    * corpus to `where(lit(false))`, which Catalyst folds to an empty
    * relation, so every result downstream is empty — what the former
    * inner join against the empty codebook gave; a non-empty codebook
    * leaves the plan untouched (`where(lit(true))` is pruned). fx4 is
    * elementwise, so fx4(full)[s·dsub..] == fx4(slice) exactly. */
  private def pqEncoder(vecs: DataFrame, m: Int,
      cbMod: Int, cbOff: Int): (DataFrame, Column) = {
    val rows = codebook(vecs, m, cbMod, cbOff)
      .select(col("s"), col("cid"), col("ce"), col("cn"))
      .orderBy("s", "cid").collect()
    val bys = rows.groupBy(_.getInt(0)).withDefaultValue(Array.empty)
    require(rows.isEmpty || bys.keySet == (0 until m).toSet,
      s"pqEncoder: codebook covers subspaces ${bys.keySet.toSeq.sorted}, want 0..${m - 1}")
    val cids = Array.tabulate(m)(s => bys(s).map(_.getLong(1)))
    val ces = Array.tabulate(m)(s => bys(s).map(_.getSeq[Long](2).toArray))
    val cns = Array.tabulate(m)(s => bys(s).map(_.getLong(3)))
    val enc = graft.functions.PqEncode(fx4(col("embedding")),
      new graft.functions.PqCodebook(m, cids, ces, cns))
    (vecs.where(lit(rows.nonEmpty)), enc)
  }

  /** Shared DuckDB CTEs for the PQ family (m fixed at 8 — the registered
    * form): subvector rows, the seeded codebook, per-(vec, s) code
    * distances, and the rn=1 nearest-code pick. */
  private def fx4Sql(c: String): String =
    s"CAST(ROUND(CAST($c AS DOUBLE) * 10000) AS BIGINT)"

  private def sqDistSql(emb: String, cemb: String): String = {
    val f = fx4Sql _
    s"""(SELECT SUM((${f("a")} - ${f("b")}) * (${f("a")} - ${f("b")}))
       |     FROM (SELECT unnest($emb[x.s * x.dsub + 1 : (x.s + 1) * x.dsub]) AS a,
       |                  unnest($cemb[x.s * x.dsub + 1 : (x.s + 1) * x.dsub]) AS b))""".stripMargin
  }

  private def pqSqlCtes(table: String, centMod: Int, centOff: Int): String =
    s"""sers AS (SELECT UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS s),
       |xs AS (SELECT e.vec_id, t.s, e.embedding, len(e.embedding) // 8 AS dsub
       |  FROM $table e, sers t),
       |cb AS (SELECT vec_id AS cid, embedding AS cemb FROM $table
       |  WHERE ${codeSeedWhere(centMod, centOff)}),
       |scored AS (SELECT x.vec_id, x.s, c.cid,
       |    ${sqDistSql("x.embedding", "c.cemb")} AS dist
       |  FROM xs x, cb c),
       |best AS (SELECT vec_id, s, cid AS code, dist,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) AS rn
       |  FROM scored)""".stripMargin

  /** DuckDB mirror of [[pqCodes]] (m fixed at 8 — the registered form). */
  def pqCodesSql(table: String, centMod: Int, centOff: Int): String =
    s"""WITH ${pqSqlCtes(table, centMod, centOff)}
       |SELECT vec_id, string_agg(CAST(code AS VARCHAR), '-' ORDER BY s) AS codes,
       |  ROUND(CAST(SUM(dist) AS DOUBLE) / 100000000.0, 6) AS err_sq
       |FROM best WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** ADC top-k search over PQ codes (Jégou et al. 2011 §IV — asymmetric
    * distance computation, the FAISS IVF-PQ *serving* step that
    * [[pqCodes]]' compression feeds): each corpus vector is represented
    * ONLY by its m code ids; a query computes one m×K distance table
    * against the codebook, and every corpus distance is m table lookups
    * summed — d(q, x) ≈ Σ_s ‖q_s − c_{code_s(x)}‖². The query never
    * touches corpus embeddings, which is the whole point at 100 TB:
    * the scan reads m longs per vector (the PQ index), not 4d bytes.
    *
    * Plan shape — exactly how a FAISS flat-PQ scan works (per-query
    * distance tables + a running top-k heap over the code scan), with
    * ZERO corpus shuffles: codes are re-indexed to DENSE per-subspace
    * positions so each query's lookup table is an m-array of K-arrays
    * (O(1) `element_at`, not an O(K) map probe); the Q lookup tables
    * (Q·m·K longs — 82 MB at Q=5k, m=8, K=256) broadcast against the
    * one-row-per-vector code table; the ADC sum is an unrolled m-term
    * codegen'd expression; and the per-query top-k is the bounded
    * [[graft.functions.KMinAgg]] sketch over (dist, vec_id) packed
    * longs, reduced map-side. The predecessor design aggregated the
    * Q×N×m joined rows through a (query, vec) hash shuffle — at sf10
    * (10^9 groups) the shuffle write filled 78 GB of disk and the
    * query failed; this form shuffles only Q bounded sketches per
    * task. IVF-list blocking composes in front exactly as in
    * [[graft.sim.Ann.ivfTopK]] (probe lists, then ADC within lists —
    * [[adcTopKIvf]]).
    *
    * Determinism: everything stays in the 1e4 fixed-point domain —
    * distances are exact longs (≤ d_model·(2e4)² ≈ 2.6e10 at d=64,
    * ≪ 2^53, so the double emit is exact), ranking ties break to the
    * smaller neighbor id, and the query's own vector is excluded (its
    * ADC distance is its reconstruction error, not 0 — including it
    * would only measure the quantizer). Packing key = dist·2^28 +
    * vec_id: dist < 2^35 (any d_model ≤ 85 at unit scale) and
    * vec_id < 2^28 (the per-shard id contract) keep the fields
    * disjoint and ascending key order lexicographic on
    * (dist ASC, vec_id ASC) — the oracle's ORDER BY. */
  def adcTopK(vecs: DataFrame, m: Int, centMod: Int, centOff: Int,
      queryMod: Int, k: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val cb = codebook(vecs, m, centMod, centOff)
    // dense per-subspace code index (1..K): the window runs over the
    // broadcast-scale m×K codebook, partitioned by subspace
    val wIdx = org.apache.spark.sql.expressions.Window
      .partitionBy("s").orderBy("cid")
    val cbIdx = cb.withColumn("idx", row_number().over(wIdx))
    // one row per corpus vector: its m dense code indices, s-ordered —
    // scan-local via PqEncode (dense idx = 1-based cid rank, exactly
    // cbIdx's row_number)
    val (corpus, enc) = pqEncoder(vecs, m, centMod, centOff)
    val codes = corpus.select(col("vec_id"), enc.getField("idxs").as("cidx"))
    // one row per query: m K-arrays of exact subspace distances,
    // positioned by dense code index
    val qd = subs(vecs.filter(col("vec_id") % queryMod === 0)
        .select(col("vec_id").as("query_id"), col("embedding")), "query_id", m)
      .join(broadcast(cbIdx), "s")
      .select(col("query_id"), col("s"), col("idx"),
        sqDist(col("fxs"), col("cn"), col("ce")).as("qdist"))
      .groupBy("query_id", "s")
      .agg(transform(array_sort(collect_list(struct(col("idx"), col("qdist")))),
        t => t.getField("qdist")).as("dl"))
      .groupBy("query_id")
      .agg(transform(array_sort(collect_list(struct(col("s"), col("dl")))),
        t => t.getField("dl")).as("dtab"))
    // unrolled m-term ADC sum: all O(1) array indexing, codegen'd
    val dSum = (0 until m).map(i =>
      element_at(element_at(col("dtab"), i + 1), element_at(col("cidx"), i + 1)))
      .reduce(_ + _)
    val topk = codes.crossJoin(broadcast(qd))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), (dSum * lit(1L << 28) + col("vec_id")).as("pk"))
      .groupBy("query_id")
      .agg(graft.functions.KMinAgg.kmin(col("pk"), k).as("pks"))
    topk.select(col("query_id"), posexplode(col("pks")).as(Seq("pos", "pk")))
      .select(col("query_id"), (col("pos") + 1).cast(LongType).as("rank"),
        col("pk").bitwiseAND(lit((1L << 28) - 1)).as("neighbor_id"),
        graft.util.D.r(shiftright(col("pk"), 28).cast(DoubleType) / lit(1e8), 6).as("adc_dist"))
      .orderBy("query_id", "rank")
  }

  /** The full FAISS IVF-PQ serving path registered end-to-end (Jégou
    * et al. 2011 §V): queries probe their `nprobe` nearest coarse IVF
    * lists ([[Ann.probeLists]], the same coarse quantizer as
    * [[Ann.ivfTopK]]), and ADC runs ONLY against the PQ codes of
    * vectors assigned to a probed list — per query ~N·nprobe/K
    * candidates instead of N, each scored by m table lookups. This is
    * the composition [[adcTopK]]'s doc promises ("IVF-list blocking
    * composes in front"), proven here as its own checked artifact
    * rather than by analogy.
    *
    * Scale: the coarse assignment is scan-local and fused with the PQ
    * coding into one corpus pass;
    * the candidate join is an EQUI-join on list_id (never a corpus
    * cross join); ADC scoring reuses [[adcTopK]]'s shape — dense code
    * indices on the candidate rows, the per-query m×K lookup ARRAYS
    * broadcast (82 MB at Q=5k vs the predecessor's 10M-row
    * (query,subspace,code)-keyed hash relation, whose single-threaded
    * build dominated the sf10 run), an unrolled codegen'd m-term sum,
    * and the bounded [[graft.functions.KMinAgg]] per-query top-k —
    * the only post-candidate shuffle is Q bounded sketches per task.
    * With the corpus written partitionBy("list_id"), the candidate
    * scan prunes to probed lists. Recall is the standard IVF trade —
    * at nprobe ≥ K the result equals [[adcTopK]] exactly
    * (spec-pinned). */
  def adcTopKIvf(vecs: DataFrame, m: Int, cbMod: Int, cbOff: Int,
      listMod: Int, listOff: Int, queryMod: Int, nprobe: Int, k: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val cb = codebook(vecs, m, cbMod, cbOff)
    val wIdx = org.apache.spark.sql.expressions.Window
      .partitionBy("s").orderBy("cid")
    val cbIdx = cb.withColumn("idx", row_number().over(wIdx))
    // FUSED single corpus pass (vec_id, list_id, cidx): the coarse IVF
    // assignment and the PQ coding are BOTH scan-local projections, so
    // the corpus is scanned once for the whole serving path — the
    // former shape ran a separate assignLists aggregate and re-joined
    // the codes on vec_id (a corpus-keyed shuffle at scale). Each
    // collect gates the corpus, so an empty codebook or an empty coarse
    // seed class leaves no candidate.
    val (coded, enc) = pqEncoder(vecs, m, cbMod, cbOff)
    val (corpus, ac) = Ann.ivfAssignCol(coded, listMod, listOff)
    val codedLists = corpus.select(col("vec_id"), ac.as("list_id"),
      enc.getField("idxs").as("cidx"))
    val probes = Ann.probeLists(vecs, queryMod, listMod, listOff, nprobe)
    val cand = codedLists.join(broadcast(probes), "list_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("cidx"))
    val qd = subs(vecs.filter(col("vec_id") % queryMod === 0)
        .select(col("vec_id").as("query_id"), col("embedding")), "query_id", m)
      .join(broadcast(cbIdx), "s")
      .select(col("query_id"), col("s"), col("idx"),
        sqDist(col("fxs"), col("cn"), col("ce")).as("qdist"))
      .groupBy("query_id", "s")
      .agg(transform(array_sort(collect_list(struct(col("idx"), col("qdist")))),
        t => t.getField("qdist")).as("dl"))
      .groupBy("query_id")
      .agg(transform(array_sort(collect_list(struct(col("s"), col("dl")))),
        t => t.getField("dl")).as("dtab"))
    val dSum = (0 until m).map(i =>
      element_at(element_at(col("dtab"), i + 1), element_at(col("cidx"), i + 1)))
      .reduce(_ + _)
    val topk = cand
      .join(broadcast(qd), "query_id")
      .select(col("query_id"), (dSum * lit(1L << 28) + col("vec_id")).as("pk"))
      .groupBy("query_id")
      .agg(graft.functions.KMinAgg.kmin(col("pk"), k).as("pks"))
    topk.select(col("query_id"), posexplode(col("pks")).as(Seq("pos", "pk")))
      .select(col("query_id"), (col("pos") + 1).cast(LongType).as("rank"),
        col("pk").bitwiseAND(lit((1L << 28) - 1)).as("neighbor_id"),
        graft.util.D.r(shiftright(col("pk"), 28).cast(DoubleType) / lit(1e8), 6).as("adc_dist"))
      .orderBy("query_id", "rank")
  }

  /** DuckDB mirror of [[adcTopKIvf]] (m fixed at 8 — the registered form). */
  def adcTopKIvfSql(table: String, cbMod: Int, cbOff: Int,
      listMod: Int, listOff: Int, queryMod: Int, nprobe: Int, k: Int): String =
    s"""WITH ${Ann.normSqSql(table)},
       |fbase AS (SELECT e.vec_id, e.embedding, n.nsq
       |  FROM $table e JOIN norms n ON e.vec_id = n.vec_id),
       |fcents AS (SELECT vec_id AS cid, embedding AS ce, nsq AS cn
       |  FROM fbase WHERE vec_id % $listMod = $listOff),
       |fsc AS (SELECT b.vec_id, c.cid,
       |    ${Ann.cosSql(Ann.dotFixSql("c.ce", "b.embedding"), "c.cn", "b.nsq")} AS ccos
       |  FROM fbase b CROSS JOIN fcents c),
       |assign AS (SELECT vec_id, cid AS list_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM fsc) WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cid AS list_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
       |    FROM fsc WHERE vec_id % $queryMod = 0) WHERE rn <= $nprobe),
       |cand AS (SELECT p.query_id, a.vec_id
       |  FROM assign a JOIN probes p ON a.list_id = p.list_id
       |  WHERE a.vec_id <> p.query_id),
       |${pqSqlCtes(table, cbMod, cbOff)},
       |codes AS (SELECT vec_id, s, code FROM best WHERE rn = 1),
       |qd AS (SELECT x.vec_id AS query_id, x.s, c.cid,
       |    ${sqDistSql("x.embedding", "c.cemb")} AS qdist
       |  FROM xs x, cb c WHERE x.vec_id % $queryMod = 0),
       |adc AS (SELECT n.query_id, c.vec_id, SUM(q.qdist) AS d
       |  FROM codes c JOIN cand n ON c.vec_id = n.vec_id
       |  JOIN qd q ON q.query_id = n.query_id AND q.s = c.s AND q.cid = c.code
       |  GROUP BY 1, 2),
       |ranked AS (SELECT query_id, vec_id, d,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, vec_id) AS rank
       |  FROM adc)
       |SELECT query_id, rank, vec_id AS neighbor_id,
       |  ROUND(CAST(d AS DOUBLE) / 100000000.0, 6) AS adc_dist
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** DuckDB mirror of [[adcTopK]] (m fixed at 8 — the registered form). */
  def adcTopKSql(table: String, centMod: Int, centOff: Int,
      queryMod: Int, k: Int): String =
    s"""WITH ${pqSqlCtes(table, centMod, centOff)},
       |codes AS (SELECT vec_id, s, code FROM best WHERE rn = 1),
       |qd AS (SELECT x.vec_id AS query_id, x.s, c.cid,
       |    ${sqDistSql("x.embedding", "c.cemb")} AS qdist
       |  FROM xs x, cb c WHERE x.vec_id % $queryMod = 0),
       |adc AS (SELECT q.query_id, c.vec_id, SUM(q.qdist) AS d
       |  FROM codes c JOIN qd q ON q.s = c.s AND q.cid = c.code
       |  WHERE c.vec_id <> q.query_id GROUP BY 1, 2),
       |ranked AS (SELECT query_id, vec_id, d,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, vec_id) AS rank
       |  FROM adc)
       |SELECT query_id, rank, vec_id AS neighbor_id,
       |  ROUND(CAST(d AS DOUBLE) / 100000000.0, 6) AS adc_dist
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
}
