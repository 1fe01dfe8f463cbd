package graft.operators

import graft.{QDef, QFamily}
import graft.util.D._
import graft.dedup.Dedup
import graft.sim.Ann
import graft.text.TextOps
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LLM-data-pipeline operators (SURVEY.md §2.3–2.6): dedup, similarity
  * search, text analysis, multimodal plumbing — all over the `documents`
  * and `embeddings` tables. */
object Pipeline extends QFamily {

  private val langs = Seq("de", "en", "es", "fr")

  /** Shared n-gram/stopword language-ID projection (one scan, zero
    * shuffles): per doc the per-lang stopword hits, CJK char count, and
    * the predicted lang (zh on any CJK char, first max-hits lang in
    * `langs` order otherwise, unk on zero hits). Used by q_text_langid
    * and the q_langid_confusion eval. */
  private def langidDf(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val cols = Seq(col("doc_id"), col("lang"), size(toks).cast(LongType).as("n_tokens")) ++
      langs.map(l => TextOps.langHitsText(col("text"), l).cast(LongType).as(s"${l}_hits")) :+
      TextOps.cjkCount(col("text")).cast(LongType).as("zh_chars")
    val base = t(s, dir, "documents").select(cols: _*)
    val m = greatest(langs.map(l => col(s"${l}_hits")): _*)
    // CASE semantics: first matching lang in de,en,es,fr order wins
    val pickOrdered = langs.foldLeft(when(lit(false), "x")) {
      (acc, l) => acc.when(col(s"${l}_hits") === m, l)
    }
    base.select(col("doc_id"), col("n_tokens"),
      col("de_hits"), col("en_hits"), col("es_hits"), col("fr_hits"), col("zh_chars"),
      when(col("zh_chars") > 0, "zh").when(m === 0, "unk").otherwise(pickOrdered).as("predicted"),
      col("lang").as("actual"))
      .orderBy("doc_id")
  }

  /** DuckDB mirror of [[langidDf]]. */
  private def langidSqlStr: String = {
    val toks = TextOps.tokensSql("text")
    val hits = langs.map(l => s"${TextOps.langHitsSql(toks, l)} AS ${l}_hits").mkString(",\n  ")
    val m = langs.map(l => s"${l}_hits").mkString("GREATEST(", ", ", ")")
    val pick = langs.map(l => s"WHEN ${l}_hits = $m THEN '$l'").mkString(" ")
    s"""SELECT doc_id, n_tokens, de_hits, en_hits, es_hits, fr_hits, zh_chars,
       |  CASE WHEN zh_chars > 0 THEN 'zh'
       |       WHEN $m = 0 THEN 'unk'
       |       $pick END AS predicted,
       |  lang AS actual
       |FROM (
       |  SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS n_tokens,
       |    $hits,
       |    CAST(${TextOps.cjkCountSql("text")} AS BIGINT) AS zh_chars
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // epochs per source for q_domain_resample: upsampled, repeated,
  // fractionally sampled, and dropped domains all exercised
  private val ResampleWeights = Map(
    "src0" -> 2.5, "src1" -> 0.4, "src2" -> 3.0, "src3" -> 0.0, "src4" -> 1.0)

  // q_bm25 query terms, chosen for spread in document frequency
  private val Bm25Terms = Seq("spark", "vector", "join", "the")

  /** Deterministic synthetic link graph for the pagerank queries
    * (q_pii_scrub convention — no link column in the corpus, so both
    * engines derive the same edges from doc_id): node v emits
    * 1 + v%3 edges to (7v + 13i + 1) mod N, semi-joined to existing
    * ids so a non-contiguous id space just drops the missing targets
    * (documented mass-evaporation contract). N = max id + 1 is ONE
    * bounded long collected once (the qcut convention). */
  private def pagerankIters(s: org.apache.spark.sql.SparkSession, dir: String,
      iters: Int): org.apache.spark.sql.DataFrame = {
    // the edge table is materialized once inside
    // Rank.pagerankIterations, so the node scan needs no checkpoint of
    // its own: it is read by the max-id collect, the edge checkpoint and
    // each iteration's left join
    val ids = t(s, dir, "documents").select(col("doc_id").as("node_id"))
    val n = ids.agg(max(col("node_id"))).head().getLong(0) + 1
    val eraw = ids
      .select(col("node_id").as("src"),
        explode(sequence(lit(0L), pmod(col("node_id"), lit(3L)))).as("i"))
      .select(col("src"), pmod(col("src") * 7 + col("i") * 13 + 1, lit(n)).as("dst"))
    val edges = eraw.join(ids.select(col("node_id").as("dst")), Seq("dst"), "left_semi")
    graft.graph.Rank.pagerankIterations(ids, edges, iters)
      .select(col("node_id").as("doc_id"), col("n_in"), col("mass"))
      .orderBy("doc_id")
  }

  private def pagerankSql(iters: Int): String =
    s"""WITH ids AS (SELECT doc_id AS node_id FROM documents),
       |nn AS (SELECT MAX(node_id) + 1 AS n FROM ids),
       |eraw AS (SELECT d0.node_id AS src, (d0.node_id * 7 + t.i * 13 + 1) % nn.n AS dst
       |  FROM ids d0, nn, (SELECT UNNEST([0, 1, 2]) AS i) t
       |  WHERE t.i <= d0.node_id % 3),
       |edges AS (SELECT e.src, e.dst FROM eraw e JOIN ids d ON e.dst = d.node_id),
       |${graft.graph.Rank.pagerankIterationsSql(iters)}
       |SELECT node_id AS doc_id, n_in, mass FROM pr_final ORDER BY doc_id""".stripMargin

  val defs: Seq[QDef] = Seq(

    // ------------------------------------------------------- dedup -----
    QDef("q_dedup_exact",
      Some("""SELECT fingerprint, n_docs, keep_doc_id FROM (
             |  SELECT md5(text) AS fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
             |  FROM documents GROUP BY 1) ORDER BY fingerprint""".stripMargin),
      (s, dir) => Dedup.exactGroups(t(s, dir, "documents"),
        md5(col("text").cast(BinaryType)))),

    QDef("q_dedup_norm",
      Some(s"""SELECT fingerprint, n_docs, keep_doc_id FROM (
              |  SELECT md5(${Dedup.normTextSql("text")}) AS fingerprint,
              |    COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
              |  FROM documents GROUP BY 1) ORDER BY fingerprint""".stripMargin),
      (s, dir) => Dedup.exactGroups(t(s, dir, "documents"),
        md5(Dedup.normText(col("text")).cast(BinaryType)))),

    QDef("q_minhash_sig",
      Some(s"""WITH ${Dedup.minhashSigSql("documents")}
              |SELECT * FROM sig ORDER BY doc_id""".stripMargin),
      (s, dir) => Dedup.minhashSig(t(s, dir, "documents")).orderBy("doc_id")),

    QDef("q_dedup_minhash",
      Some(Dedup.minhashPairsSql("documents")),
      (s, dir) => Dedup.minhashPairs(t(s, dir, "documents"))),

    // banding S-curve diagnostic: candidate-pair histogram by estimated
    // Jaccard — says whether the 8x2 banding wastes verification below
    // the threshold or risks recall above it
    // LSH estimator accuracy audit: confusion matrix + mean estimator
    // error of the 16-position estimate vs the exact full-set Jaccard,
    // evaluated on the banding-bounded candidate pairs only
    QDef("q_minhash_accuracy",
      Some(Dedup.minhashAccuracySql("documents")),
      (s, dir) => Dedup.minhashAccuracy(t(s, dir, "documents"))),

    QDef("q_minhash_curve",
      Some(Dedup.minhashCurveSql("documents")),
      (s, dir) => Dedup.minhashCurve(t(s, dir, "documents"))),

    // continuous-ingest shape: an arriving batch (doc_id % 3 = 0) is
    // near-dedup-matched against the persisted signature STORE of the
    // rest of the corpus — the historical text is never re-shingled
    QDef("q_dedup_incremental",
      Some(Dedup.minhashPairsAgainstSql(
        "(SELECT * FROM documents WHERE doc_id % 3 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 3 <> 0)")),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.minhashPairsAgainst(
          docs.filter(pmod(col("doc_id"), lit(3)) === 0),
          Dedup.minhashSig(docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)))
      }),

    QDef("q_dedup_simhash",
      Some(Dedup.simhashPairsSql("documents")),
      (s, dir) => Dedup.simhashPairs(t(s, dir, "documents"))),

    // cache=true is self-cleaning: ngramJaccard unpersists its internal
    // shingle-array cache right after the caller's action completes
    QDef("q_dedup_ngram",
      Some(Dedup.ngramJaccardSql("documents", "source", 0.02)),
      (s, dir) => Dedup.ngramJaccard(t(s, dir, "documents"), "source", 0.02,
        cache = true)),

    // line-level dedup over deterministically line-ified text (the
    // synthetic corpus is single-line, so both engines break it into
    // 12-token lines and inject the same doc_id-derived boilerplate
    // header/footer lines — the shared lines every real corpus has)
    QDef("q_dedup_lines", {
      val aug = "CASE WHEN doc_id % 7 = 0 THEN 'cookie policy applies to this site' || chr(10) ELSE '' END" +
        " || regexp_replace(text, '((\\S+ ){12})', '\\1' || chr(10), 'g')" +
        " || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'subscribe to our newsletter today' ELSE '' END"
      Some(Dedup.lineDedupSql(s"(SELECT doc_id, $aug AS text FROM documents)"))
    }, (s, dir) => {
      val aug = concat(
        when(pmod(col("doc_id"), lit(7)) === 0,
          lit("cookie policy applies to this site\n")).otherwise(lit("")),
        regexp_replace(col("text"), "((\\S+ ){12})", "$1\n"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit("\nsubscribe to our newsletter today")).otherwise(lit("")))
      Dedup.lineDedup(t(s, dir, "documents").withColumn("text", aug))
    }),

    // corpus-duplication profile: per-doc fraction of shingles the
    // corpus already has elsewhere (Lee et al. 2022 §4 measurement)
    QDef("q_dup_shingle_frac",
      Some(Dedup.dupShingleFracSql("documents")),
      (s, dir) => Dedup.dupShingleFrac(t(s, dir, "documents"))),

    QDef("q_dedup_substr",
      Some(Dedup.substrSpansSql("documents")),
      (s, dir) => Dedup.substrSpans(t(s, dir, "documents"))),

    // the published EXACTSUBSTR threshold (Lee et al. 2022 ship the
    // pass at 50 tokens): same operator at winLen=50, where the span
    // coverage IS the paper's guarantee exactly — every duplicated
    // substring of >= 50 tokens, nothing shorter
    QDef("q_dedup_substr50",
      Some(Dedup.substrSpansSql("documents", winLen = 50)),
      (s, dir) => Dedup.substrSpans(t(s, dir, "documents"), winLen = 50)),

    // the EXACTSUBSTR pass as a TRANSFORM: cut every token covered by a
    // duplicated >=50-token substring (the remove-all-occurrences
    // policy of the paper's released tooling) and emit the cleaned text
    QDef("q_dedup_substr_cut",
      Some(Dedup.substrCutSql("documents", winLen = 50)),
      (s, dir) => Dedup.substrCut(t(s, dir, "documents"), winLen = 50)),

    // the remaining published Gopher repetition measurements (top
    // n-gram fraction n=2..4, duplicated n-gram coverage n=5,10) —
    // q_text_repetition carries the top-token/dup-bigram members
    QDef("q_repetition_ngram",
      Some(graft.text.Corpus.ngramRepetitionSql("documents")),
      (s, dir) => graft.text.Corpus.ngramRepetition(t(s, dir, "documents"))),

    // snapshot diff between two corpus versions (the incremental-ingest
    // table diff); versions derived doc_id-deterministically in both
    // engines (q_pii_scrub convention): v1 drops doc_id%11=0, v2 drops
    // doc_id%13=0 and edits doc_id%7=0 (so added/removed/changed/
    // unchanged are all populated)
    QDef("q_corpus_diff",
      Some(graft.text.Corpus.snapshotDiffSql(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 0)",
        """(SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
          |   FROM documents WHERE doc_id % 13 <> 0)""".stripMargin)),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val v1 = docs.filter(col("doc_id") % 11 =!= 0).select("doc_id", "text")
        val v2 = docs.filter(col("doc_id") % 13 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
              .otherwise(col("text")).as("text"))
        graft.text.Corpus.snapshotDiff(v1, v2)
      }),

    // exact label-block pair enumeration (the reference's semantics);
    // label blocks are unbounded, so at corpus scale opt into LSH
    // sub-blocking (bits = Ann.SubBlockBits) or use the IVF/LSH
    // content-blocked variants below
    QDef("q_dedup_embedding",
      Some(Ann.embeddingPairsSql("embeddings", 0.3)),
      (s, dir) => Ann.embeddingPairs(t(s, dir, "embeddings"), 0.3)),

    // scale path: IVF-list blocking instead of unbounded label blocks
    QDef("q_dedup_embedding_ivf",
      Some(Ann.embeddingPairsIvfSql("embeddings", 0.3, 25, 7)),
      (s, dir) => Ann.embeddingPairsIvf(t(s, dir, "embeddings"), 0.3, 25, 7)),

    // alternative scale path: hyperplane-LSH buckets — scan-local (no
    // centroid table), fixed 2^bits bucket count
    QDef("q_dedup_embedding_lsh",
      Some(Ann.lshPairsSql("embeddings", 0.3)),
      (s, dir) => Ann.lshPairs(t(s, dir, "embeddings"), 0.3)),

    // SemDeDup (Abbas et al. 2023): cluster-then-prune semantic dedup —
    // per-vector keep/drop decision, keeping the least-centroid-similar
    // member of each within-cluster duplicate group
    QDef("q_semdedup",
      Some(Ann.semDedupSql("embeddings", 0.4, 25, 7)),
      (s, dir) => Ann.semDedup(t(s, dir, "embeddings"), 0.4, 25, 7)),

    // -------------------------------------------- similarity search ----
    QDef("q_ann_topk",
      Some(Ann.bruteTopKSql("embeddings", 40, 5)),
      (s, dir) => Ann.bruteTopK(t(s, dir, "embeddings"), 40, 5)),

    QDef("q_ann_ivf",
      Some(Ann.ivfTopKSql("embeddings", 40, 25, 7, 3, 5)),
      (s, dir) => Ann.ivfTopK(t(s, dir, "embeddings"), 40, 25, 7, 3, 5)),

    // native codegen'd cosine throughput path; the checked form re-projects
    // the surviving top-k rows through the exact fixed-point cosine, so it
    // shares q_ann_topk's oracle bit-for-bit (see Ann.fastTopKChecked)
    QDef("q_ann_fast",
      Some(Ann.bruteTopKSql("embeddings", 40, 5)),
      (s, dir) => Ann.fastTopKChecked(t(s, dir, "embeddings"), 40, 5)),

    // contrastive hard-negative mining: top-3 most-similar DIFFERENT-
    // label vectors per anchor (the DPR/SimCSE training-data step)
    QDef("q_hard_negatives",
      Some(Ann.hardNegativesSql("embeddings", 40, 3)),
      (s, dir) => Ann.hardNegatives(t(s, dir, "embeddings"), 40, 3)),

    // sub-quadratic hard negatives: anchors probe their nprobe nearest
    // IVF lists, only different-label members of those lists are scored
    // (the 100 TB path, oracled end-to-end)
    QDef("q_hard_negatives_ivf",
      Some(Ann.hardNegativesIvfSql("embeddings", 40, 25, 7, 3, 3)),
      (s, dir) => Ann.hardNegativesIvf(t(s, dir, "embeddings"), 40, 25, 7, 3, 3)),

    // per-label embedding centroid/cohesion profile — the drift monitor
    // run per corpus slice; exact fixed-point means re-quantized before
    // scoring (kmeansIter convention), two one-shuffle corpus scans
    QDef("q_embed_drift",
      Some(Ann.labelProfileSql("embeddings")),
      (s, dir) => Ann.labelProfile(t(s, dir, "embeddings"))),

    // embedding-norm QA histogram: the unnormalized/near-zero-vector
    // detector run before trusting cosine retrieval; ≤ 31 output rows
    QDef("q_embed_norm_qa",
      Some(Ann.normQaSql("embeddings")),
      (s, dir) => Ann.normQa(t(s, dir, "embeddings"))),

    // per-dimension component profile: the dead/collapsed-dimension
    // detector (all-integer aggregation, dims output rows)
    QDef("q_embed_dims",
      Some(Ann.dimProfileSql("embeddings")),
      (s, dir) => Ann.dimProfile(t(s, dir, "embeddings"))),

    // IVF recall@k vs the exact top-k — the nprobe-tuning diagnostic;
    // joins the two registered retrieval forms' Q x k outputs only
    QDef("q_ann_recall",
      Some(Ann.ivfRecallSql("embeddings", 40, 25, 7, 3, 5)),
      (s, dir) => Ann.ivfRecall(t(s, dir, "embeddings"), 40, 25, 7, 3, 5)),

    // the recall-vs-cost CURVE over nprobe ∈ {1,2,4,8,16} — the table a
    // deployment tunes from; one corpus scoring pass at depth 16 serves
    // all five points (see Ann.nprobeCurve)
    QDef("q_ann_nprobe_curve",
      Some(Ann.nprobeCurveSql("embeddings", 40, 25, 7, Seq(1, 2, 4, 8, 16), 5)),
      (s, dir) => Ann.nprobeCurve(t(s, dir, "embeddings"), 40, 25, 7, Seq(1, 2, 4, 8, 16), 5)),

    // two-stage serving path: int8-quantized coarse scan (integer
    // ranking, 4x-smaller codes) -> exact re-rank of Q x 20 candidates
    QDef("q_ann_refine",
      Some(graft.sim.Refine.twoStageTopKSql("embeddings", 40, 20, 5)),
      (s, dir) => graft.sim.Refine.twoStageTopK(t(s, dir, "embeddings"), 40, 20, 5)),

    // ------------------------------------------------ text analysis ----
    QDef("q_text_langid", Some(langidSqlStr), (s, dir) => langidDf(s, dir)),

    // language-ID eval: the (actual, predicted) confusion matrix over
    // the langid heuristic's output — the accuracy diagnostic run before
    // trusting per-lang corpus slices downstream; bounded cell table
    // tokenizer fertility by predicted language: tokens per 100 chars
    // per langid bucket — the per-language tokenizer-efficiency table
    // that decides whether a vocab under-serves a language slice.
    // Integer-exact sums; one corpus scan feeding langid + char counts
    QDef("q_tok_fertility",
      Some(s"""WITH li AS ($langidSqlStr)
              |SELECT li.predicted AS lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(li.n_tokens) AS BIGINT) AS tot_tokens,
              |  CAST(SUM(d.n_chars) AS BIGINT) AS tot_chars,
              |  ROUND(CAST(SUM(li.n_tokens) AS DOUBLE) / CAST(SUM(d.n_chars) AS DOUBLE) * 100, 6) AS tokens_per_100_chars
              |FROM li JOIN documents d ON li.doc_id = d.doc_id
              |GROUP BY 1 ORDER BY lang""".stripMargin),
      (s, dir) => {
        langidDf(s, dir).select(col("doc_id"), col("n_tokens"), col("predicted"))
          .join(t(s, dir, "documents").select("doc_id", "n_chars"), "doc_id")
          .groupBy(col("predicted").as("lang"))
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tot_tokens"),
            sum("n_chars").as("tot_chars"),
            graft.util.D.r(sum("n_tokens").cast(DoubleType)
              / sum("n_chars").cast(DoubleType) * 100, 6).as("tokens_per_100_chars"))
          .orderBy("lang")
      }),

    QDef("q_langid_confusion",
      Some(s"""WITH li AS ($langidSqlStr)
              |SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n,
              |  ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (PARTITION BY actual), 6) AS frac
              |FROM li GROUP BY actual, predicted
              |ORDER BY actual, predicted""".stripMargin),
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("actual")
        langidDf(s, dir).groupBy("actual", "predicted")
          .agg(count(lit(1)).as("n"))
          .select(col("actual"), col("predicted"), col("n"),
            graft.util.D.r(col("n").cast(DoubleType) /
              sum(col("n")).over(w).cast(DoubleType), 6).as("frac"))
          .orderBy("actual", "predicted")
      }),

    QDef("q_text_quality", {
      val toks = TextOps.tokensSql("text")
      // length() on both sides = CHARACTER counts (Spark length ==
      // DuckDB length); strlen would be bytes and diverge on
      // multi-byte text
      Some(s"""SELECT doc_id, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
              |  ROUND(0.3 * LEAST(n_tokens / 100.0, 1.0) + 0.4 * (1.0 - punct_ratio)
              |        + 0.3 * LEAST(stopword_ratio * 5.0, 1.0), 6) AS quality
              |FROM (
              |  SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens,
              |    ROUND((length(text) - len($toks) + 1.0) / len($toks), 6) AS avg_token_len,
              |    ROUND(CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text), 6) AS punct_ratio,
              |    ROUND(CAST(${TextOps.langHitsSql(toks, "en")} AS DOUBLE) / len($toks), 6) AS stopword_ratio
              |  FROM documents)
              |ORDER BY doc_id""".stripMargin)
    }, (s, dir) => {
      val toks = TextOps.tokens(col("text"))
      val nTok = size(toks)
      t(s, dir, "documents").select(
          col("doc_id"), nTok.cast(LongType).as("n_tokens"),
          graft.util.D.r((length(col("text")) - nTok + lit(1.0)) / nTok, 6).as("avg_token_len"),
          // length guard: zero-length text must yield NULL (DuckDB's
          // x/0), not an ANSI DIVIDE_BY_ZERO crash — empty-text docs
          // reach this only on dirty fixtures whose doc_id hashes land
          // in the empty-text slice (the combo audit's catch: the r8
          // dirty fixture had NONE by hash luck)
          graft.util.D.r(when(length(col("text")) > 0,
            graft.functions.StrippedCount(col("text"))
              .cast(DoubleType) / length(col("text"))), 6).as("punct_ratio"),
          graft.util.D.r(TextOps.langHitsText(col("text"), "en").cast(DoubleType) / nTok, 6).as("stopword_ratio"))
        .withColumn("quality",
          graft.util.D.r(lit(0.3) * least(col("n_tokens") / 100.0, lit(1.0)) +
            lit(0.4) * (lit(1.0) - col("punct_ratio")) +
            lit(0.3) * least(col("stopword_ratio") * 5.0, lit(1.0)), 6))
        .orderBy("doc_id")
    }),

    QDef("q_text_tokens",
      Some(s"""SELECT lang, source, COUNT(*) AS n_docs,
              |  CAST(SUM(len(${TextOps.tokensSql("text")})) AS BIGINT) AS ws_tokens,
              |  CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]'))) AS BIGINT) AS re_tokens,
              |  ROUND(CAST(SUM(len(${TextOps.tokensSql("text")})) AS DOUBLE) / COUNT(*), 6) AS avg_tokens
              |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text")))).cast(LongType).as("ws_tokens"),
          sum(regexp_count(col("text"), lit("[a-z]+|[0-9]"))).cast(LongType).as("re_tokens"),
          graft.util.D.r(sum(size(TextOps.tokens(col("text")))).cast(DoubleType) / count(lit(1)), 6).as("avg_tokens"))
        .orderBy("lang", "source")),

    QDef("q_text_fingerprint",
      Some(s"""SELECT fingerprint, n_docs, min_doc_id FROM (
              |  SELECT ${TextOps.bagFingerprintSql("text")} AS fingerprint,
              |    COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
              |  FROM documents GROUP BY 1) ORDER BY fingerprint""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .groupBy(TextOps.bagFingerprint(col("text")).as("fingerprint"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))
        .orderBy("fingerprint")),

    // corpus-level contamination check (train/test overlap): estimated
    // shingle-set Jaccard between SOURCES via KMV union sketches — the
    // k smallest DISTINCT hashes per source are deterministic, so the
    // estimate hash-matches the oracle. Spark side: ONE scan feeding a
    // bounded-state k-min TypedImperativeAggregate (functions.KMinAgg —
    // k longs per source, map-side combined, dedup inherent in the
    // sorted-set buffer): no distinct() pre-shuffle and no row_number()
    // sort of the corpus's distinct hash set (the round-2 scale-killer).
    // The per-pair union/intersection math then runs on the tiny
    // (source, sketch) table with plain array functions. Estimator
    // divides by |k-min(A∪B)| = LEAST(k, |A∪B|), not constant k, so
    // sources with < k distinct shingles are not deflated.
    // KMV sketch MERGEABILITY — the lakehouse rollup pattern: per-source
    // vocabulary sketches (k longs each) merge into the global estimate
    // WITHOUT rescanning the corpus. The k smallest of the union of
    // per-group k-smallest IS the k smallest of the union, so the merged
    // estimate is bit-identical to a direct global sketch — the __ALL__
    // row is computed from the per-source sketch table alone (k longs ×
    // n_sources), which is how pre-aggregated sketch columns roll up
    // across partitions/days/tenants at 100 TB.
    QDef("q_kmv_merge", {
      val k = 256
      Some(s"""WITH hh AS (SELECT DISTINCT source,
              |    ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
              |  FROM (SELECT source, unnest(${TextOps.shinglesSql("text")}) AS sh FROM documents)),
              |r AS (SELECT source, h,
              |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn FROM hh),
              |per AS (SELECT source, COUNT(*) AS nd_exact,
              |    MAX(CASE WHEN rn = $k THEN h END) AS kth FROM r GROUP BY 1),
              |mr AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
              |  FROM (SELECT DISTINCT h FROM r WHERE rn <= $k)),
              |g AS (SELECT COUNT(DISTINCT h) AS nd_exact FROM hh),
              |allrow AS (SELECT '__ALL__' AS source, g.nd_exact,
              |    (SELECT MAX(CASE WHEN rn = $k THEN h END) FROM mr) AS kth FROM g)
              |SELECT source, nd_exact,
              |  CAST(CASE WHEN nd_exact >= $k AND kth IS NOT NULL
              |       THEN CAST(ROUND(${(k - 1).toDouble} * 1152921504606846976.0 / kth) AS BIGINT)
              |       ELSE nd_exact END AS BIGINT) AS nd_est
              |FROM (SELECT * FROM per UNION ALL SELECT * FROM allrow)
              |ORDER BY source""".stripMargin)
    }, { (s, dir) =>
      val k = 256
      def est(exact: org.apache.spark.sql.Column,
              hs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(exact >= k && get(hs, lit(k - 1)).isNotNull,
          round(lit((k - 1).toDouble) * lit(1152921504606846976.0) / get(hs, lit(k - 1)), 0)
            .cast("long"))
          .otherwise(exact).cast("long")
      val h = t(s, dir, "documents")
        .select(col("source"), explode(TextOps.shingleHashes(col("text"))).as("h"))
      val per = h.groupBy("source")
        .agg(countDistinct(col("h")).as("nd_exact"),
          graft.functions.KMinAgg.kmin(col("h"), k).as("hs"))
      val perOut = per.select(col("source"), col("nd_exact"),
        est(col("nd_exact"), col("hs")).as("nd_est"))
      // the merge: k-min over the per-source sketches only — the corpus
      // is NOT rescanned for the sketch side (only the exact control
      // count below touches it again)
      val merged = per.select(explode(col("hs")).as("h"))
        .agg(graft.functions.KMinAgg.kmin(col("h"), k).as("hs"))
      val globalExact = h.agg(countDistinct(col("h")).as("nd_exact"))
      val allRow = globalExact.crossJoin(merged)
        .select(lit("__ALL__").as("source"), col("nd_exact"),
          est(col("nd_exact"), col("hs")).as("nd_est"))
      perOut.unionByName(allRow).orderBy("source")
    }),

    QDef("q_corpus_jaccard", {
      val k = 128
      Some(s"""WITH h AS (SELECT DISTINCT source,
              |    ('0x' || substr(md5(sh0), 1, 15))::BIGINT AS h
              |  FROM (SELECT source, unnest(${TextOps.shinglesSql("text")}) AS sh0 FROM documents)),
              |sk AS (SELECT source, h FROM (
              |    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn FROM h)
              |  WHERE rn <= $k),
              |prs AS (SELECT a.source AS src_a, b.source AS src_b
              |  FROM (SELECT DISTINCT source FROM sk) a
              |  JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
              |u AS (SELECT p.src_a, p.src_b, s.h,
              |    MAX(CASE WHEN s.source = p.src_a THEN 1 ELSE 0 END) AS in_a,
              |    MAX(CASE WHEN s.source = p.src_b THEN 1 ELSE 0 END) AS in_b
              |  FROM prs p JOIN sk s ON s.source IN (p.src_a, p.src_b)
              |  GROUP BY 1, 2, 3),
              |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn FROM u)
              |SELECT src_a, src_b,
              |  CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
              |  ROUND(CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS jaccard_est
              |FROM r WHERE rn <= $k GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin)
    }, (s, dir) => {
      val k = 128
      val h = t(s, dir, "documents")
        .select(col("source"), explode(TextOps.shingleHashes(col("text"))).as("h"))
      val sk = h.groupBy("source").agg(graft.functions.KMinAgg.kmin(col("h"), k).as("hs"))
      // sketches are KB-sized (one row per source): gather them into one
      // row and explode both pair sides from it, so the corpus scan runs
      // exactly once with NO self-join subplan reuse and NO persist
      val prs = sk.agg(collect_list(struct(col("source"), col("hs"))).as("all"))
        .select(explode(col("all")).as("a"), col("all"))
        .select(col("a.source").as("src_a"), col("a.hs").as("ha"), explode(col("all")).as("b"))
        .filter(col("src_a") < col("b.source"))
        .select(col("src_a"), col("b.source").as("src_b"), col("ha"), col("b.hs").as("hb"))
      val un = slice(array_sort(array_distinct(concat(col("ha"), col("hb")))), 1, k)
      prs.select(col("src_a"), col("src_b"),
          size(array_intersect(un, array_intersect(col("ha"), col("hb")))).cast(LongType).as("n_shared"),
          size(un).as("n_union"))
        .select(col("src_a"), col("src_b"), col("n_shared"),
          graft.util.D.r(col("n_shared").cast(DoubleType) / col("n_union"), 6).as("jaccard_est"))
        .orderBy("src_a", "src_b")
    }),

    // content-defined chunking: duplicated passages surface as shared
    // chunk hashes regardless of their offset in the document
    QDef("q_text_cdc",
      Some(graft.text.Cdc.dupChunksSql("documents")),
      (s, dir) => graft.text.Cdc.dupChunks(s, t(s, dir, "documents"))),

    // end-to-end corpus prep: quality-filter -> exact-dedup keeps ->
    // per-language token totals (the composition a real pipeline runs)
    QDef("q_pipeline_e2e", {
      val toks = TextOps.tokensSql("text")
      Some(s"""WITH scored AS (
              |  SELECT doc_id, lang, text,
              |    ROUND(0.3 * LEAST(CAST(len($toks) AS BIGINT) / 100.0, 1.0)
              |      + 0.4 * (1.0 - ROUND(CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text), 6))
              |      + 0.3 * LEAST(ROUND(CAST(${TextOps.langHitsSql(toks, "en")} AS DOUBLE) / len($toks), 6) * 5.0, 1.0), 6) AS quality
              |  FROM documents),
              |kept AS (SELECT * FROM scored WHERE quality >= 0.5),
              |dedup AS (SELECT MIN(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
              |    arg_min(text, doc_id) AS text
              |  FROM kept GROUP BY md5(text))
              |SELECT lang, COUNT(*) AS n_docs,
              |  CAST(SUM(len($toks)) AS BIGINT) AS total_tokens,
              |  CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
              |FROM dedup GROUP BY lang ORDER BY lang""".stripMargin)
    }, (s, dir) => {
      val toks = TextOps.tokens(col("text"))
      val nTok = size(toks)
      val scored = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"),
        graft.util.D.r(lit(0.3) * least(nTok.cast(LongType) / 100.0, lit(1.0)) +
          // same zero-length guard as q_text_quality's punct_ratio:
          // NULL quality (dropped by the >= 0.5 keep filter, as in
          // DuckDB) instead of an ANSI DIVIDE_BY_ZERO crash
          lit(0.4) * (lit(1.0) - graft.util.D.r(when(length(col("text")) > 0,
            graft.functions.StrippedCount(col("text"))
              .cast(DoubleType) / length(col("text"))), 6)) +
          lit(0.3) * least(graft.util.D.r(TextOps.langHitsText(col("text"), "en").cast(DoubleType) / nTok, 6) * 5.0, lit(1.0)), 6)
          .as("quality"))
      val kept = scored.filter(col("quality") >= 0.5)
      // min_by keeps the min-doc_id survivor's payload deterministically
      val dedup = kept.groupBy(md5(col("text").cast(BinaryType)).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("lang"), col("doc_id")).as("lang"),
          min_by(col("text"), col("doc_id")).as("text"))
      dedup.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text")))).cast(LongType).as("total_tokens"),
          min(col("doc_id")).cast(LongType).as("min_doc_id"))
        .orderBy("lang")
    }),

    // benchmark decontamination: flag training docs sharing any word
    // 3-gram with a held-out eval slice (doc_id % 97 == 0 stands in for
    // the benchmark set). Per-row array_distinct dedups shingles BEFORE
    // exploding (no global distinct shuffle of the shingle stream); the
    // eval shingle set is tiny and AQE broadcasts it, so the corpus side
    // never shuffles for the join — at 100 TB this is one scan + one
    // broadcast-semi-join + one groupBy(doc_id) of only the HIT rows.
    QDef("q_decontaminate", {
      val sh = TextOps.shinglesSql("text")
      Some(s"""WITH ev AS (SELECT DISTINCT sh FROM (
              |    SELECT unnest(list_distinct($sh)) AS sh FROM documents WHERE doc_id % 97 = 0)),
              |tr AS (SELECT doc_id, source, unnest(list_distinct($sh)) AS sh
              |  FROM documents WHERE doc_id % 97 <> 0)
              |SELECT tr.doc_id, tr.source, CAST(COUNT(*) AS BIGINT) AS n_shared
              |FROM tr JOIN ev ON tr.sh = ev.sh
              |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin)
    }, (s, dir) => graft.text.Corpus.decontaminate(t(s, dir, "documents"),
      pmod(col("doc_id"), lit(97)) === 0).orderBy("doc_id")),

    // the boolean form of decontamination (Corpus.contaminated): WHICH
    // docs overlap the eval slice, not how much. On this batch input it
    // plans the narrow explode + LEFT SEMI + id-join-back; the SAME
    // operator on a stream plans the stateless arrays_overlap form
    // (StreamingSpec asserts the two agree)
    QDef("q_contaminated", {
      val sh = TextOps.shinglesSql("text")
      Some(s"""WITH ev AS (SELECT DISTINCT sh FROM (
              |    SELECT unnest(list_distinct($sh)) AS sh FROM documents WHERE doc_id % 97 = 0)),
              |tr AS (SELECT doc_id, source, unnest(list_distinct($sh)) AS sh
              |  FROM documents WHERE doc_id % 97 <> 0)
              |SELECT DISTINCT tr.doc_id, tr.source
              |FROM tr JOIN ev ON tr.sh = ev.sh
              |ORDER BY doc_id""".stripMargin)
    }, (s, dir) => {
      val d = t(s, dir, "documents")
      graft.text.Corpus.contaminated(
          d.filter(pmod(col("doc_id"), lit(97)) =!= 0),
          graft.text.Corpus.evalShingleSet(d.filter(pmod(col("doc_id"), lit(97)) === 0)))
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // Bloom-filter decontamination — the LARGE-eval-set scale form of
    // q_contaminated: the eval shingle set folds into a fixed 16 KB
    // bitmap (broadcast at any eval size), the corpus test is
    // scan-local long arithmetic, and only Bloom-HIT rows reach the
    // exact-verification join (is_fp quantifies the false positives)
    QDef("q_bloom_decon",
      Some(graft.text.Bloom.reportSql("documents")),
      (s, dir) => graft.text.Bloom.report(t(s, dir, "documents"),
        pmod(col("doc_id"), lit(97)) === 0)),

    // Gopher-style repetition stats: entirely scan-local (array
    // functions, no explode/shuffle — each doc's stats come from its own
    // token array, so the operator is embarrassingly parallel at any
    // scale). top_token_frac is O(tokens × distinct) per row — fine for
    // document-sized arrays, stays inside whole-stage codegen.
    QDef("q_text_repetition", {
      val w = "string_split(text, ' ')"
      val big = s"list_transform(range(1, len($w)), i -> $w[i] || ' ' || $w[i+1])"
      Some(s"""SELECT doc_id, n_tokens, n_distinct, top_token_frac, dup_bigram_frac,
              |  CAST(CASE WHEN top_token_frac > 0.2 OR dup_bigram_frac > 0.2
              |       THEN 1 ELSE 0 END AS INT) AS flagged
              |FROM (
              |  SELECT doc_id, CAST(len($w) AS BIGINT) AS n_tokens,
              |    CAST(len(list_distinct($w)) AS BIGINT) AS n_distinct,
              |    ROUND(CAST(list_max(list_transform(list_distinct($w),
              |        t -> len(list_filter($w, x -> x = t)))) AS DOUBLE) / len($w), 6) AS top_token_frac,
              |    ROUND(CASE WHEN len($w) >= 2
              |      THEN CAST(len($big) - len(list_distinct($big)) AS DOUBLE) / len($big)
              |      ELSE 0.0 END, 6) AS dup_bigram_frac
              |  FROM documents)
              |ORDER BY doc_id""".stripMargin)
    }, (s, dir) => graft.text.Corpus.repetitionStats(t(s, dir, "documents")).orderBy("doc_id")),

    // domain/language mixing for a training run: given a per-language
    // token budget, derive sampling rates from the actual totals and take
    // a deterministic hash sample at that rate. The rate table is
    // lang-cardinality-sized (broadcast joins back); the corpus side is
    // two scans with map-side-combined aggs — no corpus shuffle at all.
    QDef("q_domain_mix", {
      val budget = "2000.0"
      val ntok = s"CAST(len(string_split(text, ' ')) AS BIGINT)"
      val hfrac = graft.text.Corpus.hashFracSql("doc_id")
      Some(s"""WITH d AS (SELECT doc_id, lang, $ntok AS ntok, $hfrac AS hfrac FROM documents),
              |tot AS (SELECT lang, CAST(SUM(ntok) AS BIGINT) AS total_tokens,
              |    ROUND(LEAST(1.0, $budget / CAST(SUM(ntok) AS DOUBLE)), 6) AS rate
              |  FROM d GROUP BY lang),
              |kept AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
              |    CAST(SUM(d.ntok) AS BIGINT) AS kept_tokens
              |  FROM d JOIN tot ON d.lang = tot.lang WHERE d.hfrac < tot.rate
              |  GROUP BY d.lang)
              |SELECT tot.lang, total_tokens, rate,
              |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
              |  CAST(COALESCE(kept_tokens, 0) AS BIGINT) AS kept_tokens
              |FROM tot LEFT JOIN kept ON tot.lang = kept.lang
              |ORDER BY tot.lang""".stripMargin)
    }, (s, dir) => graft.text.Corpus.domainMix(t(s, dir, "documents"), 2000.0)),

    // duplicate-cluster resolution: pair lists are transitive in intent,
    // so the dedup unit is the connected component of the pair graph —
    // min-label propagation on the Spark side, transitive-closure
    // recursive CTE on the oracle side (identical fixpoint)
    QDef("q_dup_clusters",
      Some(graft.dedup.Cluster.minhashClustersSql("documents", 0.3)),
      (s, dir) => graft.dedup.Cluster.minhashClusters(t(s, dir, "documents"), 0.3)),

    // dedup savings report: per cluster size, clusters / docs /
    // removable (docs - survivors) — the corpus-shrink number the
    // near-dedup pass is paid for; KB agg over the cluster table
    QDef("q_dup_cluster_stats",
      Some(graft.dedup.Cluster.clusterStatsSql("documents", 0.3)),
      (s, dir) => graft.dedup.Cluster.clusterStats(t(s, dir, "documents"), 0.3)),

    // canonical-survivor selection: per duplicate cluster keep the
    // LONGEST member (ties -> smallest doc_id) via the hash-aggregable
    // native argmax — the content-preserving rule where min-id
    // survivorship would discard the fullest copy
    QDef("q_dedup_cluster_keep",
      Some(graft.dedup.Cluster.clusterKeepLongestSql("documents", 0.3)),
      (s, dir) => graft.dedup.Cluster.clusterKeepLongest(t(s, dir, "documents"), 0.3)),

    // link-graph authority (PageRank mass): the crawl-quality ranking
    // signal — one power iteration over a doc_id-deterministic link
    // graph (the corpus has no link column, so both engines synthesize
    // edges identically: outdeg = 1 + id%3, dst = (7·id + 13·i + 1)
    // mod N semi-joined to existing ids — the q_pii_scrub convention)
    QDef("q_pagerank_step",
      Some(pagerankSql(1)),
      (s, dir) => pagerankIters(s, dir, 1)),

    // the loop the single step hands off to, oracled at two chained
    // iterations as ONE lazy plan;
    // Rank.pagerankFit is the tol-stopped library loop (spec-pinned)
    QDef("q_pagerank_2iter",
      Some(pagerankSql(2)),
      (s, dir) => pagerankIters(s, dir, 2)),

    // published Gopher quality-rule set (Rae et al. 2021 Appendix A);
    // minStopHits=1 because the synthetic word-soup corpus has depressed
    // function-word density (the paper's 2 flags every document) — the
    // thresholds are the operator's parameters, not constants
    QDef("q_quality_gopher",
      Some(graft.text.Corpus.gopherQualitySql("documents", minStopHits = 1) +
        "\nORDER BY doc_id"),
      (s, dir) => graft.text.Corpus.gopherQuality(t(s, dir, "documents"), minStopHits = 1)
        .orderBy("doc_id")),

    // fastText-shaped hashed linear quality scorer (scan-local; a
    // trained weight table broadcasts in without changing the plan)
    QDef("q_quality_linear",
      Some(graft.text.Profile.linearQualitySql("documents")),
      (s, dir) => graft.text.Profile.linearQuality(t(s, dir, "documents"))),

    // PII scrub over deterministically PII-augmented text (the synthetic
    // corpus carries no natural PII, so both engines append the same
    // doc_id-derived email/IP/phone spans — the %97 eval-slice trick
    // q_decontaminate uses). scrub_fp = md5(scrubbed text) pins the
    // replacement bytes, not just the counts.
    // first-failing-rule filter funnel: per (source, rule) where
    // documents die in the quality cascade — gopher's five rules then
    // the two repetition rules, '__kept__' for survivors
    QDef("q_quality_funnel",
      Some(graft.text.Corpus.qualityFunnelSql("documents")),
      (s, dir) => graft.text.Corpus.qualityFunnel(t(s, dir, "documents"))),

    QDef("q_pii_scrub", {
      val aug = "text" +
        " || CASE WHEN doc_id % 3 = 0 THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@mail.example.org' ELSE '' END" +
        " || CASE WHEN doc_id % 5 = 0 THEN ' from host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.3.' || CAST(doc_id % 97 AS VARCHAR) ELSE '' END" +
        " || CASE WHEN doc_id % 7 = 0 THEN ' call +1555' || CAST(1000000 + doc_id % 1000000 AS VARCHAR) ELSE '' END"
      Some(graft.text.Corpus.piiScrubSql(
        s"(SELECT doc_id, $aug AS text FROM documents)") + "\nORDER BY doc_id")
    }, (s, dir) => {
      val aug = concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" reach me at user"), col("doc_id").cast(StringType),
            lit("@mail.example.org"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(" from host 10."), pmod(col("doc_id"), lit(256)).cast(StringType),
            lit(".3."), pmod(col("doc_id"), lit(97)).cast(StringType))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" call +1555"),
            (lit(1000000L) + pmod(col("doc_id"), lit(1000000))).cast(StringType)))
          .otherwise(lit("")))
      graft.text.Corpus.piiScrub(
          t(s, dir, "documents").withColumn("text", aug))
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          md5(col("text").cast(BinaryType)).as("scrub_fp"))
        .orderBy("doc_id")
    }),

    // sequence packing: chop the doc_id-ordered token stream into
    // 512-token training blocks; per doc its span in the stream
    QDef("q_seq_pack",
      Some(graft.text.Corpus.seqPackSql("documents", 512)),
      (s, dir) => graft.text.Corpus.seqPack(t(s, dir, "documents"), 512)),

    // token-balanced sharding: docs dealt round-robin by token-count
    // rank into 16 shards (sorted-greedy LPT), emitting the per-shard
    // balance profile a sharded dataloader write is judged by
    QDef("q_shard_balance",
      Some(graft.text.Corpus.shardBalanceSql("documents", 16)),
      (s, dir) => graft.text.Corpus.shardBalance(t(s, dir, "documents"), 16)),

    // epoch-based domain resampling: target mix expressed as epochs per
    // source (fractional = deterministic subsample), LLaMA-style
    QDef("q_domain_resample",
      Some(graft.text.Corpus.resampleEpochsSql("documents", ResampleWeights)),
      (s, dir) => graft.text.Corpus.resampleEpochs(t(s, dir, "documents"),
        ResampleWeights)),

    // BM25 keyword retrieval over the corpus (Okapi/Lucene form)
    // source-composition drift: per (source, lang) share-vs-corpus
    // delta — the QA table that flags a source whose language mix
    // diverged before it skews a training mix
    QDef("q_lang_mix_drift",
      Some(graft.text.Profile.langMixDriftSql("documents")),
      (s, dir) => graft.text.Profile.langMixDrift(t(s, dir, "documents"))),

    // keyphrase extraction: per-doc top-k word BIGRAMS by tf-idf (the
    // unigram q_tfidf_terms plan over native WordNgrams(2))
    QDef("q_tfidf_bigrams",
      Some(graft.text.Search.tfidfNgramsSql("documents")),
      (s, dir) => graft.text.Search.tfidfNgrams(t(s, dir, "documents"))),

    // PMI collocation mining: top-k document-co-occurrence token pairs
    // by pointwise mutual information, capped-distinct per-doc token
    // sets bounding the pair fanout
    QDef("q_pmi_pairs",
      Some(graft.text.Search.pmiPairsSql("documents")),
      (s, dir) => graft.text.Search.pmiPairs(t(s, dir, "documents"))),

    QDef("q_bm25",
      Some(graft.text.Search.bm25Sql("documents", Bm25Terms, k = 15)),
      (s, dir) => graft.text.Search.bm25(t(s, dir, "documents"), Bm25Terms, k = 15)),

    // CCNet-style quality bucketing: unigram LM trained on the en
    // slice, every doc scored by mean token log-prob, head/middle/tail
    QDef("q_unigram_lm",
      Some(graft.text.Lm.unigramLmSql("documents")),
      (s, dir) => graft.text.Lm.unigramLm(t(s, dir, "documents"))),

    // per-language CCNet form: one unigram LM per lang, each doc
    // scored under its own language's model
    QDef("q_unigram_lm_bylang",
      Some(graft.text.Lm.unigramLmByLangSql("documents")),
      (s, dir) => graft.text.Lm.unigramLmByLang(t(s, dir, "documents"))),

    // interpolated bigram LM — the higher-order (KenLM-shaped) form of
    // the CCNet filter: context-conditional ML smoothed by the unigram
    QDef("q_bigram_lm",
      Some(graft.text.Lm.bigramLmSql("documents")),
      (s, dir) => graft.text.Lm.bigramLm(t(s, dir, "documents"))),

    // DSIR importance resampling toward the en slice over hashed
    // unigram features; deterministic Gumbel top-k selection
    QDef("q_dsir",
      Some(graft.text.Lm.dsirSql("documents")),
      (s, dir) => graft.text.Lm.dsir(t(s, dir, "documents"))),

    // frequency-ranked vocabulary with contiguous ids (tokenizer table)
    // tokenizer-sizing coverage curve: token-occurrence share covered
    // by the top-{100, 1k, 10k} frequency-ranked vocab entries (what an
    // OOV/byte fallback absorbs at each size); runs on the ranked
    // vocab table, one conditional-sum agg melted to a row per cutoff
    // cutoffs sized to the generator's compact vocabulary so the curve
    // is visible (the library default is {100, 1k, 10k})
    QDef("q_vocab_coverage",
      Some(graft.text.Vocab.vocabCoverageSql("documents", Seq(5L, 10L, 20L))),
      (s, dir) => graft.text.Vocab.vocabCoverage(t(s, dir, "documents"), Seq(5L, 10L, 20L))),

    // crawl provenance ranking: per registrable domain the doc/token
    // footprint and corpus share (URLs doc_id-synthesized, the
    // q_url_filter convention) — the "what are we actually crawling"
    // report read before domain filtering
    QDef("q_top_domains", {
      val doms = Seq("en.wikipedia.org", "github.com", "casino-wins.biz",
        "news.example.co.uk", "tracker.ads.net", "free-stuff.xyz")
      val dl = doms.map(d => s"'$d'").mkString("[", ", ", "]")
      Some(s"""WITH d AS (SELECT doc_id,
             |    ($dl)[CAST(doc_id % 6 AS INT) + 1] AS host,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
             |  FROM documents),
             |g AS (SELECT ${graft.text.Url.regDomainSql("host")} AS domain,
             |    COUNT(*) AS n_docs, SUM(ntok) AS n_tokens
             |  FROM d GROUP BY 1),
             |t0 AS (SELECT SUM(n_docs) AS tot FROM g)
             |SELECT domain, CAST(n_docs AS BIGINT) AS n_docs,
             |  CAST(n_tokens AS BIGINT) AS n_tokens,
             |  ROUND(CAST(n_docs AS DOUBLE) / t0.tot, 6) AS doc_share
             |FROM g, t0 ORDER BY n_docs DESC, domain""".stripMargin)
    }, { (s, dir) =>
      val doms = Seq("en.wikipedia.org", "github.com", "casino-wins.biz",
        "news.example.co.uk", "tracker.ads.net", "free-stuff.xyz")
      val d = t(s, dir, "documents").select(
        element_at(array(doms.map(lit): _*),
          (pmod(col("doc_id"), lit(6)) + 1).cast(IntegerType)).as("host"),
        size(TextOps.tokens(col("text"))).cast(LongType).as("ntok"))
      val g = d.groupBy(graft.text.Url.regDomainOf(col("host")).as("domain"))
        .agg(count(lit(1)).cast(LongType).as("n_docs"),
          sum(col("ntok")).cast(LongType).as("n_tokens"))
      val t0 = g.agg(sum(col("n_docs")).as("tot"))
      g.crossJoin(broadcast(t0))
        .select(col("domain"), col("n_docs"), col("n_tokens"),
          graft.util.D.r(col("n_docs").cast(DoubleType) / col("tot"), 6).as("doc_share"))
        .orderBy(col("n_docs").desc, col("domain"))
    }),

    QDef("q_vocab_build",
      Some(graft.text.Vocab.vocabBuildSql("documents", minCount = 3)),
      (s, dir) => graft.text.Vocab.vocabBuild(t(s, dir, "documents"), minCount = 3)),

    // exact heavy hitters (tokens with > 1/64 corpus share) via the
    // bounded Misra-Gries sketch + exact recount two-pass plan — the
    // term universe is never shuffled
    QDef("q_heavy_hitters",
      Some(graft.text.Heavy.heavyHittersSql("documents", 64)),
      (s, dir) => graft.text.Heavy.heavyHitters(t(s, dir, "documents"), 64)),

    // top adjacent token pairs — the BPE merge-candidate scan
    QDef("q_bpe_pairs",
      Some(graft.text.Vocab.bpePairsSql("documents")),
      (s, dir) => graft.text.Vocab.bpePairs(t(s, dir, "documents"))),

    // the BPE TRAINER LOOP: k merge rules learned over the corpus
    // (one corpus reduction, then bounded rounds on the word table)
    QDef("q_bpe_fit",
      Some(graft.text.Vocab.bpeFitSql("documents")),
      (s, dir) => graft.text.Vocab.bpeFit(t(s, dir, "documents"))),

    // per-doc top-3 keywords by tf-idf
    QDef("q_tfidf_terms",
      Some(graft.text.Search.tfidfTermsSql("documents")),
      (s, dir) => graft.text.Search.tfidfTerms(t(s, dir, "documents"))),

    // one Lloyd iteration over the embeddings — the IVF training step
    // (same centroid seeding convention as q_ann_ivf)
    QDef("q_kmeans_step",
      Some(graft.sim.Ann.kmeansStepSql("embeddings", 25, 7)),
      (s, dir) => graft.sim.Ann.kmeansStep(t(s, dir, "embeddings"), 25, 7)),

    // two chained Lloyd iterations — the oracled proof
    // that Ann.kmeansFit's loop body (re-assign to the 6dp means,
    // re-average) is cross-engine deterministic round over round
    QDef("q_kmeans_2iter",
      Some(graft.sim.Ann.kmeans2IterSql("embeddings", 25, 7)),
      (s, dir) => graft.sim.Ann.kmeans2Iter(t(s, dir, "embeddings"), 25, 7)),

    // exact corpus Gram matrix (the distributed PCA/covariance input —
    // d(d+1)/2 cells from one scan; see Ann.gramMatrix scale notes)
    QDef("q_embed_gram",
      Some(graft.sim.Ann.gramMatrixSql("embeddings")),
      (s, dir) => graft.sim.Ann.gramMatrix(t(s, dir, "embeddings"))),

    // --------------------------------------------------- multimodal ----
    QDef("q_multimodal_meta",
      Some(Multimodal.decodeMetaSql("documents")),
      (s, dir) => Multimodal.decodeMeta(s, t(s, dir, "documents"))),

    QDef("q_multimodal_frames",
      Some(Multimodal.frameSampleSql("documents")),
      (s, dir) => Multimodal.frameSample(t(s, dir, "documents"))),

    // exact payload dedup (content-hash BEFORE decode — the real first
    // media-pipeline step; md5-over-binary is not stubbed)
    QDef("q_multimodal_dedup",
      Some(Multimodal.payloadDedupSql("documents")),
      (s, dir) => Multimodal.payloadDedup(t(s, dir, "documents"))),

    // pHash-shaped payload signature + LSH blocking profile (stub
    // sampling over raw bytes; scan-local, bounded output)
    QDef("q_multimodal_phash",
      Some(Multimodal.payloadPhashProfileSql("documents")),
      (s, dir) => Multimodal.payloadPhashProfile(t(s, dir, "documents"))),

    // banded pHash near-dup PAIRS: 60-bit payload signature → 4×15-bit
    // band self-join → hamming ≤ 6 verify — the checked near-dup
    // artifact the blocking profile only forecasts (q_dedup_simhash
    // shape over binary payloads; band join ships 16 bytes/doc)
    QDef("q_multimodal_phash_pairs",
      Some(Multimodal.payloadPhashPairsSql("documents")),
      (s, dir) => Multimodal.payloadPhashPairs(t(s, dir, "documents"))),

    // near-dup survivor selection over the pHash pair set (greedy
    // keep-min, per decoded format) — the "what do we keep" artifact
    // that completes signature → pairs → keep for binary payloads
    QDef("q_multimodal_keep",
      Some(Multimodal.payloadKeepSql("documents")),
      (s, dir) => Multimodal.payloadKeep(s, t(s, dir, "documents"))),

    // ------------------------------------- dataset assembly / serving --

    // deterministic stratified train/val/test split report
    // per-language weighted sample without replacement (Efraimidis-
    // Spirakis via the DSIR Gumbel-key convention): token-weighted,
    // yet the selected set is a pure function of doc_id
    QDef("q_sample_weighted",
      Some(graft.text.Profile.weightedSampleSql("documents")),
      (s, dir) => graft.text.Profile.weightedSample(t(s, dir, "documents"))),

    QDef("q_split_hash",
      Some(graft.text.Profile.splitHashSql("documents")),
      (s, dir) => graft.text.Profile.splitHash(t(s, dir, "documents"))),

    // EXACT-quota stratified split (ranked within stratum, cut at
    // floor(frac·n)) — the small-stratum complement to q_split_hash's
    // doc-stable threshold coin; distributed rank via the seqPack
    // range-partition + offset-table machinery, never a per-stratum
    // single-reducer window
    QDef("q_split_stratified",
      Some(graft.text.Profile.stratifiedSplitSql("documents")),
      (s, dir) => graft.text.Profile.stratifiedSplit(t(s, dir, "documents"))),

    // cross-split near-duplicate leakage audit: minhash near-dup pairs
    // that straddle the q_split_hash train/val/test boundary — the
    // eval-integrity gate run after splitting (split coin joins onto
    // the banding-bounded PAIR table, never the corpus)
    QDef("q_split_leakage",
      Some(Dedup.crossSplitLeakageSql("documents")),
      (s, dir) => Dedup.crossSplitLeakage(t(s, dir, "documents"))),

    // token-length histogram per source (power-of-2 buckets)
    QDef("q_token_hist",
      Some(graft.text.Profile.tokenHistSql("documents")),
      (s, dir) => graft.text.Profile.tokenHist(t(s, dir, "documents"))),

    // truncation-loss pricing for a candidate max_len (scan-local into
    // one small-cardinality agg; pairs with q_token_hist's shape view)
    QDef("q_tok_truncation",
      Some(graft.text.Profile.truncationLossSql("documents", 64)),
      (s, dir) => graft.text.Profile.truncationLoss(t(s, dir, "documents"), 64)),

    // per-doc token-distribution entropy (information-density quality
    // signal; one tf-idf-shaped shuffle via H = log2 n - (Σ c·log2 c)/n)
    QDef("q_text_entropy",
      Some(graft.text.Profile.tokenEntropySql("documents")),
      (s, dir) => graft.text.Profile.tokenEntropy(t(s, dir, "documents"))),

    // retrieval/embedding-prep chunking: 64-token windows, 16 overlap;
    // scan-local (explode of per-doc window starts, zero shuffles)
    QDef("q_rag_chunks",
      Some(graft.text.Chunk.ragChunksSql("documents", 64, 16)),
      (s, dir) => graft.text.Chunk.ragChunks(t(s, dir, "documents"), 64, 16)),

    // temperature-scaled multilingual sampling mix (mT5 rule, τ = 2 —
    // sqrt is the correctly-rounded cross-engine exponent)
    QDef("q_temp_mix",
      Some(graft.text.Corpus.tempMixSql("documents")),
      (s, dir) => graft.text.Corpus.tempMix(t(s, dir, "documents"))),

    // HTML boilerplate extraction over deterministically re-marked-up
    // docs (the corpus is pre-cleaned text, so the query wraps each doc
    // in doc_id-derived generator markup — title/script/nav blocks, a
    // conditional ad div, entity-escaped spans — identically in both
    // engines, the q_pii_scrub convention)
    QDef("q_html_strip", {
      val aug = "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || " +
        "'</title><script>var t=' || CAST(doc_id % 7 AS VARCHAR) || " +
        "';</script></head><body><nav><a href=\"/\">Home</a> <a href=\"/s' || " +
        "CAST(doc_id % 5 AS VARCHAR) || '\">Sec</a></nav><p>' || text || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' Fish &amp; chips &lt;3' ELSE '' END || " +
        "'</p>' || CASE WHEN doc_id % 4 = 0 THEN '<div class=\"ad\">Buy now!</div>' ELSE '' END || " +
        "'<footer>&copy; 2026 Example &amp; Co.</footer></body></html>'"
      Some(graft.text.Html.stripSql(
        s"(SELECT doc_id, $aug AS text FROM documents)") + "\nORDER BY doc_id")
    }, (s, dir) => {
      val aug = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast(StringType),
        lit("</title><script>var t="), pmod(col("doc_id"), lit(7)).cast(StringType),
        lit(";</script></head><body><nav><a href=\"/\">Home</a> <a href=\"/s"),
        pmod(col("doc_id"), lit(5)).cast(StringType),
        lit("\">Sec</a></nav><p>"), col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0, " Fish &amp; chips &lt;3").otherwise(""),
        lit("</p>"),
        when(pmod(col("doc_id"), lit(4)) === 0, "<div class=\"ad\">Buy now!</div>").otherwise(""),
        lit("<footer>&copy; 2026 Example &amp; Co.</footer></body></html>"))
      graft.text.Html.strip(
          t(s, dir, "documents").withColumn("text", aug)
            .withColumn("len_raw", length(col("text")).cast(LongType)))
        .select(col("doc_id"), col("n_tags"), col("len_raw"),
          length(col("text")).cast(LongType).as("len_clean"),
          md5(col("text").cast(BinaryType)).as("clean_fp"))
        .orderBy("doc_id")
    }),

    // C4-style URL/domain filtering over deterministically synthesized
    // per-doc URLs (the corpus has no url column, so the query derives
    // one from doc_id identically in both engines — the q_pii_scrub
    // convention); blocklist join is broadcast, TLD ban is a literal IN
    QDef("q_url_filter", {
      val doms = Seq("en.wikipedia.org", "github.com", "casino-wins.biz",
        "news.example.co.uk", "tracker.ads.net", "free-stuff.xyz")
      val dl = doms.map(d => s"'$d'").mkString("[", ", ", "]")
      Some(graft.text.Url.urlFilterSql(
        s"(SELECT doc_id, 'https://' || ($dl)[CAST(doc_id % 6 AS INT) + 1] || '/p/' || CAST(doc_id AS VARCHAR) AS url FROM documents)",
        Seq("casino-wins.biz", "ads.net"), Seq("xyz")))
    }, (s, dir) => {
      val doms = Seq("en.wikipedia.org", "github.com", "casino-wins.biz",
        "news.example.co.uk", "tracker.ads.net", "free-stuff.xyz")
      import s.implicits._
      val blocked = Seq("casino-wins.biz", "ads.net").toDF("bad_domain")
      val withUrl = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://"),
          element_at(array(doms.map(lit): _*), (pmod(col("doc_id"), lit(6)) + 1).cast(IntegerType)),
          lit("/p/"), col("doc_id").cast(StringType)).as("url"))
      graft.text.Url.urlFilter(withUrl, blocked, Seq("xyz"))
    }),

    // blocked fuzzy record linkage (entity resolution): reconcile a
    // dirty name list against the clean catalog by candidate BLOCKING
    // (same first char + length band ±2) then edit-distance scoring,
    // keeping each query's best match (min distance, name asc
    // tie-break). The dirty side is synthesized deterministically from
    // the catalog itself (drop the 2nd char, append a char) so both
    // engines match the same corruption. This is the ER shape that
    // scales: candidates are block-bounded (never |A|×|B|), the
    // expensive levenshtein runs only inside blocks, and the survivor
    // pick is a window over the bounded candidate table. At corpus
    // scale the block key would be a phonetic/qgram key with the same
    // plan; the clean side broadcasts when dim-sized.
    QDef("q_fuzzy_match",
      Some("""WITH names AS (SELECT DISTINCT p_name FROM part),
             |dirty AS (SELECT substr(p_name, 1, 1) || substr(p_name, 3) || 'x' AS q
             |  FROM names),
             |cand AS (SELECT d.q, n.p_name AS cand,
             |    CAST(levenshtein(d.q, n.p_name) AS INT) AS dist
             |  FROM dirty d JOIN names n
             |    ON substr(d.q, 1, 1) = substr(n.p_name, 1, 1)
             |    AND abs(length(d.q) - length(n.p_name)) <= 2),
             |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q ORDER BY dist, cand) AS rn
             |  FROM cand)
             |SELECT q AS query_name, cand AS matched_name, dist
             |FROM rk WHERE rn = 1 ORDER BY query_name""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val names = t(s, dir, "part").select("p_name").distinct()
        val dirty = names.select(
          concat(substring(col("p_name"), 1, 1),
            expr("substring(p_name, 3)"), lit("x")).as("q"))
        val cand = dirty.join(broadcast(names),
            substring(col("q"), 1, 1) === substring(col("p_name"), 1, 1) &&
              abs(length(col("q")) - length(col("p_name"))) <= 2)
          .select(col("q"), col("p_name").as("cand"),
            levenshtein(col("q"), col("p_name")).cast(IntegerType).as("dist"))
        val rk = cand.withColumn("rn",
          row_number().over(Window.partitionBy("q").orderBy("dist", "cand")))
        rk.filter(col("rn") === 1)
          .select(col("q").as("query_name"), col("cand").as("matched_name"), col("dist"))
          .orderBy("query_name")
      }),

    // crawl-level URL dedup: canonicalize (lowercase, strip fragment /
    // tracking params / dangling separators / trailing slash) then ONE
    // exact-dedup group on the canonical key — the CCNet first pass
    // that runs before any text is touched; URLs synthesized noisily
    // (three spelling variants per page) in both engines
    QDef("q_dedup_url", {
      val doms = Seq("en.wikipedia.org", "github.com", "casino-wins.biz",
        "news.example.co.uk", "tracker.ads.net", "free-stuff.xyz")
      val dl = doms.map(d => s"'$d'").mkString("[", ", ", "]")
      val page = "CAST(FLOOR(doc_id / 3) AS BIGINT)"
      val base = s"'https://' || ($dl)[CAST($page % 6 AS INT) + 1] || '/Page/' || CAST($page AS VARCHAR)"
      Some(graft.text.Url.urlDedupSql(
        s"""(SELECT doc_id, CASE doc_id % 3
           |  WHEN 0 THEN $base
           |  WHEN 1 THEN $base || '?utm_source=feed&utm_campaign=x1'
           |  ELSE upper($base) || '/#Top' END AS url FROM documents)""".stripMargin))
    }, (s, dir) => {
      val doms = Seq("en.wikipedia.org", "github.com", "casino-wins.biz",
        "news.example.co.uk", "tracker.ads.net", "free-stuff.xyz")
      val page = floor(col("doc_id") / 3).cast(LongType)
      val base = concat(lit("https://"),
        element_at(array(doms.map(lit): _*), (pmod(page, lit(6)) + 1).cast(IntegerType)),
        lit("/Page/"), page.cast(StringType))
      val url = when(pmod(col("doc_id"), lit(3)) === 0, base)
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(base, lit("?utm_source=feed&utm_campaign=x1")))
        .otherwise(concat(upper(base), lit("/#Top")))
      graft.text.Url.urlDedup(
        t(s, dir, "documents").select(col("doc_id"), url.as("url")))
    }),

    // product-quantization codes (FAISS IVF-PQ compression step):
    // m=8 subspaces, seeded per-subspace codebooks, exact argmin
    QDef("q_pq_codes",
      Some(graft.sim.Quantize.pqCodesSql("embeddings", 125, 7)),
      (s, dir) => graft.sim.Quantize.pqCodes(t(s, dir, "embeddings"), 8, 125, 7)),

    // ADC top-k search over the PQ codes (the FAISS IVF-PQ serving
    // step): corpus side reads m code longs per vector, never the
    // embeddings; per-query distance table broadcast
    QDef("q_ann_pq",
      Some(graft.sim.Quantize.adcTopKSql("embeddings", 125, 7, 40, 5)),
      (s, dir) => graft.sim.Quantize.adcTopK(t(s, dir, "embeddings"), 8, 125, 7, 40, 5)),

    // contrastive triplets: per anchor the top same-label positive and
    // top different-label hard negative with the triplet-loss margin
    QDef("q_triplets",
      Some(Ann.tripletsSql("embeddings", 40)),
      (s, dir) => Ann.triplets(t(s, dir, "embeddings"), 40)),

    // sub-quadratic triplets: anchors probe their nprobe nearest IVF
    // lists and pick positive/negative among probed-list members only
    // (the 100 TB path, oracled end-to-end — the q_hard_negatives_ivf
    // completion applied to the triplet builder)
    QDef("q_triplets_ivf",
      Some(Ann.tripletsIvfSql("embeddings", 40, 25, 7, 3)),
      (s, dir) => Ann.tripletsIvf(t(s, dir, "embeddings"), 40, 25, 7, 3)),

    // the full IVF-PQ serving path: probe nprobe coarse lists (the
    // q_ann_ivf coarse quantizer), ADC only within probed lists —
    // ~N·nprobe/K candidates per query instead of N
    QDef("q_ann_ivfpq",
      Some(graft.sim.Quantize.adcTopKIvfSql("embeddings", 125, 7, 25, 7, 40, 3, 5)),
      (s, dir) => graft.sim.Quantize.adcTopKIvf(t(s, dir, "embeddings"),
        8, 125, 7, 25, 7, 40, 3, 5)),

    // int8 max-abs embedding quantization report (exact fixed-point)
    QDef("q_embed_quantize",
      Some(graft.sim.Quantize.int8ReportSql("embeddings")),
      (s, dir) => graft.sim.Quantize.int8Report(t(s, dir, "embeddings")))
  )
}
