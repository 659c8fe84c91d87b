package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{ChannelOps, Dedup, Similarity, TextAnalysis, Multimodal}
import graft.functions.{Hashing, Vectors}

/** Catalog part: q183-q200: vocab growth, MMR, conformal, census tails.
  *
  * Split from the single QueryCatalog file for size; specs stay
  * package-private and the ordered aggregation lives in
  * [[QueryCatalog.all]]. */
private[graft] trait CatalogPart6 extends CatalogPart5 {

  private[graft] val q183 = {
    val cuts = Seq(10L, 20L, 50L, 100L, 200L, 500L, 1000L, 2000L, 5000L)
    QuerySpec(
      "q183_vocab_growth",
      (s, dir) => TextAnalysis.vocabGrowth(t(s, dir, "documents"),
          "doc_id", "text", cuts)
        .orderBy(col("cut_id")),
      Some(s"""WITH toks AS (SELECT doc_id, unnest(str_split(text, ' '))
            AS tok FROM documents),
        fs AS (SELECT tok, min(doc_id) AS first_id FROM toks GROUP BY 1),
        grid AS (SELECT unnest([${cuts.mkString(", ")}]::BIGINT[])
            AS cut_id),
        v AS (SELECT cut_id,
            CAST(count(*) FILTER (WHERE first_id <= cut_id) AS BIGINT)
              AS vocab_size
          FROM fs CROSS JOIN grid GROUP BY 1),
        d AS (SELECT cut_id,
            CAST(count(*) FILTER (WHERE doc_id <= cut_id) AS BIGINT)
              AS n_docs,
            CAST(coalesce(sum(len(str_split(text, ' ')))
              FILTER (WHERE doc_id <= cut_id), 0) AS BIGINT) AS cum_tokens
          FROM documents CROSS JOIN grid GROUP BY 1)
        SELECT cut_id, n_docs, cum_tokens, vocab_size
        FROM d JOIN v USING (cut_id) ORDER BY cut_id"""))
  }

  /** 2-criteria Pareto frontier ([[graft.operators.ScaleOps
    * .paretoFrontier]]): docs not dominated under (maximize distinct-token
    * types, minimize total tokens) — the lexical-density skyline. The
    * oracle replays the prefix-max formulation (sort + RANGE window);
    * the engine runs it distributed (bucketed prefix-max, no global
    * sort) — same rows either way. */
  private[graft] val q184 = QuerySpec(
    "q184_pareto_frontier",
    (s, dir) => graft.operators.ScaleOps.paretoFrontier(
        t(s, dir, "documents").select(col("doc_id"),
          size(graft.functions.TokenCounts(col("text"))).cast("long")
            .as("nd"),
          size(split(col("text"), " ")).cast("long").as("nt")),
        "doc_id", col("nd"), col("nt"))
      .orderBy(col("min_v"), col("max_v"), col("doc_id")),
    Some("""WITH pts AS (SELECT doc_id,
          CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT) AS max_v,
          CAST(len(str_split(text, ' ')) AS BIGINT) AS min_v
        FROM documents),
      m AS (SELECT *,
          max(max_v) OVER (ORDER BY min_v
            RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mlt,
          max(max_v) OVER (PARTITION BY min_v) AS meq
        FROM pts)
      SELECT doc_id, max_v, min_v FROM m
      WHERE (mlt IS NULL OR mlt < max_v) AND meq <= max_v
      ORDER BY min_v, max_v, doc_id"""))

  /** Markov stationary distribution over event types
    * ([[graft.operators.EventOps.stationaryDistribution]]): q114's
    * transition matrix iterated 8 rounds from uniform, sink types
    * self-looped, every step floor-quantized to int64 micro so both
    * engines replay the identical integers (the oracle unrolls the 8
    * rounds as CTEs). */
  private[graft] val q185 = {
    val rounds = 8
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS (SELECT e.next_type AS t,
            CAST(sum(p.pi * e.p_micro) // 1000000 AS BIGINT) AS pi
          FROM p${r - 1} p JOIN edges e ON e.prev_type = p.t GROUP BY 1)"""
    }.mkString(",\n        ")
    QuerySpec(
      "q185_stationary_markov",
      (s, dir) => graft.operators.EventOps.stationaryDistribution(
          t(s, dir, "events"), "user_id", Seq("ts", "event_id"),
          "event_type", rounds)
        .orderBy(col("event_type")),
      Some(s"""WITH p AS (SELECT
          lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS prev_type,
          event_type AS next_type
        FROM events),
        c AS (SELECT prev_type, next_type, count(*) AS n FROM p
          WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        trans AS (SELECT prev_type, next_type,
            CAST(round(n * 1000000.0 / sum(n) OVER (PARTITION BY prev_type),
              0) AS BIGINT) AS p_micro
          FROM c),
        types AS (SELECT DISTINCT event_type AS t FROM events),
        ntypes AS (SELECT CAST(count(*) AS BIGINT) AS k FROM types),
        sinks AS (SELECT t AS prev_type, t AS next_type,
            CAST(1000000 AS BIGINT) AS p_micro FROM types
          WHERE t NOT IN (SELECT DISTINCT prev_type FROM trans)),
        edges AS (SELECT prev_type, next_type, p_micro FROM trans
          UNION ALL SELECT prev_type, next_type, p_micro FROM sinks),
        p0 AS (SELECT t, CAST(1000000 // k AS BIGINT) AS pi
          FROM types CROSS JOIN ntypes),
        $roundCtes
        SELECT ty.t AS event_type, CAST(coalesce(p.pi, 0) AS BIGINT)
          AS pi_micro
        FROM types ty LEFT JOIN p$rounds p ON p.t = ty.t
        ORDER BY event_type"""))
  }

  /** MMR diversified top-k ([[graft.operators.Retrieval.mmrTopK]]) over
    * the q88 BM25 candidates: greedy λ·relevance − (1−λ)·max-Jaccard
    * re-rank, exact permille·micro integers; the oracle unrolls the k
    * greedy steps (each an argmax LIMIT 1 over the not-yet-picked
    * candidates carrying the picked list forward). */
  private[graft] val q186 = {
    val terms = Seq("hash", "stream", "vector", "big")
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    val (c, k, lam) = (32, 10, 700L)
    val stepCtes = (2 to k).map { r =>
      s"""s$r AS (SELECT c.id, c.rel_n,
            ${lam} * c.rel_n - ${1000L - lam} * coalesce(
              (SELECT max(sim_micro) FROM sims
               WHERE (ida = c.id AND list_contains(s${r - 1}.picked, idb))
                  OR (idb = c.id AND list_contains(s${r - 1}.picked, ida))),
              0) AS mmr,
            list_append(s${r - 1}.picked, c.id) AS picked
          FROM cand c, s${r - 1}
          WHERE NOT list_contains(s${r - 1}.picked, c.id)
          ORDER BY mmr DESC, c.id LIMIT 1)"""
    }.mkString(",\n        ")
    val unionAll = (1 to k)
      .map(r => s"SELECT ${r}::BIGINT AS sel_rank, id, rel_n, mmr FROM s$r")
      .mkString("\n          UNION ALL ")
    QuerySpec(
      "q186_mmr_topk",
      (s, dir) => graft.operators.Retrieval.mmrTopK(
          t(s, dir, "documents"), "doc_id", "text", terms, c, k, lam)
        .select(col("sel_rank"), col("id").as("doc_id"),
          col("rel_n_micro"), col("mmr_q"))
        .orderBy(col("sel_rank")),
      // MATERIALIZED pins the shared CTEs: the k unrolled greedy steps each
      // reference `sims`/`cand`, and DuckDB's default inlining re-derives
      // the whole candidate pipeline per step (measured 36.9 s → 0.38 s at
      // sf0.1 — an unfair oracle, not a real baseline)
      Some(s"""WITH docs AS MATERIALIZED (SELECT doc_id,
          len(str_split(text, ' ')) AS dl, str_split(text, ' ') AS toks
          FROM documents),
        stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docs),
        tf AS (SELECT doc_id, any_value(dl) AS dl, tok, count(*) AS tf
          FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM docs)
          WHERE tok IN $termList GROUP BY doc_id, tok),
        dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        term_scores AS (SELECT doc_id,
            CAST(round(ln(((n_docs - df) + 0.5) / (df + 0.5) + 1.0) *
              ((tf * (1.2 + 1.0)) /
               (tf + 1.2 * (1.0 - 0.75 + 0.75 *
                 (CAST(dl AS DOUBLE) / avgdl)))) * 1000000.0, 0) AS BIGINT)
              AS micro
          FROM tf JOIN dfreq USING (tok) CROSS JOIN stats),
        scored AS MATERIALIZED (SELECT doc_id,
            CAST(sum(micro) AS BIGINT) AS score_micro
          FROM term_scores GROUP BY 1
          ORDER BY score_micro DESC, doc_id LIMIT $c),
        mx AS (SELECT max(score_micro) AS ms FROM scored),
        cand AS MATERIALIZED (SELECT doc_id AS id,
            CAST((score_micro * 1000000) // ms AS BIGINT) AS rel_n
          FROM scored CROSS JOIN mx),
        ctoks AS MATERIALIZED (SELECT doc_id AS id,
            unnest(list_distinct(toks)) AS tok
          FROM docs WHERE doc_id IN (SELECT id FROM cand)),
        csize AS (SELECT id, CAST(count(*) AS BIGINT) AS nt FROM ctoks
          GROUP BY 1),
        sims AS MATERIALIZED (SELECT a.id AS ida, b.id AS idb,
            CAST((count(*) * 1000000) //
              (any_value(sa.nt) + any_value(sb.nt) - count(*)) AS BIGINT)
              AS sim_micro
          FROM ctoks a JOIN ctoks b ON a.tok = b.tok AND a.id < b.id
          JOIN csize sa ON sa.id = a.id JOIN csize sb ON sb.id = b.id
          GROUP BY a.id, b.id),
        s1 AS (SELECT id, rel_n, ${lam} * rel_n AS mmr, [id] AS picked
          FROM cand ORDER BY mmr DESC, id LIMIT 1),
        $stepCtes
        SELECT sel_rank, id AS doc_id, CAST(rel_n AS BIGINT)
            AS rel_n_micro, CAST(mmr AS BIGINT) AS mmr_q
        FROM ($unionAll)
        ORDER BY sel_rank"""))
  }

  /** Per-dimension embedding hygiene audit ([[Similarity
    * .embeddingAudit]]): n/mean/variance/zero-fraction per coordinate in
    * exact int64 micro — dead dims, biased dims, padding bugs. */
  private[graft] val q187 = QuerySpec(
    "q187_embedding_audit",
    (s, dir) => Similarity.embeddingAudit(t(s, dir, "embeddings"),
        "embedding")
      .orderBy(col("dim")),
    Some("""WITH q AS (SELECT i - 1 AS dim,
          CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0, 0) AS BIGINT)
            AS vq
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
      a AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(vq) AS BIGINT) AS s,
          CAST(sum(vq * vq) AS BIGINT) AS s2,
          CAST(count(*) FILTER (WHERE vq = 0) AS BIGINT) AS n_zero
        FROM q GROUP BY 1)
      SELECT CAST(dim AS BIGINT) AS dim, n,
        CAST(s // n AS BIGINT) AS mean_micro,
        CAST((n * s2 - s * s) // (n * n * 1000000) AS BIGINT) AS var_micro,
        CAST((n_zero * 1000000) // n AS BIGINT) AS zero_frac_micro
      FROM a ORDER BY dim"""))

  /** Tokenizer fertility per language ([[TextAnalysis
    * .tokenizerFertility]]): BPE-ish subwords per whitespace word — the
    * cross-lingual context-window price list feeding q177's token-share
    * mixture. */
  private[graft] val q188 = QuerySpec(
    "q188_tokenizer_fertility",
    (s, dir) => TextAnalysis.tokenizerFertility(t(s, dir, "documents"),
        "text", col("lang"))
      .orderBy(col("lang")),
    Some(s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS ws_tokens,
        CAST(sum(len(regexp_extract_all(text,
          '${TextAnalysis.BpePattern.replace("'", "''")}'))) AS BIGINT)
          AS bpe_tokens,
        CAST((sum(len(regexp_extract_all(text,
            '${TextAnalysis.BpePattern.replace("'", "''")}'))) * 1000000) //
          sum(len(str_split(text, ' '))) AS BIGINT) AS fertility_micro
      FROM documents GROUP BY lang ORDER BY lang"""))

  /** Split-conformal prediction sets ([[TextAnalysis.conformalSets]]):
    * calibration threshold on even ids, coverage + set size on odd ids,
    * α grid {5%, 10%, 20%} — q179's risk–coverage with a finite-sample
    * guarantee attached. Milli-nat nonconformity keeps the threshold
    * histogram bounded; every division truncates identically. */
  private[graft] val q189 = {
    val alphas = Seq(50L, 100L, 200L)
    QuerySpec(
      "q189_conformal_sets",
      (s, dir) => TextAnalysis.conformalSets(t(s, dir, "documents"),
          "doc_id", "text", "lang", alphas, _ % 2 === 0)
        .orderBy(col("alpha_permille")),
      Some(s"""WITH $NbOracleCtes,
        p12 AS (SELECT id, max(CASE WHEN rn = 1 THEN post_q END) AS p1,
            max(CASE WHEN rn = 2 THEN post_q END) AS p2
          FROM ranked WHERE rn <= 2 GROUP BY 1),
        nc AS (SELECT r.id, r.label, r.cls,
            (CASE WHEN r.rn = 1 THEN coalesce(p12.p2, p12.p1)
              ELSE p12.p1 END - r.post_q) // 1000 AS nc_mq,
            (r.id % 2 = 0) AS is_cal
          FROM ranked r JOIN p12 ON p12.id = r.id),
        caln AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM nc
          WHERE is_cal AND cls = label),
        calc AS (SELECT nc_mq, sum(count(*)) OVER (ORDER BY nc_mq) AS cum
          FROM nc WHERE is_cal AND cls = label GROUP BY nc_mq),
        grid AS (SELECT unnest([${alphas.mkString(", ")}]::BIGINT[])
            AS alpha_permille),
        ks AS (SELECT alpha_permille, n_cal,
            ((n_cal + 1) * (1000 - alpha_permille) + 999) // 1000 AS k_rank
          FROM grid CROSS JOIN caln),
        thr AS (SELECT alpha_permille, n_cal, k_rank,
            min(CASE WHEN cum >= k_rank THEN nc_mq END) AS threshold_mq
          FROM ks CROSS JOIN calc GROUP BY 1, 2, 3),
        ev AS (SELECT * FROM nc WHERE NOT is_cal),
        agg AS (SELECT t.alpha_permille, t.n_cal, t.k_rank, t.threshold_mq,
            CAST(count(DISTINCT e.id) AS BIGINT) AS n_eval,
            CAST(count(*) FILTER (WHERE e.cls = e.label AND
              (t.threshold_mq IS NULL OR e.nc_mq <= t.threshold_mq))
              AS BIGINT) AS n_covered,
            CAST(count(*) FILTER (WHERE t.threshold_mq IS NULL OR
              e.nc_mq <= t.threshold_mq) AS BIGINT) AS set_size_sum
          FROM thr t CROSS JOIN ev e GROUP BY 1, 2, 3, 4)
        SELECT alpha_permille, n_cal, CAST(k_rank AS BIGINT) AS k_rank,
          threshold_mq, n_eval, n_covered,
          CAST((n_covered * 1000000) // n_eval AS BIGINT) AS coverage_micro,
          set_size_sum,
          CAST((set_size_sum * 1000000) // n_eval AS BIGINT)
            AS avg_set_size_micro
        FROM agg ORDER BY alpha_permille"""))
  }

  /** Per-class precision/recall/F1 of the NB classifier against the lang
    * metadata ([[graft.operators.DataChecks.classifierReport]]) — q180
    * names the agreement, this names WHICH classes are safe. */
  private[graft] val q190 = QuerySpec(
    "q190_classifier_report",
    (s, dir) => graft.operators.DataChecks.classifierReport(
        TextAnalysis.naiveBayesPredict(t(s, dir, "documents"),
          "doc_id", "text", "lang"),
        col("label"), col("predicted"))
      .orderBy(col("label")),
    Some(s"""WITH $NbOracleCtes,
      pred AS (SELECT id, label AS t, cls AS p FROM ranked WHERE rn = 1),
      cells AS (SELECT t, p, CAST(count(*) AS BIGINT) AS n FROM pred
        GROUP BY 1, 2),
      rt AS (SELECT t AS label, CAST(sum(n) AS BIGINT) AS n_truth
        FROM cells GROUP BY 1),
      ct AS (SELECT p AS label, CAST(sum(n) AS BIGINT) AS n_pred
        FROM cells GROUP BY 1),
      dg AS (SELECT t AS label, n AS tp FROM cells WHERE t = p),
      j AS (SELECT coalesce(rt.label, ct.label) AS label,
          coalesce(n_truth, 0) AS n_truth, coalesce(n_pred, 0) AS n_pred
        FROM rt FULL JOIN ct ON rt.label = ct.label),
      f AS (SELECT j.label, j.n_truth, j.n_pred,
          coalesce(dg.tp, 0) AS tp FROM j LEFT JOIN dg ON dg.label = j.label)
      SELECT label, n_truth, n_pred, tp,
        CAST(n_pred - tp AS BIGINT) AS fp, CAST(n_truth - tp AS BIGINT)
          AS fn,
        CAST(CASE WHEN n_pred = 0 THEN 0
          ELSE (tp * 1000000) // n_pred END AS BIGINT) AS precision_micro,
        CAST(CASE WHEN n_truth = 0 THEN 0
          ELSE (tp * 1000000) // n_truth END AS BIGINT) AS recall_micro,
        CAST(CASE WHEN n_pred + n_truth = 0 THEN 0
          ELSE (2 * tp * 1000000) // (n_pred + n_truth) END AS BIGINT)
          AS f1_micro
      FROM f ORDER BY label"""))

  /** Batch retrieval quality eval ([[graft.operators.Retrieval
    * .rankEval]]): MRR + nDCG@10 per query against the graded tf
    * relevance standard (gain floored at relMin=2) — whether the ranker
    * actually orders well, per query. Discount constants are generated
    * ONCE in Scala and injected into both engines. */
  /** The q191/q224 eval batch — shared so the live and indexed rank-eval
    * rows grade the identical workload against the identical oracle. */
  private val rankEvalQueries = Seq(
    "q_hash" -> Seq("hash", "table"),
    "q_sort" -> Seq("sort", "merge", "scan"),
    "q_stream" -> Seq("stream", "window"),
    "q_vector" -> Seq("vector", "index"))

  private[graft] val q191 = {
    val queries = rankEvalQueries
    val (k, relMin) = (10, 2L)
    val allTerms = queries.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString("(", ", ", ")")
    val qtVals = queries.flatMap { case (q, ts) =>
      ts.map(t => s"('$q', '$t')") }.mkString(", ")
    val wVals = graft.operators.Retrieval.dcgWeightsMicro(k).zipWithIndex
      .map { case (w, i) => s"(${i + 1}, ${w})" }.mkString(", ")
    QuerySpec(
      "q191_rank_eval",
      (s, dir) => graft.operators.Retrieval.rankEval(
          t(s, dir, "documents"), "doc_id", "text", queries, k, relMin)
        .withColumn("first_rel_rank", col("first_rel_rank").cast("long"))
        .orderBy(col("qid")),
      Some(s"""WITH docs AS MATERIALIZED (SELECT doc_id,
          len(str_split(text, ' ')) AS dl, str_split(text, ' ') AS toks
          FROM documents),
        stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docs),
        posts AS (SELECT doc_id, any_value(dl) AS dl, tok, count(*) AS tf
          FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM docs)
          WHERE tok IN $allTerms GROUP BY doc_id, tok),
        dfreq AS (SELECT tok, count(*) AS df FROM posts GROUP BY 1),
        qt(qid, tok) AS (VALUES $qtVals),
        ts AS (SELECT qt.qid, p.doc_id AS id, p.tf,
            CAST(round(ln(((n_docs - df) + 0.5) / (df + 0.5) + 1.0) *
              ((p.tf * (1.2 + 1.0)) /
               (p.tf + 1.2 * (1.0 - 0.75 + 0.75 *
                 (CAST(p.dl AS DOUBLE) / avgdl)))) * 1000000.0, 0)
              AS BIGINT) AS micro
          FROM posts p JOIN qt ON qt.tok = p.tok
          JOIN dfreq ON dfreq.tok = p.tok CROSS JOIN stats),
        scored AS MATERIALIZED (SELECT qid, id,
            CAST(sum(micro) AS BIGINT) AS score_micro,
            CAST(sum(tf) AS BIGINT) AS rel_raw
          FROM ts GROUP BY 1, 2),
        g AS (SELECT *, CASE WHEN rel_raw >= $relMin THEN rel_raw
            ELSE 0 END AS gain FROM scored),
        wts(rn, w) AS (VALUES $wVals),
        rk AS (SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY score_micro DESC, id) AS rn FROM g),
        dcg AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_ranked,
            CAST(sum(gain * w) AS BIGINT) AS dcg_micro,
            min(CASE WHEN gain > 0 THEN rn END) AS first_rel_rank
          FROM rk JOIN wts USING (rn) WHERE rn <= $k GROUP BY 1),
        irk AS (SELECT qid, gain, row_number() OVER (PARTITION BY qid
            ORDER BY gain DESC, id) AS rn FROM g WHERE gain > 0),
        idcg AS (SELECT qid, CAST(sum(gain * w) AS BIGINT) AS idcg_micro
          FROM irk JOIN wts USING (rn) WHERE rn <= $k GROUP BY 1),
        nrel AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_rel FROM g
          WHERE gain > 0 GROUP BY 1)
        SELECT d.qid, d.n_ranked, coalesce(n.n_rel, 0) AS n_rel,
          CAST(d.first_rel_rank AS BIGINT) AS first_rel_rank,
          CAST(coalesce(1000000 // d.first_rel_rank, 0) AS BIGINT)
            AS mrr_micro,
          d.dcg_micro,
          CAST(coalesce(i.idcg_micro, 0) AS BIGINT) AS idcg_micro,
          CAST(CASE WHEN coalesce(i.idcg_micro, 0) = 0 THEN 0
            ELSE (d.dcg_micro * 1000000) // i.idcg_micro END AS BIGINT)
            AS ndcg_micro
        FROM dcg d LEFT JOIN idcg i ON i.qid = d.qid
        LEFT JOIN nrel n ON n.qid = d.qid
        ORDER BY d.qid"""))
  }

  /** l-diversity audit ([[graft.operators.DataChecks
    * .lDiversityViolations]]): (nation, segment) classes where every
    * customer shares one account-balance sign — k-anonymous yet fully
    * leaky classes that q145 cannot see. */
  private[graft] val q192 = QuerySpec(
    "q192_l_diversity",
    (s, dir) => graft.operators.DataChecks.lDiversityViolations(
        t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"),
        when(col("c_acctbal") < 0, lit("neg")).otherwise(lit("nonneg")),
        l = 2)
      .orderBy(col("c_nationkey"), col("c_mktsegment")),
    Some("""WITH s AS (SELECT c_nationkey, c_mktsegment,
          CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'nonneg' END AS sv
        FROM customer),
      c AS (SELECT c_nationkey, c_mktsegment, sv, count(*) AS c
        FROM s GROUP BY 1, 2, 3),
      g AS (SELECT c_nationkey, c_mktsegment,
          CAST(sum(c) AS BIGINT) AS n_rows,
          CAST(count(*) AS BIGINT) AS n_distinct_sensitive
        FROM c GROUP BY 1, 2)
      SELECT * FROM g WHERE n_distinct_sensitive < 2
      ORDER BY c_nationkey, c_mktsegment"""))

  /** Fano-factor burstiness per event type ([[graft.operators.EventOps
    * .fanoFactor]], hourly windows): dispersion of per-window counts —
    * ≈1e6 Poisson-organic, ≫1e6 bursty, ≪1e6 metronomic. */
  private[graft] val q193 = QuerySpec(
    "q193_fano_burstiness",
    (s, dir) => graft.operators.EventOps.fanoFactor(
        t(s, dir, "events"), "event_type", windowSec = 3600L)
      .orderBy(col("event_type")),
    Some("""WITH pw AS (SELECT event_type,
          epoch_ns(ts) // 3600000000000 AS w, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      anchor AS (SELECT min(w) AS w_lo, max(w) AS w_hi FROM pw),
      a AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_events,
          CAST(sum(c * c) AS BIGINT) AS s2,
          CAST(count(*) AS BIGINT) AS n_active_windows
        FROM pw GROUP BY 1)
      SELECT event_type, n_events,
        CAST(w_hi - w_lo + 1 AS BIGINT) AS n_windows, n_active_windows,
        CAST((n_events * 1000000) // (w_hi - w_lo + 1) AS BIGINT)
          AS mean_micro,
        CAST((((w_hi - w_lo + 1) * s2 - n_events * n_events) * 1000000) //
          ((w_hi - w_lo + 1) * n_events) AS BIGINT) AS fano_micro
      FROM a CROSS JOIN anchor ORDER BY event_type"""))

  /** Contamination rate per source ([[Dedup.contaminationBySource]]):
    * q51's decontamination semi-join rolled up by provenance — "drop the
    * source, not the docs" evidence. Same ref/corpus split and shingle
    * parameters as q51. */
  private[graft] val q194 = QuerySpec(
    "q194_contamination_by_source",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val ref = docs.where(col("doc_id") % 97 === 0)
      val corpus = docs.where(col("doc_id") % 97 =!= 0)
      Dedup.contaminationBySource(corpus, "doc_id", "text", "source",
          ref, "text", n = 3, minShared = 3, maxDocFreq = 1000)
        .orderBy(col("source"))
    },
    Some("""WITH sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
          list_transform(range(1, greatest(len(str_split(text, ' ')) - 2, 1) + 1),
            i -> array_to_string(list_slice(str_split(text, ' '), i, i + 2), ' ')),
          s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647))) AS sh
        FROM documents),
      corpus AS (SELECT doc_id, sh FROM (
          SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df
          FROM sh WHERE doc_id % 97 <> 0)
        WHERE df <= 1000),
      ref AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
      bad AS (SELECT doc_id FROM corpus JOIN ref USING (sh)
        GROUP BY 1 HAVING count(*) >= 3),
      srcs AS (SELECT doc_id, source FROM documents WHERE doc_id % 97 <> 0),
      per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        FROM srcs GROUP BY 1),
      bs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_contaminated
        FROM srcs WHERE doc_id IN (SELECT doc_id FROM bad) GROUP BY 1)
      SELECT per.source, per.n_docs,
        coalesce(bs.n_contaminated, 0) AS n_contaminated,
        CAST((coalesce(bs.n_contaminated, 0) * 1000000) // per.n_docs
          AS BIGINT) AS rate_micro
      FROM per LEFT JOIN bs ON bs.source = per.source
      ORDER BY per.source"""))

  /** Shard-skew audit ([[graft.operators.ScaleOps.shardSkewAudit]]) of
    * the q107 sharding, token-weighted: per shard, rows, tokens, share,
    * and the signed deviation from the uniform share. */
  private[graft] val q195 = QuerySpec(
    "q195_shard_skew",
    (s, dir) => graft.operators.ScaleOps.shardSkewAudit(
        t(s, dir, "documents"), "doc_id", numShards = 16,
        size(split(col("text"), " ")).cast("long"))
      .orderBy(col("shard")),
    Some("""WITH r AS (SELECT
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
            % 16 AS INT) AS shard,
          CAST(len(str_split(text, ' ')) AS BIGINT) AS w
        FROM documents),
      per AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(w) AS BIGINT) AS weight FROM r GROUP BY 1),
      tot AS (SELECT CAST(sum(weight) AS BIGINT) AS w_total FROM per)
      SELECT shard, n_rows, weight,
        CAST((weight * 1000000) // w_total AS BIGINT) AS share_micro,
        CAST((weight * 16 * 1000000) // w_total - 1000000 AS BIGINT)
          AS dev_from_uniform_micro
      FROM per CROSS JOIN tot ORDER BY shard"""))

  /** Active-learning label routing ([[TextAnalysis.labelRouting]]): the
    * 5 lowest-margin docs per predicted class — the class-balanced
    * human-review queue under q179's auto-accept cut. */
  private[graft] val q196 = QuerySpec(
    "q196_label_routing",
    (s, dir) => TextAnalysis.labelRouting(t(s, dir, "documents"),
        "doc_id", "text", "lang", perClassK = 5)
      .select(col("predicted"), col("rnk"), col("id").as("doc_id"),
        col("margin_q"))
      .orderBy(col("predicted"), col("rnk")),
    Some(s"""WITH $NbOracleCtes,
      top2 AS (SELECT id,
          max(CASE WHEN rn = 1 THEN post_q END) AS p1,
          max(CASE WHEN rn = 2 THEN post_q END) AS p2,
          max(CASE WHEN rn = 1 THEN cls END) AS predicted
        FROM ranked WHERE rn <= 2 GROUP BY id),
      m AS (SELECT id, predicted,
          p1 - coalesce(p2, p1) AS margin_q FROM top2),
      rk AS (SELECT predicted, id, margin_q, row_number() OVER (
          PARTITION BY predicted ORDER BY margin_q, id) AS rnk FROM m)
      SELECT predicted, CAST(rnk AS BIGINT) AS rnk, id AS doc_id, margin_q
      FROM rk WHERE rnk <= 5 ORDER BY predicted, rnk"""))

  /** Join-key skew profile ([[graft.operators.ScaleOps.keySkewProfile]])
    * over events.user_id: top-20 hot keys + distribution entropy — the
    * "should I salt this join?" pre-flight. */
  private[graft] val q197 = QuerySpec(
    "q197_key_skew_profile",
    (s, dir) => graft.operators.ScaleOps.keySkewProfile(
        t(s, dir, "events"), "user_id", topK = 20)
      .orderBy(col("rnk")),
    Some("""WITH counts AS (SELECT CAST(user_id AS VARCHAR) AS key,
          CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
      n AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
          CAST(count(*) AS BIGINT) AS n_keys FROM counts),
      ent AS (SELECT CAST(sum(CAST(floor(
            -(CAST(c AS DOUBLE) / CAST(n_rows AS DOUBLE)) *
            ln(CAST(c AS DOUBLE) / CAST(n_rows AS DOUBLE)) * 1000000.0
            + 0.5) AS BIGINT)) AS BIGINT) AS entropy_micro
        FROM counts CROSS JOIN n),
      topk AS (SELECT key, c, row_number() OVER (ORDER BY c DESC, key)
          AS rnk FROM counts)
      SELECT CAST(rnk AS BIGINT) AS rnk, key, c AS n_rows_key,
        n_rows, n_keys,
        CAST((c * 1000000) // n_rows AS BIGINT) AS share_micro,
        entropy_micro
      FROM topk CROSS JOIN n CROSS JOIN ent
      WHERE rnk <= 20 ORDER BY rnk"""))

  /** Frequency-threshold vocabulary curve
    * ([[TextAnalysis.vocabThresholdCurve]]): vocab size / coverage / OOV
    * at each candidate min_count floor — the "where does the Zipf tail
    * stop paying for itself" knee-finder, q183's complementary axis. */
  private[graft] val q198 = {
    val grid = Seq(1L, 2L, 3L, 5L, 10L, 20L, 50L, 100L)
    QuerySpec(
      "q198_vocab_threshold_curve",
      (s, dir) => TextAnalysis.vocabThresholdCurve(t(s, dir, "documents"),
          "text", grid)
        .orderBy(col("min_count")),
      Some(s"""WITH toks AS (SELECT unnest(str_split(text, ' ')) AS tok
            FROM documents),
        types AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
          FROM toks GROUP BY 1),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS total_types,
            CAST(sum(c) AS BIGINT) AS t_total FROM types),
        grid AS (SELECT unnest([${grid.mkString(", ")}]::BIGINT[])
            AS min_count),
        per AS (SELECT min_count,
            CAST(count(*) FILTER (WHERE c >= min_count) AS BIGINT)
              AS vocab_size,
            CAST(coalesce(sum(c) FILTER (WHERE c >= min_count), 0)
              AS BIGINT) AS kept_tokens
          FROM types CROSS JOIN grid GROUP BY 1)
        SELECT min_count, vocab_size, total_types, kept_tokens,
          t_total AS total_tokens,
          CAST((kept_tokens * 1000000) // t_total AS BIGINT)
            AS coverage_micro,
          CAST(((t_total - kept_tokens) * 1000000) // t_total AS BIGINT)
            AS oov_micro
        FROM per CROSS JOIN tot ORDER BY min_count"""))
  }

  /** Source × language joint census with independence lift
    * ([[graft.operators.DataChecks.jointCensus]]): which sources
    * over/under-produce which languages — 1e6 = independent mix. */
  private[graft] val q199 = QuerySpec(
    "q199_source_lang_census",
    (s, dir) => graft.operators.DataChecks.jointCensus(
        t(s, dir, "documents"), col("source"), col("lang"))
      .select(col("x").as("source"), col("y").as("lang"), col("n"),
        col("n_x").as("n_source"), col("n_y").as("n_lang"),
        col("n_total"), col("lift_micro"))
      .orderBy(col("source"), col("lang")),
    Some("""WITH cells AS (SELECT source, lang,
          CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1, 2),
      rm AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_source
        FROM cells GROUP BY 1),
      cm AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang
        FROM cells GROUP BY 1),
      tt AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM cells)
      SELECT source, lang, n, n_source, n_lang, n_total,
        CAST(floor((CAST(n AS DOUBLE) / CAST(n_source AS DOUBLE)) *
          (CAST(n_total AS DOUBLE) / CAST(n_lang AS DOUBLE)) *
          1000000.0 + 0.5) AS BIGINT) AS lift_micro
      FROM cells JOIN rm USING (source) JOIN cm USING (lang) CROSS JOIN tt
      ORDER BY source, lang"""))

  /** Session entry/exit census ([[graft.operators.EventOps
    * .sessionEntryExit]]): per landing event type, sessions opened,
    * bounce rate, mean session length — q30's sessionization turned into
    * the acquisition-leak report. */
  private[graft] val q200 = QuerySpec(
    "q200_session_entry_exit",
    (s, dir) => graft.operators.EventOps.sessionEntryExit(
        t(s, dir, "events"), "user_id", gapSec = 1800)
      .orderBy(col("entry_type")),
    Some("""WITH marked AS (SELECT user_id, ts, event_id, event_type,
        CASE WHEN lag(ts) OVER w IS NULL
               OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
             THEN 1 ELSE 0 END AS new_s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      grp AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
          ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked),
      grp2 AS (SELECT *,
          row_number() OVER (PARTITION BY user_id, sid
            ORDER BY ts, event_id) AS rn_a,
          row_number() OVER (PARTITION BY user_id, sid
            ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM grp),
      sess AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
          max(CASE WHEN rn_a = 1 THEN event_type END) AS entry_type,
          max(CASE WHEN rn_d = 1 THEN event_type END) AS exit_type
        FROM grp2 GROUP BY 1, 2),
      census AS (SELECT entry_type,
          CAST(count(*) AS BIGINT) AS n_sessions,
          CAST(count(*) FILTER (WHERE n_events = 1) AS BIGINT) AS n_bounces,
          CAST(sum(n_events) AS BIGINT) AS n_ev,
          CAST(count(*) FILTER (WHERE exit_type = entry_type) AS BIGINT)
            AS n_exit_same
        FROM sess GROUP BY 1)
      SELECT entry_type, n_sessions, n_bounces,
        CAST((n_bounces * 1000000) // n_sessions AS BIGINT) AS bounce_micro,
        CAST((n_ev * 1000000) // n_sessions AS BIGINT) AS len_micro,
        n_exit_same
      FROM census ORDER BY entry_type"""))

  /** Capped-vocabulary naive-Bayes twin
    * ([[TextAnalysis.naiveBayesHashedPredict]]): q109's classifier with
    * hashed features (q148's md5-bucket trick, dim = 64) instead of the
    * raw vocabulary — the 100-TB-safe variant whose model frame is FIXED
    * width (dim × classes) no matter how the corpus vocabulary grows, so
    * its 10×/100× factors stay flat where the exact model's track the
    * vocab. Same micro-nat integer posterior contract; argmax ties break
    * by class name in both engines. */
  /** The hashed-NB CTE chain (ends in `ranked(id, label, cls, post_q,
    * rn)`) — shared by q201's predict row and q220's hashed-kappa row,
    * and the hashed mirror of [[NbOracleCtes]]. */
  private[graft] val NbHashedOracleCtes: String =
    """tk AS (SELECT doc_id AS id, lang AS label,
          unnest(str_split(text, ' ')) AS tok
        FROM documents),
      tfh AS (SELECT id, label,
          (('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 + 64) % 64 AS idx,
          CAST(count(*) AS BIGINT) AS c
        FROM tk GROUP BY 1, 2, 3),
      ckt AS (SELECT label AS cls, idx, CAST(sum(c) AS BIGINT) AS kct
        FROM tfh GROUP BY 1, 2),
      ctot AS (SELECT cls, CAST(sum(kct) AS BIGINT) AS ctot FROM ckt GROUP BY 1),
      dpc AS (SELECT lang AS cls, count(*) AS nd FROM documents GROUP BY 1),
      tot AS (SELECT count(*) AS ntot FROM documents),
      priors AS (SELECT cls,
          CAST(round(ln(CAST(nd AS DOUBLE) / ntot) * 1000000.0, 0) AS BIGINT)
            AS prq
        FROM dpc CROSS JOIN tot),
      model AS (SELECT g.i AS idx, ct.cls,
          CAST(round(ln((coalesce(k.kct, 0) + 1.0) / (ct.ctot + 64))
            * 1000000.0, 0) AS BIGINT) AS llq
        FROM range(64) g(i) CROSS JOIN ctot ct
        LEFT JOIN ckt k ON k.idx = g.i AND k.cls = ct.cls),
      post AS (SELECT tfh.id, tfh.label, m.cls,
          CAST(sum(tfh.c * m.llq) AS BIGINT) AS ll
        FROM tfh JOIN model m ON m.idx = tfh.idx GROUP BY 1, 2, 3),
      scored AS (SELECT post.id, post.label, post.cls,
          post.ll + p.prq AS post_q
        FROM post JOIN priors p ON p.cls = post.cls),
      ranked AS (SELECT id, label, cls, post_q, row_number() OVER (
          PARTITION BY id ORDER BY post_q DESC, cls) AS rn
        FROM scored)"""

  private[graft] val q201 = QuerySpec(
    "q201_nb_hashed_predict",
    (s, dir) => TextAnalysis.naiveBayesHashedPredict(
        t(s, dir, "documents"), "doc_id", "text", "lang", dim = 64)
      .orderBy(col("id")),
    Some(s"""WITH $NbHashedOracleCtes
      SELECT id, label, cls AS predicted, post_q, (cls = label) AS correct
      FROM ranked WHERE rn = 1 ORDER BY id"""))

  /** Streaming driver-gate row ([[graft.streaming.EventStreams
    * .funnelReplay]]): the live funnel tracker run through a REAL
    * MemoryStream micro-batch script — three global time slices, so every
    * user's events arrive in order and the at-arrival stream walk equals
    * the batch-greedy walk exactly. The oracle replays that greedy walk
    * in SQL: stage k's advance is the first event of the k-th step type
    * strictly after stage k−1's advance in (ts, event_id) order. This is
    * the EventStreams family's first CORRECTNESS row (previously
    * spec-only): it exercises flatMapGroupsWithState, cross-batch state
    * carry, and completed-user state drop under the driver gate. */
  private[graft] val q202 = QuerySpec(
    "q202_stream_funnel_replay",
    (s, dir) => {
      val ev = graft.streaming.EventStreams.withEventTime(t(s, dir, "events"))
        .where(col("user_id") % 5 === 0)
      graft.streaming.EventStreams.funnelReplay(s, ev,
          Seq("signup", "view", "purchase"), nBatches = 3)
        .orderBy("user_id", "stage")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id,
          event_type
        FROM events WHERE user_id % 5 = 0),
      s1 AS (SELECT user_id, ts, event_id FROM (
          SELECT user_id, ts, event_id, row_number() OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM e WHERE event_type = 'signup') WHERE rn = 1),
      s2 AS (SELECT user_id, ts, event_id FROM (
          SELECT e.user_id, e.ts, e.event_id, row_number() OVER (
            PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
          FROM e JOIN s1 ON s1.user_id = e.user_id
          WHERE e.event_type = 'view'
            AND (e.ts, e.event_id) > (s1.ts, s1.event_id)) WHERE rn = 1),
      s3 AS (SELECT user_id, ts, event_id FROM (
          SELECT e.user_id, e.ts, e.event_id, row_number() OVER (
            PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
          FROM e JOIN s2 ON s2.user_id = e.user_id
          WHERE e.event_type = 'purchase'
            AND (e.ts, e.event_id) > (s2.ts, s2.event_id)) WHERE rn = 1),
      adv AS (SELECT user_id, 1 AS stage, 'signup' AS stage_name, ts FROM s1
        UNION ALL SELECT user_id, 2, 'view', ts FROM s2
        UNION ALL SELECT user_id, 3, 'purchase', ts FROM s3)
      SELECT user_id, CAST(stage AS BIGINT) AS stage, stage_name,
        CAST(ts AS BIGINT) AS ts_us
      FROM adv ORDER BY user_id, stage"""))

  /** The bitext miner's 100-TB path ([[Similarity.bitextMarginMineLsh]]):
    * the round-12 scale audit caught the exact twin's (q175) quadratic
    * cliff at 100× — by construction, it scores |src|·|tgt| pairs. This
    * twin generates candidates from OR-amplified sign-LSH collisions (the
    * q83 table family), scores ONLY colliding pairs, and runs the same
    * ratio-margin + mutual-best algebra over the candidate k-NN lists —
    * how production CCMatrix mining uses FAISS kNN lists. The oracle
    * replays every signature from the identical md5 plane weights, so the
    * approximate result value-matches exactly. */
  private[graft] val q203 = {
    val (k, minMargin, tables, planes) = (4, 1.0, 3, 8)
    val cosSql = (a: String, b: String) =>
      s"""list_reduce(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]),
          (x, y) -> x + y) /
        (sqrt(list_reduce(list_transform(range(1, len($a) + 1), i -> $a[i] * $a[i]),
          (x, y) -> x + y)) *
         sqrt(list_reduce(list_transform(range(1, len($b) + 1), i -> $b[i] * $b[i]),
          (x, y) -> x + y)))"""
    val sigSql = (src: String) =>
      s"""SELECT vec_id, embedding::DOUBLE[] AS v,
          list_transform(range(0, $tables), t ->
            list_reduce(list_transform(range(0, $planes), p ->
              CASE WHEN list_reduce(list_transform(range(1, len(embedding) + 1), i ->
                  embedding[i]::DOUBLE *
                    ((('0x' || substr(md5((t * $planes + p)::VARCHAR || '_' ||
                        (i - 1)::VARCHAR), 1, 15))::BIGINT
                      % 2147483647)::DOUBLE / 2147483647.0 - 0.5)),
                (x, y) -> x + y) >= 0 THEN 1 << p ELSE 0 END),
              (x, y) -> x + y)) AS buckets
        FROM $src"""
    QuerySpec(
      "q203_bitext_margin_lsh",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bitextMarginMineLsh(
            emb.where(col("label") === 0), emb.where(col("label") === 1),
            k = k, minMargin = minMargin, numTables = tables,
            numPlanes = planes)
          .select(col("src_id"), col("tgt_id"),
            round(col("cosine"), 6).as("cosine"),
            round(col("margin"), 6).as("margin"))
          .orderBy(col("src_id"))
      },
      Some(s"""WITH siga AS (${sigSql("(SELECT * FROM embeddings WHERE label = 0)")}),
        sigb AS (${sigSql("(SELECT * FROM embeddings WHERE label = 1)")}),
        ta AS (SELECT vec_id AS src_id, v AS av, t.t AS t,
            buckets[t.t + 1] AS bucket
          FROM siga, range(0, $tables) AS t(t)),
        tb AS (SELECT vec_id AS tgt_id, v AS bv, t.t AS t,
            buckets[t.t + 1] AS bucket
          FROM sigb, range(0, $tables) AS t(t)),
        cand AS (SELECT DISTINCT src_id, tgt_id
          FROM ta JOIN tb USING (t, bucket)),
        scored0 AS (SELECT c.src_id, c.tgt_id,
            ${cosSql("sa.v", "sb.v")} AS cosine
          FROM cand c
          JOIN siga sa ON sa.vec_id = c.src_id
          JOIN sigb sb ON sb.vec_id = c.tgt_id),
        scored AS (SELECT src_id, tgt_id, cosine,
            row_number() OVER (PARTITION BY src_id
              ORDER BY cosine DESC, tgt_id ASC) AS xrn,
            row_number() OVER (PARTITION BY tgt_id
              ORDER BY cosine DESC, src_id ASC) AS yrn
          FROM scored0),
        da AS (SELECT src_id,
            list_reduce(list_transform(
              list_sort(list({'r': xrn, 'c': cosine})), s -> s.c),
              (x, y) -> x + y) / CAST(count(*) AS DOUBLE) AS da
          FROM scored WHERE xrn <= $k GROUP BY 1),
        db AS (SELECT tgt_id,
            list_reduce(list_transform(
              list_sort(list({'r': yrn, 'c': cosine})), s -> s.c),
              (x, y) -> x + y) / CAST(count(*) AS DOUBLE) AS db
          FROM scored WHERE yrn <= $k GROUP BY 1),
        margins AS (SELECT s.src_id, s.tgt_id, s.cosine,
            s.cosine / ((da.da + db.db) / 2.0) AS margin
          FROM scored s JOIN da USING (src_id) JOIN db USING (tgt_id)),
        best AS (SELECT src_id, tgt_id, cosine, margin,
            row_number() OVER (PARTITION BY src_id
              ORDER BY margin DESC, tgt_id ASC) AS f,
            row_number() OVER (PARTITION BY tgt_id
              ORDER BY margin DESC, src_id ASC) AS w
          FROM margins)
        SELECT src_id, tgt_id, round(cosine, 6) AS cosine,
          round(margin, 6) AS margin
        FROM best WHERE f = 1 AND w = 1 AND margin >= $minMargin
        ORDER BY src_id"""))
  }

  /** The self-sizing successor to q203 ([[Similarity
    * .bitextMarginMineLshAuto]]): round 12 measured the FIXED 3×2⁸ bucket
    * structure at 25.8× time for 10× data — per-bucket candidate volume
    * grows quadratically once the corpus outgrows `tables × 2^planes`.
    * This row derives `numPlanes` from the side counts via
    * [[Similarity.lshPlanesFor]] (ceil-division + bit-length — integer
    * arithmetic, NOT floating log2, so the oracle re-derives the identical
    * value from its own count(*) with `length(bin(m-1))`), keeping
    * expected bucket occupancy ≈ targetBucket at ANY corpus size. The
    * mining algebra is q203's verbatim; only the structure sizing is new,
    * so the two rows green together prove sizing changes candidates, not
    * semantics. */
  private[graft] val q204 = {
    val (k, minMargin, tables, targetBucket) = (4, 1.0, 3, 4L)
    val (minPlanes, maxPlanes) = (2, 28)
    val cosSql = (a: String, b: String) =>
      s"""list_reduce(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]),
          (x, y) -> x + y) /
        (sqrt(list_reduce(list_transform(range(1, len($a) + 1), i -> $a[i] * $a[i]),
          (x, y) -> x + y)) *
         sqrt(list_reduce(list_transform(range(1, len($b) + 1), i -> $b[i] * $b[i]),
          (x, y) -> x + y)))"""
    // identical md5 plane family as q203, but the plane count comes from
    // the cross-joined `pr` CTE instead of a baked literal
    val sigSql = (src: String) =>
      s"""SELECT vec_id, embedding::DOUBLE[] AS v,
          list_transform(range(0, $tables), t ->
            list_reduce(list_transform(range(0, pr.planes), p ->
              CASE WHEN list_reduce(list_transform(range(1, len(embedding) + 1), i ->
                  embedding[i]::DOUBLE *
                    ((('0x' || substr(md5((t * pr.planes + p)::VARCHAR || '_' ||
                        (i - 1)::VARCHAR), 1, 15))::BIGINT
                      % 2147483647)::DOUBLE / 2147483647.0 - 0.5)),
                (x, y) -> x + y) >= 0 THEN 1 << p ELSE 0 END),
              (x, y) -> x + y)) AS buckets
        FROM $src CROSS JOIN pr"""
    QuerySpec(
      "q204_bitext_lsh_auto",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bitextMarginMineLshAuto(
            emb.where(col("label") === 0), emb.where(col("label") === 1),
            k = k, minMargin = minMargin, numTables = tables,
            targetBucket = targetBucket)
          .select(col("src_id"), col("tgt_id"),
            round(col("cosine"), 6).as("cosine"),
            round(col("margin"), 6).as("margin"))
          .orderBy(col("src_id"))
      },
      Some(s"""WITH np AS (SELECT greatest(
            (SELECT count(*) FROM embeddings WHERE label = 0),
            (SELECT count(*) FROM embeddings WHERE label = 1)) AS n),
        pr AS (SELECT CAST(greatest($minPlanes, least($maxPlanes,
            CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END)) AS INT)
              AS planes
          FROM (SELECT CAST((n + $targetBucket - 1) // $targetBucket AS BIGINT)
              AS m FROM np)),
        siga AS (${sigSql("(SELECT * FROM embeddings WHERE label = 0)")}),
        sigb AS (${sigSql("(SELECT * FROM embeddings WHERE label = 1)")}),
        ta AS (SELECT vec_id AS src_id, v AS av, t.t AS t,
            buckets[t.t + 1] AS bucket
          FROM siga, range(0, $tables) AS t(t)),
        tb AS (SELECT vec_id AS tgt_id, v AS bv, t.t AS t,
            buckets[t.t + 1] AS bucket
          FROM sigb, range(0, $tables) AS t(t)),
        cand AS (SELECT DISTINCT src_id, tgt_id
          FROM ta JOIN tb USING (t, bucket)),
        scored0 AS (SELECT c.src_id, c.tgt_id,
            ${cosSql("sa.v", "sb.v")} AS cosine
          FROM cand c
          JOIN siga sa ON sa.vec_id = c.src_id
          JOIN sigb sb ON sb.vec_id = c.tgt_id),
        scored AS (SELECT src_id, tgt_id, cosine,
            row_number() OVER (PARTITION BY src_id
              ORDER BY cosine DESC, tgt_id ASC) AS xrn,
            row_number() OVER (PARTITION BY tgt_id
              ORDER BY cosine DESC, src_id ASC) AS yrn
          FROM scored0),
        da AS (SELECT src_id,
            list_reduce(list_transform(
              list_sort(list({'r': xrn, 'c': cosine})), s -> s.c),
              (x, y) -> x + y) / CAST(count(*) AS DOUBLE) AS da
          FROM scored WHERE xrn <= $k GROUP BY 1),
        db AS (SELECT tgt_id,
            list_reduce(list_transform(
              list_sort(list({'r': yrn, 'c': cosine})), s -> s.c),
              (x, y) -> x + y) / CAST(count(*) AS DOUBLE) AS db
          FROM scored WHERE yrn <= $k GROUP BY 1),
        margins AS (SELECT s.src_id, s.tgt_id, s.cosine,
            s.cosine / ((da.da + db.db) / 2.0) AS margin
          FROM scored s JOIN da USING (src_id) JOIN db USING (tgt_id)),
        best AS (SELECT src_id, tgt_id, cosine, margin,
            row_number() OVER (PARTITION BY src_id
              ORDER BY margin DESC, tgt_id ASC) AS f,
            row_number() OVER (PARTITION BY tgt_id
              ORDER BY margin DESC, src_id ASC) AS w
          FROM margins)
        SELECT src_id, tgt_id, round(cosine, 6) AS cosine,
          round(margin, 6) AS margin
        FROM best WHERE f = 1 AND w = 1 AND margin >= $minMargin
        ORDER BY src_id"""))
  }

  /** q189's conformal sets over the HASHED classifier ([[TextAnalysis
    * .conformalSetsHashed]], dim = 64 — q201's fixed-width model): round
    * 12 measured the exact row's second decade at 9.8×, inherited from the
    * corpus-tracking vocab model its posterior build pays for; this twin's
    * model frame is `dim × |classes|` at any corpus size, so its decade
    * factors track data, not vocabulary. Split-conformal validity holds
    * for any score function, so the guarantee survives hashing — only set
    * size pays for collisions. The oracle composes q201's hashed-posterior
    * CTEs with q189's conformal CTEs verbatim. */
  private[graft] val q205 = {
    val alphas = Seq(50L, 100L, 200L)
    QuerySpec(
      "q205_conformal_hashed",
      (s, dir) => TextAnalysis.conformalSetsHashed(t(s, dir, "documents"),
          "doc_id", "text", "lang", alphas, _ % 2 === 0, dim = 64)
        .orderBy(col("alpha_permille")),
      Some(s"""WITH tk AS (SELECT doc_id AS id, lang AS label,
            unnest(str_split(text, ' ')) AS tok
          FROM documents),
        tfh AS (SELECT id, label,
            (('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 + 64) % 64 AS idx,
            CAST(count(*) AS BIGINT) AS c
          FROM tk GROUP BY 1, 2, 3),
        ckt AS (SELECT label AS cls, idx, CAST(sum(c) AS BIGINT) AS kct
          FROM tfh GROUP BY 1, 2),
        ctot AS (SELECT cls, CAST(sum(kct) AS BIGINT) AS ctot FROM ckt GROUP BY 1),
        dpc AS (SELECT lang AS cls, count(*) AS nd FROM documents GROUP BY 1),
        tot AS (SELECT count(*) AS ntot FROM documents),
        priors AS (SELECT cls,
            CAST(round(ln(CAST(nd AS DOUBLE) / ntot) * 1000000.0, 0) AS BIGINT)
              AS prq
          FROM dpc CROSS JOIN tot),
        model AS (SELECT g.i AS idx, ct.cls,
            CAST(round(ln((coalesce(k.kct, 0) + 1.0) / (ct.ctot + 64))
              * 1000000.0, 0) AS BIGINT) AS llq
          FROM range(64) g(i) CROSS JOIN ctot ct
          LEFT JOIN ckt k ON k.idx = g.i AND k.cls = ct.cls),
        post AS (SELECT tfh.id, tfh.label, m.cls,
            CAST(sum(tfh.c * m.llq) AS BIGINT) AS ll
          FROM tfh JOIN model m ON m.idx = tfh.idx GROUP BY 1, 2, 3),
        scored AS (SELECT post.id, post.label, post.cls,
            post.ll + p.prq AS post_q
          FROM post JOIN priors p ON p.cls = post.cls),
        ranked AS (SELECT id, label, cls, post_q, row_number() OVER (
            PARTITION BY id ORDER BY post_q DESC, cls) AS rn
          FROM scored),
        p12 AS (SELECT id, max(CASE WHEN rn = 1 THEN post_q END) AS p1,
            max(CASE WHEN rn = 2 THEN post_q END) AS p2
          FROM ranked WHERE rn <= 2 GROUP BY 1),
        nc AS (SELECT r.id, r.label, r.cls,
            (CASE WHEN r.rn = 1 THEN coalesce(p12.p2, p12.p1)
              ELSE p12.p1 END - r.post_q) // 1000 AS nc_mq,
            (r.id % 2 = 0) AS is_cal
          FROM ranked r JOIN p12 ON p12.id = r.id),
        caln AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM nc
          WHERE is_cal AND cls = label),
        calc AS (SELECT nc_mq, sum(count(*)) OVER (ORDER BY nc_mq) AS cum
          FROM nc WHERE is_cal AND cls = label GROUP BY nc_mq),
        grid AS (SELECT unnest([${alphas.mkString(", ")}]::BIGINT[])
            AS alpha_permille),
        ks AS (SELECT alpha_permille, n_cal,
            ((n_cal + 1) * (1000 - alpha_permille) + 999) // 1000 AS k_rank
          FROM grid CROSS JOIN caln),
        thr AS (SELECT alpha_permille, n_cal, k_rank,
            min(CASE WHEN cum >= k_rank THEN nc_mq END) AS threshold_mq
          FROM ks CROSS JOIN calc GROUP BY 1, 2, 3),
        ev AS (SELECT * FROM nc WHERE NOT is_cal),
        agg AS (SELECT t.alpha_permille, t.n_cal, t.k_rank, t.threshold_mq,
            CAST(count(DISTINCT e.id) AS BIGINT) AS n_eval,
            CAST(count(*) FILTER (WHERE e.cls = e.label AND
              (t.threshold_mq IS NULL OR e.nc_mq <= t.threshold_mq))
              AS BIGINT) AS n_covered,
            CAST(count(*) FILTER (WHERE t.threshold_mq IS NULL OR
              e.nc_mq <= t.threshold_mq) AS BIGINT) AS set_size_sum
          FROM thr t CROSS JOIN ev e GROUP BY 1, 2, 3, 4)
        SELECT alpha_permille, n_cal, CAST(k_rank AS BIGINT) AS k_rank,
          threshold_mq, n_eval, n_covered,
          CAST((n_covered * 1000000) // n_eval AS BIGINT) AS coverage_micro,
          set_size_sum,
          CAST((set_size_sum * 1000000) // n_eval AS BIGINT)
            AS avg_set_size_micro
        FROM agg ORDER BY alpha_permille"""))
  }

  /** Second streaming driver-gate row ([[graft.streaming.EventStreams
    * .lastTouchReplay]]): the live last-touch attributor run through the
    * q202 replay harness — 3 global time slices through a real
    * MemoryStream, so at-arrival credits equal the batch walk and the
    * oracle can replay them: each purchase credits the latest click/view
    * strictly before it in (ts, event_id) order ("direct" when none),
    * via a frame-bounded last_value IGNORE NULLS window. Exercises
    * cross-batch SWAP state (one channel string replaced as touches
    * arrive; a batch-1 touch must credit a batch-3 conversion). */
  private[graft] val q206 = QuerySpec(
    "q206_stream_last_touch",
    (s, dir) => {
      val ev = graft.streaming.EventStreams.withEventTime(t(s, dir, "events"))
        .where(col("user_id") % 5 === 1)
      graft.streaming.EventStreams.lastTouchReplay(s, ev,
          Seq("click", "view"), "purchase", nBatches = 3)
        .select(col("user_id"), col("channel"),
          round(col("value"), 6).as("value"), col("ts_us"))
        .orderBy("user_id", "ts_us", "channel")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id,
          event_type, value
        FROM events WHERE user_id % 5 = 1
          AND event_type IN ('click', 'view', 'purchase')),
      walk AS (SELECT user_id, ts, value, event_type,
          last_value(CASE WHEN event_type IN ('click', 'view')
              THEN event_type END IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ch
        FROM e)
      SELECT user_id, coalesce(ch, 'direct') AS channel,
        round(value, 6) AS value, CAST(ts AS BIGINT) AS ts_us
      FROM walk WHERE event_type = 'purchase'
      ORDER BY user_id, ts_us, channel"""))

  /** Third streaming driver-gate row ([[graft.streaming.EventStreams
    * .linearReplay]]): the equal-split attributor through the same replay
    * harness, 4 slices — the per-batch MERGE-state complement to q206's
    * swap state (the distinct-touch SET unions across batches; verdict
    * item 4's ask). Each purchase emits value/|set| per channel seen
    * strictly before it; the oracle rebuilds every split set with a
    * distinct pair join + a per-conversion count window, and the division
    * is the same single IEEE op in both engines. */
  private[graft] val q207 = QuerySpec(
    "q207_stream_linear_split",
    (s, dir) => {
      val ev = graft.streaming.EventStreams.withEventTime(t(s, dir, "events"))
        .where(col("user_id") % 5 === 2)
      graft.streaming.EventStreams.linearReplay(s, ev,
          Seq("click", "view"), "purchase", nBatches = 4)
        .select(col("user_id"), col("channel"),
          round(col("value"), 6).as("value"), col("ts_us"))
        .orderBy("user_id", "ts_us", "channel")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id,
          event_type, value
        FROM events WHERE user_id % 5 = 2
          AND event_type IN ('click', 'view', 'purchase')),
      conv AS (SELECT user_id, ts, event_id, value FROM e
        WHERE event_type = 'purchase'),
      tch AS (SELECT user_id, ts, event_id, event_type FROM e
        WHERE event_type IN ('click', 'view')),
      sets AS (SELECT DISTINCT c.user_id, c.ts, c.event_id, c.value,
          t.event_type AS ch
        FROM conv c JOIN tch t ON t.user_id = c.user_id
          AND (t.ts, t.event_id) < (c.ts, c.event_id)),
      sized AS (SELECT user_id, ts, event_id, value, ch,
          count(*) OVER (PARTITION BY user_id, ts, event_id) AS n
        FROM sets),
      credits AS (SELECT user_id, ch AS channel, value / n AS value, ts
          FROM sized
        UNION ALL
        SELECT c.user_id, 'direct', c.value, c.ts FROM conv c
        WHERE NOT EXISTS (SELECT 1 FROM tch t
          WHERE t.user_id = c.user_id
            AND (t.ts, t.event_id) < (c.ts, c.event_id)))
      SELECT user_id, channel, round(value, 6) AS value,
        CAST(ts AS BIGINT) AS ts_us
      FROM credits ORDER BY user_id, ts_us, channel"""))

  /** Watermark-ordered streaming gate ([[graft.streaming.EventStreams
    * .lastTouchReplayOrdered]]): the attribution stream fed THREE
    * round-robin (event_id % 3) slices — every micro-batch spans the
    * whole time range, so an at-arrival attributor would mis-credit;
    * the ordered variant buffers rows in state until the watermark
    * passes them and replays in event-time order, so its output under
    * this deliberately disordered feed must STILL equal the batch
    * attribution — which is exactly what the oracle computes (q206's
    * last_value window). Exercises watermark advancement, in-state
    * buffering, EventTimeTimeout wake, and the sentinel flush. */
  private[graft] val q208 = QuerySpec(
    "q208_stream_ordered_touch",
    (s, dir) => {
      val ev = graft.streaming.EventStreams.withEventTime(t(s, dir, "events"))
        .where(col("user_id") % 5 === 3)
      graft.streaming.EventStreams.lastTouchReplayOrdered(s, ev,
          Seq("click", "view"), "purchase", nSlices = 3)
        .select(col("user_id"), col("channel"),
          round(col("value"), 6).as("value"), col("ts_us"))
        .orderBy("user_id", "ts_us", "channel")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id,
          event_type, value
        FROM events WHERE user_id % 5 = 3
          AND event_type IN ('click', 'view', 'purchase')),
      walk AS (SELECT user_id, ts, value, event_type,
          last_value(CASE WHEN event_type IN ('click', 'view')
              THEN event_type END IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ch
        FROM e)
      SELECT user_id, coalesce(ch, 'direct') AS channel,
        round(value, 6) AS value, CAST(ts AS BIGINT) AS ts_us
      FROM walk WHERE event_type = 'purchase'
      ORDER BY user_id, ts_us, channel"""))

  /** q208's equal-split sibling ([[graft.streaming.EventStreams
    * .linearReplayOrdered]]): under the same disordered feed, the
    * distinct-touch SET each conversion splits over must union up
    * identical to the batch walk — buffered merge-state under disorder,
    * the last spec-only corner of the ordered family now driver-gated. */
  private[graft] val q209 = QuerySpec(
    "q209_stream_ordered_split",
    (s, dir) => {
      val ev = graft.streaming.EventStreams.withEventTime(t(s, dir, "events"))
        .where(col("user_id") % 5 === 4)
      graft.streaming.EventStreams.linearReplayOrdered(s, ev,
          Seq("click", "view"), "purchase", nSlices = 3)
        .select(col("user_id"), col("channel"),
          round(col("value"), 6).as("value"), col("ts_us"))
        .orderBy("user_id", "ts_us", "channel")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id,
          event_type, value
        FROM events WHERE user_id % 5 = 4
          AND event_type IN ('click', 'view', 'purchase')),
      conv AS (SELECT user_id, ts, event_id, value FROM e
        WHERE event_type = 'purchase'),
      tch AS (SELECT user_id, ts, event_id, event_type FROM e
        WHERE event_type IN ('click', 'view')),
      sets AS (SELECT DISTINCT c.user_id, c.ts, c.event_id, c.value,
          t.event_type AS ch
        FROM conv c JOIN tch t ON t.user_id = c.user_id
          AND (t.ts, t.event_id) < (c.ts, c.event_id)),
      sized AS (SELECT user_id, ts, event_id, value, ch,
          count(*) OVER (PARTITION BY user_id, ts, event_id) AS n
        FROM sets),
      credits AS (SELECT user_id, ch AS channel, value / n AS value, ts
          FROM sized
        UNION ALL
        SELECT c.user_id, 'direct', c.value, c.ts FROM conv c
        WHERE NOT EXISTS (SELECT 1 FROM tch t
          WHERE t.user_id = c.user_id
            AND (t.ts, t.event_id) < (c.ts, c.event_id)))
      SELECT user_id, channel, round(value, 6) AS value,
        CAST(ts AS BIGINT) AS ts_us
      FROM credits ORDER BY user_id, ts_us, channel"""))

  /** Third ordered-family gate ([[graft.streaming.EventStreams
    * .transitionReplayOrdered]]): the live (prev → next) transition feed
    * under the q208 disordered round-robin feed — a third state shape
    * (last finalized type + in-horizon buffer, emitting at TRANSITION
    * grain where q208 swaps one string and q209 merges a set). The
    * oracle is the batch lag-window adjacency over (ts, event_id) order:
    * parity under bounded disorder is the variant's contract, so a
    * single out-of-place arrival that slipped past the buffer replay
    * would produce a phantom transition pair and hash-mismatch. */
  private[graft] val q210 = QuerySpec(
    "q210_stream_ordered_transitions",
    (s, dir) => {
      val ev = graft.streaming.EventStreams.withEventTime(t(s, dir, "events"))
        .where(col("user_id") % 7 === 0)
      graft.streaming.EventStreams.transitionReplayOrdered(s, ev, nSlices = 3)
        .orderBy("user_id", "ts_us", "prev_type", "next_type")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id,
          event_type
        FROM events WHERE user_id % 7 = 0),
      seq AS (SELECT user_id, ts, event_type,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS prev
        FROM e)
      SELECT user_id, prev AS prev_type, event_type AS next_type,
        CAST(ts AS BIGINT) AS ts_us
      FROM seq WHERE prev IS NOT NULL
      ORDER BY user_id, ts_us, prev_type, next_type"""))

  /** `transformWithState` under the driver gate ([[graft.streaming
    * .EventStreams.runningTotalsReplay]]) — the Spark-4 arbitrary-state
    * API (typed ValueState, RocksDB provider REQUIRED and scoped by the
    * harness) was the one streaming family q202's recipe had not
    * covered. Update output mode: the memory sink holds one CUMULATIVE
    * (n_events, total_micro) row per user per active time slice, exact
    * because the processor accumulates integer micro-units (fold-order
    * free). The oracle reproduces the slice assignment verbatim —
    * `(ms − lo) / greatest(1, (hi − lo)/3 + 1)` in integer arithmetic —
    * then replays the running count/sum per user in slice order. */
  private[graft] val q211 = QuerySpec(
    "q211_stream_running_totals",
    (s, dir) => {
      val ev = graft.streaming.EventStreams.withEventTime(t(s, dir, "events"))
        .where(col("user_id") % 3 === 1)
      graft.streaming.EventStreams.runningTotalsReplay(s, ev, nBatches = 3)
        .orderBy("user_id", "n_events")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 1000 AS ms, value
        FROM events WHERE user_id % 3 = 1),
      span AS (SELECT min(ms) AS lo, max(ms) AS hi FROM e),
      sl AS (SELECT user_id, value,
          (ms - lo) // greatest(1, (hi - lo) // 3 + 1) AS slice
        FROM e CROSS JOIN span),
      per AS (SELECT user_id, slice, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
            AS BIGINT) AS m
        FROM sl GROUP BY 1, 2),
      cum AS (SELECT user_id,
          CAST(sum(n) OVER w AS BIGINT) AS n_events,
          CAST(sum(m) OVER w AS BIGINT) AS total_micro
        FROM per
        WINDOW w AS (PARTITION BY user_id ORDER BY slice
          ROWS UNBOUNDED PRECEDING))
      SELECT user_id, n_events, total_micro FROM cum
      ORDER BY user_id, n_events"""))

  /** q152 over a BUCKETED orders/lineitem layout — the 100-TB fix for the
    * fact-to-fact join shuffle that is q152's entire cost: both tables are
    * written once per corpus via `bucketBy(32, orderkey)` + `sortBy`
    * ([[graft.operators.ScaleOps.ensureBucketed]]), so the join plans as a
    * SortMergeJoin over co-located bucketed scans with NO shuffle exchange
    * on either side (asserted in PlanAuditSpec) — pay the exchange once at
    * write time, not per query. Warmup passes absorb the one-time write;
    * timed passes measure the exchange-free join. Identical results to
    * q152 by construction (shared [[shippingLagAgg]], same oracle). */
  private[graft] val q212 = QuerySpec(
    "q212_shipping_lag_bucketed",
    (s, dir) => {
      import graft.operators.ScaleOps
      val ord = ScaleOps.ensureBucketed(t(s, dir, "orders"),
        ScaleOps.bucketTableName("graft_bkt_orders", dir), 32,
        Seq("o_orderkey"))
      val li = ScaleOps.ensureBucketed(t(s, dir, "lineitem"),
        ScaleOps.bucketTableName("graft_bkt_lineitem", dir), 32,
        Seq("l_orderkey"))
      shippingLagAgg(ord, li)
    },
    Some(shippingLagOracle))

  /** q159's cross-language duplicate leak, JOIN-FREE
    * ([[graft.operators.Dedup.crossTagDupPairs]]): one fingerprint pass +
    * one fp-keyed aggregation + group-local pair expansion, instead of the
    * self-join that fingerprints the corpus twice (the broadcast tier has
    * no exchange to reuse) and shuffles it twice at the sort-merge tier.
    * Identical output to q159 (same oracle); both forms' output volume is
    * Σ C(|dup-group|, 2)-bounded. */
  private[graft] val q213 = QuerySpec(
    "q213_crosslang_dups_grouped",
    (s, dir) => graft.operators.Dedup.crossTagDupPairs(
        seededDocs(s, dir), "doc_id", "lang", "text")
      .select(col("id_a"), col("id_b"),
        col("tag_a").as("lang_a"), col("tag_b").as("lang_b"))
      .orderBy("id_a", "id_b"),
    Some(crossLangDupsOracle))

  /** q213 over an fp-BUCKETED (id, tag, fp) layout — the q212
    * bucketed-fact pattern applied to the dedup family: the corpus is
    * fingerprinted and written ONCE per corpus via `bucketBy(32, fp)`
    * ([[graft.operators.ScaleOps.ensureBucketed]]), so the fp-keyed
    * duplicate-group aggregation runs over co-located bucketed scans with
    * NO shuffle exchange below the aggregate (asserted in PlanAuditSpec) —
    * repeated dup sweeps over a warehoused corpus (cross-tag leaks, exact
    * groups, incremental re-checks) reuse the layout instead of
    * re-shuffling 100 TB of fingerprints every query. NULL fingerprints
    * are dropped at write time (the FromFp entry point's documented
    * precondition). Identical output to q159/q213 (same oracle). */
  private[graft] val q214 = QuerySpec(
    "q214_crosslang_dups_bucketed",
    (s, dir) => {
      import graft.operators.ScaleOps
      val fp = ScaleOps.ensureBucketed(
        seededDocs(s, dir).select(col("doc_id").as("id"),
          col("lang").as("tag"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
          .where(col("fp").isNotNull),
        ScaleOps.bucketTableName("graft_bkt_docfp", dir), 32, Seq("fp"))
      Dedup.crossTagDupPairsFromFp(fp)
        .select(col("id_a"), col("id_b"),
          col("tag_a").as("lang_a"), col("tag_b").as("lang_b"))
        .orderBy("id_a", "id_b")
    },
    Some(crossLangDupsOracle))

  /** Streaming CHECKPOINT RECOVERY gate
    * ([[graft.streaming.EventStreams.runningTotalsRestartReplay]]): the
    * per-user running-total stream is stopped after 2 of 4 time slices
    * and a NEW query resumes from the same checkpoint (RocksDB state +
    * offsets + file-sink metadata log) for the rest. The oracle models
    * ONE uninterrupted replay — cumulative (count, micro-sum) per user
    * per active slice — so any state loss or batch re-emission across
    * the restart diverges. The crash-recovery contract the checkpoint
    * machinery exists for, previously gated only for running state
    * WITHIN a single query lifetime (q202/q206–q211). */
  private[graft] val q215 = QuerySpec(
    "q215_stream_restart_totals",
    (s, dir) => {
      val ev = graft.streaming.EventStreams.withEventTime(t(s, dir, "events"))
        .where(col("user_id") % 3 === 2)
      graft.streaming.EventStreams.runningTotalsRestartReplay(s, ev,
          nBatches = 4, killAfter = 2)
        .orderBy("user_id", "n_events")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 1000 AS ms, value
        FROM events WHERE user_id % 3 = 2),
      span AS (SELECT min(ms) AS lo, max(ms) AS hi FROM e),
      sl AS (SELECT user_id, value,
          (ms - lo) // greatest(1, (hi - lo) // 4 + 1) AS slice
        FROM e CROSS JOIN span),
      per AS (SELECT user_id, slice, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
            AS BIGINT) AS m
        FROM sl GROUP BY 1, 2),
      cum AS (SELECT user_id,
          CAST(sum(n) OVER w AS BIGINT) AS n_events,
          CAST(sum(m) OVER w AS BIGINT) AS total_micro
        FROM per
        WINDOW w AS (PARTITION BY user_id ORDER BY slice
          ROWS UNBOUNDED PRECEDING))
      SELECT user_id, n_events, total_micro FROM cum
      ORDER BY user_id, n_events"""))

  /** q33 over a cid-BUCKETED IVF assignment table
    * ([[graft.operators.Similarity.ivfIndexBucketed]]) — the q212/q214
    * warehousing pattern applied to the ANN family: the corpus-sized cell
    * assignment (nlist dot products per vector + per-vector argmax window)
    * runs ONCE at write time and lands bucketed on cid; every subsequent
    * search reads colocated cells and pays only |queries| × nprobe ×
    * cell-size scoring plus the candidate-grain top-k window. The
    * assignment recompute is what [[annIvfOracle]]'s `assigned` CTE models
    * — and what a production index must never pay per query batch.
    * Identical output to q33 (same oracle; plan audited: exactly ONE
    * centroid loop join — the query probe — and a bucket-aware scan). */
  private[graft] val q216 = QuerySpec(
    "q216_ann_ivf_bucketed",
    (s, dir) => {
      import graft.operators.ScaleOps
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfIndexBucketed(emb, nlist = 16,
        ScaleOps.bucketTableName("graft_bkt_ivf", dir), buckets = 16)
      Similarity.ivfSearch(idx, emb.where(col("vec_id") < 8), k = 5,
          nprobe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(annIvfOracle))

  /** Checkpoint recovery for the OTHER stateful machinery
    * ([[graft.streaming.EventStreams.funnelRestartReplay]]): q215 gates
    * transformWithState + RocksDB across a stop/resume; this row gates
    * flatMapGroupsWithState + the default state provider through the same
    * kill-and-resume harness — a user mid-funnel at the restart must
    * resume from the recovered stage, a completed user must stay terminal
    * (state loss re-walks from stage 0 and emits duplicate advances). The
    * oracle is q202's greedy walk over a disjoint user slice: one
    * uninterrupted replay, restart-invisible. */
  private[graft] val q217 = QuerySpec(
    "q217_stream_restart_funnel",
    (s, dir) => {
      val ev = graft.streaming.EventStreams.withEventTime(t(s, dir, "events"))
        .where(col("user_id") % 5 === 1)
      graft.streaming.EventStreams.funnelRestartReplay(s, ev,
          Seq("signup", "view", "purchase"), nBatches = 4, killAfter = 2)
        .orderBy("user_id", "stage")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id,
          event_type
        FROM events WHERE user_id % 5 = 1),
      s1 AS (SELECT user_id, ts, event_id FROM (
          SELECT user_id, ts, event_id, row_number() OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM e WHERE event_type = 'signup') WHERE rn = 1),
      s2 AS (SELECT user_id, ts, event_id FROM (
          SELECT e.user_id, e.ts, e.event_id, row_number() OVER (
            PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
          FROM e JOIN s1 ON s1.user_id = e.user_id
          WHERE e.event_type = 'view'
            AND (e.ts, e.event_id) > (s1.ts, s1.event_id)) WHERE rn = 1),
      s3 AS (SELECT user_id, ts, event_id FROM (
          SELECT e.user_id, e.ts, e.event_id, row_number() OVER (
            PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
          FROM e JOIN s2 ON s2.user_id = e.user_id
          WHERE e.event_type = 'purchase'
            AND (e.ts, e.event_id) > (s2.ts, s2.event_id)) WHERE rn = 1),
      adv AS (SELECT user_id, 1 AS stage, 'signup' AS stage_name, ts FROM s1
        UNION ALL SELECT user_id, 2, 'view', ts FROM s2
        UNION ALL SELECT user_id, 3, 'purchase', ts FROM s3)
      SELECT user_id, CAST(stage AS BIGINT) AS stage, stage_name,
        CAST(ts AS BIGINT) AS ts_us
      FROM adv ORDER BY user_id, stage"""))

  /** Checkpoint recovery for the WATERMARK-ORDERED family
    * ([[graft.streaming.EventStreams.lastTouchRestartReplayOrdered]]):
    * q215/q217 gate running-total and funnel state across a stop/resume,
    * but the ordered attribution twins buffer rows in state AWAITING the
    * watermark — and the kill here lands exactly mid-buffer (the feed's
    * watermark delay spans the whole event range, so at the restart
    * nothing has finalized: every fed row lives in a per-user pending
    * buffer that the resumed query must recover, along with the restored
    * watermark and the event-time timers). RocksDB provider — the
    * recovery-matrix cell the other two gates leave open
    * (flatMapGroupsWithState + EventTimeTimeout + RocksDB). The oracle is
    * the batch last-touch walk: one uninterrupted replay, so a lost
    * buffer (dropped attributions) or a re-emitted batch (doubled ones)
    * diverges. */
  private[graft] val q218 = QuerySpec(
    "q218_stream_restart_ordered",
    (s, dir) => {
      val ev = graft.streaming.EventStreams.withEventTime(t(s, dir, "events"))
        .where(col("user_id") % 7 === 3)
      graft.streaming.EventStreams.lastTouchRestartReplayOrdered(s, ev,
          Seq("click", "view"), "purchase", nSlices = 4, killAfter = 2)
        .select(col("user_id"), col("channel"),
          round(col("value"), 6).as("value"), col("ts_us"))
        .orderBy("user_id", "ts_us", "channel")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id,
          event_type, value
        FROM events WHERE user_id % 7 = 3
          AND event_type IN ('click', 'view', 'purchase')),
      walk AS (SELECT user_id, ts, value, event_type,
          last_value(CASE WHEN event_type IN ('click', 'view')
              THEN event_type END IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ch
        FROM e)
      SELECT user_id, coalesce(ch, 'direct') AS channel,
        round(value, 6) AS value, CAST(ts AS BIGINT) AS ts_us
      FROM walk WHERE event_type = 'purchase'
      ORDER BY user_id, ts_us, channel"""))

  /** q19 over BUCKETED minhash layouts
    * ([[graft.operators.Dedup.minhashCandidatesBucketed]]) — the
    * q212/q214/q216 warehousing pattern applied to the last repeated
    * corpus shuffle in the dedup family: signatures land bucketed on id,
    * band keys land bucketed+sorted on a fused single-column band key, so
    * the LSH self-join and the signature join-backs read co-located
    * buckets with no corpus-side exchange (asserted in PlanAuditSpec);
    * per-sweep shuffle cost is pair-grain only. Identical output to q19
    * (same oracle). */
  private[graft] val q219 = QuerySpec(
    "q219_dedup_minhash_bucketed",
    (s, dir) => {
      import graft.operators.ScaleOps
      Dedup.minhashCandidatesBucketed(
          t(s, dir, "documents"), "doc_id", "text",
          shingleSize = 3, numHashes = 32, bands = 16,
          ScaleOps.bucketTableName("graft_bkt_mhsig", dir),
          ScaleOps.bucketTableName("graft_bkt_mhband", dir))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(minhashOracle(numHashes = 32, bands = 16)))

  /** q180's rater-kappa audit with the HASHED classifier as rater B —
    * shipping the scale path the q180 profile named (round-16): the
    * exact-NB chain is q180's 1×-tier floor AND its vocab-tracking
    * second-decade growth (the model is |vocab|·|classes| rows; suffix
    * replicas multiply vocab). The hashed twin's model is a fixed
    * dim×|classes| grid, so the kappa audit inherits q201's flat-in-vocab
    * shape — the variant a 100-TB corpus would actually run. Same
    * confusion-cell + Cohen's-kappa contract, same heuristic rater A. */
  private[graft] val q220 = QuerySpec(
    "q220_rater_kappa_hashed",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val heur = d.select(col("doc_id"),
        TextAnalysis.langIdGuess(col("text")).as("lang_heur"))
      val nb = TextAnalysis.naiveBayesHashedPredict(
          d, "doc_id", "text", "lang", dim = 64)
        .select(col("id").as("doc_id"), col("predicted"))
      graft.operators.DataChecks.raterAgreement(
          heur.join(nb, "doc_id"), col("lang_heur"), col("predicted"))
        .orderBy(col("a_label"), col("b_label"))
    },
    Some(raterKappaOracle(NbHashedOracleCtes)))

  /** q72's incremental dedup against a PRE-BUILT corpus index
    * ([[graft.operators.Dedup.minhashCandidatesIndexed]]) — closing the
    * last per-batch corpus-sized cost in the production ingest loop:
    * q72 re-shingles and re-signs the standing corpus on every ingest
    * batch; here the corpus signatures/band keys are q219-style bucketed
    * layouts built once per corpus, and a batch pays only its own
    * signatures plus a batch-grain probe into the co-located corpus
    * buckets (zero corpus-side exchange, pinned in PlanAuditSpec). Same
    * (corpus, batch) split as q72 (doc_id % 4), identical output, same
    * oracle. */
  private[graft] val q221 = QuerySpec(
    "q221_incremental_dedup_indexed",
    (s, dir) => {
      import graft.operators.ScaleOps
      val docs = t(s, dir, "documents")
      Dedup.minhashCandidatesIndexed(
          docs.where(col("doc_id") % 4 =!= 0),
          docs.where(col("doc_id") % 4 === 0),
          "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 16,
          sigTable = ScaleOps.bucketTableName("graft_bkt_incsig", dir),
          bandTable = ScaleOps.bucketTableName("graft_bkt_incband", dir))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""WITH ${minhashCtes(numHashes = 32, bands = 16)}
      SELECT id_a, id_b, est_jaccard FROM cand
      WHERE id_a % 4 = 0 OR id_b % 4 = 0
      ORDER BY id_a, id_b"""))

  /** q88's BM25 over a STANDING bucketed postings index
    * ([[graft.operators.Retrieval.bm25TopKIndexed]]) — the warehousing
    * pattern applied to the retrieval family: the full inverted index
    * (every (doc, token) posting) lands once per corpus bucketed+sorted
    * on tok with the 1-row corpus stats beside it; a query batch reads
    * only the bucket-pruned ≤|Q| buckets, aggregates document frequency
    * exchange-free on the bucket layout, and runs the shared scoring
    * tail. Per-query cost O(matched postings), not O(corpus tokens).
    * Identical output to q88 (same oracle). */
  private[graft] val q222 = QuerySpec(
    "q222_bm25_indexed",
    (s, dir) => {
      import graft.operators.ScaleOps
      graft.operators.Retrieval.bm25TopKIndexed(
          t(s, dir, "documents"), "doc_id", "text",
          Seq("hash", "stream", "vector", "big"), k = 20,
          postingsTable = ScaleOps.bucketTableName("graft_bkt_postings", dir),
          statsTable = ScaleOps.bucketTableName("graft_tbl_docstats", dir))
        .withColumnRenamed("id", "doc_id")
    },
    q88.oracle)

  /** Checkpoint recovery for the MERGE-SWAP metrics sink
    * ([[graft.streaming.EventStreams.driftMonitorRestartReplay]]):
    * q215/q217/q218 gate the three state-machinery cells; this row gates
    * the standing-counts drift monitor through its HARDEST crash window —
    * the injected kill lands after the counts merge-swap published but
    * before the PSI generation appended, exactly where the applied-flag
    * alone would lose the generation forever. The resumed run replays the
    * batch, detects merge-landed/generation-missing, and repairs the
    * append. The oracle models one uninterrupted replay — per-slice
    * cumulative (group, bin) counts, the q118 PSI grid per generation —
    * so a lost generation (missing batch_id) or a doubled one diverges. */
  private[graft] val q223 = QuerySpec(
    "q223_stream_restart_drift",
    (s, dir) => {
      val ev = graft.streaming.EventStreams.withEventTime(t(s, dir, "events"))
        .where(col("user_id") % 3 === 0)
      graft.streaming.EventStreams.driftMonitorRestartReplay(s, ev,
          "event_type", floor(col("value") * 2), nSlices = 4, crashOnSlice = 2)
        .orderBy("batch_id", "g")
    },
    Some("""WITH e AS (SELECT event_type AS g,
          CAST(floor(value * 2) AS BIGINT) AS bin, epoch_us(ts) // 1000 AS ms
        FROM events WHERE user_id % 3 = 0),
      span AS (SELECT min(ms) AS lo, max(ms) AS hi FROM e),
      sl AS (SELECT g, bin,
          (ms - lo) // greatest(1, (hi - lo) // 4 + 1) AS slice
        FROM e CROSS JOIN span),
      batches AS (SELECT slice, dense_rank() OVER (ORDER BY slice) - 1
          AS batch_id
        FROM (SELECT DISTINCT slice FROM sl)),
      cum AS (SELECT b.batch_id, s.g, s.bin, count(*) AS c
        FROM batches b JOIN sl s ON s.slice <= b.slice GROUP BY 1, 2, 3),
      gs AS (SELECT DISTINCT batch_id, g FROM cum),
      bs AS (SELECT DISTINCT batch_id, bin FROM cum),
      grid AS (SELECT gs.batch_id, gs.g, bs.bin, coalesce(cum.c, 0) AS c
        FROM gs JOIN bs ON bs.batch_id = gs.batch_id
        LEFT JOIN cum ON cum.batch_id = gs.batch_id AND cum.g = gs.g
          AND cum.bin = bs.bin),
      tot AS (SELECT batch_id, g, CAST(sum(c) AS BIGINT) AS tot_g,
          count(*) AS nb
        FROM grid GROUP BY 1, 2),
      bint AS (SELECT batch_id, bin, CAST(sum(c) AS BIGINT) AS glob_bin
        FROM grid GROUP BY 1, 2),
      gt AS (SELECT batch_id, CAST(sum(c) AS BIGINT) AS grand
        FROM grid GROUP BY 1),
      terms AS (SELECT grid.batch_id, grid.g,
          (CAST(grid.c AS DOUBLE) + 1)
            / (CAST(tot.tot_g AS DOUBLE) + 1 * CAST(tot.nb AS DOUBLE)) AS pa,
          (CAST(bint.glob_bin - grid.c AS DOUBLE) + 1)
            / (CAST(gt.grand - tot.tot_g AS DOUBLE)
               + 1 * CAST(tot.nb AS DOUBLE)) AS pb
        FROM grid
        JOIN tot ON tot.batch_id = grid.batch_id AND tot.g = grid.g
        JOIN bint ON bint.batch_id = grid.batch_id AND bint.bin = grid.bin
        JOIN gt ON gt.batch_id = grid.batch_id),
      psi AS (SELECT batch_id, g,
          CAST(sum(CAST(round((pa - pb) * ln(pa / pb) * 1000000.0, 0)
            AS BIGINT)) AS BIGINT) AS psi_micro
        FROM terms GROUP BY 1, 2)
      SELECT CAST(batch_id AS BIGINT) AS batch_id, g, psi_micro,
        CASE WHEN psi_micro >= 250000 THEN 'major'
             WHEN psi_micro >= 100000 THEN 'moderate'
             ELSE 'ok' END AS flag
      FROM psi ORDER BY batch_id, g"""))

  /** q191's rank eval over the STANDING postings index — the same
    * bucketed layout q222 built (one index serves the whole lexical
    * family: bm25, coordination, eval), the same eval batch and oracle as
    * q191. A second query-batch row against an already-built index is the
    * warehouse read pattern: the catalog run that executes q222 first
    * pays the index write once; this row (and every later batch) pays
    * only the bucket-pruned term lookup. */
  private[graft] val q224 = QuerySpec(
    "q224_rank_eval_indexed",
    (s, dir) => {
      import graft.operators.ScaleOps
      graft.operators.Retrieval.rankEvalIndexed(
          t(s, dir, "documents"), "doc_id", "text", rankEvalQueries,
          k = 10,
          postingsTable = ScaleOps.bucketTableName("graft_bkt_postings", dir),
          statsTable = ScaleOps.bucketTableName("graft_tbl_docstats", dir),
          relMin = 2L)
        .withColumn("first_rel_rank", col("first_rel_rank").cast("long"))
        .orderBy(col("qid"))
    },
    q191.oracle)

  /** The standing dedup index through its FULL maintenance lifecycle
    * ([[graft.operators.Dedup.buildDedupIndex]] →
    * [[graft.operators.Dedup.foldDedupIndexL0]] →
    * [[graft.operators.Dedup.minhashCandidatesIndexedTables]]): the main
    * level is built from the doc_id % 4 ∈ {1, 2} slices, the % 4 == 3
    * slice is FOLDED into it as one sorted file per bucket (O(corpus)
    * parquet IO; only the folded docs are signed), and the % 4 == 0
    * ingest batch probes the result. The corpus seen by the probe is
    * exactly q221's (% 4 != 0), so the output — and the oracle — is
    * identical to q221's: a lost or doubled fold, a bucket-spec drift, or
    * a fold that corrupts rows all diverge. The build is write-once per
    * session and the fold signs only docs the main level lacks, so a
    * repeated run (bench passes, verify re-runs) folds nothing and reads
    * the same index. */
  private[graft] val q225 = QuerySpec(
    "q225_dedup_index_lifecycle",
    (s, dir) => {
      import graft.operators.{Dedup, ScaleOps}
      val docs = t(s, dir, "documents")
      val sigT = ScaleOps.bucketTableName("graft_bkt_g2sig", dir)
      val bandT = ScaleOps.bucketTableName("graft_bkt_g2band", dir)
      Dedup.buildDedupIndex(
        docs.where(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2),
        "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 16,
        sigTable = sigT, bandTable = bandT)
      Dedup.foldDedupIndexL0(docs.where(col("doc_id") % 4 === 3),
        "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 16,
        sigTable = sigT, bandTable = bandT)
      Dedup.minhashCandidatesIndexedTables(
          docs.where(col("doc_id") % 4 === 0),
          "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 16,
          sigTable = sigT, bandTable = bandT)
        .orderBy(col("id_a"), col("id_b"))
    },
    q221.oracle)

  /** The COMPOSED production ingest loop, driver-gated end-to-end
    * ([[graft.streaming.EventStreams.corpusIngestSinkIndexed]] via
    * [[graft.streaming.EventStreams.corpusIngestReplayIndexed]]): three
    * ingest ticks (doc_id % 3 slices), each a checkpointed AvailableNow
    * run that probes the STANDING bucketed dedup index (its main level
    * plus the earlier ticks' generation files as L0), admits survivors
    * through the corpusIngestSink drop semantics and publishes them as
    * one generation file of the corpus table, effectively-once — the
    * corpus is never re-shingled. The oracle walks the same
    * greedy batch-sequential admission in SQL over the q19 candidate-pair
    * CTEs: batch k drops a doc paired (est ≥ 0.8) with any earlier
    * survivor, plus the greater id of each in-batch pair; pairs with
    * non-admitted earlier docs are ignored (they are not in the corpus,
    * exactly as the sink's index never saw them). A wrong drop set, a
    * stale index (a generation the probe missed), or a lost batch all
    * diverge. */
  private[graft] val q226 = QuerySpec(
    "q226_stream_ingest_indexed",
    (s, dir) => graft.streaming.EventStreams.corpusIngestReplayIndexed(
        s, t(s, dir, "documents"), nSlices = 3, minJaccard = 0.8)
      .orderBy("doc_id"),
    Some(s"""WITH ${minhashCtes(numHashes = 32, bands = 16)},
      dup AS (SELECT id_a, id_b FROM cand WHERE est_jaccard >= 0.8),
      b0 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
      b1 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
      b2 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
      s0 AS (SELECT doc_id FROM b0 WHERE doc_id NOT IN (
        SELECT id_b FROM dup WHERE id_a IN (SELECT doc_id FROM b0)
          AND id_b IN (SELECT doc_id FROM b0))),
      s1 AS (SELECT doc_id FROM b1 WHERE doc_id NOT IN (
        SELECT id_a FROM dup WHERE id_b IN (SELECT doc_id FROM s0)
        UNION
        SELECT id_b FROM dup WHERE id_a IN (SELECT doc_id FROM s0)
        UNION
        SELECT id_b FROM dup WHERE id_a IN (SELECT doc_id FROM b1)
          AND id_b IN (SELECT doc_id FROM b1))),
      c1 AS (SELECT doc_id FROM s0 UNION ALL SELECT doc_id FROM s1),
      s2 AS (SELECT doc_id FROM b2 WHERE doc_id NOT IN (
        SELECT id_a FROM dup WHERE id_b IN (SELECT doc_id FROM c1)
        UNION
        SELECT id_b FROM dup WHERE id_a IN (SELECT doc_id FROM c1)
        UNION
        SELECT id_b FROM dup WHERE id_a IN (SELECT doc_id FROM b2)
          AND id_b IN (SELECT doc_id FROM b2)))
      SELECT doc_id FROM s0
      UNION ALL SELECT doc_id FROM s1
      UNION ALL SELECT doc_id FROM s2
      ORDER BY doc_id"""))

  // ----------------------------------------------------------- catalog
}
