package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.multimodal.Multimodal

import graft.SparkEntry.Q
import graft.QShared._

/** Query registry — M7+M8: similarity search over embeddings + text analysis + multimodal plumbing.
  * Split out of SparkEntry (VERDICT r9 #6); see SparkEntry for the
  * driver contract that concatenates the registries.
  */
private[graft] object QSimText {
  import Dictionaries.{Stopwords => Stop}

  /** Shared oracle CTE chain rebuilding [[Multimodal.imageAHash]]'s
    * fixed-8×8-resample hash closed-form from the synthetic gradient
    * (pixel (x,y) of doc d: r = d%200 + x, g = 7d%200 + y, b = 13d%200,
    * so luminance L = base + 299x + 587y with base = 299br+587bg+114bb
    * — every cell's box sum is a polynomial in the box bounds). Ends in
    * `hs(id, w, h, ahash)` with the 64-char row-major hash. Mirrors the
    * Spark kernel exactly: x0 = ⌊cx·w/8⌋, x1 = max(⌊(cx+1)·w/8⌋, x0+1),
    * cell value = ⌊ΣL/n⌋ (integer division), bit = 64·v > Σv.
    */
  private lazy val SqlAHash =
    """p AS (SELECT doc_id AS id,
      |  CAST(doc_id % 13 + 1 AS BIGINT) AS w, CAST(doc_id % 11 + 1 AS BIGINT) AS h,
      |  299 * (doc_id % 200) + 587 * (doc_id * 7 % 200) + 114 * (doc_id * 13 % 200) AS base
      |  FROM documents),
      |cel AS (SELECT id, w, h, base, i,
      |    ((i % 8) * w) // 8 AS x0,
      |    greatest((((i % 8) + 1) * w) // 8, ((i % 8) * w) // 8 + 1) AS x1,
      |    ((i // 8) * h) // 8 AS y0,
      |    greatest((((i // 8) + 1) * h) // 8, ((i // 8) * h) // 8 + 1) AS y1
      |  FROM p CROSS JOIN (SELECT unnest(range(0, 64)) AS i) ii),
      |cv AS (SELECT id, w, h, i,
      |    ((x1 - x0) * (y1 - y0) * base
      |     + 299 * (y1 - y0) * ((x1 * (x1 - 1) - x0 * (x0 - 1)) // 2)
      |     + 587 * (x1 - x0) * ((y1 * (y1 - 1) - y0 * (y0 - 1)) // 2))
      |    // ((x1 - x0) * (y1 - y0)) AS val
      |  FROM cel),
      |hs AS (SELECT cv.id, any_value(cv.w) AS w, any_value(cv.h) AS h,
      |    string_agg(CASE WHEN 64 * val > t.tot THEN '1' ELSE '0' END,
      |      '' ORDER BY cv.i) AS ahash
      |  FROM cv JOIN (SELECT id, sum(val) AS tot FROM cv GROUP BY 1) t USING (id)
      |  GROUP BY cv.id)""".stripMargin

  def qs: Seq[Q] = Seq(

    // ---- M7: similarity search over embeddings (beyond-reference)
    Q("q_cosine_topk",  // brute-force cosine top-5, queries = every 50th vector
      (s, dir) => {
        val emb = Tables.table(s, dir, "embeddings")
        Similarity.bruteTopK(
            emb.filter(col("vec_id") % 50 === 0), emb, "vec_id", "embedding", k = 5)
          // 4dp, not 6: engines sum dims in different orders (~1e-15 apart)
          // and at 10k+ values a round-6 boundary hit becomes likely
          .withColumn("cos", round(col("cos"), 4))
          .orderBy("query_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |             unnest(range(0, len(embedding))) AS i FROM embeddings),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY 1),
        |d AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id, sum(a.x * b.x) AS dp
        |      FROM e a JOIN e b ON a.i = b.i AND a.vec_id <> b.vec_id
        |      WHERE a.vec_id % 50 = 0 GROUP BY 1, 2),
        |c AS (SELECT d.query_id, d.vec_id, d.dp / (na.nrm * nb.nrm) AS cos
        |      FROM d JOIN n na ON na.vec_id = d.query_id
        |             JOIN n nb ON nb.vec_id = d.vec_id),
        |r AS (SELECT query_id, vec_id, cos,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        |      FROM c)
        |SELECT query_id, CAST(rnk AS INT) AS rank, vec_id,
        |       round(cos, 4) + 0.0 AS cos
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q("q_cosine_pairs",  // embedding pairs cosine ≥ 0.4 — exact distributed
      (s, dir) => Similarity.cosinePairsBlocked(  // kernel, no driver collect
          Tables.table(s, dir, "embeddings"), "vec_id", "embedding", 0.4)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("id1", "id2"),
      Some("""WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |             unnest(range(0, len(embedding))) AS i FROM embeddings),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY 1),
        |d AS (SELECT a.vec_id AS id1, b.vec_id AS id2, sum(a.x * b.x) AS dp
        |      FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2),
        |c AS (SELECT id1, id2, dp / (na.nrm * nb.nrm) AS cos
        |      FROM d JOIN n na ON na.vec_id = id1 JOIN n nb ON nb.vec_id = id2)
        |SELECT id1, id2, round(cos, 6) AS cos FROM c
        |WHERE cos >= 0.4 ORDER BY id1, id2""".stripMargin)),

    Q("q_cosine_pairs_lsh",  // near-dup pairs ≥ 0.9 via hyperplane LSH + exact
      (s, dir) => {           // verify; corpus = embeddings ∪ perturbed copies
        Similarity.cosinePairsLsh(perturbedEmb(s, dir), "vec_id", "v", 0.9)
          .withColumn("cos", round(col("cos"), 6))
          .orderBy("id1", "id2")
      },
      // oracle is EXACT all-pairs SQL — at cos≈0.999 the 8×16 LSH miss
      // probability is ~1e-19 per pair, so full recall is certain and the
      // hash must match. The perturbed copies (dim-dependent exact-double
      // scale factors) are what puts near-dup pairs in the synthetic data.
      Some("""WITH ex0 AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |             unnest(range(0, len(embedding))) AS i FROM embeddings),
        |ex AS (SELECT vec_id, x, i FROM ex0
        |       UNION ALL
        |       SELECT vec_id + 1000000,
        |              x * (CAST(0.98 AS DOUBLE)
        |                   + CAST(0.01 AS DOUBLE) * CAST(i % 3 AS DOUBLE)), i
        |       FROM ex0),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY 1),
        |d AS (SELECT a.vec_id AS id1, b.vec_id AS id2, sum(a.x * b.x) AS dp
        |      FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2),
        |c AS (SELECT id1, id2, dp / (na.nrm * nb.nrm) AS cos
        |      FROM d JOIN n na ON na.vec_id = id1 JOIN n nb ON nb.vec_id = id2)
        |SELECT id1, id2, round(cos, 6) AS cos FROM c
        |WHERE cos >= 0.9 ORDER BY id1, id2""".stripMargin)),

    Q("q_ann_ivf",  // IVF ANN top-5 with a deterministic routing table (the
      (s, dir) => {  // vec_id<8 centroids) — the full IVF mechanics, oracled
        val emb = Tables.table(s, dir, "embeddings")
        val pts = embDouble(s, dir)
        Similarity.ivfTopK(
            emb.filter(col("vec_id") % 50 === 0), emb, "vec_id", "embedding",
            k = 5, cells = 8, nprobe = 3,
            centroids = Some(fixedCentroids(pts)))
          // 4dp like q_cosine_topk: engines sum dims in different orders
          .withColumn("cos", round(col("cos"), 4))
          .orderBy("query_id", "rank")
      },
      Some("""WITH pts AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |             unnest(range(0, len(embedding))) AS i FROM embeddings),
        |cents AS (SELECT vec_id AS cid, CAST(unnest(embedding) AS DOUBLE) AS c,
        |          unnest(range(0, len(embedding))) AS i FROM embeddings WHERE vec_id < 8),
        |ad AS (SELECT p.vec_id, c.cid, sqrt(sum((p.x - c.c) * (p.x - c.c))) AS dist
        |       FROM pts p JOIN cents c ON p.i = c.i GROUP BY 1, 2),
        |cell AS (SELECT vec_id, cid AS cell FROM ad
        |         QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
        |probe AS (SELECT vec_id AS query_id, cid AS cell FROM ad WHERE vec_id % 50 = 0
        |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) <= 3),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM pts GROUP BY 1),
        |d AS (SELECT q.query_id, v.vec_id, sum(qp.x * vp.x) AS dp
        |      FROM probe q
        |      JOIN cell v ON v.cell = q.cell AND v.vec_id <> q.query_id
        |      JOIN pts qp ON qp.vec_id = q.query_id
        |      JOIN pts vp ON vp.vec_id = v.vec_id AND vp.i = qp.i
        |      GROUP BY 1, 2),
        |c2 AS (SELECT query_id, d.vec_id, dp / (nq.nrm * nv.nrm) AS cos
        |       FROM d JOIN n nq ON nq.vec_id = query_id JOIN n nv ON nv.vec_id = d.vec_id),
        |r AS (SELECT query_id, vec_id, cos,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        |      FROM c2)
        |SELECT query_id, CAST(rnk AS INT) AS rank, vec_id,
        |       round(cos, 4) + 0.0 AS cos
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q("q_semantic_dedup",  // SemDeDup (arXiv:2303.09540) gated end-to-end:
      // nearest-centroid cells → within-cell cosine pairs ≥ 0.9 →
      // connected components → (id, rep) labels. The planted perturbed
      // twins (≈0.999 cosine, see perturbedEmb) are the near-dups; the
      // deterministic vec_id<32 routing table keeps both engines' cell
      // assignment identical. Clustering prunes the pair space from
      // O(n²) to Σ|cell|² — the whole reason SemDeDup works at web
      // scale — and CC shuffles only the near-dup edges.
      (s, dir) => {
        val pts = perturbedEmb(s, dir)
        // 32 cells, not 8: SemDeDup wants k ≈ √n — more cells cuts the
        // within-cell pair space quadratically AND lifts the cell-join's
        // parallelism ceiling (one task per cell key)
        val cents = pts.filter(col("vec_id") < 32)
          .select(col("vec_id").as("cid"), col("v").as("cvec"))
        Similarity.semanticDedup(pts, "vec_id", "v", cents, 0.9).orderBy("id")
      },
      Some("""WITH RECURSIVE ex0 AS (SELECT vec_id,
        |        CAST(unnest(embedding) AS DOUBLE) AS x,
        |        unnest(range(0, len(embedding))) AS i FROM embeddings),
        |ex AS (SELECT vec_id, x, i FROM ex0
        |       UNION ALL
        |       SELECT vec_id + 1000000,
        |              x * (CAST(0.98 AS DOUBLE)
        |                   + CAST(0.01 AS DOUBLE) * CAST(i % 3 AS DOUBLE)), i
        |       FROM ex0),
        |cents AS (SELECT vec_id AS cid, x AS c, i FROM ex WHERE vec_id < 32),
        |ad AS (SELECT p.vec_id, c.cid, sqrt(sum((p.x - c.c) * (p.x - c.c))) AS dist
        |       FROM ex p JOIN cents c ON p.i = c.i GROUP BY 1, 2),
        |cell AS (SELECT vec_id, cid AS cell FROM ad
        |         QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY 1),
        |pr AS (SELECT ca.vec_id AS id1, cb.vec_id AS id2
        |       FROM cell ca JOIN cell cb
        |         ON cb.cell = ca.cell AND ca.vec_id < cb.vec_id),
        |d AS (SELECT pr.id1, pr.id2, sum(a.x * b.x) AS dp
        |      FROM pr JOIN ex a ON a.vec_id = pr.id1
        |              JOIN ex b ON b.vec_id = pr.id2 AND b.i = a.i
        |      GROUP BY 1, 2),
        |p AS (SELECT id1, id2 FROM d
        |      JOIN n na ON na.vec_id = id1 JOIN n nb ON nb.vec_id = id2
        |      WHERE dp / (na.nrm * nb.nrm) >= 0.9),
        |ed AS (SELECT id1 AS a, id2 AS b FROM p UNION ALL SELECT id2, id1 FROM p),
        |nn AS (SELECT DISTINCT a AS id FROM ed),
        |rr AS (SELECT id, id AS reach FROM nn
        |       UNION
        |       SELECT rr.id, ed.b AS reach FROM rr JOIN ed ON ed.a = rr.reach)
        |SELECT id, min(reach) AS rep FROM rr GROUP BY id ORDER BY id""".stripMargin)),

    // ---- M8: text analysis + multimodal plumbing (beyond-reference)
    Q("q_lang_id",
      (s, dir) => {
        val toks = TextOps.tokenize(col("text"))
        val scores = TextStats.LangMarkers.map { case (lang, ms) =>
          size(filter(toks, t => t.isin(ms: _*))).as(s"s_$lang")
        }
        Tables.table(s, dir, "documents")
          .select(col("doc_id") +: scores :+ TextStats.langId(toks).as("lang_pred"): _*)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
        |        regexp_extract_all(lower(text), '\b\w\w+\b') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |  len(list_filter(toks, x -> x IN ('the','and','is','of','to','in'))) AS s_en,
        |  len(list_filter(toks, x -> x IN ('le','la','les','et','de','un'))) AS s_fr,
        |  len(list_filter(toks, x -> x IN ('el','los','las','es','de','un'))) AS s_es,
        |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein'))) AS s_de
        |  FROM t)
        |SELECT doc_id, CAST(s_en AS INT) AS s_en, CAST(s_fr AS INT) AS s_fr,
        |  CAST(s_es AS INT) AS s_es, CAST(s_de AS INT) AS s_de,
        |  CASE WHEN greatest(s_en, s_fr, s_es, s_de) <= 0 THEN 'und'
        |       WHEN s_en = greatest(s_en, s_fr, s_es, s_de) THEN 'en'
        |       WHEN s_fr = greatest(s_en, s_fr, s_es, s_de) THEN 'fr'
        |       WHEN s_es = greatest(s_en, s_fr, s_es, s_de) THEN 'es'
        |       WHEN s_de = greatest(s_en, s_fr, s_es, s_de) THEN 'de'
        |       ELSE 'und' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin)),

    Q("q_lang_auc",  // ROC-AUC of the language-ID heuristic's English
      // marker RATE against the corpus's ground-truth lang column —
      // the threshold-free grade a pipeline runs before trusting a
      // lang filter (q_lang_id gives the argmax decision; this grades
      // the underlying score). Tie-averaged Mann–Whitney rank-sum in
      // EXACT integer arithmetic (one final division), so the value
      // oracles bit-for-bit. Shuffle = distinct score values (a small
      // rational family), then one window over those distinct scores.
      // NOTE the testdata's lang column is a random label over the
      // same English-ish synthetic vocabulary, so AUC ≈ 0.5 here IS
      // the correct answer — the discriminating closed forms (1.0 /
      // 0.0 / tie cases) live in the rocAuc spec.
      (s, dir) => {
        val toks = TextOps.tokenize(col("text"))
        val enMarkers = TextStats.LangMarkers.toMap.apply("en")
        val enRate = when(size(toks) === 0, lit(0.0)).otherwise(
          size(filter(toks, t => t.isin(enMarkers: _*))).cast("double")
            / size(toks))
        TextStats.rocAuc(
          Tables.table(s, dir, "documents")
            .select(enRate.as("score"), (col("lang") === "en").as("label")),
          "score", "label")
      },
      Some("""WITH t AS (SELECT lang,
        |        regexp_extract_all(lower(text), '\b\w\w+\b') AS toks
        |      FROM documents),
        |sc AS (SELECT CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(toks,
        |                x -> x IN ('the','and','is','of','to','in'))) AS DOUBLE)
        |              / len(toks) END AS s,
        |        (lang = 'en') AS y FROM t),
        |g AS (SELECT s, count(*) AS nt,
        |        sum(CASE WHEN y THEN 1 ELSE 0 END) AS np
        |      FROM sc GROUP BY 1),
        |r AS (SELECT np, nt,
        |        COALESCE(sum(nt) OVER (ORDER BY s
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |      FROM g),
        |a AS (SELECT sum(np * (2 * cum + nt + 1)) AS s2, sum(np) AS p,
        |        sum(nt - np) AS n FROM r)
        |SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
        |  CASE WHEN p > 0 AND n > 0
        |    THEN round((s2 - p * (p + 1)) / (2.0 * p * n), 6) END AS auc
        |FROM a""".stripMargin)),

    Q("q_quality",
      (s, dir) => {
        val toks = TextOps.tokenize(col("text"))
        Tables.table(s, dir, "documents").select(
          col("doc_id"),
          size(toks).as("n_tokens"),
          round(TextStats.distinctRatio(toks), 6).as("distinct_ratio"),
          round(TextStats.stopwordRatio(toks, Stop), 6).as("stopword_ratio"),
          round(TextStats.meanTokenLen(toks), 6).as("mean_len"),
          round(TextStats.qualityScore(toks, Stop), 6).as("score"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id,
        |        regexp_extract_all(lower(text), '\\b\\w\\w+\\b') AS toks FROM documents),
        |m AS (SELECT doc_id, len(toks) AS n_tokens,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |       ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END AS dr,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |       ELSE CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
        |            / len(toks) END AS sr,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |       ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        |            / len(toks) END AS ml,
        |  $SqlQuality AS q
        |  FROM t)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
        |  round(dr, 6) AS distinct_ratio, round(sr, 6) AS stopword_ratio,
        |  round(ml, 6) AS mean_len, round(q, 6) AS score
        |FROM m ORDER BY doc_id""".stripMargin)),

    Q("q_lm_score",  // CCNet-style perplexity-filter signal
      // (arXiv:1911.00359): per-doc unigram cross-entropy against the
      // corpus's own unigram LM — filter both tails. One explode + one
      // token-keyed join vs the vocab freq table; total joins in as a
      // 1-row broadcast; empty docs emit no row on either engine.
      (s, dir) => TextStats.lmScore(docsTokens(s, dir), "doc_id", "toks")
        .withColumn("xent", round(col("xent"), 6))
        .orderBy("doc_id"),
      Some(s"""WITH t AS ($SqlToks),
        |e AS (SELECT doc_id, unnest(toks) AS w FROM t),
        |f AS (SELECT w, count(*) AS cnt FROM e GROUP BY w),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM f)
        |SELECT doc_id, round(-avg(ln(CAST(cnt AS DOUBLE) / total)), 6) AS xent
        |FROM e JOIN f USING (w) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("q_lm_score_map",  // same CCNet signal, zero-shuffle form: the LM
      // rides as ONE broadcast map row and each doc scores itself with a
      // per-row fold — no explode, no token-keyed shuffle, no per-doc
      // exchange; the corpus never leaves its input partitions. Same
      // distribution as q_lm_score, so the oracle is the same SQL —
      // the value equality of the two plans IS the demonstration.
      (s, dir) => {
        val docs = docsTokens(s, dir)
        TextStats.lmScoreBroadcast(docs, "doc_id", "toks",
            TextStats.unigramLogProbs(docs, "toks"), "w", "logp")
          .withColumn("xent", round(col("xent"), 6))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS ($SqlToks),
        |e AS (SELECT doc_id, unnest(toks) AS w FROM t),
        |f AS (SELECT w, count(*) AS cnt FROM e GROUP BY w),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM f)
        |SELECT doc_id, round(-avg(ln(CAST(cnt AS DOUBLE) / total)), 6) AS xent
        |FROM e JOIN f USING (w) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("q_ccnet_buckets",  // CCNet head/middle/tail perplexity terciles
      // (arXiv:1911.00359 §4.4 — the slices the released corpora ship
      // in): per source, ntile(3) over the rounded q_lm_score signal
      // (ties by doc_id — rounded-before-ranked, engine-independent
      // boundary). The window sorts the (id, source, xent) triple
      // table, never the corpus text; slices materialize by joining the
      // bucket column back on id.
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextOps.tokenizeFiltered(col("text"), Stop, Nil).as("toks"))
        val scored = TextStats.lmScore(docs, "doc_id", "toks")
          .join(docs.select("doc_id", "source"), "doc_id")
        TextStats.ccnetBuckets(scored, "doc_id", "source", "xent")
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
        |        list_filter(regexp_extract_all(lower(text), '\\b\\w\\w+\\b'),
        |          x -> x NOT IN ('the', 'a')) AS toks FROM documents),
        |e AS (SELECT doc_id, unnest(toks) AS w FROM t),
        |f AS (SELECT w, count(*) AS cnt FROM e GROUP BY w),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM f),
        |sc AS (SELECT doc_id, round(-avg(ln(CAST(cnt AS DOUBLE) / total)), 6) AS xent
        |       FROM e JOIN f USING (w) CROSS JOIN tot GROUP BY doc_id),
        |b AS (SELECT sc.doc_id, t.source, sc.xent,
        |        ntile(3) OVER (PARTITION BY t.source
        |                       ORDER BY sc.xent, sc.doc_id) AS nt
        |      FROM sc JOIN t ON t.doc_id = sc.doc_id)
        |SELECT doc_id, source, xent,
        |       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |               ELSE 'tail' END AS bucket
        |FROM b ORDER BY doc_id""".stripMargin)),

    Q("q_dsir_weights",  // DSIR-style domain-targeting importance weights
      // (arXiv:2302.03169), add-1-smoothed unigram LMs: mean per-token
      // log ratio of the src0 target distribution over the corpus
      // distribution — resample on high dsir_logw to shift the mixture
      // toward the target domain. Single conditional-agg pass builds
      // both count columns; same token-keyed join shape as q_lm_score.
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextOps.tokenizeFiltered(col("text"), Stop, Nil).as("toks"))
        TextStats.dsirWeights(docs, "doc_id", "toks", col("source") === "src0")
          .withColumn("dsir_logw", round(col("dsir_logw"), 6))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
        |        list_filter(regexp_extract_all(lower(text), '\\b\\w\\w+\\b'),
        |          x -> x NOT IN ('the', 'a')) AS toks FROM documents),
        |e AS (SELECT doc_id, source = 'src0' AS tgt, unnest(toks) AS w FROM t),
        |f AS (SELECT w, count(*) AS c_all,
        |        sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_tgt FROM e GROUP BY w),
        |tot AS (SELECT CAST(sum(c_all) AS DOUBLE) AS n_all,
        |        CAST(sum(c_tgt) AS DOUBLE) AS n_tgt,
        |        CAST(count(*) AS DOUBLE) AS vocab FROM f)
        |SELECT doc_id, 0.0 + round(avg(ln((c_tgt + 1.0) / (n_tgt + vocab))
        |                       - ln((c_all + 1.0) / (n_all + vocab))), 6) AS dsir_logw
        |FROM e JOIN f USING (w) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("q_repetition",  // Gopher/C4-style repetition signals: top-word share +
      (s, dir) => {    // duplicate-bigram fraction
        val toks = TextOps.tokenize(col("text"))
        Tables.table(s, dir, "documents").select(
          col("doc_id"),
          round(TextStats.topTokenFraction(toks), 6).as("top_tok_frac"),
          round(TextStats.dupBigramFraction(toks), 6).as("dup_bigram_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
        |        regexp_extract_all(lower(text), '\b\w\w+\b') AS toks FROM documents)
        |SELECT doc_id,
        |  round(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE CAST(list_max(list_transform(list_distinct(toks),
        |      t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE) / len(toks) END,
        |    6) AS top_tok_frac,
        |  round(CASE WHEN len(toks) < 2 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE)
        |      / (len(toks) - 1) END, 6) AS dup_bigram_frac
        |FROM t ORDER BY doc_id""".stripMargin)),

    Q("q_gopher_rep",  // the FULL Gopher repetition-rule table (Rae et
      // al. arXiv:2112.11446 Table A1) beyond q_repetition's two
      // signals: char-weighted top-{2,3,4}-gram domination (count ×
      // gram chars / token chars, ties → smallest gram) and
      // dup-{5,10}-gram coverage (chars under ANY ≥2×-occurring
      // n-gram, counted ONCE via the SpanCoverMask sweep — overlapping
      // windows don't double-count). ZERO shuffles — per-row array
      // arithmetic, O(g²) bounded by doc length, never corpus size.
      (s, dir) => TextStats.gopherRepetition(
          Tables.table(s, dir, "documents")
            .select(col("doc_id"), TextOps.tokenize(col("text")).as("toks")),
          "doc_id", "toks")
        .orderBy("doc_id"),
      Some {
        // flat chained CTEs — correlated subqueries + nested lambdas
        // break the DuckDB binder, column-level lambdas don't
        val ns = Seq(2, 3, 4, 5, 10)
        def gCol(n: Int) =
          s"""CASE WHEN nt < $n THEN []::VARCHAR[]
             | ELSE list_transform(range(1, nt - ${n - 2}), i ->
             |        array_to_string(toks[i:i+${n - 1}], ' ')) END AS g$n"""
            .stripMargin
        def cCol(n: Int) =
          s"list_transform(g$n, x -> len(list_filter(g$n, y -> y = x))) AS c$n"
        def topCols(n: Int) = (
          s"CASE WHEN len(c$n) = 0 THEN 0 ELSE list_max(c$n) END AS m$n",
          s"""list_min(list_transform(
             |  list_filter(range(1, len(g$n) + 1), s -> c$n[s] = m$n),
             |  s -> g$n[s])) AS w$n""".stripMargin)
        def dCol(n: Int) =
          s"list_filter(range(1, len(g$n) + 1), s -> c$n[s] >= 2) AS d$n"
        def covCol(n: Int) =
          s"""COALESCE(list_sum(list_transform(range(1, nt + 1), i ->
             |  CASE WHEN len(list_filter(d$n, s -> i >= s AND i < s + $n)) > 0
             |       THEN length(toks[i]) ELSE 0 END)), 0) AS cov$n""".stripMargin
        def topFrac(n: Int) =
          s"""round(CASE WHEN nt < $n OR total = 0 THEN 0.0
             |  ELSE m$n * (length(w$n) - ${n - 1}) / CAST(total AS DOUBLE)
             |  END, 6) AS top${n}_frac""".stripMargin
        def dupFrac(n: Int) =
          s"""round(CASE WHEN nt < $n OR total = 0 THEN 0.0
             |  ELSE cov$n / CAST(total AS DOUBLE) END, 6) AS dup${n}_frac"""
            .stripMargin
        s"""WITH t AS (SELECT doc_id,
           |        regexp_extract_all(lower(text), '\\b\\w\\w+\\b') AS toks
           |      FROM documents),
           |base AS (SELECT doc_id, toks, len(toks) AS nt,
           |  COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS total
           |  FROM t),
           |gr AS (SELECT *, ${ns.map(gCol).mkString(",\n")} FROM base),
           |cn AS (SELECT *, ${ns.map(cCol).mkString(",\n")} FROM gr),
           |mx AS (SELECT *, ${Seq(2, 3, 4).map(n => topCols(n)._1).mkString(",\n")} FROM cn),
           |tw AS (SELECT *, ${Seq(2, 3, 4).map(n => topCols(n)._2).mkString(",\n")} FROM mx),
           |dd AS (SELECT *, ${Seq(5, 10).map(dCol).mkString(",\n")} FROM tw),
           |cov AS (SELECT *, ${Seq(5, 10).map(covCol).mkString(",\n")} FROM dd)
           |SELECT doc_id,
           |  ${Seq(2, 3, 4).map(topFrac).mkString(",\n")},
           |  ${Seq(5, 10).map(dupFrac).mkString(",\n")}
           |FROM cov ORDER BY doc_id""".stripMargin
      }),

    Q("q_token_stats",
      (s, dir) => Tables.table(s, dir, "documents").select(
          col("doc_id"),
          length(col("text")).as("n_chars"),
          TextStats.wsTokenCount(col("text")).as("ws_tokens"),
          size(TextOps.tokenize(col("text"))).as("re_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
        |  CAST(len(regexp_split_to_array(text, '\s+')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '\b\w\w+\b')) AS INT) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("q_bpe_tokens",  // BPE-ish LLM-token counting (the GPT-2 pre-tokenizer
      // segmentation rule reduced to its regex core: letter runs / digit
      // runs / other-symbol runs) — the cheap upper-anchor every token-
      // budgeted data recipe starts from, next to the ws/word counts of
      // q_token_stats. Map-side regexp count, no shuffle beyond the scan.
      (s, dir) => Tables.table(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("__len"),
          TextStats.bpeishTokenCount(col("text")).as("bpe_tokens"))
        .select(col("doc_id"), col("bpe_tokens"),
          round(when(col("bpe_tokens") === 0, lit(0.0))
            .otherwise(col("__len") / col("bpe_tokens").cast("double")), 4)
            .as("chars_per_token"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS INT)
        |    AS bpe_tokens,
        |  round(CASE WHEN len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]+')) = 0
        |    THEN 0.0 ELSE length(text)
        |      / CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS DOUBLE)
        |    END, 4) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("q_bpe_learn",  // BPE merge learning (Sennrich 2016): the top-3
      // most frequent adjacent-symbol merges over the corpus word
      // stream, greedy left-to-right merge applied between rounds —
      // the vocab-induction loop every GPT-style tokenizer trains
      // with. One pair-count shuffle per round + a 1-row driver
      // collect (k-row-scalar family); merge is a map-side literal
      // replace whose double-space delimiting makes Spark and DuckDB
      // agree character-for-character (see TextOps.bpeInitSeq).
      (s, dir) => TextOps.bpeLearn(Tables.table(s, dir, "documents"), "text", 3)
        .orderBy("iter"),
      Some("""WITH w0 AS (
        |  SELECT '  ' || regexp_replace(w, '(.)', '\1  ', 'g') AS seq
        |  FROM (SELECT unnest(regexp_extract_all(lower(text),
        |                '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS w
        |        FROM documents)),
        |p1 AS (SELECT s[i + 1] AS l, s[i + 2] AS r, count(*) AS cnt FROM (
        |        SELECT s, unnest(range(0, len(s) - 1)) AS i
        |        FROM (SELECT string_split(trim(seq), '  ') AS s FROM w0))
        |       GROUP BY 1, 2),
        |b1 AS (SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
        |w1 AS (SELECT replace(seq, ' ' || l || '  ' || r || ' ',
        |                      ' ' || l || r || ' ') AS seq
        |       FROM w0 CROSS JOIN b1),
        |p2 AS (SELECT s[i + 1] AS l, s[i + 2] AS r, count(*) AS cnt FROM (
        |        SELECT s, unnest(range(0, len(s) - 1)) AS i
        |        FROM (SELECT string_split(trim(seq), '  ') AS s FROM w1))
        |       GROUP BY 1, 2),
        |b2 AS (SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
        |w2 AS (SELECT replace(seq, ' ' || l || '  ' || r || ' ',
        |                      ' ' || l || r || ' ') AS seq
        |       FROM w1 CROSS JOIN b2),
        |p3 AS (SELECT s[i + 1] AS l, s[i + 2] AS r, count(*) AS cnt FROM (
        |        SELECT s, unnest(range(0, len(s) - 1)) AS i
        |        FROM (SELECT string_split(trim(seq), '  ') AS s FROM w2))
        |       GROUP BY 1, 2),
        |b3 AS (SELECT l, r, cnt FROM p3 ORDER BY cnt DESC, l, r LIMIT 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS INT) AS iter, l, r, cnt FROM b1
        |  UNION ALL SELECT CAST(2 AS INT), l, r, cnt FROM b2
        |  UNION ALL SELECT CAST(3 AS INT), l, r, cnt FROM b3)
        |ORDER BY iter""".stripMargin)),

    Q("q_bpe_encode",  // BPE ENCODING under the learned merge table —
      // the apply half of q_bpe_learn's loop: per-doc char-symbol
      // count vs symbol count after 3 learned merges (the compression
      // the vocab buys). Merges ride as driver literals; the encode is
      // one map-side replace chain over the word stream, then a
      // groupBy(doc_id) and a doc-table left join for wordless docs.
      (s, dir) => TextOps.bpeEncode(
          Tables.table(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("doc_id"),
      Some("""WITH w0 AS MATERIALIZED (
        |  SELECT doc_id, length(w) AS wlen,
        |         '  ' || regexp_replace(w, '(.)', '\1  ', 'g') AS seq
        |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text),
        |                '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS w
        |        FROM documents)),
        |p1 AS (SELECT s[i + 1] AS l, s[i + 2] AS r, count(*) AS cnt FROM (
        |        SELECT s, unnest(range(0, len(s) - 1)) AS i
        |        FROM (SELECT string_split(trim(seq), '  ') AS s FROM w0))
        |       GROUP BY 1, 2),
        |b1 AS (SELECT l, r FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
        |w1 AS MATERIALIZED (SELECT doc_id, wlen,
        |         CASE WHEN l IS NULL THEN seq
        |           ELSE replace(seq, ' ' || l || '  ' || r || ' ',
        |                        ' ' || l || r || ' ') END AS seq
        |       FROM w0 LEFT JOIN b1 ON TRUE),
        |p2 AS (SELECT s[i + 1] AS l, s[i + 2] AS r, count(*) AS cnt FROM (
        |        SELECT s, unnest(range(0, len(s) - 1)) AS i
        |        FROM (SELECT string_split(trim(seq), '  ') AS s FROM w1))
        |       GROUP BY 1, 2),
        |b2 AS (SELECT l, r FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
        |w2 AS MATERIALIZED (SELECT doc_id, wlen,
        |         CASE WHEN l IS NULL THEN seq
        |           ELSE replace(seq, ' ' || l || '  ' || r || ' ',
        |                        ' ' || l || r || ' ') END AS seq
        |       FROM w1 LEFT JOIN b2 ON TRUE),
        |p3 AS (SELECT s[i + 1] AS l, s[i + 2] AS r, count(*) AS cnt FROM (
        |        SELECT s, unnest(range(0, len(s) - 1)) AS i
        |        FROM (SELECT string_split(trim(seq), '  ') AS s FROM w2))
        |       GROUP BY 1, 2),
        |b3 AS (SELECT l, r FROM p3 ORDER BY cnt DESC, l, r LIMIT 1),
        |w3 AS (SELECT doc_id, wlen,
        |         CASE WHEN l IS NULL THEN seq
        |           ELSE replace(seq, ' ' || l || '  ' || r || ' ',
        |                        ' ' || l || r || ' ') END AS seq
        |       FROM w2 LEFT JOIN b3 ON TRUE),
        |c AS (SELECT doc_id, CAST(sum(wlen) AS BIGINT) AS nc,
        |        CAST(sum(len(string_split(trim(seq), '  '))) AS BIGINT) AS nb
        |      FROM w3 GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(nc, 0) AS BIGINT) AS n_chars,
        |       CAST(coalesce(nb, 0) AS BIGINT) AS n_bpe
        |FROM documents d LEFT JOIN c USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    Q("q_fingerprint",
      (s, dir) => docsTokens(s, dir)
        .select(col("doc_id"), TextStats.contentFingerprint(col("toks")).as("fp"))
        .orderBy("doc_id"),
      Some(s"""WITH t AS ($SqlToks)
        |SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp
        |FROM t ORDER BY doc_id""".stripMargin)),

    Q("q_multimodal_meta",  // binary payload + typed metadata plumbing
      (s, dir) => Multimodal.fromText(
          Tables.table(s, dir, "documents"), "doc_id", "text", "source")
        .select(col("media_id"), col("modality"),
          col("meta.byte_len").as("byte_len"), col("meta.sha256").as("sha256"),
          col("meta.source").as("source"))
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id, 'text' AS modality,
        |  CAST(length(text) AS BIGINT) AS byte_len, sha256(text) AS sha256, source
        |FROM documents ORDER BY media_id""".stripMargin)),

    Q("q_frame_sample",  // video-frame sampling plumbing: counts oracled
      (s, dir) => Multimodal.sampleFrames(
          Multimodal.fromText(Tables.table(s, dir, "documents"), "doc_id", "text", "source"),
          frameBytes = 32, stride = 3)
        .groupBy(col("media_id"), col("n_frames"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id,
        |  CAST(ceil(length(text) / 32.0) AS INT) AS n_frames,
        |  CAST(ceil(ceil(length(text) / 32.0) / 3.0) AS BIGINT) AS n_kept
        |FROM documents ORDER BY media_id""".stripMargin)),

    Q("q_multimodal_features",  // REAL ImageIO decode of synthetic PNGs —
      // gradient construction gives the channel means closed forms the
      // oracle can compute from doc_id alone (lossless PNG roundtrip)
      (s, dir) => Multimodal.decodeImage(
          Multimodal.syntheticPng(Tables.table(s, dir, "documents"), "doc_id"))
        .select(col("media_id"), col("decoded"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id, TRUE AS decoded,
        |  CAST(doc_id % 13 + 1 AS INT) AS width,
        |  CAST(doc_id % 11 + 1 AS INT) AS height,
        |  round((doc_id % 200) + (doc_id % 13) / 2.0, 6) AS mean_r,
        |  round((doc_id * 7 % 200) + (doc_id % 11) / 2.0, 6) AS mean_g,
        |  round(CAST(doc_id * 13 % 200 AS DOUBLE), 6) AS mean_b
        |FROM documents ORDER BY media_id""".stripMargin)),

    Q("q_image_phash",  // perceptual image hash over REAL ImageIO-decoded
      // pixels, resampled to a FIXED 8×8 grid first (VERDICT r10 #3 —
      // resized duplicates now hash identically and the hash is 64 bits
      // regardless of payload): integer box-filter (floor-mean of each
      // cell's source box) over the Rec.601 luminance (299r+587g+114b),
      // bit = cell strictly above the 64-cell mean, cross-multiplied to
      // stay integral — exact arithmetic end-to-end, so the oracle
      // rebuilds the hash bit-for-bit from the gradient's closed form
      // without decoding anything. Bare ahash = cross-format, cross-
      // resolution dedup key (brightness/upscale invariance spec'd).
      (s, dir) => Multimodal.imageAHash(
          Multimodal.syntheticPng(Tables.table(s, dir, "documents"), "doc_id"))
        .orderBy("media_id"),
      Some(s"""WITH $SqlAHash
        |SELECT id AS media_id, TRUE AS decoded,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height, ahash
        |FROM hs ORDER BY media_id""".stripMargin)),

    Q("q_image_dedup",  // perceptual image near-dup clustering — the
      // composition q_image_phash was missing (VERDICT r9 #3): 8×8-
      // resampled aHash → DISTINCT-hash group collapse → 4-band
      // pigeonhole blocking → exact per-position Hamming ≤ 3 →
      // connected components on the GROUP graph, (id, rep). Dimensions
      // left the block key with the r11 resample (VERDICT r10 #3):
      // on the gradient corpus brightness offsets cancel (aHash
      // invariance) so the hash depends only on (w,h) — ≤143 distinct
      // hashes — and near-identical resampled patterns across
      // DIFFERENT dims now merge, the resize-robustness the resample
      // buys. Oracle mirrors the group-level shape: CC runs on the
      // ≤143-node group graph, members inherit their group's rep.
      (s, dir) => Multimodal.imageDedup(
          Multimodal.imageAHash(
            Multimodal.syntheticPng(Tables.table(s, dir, "documents"), "doc_id")))
        .orderBy("id"),
      Some(s"""WITH RECURSIVE $SqlAHash,
        |grp AS (SELECT ahash, min(id) AS gid, count(*) AS cnt
        |        FROM hs GROUP BY 1),
        |bd AS (SELECT gid, ahash, bb.band,
        |    substr(ahash, CAST((bb.band * len(ahash)) // 4 + 1 AS INT),
        |      CAST(((bb.band + 1) * len(ahash)) // 4
        |        - (bb.band * len(ahash)) // 4 AS INT)) AS bs
        |  FROM grp CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bb),
        |cand AS (SELECT DISTINCT x.gid AS g1, y.gid AS g2,
        |    x.ahash AS ha, y.ahash AS hb
        |  FROM bd x JOIN bd y ON x.band = y.band AND x.bs = y.bs
        |    AND x.gid < y.gid),
        |pr AS (SELECT g1, g2 FROM cand
        |  WHERE len(list_filter(range(1, len(ha) + 1), i -> ha[i] <> hb[i])) <= 3),
        |ed AS (SELECT g1 AS a, g2 AS b2 FROM pr UNION ALL SELECT g2, g1 FROM pr),
        |nn AS (SELECT DISTINCT a AS gid FROM ed),
        |rr AS (SELECT gid, gid AS reach FROM nn
        |       UNION
        |       SELECT rr.gid, ed.b2 AS reach FROM rr JOIN ed ON ed.a = rr.reach),
        |ccm AS (SELECT gid, min(reach) AS rep FROM rr GROUP BY gid),
        |solo AS (SELECT gid, gid AS rep FROM grp
        |         WHERE cnt >= 2 AND gid NOT IN (SELECT gid FROM ccm)),
        |lab AS (SELECT gid, rep FROM ccm UNION ALL SELECT gid, rep FROM solo)
        |SELECT hs.id, lab.rep FROM hs JOIN grp USING (ahash)
        |JOIN lab USING (gid) ORDER BY id""".stripMargin)),

    Q("q_audio_features",  // REAL javax.sound decode of synthetic WAVs —
      // alternating ±A 16-bit PCM gives n_samples and RMS closed forms
      // the oracle computes from doc_id alone (lossless WAV roundtrip)
      (s, dir) => Multimodal.decodeAudio(
          Multimodal.syntheticWav(Tables.table(s, dir, "documents"), "doc_id"))
        .select(col("media_id"), col("decoded"), col("sample_rate"),
          col("channels"), col("n_samples"),
          round(col("duration_ms"), 6).as("duration_ms"),
          round(col("rms"), 6).as("rms"))
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id, TRUE AS decoded,
        |  8000 AS sample_rate, 1 AS channels,
        |  CAST((doc_id % 5 + 1) * 800 AS BIGINT) AS n_samples,
        |  round((doc_id % 5 + 1) * 100.0, 6) AS duration_ms,
        |  round(CAST((doc_id % 1000 + 1) * 16 AS DOUBLE), 6) AS rms
        |FROM documents ORDER BY media_id""".stripMargin)),

    Q("q_video_features",  // REAL AVI (RIFF) container decode of
      // synthetic raw-DIB videos (VERDICT r12 #5 — decodeStub is gone):
      // the pure-JVM parser walks the chunk tree, reads the
      // BITMAPINFOHEADER, and decodes every bottom-up 24-bit BI_RGB
      // frame into per-frame channel means. The fixture's gradients are
      // lossless through the container, so dims, frame count and every
      // frame's means have closed forms the oracle computes from doc_id
      // alone (the syntheticPng/syntheticWav device, per frame). The
      // MJPG path of the same parser is spec-covered (JPEG is lossy —
      // no exact oracle). One map-side decode pass, zero shuffle.
      (s, dir) => Multimodal.videoFrames(
          Multimodal.syntheticAvi(Tables.table(s, dir, "documents"), "doc_id"))
        .select(col("media_id"), col("decoded"), col("width"), col("height"),
          col("n_frames"), col("frame_idx"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
        .orderBy("media_id", "frame_idx"),
      Some("""WITH f AS (SELECT doc_id, unnest(range(0, doc_id % 4 + 2)) AS fi
        |      FROM documents)
        |SELECT doc_id AS media_id, TRUE AS decoded,
        |  CAST(doc_id % 5 + 2 AS INT) AS width,
        |  CAST(doc_id % 3 + 2 AS INT) AS height,
        |  CAST(doc_id % 4 + 2 AS INT) AS n_frames,
        |  CAST(fi AS INT) AS frame_idx,
        |  round((doc_id * 13) % 200 + (doc_id % 5 + 1) / 2.0 + fi, 6) AS mean_r,
        |  round((doc_id * 7) % 200 + (doc_id % 3 + 1) / 2.0, 6) AS mean_g,
        |  round(CAST(doc_id % 200 AS DOUBLE), 6) AS mean_b
        |FROM f ORDER BY media_id, frame_idx""".stripMargin)),

    Q("q_chunks",  // sliding-window context chunking: 32-token windows,
      (s, dir) => docsTokens(s, dir)  // 8-token overlap, last partial kept
        .select(col("doc_id"),
          explode(TextOps.chunkTokens(col("toks"), size = 32, overlap = 8)).as("c"))
        .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
          size(col("c.toks")).as("n_toks"),
          concat_ws(" ", col("c.toks")).as("chunk"))
        .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH t AS ($SqlToks),
        |c AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |e AS (SELECT doc_id, toks, n, unnest(range(0, (n - 1) // 24 + 1)) AS i FROM c)
        |SELECT doc_id, CAST(i AS INT) AS chunk_id,
        |  CAST(least(32, n - i * 24) AS INT) AS n_toks,
        |  array_to_string(list_slice(toks, i * 24 + 1, least(i * 24 + 32, n)), ' ') AS chunk
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin)),

    Q("q_pack",  // GPT-style sequence packing: global token offsets → the
      // 256-token sequence span each doc lands in. At-scale form: range
      // repartition + per-partition running sums, no single-partition
      // WindowExec (PlanAuditSpec asserts; parity TextOpsSpec-tested)
      (s, dir) => {
        val d = docsTokens(s, dir).select(col("doc_id"), size(col("toks")).as("n_toks"))
        TextOps.packSequencesAtScale(d, "doc_id", "n_toks", budget = 256)
          .select(col("doc_id"), col("n_toks"), col("tok_offset"),
            col("seq_first"), col("seq_last"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS ($SqlToks),
        |d AS (SELECT doc_id, len(toks) AS n_toks FROM t),
        |o AS (SELECT doc_id, n_toks,
        |        COALESCE(sum(n_toks) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
        |      FROM d)
        |SELECT doc_id, CAST(n_toks AS INT) AS n_toks,
        |  CAST(tok_offset AS BIGINT) AS tok_offset,
        |  CAST(tok_offset // 256 AS BIGINT) AS seq_first,
        |  CAST(CASE WHEN n_toks = 0 THEN tok_offset // 256
        |       ELSE (tok_offset + n_toks - 1) // 256 END AS BIGINT) AS seq_last
        |FROM o ORDER BY doc_id""".stripMargin)),

    Q("q_vocab_params",  // sklearn min_df/max_df/max_features vocabulary selection
      (s, dir) => {
        val base = docsTokens(s, dir)
        Tfidf.selectVocab(
            Tfidf.docFreqWithCounts(base, "doc_id", "toks"),
            n = base.count(), minDf = 2.0, maxDf = 0.8, maxFeatures = 20)
          .orderBy("word")
      },
      Some(s"""WITH t AS ($SqlToks),
        |f AS (SELECT word, count(DISTINCT doc_id) AS df, count(*) AS cnt
        |      FROM (SELECT doc_id, unnest(toks) AS word FROM t) GROUP BY word),
        |n AS (SELECT count(*) AS n FROM t),
        |kept AS (SELECT word, df, cnt FROM f, n WHERE df >= 2 AND df <= 0.8 * n
        |         QUALIFY row_number() OVER (ORDER BY cnt DESC, word) <= 20)
        |SELECT word, df, cnt FROM kept ORDER BY word""".stripMargin)),

    Q("q_lang_clf",  // TRAINED multiclass language-ID (VERDICT r16
      // next #2): a char 2–3-gram multinomial NB in the house 1e-9
      // fixed point, labels BOOTSTRAPPED from the marker heuristic —
      // the CCNet recipe: markers label the 1/3 of docs that carry
      // them (high precision, low recall), the trained model covers
      // the marker-free majority AND the language pair markers cannot
      // separate (es vs pt here — word-level near-identical pools,
      // separable only by sub-word orthography: nh/lh, -ção vs -ción
      // analogs). Fixture: 4 latin-script languages synthesized from
      // per-language word pools by doc_id arithmetic in BOTH engines
      // (the q_url_canon device); 1/3 of docs carry marker words, the
      // rest score "und" under the heuristic and are HELD OUT of
      // training. Model = bounded (cls, w, lp9) relation (top-300
      // grams × 4 classes), priors = (cls, prior9); scores accumulate
      // as exact integers so argmax and logit value-oracle at every
      // SF. InvariantSweepSpec asserts held-out accuracy at 3 SFs.
      // Scale: model K·V rows broadcast; one (id, cls) shuffle + the
      // single-agg argmax min(struct(−t9, cls)); nothing collected.
      (s, dir) => {
        val fx = langClfFixture(s, dir)
        val (model, priors) = langModel9(s, dir)
        TextStats.nbClassifyMulticlass(fx, "doc_id", "grams", model, priors)
          .join(fx.select(col("doc_id"), col("boot")), Seq("doc_id"))
          .select(col("doc_id"), col("boot"), col("lang_pred"), col("logit"))
          .orderBy("doc_id")
      },
      Some(LangClfOracleSql)),

    Q("q_stream_lang_clf",  // streaming twin of q_lang_clf: the
      // trained multiclass model MATERIALIZED as (cls, w, lp9) +
      // (cls, prior9) parquet relations (nothing collected — the
      // q_stream_nb contract), then broadcast-joined per micro-batch
      // through the foreachBatch kernel. Classification is per-doc
      // independent given the fixed model, so the union of per-batch
      // outputs IS the batch run — the q_lang_clf ORACLE grades the
      // stream sink directly. Overwrite-by-batchId keeps the
      // at-least-once sink exactly-once effective.
      (s, dir) => {
        val (model, priors) = langModel9(s, dir)
        // model+prior relations materialized ONCE per JVM (r17): the
        // frames are tiny (cls×300 grams + 4 priors) and immutable for
        // a given corpus, and re-writing them every bench pass put
        // input staging inside the "warm" sample; coalesce(1) writes
        // one file per relation, so each of the 4 per-batch broadcast
        // builds opens 1 file instead of a shuffle-width's worth
        val relDir = graft.ops.DfMemo.cachedPath(
            Tables.table(s, dir, "documents"), "stream-lang-rel") { d =>
          model.coalesce(1).write.mode("overwrite").parquet(s"$d/m")
          priors.coalesce(1).write.mode("overwrite").parquet(s"$d/p")
        }
        val modelR = s.read.parquet(s"$relDir/m")
        val priorR = s.read.parquet(s"$relDir/p")
        // pivot the model ONCE before the stream starts (r18): the
        // per-batch kernel previously re-read + re-joined the long-form
        // model and paid a (id, cls) shuffle + prior crossJoin + second
        // shuffle per micro-batch; the pinned wide form needs one
        // broadcast build and ONE groupBy(id) per batch
        val (wideM0, cps) = TextStats.nbModelWide(modelR, priorR)
        val wideM = wideM0.localCheckpoint()
        val out = Scratch.dir("stream-lang-out")
        runToEnd(langClfProject(tableStream(s, dir, "documents", files = 4))
          .writeStream
          .foreachBatch { (b: DataFrame, bid: Long) =>
            // persist: the classify kernel and the boot-label join both
            // consume b, and unpersisted each action re-derives the
            // fixture projection from the batch file (review r17)
            val bb = b.persist()
            try TextStats
              .nbClassifyMulticlassWide(bb, "doc_id", "grams", wideM, cps)
              .join(bb.select(col("doc_id"), col("boot")), Seq("doc_id"))
              .write.mode("overwrite").parquet(s"$out/batch_$bid")
            finally { bb.unpersist(): Unit }
          })
        s.read.parquet(s"$out/batch_*")
          .select(col("doc_id"), col("boot"), col("lang_pred"), col("logit"))
          .orderBy("doc_id")
      },
      Some(LangClfOracleSql), iterative = true),

    Q("q_unigram_learn",  // unigram-LM (SentencePiece) tokenizer
      // TRAINING (Kudo 2018; VERDICT r16 next #3): seed vocabulary
      // from substring counts (all single chars + top-90 multi-char
      // pieces), then 2 fixed Viterbi-EM rounds — hard-E-step
      // segmentation under the current 1e-9 fixed-point
      // log-probabilities, M-step Laplace re-estimate over the FIXED
      // vocabulary. Everything runs at DISTINCT-WORD granularity
      // (vocabulary-sized under Heaps' law — corpus touched once for
      // word counts); scores are exact integers, ties break to the
      // shortest piece, so the oracle (GENERATED round-for-round:
      // per-position lateral-alias DP + backtrack, the plattFit/
      // Skilling device) grades counts AND log-probs bit-for-bit.
      (s, dir) => Unigram.train(
        Unigram.wordFreqs(Tables.table(s, dir, "documents"), "text"),
        rounds = 2, maxMulti = 90)
        .orderBy("piece"),
      Some(unigramOracleSql(rounds = 2, finalEncode = false)), iterative = true),

    Q("q_unigram_encode",  // the SERVING path: Viterbi encode of every
      // distinct word under the trained unigram LM — piece sequence,
      // piece count and the exact fixed-point segmentation score. The
      // segmentation string itself is value-oracled (the generated
      // backtrack SQL), so a DP or tie-break regression mismatches
      // the hash, not just a score. Per-distinct-word work; a corpus
      // encode is this frame broadcast-joined back to the tokens.
      (s, dir) => {
        val words = Unigram.wordFreqs(Tables.table(s, dir, "documents"), "text")
        val model = Unigram.train(words, rounds = 2, maxMulti = 90)
        Unigram.viterbiSegment(words, model.select(col("piece"), col("lp9")))
          .select(col("word"), col("freq"),
            size(col("pieces")).cast("int").as("n_pieces"),
            array_join(col("pieces"), " ").as("encoded"),
            col("score9"))
          .orderBy("word")
      },
      Some(unigramOracleSql(rounds = 2, finalEncode = true)), iterative = true)
  )

  /** GENERATED DuckDB oracle for the unigram-LM family: rebuilds the
    * word frame, the substring seeding, the fixed vocabulary, and
    * `rounds` Viterbi-EM rounds — each round a per-position DP over
    * lateral column aliases (d0..dW with first-arm-wins tie-break
    * b1..bW, exactly the Spark fold's max(struct(s, −j))) plus a
    * W-step backtrack, all GENERATED from the same loop bounds the
    * Spark side runs (the plattFit round-for-round device; never
    * hand-copied). `finalEncode` appends one more segmentation pass
    * under the final model and returns per-word encodings; otherwise
    * returns the final model. maxW = 9 covers the corpus ('_' marker
    * + max 8-char tokens, asserted by the sweep at 3 SFs).
    */
  private[graft] def unigramOracleSql(
      rounds: Int, finalEncode: Boolean,
      maxW: Int = 9, maxMulti: Int = 90): String = {
    val L = Unigram.MaxPieceLen
    val sent = "-4611686018427387904"
    val pivCols = (for {
      i <- 1 to maxW; j <- 1 to math.min(L, i)
    } yield s"  max(CASE WHEN i = $i AND j = $j THEN lp9 END) AS l_${i}_$j")
      .mkString(",\n")
    // the DP and the backtrack are STAGED one MATERIALIZED CTE per
    // position/step: a single-SELECT lateral-alias chain inlines each
    // alias textually, so d9 referencing d8..d5 (4 arms) expands to
    // ~4^9 terms and the plan never finishes building — the r15
    // unrolled-hilbert lesson, DuckDB side (measured r17: the
    // lateral form hung > 4 min; the staged form runs in
    // milliseconds). One level of laterality per CTE (bI referencing
    // dI) keeps every expression constant-sized.
    def segRound(r: Int, prevModel: String): String = {
      val dpStages = (1 to maxW).map { i =>
        val arms = (1 to math.min(L, i)).map(j =>
          s"coalesce(d${i - j} + l_${i}_$j, $sent)")
        val cases = (1 to math.min(L, i)).map(j =>
          s"WHEN coalesce(d${i - j} + l_${i}_$j, $sent) = d$i THEN $j")
        s"""dp${r}_$i AS MATERIALIZED (SELECT *,
           |  greatest(${arms.mkString(", ")}) AS d$i,
           |  CASE ${cases.mkString(" ")} END AS b$i
           |  FROM dp${r}_${i - 1})""".stripMargin
      }.mkString(",\n")
      def caseJ(p: String) =
        s"CASE $p ${(1 to maxW).map(i => s"WHEN $i THEN b$i").mkString(" ")} END"
      val btStages = (0 until maxW).map { k =>
        val src = if (k == 0)
          s"(SELECT *, CAST(wl AS INT) AS p0, " +
            s"CASE wl ${(1 to maxW).map(i => s"WHEN $i THEN d$i").mkString(" ")} END AS score9 " +
            s"FROM dp${r}_$maxW)"
        else s"bt${r}_${k - 1}"
        s"""bt${r}_$k AS MATERIALIZED (SELECT *,
           |  CASE WHEN p$k > 0 THEN substr(word, CAST(p$k - ${caseJ(s"p$k")} + 1 AS INT),
           |    CAST(${caseJ(s"p$k")} AS INT)) END AS s$k,
           |  CASE WHEN p$k > 0 THEN p$k - ${caseJ(s"p$k")} ELSE 0 END AS p${k + 1}
           |  FROM $src)""".stripMargin
      }.mkString(",\n")
      s"""cand$r AS MATERIALIZED (SELECT p.word, p.freq, p.i, p.j, m.lp9
         |  FROM pos p JOIN $prevModel m USING (piece)),
         |piv$r AS MATERIALIZED (SELECT word, any_value(freq) AS freq,
         |  CAST(len(word) AS INT) AS wl,
         |$pivCols
         |  FROM cand$r GROUP BY word),
         |dp${r}_0 AS MATERIALIZED (SELECT *, CAST(0 AS BIGINT) AS d0 FROM piv$r),
         |$dpStages,
         |$btStages,
         |seg$r AS MATERIALIZED (SELECT word, freq, CAST(score9 AS BIGINT) AS score9,
         |  list_filter([${(maxW - 1 to 0 by -1).map(k => s"s$k").mkString(", ")}],
         |    x -> x IS NOT NULL) AS ps
         |  FROM bt${r}_${maxW - 1})""".stripMargin
    }
    def mRound(r: Int): String =
      s"""cnt$r AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS c
         |  FROM (SELECT freq, unnest(ps) AS piece FROM seg$r) GROUP BY 1),
         |m$r AS MATERIALIZED (SELECT v.piece, COALESCE(c.c, 0) AS cnt,
         |  CAST(round(ln((COALESCE(c.c, 0) + 1.0) / (t.tot + vv.v)) * 1e9) AS BIGINT) AS lp9
         |  FROM voc v LEFT JOIN cnt$r c USING (piece)
         |  CROSS JOIN (SELECT sum(c) AS tot FROM cnt$r) t CROSS JOIN vv)""".stripMargin
    val roundChain = (1 to rounds)
      .map(r => segRound(r, s"m${r - 1}") + ",\n" + mRound(r))
      .mkString(",\n")
    val encodeChain =
      if (finalEncode) ",\n" + segRound(rounds + 1, s"m$rounds") else ""
    val finalSelect =
      if (finalEncode)
        s"""SELECT word, freq, CAST(len(ps) AS INT) AS n_pieces,
           |  array_to_string(ps, ' ') AS encoded, score9
           |FROM seg${rounds + 1} ORDER BY word""".stripMargin
      else
        s"SELECT piece, cnt, lp9 FROM m$rounds ORDER BY piece"
    s"""WITH toks AS (SELECT unnest(regexp_extract_all(lower(text),
       |    '\\b\\w\\w+\\b')) AS t FROM documents),
       |words AS MATERIALIZED (SELECT '_' || t AS word,
       |  CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY 1),
       |seed AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |  SELECT freq, unnest(flatten(list_transform(generate_series(1, len(word)), i ->
       |    list_transform(generate_series(1, least($L, len(word) - i + 1)), j ->
       |      substr(word, CAST(i AS INT), CAST(j AS INT)))))) AS piece
       |  FROM words) GROUP BY 1),
       |voc AS MATERIALIZED (
       |  SELECT piece, cnt FROM seed WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (SELECT piece, cnt FROM seed WHERE len(piece) > 1
       |    QUALIFY row_number() OVER (ORDER BY cnt DESC, piece) <= $maxMulti)),
       |vv AS (SELECT count(*) AS v FROM voc),
       |m0 AS MATERIALIZED (SELECT piece,
       |  CAST(round(ln(CAST(cnt AS DOUBLE) / t.tot) * 1e9) AS BIGINT) AS lp9
       |  FROM voc CROSS JOIN (SELECT sum(cnt) AS tot FROM voc) t),
       |pos AS MATERIALIZED (SELECT word, freq,
       |    CAST(c.i AS INT) AS i, CAST(c.j AS INT) AS j,
       |    substr(word, CAST(c.i - c.j + 1 AS INT), CAST(c.j AS INT)) AS piece
       |  FROM (SELECT word, freq,
       |      unnest(flatten(list_transform(generate_series(1, len(word)), i ->
       |        list_transform(generate_series(1, least($L, i)), j ->
       |          {'i': i, 'j': j})))) AS c
       |    FROM words)),
       |$roundChain$encodeChain
       |$finalSelect""".stripMargin
  }

  /** Per-language word pools + the marker suffix of the trained
    * language-ID fixture. es/pt deliberately share words ("casa",
    * "agua") and near-forms ("camino"/"caminho", "trabajo"/
    * "trabalho") — the word-level ambiguity that makes the pair the
    * canonical trained-classifier test; de/en are the easy controls.
    * ASCII-only so the fixture is byte-stable through every
    * normalization layer and the DuckDB oracle.
    */
  private[graft] val LangPools: Seq[(String, Seq[String], String)] = Seq(
    ("en", Seq("house", "water", "light", "morning",
      "stone", "river", "cloud", "window"), " the and"),
    ("es", Seq("casa", "agua", "ciudad", "tiempo",
      "camino", "trabajo", "piedra", "ventana"), " el un"),
    ("pt", Seq("casa", "agua", "cidade", "tempo",
      "caminho", "trabalho", "pedra", "janela"), " os uma"),
    ("de", Seq("haus", "wasser", "stadt", "morgen",
      "stein", "fluss", "wolke", "fenster"), " der und"))

  /** The deterministic multilingual fixture projection — shared by
    * the batch query, the streaming twin, and the 3-SF sweep spec.
    * Per doc: language = doc_id % 4, body = 12 pool words selected by
    * (doc_id·(j+3) + j²) % 8, marker suffix appended iff doc_id % 3
    * == 0. `boot` runs the REAL marker scan
    * ([[TextStats.langIdMarkers]]); the oracle replays its closed
    * form (markers appear iff doc_id % 3 == 0 and uniquely identify
    * the class by construction). Pure map-side projection.
    */
  private[graft] def langClfProject(docs: DataFrame): DataFrame = {
    val cls = col("doc_id") % 4
    def pick(f: ((String, Seq[String], String)) => org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(cls === 0, f(LangPools(0))).when(cls === 1, f(LangPools(1)))
        .when(cls === 2, f(LangPools(2))).otherwise(f(LangPools(3)))
    val pool = pick(p => array(p._2.map(lit): _*))
    val body = concat_ws(" ", (0 until 12).map { j =>
      element_at(pool,
        (pmod(col("doc_id") * (j + 3) + lit(j.toLong * j), lit(8L)) + 1).cast("int"))
    }: _*)
    val suffix = when(col("doc_id") % 3 === 0, pick(p => lit(p._3)))
      .otherwise(lit(""))
    docs.select(col("doc_id"),
      pick(p => lit(p._1)).as("lang_true"),
      concat(body, suffix).as("s"))
      .withColumn("boot", TextStats.langIdMarkers(TextOps.tokenize(col("s")),
        LangPools.map(p => (p._1, p._3.trim.split(" ").toSeq))))
      .withColumn("grams", concat(
        TextOps.charNgrams(col("s"), 2), TextOps.charNgrams(col("s"), 3)))
  }

  private[graft] def langClfFixture(s: SparkSession, dir: String): DataFrame =
    langClfProject(Tables.table(s, dir, "documents"))

  /** Run-scoped memo of the TRAINED multiclass NB language model —
    * q_lang_clf and q_stream_lang_clf both consume the identical
    * (fixture → bootstrap-label → train) chain, and without the memo
    * each re-ran the full training (the bench measured the stream twin
    * at 14.8 s, 9× its q_stream_nb shape-sibling; review r17 — the
    * same first-consumer-pays pattern the eigenbasis memo closed this
    * round). Model and priors ride in ONE frame (kind 'm'/'p') so the
    * build is a single memoized materialization, registered as
    * `substrate:lang_model` and billed outside any query's window. */
  private[graft] def langModelCombined(s: SparkSession, dir: String): DataFrame =
    graft.ops.DfMemo.cached(Tables.table(s, dir, "documents"), "langclf-model9") {
      val fx = langClfFixture(s, dir)
      // localCheckpoint: the training plan references the labeled frame
      // from its vocab, count and class-size branches, and each branch
      // would otherwise re-run the fixture synthesis + 2-3-gram explode
      // (the posexplode-lineage lesson; measured 12.9 s -> see
      // COVERAGE r17 medians)
      val lab = fx.filter(col("boot") =!= "und")
        .select(col("doc_id"), col("boot"), col("grams"))
        .localCheckpoint()
      val (model, priors) =
        TextStats.nbMulticlassModel9(lab, "grams", "boot", maxVocab = 300)
      model.select(lit("m").as("kind"), col("cls"), col("w"), col("lp9").as("v9"))
        .unionByName(priors.select(lit("p").as("kind"), col("cls"),
          lit(null).cast("string").as("w"), col("prior9").as("v9")))
    }

  /** The memoized model split back into the (model, priors) pair
    * [[TextStats.nbClassifyMulticlass]] consumes. */
  private[graft] def langModel9(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val c = langModelCombined(s, dir)
    (c.filter(col("kind") === "m")
       .select(col("cls"), col("w"), col("v9").as("lp9")),
     c.filter(col("kind") === "p")
       .select(col("cls"), col("v9").as("prior9")))
  }

  /** DuckDB oracle for q_lang_clf / q_stream_lang_clf: rebuild the
    * fixture, the char 2–3-gram features, the bootstrap labels, the
    * full multinomial NB training (top-300 vocab, dense cls×vocab
    * model, 1e-9 fixed-point log-likelihoods and priors) and the
    * integer-exact argmax. Multiply-referenced CTEs MATERIALIZED
    * (DuckDB 1.0 inlines them combinatorially otherwise).
    */
  private[graft] lazy val LangClfOracleSql: String =
    """WITH fx AS MATERIALIZED (
      |  SELECT doc_id,
      |    array_to_string(list_transform(range(0, 12), j ->
      |      (CASE doc_id % 4
      |        WHEN 0 THEN ['house','water','light','morning','stone','river','cloud','window']
      |        WHEN 1 THEN ['casa','agua','ciudad','tiempo','camino','trabajo','piedra','ventana']
      |        WHEN 2 THEN ['casa','agua','cidade','tempo','caminho','trabalho','pedra','janela']
      |        ELSE ['haus','wasser','stadt','morgen','stein','fluss','wolke','fenster']
      |      END)[CAST((doc_id * (j + 3) + j * j) % 8 AS INT) + 1]), ' ')
      |    || CASE WHEN doc_id % 3 = 0 THEN
      |         (CASE doc_id % 4 WHEN 0 THEN ' the and' WHEN 1 THEN ' el un'
      |          WHEN 2 THEN ' os uma' ELSE ' der und' END) ELSE '' END AS s
      |  FROM documents),
      |tx AS MATERIALIZED (
      |  SELECT doc_id, s,
      |    CASE WHEN doc_id % 3 = 0 THEN
      |      (CASE doc_id % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'es'
      |       WHEN 2 THEN 'pt' ELSE 'de' END) ELSE 'und' END AS boot
      |  FROM fx),
      |g AS MATERIALIZED (
      |  SELECT doc_id, unnest(list_concat(
      |    list_transform(generate_series(1, greatest(len(s) - 1, 0)),
      |      i -> substr(s, CAST(i AS INT), 2)),
      |    list_transform(generate_series(1, greatest(len(s) - 2, 0)),
      |      i -> substr(s, CAST(i AS INT), 3)))) AS w
      |  FROM tx),
      |lab AS MATERIALIZED (SELECT doc_id, boot AS cls FROM tx WHERE boot <> 'und'),
      |occ AS MATERIALIZED (SELECT lab.cls, g.w FROM g JOIN lab USING (doc_id)),
      |voc AS MATERIALIZED (SELECT w FROM (
      |  SELECT w, count(*) AS cw FROM occ GROUP BY 1
      |  QUALIFY row_number() OVER (ORDER BY cw DESC, w) <= 300)),
      |occv AS MATERIALIZED (SELECT occ.cls, occ.w FROM occ JOIN voc USING (w)),
      |cnt AS MATERIALIZED (SELECT cls, w, count(*) AS c FROM occv GROUP BY 1, 2),
      |nc AS MATERIALIZED (SELECT cls, count(*) AS n_c FROM occv GROUP BY 1),
      |vv AS (SELECT count(*) AS v FROM voc),
      |model AS MATERIALIZED (
      |  SELECT nc.cls, voc.w,
      |    CAST(round(ln((COALESCE(cnt.c, 0) + 1.0) / (nc.n_c + vv.v)) * 1e9) AS BIGINT) AS lp9
      |  FROM nc CROSS JOIN voc CROSS JOIN vv
      |  LEFT JOIN cnt ON cnt.cls = nc.cls AND cnt.w = voc.w),
      |dcls AS (SELECT cls, count(*) AS d_c FROM lab GROUP BY 1),
      |kk AS (SELECT count(*) AS k, sum(d_c) AS n FROM dcls),
      |pri AS MATERIALIZED (SELECT cls,
      |  CAST(round(ln((d_c + 1.0) / (n + k)) * 1e9) AS BIGINT) AS prior9
      |  FROM dcls CROSS JOIN kk),
      |sc AS MATERIALIZED (SELECT g.doc_id, m.cls, CAST(sum(m.lp9) AS BIGINT) AS s9
      |  FROM g JOIN model m USING (w) GROUP BY 1, 2),
      |tot AS MATERIALIZED (SELECT tx.doc_id, pri.cls,
      |    pri.prior9 + COALESCE(sc.s9, 0) AS t9
      |  FROM tx CROSS JOIN pri
      |  LEFT JOIN sc ON sc.doc_id = tx.doc_id AND sc.cls = pri.cls)
      |SELECT tx.doc_id, tx.boot, b.lang_pred, b.logit
      |FROM tx JOIN (
      |  SELECT doc_id, cls AS lang_pred, round(t9 / 1e9, 6) AS logit FROM tot
      |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY t9 DESC, cls) = 1) b
      |USING (doc_id)
      |ORDER BY doc_id""".stripMargin
}
