package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops._

import graft.SparkEntry.Q
import graft.QShared._

/** Query registry — M6a: deduplication suite - exact/MinHash/LSH/Jaccard/decontamination + streaming twins.
  * Split out of SparkEntry (VERDICT r9 #6); see SparkEntry for the
  * driver contract that concatenates the registries.
  */
private[graft] object QDedup1 {
  import Dictionaries.{Stopwords => Stop}

  def qs: Seq[Q] = Seq(

    // ---- M6: deduplication suite (beyond-reference, SURVEY §7.2 M6)
    Q("q_dedup_exact",  // normalized-fingerprint duplicate groups
      (s, dir) => {
        val withFp = docsTokens(s, dir)
          .withColumn("fp", Dedup.wordSetFingerprint(col("toks")))
        Dedup.exactDupGroups(withFp, "doc_id", "fp").orderBy("fp")
      },
      Some(s"""WITH t AS ($SqlToks),
        |f AS (SELECT doc_id,
        |        md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
        |      FROM t)
        |SELECT fp, min(doc_id) AS rep, count(*) AS n
        |FROM f GROUP BY fp HAVING count(*) > 1 ORDER BY fp""".stripMargin)),

    Q("q_dedup_drop",  // corpus after dropping normalized duplicates (keep min id)
      (s, dir) => {
        val withFp = docsTokens(s, dir)
          .withColumn("fp", Dedup.wordSetFingerprint(col("toks")))
        Dedup.dropDupsByKey(withFp.select(col("doc_id"), col("fp")), "doc_id", "fp")
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS ($SqlToks),
        |f AS (SELECT doc_id,
        |        md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
        |      FROM t)
        |SELECT doc_id FROM f
        |QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin)),

    Q("q_jaccard_pairs",  // exact unigram Jaccard ≥ 0.9, blocked by source
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextOps.tokenizeFiltered(col("text"), Stop, Nil).as("toks"))
        Dedup.jaccardPairsPrefix(
            Dedup.shingleHashes(docs, "doc_id", "toks", k = 1, Some("source")),
            0.9, Some("source"))
          .withColumn("jaccard", round(col("jaccard"), 6))
          .orderBy("id1", "id2")
      },
      Some("""WITH t AS (SELECT doc_id, source,
        |        list_distinct(list_filter(regexp_extract_all(lower(text), '\b\w\w+\b'),
        |          x -> x NOT IN ('the', 'a'))) AS ws FROM documents),
        |e AS (SELECT doc_id, source, unnest(ws) AS w, len(ws) AS sz FROM t),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter,
        |             max(a.sz) AS s1, max(b.sz) AS s2
        |      FROM e a JOIN e b ON a.w = b.w AND a.source = b.source
        |                        AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT id1, id2,
        |       round(CAST(inter AS DOUBLE) / (s1 + s2 - inter), 6) AS jaccard
        |FROM p WHERE CAST(inter AS DOUBLE) / (s1 + s2 - inter) >= 0.9
        |ORDER BY id1, id2""".stripMargin)),

    Q("q_ngram3_jaccard",  // exact word-3-shingle Jaccard ≥ 0.5, unblocked.
      // SMALL-DATA ORACLE WITNESS, deliberately the direct self-join: on
      // this corpus 3-shingles are near-unique so there is no hot-token
      // fan-out, and the unfiltered join is the cheapest exact plan. It is
      // NOT the 100×-scale form — real crawl data has template headers
      // shared by millions of docs; the gated scale twins are
      // q_ngram3_jaccard_capped (bucket-capped) and the q_dedup_* trio
      // (prefix-filtered), all three value-identical to this witness.
      (s, dir) => Dedup.jaccardPairsFromHashes(
          shingles3(s, dir), 0.5,  // shared memoized shingle substrate (r18)
          materialize = false)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id1", "id2"),
      Some(s"""WITH t AS ($SqlToks),
        |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |        ELSE list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |      FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS w, len(sh) AS sz FROM s),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter,
        |             max(a.sz) AS s1, max(b.sz) AS s2
        |      FROM e a JOIN e b ON a.w = b.w AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT id1, id2,
        |       round(CAST(inter AS DOUBLE) / (s1 + s2 - inter), 6) AS jaccard
        |FROM p WHERE CAST(inter AS DOUBLE) / (s1 + s2 - inter) >= 0.5
        |ORDER BY id1, id2""".stripMargin)),

    Q("q_ngram3_jaccard_capped",  // the 3-shingle Jaccard SCALE form: group
      // ids per shingle bucket, cap pathological buckets at maxBucket
      // (boilerplate shared corpus-wide must be dropped or the pair space
      // itself is the bottleneck), emit in-bucket pairs by suffix explode —
      // no self-join, no quadratic single-key shuffle fan-out. On the gate
      // corpora no 3-shingle bucket exceeds the cap, so the output is
      // value-identical to the q_ngram3_jaccard witness (same oracle).
      (s, dir) => Dedup.jaccardPairsBucketed(
          shingles3(s, dir),  // shared memoized shingle substrate (r18);
          // both references (sizes + buckets) re-explode the persisted
          // array frame map-side
          0.5, maxBucket = 1000)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id1", "id2"),
      Some(s"""WITH t AS ($SqlToks),
        |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |        ELSE list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |      FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS w, len(sh) AS sz FROM s),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter,
        |             max(a.sz) AS s1, max(b.sz) AS s2
        |      FROM e a JOIN e b ON a.w = b.w AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT id1, id2,
        |       round(CAST(inter AS DOUBLE) / (s1 + s2 - inter), 6) AS jaccard
        |FROM p WHERE CAST(inter AS DOUBLE) / (s1 + s2 - inter) >= 0.5
        |ORDER BY id1, id2""".stripMargin)),

    Q("q_cross_dedup",  // cross-corpus near-dup retrieval (R-S Jaccard
      // join): corpus docs with 3-shingle Jaccard ≥ 0.5 against ANY doc
      // of a reference set (here the doc_id%10=0 slice standing in for
      // an eval suite / prior snapshot) — the near-dup generalization
      // of exact decontamination: a paraphrased or re-punctuated eval
      // item slips past verbatim-gram overlap but is caught here. The
      // reference element frame and its size table both broadcast; the
      // corpus stream is probed map-side and only matching (cid, eid)
      // rows shuffle into the intersection count.
      (s, dir) => {
        // per-doc shingling is independent of every other doc, so the
        // corpus/reference split is a filter OVER the shared memoized
        // shingle substrate (r18) — identical element sets per side
        val e = shingles3(s, dir)
        val cE = e.filter(col("id") % 10 =!= 0)
        val eE = e.filter(col("id") % 10 === 0)
        Dedup.crossJaccardPairs(cE, eE, minJ = 0.5)
          .withColumn("jaccard", round(col("jaccard"), 6))
          .orderBy("cid", "eid")
      },
      Some(s"""WITH t AS ($SqlToks),
        |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |        ELSE list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |      FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS w, len(sh) AS sz FROM s),
        |p AS (SELECT c.doc_id AS cid, r.doc_id AS eid, count(*) AS inter,
        |             max(c.sz) AS c_sz, max(r.sz) AS e_sz
        |      FROM e c JOIN e r ON c.w = r.w
        |      WHERE c.doc_id % 10 <> 0 AND r.doc_id % 10 = 0
        |      GROUP BY 1, 2)
        |SELECT cid, eid,
        |       round(CAST(inter AS DOUBLE) / (c_sz + e_sz - inter), 6) AS jaccard
        |FROM p WHERE CAST(inter AS DOUBLE) / (c_sz + e_sz - inter) >= 0.5
        |ORDER BY cid, eid""".stripMargin)),

    Q("q_minhash_lsh_md5",  // the WHOLE MinHash+LSH pipeline, value-level
      // oracled: md5-derived base hash + string band keys are portable SQL,
      // so DuckDB reproduces sig -> band -> bucket-join candidates exactly
      // (the xxhash64/BandHashes path is the scale twin, rows-only+swept).
      // Witness corpus capped at 500 docs (the full sf0.01 gate corpus):
      // md5-per-shingle costs ~10× murmur BY DESIGN, and the witness's
      // verification value doesn't grow with corpus size — the cap keeps
      // the bench about the scale path, not the oracle twin
      (s, dir) => Dedup.minhashPairsPortable(
          docsTokens(s, dir)
            .filter(col("doc_id") < 500)
            .select(col("doc_id"), Dedup.tokenShingles(col("toks"), 3).as("sh")),
          "doc_id", "sh", numHashes = 16, bands = 4, seed = 42L)
        .orderBy("id1", "id2"),
      Some {
        val ps = Dedup.hashParams(16, 42L).zipWithIndex
          .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")
        s"""WITH t0 AS ($SqlToks),
        |t AS (SELECT * FROM t0 WHERE doc_id < 500),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN []
        |        ELSE list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
        |      FROM t),
        |x AS (SELECT doc_id,
        |        CAST(('0x' || substr(md5(unnest(sh)), 1, 8)) AS BIGINT) AS x
        |      FROM s),
        |pr(j, a, b) AS (VALUES $ps),
        |sig AS (SELECT doc_id, j, min((a * (x % 2147483647) + b) % 2147483647) AS h
        |        FROM x, pr GROUP BY doc_id, j),
        |band AS (SELECT doc_id, j // 4 AS band,
        |           string_agg(CAST(h AS VARCHAR), '_' ORDER BY j) AS bh
        |         FROM sig GROUP BY doc_id, j // 4),
        |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        |         FROM band a JOIN band b
        |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
        |SELECT id1, id2 FROM cand ORDER BY id1, id2""".stripMargin
      }),

    Q("q_minhash_err",  // MinHash ESTIMATOR CALIBRATION — the grade on
      // the sketch itself, next to the pipeline witnesses: for every
      // EXACT near-dup pair (the run-scoped dedupPairs3 memo, Jaccard
      // ≥ 0.5), the md5-portable 16-hash signature estimate
      // est = matches/16 against the true Jaccard, with the absolute
      // error per pair — the evidence that prices "how many hashes do
      // I need" before a 100 TB MinHash run (E[err] ~ √(j(1−j)/k)).
      // Signatures are built ONLY for pair members (semi-join first):
      // the md5 sig cost scales with the pair set, not the corpus.
      // est is an exact multiple of 1/16 and jaccard an exact
      // rational, so every value oracles bit-for-bit.
      (s, dir) => {
        val pairs = dedupPairs3(s, dir)
          .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
        val members = pairs.select(col("id1").as("doc_id"))
          .unionByName(pairs.select(col("id2").as("doc_id"))).distinct()
        val e = docsTokens(s, dir).join(members, Seq("doc_id"))
          .select(col("doc_id").as("id"),
            explode(Dedup.tokenShingles(col("toks"), 3)).as("w"))
          .select(col("id"),
            conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long").as("h"))
        val sigs = Dedup.minhashFromHashes(e, numHashes = 16, seed = 42L)
        pairs
          .join(sigs.select(col("id").as("id1"), col("sig").as("s1")), Seq("id1"))
          .join(sigs.select(col("id").as("id2"), col("sig").as("s2")), Seq("id2"))
          .withColumn("est", round(
            size(filter(zip_with(col("s1"), col("s2"), (a, b) => a === b),
              x => x)).cast("double") / 16, 6))
          .withColumn("err", round(abs(col("est") - col("jaccard")), 6))
          .select(col("id1"), col("id2"), col("jaccard"), col("est"), col("err"))
          .orderBy("id1", "id2")
      },
      Some {
        val ps = Dedup.hashParams(16, 42L).zipWithIndex
          .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")
        s"""WITH t AS ($SqlToks),
        |sd AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |        ELSE list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |      FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS w, len(sh) AS sz FROM sd),
        |p AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2,
        |        round(CAST(count(*) AS DOUBLE)
        |              / (max(a.sz) + max(b.sz) - count(*)), 6) AS jaccard
        |      FROM e a JOIN e b ON a.w = b.w AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2
        |      HAVING CAST(count(*) AS DOUBLE)
        |             / (max(a.sz) + max(b.sz) - count(*)) >= 0.5),
        |m AS (SELECT id1 AS doc_id FROM p UNION SELECT id2 FROM p),
        |sa AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN []
        |        ELSE list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
        |      FROM t WHERE doc_id IN (SELECT doc_id FROM m)),
        |x AS (SELECT doc_id,
        |        CAST(('0x' || substr(md5(unnest(sh)), 1, 8)) AS BIGINT) AS x
        |      FROM sa),
        |pr(j, a, b) AS (VALUES $ps),
        |sig AS MATERIALIZED (SELECT doc_id, j,
        |        min((a * (x % 2147483647) + b) % 2147483647) AS h
        |      FROM x, pr GROUP BY doc_id, j),
        |pe AS (SELECT p.id1, p.id2, p.jaccard,
        |        round(sum(CASE WHEN ga.h = gb.h THEN 1 ELSE 0 END) / 16.0, 6) AS est
        |      FROM p JOIN sig ga ON ga.doc_id = p.id1
        |             JOIN sig gb ON gb.doc_id = p.id2 AND gb.j = ga.j
        |      GROUP BY 1, 2, 3)
        |SELECT id1, id2, jaccard, est, round(abs(est - jaccard), 6) AS err
        |FROM pe ORDER BY id1, id2""".stripMargin
      }),

    Q("q_dedup_clusters",  // near-dup CLUSTERING: connected components over the
      // exact 3-shingle Jaccard ≥ 0.5 pairs (star contraction) — A≈B≈C
      // collapses to one survivor even when A≉C; oracled via recursive CTE.
      // Pair generation is the PREFIX-FILTERED exact form: a hot shingle
      // (template boilerplate shared by 10⁶ docs in real crawl data) makes
      // the direct self-join's Σ_h |docs_h|² fan-out quadratic on one key;
      // prefix filtering indexes only each doc's rarest tokens, so the
      // candidate join never sees the hot keys. Exact ⇒ oracle unchanged.
      // The cluster map is the run-scoped dedupClusters3 memo shared
      // with q_dedup_canonical/q_dedup_best (DfMemo — one funnel/run).
      (s, dir) => dedupClusters3(s, dir).orderBy("id"),
      Some(s"""WITH RECURSIVE t AS ($SqlToks),
        |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |        ELSE list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |      FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS w, len(sh) AS sz FROM s),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2
        |      FROM e a JOIN e b ON a.w = b.w AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2
        |      HAVING CAST(count(*) AS DOUBLE)
        |             / (max(a.sz) + max(b.sz) - count(*)) >= 0.5),
        |ed AS (SELECT id1 AS a, id2 AS b FROM p UNION ALL SELECT id2, id1 FROM p),
        |n AS (SELECT DISTINCT a AS id FROM ed),
        |rr AS (SELECT id, id AS reach FROM n
        |       UNION
        |       SELECT rr.id, ed.b AS reach FROM rr JOIN ed ON ed.a = rr.reach)
        |SELECT id, min(reach) AS rep FROM rr GROUP BY id ORDER BY id""".stripMargin)),

    Q("q_dedup_canonical",  // the cluster-aware corpus after dedup: one
      (s, dir) =>           // representative per near-dup cluster survives
        // cluster map = the shared dedupClusters3 memo (one funnel/run)
        Dedup.dropClusterDuplicates(
            Tables.table(s, dir, "documents"), "doc_id", dedupClusters3(s, dir))
          .select(col("doc_id"), col("source"))
          .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE t AS ($SqlToks),
        |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |        ELSE list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |      FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS w, len(sh) AS sz FROM s),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2
        |      FROM e a JOIN e b ON a.w = b.w AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2
        |      HAVING CAST(count(*) AS DOUBLE)
        |             / (max(a.sz) + max(b.sz) - count(*)) >= 0.5),
        |ed AS (SELECT id1 AS a, id2 AS b FROM p UNION ALL SELECT id2, id1 FROM p),
        |n AS (SELECT DISTINCT a AS id FROM ed),
        |rr AS (SELECT id, id AS reach FROM n
        |       UNION
        |       SELECT rr.id, ed.b AS reach FROM rr JOIN ed ON ed.a = rr.reach),
        |cl AS (SELECT id, min(reach) AS rep FROM rr GROUP BY id)
        |SELECT doc_id, source FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM cl WHERE id <> rep)
        |ORDER BY doc_id""".stripMargin)),

    Q("q_dedup_best",  // quality-priority canonicalization: per near-dup
      // cluster keep the HIGHEST-quality member (ties → min doc_id), not
      // the min-id one — survivors should be the best copy of a near-dup
      (s, dir) => {
        // cluster map = the shared dedupClusters3 memo (one funnel/run);
        // the scorer re-tokenizes — one map pass, cheaper than pinning a
        // second copy of the token stream next to the memoized clusters
        val scored = docsTokens(s, dir).select(col("doc_id"),
          TextStats.qualityScore(col("toks"), Stop).as("q"))
        Dedup.dropClusterDuplicatesBy(scored, "doc_id", "q", dedupClusters3(s, dir))
          .select(col("doc_id"), round(col("q"), 6).as("q"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE t AS ($SqlToks),
        |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |        ELSE list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |      FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS w, len(sh) AS sz FROM s),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2
        |      FROM e a JOIN e b ON a.w = b.w AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2
        |      HAVING CAST(count(*) AS DOUBLE)
        |             / (max(a.sz) + max(b.sz) - count(*)) >= 0.5),
        |ed AS (SELECT id1 AS a, id2 AS b FROM p UNION ALL SELECT id2, id1 FROM p),
        |n AS (SELECT DISTINCT a AS id FROM ed),
        |rr AS (SELECT id, id AS reach FROM n
        |       UNION
        |       SELECT rr.id, ed.b AS reach FROM rr JOIN ed ON ed.a = rr.reach),
        |cl AS (SELECT id, min(reach) AS rep FROM rr GROUP BY id),
        |sc AS (SELECT doc_id, $SqlQuality AS q FROM t),
        |lb AS (SELECT sc.doc_id, sc.q, COALESCE(cl.rep, sc.doc_id) AS rep
        |       FROM sc LEFT JOIN cl ON cl.id = sc.doc_id),
        |rk AS (SELECT doc_id, q, row_number() OVER
        |         (PARTITION BY rep ORDER BY q DESC, doc_id) AS rk FROM lb)
        |SELECT doc_id, round(q, 6) AS q FROM rk WHERE rk = 1
        |ORDER BY doc_id""".stripMargin)),

    Q("q_edit_pairs",  // EDIT-DISTANCE-verified near-dup pairs — the
      // character-level modality the shingle family is blind inside
      // of: re-spellings/OCR edits break every k-shingle containing
      // the word, but Levenshtein prices them as the few character
      // operations they are. Candidates = the run-scoped dedupPairs3
      // memo (the SAME verified Jaccard ≥ 0.5 pair substrate the
      // dedup funnel runs on — one kernel per JVM, not two; any
      // looser candidate frame composes the same way), a length-diff pre-filter
      // (dist ≥ |L1−L2|) skips impossible pairs before any DP work,
      // and the Ukkonen-banded k-limited levenshtein verifies
      // (O(k·L) per pair, k = ⌈maxNed·mx⌉+1 — BoundedLevenshtein;
      // over-band pairs return -1 and are dropped, exactly the set
      // the oracle's full DP drops). ned = dist/max(L1,L2) rounded
      // BEFORE the ≤ 0.5 compare.
      (s, dir) => Dedup.editVerify(
          dedupPairs3(s, dir),
          Tables.table(s, dir, "documents"), "doc_id", "text",
          maxNed = 0.5)
        .orderBy("id1", "id2"),
      Some(s"""WITH t AS ($SqlToks),
        |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |        ELSE list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |      FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS w, len(sh) AS sz FROM s),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2
        |      FROM e a JOIN e b ON a.w = b.w AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2
        |      HAVING CAST(count(*) AS DOUBLE)
        |             / (max(a.sz) + max(b.sz) - count(*)) >= 0.5),
        |x AS (SELECT p.id1, p.id2, a.text AS t1, b.text AS t2,
        |        length(a.text) AS l1, length(b.text) AS l2
        |      FROM p JOIN documents a ON a.doc_id = p.id1
        |             JOIN documents b ON b.doc_id = p.id2),
        |v AS (SELECT id1, id2, greatest(l1, l2) AS mx,
        |        levenshtein(t1, t2) AS dist
        |      FROM x WHERE abs(l1 - l2) <= greatest(l1, l2) * 0.5),
        |n AS (SELECT id1, id2, CAST(dist AS INT) AS dist,
        |        CASE WHEN mx = 0 THEN 0.0
        |             ELSE round(CAST(dist AS DOUBLE) / mx, 6) END AS ned
        |      FROM v)
        |SELECT id1, id2, dist, ned FROM n WHERE ned <= 0.5
        |ORDER BY id1, id2""".stripMargin)),

    Q("q_weighted_jaccard",  // WEIGHTED (multiset) Jaccard over the
      // memoized near-dup candidate substrate — the token-frequency-
      // aware grade set Jaccard is blind to: J_w = Σ min(counts) /
      // Σ max(counts) prices repetition (boilerplate/template text),
      // and is exactly what Ioffe's weighted MinHash estimates at
      // sketch scale. Candidates = the run-scoped dedupPairs3 memo
      // (same kernel as the dedup funnel + q_edit_pairs); the verify
      // is ONE union + ONE composite-key groupBy over candidate-pair
      // vocabulary — never corpus².
      (s, dir) => Dedup.weightedJaccardVerify(
          dedupPairs3(s, dir), docsTokens(s, dir), "doc_id", "toks")
        .orderBy("id1", "id2"),
      Some(s"""WITH t AS ($SqlToks),
        |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |        ELSE list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |      FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS w, len(sh) AS sz FROM s),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2
        |      FROM e a JOIN e b ON a.w = b.w AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2
        |      HAVING CAST(count(*) AS DOUBLE)
        |             / (max(a.sz) + max(b.sz) - count(*)) >= 0.5),
        |tc AS (SELECT doc_id, tok, count(*) AS c
        |       FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
        |       GROUP BY 1, 2),
        |u AS (SELECT p.id1, p.id2, tc.tok, tc.c AS ca, 0 AS cb
        |      FROM p JOIN tc ON tc.doc_id = p.id1
        |      UNION ALL
        |      SELECT p.id1, p.id2, tc.tok, 0, tc.c
        |      FROM p JOIN tc ON tc.doc_id = p.id2),
        |g AS (SELECT id1, id2, tok, sum(ca) AS ca, sum(cb) AS cb
        |      FROM u GROUP BY 1, 2, 3)
        |SELECT id1, id2,
        |  round(CAST(sum(least(ca, cb)) AS DOUBLE)
        |        / sum(greatest(ca, cb)), 6) AS jw
        |FROM g GROUP BY id1, id2 ORDER BY id1, id2""".stripMargin)),

    Q("q_weighted_minhash_md5",  // WEIGHTED MinHash estimator
      // calibration — the sketch path for q_weighted_jaccard's exact
      // grade: with INTEGER counts, weighted Jaccard over multisets
      // EQUALS set Jaccard over the expanded element space
      // {tok#1 … tok#c(tok)} (each occurrence index is its own
      // element: |min ∩| = Σ min(ca,cb), |max ∪| = Σ max(ca,cb)), so
      // an ordinary MinHash over the EXPANDED elements IS a weighted
      // MinHash — the integer-weight case of Ioffe's CWS, and fully
      // md5-portable. Per exact candidate pair: est = matches/16 vs
      // true jw with |err| — prices "how many hashes" for a weighted
      // 100 TB dedup run. Expansion size = token OCCURRENCES of pair
      // members only (semi-join first), never corpus tokens.
      (s, dir) => {
        // localCheckpoint the pair frame (r17): it feeds the member
        // semi-join TWICE and the final estimator join — unpinned, the
        // whole weighted verify chain was planned and run three times
        val pairs = Dedup.weightedJaccardVerify(
          dedupPairs3(s, dir), docsTokens(s, dir), "doc_id", "toks")
          .localCheckpoint()
        val members = pairs.select(col("id1").as("doc_id"))
          .unionByName(pairs.select(col("id2").as("doc_id"))).distinct()
        val e = docsTokens(s, dir).join(members, Seq("doc_id"))
          .select(col("doc_id").as("id"), explode(col("toks")).as("tok"))
          .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("c"))
          .select(col("id"), col("tok"),
            explode(sequence(lit(1L), col("c"))).as("i"))
          .select(col("id"), conv(substring(
            md5(concat(col("tok"), lit("#"), col("i"))), 1, 8), 16, 10)
            .cast("long").as("h"))
        // one signature row per pair member, joined back for BOTH pair
        // sides — unpinned, the occurrence expansion + md5 + 16-min
        // aggregate ran twice (the md5 work is the declared witness
        // cost, but once, not twice)
        val sigs = Dedup.minhashFromHashes(e, numHashes = 16, seed = 42L)
          .localCheckpoint()
        pairs
          .join(sigs.select(col("id").as("id1"), col("sig").as("s1")), Seq("id1"))
          .join(sigs.select(col("id").as("id2"), col("sig").as("s2")), Seq("id2"))
          .withColumn("est", round(
            size(filter(zip_with(col("s1"), col("s2"), (a, b) => a === b),
              x => x)).cast("double") / 16, 6))
          .withColumn("err", round(abs(col("est") - col("jw")), 6))
          .select(col("id1"), col("id2"), col("jw"), col("est"), col("err"))
          .orderBy("id1", "id2")
      },
      Some {
        val ps = Dedup.hashParams(16, 42L).zipWithIndex
          .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")
        s"""WITH t AS ($SqlToks),
        |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |        ELSE list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |      FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS w, len(sh) AS sz FROM s),
        |p AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2
        |      FROM e a JOIN e b ON a.w = b.w AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2
        |      HAVING CAST(count(*) AS DOUBLE)
        |             / (max(a.sz) + max(b.sz) - count(*)) >= 0.5),
        |tc AS MATERIALIZED (SELECT doc_id, tok, count(*) AS c
        |      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
        |      GROUP BY 1, 2),
        |u AS (SELECT p.id1, p.id2, tc.tok, tc.c AS ca, 0 AS cb
        |      FROM p JOIN tc ON tc.doc_id = p.id1
        |      UNION ALL
        |      SELECT p.id1, p.id2, tc.tok, 0, tc.c
        |      FROM p JOIN tc ON tc.doc_id = p.id2),
        |g AS (SELECT id1, id2, tok, sum(ca) AS ca, sum(cb) AS cb
        |      FROM u GROUP BY 1, 2, 3),
        |jw AS MATERIALIZED (SELECT id1, id2,
        |        round(CAST(sum(least(ca, cb)) AS DOUBLE)
        |              / sum(greatest(ca, cb)), 6) AS jw
        |      FROM g GROUP BY id1, id2),
        |m AS (SELECT id1 AS doc_id FROM jw UNION SELECT id2 FROM jw),
        |ex AS (SELECT doc_id,
        |        tok || '#' || CAST(unnest(range(1, c + 1)) AS VARCHAR) AS el
        |      FROM tc WHERE doc_id IN (SELECT doc_id FROM m)),
        |x AS (SELECT doc_id,
        |        CAST(('0x' || substr(md5(el), 1, 8)) AS BIGINT) AS x
        |      FROM ex),
        |pr(j, a, b) AS (VALUES $ps),
        |sig AS MATERIALIZED (SELECT doc_id, j,
        |        min((a * (x % 2147483647) + b) % 2147483647) AS h
        |      FROM x, pr GROUP BY doc_id, j),
        |pe AS (SELECT jw.id1, jw.id2, jw.jw,
        |        round(sum(CASE WHEN ga.h = gb.h THEN 1 ELSE 0 END) / 16.0, 6) AS est
        |      FROM jw JOIN sig ga ON ga.doc_id = jw.id1
        |              JOIN sig gb ON gb.doc_id = jw.id2 AND gb.j = ga.j
        |      GROUP BY 1, 2, 3)
        |SELECT id1, id2, jw, est, round(abs(est - jw), 6) AS err
        |FROM pe ORDER BY id1, id2""".stripMargin
      }),

    Q("q_cws_err",  // REAL-valued weighted MinHash (Ioffe's Consistent
      // Weighted Sampling, ICDM 2010) calibrated against the exact
      // real-weighted Jaccard — the r14 closing of the weighted-dedup
      // family: q_weighted_minhash_md5's occurrence expansion only
      // covers INTEGER counts; tf-idf-weighted dedup needs CWS. Per
      // exact candidate pair (the memoized dedupPairs3 substrate),
      // weights w = tf·idf (idf smoothed, rounded 9 dp — the
      // chain-rounding device), exact jw = Σmin/Σmax vs est =
      // (th,tj)-sample matches / 16, |err|. Every libm intermediate
      // (r, ln c, ln w, idf) rounds to 9 dp on both engines, after
      // which t_j and ln a are pure IEEE arithmetic — the argmin
      // min(struct(lna, th, tj)) row is bit-identical in DuckDB.
      // Scale: sig shuffle = n_members·16 rows, verify ∝ candidate
      // vocabulary; nothing corpus².
      (s, dir) => {
        val toks = docsTokens(s, dir)
        val pairsRaw = dedupPairs3(s, dir).select(col("id1"), col("id2"))
        val members = pairsRaw.select(col("id1").as("doc_id"))
          .unionByName(pairsRaw.select(col("id2").as("doc_id"))).distinct()
        val counts = toks.join(members, Seq("doc_id"))
          .select(col("doc_id").as("id"), explode(col("toks")).as("tok"))
          .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("c"))
        val weights = counts
          .join(vocabIdf(toks).withColumnRenamed("word", "tok")
            .select(col("tok"), col("idf")), Seq("tok"))
          .select(col("id"), col("tok"),
            (col("c") * round(col("idf"), 9)).as("w"))
          .localCheckpoint()  // feeds both the exact verify and the sigs
        val jw = Dedup.weightedJaccardVerifyReal(pairsRaw, weights)
        val sig = Dedup.cwsSigRows(weights, numHashes = 16, salt = "cws42")
        jw
          .join(sig.select(col("id").as("id1"), col("j"),
            col("th").as("h1"), col("tj").as("t1")), Seq("id1"))
          .join(sig.select(col("id").as("id2"), col("j"),
            col("th").as("h2"), col("tj").as("t2")), Seq("id2", "j"))
          .groupBy(col("id1"), col("id2"), col("jw"))
          .agg(round(sum(when(col("h1") === col("h2") &&
            col("t1") === col("t2"), 1L).otherwise(0L)) / lit(16.0), 6)
            .as("est"))
          .withColumn("err", round(abs(col("est") - col("jw")), 6))
          .select(col("id1"), col("id2"), col("jw"), col("est"), col("err"))
          .orderBy("id1", "id2")
      },
      Some {
        def u32(expr: String) =
          s"((CAST(('0x' || substr(md5($expr), 1, 8)) AS BIGINT) + 0.5) / 4294967296.0)"
        def uj(tag: String) = u32(s"tok || '|' || CAST(j AS VARCHAR) || '|cws42:$tag'")
        s"""WITH t AS ($SqlToks),
        |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |        ELSE list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |      FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS w, len(sh) AS sz FROM s),
        |p AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2
        |      FROM e a JOIN e b ON a.w = b.w AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2
        |      HAVING CAST(count(*) AS DOUBLE)
        |             / (max(a.sz) + max(b.sz) - count(*)) >= 0.5),
        |m AS (SELECT id1 AS doc_id FROM p UNION SELECT id2 FROM p),
        |nn AS (SELECT count(*) AS n FROM t),
        |dfq AS MATERIALIZED (SELECT tok, count(*) AS df FROM
        |        (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM t)
        |      GROUP BY 1),
        |tc AS (SELECT doc_id, tok, count(*) AS c
        |      FROM (SELECT doc_id, unnest(toks) AS tok FROM t
        |            WHERE doc_id IN (SELECT doc_id FROM m))
        |      GROUP BY 1, 2),
        |wt AS MATERIALIZED (SELECT tc.doc_id AS id, tc.tok,
        |        tc.c * round(ln((nn.n + 1.0) / (dfq.df + 1.0)) + 1.0, 9) AS w
        |      FROM tc JOIN dfq ON dfq.tok = tc.tok CROSS JOIN nn),
        |u AS (SELECT p.id1, p.id2, wt.tok,
        |        CAST(round(wt.w * 1e9) AS BIGINT) AS wa, CAST(0 AS BIGINT) AS wb
        |      FROM p JOIN wt ON wt.id = p.id1
        |      UNION ALL
        |      SELECT p.id1, p.id2, wt.tok,
        |        CAST(0 AS BIGINT), CAST(round(wt.w * 1e9) AS BIGINT)
        |      FROM p JOIN wt ON wt.id = p.id2),
        |g AS (SELECT id1, id2, tok, sum(wa) AS wa, sum(wb) AS wb
        |      FROM u GROUP BY 1, 2, 3),
        |jw AS MATERIALIZED (SELECT id1, id2,
        |        round(sum(least(wa, wb)) / sum(greatest(wa, wb)), 6) AS jw
        |      FROM g GROUP BY 1, 2),
        |cj AS (SELECT id, tok, w, unnest(range(16)) AS j FROM wt),
        |hx AS (SELECT id, j,
        |        CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS th,
        |        greatest(round(-ln(${uj("r1")} * ${uj("r2")}), 9),
        |          0.000000001) AS r,
        |        round(ln(-ln(${uj("c1")} * ${uj("c2")})), 9) AS lnc,
        |        ${uj("b")} AS b,
        |        round(ln(w), 9) AS lnw
        |      FROM cj),
        |cv AS (SELECT id, j, th,
        |        CAST(floor(lnw / r + b) AS BIGINT) AS tj,
        |        lnc - r * (CAST(floor(lnw / r + b) AS BIGINT) + 1.0 - b) AS lna
        |      FROM hx),
        |sig AS MATERIALIZED (SELECT id, j,
        |        min(struct_pack(lna := lna, th := th, tj := tj)) AS sm
        |      FROM cv GROUP BY 1, 2),
        |pe AS (SELECT jw.id1, jw.id2, jw.jw,
        |        round(sum(CASE WHEN (a.sm).th = (b.sm).th
        |                        AND (a.sm).tj = (b.sm).tj
        |                  THEN 1 ELSE 0 END) / 16.0, 6) AS est
        |      FROM jw JOIN sig a ON a.id = jw.id1
        |              JOIN sig b ON b.id = jw.id2 AND b.j = a.j
        |      GROUP BY 1, 2, 3)
        |SELECT id1, id2, jw, est, round(abs(est - jw), 6) AS err
        |FROM pe ORDER BY id1, id2""".stripMargin
      }),

    Q("q_dedup_clusters_lsh",  // the COMPLETE 100 TB near-dup funnel in ONE
      // gated plan: MinHash signatures → LSH band buckets → candidate pairs
      // → EXACT Jaccard verify on candidates only → connected components.
      // At scale this composition is the whole point of LSH: banding prunes
      // the pair space from Σ_h|docs_h|² to bucket-mates, verify touches
      // only candidates, CC shuffles only verified edges. This gated
      // witness uses the md5-portable hash family so DuckDB replays
      // sig→band→candidates bit-for-bit (see q_minhash_lsh_md5); the
      // xxhash64 fused-codegen twin (minhashSigsCol + lshCandidates) is
      // the production path, rows-only + recall-swept. Same 500-doc cap
      // rationale as q_minhash_lsh_md5: the witness verifies composition,
      // its cost must not grow with the bench corpus.
      (s, dir) => {
        val docs = docsTokens(s, dir)
          .filter(col("doc_id") < 500)
          .select(col("doc_id"),
            array_distinct(Dedup.tokenShingles(col("toks"), 3)).as("sh"))
          .localCheckpoint()  // feeds both the signature path and verify
        val cand = Dedup.minhashPairsPortable(
          docs, "doc_id", "sh", numHashes = 16, bands = 4, seed = 42L)
        val e = docs.select(col("doc_id").as("id"), explode(col("sh")).as("h"))
        Dedup.dedupClusters(Dedup.verifyJaccard(cand, e, 0.5)).orderBy("id")
      },
      Some {
        val ps = Dedup.hashParams(16, 42L).zipWithIndex
          .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")
        s"""WITH RECURSIVE t0 AS ($SqlToks),
        |t AS (SELECT * FROM t0 WHERE doc_id < 500),
        |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |        ELSE list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |      FROM t),
        |x AS (SELECT doc_id,
        |        CAST(('0x' || substr(md5(unnest(sh)), 1, 8)) AS BIGINT) AS x
        |      FROM s),
        |pr(j, a, b) AS (VALUES $ps),
        |sig AS (SELECT doc_id, j, min((a * (x % 2147483647) + b) % 2147483647) AS h
        |        FROM x, pr GROUP BY doc_id, j),
        |band AS (SELECT doc_id, j // 4 AS band,
        |           string_agg(CAST(h AS VARCHAR), '_' ORDER BY j) AS bh
        |         FROM sig GROUP BY doc_id, j // 4),
        |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        |         FROM band a JOIN band b
        |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |e AS (SELECT doc_id, unnest(sh) AS w, len(sh) AS sz FROM s),
        |v AS (SELECT c.id1, c.id2
        |      FROM cand c JOIN e a ON a.doc_id = c.id1
        |                  JOIN e b ON b.doc_id = c.id2 AND b.w = a.w
        |      GROUP BY 1, 2
        |      HAVING CAST(count(*) AS DOUBLE)
        |             / (max(a.sz) + max(b.sz) - count(*)) >= 0.5),
        |ed AS (SELECT id1 AS a, id2 AS b FROM v UNION ALL SELECT id2, id1 FROM v),
        |n AS (SELECT DISTINCT a AS id FROM ed),
        |rr AS (SELECT id, id AS reach FROM n
        |       UNION
        |       SELECT rr.id, ed.b AS reach FROM rr JOIN ed ON ed.a = rr.reach)
        |SELECT id, min(reach) AS rep FROM rr GROUP BY id ORDER BY id""".stripMargin
      }),

    Q("q_decontaminate",  // benchmark decontamination: corpus docs sharing
      // any 5-gram with the doc_id%7 "eval set", + distinct-overlap counts;
      // the benchmark gram set broadcasts, the corpus never shuffles
      (s, dir) => {
        val grams = docsTokens(s, dir)
          .select(col("doc_id"), Dedup.tokenShingles(col("toks"), 5).as("g5"))
          .localCheckpoint()
        Dedup.contaminationHits(
            grams.filter(col("doc_id") % 7 =!= 0), "doc_id", "g5",
            grams.filter(col("doc_id") % 7 === 0), "g5")
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS ($SqlToks),
        |g AS (SELECT doc_id, CASE WHEN len(toks) < 5 THEN []
        |        ELSE list_transform(range(1, len(toks) - 3),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
        |               || toks[i+3] || ' ' || toks[i+4]) END AS g5
        |      FROM t),
        |bg AS (SELECT DISTINCT unnest(g5) AS g FROM g WHERE doc_id % 7 = 0),
        |cg AS (SELECT DISTINCT doc_id, g FROM
        |        (SELECT doc_id, unnest(g5) AS g FROM g WHERE doc_id % 7 <> 0))
        |SELECT cg.doc_id, count(*) AS n_hits FROM cg JOIN bg USING (g)
        |GROUP BY cg.doc_id ORDER BY doc_id""".stripMargin)),

    Q("q_decontaminate_bloom",  // Bloom-filter decontamination: the same
      // eval-overlap question as q_decontaminate answered by an m-bit
      // filter (m=2^20, k=3) instead of a broadcast gram set — executor
      // memory is m/8 bytes no matter how many benchmark grams, and the
      // probe is one codegen expression (no join operator; nothing
      // shuffles but per-doc hit counts). Hashes are md5-derived
      // (Kirsch–Mitzenmacher double hashing), so DuckDB rebuilds the
      // filter bit-for-bit and the value oracle covers the bloom FALSE
      // POSITIVES too — the output is exact, including them.
      (s, dir) => {
        // repartition BEFORE the checkpoint: the test parquet is one
        // <128 MB file → a 1-partition scan, and the md5 double-hash
        // over every gram would otherwise run on a single core (at
        // real scale the scan is already thousands of splits and this
        // spread is free — it rides the checkpoint materialization)
        val grams = docsTokens(s, dir)
          .select(col("doc_id"), Dedup.tokenShingles(col("toks"), 5).as("g5"))
          .repartition(s.sparkContext.defaultParallelism)
          .localCheckpoint()
        val bits = Dedup.bloomBitsFromGrams(
          grams.filter(col("doc_id") % 7 === 0), "g5", k = 3, mBits = 20)
        Dedup.bloomContaminationHits(
            grams.filter(col("doc_id") % 7 =!= 0), "doc_id", "g5", bits,
            k = 3, mBits = 20)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS ($SqlToks),
        |g AS (SELECT doc_id, CASE WHEN len(toks) < 5 THEN []
        |        ELSE list_transform(range(1, len(toks) - 3),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
        |               || toks[i+3] || ' ' || toks[i+4]) END AS g5
        |      FROM t),
        |bg AS (SELECT DISTINCT unnest(g5) AS g FROM g WHERE doc_id % 7 = 0),
        |bpos AS (SELECT DISTINCT
        |          (CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)
        |           + i * CAST(('0x' || substr(md5(g), 9, 8)) AS BIGINT))
        |          % 1048576 AS pos
        |         FROM bg CROSS JOIN (SELECT unnest(range(0, 3)) AS i)),
        |cg AS (SELECT DISTINCT doc_id, g FROM
        |        (SELECT doc_id, unnest(g5) AS g FROM g WHERE doc_id % 7 <> 0)),
        |cp AS (SELECT doc_id, g,
        |        (CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)
        |         + i * CAST(('0x' || substr(md5(g), 9, 8)) AS BIGINT))
        |        % 1048576 AS pos
        |       FROM cg CROSS JOIN (SELECT unnest(range(0, 3)) AS i)),
        |hit AS (SELECT c.doc_id, c.g FROM cp c
        |        LEFT JOIN bpos b ON c.pos = b.pos
        |        GROUP BY c.doc_id, c.g HAVING count(b.pos) = 3)
        |SELECT doc_id, count(*) AS n_hits FROM hit
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("q_shuffle_det",  // deterministic training-order shuffle: keyed-hash
      // permutation of the whole corpus, dense 1..N positions, epoch = salt;
      // at-scale offset form (no single-partition window — PlanAuditSpec)
      (s, dir) => IdOps.shuffleDeterministic(
          Tables.table(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", salt = "epoch1")
        .select(col("doc_id"), col("pos"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, row_number() OVER
        |  (ORDER BY md5('epoch1_' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("q_dedup_incremental",  // cross-snapshot ingestion dedup: a new shard
      // (source src1) keeps only docs whose content fingerprint is absent
      // from the standing corpus — the per-ingest variant of exact dedup;
      // anti-join hash-shuffles 16-byte fingerprints, never documents
      (s, dir) => {
        val fp = docsTokens(s, dir)
          .select(col("doc_id"), TextStats.contentFingerprint(col("toks")).as("fp"))
        val docs = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source")).join(fp, Seq("doc_id"))
        docs.filter(col("source") === "src1")
          .join(docs.filter(col("source") =!= "src1").select(col("fp")).distinct(),
            Seq("fp"), "left_anti")
          .select(col("doc_id"), col("fp"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS ($SqlToks),
        |f AS (SELECT t.doc_id, md5(array_to_string(toks, ' ')) AS fp, d.source
        |      FROM t JOIN documents d ON d.doc_id = t.doc_id)
        |SELECT doc_id, fp FROM f
        |WHERE source = 'src1'
        |  AND fp NOT IN (SELECT fp FROM f WHERE source <> 'src1')
        |ORDER BY doc_id""".stripMargin)),

    Q("q_span_scrub",  // ExactSubstr-lite duplicated-span scrubbing (Lee et
      // al. arXiv:2107.06499, RefinedWeb's boilerplate removal): every
      // token covered by a 3-token span present in ≥5 distinct docs is
      // dropped — substring-level dedup where whole-doc dedup can't see
      // the shared template. Two shuffles (gram count + per-doc start
      // lists), map-side HOF cover mask, no self-join at any scale.
      (s, dir) => Dedup.scrubHotSpans(
          docsTokens(s, dir).localCheckpoint(), "doc_id", "toks",
          k = 3, minDocs = 5L)
        .orderBy("doc_id"),
      Some(s"""WITH t AS ($SqlToks),
        |g AS (SELECT doc_id, i AS s, md5(array_to_string(toks[i:i+2], ' ')) AS h
        |      FROM t, LATERAL unnest(range(1, greatest(len(toks)-1, 1))) AS u(i)
        |      WHERE len(toks) >= 3),
        |hot AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 5),
        |hs AS (SELECT doc_id, list(s) AS starts FROM g JOIN hot USING (h) GROUP BY doc_id),
        |j AS (SELECT t.doc_id, t.toks, COALESCE(hs.starts, []) AS starts
        |      FROM t LEFT JOIN hs ON hs.doc_id = t.doc_id),
        |c AS (SELECT doc_id,
        |        list_filter(list_transform(range(1, len(toks)+1),
        |            p -> {'p': p, 'tok': toks[p]}),
        |          x -> len(list_filter(starts, s -> s <= x.p AND x.p < s + 3)) = 0) AS kept,
        |        len(toks) AS n0
        |      FROM j)
        |SELECT doc_id,
        |       COALESCE(array_to_string(list_transform(kept, x -> x.tok), ' '), '')
        |         AS cleaned,
        |       CAST(n0 - len(kept) AS BIGINT) AS n_removed
        |FROM c ORDER BY doc_id""".stripMargin)),

    Q("q_span_scrub_intra",  // within-doc repeated-span removal (the other
      // half of ExactSubstr dedup): tokens covered by a 3-gram that
      // already occurred EARLIER in the SAME doc are dropped, first
      // occurrence kept — self-repetition loops fixed, not just flagged.
      // ZERO shuffles: grams, first-occurrence duplicate starts, and the
      // cover mask are array HOFs in one projection, map-side at any SF.
      (s, dir) => Dedup.scrubRepeatedSpans(docsTokens(s, dir), "doc_id", "toks", k = 3)
        .orderBy("doc_id"),
      Some(s"""WITH t AS ($SqlToks),
        |d AS (SELECT doc_id, toks,
        |        CASE WHEN len(toks) >= 3
        |          THEN list_transform(range(1, len(toks)-1),
        |                 i -> md5(array_to_string(toks[i:i+2], ' ')))
        |          ELSE [] END AS grams
        |      FROM t),
        |e AS (SELECT doc_id, toks,
        |        list_filter(range(1, len(grams)+1),
        |          s -> list_position(grams, grams[s]) < s) AS ds
        |      FROM d),
        |c AS (SELECT doc_id,
        |        list_filter(list_transform(range(1, len(toks)+1),
        |            p -> {'p': p, 'tok': toks[p]}),
        |          x -> len(list_filter(ds, s -> s <= x.p AND x.p < s + 3)) = 0) AS kept,
        |        len(toks) AS n0
        |      FROM e)
        |SELECT doc_id,
        |       COALESCE(array_to_string(list_transform(kept, x -> x.tok), ' '), '')
        |         AS cleaned,
        |       CAST(n0 - len(kept) AS BIGINT) AS n_removed
        |FROM c ORDER BY doc_id""".stripMargin)),

    Q("q_span_scrub_exact",  // TRUE ExactSubstr (Lee et al. arXiv:2107.06499
      // §3): every token inside ANY duplicated substring of ≥5 tokens
      // (occurrence threshold 2, counted by position corpus-wide) is
      // dropped — variable-length spans, no ≥minDocs popularity floor;
      // the 2-doc shared-block case q_span_scrub's minDocs=5 provably
      // misses is scrubbed here (DedupSpec). Coverage equivalence to the
      // paper's suffix array: a position is inside a duplicated span of
      // length ≥ L iff inside a duplicated L-window (see scaladoc). The
      // duplicated-gram set is NOT assumed tiny, so the back-join
      // hash-shuffles on doc id — two shuffles, never a self-join, and
      // the cover sweep is the O(n + m log m) SpanCoverMask kernel.
      (s, dir) => Dedup.scrubDupSpans(
          docsTokens(s, dir).localCheckpoint(), "doc_id", "toks",
          minLen = 5, minOcc = 2L)
        .orderBy("doc_id"),
      Some(s"""WITH t AS ($SqlToks),
        |g AS (SELECT doc_id, i AS s, md5(array_to_string(toks[i:i+4], ' ')) AS h
        |      FROM t, LATERAL unnest(range(1, greatest(len(toks)-3, 1))) AS u(i)
        |      WHERE len(toks) >= 5),
        |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
        |hs AS (SELECT doc_id, list(s) AS starts FROM g JOIN dup USING (h) GROUP BY doc_id),
        |j AS (SELECT t.doc_id, t.toks, COALESCE(hs.starts, []) AS starts
        |      FROM t LEFT JOIN hs ON hs.doc_id = t.doc_id),
        |c AS (SELECT doc_id,
        |        list_filter(list_transform(range(1, len(toks)+1),
        |            p -> {'p': p, 'tok': toks[p]}),
        |          x -> len(list_filter(starts, s -> s <= x.p AND x.p < s + 5)) = 0) AS kept,
        |        len(toks) AS n0
        |      FROM j)
        |SELECT doc_id,
        |       COALESCE(array_to_string(list_transform(kept, x -> x.tok), ' '), '')
        |         AS cleaned,
        |       CAST(n0 - len(kept) AS BIGINT) AS n_removed
        |FROM c ORDER BY doc_id""".stripMargin)),

    Q("q_span_dups",  // the audit twin of q_span_scrub_exact: the maximal
      // duplicated-coverage intervals themselves as (doc_id, start, len)
      // — what WOULD be removed, with positions; gaps-and-islands merge
      // of duplicated 5-window starts, window partitioned per doc (span
      // count bounded by doc length, never corpus-wide).
      (s, dir) => Dedup.dupSpans(
          docsTokens(s, dir).localCheckpoint(), "doc_id", "toks",
          minLen = 5, minOcc = 2L)
        .orderBy("doc_id", "start"),
      Some(s"""WITH t AS ($SqlToks),
        |g AS (SELECT doc_id, i AS s, md5(array_to_string(toks[i:i+4], ' ')) AS h
        |      FROM t, LATERAL unnest(range(1, greatest(len(toks)-3, 1))) AS u(i)
        |      WHERE len(toks) >= 5),
        |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
        |ds AS (SELECT doc_id, s FROM g JOIN dup USING (h)),
        |m AS (SELECT doc_id, s,
        |        max(s + 4) OVER (PARTITION BY doc_id ORDER BY s
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        |      FROM ds),
        |i AS (SELECT doc_id, s, sum(CASE WHEN pe IS NULL OR s > pe + 1 THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY doc_id ORDER BY s
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |      FROM m)
        |SELECT doc_id, CAST(min(s) AS INT) AS start,
        |       CAST(max(s) - min(s) + 5 AS INT) AS len
        |FROM i GROUP BY doc_id, isl ORDER BY doc_id, start""".stripMargin)),

    Q("q_substring_dups",  // CROSS-document long-substring dedup (Lee et
      // al. arXiv:2107.06499, VERDICT r10 missing #2): maximal token
      // spans whose every 8-gram occurs verbatim in ≥3 DISTINCT docs,
      // as (doc_id, start, len, ndocs) with ndocs = the weakest gram's
      // doc count — the passage-level memorization audit next to
      // q_span_dups' within-corpus occurrence variant. Two shuffles
      // (gram-hash countDistinct, per-doc struct lists); runs extend
      // via the zero-window sorted-array islands device; the
      // duplicated-gram join is NOT broadcast-hinted (at web scale the
      // duplicated k-gram set is the memorization tail, not tiny).
      (s, dir) => Dedup.substringDups(
          docsTokens(s, dir).localCheckpoint(), "doc_id", "toks",
          k = 8, minDocs = 3L)
        .orderBy("doc_id", "start"),
      Some(s"""WITH t AS ($SqlToks),
        |g AS (SELECT doc_id, i AS s, md5(array_to_string(toks[i:i+7], ' ')) AS h
        |      FROM t, LATERAL unnest(range(1, greatest(len(toks)-6, 1))) AS u(i)
        |      WHERE len(toks) >= 8),
        |dup AS (SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY h
        |        HAVING count(DISTINCT doc_id) >= 3),
        |ds AS (SELECT g.doc_id, g.s, dup.nd FROM g JOIN dup USING (h)),
        |r AS (SELECT doc_id, s, nd,
        |        s - row_number() OVER (PARTITION BY doc_id ORDER BY s) AS grp
        |      FROM ds)
        |SELECT doc_id, CAST(min(s) AS INT) AS start,
        |       CAST(max(s) - min(s) + 8 AS INT) AS len,
        |       CAST(min(nd) AS BIGINT) AS ndocs
        |FROM r GROUP BY doc_id, grp ORDER BY doc_id, start""".stripMargin)),

    Q("q_line_dedup",  // RefinedWeb/MassiveText line-level dedup (Penedo et
      // al. arXiv:2306.01116): lines occurring verbatim in ≥2 distinct
      // docs are removed from every doc, survivors rejoined in order —
      // document structure preserved, boilerplate gone. "Line" = segment
      // between literal ' the ' separators (this corpus has no newlines;
      // the operator takes any separator). Hot-line set is found with one
      // explode+count shuffle, then rides to every task as ONE broadcast
      // array row — the scrub is a map-side array filter, the corpus
      // never shuffles or regroups.
      (s, dir) => Dedup.scrubHotLines(
          Tables.table(s, dir, "documents"), "doc_id", "text",
          sep = " the ", minDocs = 2L)
        .orderBy("doc_id"),
      Some("""WITH p AS (SELECT doc_id, str_split(text, ' the ') AS parts FROM documents),
        |l AS (SELECT doc_id, i, parts[i] AS line
        |      FROM p, LATERAL unnest(range(1, len(parts)+1)) AS u(i)),
        |hot AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
        |k AS (SELECT l.doc_id, l.i, l.line FROM l ANTI JOIN hot USING (line)),
        |g AS (SELECT doc_id, list(line ORDER BY i) AS kept FROM k GROUP BY doc_id)
        |SELECT p.doc_id,
        |       COALESCE(array_to_string(g.kept, ' the '), '') AS cleaned,
        |       CAST(len(p.parts) - COALESCE(len(g.kept), 0) AS BIGINT) AS n_removed
        |FROM p LEFT JOIN g USING (doc_id) ORDER BY doc_id""".stripMargin)),

    Q("q_token_budget",  // token-budget mixture sampling — "sample down to
      // N tokens under this mixture", the form data recipes are actually
      // specified in: budget = 15% of corpus tokens, mixture 40/30/20/10
      // over src0-3 (all other sources dropped). Per-stratum rates are
      // 1/256-quantized with LARGEST-REMAINDER correction toward the
      // budget; src0's allocation exceeds its supply → capped at keep-all
      // (the mixture caps, it does not redistribute). Rate table = one
      // tiny groupBy + windows over THAT table, broadcast back; keep is a
      // map-side keyed-hash predicate — no corpus shuffle. The only
      // driver value is the 1-row corpus token total (k-row-scalar
      // family, like centroids/offsets).
      (s, dir) => {
        val d = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(TextOps.tokenizeFiltered(col("text"), Stop, Nil))
              .cast("double").as("w"))
        val total = d.agg(sum(col("w"))).head().getDouble(0)
        val b = math.floor(0.15 * total).toLong
        IdOps.sampleToTokenBudget(d, "doc_id", "source", "w", b,
            Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
            salt = "tb")
          .select(col("doc_id"), col("source"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS ($SqlToks),
        |d AS (SELECT t.doc_id, dd.source, CAST(len(t.toks) AS DOUBLE) AS w
        |      FROM t JOIN documents dd USING (doc_id)),
        |bb AS (SELECT floor(0.15 * sum(w)) AS b FROM d),
        |g AS (SELECT source, sum(w) AS w FROM d GROUP BY source),
        |m AS (SELECT * FROM (VALUES ('src0', 0.4), ('src1', 0.3),
        |        ('src2', 0.2), ('src3', 0.1)) AS mm(source, share)),
        |r AS (SELECT g.source, g.w, least(b * share / g.w, 1.0) AS rate
        |      FROM g JOIN m USING (source) CROSS JOIN bb),
        |q AS (SELECT source, w, floor(rate*256 + 1e-9) AS t0,
        |        rate*256 - floor(rate*256 + 1e-9) AS frac FROM r),
        |df AS (SELECT (SELECT b FROM bb) - sum(w * t0 / 256.0) AS deficit FROM q),
        |c AS (SELECT source, w, t0, frac,
        |        COALESCE(sum(CASE WHEN frac > 1e-12 THEN w / 256.0 END)
        |          OVER (ORDER BY frac DESC, source
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |      FROM q),
        |b2 AS (SELECT source,
        |        CASE WHEN frac > 1e-12 AND cb < (SELECT deficit FROM df) - 1e-9
        |             THEN t0 + 1 ELSE t0 END AS t
        |       FROM c),
        |thr AS (SELECT source, CASE WHEN t >= 256 THEN 'zz'
        |          ELSE printf('%02x', CAST(t AS INT)) END AS th FROM b2)
        |SELECT dd.doc_id, dd.source
        |FROM documents dd JOIN thr USING (source)
        |WHERE substring(md5('tb' || '_' || CAST(dd.doc_id AS VARCHAR)), 1, 2) < th
        |ORDER BY doc_id""".stripMargin)),

    Q("q_quality_clf",  // trained-classifier-style quality score: logistic
      // model over the heuristic feature set (diversity, stopword
      // density, word length, bigram repetition, top-token domination)
      // with fixed public weights — the fastText/logreg quality-filter
      // plan shape with deterministic coefficients, so the score
      // value-oracles. Pure codegen column expressions over RAW tokens
      // (stopwords kept — the stopword-density feature needs them);
      // zero shuffles beyond the scan.
      (s, dir) => Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenizeFiltered(col("text"), Nil, Nil).as("toks"))
        .select(col("doc_id"),
          round(TextStats.qualityLogit(col("toks"), Stop), 6).as("quality"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
        |        regexp_extract_all(lower(text), '\b\w\w+\b') AS toks FROM documents),
        |f AS (SELECT doc_id, len(toks) AS n,
        |        CASE WHEN len(toks) = 0 THEN 0.0
        |          ELSE len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) END AS d,
        |        CASE WHEN len(toks) = 0 THEN 0.0
        |          ELSE len(list_filter(toks, x -> x IN ('the', 'a')))
        |               / CAST(len(toks) AS DOUBLE) END AS s,
        |        CASE WHEN len(toks) = 0 THEN 0.0
        |          ELSE list_sum(list_transform(toks, x -> length(x)))
        |               / CAST(len(toks) AS DOUBLE) END AS ml,
        |        CASE WHEN len(toks) < 2 THEN 0.0
        |          ELSE 1.0 - len(list_distinct(list_transform(range(1, len(toks)),
        |                 i -> toks[i] || ' ' || toks[i+1])))
        |               / CAST(len(toks) - 1 AS DOUBLE) END AS r,
        |        CASE WHEN len(toks) = 0 THEN 0.0
        |          ELSE list_max(list_transform(list_distinct(toks),
        |                 u -> len(list_filter(toks, x -> x = u))))
        |               / CAST(len(toks) AS DOUBLE) END AS tp
        |      FROM t)
        |SELECT doc_id,
        |  round(1.0 / (1.0 + exp(-(-1.5 + 2.0 * d + (1.0 - s) * 1.0
        |    + 1.5 * least(ml / 10.0, 1.0) - 2.0 * r - 1.0 * tp))), 6) AS quality
        |FROM f ORDER BY doc_id""".stripMargin)),

    Q("q_stream_score",  // the first ORACLED streaming row: the CCNet
      // scorer as a Structured Streaming query — parquet file source →
      // foreachBatch LM scoring with the model as a MATERIALIZED
      // (w, logp9) parquet RELATION broadcast-joined per micro-batch
      // (VERDICT r15 #1: the earlier form collected the vocabulary to
      // the driver and inlined it as one map literal — plan size and
      // driver memory grew with the corpus under Heaps' law; nothing
      // is collected now) → idempotent overwrite-by-batchId parquet
      // SINK, read back and checked against a fixed-point DuckDB
      // oracle. Per-doc scores are exact 1e-9 fixed-point sums, so
      // stream results are bit-identical to the batch kernel and
      // deterministic under replay — exactly what the hash asserts.
      (s, dir) => {
        val docs = docsTokens(s, dir)
        // train once, persist the model as DATA (not plan): each
        // micro-batch reads the artifact instead of re-deriving the
        // vocabulary-count sub-plan (the q_stream_nb device)
        val modelDir = Scratch.dir("stream-score-model")
        TextStats.unigramLogProbs9(docs, "toks")
          .write.mode("overwrite").parquet(modelDir)
        val model = s.read.parquet(modelDir)
        val out = Scratch.dir("stream-score-out")
        val cp = Scratch.dir("stream-score-cp")
        val schema = Tables.table(s, dir, "documents").schema
        // FileStreamSource lists a DIRECTORY; the testdata table may be a
        // single parquet file — stage it into scratch when it is
        val src = new java.io.File(s"$dir/documents.parquet")
        val streamDir =
          if (src.isDirectory) src.toString
          else {
            val d = new java.io.File(Scratch.dir("stream-score-src"))
            java.nio.file.Files.copy(src.toPath,
              new java.io.File(d, "documents.parquet").toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            d.toString
          }
        val stream = s.readStream.schema(schema).parquet(streamDir)
        val toks = stream.select(col("doc_id"),
          TextOps.tokenizeFiltered(col("text"), Stop, Nil).as("toks"))
        toks.writeStream
          .foreachBatch { (b: DataFrame, bid: Long) =>
            // idempotent per-batch sink: foreachBatch is at-least-once,
            // so a retried batch overwrites its own directory instead
            // of appending a second copy (the q_stream_nb recipe)
            graft.streaming.StreamOps
              .lmScoreBatch(b, "doc_id", "toks", model)
              .write.mode("overwrite").parquet(s"$out/batch_$bid")
          }
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        s.read.parquet(s"$out/batch_*")
          .select(col("doc_id"), round(col("xent"), 6).as("xent"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS ($SqlToks),
        |e AS (SELECT doc_id, unnest(toks) AS w FROM t),
        |f AS (SELECT w, count(*) AS cnt FROM e GROUP BY w),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM f),
        |m AS (SELECT w, CAST(round(ln(CAST(cnt AS DOUBLE) / total) * 1e9)
        |        AS BIGINT) AS logp9 FROM f CROSS JOIN tot)
        |SELECT doc_id,
        |  round(-(CAST(sum(logp9) AS DOUBLE) / 1e9)
        |    / CAST(count(*) AS DOUBLE), 6) AS xent
        |FROM e JOIN m USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("q_allpairs_tfidf",  // exact tf-idf weighted-cosine ALL-PAIRS over
      // the corpus — the inverted-index APSS plan (Bayardo et al.
      // WWW'07) in Similarity.cosinePairsSparse: candidates from each
      // doc's rarest-first indexed prefix (suffix bound < θ ⇒ tail
      // can't carry a qualifying pair), exact dot-product verify.
      // Vocab is max_df-capped at 30% — the standard near-dup setting,
      // and the scale lever that keeps hot-term postings out of the
      // quadratic candidate join. Weights are the oracled q_tfidf
      // pipeline's (smoothed idf, L2-normalized, 6dp HALF_UP).
      (s, dir) => {
        val base = docsTokens(s, dir)
        val n = base.agg(count(lit(1)).as("n"))
        val vocab = Tfidf.docFreq(base, "doc_id", "toks")
          .crossJoin(n)
          .filter(col("df") <= lit(0.3) * col("n"))
          .withColumn("idf", log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0))
          .select(col("word"), col("idf"))
        val e = Tfidf.tfidfVectors(base, "doc_id", "toks", vocab, scale = 6)
          .filter(col("weight") > 0)
          .select(col("doc_id").as("id"), col("word"), col("weight").as("w"))
        Similarity.cosinePairsSparse(e, minCos = 0.5)
          .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
          .orderBy("id1", "id2")
      },
      Some(s"""WITH t AS ($SqlToks),
        |b AS (SELECT doc_id, toks, len(toks) AS len FROM t),
        |n AS (SELECT count(*) AS n FROM b),
        |dfreq AS (SELECT word, count(*) AS df FROM
        |  (SELECT doc_id, unnest(list_distinct(toks)) AS word FROM b) GROUP BY word),
        |vocab AS (SELECT word, ln((n + 1.0) / (df + 1.0)) + 1.0 AS idf
        |          FROM dfreq, n WHERE df <= 0.3 * n),
        |counts AS (SELECT doc_id, word, count(*) AS cnt FROM
        |  (SELECT doc_id, unnest(toks) AS word FROM b) GROUP BY doc_id, word),
        |w AS (SELECT c.doc_id, c.word,
        |        (CASE WHEN d.len = 0 THEN 0.0 ELSE CAST(c.cnt AS DOUBLE) / d.len END)
        |          * v.idf AS w
        |      FROM counts c JOIN vocab v USING (word)
        |      JOIN (SELECT doc_id, len FROM b) d USING (doc_id)),
        |u AS (SELECT doc_id, word,
        |        round(CASE WHEN nrm = 0 THEN 0.0 ELSE w / nrm END, 6) AS w
        |      FROM (SELECT doc_id, word, w,
        |              sqrt(sum(w * w) OVER (PARTITION BY doc_id)) AS nrm FROM w)),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, sum(a.w * b.w) AS cos
        |      FROM (SELECT * FROM u WHERE w > 0) a
        |      JOIN (SELECT * FROM u WHERE w > 0) b
        |        ON a.word = b.word AND a.doc_id < b.doc_id
        |      GROUP BY a.doc_id, b.doc_id)
        |SELECT id1, id2, round(cos, 6) AS cos FROM p WHERE cos >= 0.5
        |ORDER BY id1, id2""".stripMargin)),

    Q("q_contamination_frac",  // per-doc benchmark-overlap FRACTION (the
      // WIMBD/GPT-3-report contamination METRIC, vs q_decontaminate's
      // boolean drop): distinct 5-grams per corpus doc, fraction present
      // in the doc_id%7 eval set. The benchmark gram set broadcasts;
      // the corpus never shuffles — per-doc counts aggregate map-side.
      // Zero-hit docs are part of the contract (left join, count 0).
      (s, dir) => {
        // distinct grams as ROWS, not arrays: explode + hash + row-level
        // distinct is 4-5× faster here than array_distinct over an
        // unmaterialized transform (measured; `Lab time` re-times the
        // entry), and grams
        // join as 8-byte longs (xxhash64 collisions ~1e-11 at this
        // cardinality — the distinct-count contract is unchanged, the
        // q_ngram3 device). repartition first: the gate parquet is one
        // file → a 1-partition scan (same note as q_decontaminate_bloom).
        val e = docsTokens(s, dir)
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), explode(Dedup.tokenShingles(col("toks"), 5)).as("gs"))
          .select(col("doc_id"), xxhash64(col("gs")).as("g"))
          .distinct()
          .localCheckpoint()
        val bench = e.filter(col("doc_id") % 7 === 0).select("g").distinct()
        val corpus = e.filter(col("doc_id") % 7 =!= 0)
        // inner-join first so only HITS reach the aggregate (the
        // contaminationHits shape), then left-join the k-row hit counts
        // back onto the per-doc counts — zero-hit docs stay in the
        // contract without dragging every miss row through the agg;
        // docs with no grams (< 5 tokens) have no rows, matching the
        // oracle's len(g5) > 0 filter
        val hits = corpus
          .join(broadcast(bench), Seq("g"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
        corpus.groupBy(col("doc_id")).agg(count(lit(1)).cast("int").as("n_grams"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            round(coalesce(col("n_hits"), lit(0L)) / col("n_grams"), 6).as("frac"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS ($SqlToks),
        |g AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 5 THEN []
        |        ELSE list_transform(range(1, len(toks) - 3),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
        |               || toks[i+3] || ' ' || toks[i+4]) END) AS g5
        |      FROM t),
        |g2 AS (SELECT doc_id, g5 FROM g WHERE len(g5) > 0),
        |bg AS (SELECT DISTINCT unnest(g5) AS g FROM g2 WHERE doc_id % 7 = 0),
        |cg AS (SELECT doc_id, CAST(len(g5) AS INT) AS n_grams, unnest(g5) AS g
        |       FROM g2 WHERE doc_id % 7 <> 0)
        |SELECT cg.doc_id, cg.n_grams, count(bg.g) AS n_hits,
        |       round(CAST(count(bg.g) AS DOUBLE) / cg.n_grams, 6) AS frac
        |FROM cg LEFT JOIN bg ON cg.g = bg.g
        |GROUP BY cg.doc_id, cg.n_grams ORDER BY doc_id""".stripMargin)),

    Q("q_snapshot_diff",  // corpus snapshot diff (CDC between two crawl
      // snapshots): old = docs ∉ id%7=3, new = docs ∉ id%11=5 with
      // id%13=1 texts rewritten — full outer join on id comparing
      // content hashes → added/removed/changed rows. Scale: both sides
      // hash-partition on doc_id (one co-partitioned shuffle join, AQE
      // handles skew); the texts themselves never move, only id+md5.
      (s, dir) => {
        val d = Tables.table(s, dir, "documents")
        val old = d.filter(col("doc_id") % 7 =!= 3)
          .select(col("doc_id"), md5(col("text")).as("h_old"), lit(1).as("in_old"))
        val nw = d.filter(col("doc_id") % 11 =!= 5)
          .select(col("doc_id"),
            md5(when(col("doc_id") % 13 === 1, upper(col("text")))
              .otherwise(col("text"))).as("h_new"),
            lit(1).as("in_new"))
        old.join(nw, Seq("doc_id"), "full_outer")
          .withColumn("status",
            when(col("in_new").isNull, lit("removed"))
              .when(col("in_old").isNull, lit("added"))
              .when(col("h_old") =!= col("h_new"), lit("changed")))
          .filter(col("status").isNotNull)
          .select(col("doc_id"), col("status"))
          .orderBy("doc_id")
      },
      Some("""WITH o AS (SELECT doc_id, md5(text) AS h_old FROM documents
        |        WHERE doc_id % 7 <> 3),
        |n AS (SELECT doc_id, md5(CASE WHEN doc_id % 13 = 1 THEN upper(text)
        |        ELSE text END) AS h_new FROM documents WHERE doc_id % 11 <> 5)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN n.doc_id IS NULL THEN 'removed'
        |            WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN o.h_old <> n.h_new THEN 'changed' END AS status
        |FROM o FULL JOIN n ON o.doc_id = n.doc_id
        |WHERE n.doc_id IS NULL OR o.doc_id IS NULL OR o.h_old <> n.h_new
        |ORDER BY doc_id""".stripMargin)),

    Q("q_dedup_report",  // dedup observability: the duplication-profile
      // histogram every dedup run reports before anything is dropped —
      // at DOC granularity (exact-dup group sizes over the content
      // hash) and LINE granularity (segments shared by k distinct
      // docs, the q_line_dedup threshold-tuning curve), unioned as
      // (level, sz, n_groups). Cheap chained aggregations, partial
      // map-side; the histogram inputs are one row per group/line.
      (s, dir) => {
        val d = Tables.table(s, dir, "documents")
        val doc = d.groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("sz"))
          .groupBy(col("sz")).agg(count(lit(1)).as("n_groups"))
          .withColumn("level", lit("doc"))
        val line = d
          .select(col("doc_id"), explode(split(col("text"), " the ")).as("line"))
          .distinct()
          .groupBy(col("line")).agg(count(lit(1)).as("sz"))
          .groupBy(col("sz")).agg(count(lit(1)).as("n_groups"))
          .withColumn("level", lit("line"))
        doc.unionByName(line)
          .select(col("level"), col("sz"), col("n_groups"))
          .orderBy("level", "sz")
      },
      Some("""WITH gd AS (SELECT md5(text) AS h, count(*) AS sz
        |        FROM documents GROUP BY md5(text)),
        |hd AS (SELECT 'doc' AS level, sz, count(*) AS n_groups FROM gd GROUP BY sz),
        |p AS (SELECT doc_id, str_split(text, ' the ') AS parts FROM documents),
        |l AS (SELECT DISTINCT doc_id, unnest(parts) AS line FROM p),
        |gl AS (SELECT line, count(*) AS sz FROM l GROUP BY line),
        |hl AS (SELECT 'line' AS level, sz, count(*) AS n_groups FROM gl GROUP BY sz)
        |SELECT level, sz, n_groups FROM hd UNION ALL
        |SELECT level, sz, n_groups FROM hl ORDER BY level, sz""".stripMargin)),

    Q("q_dedup_sim_hist",  // NEAR-dup similarity histogram — the
      // θ-tuning curve q_dedup_report's exact-dup histogram can't
      // show: candidate-pair counts per Jaccard decile from the same
      // bucket-capped 3-shingle kernel the dedup funnel runs, floored
      // at 0.05 (below that, pairs never materialize — by design the
      // candidate space IS the report's domain). Where to cut θ =
      // where the histogram's boilerplate hump ends. Bucket =
      // ⌊10·round(j,6)+1e-9⌋ capped at 9 — the epsilon-corrected
      // floor both engines compute identically on the exact-rational
      // jaccard (j=1.0 lands in the [0.9,1.0] bucket). One extra
      // C≤10-row groupBy over the pair set; pair-gen audited in
      // q_ngram3_jaccard_capped. Unlike that θ=0.5 witness, θ=0.05 is
      // IN the regime hot-bucket caps bite, so the oracle models the
      // maxBucket=1000 drop (keep CTE) — at this θ capped pairs are
      // the query's own subject matter, not filtered noise.
      (s, dir) => Dedup.jaccardPairsBucketed(
          shingles3(s, dir),  // shared memoized shingle substrate (r18)
          0.05, maxBucket = 1000)
        .select(least(floor(round(col("jaccard"), 6) * 10 + 1e-9), lit(9.0))
          .cast("int").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
        .orderBy("bucket"),
      Some(s"""WITH t AS ($SqlToks),
        |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |        ELSE list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |      FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS w, len(sh) AS sz FROM s),
        |keep AS (SELECT w FROM e GROUP BY w HAVING count(*) BETWEEN 2 AND 1000),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter,
        |             max(a.sz) AS s1, max(b.sz) AS s2
        |      FROM e a JOIN keep USING (w)
        |      JOIN e b ON a.w = b.w AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |j AS (SELECT round(CAST(inter AS DOUBLE) / (s1 + s2 - inter), 6) AS j
        |      FROM p WHERE CAST(inter AS DOUBLE) / (s1 + s2 - inter) >= 0.05)
        |SELECT CAST(least(floor(j * 10 + 1e-9), 9) AS INT) AS bucket,
        |       count(*) AS n_pairs
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("q_stream_dedup",  // second ORACLED streaming row, this one
      // STATEFUL: exact dedup as dropDuplicates on the content hash
      // over a parquet file source → exactly-once parquet sink. The
      // emitted key SET is arrival-order-free (same keys whichever
      // duplicate wins), so the sink is deterministic and DuckDB's
      // SELECT DISTINCT oracles a stateful streaming query end-to-end.
      (s, dir) => {
        val out = Scratch.dir("stream-dedup-out")
        val cp = Scratch.dir("stream-dedup-cp")
        val schema = Tables.table(s, dir, "documents").schema
        val src = new java.io.File(s"$dir/documents.parquet")
        val streamDir =
          if (src.isDirectory) src.toString
          else {
            val d = new java.io.File(Scratch.dir("stream-dedup-src"))
            java.nio.file.Files.copy(src.toPath,
              new java.io.File(d, "documents.parquet").toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            d.toString
          }
        s.readStream.schema(schema).parquet(streamDir)
          .select(md5(col("text")).as("h"))
          .dropDuplicates("h")
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        s.read.parquet(out).select(col("h")).orderBy("h")
      },
      Some("SELECT DISTINCT md5(text) AS h FROM documents ORDER BY h")),

    Q("q_stream_decon",  // ORACLED streaming row exercising the
      // STREAM-STATIC JOIN: ingest-time decontamination — arriving
      // docs' 5-grams probe the static benchmark gram set (the same
      // doc_id%7 eval split as q_decontaminate) via a stateless
      // broadcast stream-static inner join, then a stateful
      // dropDuplicates emits each contaminated id exactly once into an
      // exactly-once parquet sink. The emitted id SET is
      // arrival-order-free, so the sink is deterministic and the batch
      // oracle covers join + dedup semantics end-to-end.
      (s, dir) => {
        val out = Scratch.dir("stream-decon-out")
        val cp = Scratch.dir("stream-decon-cp")
        val schema = Tables.table(s, dir, "documents").schema
        val src = new java.io.File(s"$dir/documents.parquet")
        val streamDir =
          if (src.isDirectory) src.toString
          else {
            val d = new java.io.File(Scratch.dir("stream-decon-src"))
            java.nio.file.Files.copy(src.toPath,
              new java.io.File(d, "documents.parquet").toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            d.toString
          }
        // static side: checkpoint the gram ARRAYS before exploding —
        // Catalyst re-evaluates unaliased array-builders ~7× through
        // explode (the shingleHashes lesson; measured 7.2 s → 0.6 s here)
        val bench = docsTokens(s, dir)
          .filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), Dedup.tokenShingles(col("toks"), 5).as("g5"))
          .localCheckpoint()
          .select(explode(col("g5")).as("g"))
          .distinct()
        // stream side: a stream cannot localCheckpoint, so the gram
        // explosion crosses an ENCODER boundary (typed flatMap) — the
        // tokenize/shingle work runs exactly once per document
        import s.implicits._
        val stream = s.readStream.schema(schema).parquet(streamDir)
          .filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"),
            TextOps.tokenizeFiltered(col("text"), Stop, Nil).as("toks"))
          .as[(Long, Seq[String])]
          .flatMap { case (id, toks) =>
            if (toks.length < 5) Iterator.empty
            else toks.sliding(5).map(w => (id, w.mkString(" ")))
          }.toDF("doc_id", "g")
        graft.streaming.StreamOps.contaminatedGrams(stream, "doc_id", "g", bench)
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        // explicit schema: a zero-contamination run leaves the sink with
        // no data files, and schema inference would throw on the read-back
        s.read.schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType))))
          .parquet(out).select(col("doc_id")).orderBy("doc_id")
      },
      Some(s"""WITH t AS ($SqlToks),
        |g AS (SELECT doc_id, CASE WHEN len(toks) < 5 THEN []
        |        ELSE list_transform(range(1, len(toks) - 3),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
        |               || toks[i+3] || ' ' || toks[i+4]) END AS g5
        |      FROM t),
        |bg AS (SELECT DISTINCT unnest(g5) AS g FROM g WHERE doc_id % 7 = 0)
        |SELECT DISTINCT doc_id FROM
        |  (SELECT doc_id, unnest(g5) AS g FROM g WHERE doc_id % 7 <> 0)
        |JOIN bg USING (g) ORDER BY doc_id""".stripMargin)),

    Q("q_stream_wverify",  // ORACLED streaming row completing the
      // weighted-dedup family (VERDICT r13 #7): WEIGHTED near-dup
      // verification of the arriving stream against a STATIC reference
      // substrate (the doc_id%7 split, as q_stream_decon). Per
      // micro-batch: candidates = arriving docs sharing a 5-shingle
      // with any reference doc (broadcast probe — the decontamination
      // gram rarity that keeps the cross pair space sparse at scale;
      // 3-shingles admit ~70x more pairs), each pair graded by
      // the SAME batch kernel (weightedJaccardVerifyReal) on tf·idf
      // weights with the full-corpus idf side-input. Every arriving
      // doc is verified whole, in its own batch, against the full
      // static side — so the per-batch union equals the batch run and
      // the DuckDB oracle covers candidate gen + weighted verify
      // end-to-end through a real foreachBatch parquet sink.
      (s, dir) => {
        val out = Scratch.dir("stream-wverify-out")
        val cp = Scratch.dir("stream-wverify-cp")
        val schema = Tables.table(s, dir, "documents").schema
        val src = new java.io.File(s"$dir/documents.parquet")
        val streamDir =
          if (src.isDirectory) src.toString
          else {
            val d = new java.io.File(Scratch.dir("stream-wverify-src"))
            java.nio.file.Files.copy(src.toPath,
              new java.io.File(d, "documents.parquet").toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            d.toString
          }
        val toks = docsTokens(s, dir)
        val idf = vocabIdf(toks).select(col("word").as("tok"), col("idf"))
          .localCheckpoint()
        val refToks = toks.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id").as("id"), col("toks"))
          .localCheckpoint()
        val refW = graft.streaming.StreamOps.tfidfWeights(refToks, idf)
          .localCheckpoint()
        val refSh = refToks.select(col("id"), explode(array_distinct(
            Dedup.tokenShingles(col("toks"), 5))).as("sh"))
          .localCheckpoint()
        s.readStream.schema(schema).parquet(streamDir)
          .filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id").as("id"),
            TextOps.tokenizeFiltered(col("text"), Stop, Nil).as("toks"))
          .writeStream
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             _: Long) =>
              graft.streaming.StreamOps
                .weightedVerifyBatch(b, refW, refSh, idf, k = 5, minJw = 0.1)
                .write.mode("append").parquet(out)
              ()
          }
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        // explicit schema: a zero-match run leaves no data files and
        // inference would throw on the read-back
        s.read.schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id1",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("id2",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("jw",
              org.apache.spark.sql.types.DoubleType))))
          .parquet(out).orderBy("id1", "id2")
      },
      Some(s"""WITH t AS ($SqlToks),
        |nn AS (SELECT count(*) AS n FROM t),
        |dfq AS MATERIALIZED (SELECT tok, count(*) AS df FROM
        |        (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM t)
        |      GROUP BY 1),
        |idf AS MATERIALIZED (SELECT tok,
        |        round(ln((nn.n + 1.0) / (dfq.df + 1.0)) + 1.0, 9) AS idf
        |      FROM dfq CROSS JOIN nn),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 5 THEN []
        |        ELSE list_transform(range(1, len(toks) - 3),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
        |               || toks[i+3] || ' ' || toks[i+4]) END) AS s5
        |      FROM t),
        |p AS MATERIALIZED (SELECT DISTINCT b.doc_id AS id1, r.doc_id AS id2
        |      FROM (SELECT doc_id, unnest(s5) AS g FROM sh WHERE doc_id % 7 <> 0) b
        |      JOIN (SELECT doc_id, unnest(s5) AS g FROM sh WHERE doc_id % 7 = 0) r
        |      USING (g)),
        |tc AS MATERIALIZED (SELECT doc_id, tok, count(*) AS c FROM
        |        (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2),
        |wt AS MATERIALIZED (SELECT tc.doc_id AS id, tc.tok, tc.c * idf.idf AS w
        |      FROM tc JOIN idf USING (tok)),
        |u AS (SELECT p.id1, p.id2, wt.tok,
        |        CAST(round(wt.w * 1e9) AS BIGINT) AS wa, CAST(0 AS BIGINT) AS wb
        |      FROM p JOIN wt ON wt.id = p.id1
        |      UNION ALL
        |      SELECT p.id1, p.id2, wt.tok,
        |        CAST(0 AS BIGINT), CAST(round(wt.w * 1e9) AS BIGINT)
        |      FROM p JOIN wt ON wt.id = p.id2),
        |g AS (SELECT id1, id2, tok, sum(wa) AS wa, sum(wb) AS wb
        |      FROM u GROUP BY 1, 2, 3),
        |j AS (SELECT id1, id2,
        |        round(sum(least(wa, wb)) / sum(greatest(wa, wb)), 6) AS jw
        |      FROM g GROUP BY 1, 2)
        |SELECT id1, id2, jw FROM j WHERE jw >= 0.1
        |ORDER BY id1, id2""".stripMargin)),

    Q("q_stream_window",  // third ORACLED streaming row — WATERMARKED,
      // WINDOWED, APPEND: hourly event-type counts with a 2 h watermark
      // over a parquet file source into an exactly-once append sink.
      // Append emits exactly the windows whose end is ≤ the FINAL
      // watermark (max event time − 2 h; AvailableNow runs the trailing
      // no-data batch that advances it); on static input that set is
      // closed-form, so DuckDB oracles watermark semantics themselves —
      // which windows a stateful streaming aggregation may finalize —
      // not just a stateless pass-through.
      (s, dir) => {
        val out = Scratch.dir("stream-window-out")
        val cp = Scratch.dir("stream-window-cp")
        val src = new java.io.File(s"$dir/events.parquet")
        val streamDir =
          if (src.isDirectory) src.toString
          else {
            val d = new java.io.File(Scratch.dir("stream-window-src"))
            java.nio.file.Files.copy(src.toPath,
              new java.io.File(d, "events.parquet").toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            d.toString
          }
        val schema = s.read.parquet(streamDir).schema
        val stream = s.readStream.schema(schema).parquet(streamDir)
          // same NTZ-wall-clock → UTC-instant adaptation as Tables.events
          // (sessions pin spark.sql.session.timeZone=UTC); watermarks
          // need a TimestampType event-time column
          .select(col("ts").cast(org.apache.spark.sql.types.TimestampType).as("ts"),
            col("event_type"), col("value"))
        graft.streaming.StreamOps.hourlyCounts(stream)
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", cp)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        s.read.parquet(out).orderBy("hour_epoch", "event_type")
      },
      Some("""WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
        |SELECT epoch_ns(date_trunc('hour', ts)) // 1000000000 AS hour_epoch,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events, wm
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
        |GROUP BY 1, 2 ORDER BY hour_epoch, event_type""".stripMargin))
  )
}
