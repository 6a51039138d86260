package graft

import org.apache.spark.sql.functions._

import graft.ops._

import graft.SparkEntry.Q
import graft.QShared._

/** Query registry — normalize/URL dedup, span corruption, PQ/IVF-PQ, graph layer, winsorization.
  * Split out of SparkEntry (VERDICT r9 #6); see SparkEntry for the
  * driver contract that concatenates the registries.
  */
private[graft] object QTail {

  def qs: Seq[Q] = Seq(

    Q("q_normalize_text",  // canonical normalization before hashing
      // (C4/CCNet order of operations): Unicode NFC (r15 — identity
      // on this ASCII corpus, replayed by DuckDB's nfc_normalize so
      // the oracle runs the same recipe), lowercase, collapse
      // non-alnum runs to one space, trim — then md5 over the
      // NORMALIZED form, which catches re-punctuated/re-encoded
      // copies byte-level hashing misses. Pure map-side projection,
      // zero shuffle.
      (s, dir) => Tables.table(s, dir, "documents")
        .select(col("doc_id"), TextOps.normalizeText(col("text")).as("norm"))
        .withColumn("norm_md5", md5(col("norm")))
        .orderBy("doc_id"),
      Some("""WITH nz AS (SELECT doc_id,
        |  trim(regexp_replace(lower(nfc_normalize(text)), '[^a-z0-9]+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, norm, md5(norm) AS norm_md5 FROM nz ORDER BY doc_id""".stripMargin)),

    Q("q_url_canon",  // URL canonicalization — the dedup key
      // normalizeText doesn't cover: scheme unified, host lowercased
      // with :80/:443 + "www." stripped, fragment dropped, one
      // trailing path slash stripped (path case preserved), tracking
      // params (utm_*/fbclid/gclid/msclkid/ref) removed and the rest
      // SORTED. The documents table has no URL column, so a messy URL
      // is synthesized deterministically per doc (both engines build
      // the identical fixture); the OPERATOR under test is the pure
      // map-side canonicalizer. Zero shuffle.
      (s, dir) => {
        val url = concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("http://")),
          when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
          col("source"), lit(".Example.COM"),
          when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit(":80")),
          lit("/Docs/"), (col("doc_id") % 40).cast("string"),
          when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_source=feed&b="), (col("doc_id") % 7).cast("string"),
          lit("&a=1"),
          when(col("doc_id") % 4 === 0, lit("&fbclid=XYZ")).otherwise(lit("")),
          when(col("doc_id") % 6 === 0, lit("#Sec2")).otherwise(lit("")))
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), url.as("url"))
          .withColumn("domain", ops.TextOps.urlHost(col("url")))
          .withColumn("apex", ops.TextOps.urlApex(col("url")))
          .withColumn("canon", ops.TextOps.canonicalizeUrl(col("url")))
          .orderBy("doc_id")
      },
      Some("""WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
        |  source || '.Example.COM' ||
        |  (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END) ||
        |  '/Docs/' || CAST(doc_id % 40 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
        |  '?utm_source=feed&b=' || CAST(doc_id % 7 AS VARCHAR) || '&a=1' ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '&fbclid=XYZ' ELSE '' END) ||
        |  (CASE WHEN doc_id % 6 = 0 THEN '#Sec2' ELSE '' END) AS url
        |  FROM documents),
        |nf AS (SELECT doc_id, url, regexp_replace(trim(url), '#.*', '') AS nf
        |       FROM u),
        |pp AS (SELECT doc_id, url,
        |  regexp_replace(regexp_replace(lower(regexp_extract(nf,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
        |    ':(80|443)$', ''), '^www\.', '') AS host,
        |  regexp_extract(nf,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS p0,
        |  regexp_extract(nf, '\?([^#]*)', 1) AS q0 FROM nf),
        |kq AS (SELECT *, array_to_string(list_sort(list_filter(
        |         string_split(q0, '&'), p -> p <> '' AND NOT
        |         regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|msclkid|ref)='))),
        |         '&') AS kept FROM pp)
        |SELECT doc_id, url, host AS domain,
        |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS apex,
        |  'http://' || host ||
        |  (CASE WHEN p0 = '' THEN '/'
        |        ELSE regexp_replace(p0, '(.)/$', '\1') END) ||
        |  (CASE WHEN kept <> '' THEN '?' || kept ELSE '' END) AS canon
        |FROM kq ORDER BY doc_id""".stripMargin)),

    Q("q_url_apex",  // PSL-aware registrable-domain extraction with the
      // COMPLETE Public Suffix List semantics (VERDICT r12 #4) over
      // the FULL ~9.5k-rule publicsuffix.org list (r13 #3 — bundled
      // resource, both engines' probe sets generated from the same
      // parsed rules): plain multi-label suffixes ("co.uk", the
      // 3-label "k12.ca.us", the 4-label "pvt.k12.ma.us"),
      // wildcard rules ("*.ck", "*.kobe.jp" — one extra label is part
      // of the suffix), exception rules ("!city.kobe.jp" — prevails,
      // suffix = rule minus leftmost label), implicit "*" floor, and
      // the bare-suffix self-fallback. Hosts are synthesized
      // deterministically per doc (both engines build the identical
      // fixture) cycling all five rule shapes with/without deep
      // subdomains and registrant labels. Pure map-side literal InSet
      // probes, zero shuffle; the oracle's CASE/IN twin is GENERATED
      // from the same parsed rule set (pslPSql/pslApexSql — single
      // source of truth).
      (s, dir) => {
        val tld = when(col("doc_id") % 9 === 0, lit("co.uk"))
          .when(col("doc_id") % 9 === 1, lit("com"))
          .when(col("doc_id") % 9 === 2, lit("com.au"))
          .when(col("doc_id") % 9 === 3, lit("org"))
          .when(col("doc_id") % 9 === 4, lit("foo.ck"))
          .when(col("doc_id") % 9 === 5, lit("city.kobe.jp"))
          .when(col("doc_id") % 9 === 6, lit("kobe.jp"))
          .when(col("doc_id") % 9 === 7, lit("pvt.k12.ma.us"))
          .otherwise(lit("k12.ca.us"))
        val url = concat(lit("http://"),
          when(col("doc_id") % 3 === 0, lit("news.")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(""))
            .otherwise(concat(col("source"), lit("."))),
          tld, lit("/p/"), (col("doc_id") % 9).cast("string"))
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), url.as("url"))
          .withColumn("host", ops.TextOps.urlHost(col("url")))
          .withColumn("apex", ops.TextOps.urlApex(col("url")))
          .withColumn("apex_psl", ops.TextOps.urlApexPsl(col("url")))
          .drop("url")
          .orderBy("doc_id")
      },
      Some(s"""WITH u AS (SELECT doc_id, 'http://' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'news.' ELSE '' END) ||
        |  (CASE WHEN doc_id % 7 = 0 THEN '' ELSE source || '.' END) ||
        |  (CASE WHEN doc_id % 9 = 0 THEN 'co.uk'
        |        WHEN doc_id % 9 = 1 THEN 'com'
        |        WHEN doc_id % 9 = 2 THEN 'com.au'
        |        WHEN doc_id % 9 = 3 THEN 'org'
        |        WHEN doc_id % 9 = 4 THEN 'foo.ck'
        |        WHEN doc_id % 9 = 5 THEN 'city.kobe.jp'
        |        WHEN doc_id % 9 = 6 THEN 'kobe.jp'
        |        WHEN doc_id % 9 = 7 THEN 'pvt.k12.ma.us'
        |        ELSE 'k12.ca.us' END) ||
        |  '/p/' || CAST(doc_id % 9 AS VARCHAR) AS url FROM documents),
        |h AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(lower(regexp_extract(
        |    regexp_replace(trim(url), '#.*', ''),
        |    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
        |    ':(80|443)$$', ''), '^www\\.', '') AS host FROM u),
        |x AS (SELECT doc_id, host,
        |  ${graft.ops.TextOps.pslPSql("host")} AS p FROM h)
        |SELECT doc_id, host,
        |  regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS apex,
        |  ${graft.ops.TextOps.pslApexSql("host", "p")} AS apex_psl
        |FROM x ORDER BY doc_id""".stripMargin)),

    Q("q_domain_dedup",  // per-domain URL dedup over the canonical key
      // — keep-first (min doc_id) per (domain, canon), with the dup
      // count the crawl-frontier report wants. ONE shuffle on the
      // canonical key itself (domain is a prefix of it), so a hot
      // domain never concentrates on one reducer unless its CANONICAL
      // URLs do — the scale-honest partitioning for per-domain dedup.
      (s, dir) => {
        val url = concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("http://")),
          when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
          col("source"), lit(".Example.COM"),
          when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit(":80")),
          lit("/Docs/"), (col("doc_id") % 40).cast("string"),
          when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_source=feed&b="), (col("doc_id") % 7).cast("string"),
          lit("&a=1"),
          when(col("doc_id") % 4 === 0, lit("&fbclid=XYZ")).otherwise(lit("")),
          when(col("doc_id") % 6 === 0, lit("#Sec2")).otherwise(lit("")))
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), url.as("url"))
          .withColumn("domain", ops.TextOps.urlHost(col("url")))
          .withColumn("canon", ops.TextOps.canonicalizeUrl(col("url")))
          .groupBy("domain", "canon")
          .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_dups"))
          .orderBy("domain", "canon")
      },
      Some("""WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
        |  source || '.Example.COM' ||
        |  (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END) ||
        |  '/Docs/' || CAST(doc_id % 40 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
        |  '?utm_source=feed&b=' || CAST(doc_id % 7 AS VARCHAR) || '&a=1' ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '&fbclid=XYZ' ELSE '' END) ||
        |  (CASE WHEN doc_id % 6 = 0 THEN '#Sec2' ELSE '' END) AS url
        |  FROM documents),
        |nf AS (SELECT doc_id, regexp_replace(trim(url), '#.*', '') AS nf FROM u),
        |pp AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(lower(regexp_extract(nf,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
        |    ':(80|443)$', ''), '^www\.', '') AS host,
        |  regexp_extract(nf,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS p0,
        |  regexp_extract(nf, '\?([^#]*)', 1) AS q0 FROM nf),
        |kq AS (SELECT *, array_to_string(list_sort(list_filter(
        |         string_split(q0, '&'), p -> p <> '' AND NOT
        |         regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|msclkid|ref)='))),
        |         '&') AS kept FROM pp),
        |cc AS (SELECT doc_id, host AS domain,
        |  'http://' || host ||
        |  (CASE WHEN p0 = '' THEN '/'
        |        ELSE regexp_replace(p0, '(.)/$', '\1') END) ||
        |  (CASE WHEN kept <> '' THEN '?' || kept ELSE '' END) AS canon
        |FROM kq)
        |SELECT domain, canon, min(doc_id) AS keeper,
        |       count(*) AS n_dups
        |FROM cc GROUP BY domain, canon ORDER BY domain, canon""".stripMargin)),

    Q("q_span_corrupt",  // deterministic T5 span corruption (Raffel et
      // al. JMLR 2020 §3.1.4): aligned 3-token windows masked by the
      // keyed hash md5(salt_doc_win) mod 64 < 22 (≈34%), masked windows
      // replaced by ordinal <extra_id_K> sentinels in inputs and emitted
      // after their sentinel in targets. ONE map-side projection — no
      // explode, no shuffle, no RNG state; same salt ⇒ bit-identical
      // corruption on any engine or re-run (auditable multi-epoch data).
      (s, dir) => {
        val d = docsTokens(s, dir)
        d.select(col("doc_id"),
            TextOps.spanCorrupt(col("doc_id"), col("toks")).as("sc"))
          .select(col("doc_id"), col("sc.inputs").as("inputs"),
            col("sc.targets").as("targets"), col("sc.n_masked").as("n_masked"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS ($SqlToks),
        |base AS (SELECT doc_id, toks, len(toks) AS n,
        |           CAST(ceil(len(toks) / 3.0) AS INT) AS nw FROM t),
        |mk AS (SELECT doc_id, toks, n,
        |         list_filter(range(0, nw), w ->
        |           CAST(('0x' || substr(md5('sc1_' || doc_id || '_' || w), 1, 8)) AS BIGINT) % 64 < 22) AS mw
        |       FROM base),
        |o AS (SELECT doc_id,
        |  flatten(list_transform(range(0, n), i ->
        |    CASE WHEN NOT (CAST(('0x' || substr(md5('sc1_' || doc_id || '_' || (i // 3)), 1, 8)) AS BIGINT) % 64 < 22)
        |           THEN [toks[CAST(i + 1 AS INT)]]
        |         WHEN i % 3 = 0
        |           THEN ['<extra_id_' || (list_position(mw, i // 3) - 1) || '>']
        |         ELSE []::VARCHAR[] END)) AS inp,
        |  flatten(list_transform(mw, w ->
        |    list_concat(['<extra_id_' || (list_position(mw, w) - 1) || '>'],
        |      toks[CAST(w * 3 + 1 AS INT):CAST(w * 3 + least(3, n - w * 3) AS INT)]))) AS tgt,
        |  len(mw) AS n_masked
        |  FROM mk)
        |SELECT doc_id, COALESCE(array_to_string(inp, ' '), '') AS inputs,
        |       COALESCE(array_to_string(tgt, ' '), '') AS targets,
        |       CAST(n_masked AS INT) AS n_masked
        |FROM o ORDER BY doc_id""".stripMargin)),

    Q("q_pq_codes",  // product-quantization encode (Jégou et al. TPAMI
      // 2011), the IVF-PQ compression layer: d=64 splits into m=4
      // subspaces, each subvector coded as its nearest codebook slice
      // (codebook = the deterministic vec_id<8 sample, the fixedCentroids
      // device). ONE map-side projection — 4 fused codegen argmins per
      // row, zero shuffle, zero join; err is the subspace residual.
      (s, dir) => {
        val pts = embDouble(s, dir)
        val codebook = pts.filter(col("vec_id") < 8)
          .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
        Similarity.pqCodes(pts, "vec_id", "v", m = 4, codebook)
          .withColumn("err", round(col("err"), 6))
          .orderBy("vec_id", "sub")
      },
      Some("""WITH pts AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |              unnest(range(0, len(embedding))) AS i FROM embeddings),
        |d AS (SELECT p.vec_id, p.i // 16 AS sub, c.cid,
        |        sum((p.x - c.c) * (p.x - c.c)) AS d2
        |      FROM pts p JOIN (SELECT vec_id AS cid, i, x AS c FROM pts
        |                       WHERE vec_id < 8) c ON p.i = c.i
        |      GROUP BY 1, 2, 3),
        |a AS (SELECT vec_id, sub, cid, d2,
        |        row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
        |      FROM d)
        |SELECT vec_id, CAST(sub AS INT) AS sub, cid AS code,
        |       round(sqrt(d2), 6) AS err
        |FROM a WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin)),

    Q("q_pq_adc",  // asymmetric-distance (ADC) top-k search over the PQ
      // codes (Jégou et al. TPAMI 2011 §IV) — the query-time half of
      // IVF-PQ: each query carries one flattened m×k LUT of squared
      // subspace distances to every codebook slice, and a corpus
      // vector's approximate distance is m table lookups over its
      // codes — the corpus floats are never touched at query time.
      // Corpus side = ONE map-side projection (m fused codegen argmins,
      // zero shuffle); queries ride as a broadcast row each; only the
      // per-query top-5 window moves. Ranked on ROUNDED adist, ties by
      // id. Codebook = sorted vec_id<8 sample, queries = vec_id<4.
      (s, dir) => {
        val pts = embDouble(s, dir)
        val codebook = pts.filter(col("vec_id") < 8)
          .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
          .sortBy(_._1)
        Similarity.pqAdcTopK(pts, "vec_id", "v", m = 4, codebook,
            pts.filter(col("vec_id") < 4), "vec_id", "v", k = 5)
          .orderBy("qid", "rank")
      },
      Some("""WITH pts AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |              unnest(range(0, len(embedding))) AS i FROM embeddings),
        |cb AS (SELECT vec_id AS cid, i, x AS c FROM pts WHERE vec_id < 8),
        |d AS (SELECT p.vec_id, p.i // 16 AS sub, c.cid,
        |        sum((p.x - c.c) * (p.x - c.c)) AS d2
        |      FROM pts p JOIN cb c ON p.i = c.i GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, sub, cid FROM
        |          (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |                       ORDER BY d2, cid) AS rn FROM d) WHERE rn = 1),
        |lut AS (SELECT q.vec_id AS qid, q.i // 16 AS sub, c.cid,
        |          sum((q.x - c.c) * (q.x - c.c)) AS d2
        |        FROM pts q JOIN cb c ON q.i = c.i
        |        WHERE q.vec_id < 4 GROUP BY 1, 2, 3),
        |ad AS (SELECT lut.qid, codes.vec_id AS id,
        |         round(sqrt(sum(lut.d2)), 6) AS adist
        |       FROM codes JOIN lut ON lut.sub = codes.sub AND lut.cid = codes.cid
        |       GROUP BY 1, 2),
        |r AS (SELECT qid, id, adist,
        |        row_number() OVER (PARTITION BY qid ORDER BY adist, id) AS rn
        |      FROM ad)
        |SELECT qid, CAST(rn AS INT) AS rank, id, adist
        |FROM r WHERE rn <= 5 ORDER BY qid, rank""".stripMargin)),

    Q("q_ivfpq",  // FULL IVF-PQ routed search (Jégou et al. TPAMI 2011
      // §IV-A "IVFADC"): coarse cells (vec_id<8 centroids) + PQ codes
      // of the RESIDUAL v−c(cell) (codebook = residuals of vec_id
      // 8..15, positional ids) + per-probed-cell ADC LUTs; queries
      // (vec_id<4) probe nprobe=3 of 8 cells, so unprobed cells are
      // never scanned — the recall/cost dial billion-scale ANN ships
      // with. Corpus = one map-side projection of fused argmins;
      // queries broadcast with their LUTs; only the top-5 window moves.
      (s, dir) => {
        val pts = embDouble(s, dir)
        val first16 = pts.filter(col("vec_id") < 16)
          .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
          .sortBy(_._1)
        val coarse = first16.filter(_._1 < 8)
        def d2(a: Array[Double], b: Array[Double]): Double = {
          var s0 = 0.0; var i = 0
          while (i < a.length) { val t = a(i) - b(i); s0 += t * t; i += 1 }
          s0
        }
        val codebook = first16.filter(_._1 >= 8).map { case (id, v) =>
          val (_, c) = coarse.minBy { case (cid, cv) => (d2(v, cv), cid) }
          (id - 8) -> v.indices.map(i => v(i) - c(i)).toArray
        }
        Similarity.ivfPqTopK(pts, "vec_id", "v", coarse, m = 4, codebook,
            pts.filter(col("vec_id") < 4), "vec_id", "v", k = 5, nprobe = 3)
          .orderBy("qid", "rank")
      },
      Some("""WITH pts AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |              unnest(range(0, len(embedding))) AS i FROM embeddings),
        |co AS (SELECT vec_id AS cid, i, x AS c FROM pts WHERE vec_id < 8),
        |asg AS (SELECT p.vec_id, c.cid, sum((p.x - c.c) * (p.x - c.c)) AS d2
        |        FROM pts p JOIN co c ON p.i = c.i GROUP BY 1, 2),
        |cell AS (SELECT vec_id, cid AS cell FROM
        |         (SELECT *, row_number() OVER (PARTITION BY vec_id
        |                      ORDER BY d2, cid) AS rn FROM asg) WHERE rn = 1),
        |res AS (SELECT p.vec_id, p.i, p.x - co.c AS r
        |        FROM pts p JOIN cell ON cell.vec_id = p.vec_id
        |        JOIN co ON co.cid = cell.cell AND co.i = p.i),
        |cb AS (SELECT vec_id - 8 AS cid, i, r AS c FROM res
        |       WHERE vec_id BETWEEN 8 AND 15),
        |cd AS (SELECT r.vec_id, r.i // 16 AS sub, cb.cid,
        |         sum((r.r - cb.c) * (r.r - cb.c)) AS d2
        |       FROM res r JOIN cb ON cb.i = r.i GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, sub, cid FROM
        |          (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |                       ORDER BY d2, cid) AS rn FROM cd) WHERE rn = 1),
        |routed AS (SELECT vec_id AS qid, cid AS cell FROM
        |           (SELECT *, row_number() OVER (PARTITION BY vec_id
        |                        ORDER BY d2, cid) AS rn
        |            FROM asg WHERE vec_id < 4) WHERE rn <= 3),
        |qres AS (SELECT q.vec_id AS qid, routed.cell, q.i, q.x - co.c AS qr
        |         FROM pts q JOIN routed ON routed.qid = q.vec_id
        |         JOIN co ON co.cid = routed.cell AND co.i = q.i),
        |lut AS (SELECT qres.qid, qres.cell, qres.i // 16 AS sub, cb.cid,
        |          sum((qres.qr - cb.c) * (qres.qr - cb.c)) AS d2
        |        FROM qres JOIN cb ON cb.i = qres.i GROUP BY 1, 2, 3, 4),
        |ad AS (SELECT lut.qid, cell.vec_id AS id,
        |         round(sqrt(sum(lut.d2)), 6) AS adist
        |       FROM cell JOIN codes ON codes.vec_id = cell.vec_id
        |       JOIN lut ON lut.cell = cell.cell AND lut.sub = codes.sub
        |                AND lut.cid = codes.cid
        |       GROUP BY 1, 2),
        |r AS (SELECT qid, id, adist,
        |        row_number() OVER (PARTITION BY qid ORDER BY adist, id) AS rn
        |      FROM ad)
        |SELECT qid, CAST(rn AS INT) AS rank, id, adist
        |FROM r WHERE rn <= 5 ORDER BY qid, rank""".stripMargin)),

    Q("q_pagerank",  // fixed-iteration PageRank (Page et al. 1999) over
      // the cell-routed APPROXIMATE cosine 5-NN graph (knnSelfJoin —
      // VERDICT r10 #1: the graph substrate no longer feeds on the
      // Θ(n²) exact kernel; q_knn_graph remains the exact baseline
      // that grades the router at 0.95 recall). Similarity centrality:
      // which embeddings sit in the densest neighborhoods. 3 FIXED
      // iterations make the result a closed-form function of the graph
      // (DuckDB unrolls the same 3 steps); per iteration = one
      // edges⋈ranks join + one partial-agg'd groupBy(dst) — the Pregel
      // shape, O(edges) shuffle, dangling mass a 1-row broadcast.
      (s, dir) => {
        val edges = Similarity.knnSelfJoin(
            Tables.table(s, dir, "embeddings"), "vec_id", "embedding",
            fixedCentroidArr(s, dir), k = 5, nprobe = 5)
          .select(col("qid").as("src"), col("nbr").as("dst"))
        GraphOps.pageRank(edges, "src", "dst", iters = 3)
          .withColumn("rank", round(col("rank"), 12))
          .orderBy("id")
      },
      Some(s"""WITH $SqlCellEdges,
        |nodes AS (SELECT DISTINCT src AS id FROM g UNION SELECT DISTINCT dst FROM g),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |od AS (SELECT src AS id, count(*) AS od FROM g GROUP BY 1),
        |r0 AS (SELECT id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT g.dst AS id, sum(r0.r / od.od) AS c
        |       FROM g JOIN r0 ON r0.id = g.src JOIN od ON od.id = g.src GROUP BY 1),
        |r1 AS (SELECT nodes.id, (1.0 - 0.85) / nn.n + 0.85 * COALESCE(c1.c, 0.0) AS r
        |       FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.id = nodes.id),
        |c2 AS (SELECT g.dst AS id, sum(r1.r / od.od) AS c
        |       FROM g JOIN r1 ON r1.id = g.src JOIN od ON od.id = g.src GROUP BY 1),
        |r2 AS (SELECT nodes.id, (1.0 - 0.85) / nn.n + 0.85 * COALESCE(c2.c, 0.0) AS r
        |       FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.id = nodes.id),
        |c3 AS (SELECT g.dst AS id, sum(r2.r / od.od) AS c
        |       FROM g JOIN r2 ON r2.id = g.src JOIN od ON od.id = g.src GROUP BY 1),
        |r3 AS (SELECT nodes.id, (1.0 - 0.85) / nn.n + 0.85 * COALESCE(c3.c, 0.0) AS r
        |       FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.id = nodes.id)
        |SELECT id, round(r, 12) AS rank FROM r3 ORDER BY id""".stripMargin)),

    Q("q_label_prop",  // fixed-iteration label propagation (Zhu &
      // Ghahramani 2002) over the cell-routed APPROXIMATE cosine 5-NN
      // graph (knnSelfJoin — VERDICT r10 #1, same substrate switch as
      // q_pagerank): labels are kept only for the vec_id%5==0 seed
      // fifth, then 2 synchronous majority-vote rounds spread them
      // (ties by smallest label, seeds immutable) — the semi-supervised
      // path from sparse human labels to corpus-wide ones. Per round:
      // one edges⋈labels join + one partial-agg'd groupBy + a
      // label-bounded argmax window. Unreached nodes report -1.
      (s, dir) => {
        val emb = Tables.table(s, dir, "embeddings")
        val edges = Similarity.knnSelfJoin(emb, "vec_id", "embedding",
            fixedCentroidArr(s, dir), k = 5, nprobe = 5)
          .select(col("qid").as("src"), col("nbr").as("dst"))
        GraphOps.labelPropagate(edges, "src", "dst",
            emb.filter(col("vec_id") % 5 === 0), "vec_id", "label", iters = 2)
          .select(col("id"), coalesce(col("label"), lit(-1)).as("label"))
          .orderBy("id")
      },
      Some(s"""WITH $SqlCellEdges,
        |nodes AS (SELECT DISTINCT src AS id FROM g UNION SELECT DISTINCT dst FROM g),
        |l0 AS (SELECT n.id, s.label FROM nodes n
        |       LEFT JOIN (SELECT vec_id AS id, label FROM embeddings
        |                  WHERE vec_id % 5 = 0) s USING (id)),
        |v1 AS (SELECT g.src AS id, l.label AS nl, count(*) AS cnt
        |       FROM g JOIN l0 l ON l.id = g.dst WHERE l.label IS NOT NULL GROUP BY 1, 2),
        |b1 AS (SELECT id, nl FROM (SELECT id, nl,
        |         row_number() OVER (PARTITION BY id ORDER BY cnt DESC, nl) AS rn
        |       FROM v1) WHERE rn = 1),
        |l1 AS (SELECT l0.id, COALESCE(l0.label, b1.nl) AS label
        |       FROM l0 LEFT JOIN b1 USING (id)),
        |v2 AS (SELECT g.src AS id, l.label AS nl, count(*) AS cnt
        |       FROM g JOIN l1 l ON l.id = g.dst WHERE l.label IS NOT NULL GROUP BY 1, 2),
        |b2 AS (SELECT id, nl FROM (SELECT id, nl,
        |         row_number() OVER (PARTITION BY id ORDER BY cnt DESC, nl) AS rn
        |       FROM v2) WHERE rn = 1),
        |l2 AS (SELECT l1.id, COALESCE(l1.label, b2.nl) AS label
        |       FROM l1 LEFT JOIN b2 USING (id))
        |SELECT id, CAST(COALESCE(label, -1) AS INT) AS label
        |FROM l2 ORDER BY id""".stripMargin)),

    Q("q_hits",  // fixed-iteration HITS hubs & authorities (Kleinberg
      // JACM 1999) over the same cell-routed approximate 5-NN graph as
      // q_pagerank — the centrality pair that SEPARATES reference
      // quality (authority: pointed at by good hubs ⇒ prototype docs)
      // from survey quality (hub: points at good authorities ⇒ bridge
      // docs stitching clusters). 2 fixed iterations, L1-normalized,
      // every intermediate pinned to 9 dp on both engines (the
      // power-iteration parity device). Per iteration: two edge joins
      // + two partial-agg'd groupBys — O(edges) shuffle, normalizers
      // are 1-row broadcasts; the edge substrate is the run-scoped
      // DfMemo'd cellMatches kernel shared with the other graph
      // queries.
      (s, dir) => {
        val edges = Similarity.knnSelfJoin(
            Tables.table(s, dir, "embeddings"), "vec_id", "embedding",
            fixedCentroidArr(s, dir), k = 5, nprobe = 5)
          .select(col("qid").as("src"), col("nbr").as("dst"))
        GraphOps.hits(edges, "src", "dst", iters = 2)
          .orderBy("id")
      },
      Some(s"""WITH $SqlCellEdges,
        |hn AS MATERIALIZED (SELECT DISTINCT src AS id FROM g
        |      UNION SELECT DISTINCT dst FROM g),
        |a1r AS (SELECT g.dst AS id, round(sum(1.0), 9) AS raw FROM g GROUP BY 1),
        |a1f AS (SELECT hn.id, COALESCE(a1r.raw, 0.0) AS raw
        |        FROM hn LEFT JOIN a1r USING (id)),
        |a1s AS (SELECT round(sum(raw), 9) AS s FROM a1f),
        |a1 AS MATERIALIZED (SELECT id, CASE WHEN a1s.s = 0 THEN 0.0
        |        ELSE round(raw / a1s.s, 9) END + 0.0 AS auth
        |      FROM a1f CROSS JOIN a1s),
        |h1r AS (SELECT g.src AS id, round(sum(a.auth), 9) AS raw
        |        FROM g JOIN a1 a ON a.id = g.dst GROUP BY 1),
        |h1f AS (SELECT hn.id, COALESCE(h1r.raw, 0.0) AS raw
        |        FROM hn LEFT JOIN h1r USING (id)),
        |h1s AS (SELECT round(sum(raw), 9) AS s FROM h1f),
        |h1 AS MATERIALIZED (SELECT id, CASE WHEN h1s.s = 0 THEN 0.0
        |        ELSE round(raw / h1s.s, 9) END + 0.0 AS hub
        |      FROM h1f CROSS JOIN h1s),
        |a2r AS (SELECT g.dst AS id, round(sum(h.hub), 9) AS raw
        |        FROM g JOIN h1 h ON h.id = g.src GROUP BY 1),
        |a2f AS (SELECT hn.id, COALESCE(a2r.raw, 0.0) AS raw
        |        FROM hn LEFT JOIN a2r USING (id)),
        |a2s AS (SELECT round(sum(raw), 9) AS s FROM a2f),
        |a2 AS MATERIALIZED (SELECT id, CASE WHEN a2s.s = 0 THEN 0.0
        |        ELSE round(raw / a2s.s, 9) END + 0.0 AS auth
        |      FROM a2f CROSS JOIN a2s),
        |h2r AS (SELECT g.src AS id, round(sum(a.auth), 9) AS raw
        |        FROM g JOIN a2 a ON a.id = g.dst GROUP BY 1),
        |h2f AS (SELECT hn.id, COALESCE(h2r.raw, 0.0) AS raw
        |        FROM hn LEFT JOIN h2r USING (id)),
        |h2s AS (SELECT round(sum(raw), 9) AS s FROM h2f),
        |h2 AS MATERIALIZED (SELECT id, CASE WHEN h2s.s = 0 THEN 0.0
        |        ELSE round(raw / h2s.s, 9) END + 0.0 AS hub
        |      FROM h2f CROSS JOIN h2s)
        |SELECT a2.id, a2.auth, h2.hub
        |FROM a2 JOIN h2 USING (id) ORDER BY id""".stripMargin)),

    Q("q_textrank",  // TextRank keyword scoring (Mihalcea & Tarau,
      // EMNLP 2004 §3.1): PageRank over the undirected word adjacency
      // graph — distinct corpus word bigrams mirrored both ways,
      // unweighted. High rank = words central to the corpus's phrase
      // structure, the graph-based counterpart of tf-idf keywording.
      // Edges derive map-side (zip toks with its tail) + one distinct;
      // pageRankKeyed runs straight on word keys — no word→id table.
      // 3 fixed iterations; undirected ⇒ no dangling mass.
      (s, dir) => GraphOps.textRank(docsTokens(s, dir), "toks", iters = 3)
        .withColumn("rank", round(col("rank"), 12))
        .orderBy("word"),
      Some(s"""WITH t AS ($SqlToks),
        |e0 AS (SELECT unnest(list_transform(range(1, len(toks)), i ->
        |         {'a': toks[i], 'b': toks[i+1]})) AS p FROM t),
        |bg AS (SELECT DISTINCT p.a AS a, p.b AS b FROM e0 WHERE p.a <> p.b),
        |g AS (SELECT a AS src, b AS dst FROM bg
        |      UNION SELECT b AS src, a AS dst FROM bg),
        |nodes AS (SELECT DISTINCT src AS id FROM g),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |od AS (SELECT src AS id, count(*) AS od FROM g GROUP BY 1),
        |r0 AS (SELECT id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT g.dst AS id, sum(r0.r / od.od) AS c
        |       FROM g JOIN r0 ON r0.id = g.src JOIN od ON od.id = g.src GROUP BY 1),
        |r1 AS (SELECT nodes.id, (1.0 - 0.85) / nn.n + 0.85 * COALESCE(c1.c, 0.0) AS r
        |       FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.id = nodes.id),
        |c2 AS (SELECT g.dst AS id, sum(r1.r / od.od) AS c
        |       FROM g JOIN r1 ON r1.id = g.src JOIN od ON od.id = g.src GROUP BY 1),
        |r2 AS (SELECT nodes.id, (1.0 - 0.85) / nn.n + 0.85 * COALESCE(c2.c, 0.0) AS r
        |       FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.id = nodes.id),
        |c3 AS (SELECT g.dst AS id, sum(r2.r / od.od) AS c
        |       FROM g JOIN r2 ON r2.id = g.src JOIN od ON od.id = g.src GROUP BY 1),
        |r3 AS (SELECT nodes.id, (1.0 - 0.85) / nn.n + 0.85 * COALESCE(c3.c, 0.0) AS r
        |       FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.id = nodes.id)
        |SELECT id AS word, round(r, 12) AS rank
        |FROM r3 ORDER BY word""".stripMargin)),

    Q("q_length_winsor",  // per-source length winsorization screen:
      // docs outside their source's exact interpolated [p05, p95]
      // n_chars band (truncated pages / concatenation blobs live in the
      // tails; per-source bands spare naturally-long sources). Bounds =
      // one #sources-row groupBy, broadcast back; screen is map-side.
      // At true corpus scale percentile_approx replaces the exact agg.
      (s, dir) => TextStats.lengthOutliers(
          Tables.table(s, dir, "documents"), "doc_id", "source", "n_chars",
          pLo = 0.05, pHi = 0.95)
        .orderBy("doc_id"),
      Some("""WITH b AS (SELECT source, quantile_cont(n_chars, 0.05) AS lo,
        |         quantile_cont(n_chars, 0.95) AS hi
        |       FROM documents GROUP BY source)
        |SELECT doc_id, source, n_chars,
        |       CASE WHEN n_chars < lo THEN 'short' ELSE 'long' END AS tail
        |FROM documents JOIN b USING (source)
        |WHERE n_chars < lo OR n_chars > hi ORDER BY doc_id""".stripMargin))
  )
}
