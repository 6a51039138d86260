package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops._
import graft.sources.Sinks

import graft.SparkEntry.Q
import graft.QShared._

/** Query registry — curation funnels, datasheet, IO round-trips, SQL front-end shapes.
  * Split out of SparkEntry (VERDICT r9 #6); see SparkEntry for the
  * driver contract that concatenates the registries.
  */
private[graft] object QCuration {
  import Dictionaries.{Stopwords => Stop}

  def qs: Seq[Q] = Seq(

    Q("q_curation",  // full curation funnel: quality → exact dedup → near-dup drop
      (s, dir) => graft.pipeline.Curation.curate(
          Tables.table(s, dir, "documents"), "doc_id", "text",
          graft.pipeline.Curation.Config())
        .orderBy("doc_id"),
      Some(s"""WITH raw AS (SELECT doc_id,
        |        regexp_extract_all(lower(text), '\\b\\w\\w+\\b') AS toks FROM documents),
        |ann AS (SELECT doc_id,
        |        list_filter(toks, x -> x NOT IN ('the', 'a')) AS ftoks,
        |        $SqlQuality AS quality
        |        FROM raw),
        |kept AS (SELECT doc_id, ftoks,
        |           md5(array_to_string(list_sort(list_distinct(ftoks)), ' ')) AS fp
        |         FROM ann WHERE quality >= 0.6),
        |ex AS (SELECT doc_id, ftoks FROM kept
        |       QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ftoks) < 3 THEN []
        |         ELSE list_transform(range(1, len(ftoks) - 1),
        |           i -> ftoks[i] || ' ' || ftoks[i+1] || ' ' || ftoks[i+2]) END) AS s
        |       FROM ex),
        |e AS (SELECT doc_id, unnest(s) AS w, len(s) AS sz FROM sh),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter,
        |             max(a.sz) AS s1, max(b.sz) AS s2
        |      FROM e a JOIN e b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |drops AS (SELECT DISTINCT id2 FROM p
        |          WHERE CAST(inter AS DOUBLE) / (s1 + s2 - inter) >= 0.5)
        |SELECT doc_id FROM ex WHERE doc_id NOT IN (SELECT id2 FROM drops)
        |ORDER BY doc_id""".stripMargin)),

    Q("q_curation_v3",  // composed funnel of this round's new operators,
      // value-oracled END-TO-END: normalize → exact-dedup on the
      // NORMALIZED hash (catches re-punctuated copies) → per-source
      // length winsor band → bigram-LM cross-entropy scored on the
      // surviving corpus. Shuffle ledger: one hash-keyed dedup join,
      // one broadcast bounds join, then the bigram model/score joins —
      // normalization and the band screen themselves are map-side.
      (s, dir) => {
        val norm = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            TextOps.normalizeText(col("text")).as("norm"))
          .filter(col("norm") =!= "")
          .withColumn("h", md5(col("norm")))
        val canon = norm.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        val deduped = norm.join(canon, Seq("h", "doc_id"))
        val bounds = deduped.groupBy(col("source")).agg(
          percentile(col("n_chars"), lit(0.05)).as("lo"),
          percentile(col("n_chars"), lit(0.95)).as("hi"))
        val kept = deduped.join(broadcast(bounds), "source")
          .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
        // localCheckpoint (r18): bigramLmScore references its input for
        // the bigram counts, the context counts, the vocabulary AND the
        // scoring join, plus the source join below — unpinned, the
        // whole normalize → md5-dedup → winsor-percentile → tokenize
        // chain was planned and executed per reference (plan showed 40
        // documents scans and 20 percentile aggregations; r17 §13
        // device)
        val toks = kept.select(col("doc_id"), col("source"),
          TextOps.tokenizeFiltered(col("norm"), Stop, Nil).as("toks"))
          .localCheckpoint()
        TextStats.bigramLmScore(toks, "doc_id", "toks")
          .join(toks.select(col("doc_id"), col("source")), "doc_id")
          .withColumn("xent", round(col("xent"), 6))
          .select(col("doc_id"), col("source"), col("xent"))
          .orderBy("doc_id")
      },
      Some("""WITH nz AS (SELECT doc_id, source, n_chars,
        |        trim(regexp_replace(lower(nfc_normalize(text)), '[^a-z0-9]+', ' ', 'g')) AS norm
        |      FROM documents),
        |nf AS (SELECT *, md5(norm) AS h FROM nz WHERE norm <> ''),
        |canon AS (SELECT h, min(doc_id) AS doc_id FROM nf GROUP BY h),
        |dd AS (SELECT nf.* FROM nf JOIN canon
        |       ON canon.h = nf.h AND canon.doc_id = nf.doc_id),
        |b AS (SELECT source, quantile_cont(n_chars, 0.05) AS lo,
        |        quantile_cont(n_chars, 0.95) AS hi FROM dd GROUP BY source),
        |kp AS (SELECT dd.* FROM dd JOIN b USING (source)
        |       WHERE n_chars >= lo AND n_chars <= hi),
        |t AS (SELECT doc_id, source,
        |        list_filter(regexp_extract_all(norm, '\b\w\w+\b'),
        |          x -> x NOT IN ('the', 'a')) AS toks FROM kp),
        |bg AS (SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2
        |       FROM (SELECT doc_id, toks, unnest(range(0, len(toks)-1)) AS i
        |             FROM t WHERE len(toks) >= 2)),
        |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |cc AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY 1),
        |vo AS (SELECT count(DISTINCT w) AS v
        |       FROM (SELECT unnest(toks) AS w FROM t)),
        |pp AS (SELECT w1, w2, ln((c12 + 0.5) / (c1 + 0.5 * vo.v)) AS logp
        |       FROM bc JOIN cc USING (w1) CROSS JOIN vo),
        |sc AS (SELECT doc_id, -avg(logp) AS xent
        |       FROM bg JOIN pp USING (w1, w2) GROUP BY 1)
        |SELECT sc.doc_id, t.source, round(sc.xent, 6) AS xent
        |FROM sc JOIN t USING (doc_id) ORDER BY doc_id""".stripMargin)),

    Q("q_curation_v4",  // composed funnel of THIS round's operators,
      // value-oracled END-TO-END: URL canonicalization → per-(domain,
      // canonical-URL) keep-first dedup → Mahalanobis embedding-outlier
      // screen at the χ²₂ 99% bound (9.21; corpus-level basis, docs
      // without an embedding pass through) → Kneser–Ney bigram
      // cross-entropy scored on the SURVIVING corpus. Shuffle ledger:
      // one canonical-key dedup shuffle, two k-row-scalar basis
      // collects + a map-side score, then the KN model/score joins —
      // canonicalization and the screen itself never shuffle the corpus.
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
        val docs = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("text"), url.as("url"))
          .withColumn("domain", ops.TextOps.urlHost(col("url")))
          .withColumn("canon", ops.TextOps.canonicalizeUrl(col("url")))
        val keep1 = docs.groupBy(col("domain"), col("canon"))
          .agg(min("doc_id").as("doc_id"))
        val dd = docs.join(keep1, Seq("domain", "canon", "doc_id"))
        val scores = Similarity.mahalanobisScore(
            Tables.table(s, dir, "embeddings"), "vec_id", "embedding", p = 2)
          .withColumnRenamed("vec_id", "doc_id")
        val screened = dd.join(scores, Seq("doc_id"), "left")
          .filter(col("score").isNull || col("score") <= 9.21)
        // localCheckpoint (r18): same doubled-subtree shape as v3 — the
        // KN scorer + domain join re-planned the URL-canon → dedup →
        // mahalanobis-screen → tokenize chain per reference (36
        // documents scans in the before plan)
        val toks = screened.select(col("doc_id"), col("domain"),
          TextOps.tokenizeFiltered(col("text"), Stop, Nil).as("toks"))
          .localCheckpoint()
        TextStats.knBigramLmScore(toks, "doc_id", "toks")
          .join(toks.select(col("doc_id"), col("domain")), "doc_id")
          .withColumn("xent_kn", round(col("xent_kn"), 6))
          .select(col("doc_id"), col("domain"), col("xent_kn"))
          .orderBy("doc_id")
      },
      Some("""WITH uu AS MATERIALIZED (SELECT doc_id, text,
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
        |unf AS (SELECT doc_id, text,
        |        regexp_replace(trim(url), '#.*', '') AS nfu FROM uu),
        |upp AS (SELECT doc_id, text,
        |  regexp_replace(regexp_replace(lower(regexp_extract(nfu,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
        |    ':(80|443)$', ''), '^www\.', '') AS host,
        |  regexp_extract(nfu,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS p0,
        |  regexp_extract(nfu, '\?([^#]*)', 1) AS q0 FROM unf),
        |ukq AS (SELECT *, array_to_string(list_sort(list_filter(
        |         string_split(q0, '&'), p -> p <> '' AND NOT
        |         regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|msclkid|ref)='))),
        |         '&') AS kept FROM upp),
        |ucc AS MATERIALIZED (SELECT doc_id, text, host AS domain,
        |  'http://' || host ||
        |  (CASE WHEN p0 = '' THEN '/'
        |        ELSE regexp_replace(p0, '(.)/$', '\1') END) ||
        |  (CASE WHEN kept <> '' THEN '?' || kept ELSE '' END) AS canon
        |FROM ukq),
        |k1 AS MATERIALIZED (SELECT domain, canon, min(doc_id) AS doc_id
        |      FROM ucc GROUP BY 1, 2),
        |surv1 AS MATERIALIZED (SELECT ucc.doc_id, ucc.text, ucc.domain
        |      FROM ucc JOIN k1 ON k1.domain = ucc.domain
        |      AND k1.canon = ucc.canon AND k1.doc_id = ucc.doc_id),
        |e AS MATERIALIZED (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |             unnest(range(0, len(embedding))) AS i FROM embeddings),
        |n AS MATERIALIZED (SELECT count(*) AS n FROM embeddings),
        |m0 AS MATERIALIZED (SELECT i, avg(x) AS mu FROM e GROUP BY i),
        |cx AS MATERIALIZED (SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sxy
        |       FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2),
        |cov AS MATERIALIZED (SELECT cx.i, cx.j, round(cx.sxy / n.n - ma.mu * mb.mu, 6) AS c
        |        FROM cx CROSS JOIN n
        |        JOIN m0 ma ON ma.i = cx.i JOIN m0 mb ON mb.i = cx.j),
        |dimd AS MATERIALIZED (SELECT count(*) AS d FROM m0),
        |v0 AS MATERIALIZED (SELECT i, 1.0 / sqrt(d) AS r FROM m0 CROSS JOIN dimd),
        |v1 AS MATERIALIZED (SELECT cov.i, sum(cov.c * v0.r) AS r
        |       FROM cov JOIN v0 ON v0.i = cov.j GROUP BY 1),
        |v2 AS MATERIALIZED (SELECT cov.i, sum(cov.c * v1.r) AS r
        |       FROM cov JOIN v1 ON v1.i = cov.j GROUP BY 1),
        |v3 AS MATERIALIZED (SELECT cov.i, sum(cov.c * v2.r) AS r
        |       FROM cov JOIN v2 ON v2.i = cov.j GROUP BY 1),
        |nr1 AS MATERIALIZED (SELECT sqrt(sum(r * r)) AS nr FROM v3),
        |sg1 AS MATERIALIZED (SELECT CASE WHEN (SELECT r FROM v3 WHERE r <> 0
        |                          ORDER BY i LIMIT 1) < 0
        |               THEN -1.0 ELSE 1.0 END AS sg),
        |u1 AS MATERIALIZED (SELECT v3.i, round(sg1.sg * v3.r / nr1.nr, 9) AS u
        |       FROM v3 CROSS JOIN nr1 CROSS JOIN sg1),
        |l1 AS MATERIALIZED (SELECT round(sum(a.u * cov.c * b.u), 9) AS lam
        |       FROM cov JOIN u1 a ON a.i = cov.i JOIN u1 b ON b.i = cov.j),
        |cov2 AS MATERIALIZED (SELECT cov.i, cov.j, cov.c - l1.lam * a.u * b.u AS c
        |         FROM cov JOIN u1 a ON a.i = cov.i JOIN u1 b ON b.i = cov.j
        |         CROSS JOIN l1),
        |pw1 AS MATERIALIZED (SELECT cov2.i, sum(cov2.c * v0.r) AS r
        |       FROM cov2 JOIN v0 ON v0.i = cov2.j GROUP BY 1),
        |pw2 AS MATERIALIZED (SELECT cov2.i, sum(cov2.c * pw1.r) AS r
        |       FROM cov2 JOIN pw1 ON pw1.i = cov2.j GROUP BY 1),
        |pw3 AS MATERIALIZED (SELECT cov2.i, sum(cov2.c * pw2.r) AS r
        |       FROM cov2 JOIN pw2 ON pw2.i = cov2.j GROUP BY 1),
        |nr2 AS MATERIALIZED (SELECT sqrt(sum(r * r)) AS nr FROM pw3),
        |sg2 AS MATERIALIZED (SELECT CASE WHEN (SELECT r FROM pw3 WHERE r <> 0
        |                          ORDER BY i LIMIT 1) < 0
        |               THEN -1.0 ELSE 1.0 END AS sg),
        |u2 AS MATERIALIZED (SELECT pw3.i, round(sg2.sg * pw3.r / nr2.nr, 9) AS u
        |       FROM pw3 CROSS JOIN nr2 CROSS JOIN sg2),
        |l2 AS MATERIALIZED (SELECT round(sum(a.u * cov2.c * b.u), 9) AS lam
        |       FROM cov2 JOIN u2 a ON a.i = cov2.i JOIN u2 b ON b.i = cov2.j),
        |mr AS MATERIALIZED (SELECT i, round(mu, 9) AS mu FROM m0),
        |sh1 AS MATERIALIZED (SELECT sum(mr.mu * u1.u) AS c FROM mr JOIN u1 ON u1.i = mr.i),
        |sh2 AS MATERIALIZED (SELECT sum(mr.mu * u2.u) AS c FROM mr JOIN u2 ON u2.i = mr.i),
        |pj1 AS MATERIALIZED (SELECT e.vec_id, sum(e.x * u1.u) AS dp
        |       FROM e JOIN u1 ON u1.i = e.i GROUP BY 1),
        |pj2 AS MATERIALIZED (SELECT e.vec_id, sum(e.x * u2.u) AS dp
        |       FROM e JOIN u2 ON u2.i = e.i GROUP BY 1),
        |pcx AS MATERIALIZED (SELECT pj1.vec_id, round(pj1.dp - sh1.c, 6) AS pc1,
        |              round(pj2.dp - sh2.c, 6) AS pc2
        |       FROM pj1 JOIN pj2 USING (vec_id) CROSS JOIN sh1 CROSS JOIN sh2),
        |ms AS MATERIALIZED (SELECT vec_id AS doc_id,
        |       round(pc1 * pc1 / l1.lam + pc2 * pc2 / l2.lam, 6) + 0.0 AS score
        |       FROM pcx CROSS JOIN l1 CROSS JOIN l2),
        |surv2 AS MATERIALIZED (SELECT surv1.doc_id, surv1.domain, surv1.text
        |       FROM surv1 LEFT JOIN ms USING (doc_id)
        |       WHERE ms.score IS NULL OR ms.score <= 9.21),
        |t2 AS MATERIALIZED (SELECT doc_id, domain,
        |        list_filter(regexp_extract_all(lower(text), '\b\w\w+\b'),
        |          x -> x NOT IN ('the', 'a')) AS toks FROM surv2),
        |bg AS MATERIALIZED (SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2
        |      FROM (SELECT doc_id, toks, unnest(range(0, len(toks)-1)) AS i
        |            FROM t2 WHERE len(toks) >= 2)),
        |bc AS MATERIALIZED (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |ctx AS MATERIALIZED (SELECT w1, sum(c12) AS c1, count(*) AS n1f
        |      FROM bc GROUP BY 1),
        |cnt AS MATERIALIZED (SELECT w2, count(*) AS n1b FROM bc GROUP BY 1),
        |ntt AS MATERIALIZED (SELECT count(*) AS nbt FROM bc),
        |ppn AS (SELECT w1, w2,
        |        ln(greatest(c12 - 0.75, 0) / c1 +
        |           0.75 * n1f / c1 * (n1b / CAST(nbt AS DOUBLE))) AS logp
        |      FROM bc JOIN ctx USING (w1) JOIN cnt USING (w2) CROSS JOIN ntt),
        |sc AS (SELECT doc_id, -avg(logp) AS x
        |       FROM bg JOIN ppn USING (w1, w2) GROUP BY 1)
        |SELECT sc.doc_id, t2.domain, round(sc.x, 6) AS xent_kn
        |FROM sc JOIN t2 USING (doc_id) ORDER BY doc_id""".stripMargin)),

    Q("q_datasheet",  // per-source corpus datasheet ("Datasheets for
      // Datasets", Gebru et al. CACM 2021): doc/char/token volumes,
      // exact-dup doc count (corpus-wide md5 groups), mean quality
      // score, language spread — the one-table release audit. One
      // hash-keyed dup join + one source-keyed aggregation; token and
      // quality columns are map-side expressions.
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
        val d = docs.select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), md5(col("text")).as("h"),
          TextOps.tokenizeFiltered(col("text"), Stop, Nil).as("toks"))
        val dup = d.groupBy(col("h")).agg(count(lit(1)).as("c"))
        d.join(dup, "h")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars_total"),
            sum(size(col("toks")).cast("long")).as("tok_total"),
            sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
            round(avg(TextStats.qualityScore(col("toks"), Stop)), 6).as("mean_quality"),
            count_distinct(col("lang")).as("n_langs"))
          .orderBy("source")
      },
      Some(s"""WITH d AS (SELECT doc_id, source, lang, n_chars, md5(text) AS h,
        |        list_filter(regexp_extract_all(lower(text), '\\b\\w\\w+\\b'),
        |          x -> x NOT IN ('the', 'a')) AS toks
        |      FROM documents),
        |c AS (SELECT h, count(*) AS c FROM d GROUP BY h)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
        |  CAST(sum(len(toks)) AS BIGINT) AS tok_total,
        |  CAST(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        |  round(avg($SqlQuality), 6) AS mean_quality,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM d JOIN c USING (h) GROUP BY source ORDER BY source""".stripMargin)),

    Q("q_curation_emb",  // cross-modal curation: quality filter, then drop docs
      (s, dir) => {       // whose EMBEDDING has a lower-id near-dup (cos ≥ 0.4)
        val toks = TextOps.tokenize(col("text"))
        val qual = Tables.table(s, dir, "documents")
          .select(col("doc_id"), TextStats.qualityScore(toks, Stop).as("q"))
          .filter(col("q") >= 0.6)
        val emb = Tables.table(s, dir, "embeddings")
          .join(qual.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        val pairs = Similarity.cosinePairsBlocked(emb, "vec_id", "embedding", 0.4)
        qual.select(col("doc_id"))
          .join(pairs.select(col("id2").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id,
        |        regexp_extract_all(lower(text), '\\b\\w\\w+\\b') AS toks FROM documents),
        |q AS (SELECT doc_id FROM t WHERE $SqlQuality >= 0.6),
        |e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |             unnest(range(0, len(embedding))) AS i
        |      FROM embeddings WHERE vec_id IN (SELECT doc_id FROM q)),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY 1),
        |d AS (SELECT a.vec_id AS id1, b.vec_id AS id2, sum(a.x * b.x) AS dp
        |      FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2),
        |drops AS (SELECT DISTINCT id2
        |          FROM d JOIN n na ON na.vec_id = id1 JOIN n nb ON nb.vec_id = id2
        |          WHERE dp / (na.nrm * nb.nrm) >= 0.4)
        |SELECT doc_id FROM q WHERE doc_id NOT IN (SELECT id2 FROM drops)
        |ORDER BY doc_id""".stripMargin)),

    Q("q_csv_roundtrip",  // line-format sink/source: csv write + schema-full
      (s, dir) => {        // read-back must be the identity
        val out = Scratch.dir("graftcsv")
        val d = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
        graft.sources.Sinks.writeLines(d, s"$out/docs", "csv")
        s.read.option("header", "true").schema(d.schema).csv(s"$out/docs")
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, lang, n_chars, source FROM documents ORDER BY doc_id")),

    Q("q_avro_roundtrip",  // S2/S4 in the GATED surface: Avro+Snappy container
      // sink → container scan must be the identity, value-oracled against
      // the source table (DuckDB never reads the Avro file — the oracle is
      // the identity contract, exactly like q_csv_roundtrip). The IO path
      // is the hand-rolled avro-mapred bridge (ref sink config
      // JobExtractTransform.java:67-68; no spark-avro jar in env).
      (s, dir) => {
        val out = Scratch.dir("graftavro")
        val d = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
        graft.sources.AvroIO.writeAvro(d, s"$out/docs", "doc")
        graft.sources.AvroIO.readAvro(s, s"$out/docs", d.schema).orderBy("doc_id")
      },
      Some("SELECT doc_id, lang, n_chars, source FROM documents ORDER BY doc_id")),

    Q("q_orc_roundtrip",  // columnar sink/source #3: ORC (zlib default) via
      // Spark's built-in vectorized ORC reader — the other lake format a
      // migrating user brings; identity-contract oracle like
      // q_csv_roundtrip/q_avro_roundtrip (DuckDB never reads the ORC
      // file). Predicate pushdown / column pruning on ORC scans come
      // free from the same DataSource V2 path as parquet.
      (s, dir) => {
        val out = Scratch.dir("graftorc")
        val d = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
        d.write.mode("overwrite").orc(s"$out/docs")
        s.read.orc(s"$out/docs").orderBy("doc_id")
      },
      Some("SELECT doc_id, lang, n_chars, source FROM documents ORDER BY doc_id")),

    Q("q_partitioned_scan",  // Hive-style partition pruning end-to-end:
      // write documents partitionBy(source), read back with a source
      // filter — the filter must become a PartitionFilter (whole
      // directories skipped at planning, zero data rows read from the
      // other 19 sources), not a post-scan predicate. The 100 TB
      // analogue is date/source-partitioned lakes where pruning is the
      // difference between scanning 1/20th and all of it.
      // Value-oracled via the identity contract on the source table.
      (s, dir) => {
        val out = Scratch.dir("graftpart")
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
          .write.mode("overwrite").partitionBy("source").parquet(s"$out/docs")
        s.read.parquet(s"$out/docs")
          .filter(col("source") === "src0")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE source = 'src0'
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    Q("q_snapshot_prune",  // manifest-stats data skipping end-to-end:
      // range-lay lineitem by l_orderkey into a snapshot table whose
      // manifest carries per-file [min,max] (Sinks.writeLayoutSnapshot
      // statsCols), then serve a selective range query through
      // readTableWhere — the prune happens on the DRIVER against the
      // manifest alone (no listing, no parquet footers), the 100 TB
      // difference between planning in milliseconds over the 1% of
      // files that can match and opening 100k footers. The aggregate
      // values gate prune CORRECTNESS (a wrongly-dropped file
      // undercounts); the `pruned` flag gates prune EFFECTIVENESS (if
      // skipping silently degrades to read-everything, the flag flips
      // and the hash compare fails). l_quantity is integral-valued, so
      // its double sum is order-independent and exact.
      (s, dir) => {
        val out = Scratch.dir("snapprune")
        val tab = s"$out/li"
        val laid = Tables.table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
          .repartitionByRange(16, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey")
        Sinks.writeLayoutSnapshot(laid, tab, statsCols = Seq("l_orderkey"))
        val pr = Sinks.readTableWhere(s, tab, Map("l_orderkey" -> (1L, 300L)))
        pr.df.filter(col("l_orderkey").between(1L, 300L))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
          .withColumn("pruned", lit(pr.filesRead < pr.filesTotal))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty,
        |true AS pruned
        |FROM lineitem WHERE l_orderkey BETWEEN 1 AND 300
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("q_snapshot_changes",  // incremental change capture on a snapshot
      // table: seed with the even-length documents, appendSnapshot the
      // odd-length ones (staged files + ONE atomic manifest rename),
      // then readTableChanges(v1, v2) must return EXACTLY the appended
      // batch — the consume-each-ingest-once primitive incremental
      // dedup and downstream refresh build on. Value-oracled against
      // the odd-batch predicate on the source table: replayed old rows
      // overcount n, missed appended files undercount it, so the hash
      // compare gates row-exactness of the manifest diff.
      (s, dir) => {
        val out = Scratch.dir("snapchanges")
        val tab = s"$out/docs"
        val docs = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        val v1 = Sinks.writeLayoutSnapshot(
          docs.filter(col("n_chars") % 2 === 0).repartition(4), tab)
        val v2 = Sinks.appendSnapshot(
          docs.filter(col("n_chars") % 2 === 1), tab,
          statsCols = Seq("doc_id"))
        Sinks.readTableChanges(s, tab, v1, v2)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE n_chars % 2 = 1
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    Q("q_snapshot_lookup",  // Bloom-sidecar point-lookup pruning: the
      // documents snapshot is written HASH-partitioned (every file's
      // doc_id range spans ~the whole domain, so min/max stats prune
      // nothing for doc_id = v — the honest hard case), with a per-file
      // Bloom sidecar on doc_id (xxhash64 Kirsch–Mitzenmacher, 2^20
      // bits / k=5 → fpp < 1e-6 at these file cardinalities). The
      // lookup prunes on the DRIVER from manifest + sidecars (m/8
      // bytes each, no parquet footers); at 100 TB this is the
      // needle-in-haystack path — open 1-2 files of 100k instead of
      // all of them. The row values gate lookup correctness (a wrongly
      // pruned file loses the row); the `pruned` flag gates that
      // skipping actually happened.
      (s, dir) => {
        val out = Scratch.dir("snaplookup")
        val tab = s"$out/docs"
        val docs = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        Sinks.writeLayoutSnapshot(docs.repartition(8), tab,
          bloom = Some(Sinks.BloomSpec(Seq("doc_id"))))
        val pr = Sinks.readTableWhere(s, tab, Map.empty,
          eq = Map("doc_id" -> 137L))
        pr.df.filter(col("doc_id") === 137L)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .withColumn("pruned", lit(pr.filesRead < pr.filesTotal))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars, true AS pruned
        |FROM documents WHERE doc_id = 137 ORDER BY doc_id""".stripMargin)),

    Q("q_stream_snapshot",  // exactly-once streaming ingest into the
      // snapshot table format: the corpus staged as 4 files consumed
      // with maxFilesPerTrigger=1, each micro-batch committed by
      // foreachBatch -> Sinks.appendSnapshotBatch (staged files + one
      // atomic manifest rename carrying a #txn=appId:batchId header).
      // Structured Streaming's foreachBatch is at-least-once — a crash
      // between the data commit and the offset commit REPLAYS the
      // batch — so after the stream drains, the replay is simulated
      // outright: re-submitting the last batch id (with the full
      // corpus as its payload, the worst case) must be a no-op. The
      // oracle aggregates the whole source table, so a duplicated or
      // dropped batch hash-mismatches; the final table also proves the
      // bootstrap path (batch 0 creates manifest-v1 on an empty dir).
      (s, dir) => {
        val cp = Scratch.dir("stream-snap-cp")
        val tab = Scratch.dir("stream-snap-tab") + "/docs"
        val docs = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        // the 4-file source copy is staged once per JVM (r17); the
        // snapshot TABLE, its manifests and the checkpoint dir above
        // stay per-invocation — the ingest-commit protocol under test
        // runs in full every time
        val srcDir = graft.ops.DfMemo.cachedPath(docs, "stream-snap-src") { d =>
          docs.repartition(4).write.mode("overwrite").parquet(d)
        }
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir)
        stream.writeStream
          .foreachBatch { (b: DataFrame, bid: Long) =>
            Sinks.appendSnapshotBatch(b, tab, "q_stream_snapshot", bid,
              statsCols = Seq("doc_id")): Unit
          }
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        // simulated offset-commit crash: replay the newest batch id
        val (fs, tp) = (new org.apache.hadoop.fs.Path(tab)
          .getFileSystem(s.sparkContext.hadoopConfiguration),
          new org.apache.hadoop.fs.Path(tab))
        val lastBid = Sinks.lastCommittedBatch(fs, tp, "q_stream_snapshot").get
        val vBefore = Sinks.latestManifest(fs, tp).get
        val vReplay = Sinks.appendSnapshotBatch(
          docs, tab, "q_stream_snapshot", lastBid, statsCols = Seq("doc_id"))
        require(vReplay == vBefore,
          s"replayed batch $lastBid committed a new snapshot ($vBefore -> $vReplay)")
        Sinks.readTable(s, tab)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      iterative = true),

    Q("q_corpus_stats",  // dataset-card profile per source shard
      (s, dir) => {
        val toks = TextOps.tokenize(col("text"))
        Tables.table(s, dir, "documents")
          .select(col("source"), col("lang"), col("n_chars"), size(toks).as("nt"),
            TextStats.qualityScore(toks, Stop).as("q"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("lang")).as("n_langs"),
            sum(col("nt")).as("total_tokens"),
            round(avg(col("n_chars")), 4).as("avg_chars"),
            round(avg(col("q")), 6).as("avg_quality"))
          .orderBy("source")
      },
      Some(s"""WITH d AS (SELECT source, lang, n_chars,
        |        regexp_extract_all(lower(text), '\\b\\w\\w+\\b') AS toks FROM documents),
        |m AS (SELECT source, lang, n_chars, len(toks) AS nt, $SqlQuality AS q FROM d)
        |SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  round(avg(n_chars), 4) AS avg_chars, round(avg(q), 6) AS avg_quality
        |FROM m GROUP BY source ORDER BY source""".stripMargin)),

    Q("q_grouping_sets",  // SQL front-end: explicit GROUPING SETS
      (s, dir) => {
        Tables.table(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
        s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS cnt
          FROM lineitem_gs
          GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    Q("q_mode",  // deterministic per-group mode (most frequent value,
      // smallest wins ties): count + argmax window — the portable form
      // of a MODE() aggregate (engine-native modes differ on ties)
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag").orderBy(col("n").desc, col("l_quantity"))
        Tables.table(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_quantity"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
            col("n").as("mode_n"))
          .orderBy("l_returnflag")
      },
      Some("""WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS n
        |      FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT l_returnflag, l_quantity, n, row_number() OVER
        |        (PARTITION BY l_returnflag ORDER BY n DESC, l_quantity) AS rk
        |      FROM c)
        |SELECT l_returnflag, l_quantity AS mode_qty, n AS mode_n
        |FROM r WHERE rk = 1 ORDER BY l_returnflag""".stripMargin)),

    Q("q_corr_subquery",  // SQL front-end, TPC-H Q17 shape: correlated
      // SCALAR subquery (per-part average) in the WHERE — Catalyst
      // rewrites it to an aggregate + join, no per-row re-execution;
      // the demonstration is that the rewrite engine handles it, the
      // plan stays shuffle-join-shaped
      (s, dir) => {
        // temp-view names are query-unique: Verify runs queries
        // concurrently, and a shared name would race in the catalog
        Tables.table(s, dir, "lineitem").createOrReplaceTempView("lineitem_q17")
        Tables.table(s, dir, "part").createOrReplaceTempView("part_q17")
        s.sql("""SELECT p_brand, round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
          FROM lineitem_q17 JOIN part_q17 ON p_partkey = l_partkey
          WHERE l_quantity < (SELECT 0.5 * avg(l_quantity)
                              FROM lineitem_q17 l2 WHERE l2.l_partkey = p_partkey)
          GROUP BY p_brand ORDER BY p_brand""")
      },
      Some("""SELECT p_brand, round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_quantity < (SELECT 0.5 * avg(l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    Q("q_exists_agg",  // SQL front-end, TPC-H Q4 shape: correlated EXISTS
      // feeding an aggregate — planned as a left-semi hash join, the
      // orders side aggregates after the probe (no subquery re-execution)
      (s, dir) => {
        Tables.table(s, dir, "orders").createOrReplaceTempView("orders_q4")
        Tables.table(s, dir, "lineitem").createOrReplaceTempView("lineitem_q4")
        s.sql("""SELECT o_orderpriority, count(*) AS order_count
          FROM orders_q4
          WHERE EXISTS (SELECT 1 FROM lineitem_q4
                        WHERE l_orderkey = o_orderkey AND l_discount > 0.06)
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_discount > 0.06)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    Q("q_range_frame",  // time-based RANGE window frame (not ROWS): per
      // event, rolling sum/count of same-user event values in the
      // preceding hour inclusive — tie-safe by definition (every row
      // whose key falls in [cur-3600, cur] joins the frame regardless
      // of physical order)
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("tss")
          .rangeBetween(-3600L, org.apache.spark.sql.expressions.Window.currentRow)
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"),
            expr("ts_ns div 1000000000").as("tss"), col("value"))
          .withColumn("sum_1h", round(sum("value").over(w), 6))
          .withColumn("n_1h", count(lit(1)).over(w))
          .select(col("event_id"), col("user_id"), col("sum_1h"), col("n_1h"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
        |  round(sum(value) OVER w, 6) AS sum_1h,
        |  count(*) OVER w AS n_1h
        |FROM (SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS tss, value
        |      FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY tss
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)),

    Q("q_string_funcs",  // scalar string surface: case, substr, concat, length, edit distance
      (s, dir) => Tables.table(s, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_name"), 1, 8).as("name8"),
          concat_ws("/", col("p_brand"), col("p_type")).as("bt"),
          length(col("p_name")).as("name_len"),
          levenshtein(col("p_brand"), col("p_type")).as("edit_dist"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, upper(p_brand) AS brand_u,
        |  substring(p_name, 1, 8) AS name8,
        |  concat_ws('/', p_brand, p_type) AS bt,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  CAST(levenshtein(p_brand, p_type) AS INT) AS edit_dist
        |FROM part ORDER BY p_partkey""".stripMargin)),

    Q("q_date_parts",  // temporal scalar surface over order dates
      (s, dir) => Tables.table(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          quarter(col("o_orderdate")).as("q"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(day(o_orderdate) AS INT) AS d,
        |  CAST(quarter(o_orderdate) AS INT) AS q
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    Q("q_json_roundtrip",  // C1/S1: serialize to JSON lines, parse back schema-fully
      (s, dir) => {
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, lang STRING, n_chars BIGINT")
        Tables.table(s, dir, "documents")
          .select(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))).as("line"))
          .select(from_json(col("line"), schema).as("r"))
          .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
            col("r.n_chars").as("n_chars"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id")),

    Q("q_percentiles",  // exact interpolated quantiles per group
      (s, dir) => Tables.table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))
  )
}
