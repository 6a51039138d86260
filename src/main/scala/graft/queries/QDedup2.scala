package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops._

import graft.SparkEntry.Q
import graft.QShared._

/** Query registry — M6b: deduplication suite - containment/sketches/text-stats/span+line scrub/ANN dedup.
  * Split out of SparkEntry (VERDICT r9 #6); see SparkEntry for the
  * driver contract that concatenates the registries.
  */
private[graft] object QDedup2 {
  import Dictionaries.{Stopwords => Stop}

  def qs: Seq[Q] = Seq(

    Q("q_containment_pairs",  // Broder CONTAINMENT ≥ 0.8 over word-3-
      // shingles — the quote/sub-document duplication detector (a short
      // doc fully embedded in a long one is ~1.0 containment but ~0.01
      // Jaccard, invisible to every Jaccard-thresholded query). Bucketed
      // in-bucket pair-gen with hot-bucket caps (Dedup.containmentPairs);
      // the oracle models the maxBucket=1000 drop (keep CTE, r11) —
      // containment's small-denominator short docs are exactly where
      // boilerplate-hot shingles land in-domain, so an uncapped oracle
      // is a latent at-scale parity split (the q_dedup_sim_hist lesson).
      (s, dir) => Dedup.containmentPairs(
          shingles3(s, dir),  // shared memoized shingle substrate (r18)
          minC = 0.8)
        .withColumn("containment", round(col("containment"), 6))
        .orderBy("id1", "id2"),
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
        |      GROUP BY 1, 2)
        |SELECT id1, id2,
        |       round(CAST(inter AS DOUBLE) / least(s1, s2), 6) AS containment
        |FROM p WHERE CAST(inter AS DOUBLE) / least(s1, s2) >= 0.8
        |ORDER BY id1, id2""".stripMargin)),

    Q("q_cms_counts",  // Count-Min sketch (Cormode & Muthukrishnan 2003)
      // term-frequency estimation, VALUE-ORACLED: buckets are md5-derived
      // (Kirsch–Mitzenmacher double hashing, the q_decontaminate_bloom
      // device), so DuckDB rebuilds the d=4 × m cell table bit-for-bit —
      // the output is exact INCLUDING the sketch's overcounts. m=16 here
      // (not a production 2^20): the synthetic corpus has a 29-word
      // vocabulary, and only a width below it makes the oracle actually
      // exercise the collision/min-over-rows math rather than degenerate
      // to exact counts. Scale shape: the BUILD aggregates the raw token
      // stream straight into ≤ d·m cells (map-side partial agg into a
      // constant-size table — the vocabulary never shuffles to build the
      // sketch); only the evaluation harness (top-50 true counts) runs a
      // word-level aggregation, and the cell table broadcasts back.
      (s, dir) => {
        val d = 4; val m = 16
        val toks = docsTokens(s, dir).select(explode(col("toks")).as("w"))
          .localCheckpoint()  // two consumers: cells + true counts
        val cells = Sketches.cmsCells(toks, d, m)
        val top = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("w")).limit(50)
        Sketches.cmsEstimate(top, cells, d, m)
          .withColumn("over", col("est") - col("cnt"))
          .orderBy(col("cnt").desc, col("w"))
      },
      Some(s"""WITH t AS ($SqlToks),
        |e AS (SELECT unnest(toks) AS w FROM t),
        |hp AS (SELECT w,
        |         CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5(w), 9, 8)) AS BIGINT) AS h2
        |       FROM e),
        |cells AS (SELECT j, (h1 + j * h2) % 16 AS pos, count(*) AS cell
        |          FROM hp CROSS JOIN (SELECT unnest(range(0, 4)) AS j)
        |          GROUP BY 1, 2),
        |top AS (SELECT w, count(*) AS cnt FROM e GROUP BY w
        |        ORDER BY cnt DESC, w LIMIT 50),
        |probe AS (SELECT t2.w, t2.cnt, j,
        |            (CAST(('0x' || substr(md5(t2.w), 1, 8)) AS BIGINT)
        |             + j * CAST(('0x' || substr(md5(t2.w), 9, 8)) AS BIGINT))
        |            % 16 AS pos
        |          FROM top t2 CROSS JOIN (SELECT unnest(range(0, 4)) AS j))
        |SELECT p.w, p.cnt, min(c.cell) AS est, min(c.cell) - p.cnt AS over
        |FROM probe p JOIN cells c ON p.j = c.j AND p.pos = c.pos
        |GROUP BY p.w, p.cnt ORDER BY p.cnt DESC, p.w""".stripMargin)),

    Q("q_source_kl",  // corpus-drift analytics: per-source unigram KL
      // divergence from the whole-corpus distribution — the quantitative
      // "how different is this domain" number behind mixture decisions
      // (the measurement side of DSIR's importance weighting). One
      // corpus explode into (source, word) counts; every join after that
      // is on vocabulary-sized frames, the corpus never moves again.
      (s, dir) => {
        val toks = Tables.table(s, dir, "documents")
          .select(col("source"),
            explode(TextOps.tokenizeFiltered(col("text"), Stop, Nil)).as("w"))
        val sw = toks.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_sw"))
          .localCheckpoint()  // feeds all three frames below
        val srcTot = sw.groupBy(col("source")).agg(sum(col("c_sw")).as("n_s"))
        val corp = sw.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w"))
        val tot = corp.agg(sum(col("c_w")).as("n"))
        sw.join(srcTot, "source").join(corp, "w").crossJoin(tot)
          .withColumn("term", (col("c_sw") / col("n_s"))
            * log((col("c_sw") / col("n_s")) / (col("c_w") / col("n"))))
          .groupBy(col("source"), col("n_s"))
          .agg(round(sum(col("term")), 6).as("kl"))
          .select(col("source"), col("n_s").as("n_tokens"), col("kl"))
          .orderBy("source")
      },
      Some("""WITH e AS (SELECT source, unnest(list_filter(
        |        regexp_extract_all(lower(text), '\b\w\w+\b'),
        |        x -> x NOT IN ('the', 'a'))) AS w FROM documents),
        |sw AS (SELECT source, w, count(*) AS c_sw FROM e GROUP BY source, w),
        |st AS (SELECT source, sum(c_sw) AS n_s FROM sw GROUP BY source),
        |cw AS (SELECT w, sum(c_sw) AS c_w FROM sw GROUP BY w),
        |n AS (SELECT sum(c_w) AS n FROM cw)
        |SELECT sw.source, CAST(max(st.n_s) AS BIGINT) AS n_tokens,
        |       round(sum((CAST(c_sw AS DOUBLE) / st.n_s)
        |         * ln((CAST(c_sw AS DOUBLE) / st.n_s) / (CAST(c_w AS DOUBLE) / n.n))), 6)
        |         AS kl
        |FROM sw JOIN st USING (source) JOIN cw USING (w) CROSS JOIN n
        |GROUP BY sw.source ORDER BY source""".stripMargin)),

    Q("q_script_mix",  // character-class composition per doc (the script-
      // mixture screen run before lang-ID: a doc that is 40% digits or
      // 30% punctuation is table dumps/markup, not prose). Pure map-side
      // regexp arithmetic over the scan — zero shuffles past the sort.
      (s, dir) => {
        val d = Tables.table(s, dir, "documents")
        val n = length(col("text"))
        val letters = n - length(regexp_replace(col("text"), "[A-Za-z]", ""))
        val digits = n - length(regexp_replace(col("text"), "[0-9]", ""))
        val spaces = n - length(regexp_replace(col("text"), "[ \\t\\n]", ""))
        d.select(col("doc_id"), n.as("n_chars"),
            round(letters / n.cast("double"), 6).as("f_letter"),
            round(digits / n.cast("double"), 6).as("f_digit"),
            round(spaces / n.cast("double"), 6).as("f_space"),
            round((n - letters - digits - spaces) / n.cast("double"), 6).as("f_other"))
          .filter(col("n_chars") > 0)
          .orderBy("doc_id")
      },
      Some("""WITH m AS (SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
        |  length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS l,
        |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS d,
        |  length(text) - length(regexp_replace(text, '[ \t\n]', '', 'g')) AS s
        |FROM documents)
        |SELECT doc_id, n_chars,
        |  round(CAST(l AS DOUBLE) / n_chars, 6) AS f_letter,
        |  round(CAST(d AS DOUBLE) / n_chars, 6) AS f_digit,
        |  round(CAST(s AS DOUBLE) / n_chars, 6) AS f_space,
        |  round(CAST(n_chars - l - d - s AS DOUBLE) / n_chars, 6) AS f_other
        |FROM m WHERE n_chars > 0 ORDER BY doc_id""".stripMargin)),

    Q("q_zipf_slope",  // corpus Zipf exponent: least-squares slope of
      // ln(freq) on ln(rank) over the top-1000 vocabulary — the one-
      // number sanity check that a corpus looks like natural language
      // (≈ −1) rather than logs or tables. The vocabulary aggregation is
      // the only corpus-sized step; the regression runs on 1000 rows
      // (TakeOrdered top-k, then a single bounded 1000-row window).
      (s, dir) => {
        val counts = docsTokens(s, dir)
          .select(explode(col("toks")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("w")).limit(1000)
        val ranked = counts.withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("cnt").desc, col("w"))))
        val xy = ranked.select(log(col("r")).as("x"), log(col("cnt")).as("y"))
        xy.agg(count(lit(1)).as("n_words"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
          .select(col("n_words"),
            round((col("n_words") * col("sxy") - col("sx") * col("sy"))
              / (col("n_words") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
            round((col("sy") - ((col("n_words") * col("sxy") - col("sx") * col("sy"))
              / (col("n_words") * col("sxx") - col("sx") * col("sx"))) * col("sx"))
              / col("n_words"), 6).as("intercept"))
      },
      Some(s"""WITH t AS ($SqlToks),
        |c AS (SELECT w, count(*) AS cnt FROM
        |        (SELECT unnest(toks) AS w FROM t) GROUP BY w
        |      ORDER BY cnt DESC, w LIMIT 1000),
        |r AS (SELECT ln(row_number() OVER (ORDER BY cnt DESC, w)) AS x,
        |             ln(cnt) AS y FROM c),
        |a AS (SELECT count(*) AS n_words, sum(x) AS sx, sum(y) AS sy,
        |             sum(x * y) AS sxy, sum(x * x) AS sxx FROM r)
        |SELECT n_words,
        |  round((n_words * sxy - sx * sy) / (n_words * sxx - sx * sx), 6) + 0.0
        |    AS slope,
        |  round((sy - ((n_words * sxy - sx * sy) / (n_words * sxx - sx * sx)) * sx)
        |    / n_words, 6) + 0.0 AS intercept
        |FROM a""".stripMargin)),

    Q("q_lexical_diversity",  // per-doc lexical-diversity metrics: token
      // count, type count, type-token ratio, and Shannon entropy of the
      // in-doc word distribution — the richness screen next to the
      // q_repetition redundancy signals. One explode into (doc, word)
      // counts; the entropy normalizer is a per-doc window on that
      // already-aggregated frame, so the corpus shuffles once.
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
        docsTokens(s, dir)
          .select(col("doc_id"), explode(col("toks")).as("w"))
          .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
          .withColumn("n", sum(col("cnt")).over(w))
          .groupBy(col("doc_id"))
          .agg(max(col("n")).as("n_toks"), count(lit(1)).as("n_types"),
            round(count(lit(1)) / max(col("n")).cast("double"), 6).as("ttr"),
            round(-sum((col("cnt") / col("n").cast("double"))
              * log(col("cnt") / col("n").cast("double"))), 6).as("entropy"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS ($SqlToks),
        |c AS (SELECT doc_id, w, count(*) AS cnt FROM
        |        (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY doc_id, w),
        |x AS (SELECT doc_id, cnt,
        |        CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n FROM c)
        |SELECT doc_id, max(n) AS n_toks, count(*) AS n_types,
        |       round(CAST(count(*) AS DOUBLE) / max(n), 6) AS ttr,
        |       round(-sum((CAST(cnt AS DOUBLE) / n) * ln(CAST(cnt AS DOUBLE) / n)), 6)
        |         AS entropy
        |FROM x GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("q_char_entropy",  // per-doc CHARACTER Shannon entropy — the
      // cheapest gibberish/compressibility quality signal next to
      // q_lexical_diversity's word-level entropy: repeated-character
      // padding sits LOW, base64-ish blobs HIGH, natural English
      // plateaus ≈ 2.85 nats. One-pass form H = ln L − (Σ c·ln c)/L —
      // no per-char division; the (doc, char) groupBy partial-aggs
      // map-side to ≤ |alphabet| rows per doc before the exchange, so
      // shuffle is docs×alphabet, not corpus characters. Empty docs
      // report (0, 0.0) via the left join.
      (s, dir) => TextStats.charEntropy(
          Tables.table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH ch AS MATERIALIZED (SELECT doc_id,
        |        substr(text, CAST(i AS INT), 1) AS ch
        |      FROM (SELECT doc_id, text,
        |              unnest(range(1, length(text) + 1)) AS i
        |            FROM documents)),
        |cc AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |e AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS len,
        |        round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
        |      FROM cc GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(e.len, 0) AS BIGINT) AS len,
        |       COALESCE(e.entropy, 0.0) + 0.0 AS entropy
        |FROM documents d LEFT JOIN e USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    Q("q_cooccur_pmi",  // word co-occurrence PMI (Church & Hanks 1990):
      // within-doc DISTINCT co-occurrence counts → pmi =
      // ln(c_ab·N / (df_a·df_b)), top-100 by rounded pmi with a
      // lexicographic tie-break (rounding BEFORE ordering keeps the
      // LIMIT boundary engine-independent). Scale: co-occurrence is
      // vocabulary-bounded, not corpus-bounded — real corpora cap to a
      // top-V vocab first, and the per-doc self-join then emits ≤ V²/2
      // rows per doc that collapse map-side into the ≤ V²/2-row global
      // frame every later join runs on.
      (s, dir) => {
        val e = docsTokens(s, dir)
          .select(col("doc_id"), explode(array_distinct(col("toks"))).as("w"))
          .localCheckpoint()  // feeds pairs, dfs, and N
        val n = e.select(col("doc_id")).distinct().agg(count(lit(1)).as("n"))
        val dfreq = e.groupBy(col("w")).agg(count(lit(1)).as("df"))
        val pairs = e.as("a")
          .join(e.as("b"),
            col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
          .groupBy(col("a.w").as("w1"), col("b.w").as("w2"))
          .agg(count(lit(1)).as("c_ab"))
        pairs
          .join(dfreq.select(col("w").as("w1"), col("df").as("df1")), "w1")
          .join(dfreq.select(col("w").as("w2"), col("df").as("df2")), "w2")
          .crossJoin(n)
          .select(col("w1"), col("w2"), col("c_ab"),
            round(log((col("c_ab") * col("n")).cast("double")
              / (col("df1") * col("df2"))), 6).as("pmi"))
          .orderBy(col("pmi").desc, col("w1"), col("w2"))
          .limit(100)
      },
      Some(s"""WITH t AS ($SqlToks),
        |e AS (SELECT doc_id, unnest(list_distinct(toks)) AS w FROM t),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM e),
        |dfreq AS (SELECT w, count(*) AS df FROM e GROUP BY w),
        |p AS (SELECT a.w AS w1, b.w AS w2, count(*) AS c_ab
        |      FROM e a JOIN e b ON a.doc_id = b.doc_id AND a.w < b.w
        |      GROUP BY a.w, b.w)
        |SELECT w1, w2, c_ab,
        |       round(ln(CAST(c_ab * n.n AS DOUBLE) / (d1.df * d2.df)), 6) + 0.0 AS pmi
        |FROM p JOIN dfreq d1 ON p.w1 = d1.w JOIN dfreq d2 ON p.w2 = d2.w
        |CROSS JOIN n
        |ORDER BY pmi DESC, w1, w2 LIMIT 100""".stripMargin)),

    Q("q_embed_norm_stats",  // embedding-table hygiene: per-label L2-norm
      // distribution (count/min/max/mean) — the "are these vectors even
      // normalized" check run before any cosine pipeline. Norms via the
      // sequential-IEEE DotProduct codegen kernel after the mandatory
      // float→double cast; one map-side pass plus a 20-row aggregate.
      (s, dir) => {
        val nrm = Similarity.l2norm(KMeansOps.asDouble(col("embedding")))
        Tables.table(s, dir, "embeddings")
          .select(col("label"), nrm.as("nrm"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            round(min(col("nrm")), 6).as("min_norm"),
            round(max(col("nrm")), 6).as("max_norm"),
            round(avg(col("nrm")), 6).as("avg_norm"))
          .orderBy("label")
      },
      Some("""WITH x AS (SELECT label,
        |        sqrt(list_sum(list_transform(embedding,
        |          v -> CAST(v AS DOUBLE) * v))) AS nrm
        |      FROM embeddings)
        |SELECT label, count(*) AS n,
        |       round(min(nrm), 6) AS min_norm,
        |       round(max(nrm), 6) AS max_norm,
        |       round(avg(nrm), 6) AS avg_norm
        |FROM x GROUP BY label ORDER BY label""".stripMargin)),

    Q("q_stream_session",  // fourth ORACLED streaming row — CUSTOM STATE
      // with EVENT-TIME TIMEOUT: the flatMapGroupsWithState gap
      // sessionizer over a parquet file source into an exactly-once
      // append sink. The emitted set is closed-form on static input:
      // a session closed by its successor event (any non-final session
      // of a user — the whole corpus arrives in one batch) is emitted
      // in the data batch; a user's FINAL session is emitted only if
      // its timeout (end + gap) fell strictly before the final
      // watermark (max event time − 10 s, advanced by AvailableNow's
      // trailing no-data batch). The oracle re-derives exactly that
      // union — so timeout semantics of custom keyed state are what is
      // being hash-checked, not just session arithmetic.
      (s, dir) => {
        import s.implicits._
        val out = Scratch.dir("stream-session-out")
        val cp = Scratch.dir("stream-session-cp")
        val src = new java.io.File(s"$dir/events.parquet")
        val streamDir =
          if (src.isDirectory) src.toString
          else {
            val d = new java.io.File(Scratch.dir("stream-session-src"))
            java.nio.file.Files.copy(src.toPath,
              new java.io.File(d, "events.parquet").toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            d.toString
          }
        val schema = s.read.parquet(streamDir).schema
        val stream = s.readStream.schema(schema).parquet(streamDir)
          .select(col("user_id"),
            col("ts").cast(org.apache.spark.sql.types.TimestampType).as("ts"))
          .as[graft.streaming.StreamOps.SEv]
        graft.streaming.StreamOps
          .sessionizeStream(stream, gapMs = 1800L * 1000, watermarkDelay = "10 seconds")
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", cp)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        s.read.parquet(out)
          .select(col("user_id"),
            expr("start_ms div 1000").as("start_s"),
            expr("end_ms div 1000").as("end_s"),
            col("n_events"))
          .orderBy("user_id", "start_s")
      },
      Some("""WITH g AS (SELECT user_id, epoch_ms(ts) AS tm,
        |        lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |      FROM events),
        |f AS (SELECT user_id, tm,
        |        CASE WHEN prev IS NULL OR tm - prev > 1800000 THEN 1 ELSE 0 END AS nw
        |      FROM g),
        |sid AS (SELECT user_id, tm,
        |          sum(nw) OVER (PARTITION BY user_id ORDER BY tm
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |        FROM f),
        |ses AS (SELECT user_id, s, count(*) AS n_events,
        |          min(tm) AS start_ms, max(tm) AS end_ms
        |        FROM sid GROUP BY user_id, s),
        |mx AS (SELECT user_id, max(s) AS last_s FROM ses GROUP BY user_id),
        |wm AS (SELECT max(epoch_ms(ts)) - 10000 AS w FROM events)
        |SELECT ses.user_id,
        |  CAST(start_ms // 1000 AS BIGINT) AS start_s,
        |  CAST(end_ms // 1000 AS BIGINT) AS end_s, n_events
        |FROM ses JOIN mx USING (user_id) CROSS JOIN wm
        |WHERE ses.s < mx.last_s OR ses.end_ms + 1800000 < wm.w
        |ORDER BY user_id, start_s""".stripMargin)),

    Q("q_stream_join",  // fifth ORACLED streaming row — STREAM-STREAM
      // interval join with double-sided watermarks: signup events joined
      // to error events of the same user within the preceding hour,
      // parquet file source on BOTH sides, exactly-once append sink.
      // Inner stream-stream joins emit a match in the batch where both
      // sides have arrived and watermark eviction only runs AFTER a
      // batch; static input arrives in ONE batch, so the emitted set is
      // exactly the batch join — the oracle is the plain SQL interval
      // join, and what the hash compare asserts is that bounded join
      // state drops nothing it shouldn't.
      (s, dir) => {
        val out = Scratch.dir("stream-join-out")
        val cp = Scratch.dir("stream-join-cp")
        val src = new java.io.File(s"$dir/events.parquet")
        val streamDir =
          if (src.isDirectory) src.toString
          else {
            val d = new java.io.File(Scratch.dir("stream-join-src"))
            java.nio.file.Files.copy(src.toPath,
              new java.io.File(d, "events.parquet").toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            d.toString
          }
        val schema = s.read.parquet(streamDir).schema
        def side(tpe: String, p: String) =
          s.readStream.schema(schema).parquet(streamDir)
            .filter(col("event_type") === tpe)
            .select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_uid"),
              col("ts").cast(org.apache.spark.sql.types.TimestampType).as(s"${p}_ts"))
        graft.streaming.StreamOps.streamIntervalJoin(
            side("error", "l"), side("signup", "r"),
            "l_uid", "r_uid", "l_ts", "r_ts", lagSeconds = 3600)
          .select(col("l_id").as("error_id"), col("r_id").as("signup_id"),
            col("l_uid").as("user_id"))
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", cp)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        s.read.parquet(out).orderBy("error_id", "signup_id")
      },
      Some("""SELECT e.event_id AS error_id, s.event_id AS signup_id,
        |       e.user_id AS user_id
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON s.user_id = e.user_id
        |  AND epoch_ns(e.ts) - epoch_ns(s.ts) BETWEEN 0 AND 3600000000000
        |ORDER BY error_id, signup_id""".stripMargin)),

    Q("q_bm25",  // Okapi BM25 retrieval scoring (Robertson & Walker,
      // SIGIR'94; k1=1.2, b=0.75) for a fixed 3-term query — the
      // classic-IR ranker next to the tf-idf/cosine family. One corpus
      // explode into per-doc term counts; df/avglen are k-row side
      // aggregates that broadcast. Top-50 by rounded score (rounded
      // BEFORE ordering, doc_id tie-break — engine-independent LIMIT).
      (s, dir) => {
        val qTerms = Seq("join", "hash", "filter")
        val base = docsTokens(s, dir)
        val lens = base.select(col("doc_id"), size(col("toks")).as("len"))
        val stats = lens.agg(avg(col("len")).as("avglen"),
          count(lit(1)).as("n"))
        val tf = base
          .select(col("doc_id"), explode(col("toks")).as("w"))
          .filter(col("w").isin(qTerms: _*))
          .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
        tf.join(broadcast(dfreq), "w")
          .join(lens, "doc_id").crossJoin(broadcast(stats))
          .withColumn("idf",
            log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
          .withColumn("s", col("idf") * (col("tf") * lit(2.2))
            / (col("tf") + lit(1.2) *
              (lit(0.25) + lit(0.75) * col("len") / col("avglen"))))
          .groupBy(col("doc_id")).agg(round(sum(col("s")), 6).as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(50)
      },
      Some(s"""WITH t AS ($SqlToks),
        |lens AS (SELECT doc_id, CAST(len(toks) AS INT) AS len FROM t),
        |a AS (SELECT avg(len) AS avglen, count(*) AS n FROM lens),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM
        |         (SELECT doc_id, unnest(toks) AS w FROM t)
        |       WHERE w IN ('join', 'hash', 'filter') GROUP BY doc_id, w),
        |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |sc AS (SELECT tf.doc_id,
        |         ln((a.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
        |           * (tf.tf * 2.2)
        |           / (tf.tf + 1.2 * (0.25 + 0.75 * l.len / a.avglen)) AS s
        |       FROM tf JOIN dfreq d USING (w) JOIN lens l USING (doc_id)
        |       CROSS JOIN a)
        |SELECT doc_id, round(sum(s), 6) AS score FROM sc
        |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50""".stripMargin)),

    Q("q_rrf_fusion",  // reciprocal-rank fusion (Cormack et al.,
      // SIGIR'09: Σ 1/(60+rank)) of two independent text rankers —
      // BM25 and normalized-tf-idf query cosine — for the same 3-term
      // query. The two rank lists are k-row frames (per-ranker top-100);
      // fusion is a tiny outer join, absent ranks contribute nothing.
      // Rounded-before-ordered top-20 with doc_id tie-break.
      (s, dir) => {
        val qTerms = Seq("join", "hash", "filter")
        val base = docsTokens(s, dir)
        val lens = base.select(col("doc_id"), size(col("toks")).as("len"))
        val stats = lens.agg(avg(col("len")).as("avglen"), count(lit(1)).as("n"))
        val tf = base
          .select(col("doc_id"), explode(col("toks")).as("w"))
          .filter(col("w").isin(qTerms: _*))
          .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
          .localCheckpoint()
        val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
        val bm25 = tf.join(broadcast(dfreq), "w")
          .join(lens, "doc_id").crossJoin(broadcast(stats))
          .withColumn("s",
            log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
              * (col("tf") * lit(2.2))
              / (col("tf") + lit(1.2) *
                (lit(0.25) + lit(0.75) * col("len") / col("avglen"))))
          .groupBy(col("doc_id")).agg(round(sum(col("s")), 6).as("score"))
        // ranker 2: plain query-overlap tf/len weight (a cosine-lite
        // lexical scorer deliberately DIFFERENT from bm25)
        val lex = tf.join(lens, "doc_id")
          .groupBy(col("doc_id"))
          .agg(round(sum(col("tf") / col("len").cast("double")), 6).as("score"))
        def ranks(df: DataFrame) = df
          .orderBy(col("score").desc, col("doc_id")).limit(100)
          .withColumn("r", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("score").desc, col("doc_id"))))
          .select(col("doc_id"), col("r"))
        ranks(bm25).withColumnRenamed("r", "r1")
          .join(ranks(lex).withColumnRenamed("r", "r2"), Seq("doc_id"), "full_outer")
          .withColumn("rrf", round(
            coalesce(lit(1.0) / (lit(60) + col("r1")), lit(0.0))
              + coalesce(lit(1.0) / (lit(60) + col("r2")), lit(0.0)), 6))
          .select(col("doc_id"), col("rrf"))
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(20)
      },
      Some(s"""WITH t AS ($SqlToks),
        |lens AS (SELECT doc_id, CAST(len(toks) AS INT) AS len FROM t),
        |a AS (SELECT avg(len) AS avglen, count(*) AS n FROM lens),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM
        |         (SELECT doc_id, unnest(toks) AS w FROM t)
        |       WHERE w IN ('join', 'hash', 'filter') GROUP BY doc_id, w),
        |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |bm AS (SELECT doc_id, round(sum(
        |         ln((a.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
        |           * (tf.tf * 2.2)
        |           / (tf.tf + 1.2 * (0.25 + 0.75 * l.len / a.avglen))), 6) AS score
        |       FROM tf JOIN dfreq d USING (w) JOIN lens l USING (doc_id)
        |       CROSS JOIN a GROUP BY doc_id),
        |lx AS (SELECT tf.doc_id,
        |         round(sum(CAST(tf.tf AS DOUBLE) / l.len), 6) AS score
        |       FROM tf JOIN lens l USING (doc_id) GROUP BY tf.doc_id),
        |r1 AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
        |       FROM (SELECT * FROM bm ORDER BY score DESC, doc_id LIMIT 100)),
        |r2 AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
        |       FROM (SELECT * FROM lx ORDER BY score DESC, doc_id LIMIT 100))
        |SELECT COALESCE(r1.doc_id, r2.doc_id) AS doc_id,
        |  round(COALESCE(1.0 / (60 + r1.r), 0) + COALESCE(1.0 / (60 + r2.r), 0), 6)
        |    AS rrf
        |FROM r1 FULL JOIN r2 ON r1.doc_id = r2.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin)),

    Q("q_dp_counts",  // differential-privacy-style noisy release: per-
      // source doc counts + seeded Laplace noise (inverse-CDF transform
      // of a KEYED-HASH uniform — the q_stratified_sample device, so the
      // "randomness" is a pure function of the key and both engines
      // reproduce the release bit-for-bit; b = 1/ε = 2). The noisy
      // count, the exact count, and the noise are all value-oracled —
      // what the gate checks is the exact noise arithmetic an auditable
      // DP release needs.
      (s, dir) => {
        val u = (conv(substring(md5(concat(col("source"), lit("|dp1"))), 1, 8), 16, 10)
          .cast("long") + lit(0.5)) / lit(4294967296.0) - lit(0.5)
        val b = lit(2.0)
        Tables.table(s, dir, "documents")
          .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
          .withColumn("u", u)
          .withColumn("noise",
            round(-b * signum(col("u")) * log(lit(1.0) - lit(2.0) * abs(col("u"))), 6))
          .select(col("source"), col("n_docs"), col("noise"),
            round(col("n_docs") + col("noise"), 6).as("noisy"))
          .orderBy("source")
      },
      Some("""WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |u AS (SELECT source, n_docs,
        |        (CAST(('0x' || substr(md5(source || '|dp1'), 1, 8)) AS BIGINT) + 0.5)
        |          / 4294967296.0 - 0.5 AS u
        |      FROM c)
        |SELECT source, n_docs,
        |  round(-2.0 * sign(u) * ln(1.0 - 2.0 * abs(u)), 6) + 0.0 AS noise,
        |  round(n_docs + round(-2.0 * sign(u) * ln(1.0 - 2.0 * abs(u)), 6), 6) + 0.0
        |    AS noisy
        |FROM u ORDER BY source""".stripMargin)),

    Q("q_epoch_mix",  // fractional-EPOCH dataset mixing — the way real
      // pretraining recipes are written ("wiki ×2.5 epochs, web ×0.3";
      // GPT-3 Table 2.2 / LLaMA Table 1): floor(e) full deterministic
      // copies per doc plus one extra copy for the keyed-hash-sampled
      // e−floor(e) fraction (the 1/256-quantized q_stratified_sample
      // device — engine-portable, no RNG state). Replication is an
      // explode over a per-row sequence and the fraction test is a
      // map-side predicate: no shuffle at any corpus size beyond the
      // output sort.
      (s, dir) => {
        val sn = expr("CAST(substring(source, 4) AS INT)")
        val epochs = when(sn < 5, lit(2.5)).when(sn < 10, lit(1.0)).otherwise(lit(0.3))
        val d = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"))
          .withColumn("__full", floor(epochs).cast("int"))
          .withColumn("__thr", format_string("%02x",
            floor((epochs - floor(epochs)) * 256).cast("int")))
        val fullCopies = d.filter(col("__full") >= 1)
          .select(col("doc_id"), col("source"),
            explode(sequence(lit(1), col("__full"))).as("copy"))
        val extra = d.filter(
            substring(md5(concat_ws("_", lit("epoch"), col("doc_id").cast("string"))),
              1, 2) < col("__thr"))
          .select(col("doc_id"), col("source"), (col("__full") + 1).as("copy"))
        fullCopies.unionByName(extra).orderBy("source", "doc_id", "copy")
      },
      Some("""WITH d AS (SELECT doc_id, source,
        |        CAST(substr(source, 4, 10) AS INT) AS sn FROM documents),
        |e AS (SELECT doc_id, source,
        |        CASE WHEN sn < 5 THEN 2.5 WHEN sn < 10 THEN 1.0 ELSE 0.3 END AS ep
        |      FROM d),
        |p AS (SELECT doc_id, source, CAST(floor(ep) AS INT) AS fl,
        |        printf('%02x', CAST(floor((ep - floor(ep)) * 256) AS INT)) AS thr
        |      FROM e),
        |fullc AS (SELECT doc_id, source, CAST(i AS INT) AS copy
        |          FROM p, LATERAL unnest(range(1, fl + 1)) AS u(i) WHERE fl >= 1),
        |extra AS (SELECT doc_id, source, fl + 1 AS copy FROM p
        |          WHERE substr(md5('epoch_' || CAST(doc_id AS VARCHAR)), 1, 2) < thr)
        |SELECT doc_id, source, copy FROM fullc
        |UNION ALL SELECT doc_id, source, CAST(copy AS INT) FROM extra
        |ORDER BY source, doc_id, copy""".stripMargin)),

    Q("q_split_leakage_safe",  // leakage-safe train/val/test split: the
      // split key is the duplicate-cluster representative, so all copies
      // of a document land in the SAME split — the train-test
      // contamination path that per-doc random splits open and
      // exact-match decontamination misses. Cluster provenance here is
      // exact content groups (min-id rep per md5(text) group — cheap,
      // fully deterministic); [[Dedup.splitByCluster]] accepts any
      // cluster labeling incl. the CC output (DedupSpec covers the
      // near-dup-cluster case). Corpus side is one broadcast join + a
      // map-side md5 bucket: no corpus shuffle at any scale.
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
        val clusters = docs.select(col("doc_id").as("id"), col("text"))
          .withColumn("rep", min(col("id")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))))
          .select("id", "rep")
        Dedup.splitByCluster(docs.select(col("doc_id")), "doc_id", clusters,
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "r7")
          .select(col("doc_id"), col("split"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (SELECT doc_id,
        |        min(doc_id) OVER (PARTITION BY md5(text)) AS rep
        |      FROM documents),
        |h AS (SELECT doc_id,
        |        substring(md5('r7' || '_' || CAST(rep AS VARCHAR)), 1, 4) AS hx
        |      FROM g)
        |SELECT doc_id, CASE WHEN hx < 'cccc' THEN 'train'
        |                    WHEN hx < 'e666' THEN 'val'
        |                    ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin)),

    Q("q_mixture",  // domain-mixture report: per-source token totals and
      // corpus fraction — the numbers a mixture/temperature-sampling
      // plan starts from; one partial-agg groupBy + a 1-row broadcast
      (s, dir) => {
        val d = Tables.table(s, dir, "documents")
          .select(col("source"),
            size(TextOps.tokenizeFiltered(col("text"), Stop, Nil)).as("n"))
        val tot = d.agg(sum(col("n")).as("tot"))
        d.groupBy("source").agg(sum(col("n")).as("toks"))
          .crossJoin(broadcast(tot))
          .select(col("source"), col("toks"),
            round(col("toks") / col("tot"), 6).as("frac"))
          .orderBy("source")
      },
      Some(s"""WITH t AS ($SqlToks),
        |d AS (SELECT d.source, len(t.toks) AS n
        |      FROM t JOIN documents d USING (doc_id)),
        |g AS (SELECT source, CAST(sum(n) AS BIGINT) AS toks FROM d GROUP BY source)
        |SELECT source, toks,
        |  round(toks / (SELECT CAST(sum(n) AS DOUBLE) FROM d), 6) AS frac
        |FROM g ORDER BY source""".stripMargin)),

    Q("q_temperature_mix",  // Gopher/PaLM-style temperature mixture
      // resampling: per-source token shares flattened toward uniform
      // with T=2 (q_s ∝ p_s^(1/2)); the most over-target source keeps
      // everything, the rest downsample by keyed hash. Rate table =
      // one tiny groupBy broadcast back; keep/drop is map-side — no
      // corpus shuffle, no driver collect, reproducible on any engine.
      (s, dir) => {
        val d = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(TextOps.tokenizeFiltered(col("text"), Stop, Nil))
              .cast("double").as("w"))
        IdOps.temperatureSample(d, "doc_id", "source", "w",
            temperature = 2.0, salt = "mix")
          .select(col("doc_id"), col("source"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS ($SqlToks),
        |d AS (SELECT t.doc_id, dd.source, len(t.toks) AS n
        |      FROM t JOIN documents dd ON dd.doc_id = t.doc_id),
        |g AS (SELECT source, CAST(sum(n) AS DOUBLE) AS ns FROM d GROUP BY source),
        |z AS (SELECT sum(ns) AS ntot, sum(pow(ns, 0.5)) AS zz FROM g),
        |r AS (SELECT source, pow(ns, -0.5) * ntot / zz AS qp FROM g, z),
        |r2 AS (SELECT source, qp / (SELECT max(qp) FROM r) AS rate FROM r),
        |thr AS (SELECT source, CASE WHEN rate >= 1.0 - 1e-9 THEN 'zz'
        |          ELSE printf('%02x', CAST(floor(rate * 256 + 1e-9) AS INT)) END AS th
        |        FROM r2)
        |SELECT dd.doc_id, dd.source FROM documents dd JOIN thr USING (source)
        |WHERE substring(md5('mix' || '_' || CAST(dd.doc_id AS VARCHAR)), 1, 2) < th
        |ORDER BY doc_id""".stripMargin)),

    Q("q_llm_pipeline",  // the WHOLE training-data curation funnel in one
      // composed plan, value-oracled end-to-end: PII scrub → tokenize →
      // quality floor → exact dedup (min-id per fingerprint) →
      // benchmark decontamination (%7 eval split) → stratified source
      // rebalance (even 50%, odd 100%) → 128-token sequence packing via
      // the at-scale offset form. Every stage is the already-oracled
      // operator; this query proves they COMPOSE — the "switch your
      // pipeline to this library" demonstration
      (s, dir) => {
        val toks = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextOps.tokenizeFiltered(
              TextOps.redactPii(col("text")), Stop, Nil).as("toks"))
          .localCheckpoint()
        val quality = toks.filter(TextStats.qualityScore(col("toks"), Stop) >= 0.5)
        val deduped = Dedup.dropDupsByKey(
          quality.withColumn("fp", TextStats.contentFingerprint(col("toks"))),
          "doc_id", "fp")
        val grams = deduped
          .withColumn("g5", Dedup.tokenShingles(col("toks"), 5))
          .localCheckpoint()
        val bench = toks.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), Dedup.tokenShingles(col("toks"), 5).as("g5"))
        val corp = grams.filter(col("doc_id") % 7 =!= 0)
        val clean = Dedup.decontaminate(
          corp.drop("g5"), "doc_id",
          Dedup.contaminationHits(corp, "doc_id", "g5", bench, "g5"))
        val sampled = IdOps.stratifiedSampleByHash(
          clean, "doc_id", "source",
          rates = (0 until 20).map(i =>
            s"src$i" -> (if (i % 2 == 0) 0.5 else 1.0)).toMap,
          salt = "e2e")
        TextOps.packSequencesAtScale(
            sampled.select(col("doc_id"), col("source"), size(col("toks")).as("n_toks")),
            "doc_id", "n_toks", budget = 128)
          .select(col("doc_id"), col("source"), col("n_toks"),
            col("tok_offset"), col("seq_first"), col("seq_last"))
          .orderBy("doc_id")
      },
      Some(s"""WITH s0 AS (SELECT doc_id, source,
        |  regexp_replace(regexp_replace(text,
        |    '${TextOps.EmailRe}', '<PII>', 'g'),
        |    '${TextOps.PhoneRe}', '<PII>', 'g') AS text FROM documents),
        |t AS (SELECT doc_id, source,
        |  list_filter(regexp_extract_all(lower(text), '\\b\\w\\w+\\b'),
        |    x -> x NOT IN ('the', 'a')) AS toks FROM s0),
        |q AS (SELECT * FROM t WHERE $SqlQuality >= 0.5),
        |f AS (SELECT *, md5(array_to_string(toks, ' ')) AS fp FROM q),
        |d AS (SELECT doc_id, source, toks FROM f
        |      QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
        |g AS (SELECT doc_id, source, toks, CASE WHEN len(toks) < 5 THEN []
        |        ELSE list_transform(range(1, len(toks) - 3),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
        |               || toks[i+3] || ' ' || toks[i+4]) END AS g5
        |      FROM d),
        |bg AS (SELECT DISTINCT unnest(CASE WHEN len(toks) < 5 THEN []
        |         ELSE list_transform(range(1, len(toks) - 3),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
        |                || toks[i+3] || ' ' || toks[i+4]) END) AS gg
        |       FROM t WHERE doc_id % 7 = 0),
        |cg AS (SELECT DISTINCT doc_id, gr FROM
        |        (SELECT doc_id, unnest(g5) AS gr FROM g WHERE doc_id % 7 <> 0)),
        |bad AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg ON cg.gr = bg.gg),
        |clean AS (SELECT doc_id, source, toks FROM g
        |          WHERE doc_id % 7 <> 0
        |            AND doc_id NOT IN (SELECT doc_id FROM bad)),
        |samp AS (SELECT doc_id, source, len(toks) AS n_toks FROM clean
        |         WHERE substr(md5('e2e_' || CAST(doc_id AS VARCHAR)), 1, 2) <
        |           CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
        |                THEN '80' ELSE 'zz' END),
        |o AS (SELECT doc_id, source, n_toks,
        |        COALESCE(sum(n_toks) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
        |      FROM samp)
        |SELECT doc_id, source, CAST(n_toks AS INT) AS n_toks,
        |  CAST(tok_offset AS BIGINT) AS tok_offset,
        |  CAST(tok_offset // 128 AS BIGINT) AS seq_first,
        |  CAST(CASE WHEN n_toks = 0 THEN tok_offset // 128
        |       ELSE (tok_offset + n_toks - 1) // 128 END AS BIGINT) AS seq_last
        |FROM o ORDER BY doc_id""".stripMargin)),

    Q("q_top_per_source",  // per-domain cap: the 10 best-quality docs per
      // source (window partitioned BY SOURCE — many bounded partitions,
      // no global ordering; ties broken by doc_id for determinism)
      (s, dir) => {
        val scored = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextStats.qualityScore(
              TextOps.tokenizeFiltered(col("text"), Stop, Nil), Stop).as("q"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("q").desc, col("doc_id"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10)
          .select(col("doc_id"), col("source"), round(col("q"), 6).as("q"), col("rk"))
          .orderBy("source", "rk")
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
        |  list_filter(regexp_extract_all(lower(text), '\\b\\w\\w+\\b'),
        |    x -> x NOT IN ('the', 'a')) AS toks FROM documents),
        |sc AS (SELECT doc_id, source, $SqlQuality AS q FROM t),
        |rk AS (SELECT doc_id, source, q,
        |         CAST(row_number() OVER
        |           (PARTITION BY source ORDER BY q DESC, doc_id) AS INT) AS rk
        |       FROM sc)
        |SELECT doc_id, source, round(q, 6) AS q, rk FROM rk
        |WHERE rk <= 10 ORDER BY source, rk""".stripMargin)),

    Q("q_winnow",  // MOSS winnowing fingerprints: min-hash of each 4-wide
      // window over 3-shingle hashes — substring-robust dedup keys at
      // ~1/4 shingle density; md5 base hash makes it value-oracled.
      // Witness capped at the 500-doc gate corpus (md5 is the oracle
      // twin)
      (s, dir) => Dedup.winnowFingerprints(
          docsTokens(s, dir).filter(col("doc_id") < 500),
          "doc_id", "toks", k = 3, w = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "fp"),
      Some(s"""WITH t0 AS ($SqlToks),
        |t AS (SELECT * FROM t0 WHERE doc_id < 500),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN []
        |        ELSE list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
        |      FROM t),
        |h AS (SELECT doc_id, list_transform(sh,
        |        x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
        |      FROM s WHERE len(sh) >= 1),
        |f AS (SELECT doc_id, CASE WHEN len(hs) < 4 THEN [list_min(hs)]
        |        ELSE list_distinct(list_transform(range(1, len(hs) - 2),
        |          i -> list_min(list_slice(hs, i, i + 3)))) END AS fps
        |      FROM h)
        |SELECT DISTINCT doc_id, unnest(fps) AS fp FROM f
        |ORDER BY doc_id, fp""".stripMargin)),

    Q("q_winnow_pairs",  // winnowing USED for dedup, composed end-to-end:
      // doc pairs sharing ≥ 3 winnow fingerprints = substring-level
      // near-dup candidates (MOSS's actual decision rule — shared token
      // runs ≥ w+k−1 guarantee a shared fingerprint, so long cloned
      // passages force multiple shared fps). Same md5 witness cap as
      // q_winnow; the fingerprint join is the ~1/w-density analogue of
      // the shingle join, so the at-scale form buckets/caps identically
      // (fps are min-hashes — hot fps behave like hot shingles).
      (s, dir) => {
        val fps = Dedup.winnowFingerprints(
            docsTokens(s, dir).filter(col("doc_id") < 500),
            "doc_id", "toks", k = 3, w = 4)
          .localCheckpoint()
        fps.as("a").join(fps.as("b"),
            col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
          .orderBy("id1", "id2")
      },
      Some(s"""WITH t0 AS ($SqlToks),
        |t AS (SELECT * FROM t0 WHERE doc_id < 500),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN []
        |        ELSE list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
        |      FROM t),
        |h AS (SELECT doc_id, list_transform(sh,
        |        x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
        |      FROM s WHERE len(sh) >= 1),
        |f AS (SELECT doc_id, CASE WHEN len(hs) < 4 THEN [list_min(hs)]
        |        ELSE list_distinct(list_transform(range(1, len(hs) - 2),
        |          i -> list_min(list_slice(hs, i, i + 3)))) END AS fps
        |      FROM h),
        |e AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM f)
        |SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared
        |FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY id1, id2""".stripMargin)),

    Q("q_novelty",  // per-doc n-gram novelty: fraction of a doc's distinct
      // 3-grams appearing in NO other doc — the rarity/memorization
      // signal corpus curation ranks on; one gram-docfreq groupBy +
      // one per-doc avg, both partial-agg friendly
      (s, dir) => {
        val g = shingles3(s, dir)  // shared memoized shingle substrate (r18)
        val dfreq = g.groupBy(col("h")).agg(count(lit(1)).as("df"))
        g.join(dfreq, Seq("h"))
          .groupBy(col("id"))
          .agg(round(avg(when(col("df") === 1, 1.0).otherwise(0.0)), 6).as("novelty"),
            count(lit(1)).cast("int").as("n_grams"))
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS ($SqlToks),
        |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |        ELSE list_transform(range(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |      FROM t),
        |e AS (SELECT doc_id, unnest(sh) AS w FROM s),
        |d AS (SELECT w, count(*) AS df FROM e GROUP BY w)
        |SELECT e.doc_id,
        |  round(avg(CAST(CASE WHEN d.df = 1 THEN 1 ELSE 0 END AS DOUBLE)), 6) AS novelty,
        |  CAST(count(*) AS INT) AS n_grams
        |FROM e JOIN d USING (w)
        |GROUP BY e.doc_id ORDER BY doc_id""".stripMargin)),

    Q("q_pii_scrub",  // PII redaction: deterministic synthetic emails/phones
      // appended per doc (the corpus has none), then scrubbed — redacted
      // text value-oracled byte-for-byte via md5 (Java regex and RE2
      // agree on the character-class-only patterns)
      (s, dir) => {
        val aug = concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com or call 555-123-4567"))
        Tables.table(s, dir, "documents")
          .select(col("doc_id"),
            TextOps.piiCount(aug).cast("int").as("n_pii"),
            md5(TextOps.redactPii(aug)).as("fp"))
          .orderBy("doc_id")
      },
      Some(s"""WITH a AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR)
        |       || '@example.com or call 555-123-4567' AS t FROM documents),
        |r AS (SELECT doc_id, t,
        |        regexp_replace(t, '${TextOps.EmailRe}', '<PII>', 'g') AS t1 FROM a)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '${TextOps.EmailRe}'))
        |     + len(regexp_extract_all(t1, '${TextOps.PhoneRe}')) AS INT) AS n_pii,
        |  md5(regexp_replace(t1, '${TextOps.PhoneRe}', '<PII>', 'g')) AS fp
        |FROM r ORDER BY doc_id""".stripMargin)),

    Q("q_quantize_int8",  // symmetric per-vector int8 embedding codes:
      // trunc (not round) makes double→int identical in both engines,
      // so the codes get a full value-level oracle
      (s, dir) => {
        val z = Tables.table(s, dir, "embeddings")
          .select(col("vec_id"),
            Similarity.quantizeInt8(KMeansOps.asDouble(col("embedding"))).as("z"))
          .localCheckpoint()
        z.select(col("vec_id"), round(col("z.scale"), 6).as("scale"),
            posexplode(col("z.q")).as(Seq("pos", "qv")))
          .orderBy("vec_id", "pos")
      },
      Some("""WITH v AS (SELECT vec_id,
        |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |      FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM v),
        |q AS (SELECT vec_id, round(mx / 127.0, 6) + 0.0 AS scale,
        |        CASE WHEN mx = 0 THEN list_transform(v, x -> 0)
        |             ELSE list_transform(v, x -> CAST(trunc(x * 127.0 / mx) AS INT)) END AS qs
        |      FROM m)
        |SELECT vec_id, scale, CAST(unnest(range(0, len(qs))) AS INT) AS pos,
        |       unnest(qs) AS qv
        |FROM q ORDER BY vec_id, pos""".stripMargin)),

    Q("q_stratified_sample",  // deterministic corpus rebalancing: per-source
      // rates via the md5 keyed-hash permutation (q_sample_k's cross-engine
      // trick applied to rate sampling) — even sources 25%, odd 50%
      (s, dir) => IdOps.stratifiedSampleByHash(
          Tables.table(s, dir, "documents"), "doc_id", "source",
          rates = (0 until 20).map(i => s"src$i" -> (if (i % 2 == 0) 0.25 else 0.5)).toMap,
          salt = "strat7")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM documents
        |WHERE substr(md5('strat7_' || CAST(doc_id AS VARCHAR)), 1, 2) <
        |  CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN '40' ELSE '80' END
        |ORDER BY doc_id""".stripMargin)),

    Q("q_minhash_pairs",  // MinHash+LSH candidates — Spark murmur3/xxhash64 not in DuckDB → rows-only
      (s, dir) => {
        // 3-shingles, not unigrams: the synthetic corpus shares one small
        // vocabulary, so unigram MinHash buckets nearly every pair.
        // Signatures come straight from the memoized per-doc hash arrays
        // through the fused MinHashSigs expression: no explode, no
        // 128-column aggregate, no shuffle (DedupSpec asserts both the
        // parity with the explode + min form and the Exchange-free plan).
        val sigs = Dedup.minhashFromArrays(
          shingles3Arrays(s, dir),  // shared memoized shingle substrate (r18)
          numHashes = 128, seed = 42L)
        Dedup.lshCandidates(sigs, bands = 32).orderBy("id1", "id2")
      },
      None),

    Q("q_char_minhash_pairs",  // char-5-gram MinHash, fully fused: rolling-hash
      (s, dir) => {               // Expression → MinHashSigs Expression → LSH.
        val docs = Tables.table(s, dir, "documents")
          .select(col("doc_id").as("id"), col("text"))
        // locally the whole corpus can be one parquet row group — spread the
        // (chars·numHashes)-heavy expression across cores ONLY then; at real
        // scale the scan has thousands of splits and a repartition here would
        // shuffle the corpus' widest column for nothing
        val spread =
          if (docs.rdd.getNumPartitions < s.sparkContext.defaultParallelism)
            docs.repartition(col("id"))
          else docs
        val sigs = spread
          // pre-filter on the CHEAP equivalent of sig IS NOT NULL (r17):
          // MinHashSigs is null exactly when the shingle array is empty,
          // i.e. when the utf8 byte length is < k — and a post-projection
          // isNotNull filter was pushed below the Project, evaluating the
          // whole O(chars·128) signature expression a second time per row
          // (the §4.4 duplicate-evaluation shape, with a codegen
          // expression instead of a UDF). null text drops on both forms.
          .filter(octet_length(lower(col("text"))) >= 5)
          .select(col("id"),                          // rows-only (engine hashes)
            Dedup.minhashSigsCol(
              graft.functions.CharShingleHashes.char_shingle_hashes(
                lower(col("text")), 5), numHashes = 128, seed = 42L).as("sig"))
        Dedup.lshCandidates(sigs, bands = 32).orderBy("id1", "id2")
      },
      None),

    Q("q_char_minhash_md5",  // char-5-gram MinHash+LSH, value-level oracled:
      // the q_minhash_lsh_md5 portable-SQL trick (md5 base hash, decimal
      // string band keys) applied to CHARACTER shingles — DuckDB reproduces
      // the sig→band→bucket-join candidate set exactly. Witness capped at
      // 500 docs; q_char_minhash_pairs (fused rolling-hash Expressions) is
      // the scale twin, recall-tied in InvariantSweepSpec.
      (s, dir) => {
        val txt = lower(col("text"))
        val docs = Tables.table(s, dir, "documents")
          .filter(col("doc_id") < 500)
          .select(col("doc_id"),
            when(length(txt) < 5, array().cast("array<string>"))
              .otherwise(transform(
                sequence(lit(1), greatest(length(txt) - 4, lit(1))),
                i => txt.substr(i, lit(5)))).as("sh"))
        Dedup.minhashPairsPortable(docs, "doc_id", "sh",
            numHashes = 16, bands = 4, seed = 42L)
          .orderBy("id1", "id2")
      },
      Some {
        val ps = Dedup.hashParams(16, 42L).zipWithIndex
          .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")
        s"""WITH d AS (SELECT doc_id, lower(text) AS txt FROM documents
        |           WHERE doc_id < 500),
        |s AS (SELECT doc_id, CASE WHEN length(txt) < 5 THEN []
        |        ELSE list_transform(range(1, length(txt) - 3),
        |          i -> substr(txt, i, 5)) END AS sh
        |      FROM d),
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

    Q("q_simhash_pairs",  // SimHash near-dups (Hamming ≤ 3) — rows-only
      // (engine xxhash64 base hash); the value-level oracle for the same
      // sig→chunk→pair pipeline is q_simhash_md5 below
      (s, dir) => Dedup.simhashPairs(
          Dedup.simhash64(docsTokens(s, dir), "doc_id", "toks"), maxDist = 3)
        .orderBy("id1", "id2"),
      None),

    Q("q_simhash_md5",  // the WHOLE SimHash pipeline value-level oracled:
      // md5-derived 32-bit half-hashes + per-bit ±cnt majority vote +
      // 16-bit-chunk blocking + bit_count(xor) distance are all portable
      // SQL, so DuckDB reproduces signatures AND the pair set bit-for-bit.
      // Witness capped at 500 docs (the full sf≤0.01 gate corpus) like the
      // LSH witness: md5 costs ~10× the engine hash BY DESIGN and witness
      // value doesn't grow with corpus size — q_simhash_pairs is the scale
      // twin (recall-tied in InvariantSweepSpec).
      (s, dir) => Dedup.simhashPairsPortable(
          Dedup.simhashPortable(
            docsTokens(s, dir).filter(col("doc_id") < 500), "doc_id", "toks"),
          maxDist = 3)
        .orderBy("id1", "id2"),
      Some {
        val lo = (0 until 32).map(i =>
          s"sum(CASE WHEN (hlo >> $i) & 1 = 1 THEN cnt ELSE -cnt END) AS l$i").mkString(", ")
        val hi = (0 until 32).map(i =>
          s"sum(CASE WHEN (hhi >> $i) & 1 = 1 THEN cnt ELSE -cnt END) AS u$i").mkString(", ")
        val wlo = (0 until 32).map(i => s"(CASE WHEN l$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
        val whi = (0 until 32).map(i => s"(CASE WHEN u$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
        s"""WITH t0 AS ($SqlToks),
        |t AS (SELECT * FROM t0 WHERE doc_id < 500),
        |c AS (SELECT doc_id, w, count(*) AS cnt
        |      FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY doc_id, w),
        |h AS (SELECT doc_id, cnt,
        |        CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) AS hlo,
        |        CAST(('0x' || substr(md5(w), 9, 8)) AS BIGINT) AS hhi FROM c),
        |v AS (SELECT doc_id, $lo, $hi FROM h GROUP BY doc_id),
        |s AS (SELECT doc_id, $wlo AS sim_lo, $whi AS sim_hi FROM v),
        |ch AS (SELECT doc_id, sim_lo, sim_hi, 0 AS chunk, sim_lo & 65535 AS ch FROM s
        |  UNION ALL SELECT doc_id, sim_lo, sim_hi, 1, (sim_lo >> 16) & 65535 FROM s
        |  UNION ALL SELECT doc_id, sim_lo, sim_hi, 2, sim_hi & 65535 FROM s
        |  UNION ALL SELECT doc_id, sim_lo, sim_hi, 3, (sim_hi >> 16) & 65535 FROM s),
        |p AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
        |        a.sim_lo AS alo, a.sim_hi AS ahi, b.sim_lo AS blo, b.sim_hi AS bhi
        |      FROM ch a JOIN ch b ON a.chunk = b.chunk AND a.ch = b.ch
        |                          AND a.doc_id < b.doc_id)
        |SELECT id1, id2,
        |       CAST(bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) AS INT) AS hamming
        |FROM p WHERE bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) <= 3
        |ORDER BY id1, id2""".stripMargin
      })
  )
}
