package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops._

import graft.SparkEntry.Q
import graft.QShared._

/** Query registry — corpus-hygiene additions (r14): the C4 line-level
  * cleaning rule set, a corpus-TRAINED Naive-Bayes quality classifier
  * (the fixed-weight q_quality_clf's learned sibling), Luhn-validated
  * payment-card + IPv4 PII detection, Efraimidis–Spirakis weighted
  * sampling without replacement, and triangle counting / local
  * clustering coefficients on the cell-routed kNN graph.
  * Split-registry structure per SparkEntry's scaladoc.
  */
private[graft] object QCorpus {
  import Dictionaries.{Stopwords => Stop}

  def qs: Seq[Q] = Seq(

    Q("q_c4_filters",  // the C4 cleaning rule set (Raffel et al. 2020,
      // arXiv:1910.10683 §2.2): keep lines ending in terminal
      // punctuation with >= 5 words and no "javascript"; drop docs
      // containing '{' or "lorem ipsum" or fewer than 3 sentences
      // after line cleaning. The synthetic corpus is single-line prose
      // with no punctuation, so (house fixture pattern, see
      // q_url_canon) a newline-structured text is synthesized
      // deterministically per doc — 8-token lines, punctuation /
      // "javascript" / "lorem ipsum" / '{' injected on doc_id
      // arithmetic both engines reproduce — and the OPERATOR under
      // test (TextStats.c4KeptLines/c4KeepDoc) is the real map-side
      // rule set. Zero shuffle beyond the output sort.
      (s, dir) => {
        val toks = TextOps.tokenize(col("text"))
        val n = size(toks)
        val nchunks = greatest(lit(1), floor((n + lit(7)) / lit(8)).cast("int"))
        val lines = transform(sequence(lit(0), nchunks - 1), i =>
          concat(
            array_join(slice(toks, i * lit(8) + 1, lit(8)), " "),
            when((col("doc_id") + i) % 7 === 0, lit(" javascript"))
              .otherwise(lit("")),
            when(col("doc_id") % 17 === 0 && i === 0, lit(" lorem ipsum"))
              .otherwise(lit("")),
            when((col("doc_id") + i) % 3 =!= 0, lit(".")).otherwise(lit(""))))
        val ctext = concat(array_join(lines, "\n"),
          when(col("doc_id") % 13 === 0, lit("\n{")).otherwise(lit("")))
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), ctext.as("ctext"))
          .select(col("doc_id"), col("ctext"),
            size(split(col("ctext"), "\n")).as("n_lines"),
            TextStats.c4KeptLines(col("ctext")).as("kept"))
          .select(col("doc_id"), col("n_lines"),
            size(col("kept")).as("kept_lines"),
            array_join(col("kept"), "\n").as("kept_text"), col("ctext"))
          .select(col("doc_id"), col("n_lines"), col("kept_lines"),
            size(regexp_extract_all(col("kept_text"), lit("[.!?]"), lit(0)))
              .as("n_sentences"),
            TextStats.c4KeepDoc(col("ctext"), col("kept_text")).as("keep_doc"),
            md5(col("kept_text")).as("kept_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
        |        regexp_extract_all(lower(text), '\b\w\w+\b') AS toks FROM documents),
        |b AS (SELECT doc_id, toks,
        |        greatest(1, CAST(floor((len(toks) + 7) / 8.0) AS INT)) AS nc FROM t),
        |l AS (SELECT doc_id,
        |        list_transform(range(0, nc), i ->
        |          array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' ')
        |          || CASE WHEN (doc_id + i) % 7 = 0 THEN ' javascript' ELSE '' END
        |          || CASE WHEN doc_id % 17 = 0 AND i = 0 THEN ' lorem ipsum' ELSE '' END
        |          || CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END) AS lines
        |      FROM b),
        |c AS (SELECT doc_id, array_to_string(lines, chr(10))
        |        || CASE WHEN doc_id % 13 = 0 THEN chr(10) || '{' ELSE '' END AS ctext
        |      FROM l),
        |k AS (SELECT doc_id, ctext,
        |        len(string_split(ctext, chr(10))) AS n_lines,
        |        list_filter(string_split(ctext, chr(10)), x ->
        |          regexp_matches(x, '[.!?"]$')
        |          AND len(string_split(x, ' ')) >= 5
        |          AND NOT contains(lower(x), 'javascript')) AS kept
        |      FROM c),
        |m AS (SELECT doc_id, n_lines, len(kept) AS kept_lines,
        |        COALESCE(array_to_string(kept, chr(10)), '') AS kept_text, ctext
        |      FROM k)
        |SELECT doc_id, CAST(n_lines AS INT) AS n_lines,
        |  CAST(kept_lines AS INT) AS kept_lines,
        |  CAST(len(regexp_extract_all(kept_text, '[.!?]')) AS INT) AS n_sentences,
        |  (NOT contains(ctext, '{')
        |   AND NOT contains(lower(ctext), 'lorem ipsum')
        |   AND len(regexp_extract_all(kept_text, '[.!?]')) >= 3) AS keep_doc,
        |  md5(kept_text) AS kept_md5
        |FROM m ORDER BY doc_id""".stripMargin)),

    Q("q_nb_quality",  // corpus-TRAINED Naive-Bayes quality classifier
      // (the fixed-weight q_quality_clf's learned sibling): label =
      // heuristic quality >= 0.62 (~45/55 split at every SF), features
      // = distinct-token presence, model = Laplace-smoothed per-token
      // log-odds learned by one explode+groupBy pass and joined back
      // on the token key (tf-idf shuffle family; totals/prior as 1-row
      // broadcasts — nothing collected). Token log-odds are 1e-9
      // fixed-point integers summed EXACTLY on both engines (a 9-dp
      // double sum hit a 6-dp rounding half-boundary at sf0.1), so
      // logit and prediction are order-independent.
      (s, dir) => {
        val lab = Tables.table(s, dir, "documents")
          .select(col("doc_id"), TextOps.tokenize(col("text")).as("toks"))
          .withColumn("y", TextStats.qualityScore(col("toks"), Stop) >= 0.62)
        TextStats.nbTrainScore(lab, "doc_id", "toks", "y", maxVocab = 20)
          .select(col("doc_id"), col("y"),
            round(col("nb_logit"), 6).as("nb_logit"),
            (col("nb_logit") > 0).as("nb_pred"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id,
        |        regexp_extract_all(lower(text), '\\b\\w\\w+\\b') AS toks FROM documents),
        |ld AS (SELECT doc_id, toks, ($SqlQuality) >= 0.62 AS y FROM t),
        |f AS (SELECT doc_id, y, unnest(list_distinct(toks)) AS w FROM ld),
        |cnt AS (SELECT w, sum(CASE WHEN y THEN 1 ELSE 0 END) AS c1,
        |          sum(CASE WHEN y THEN 0 ELSE 1 END) AS c0 FROM f GROUP BY 1
        |        QUALIFY row_number() OVER (ORDER BY (c1 + c0) DESC, w) <= 20),
        |nn AS (SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS n1,
        |         sum(CASE WHEN y THEN 0 ELSE 1 END) AS n0 FROM ld),
        |model AS (SELECT w, CAST(round((ln((c1 + 1.0) / (n1 + 2.0))
        |            - ln((c0 + 1.0) / (n0 + 2.0))) * 1e9) AS BIGINT) AS lo9
        |          FROM cnt CROSS JOIN nn),
        |pr AS (SELECT CAST(round(ln((n1 + 1.0) / (n0 + 1.0)) * 1e9) AS BIGINT)
        |         AS prior9 FROM nn),
        |slo AS (SELECT doc_id, sum(lo9) AS slo9
        |        FROM f JOIN model USING (w) GROUP BY 1)
        |SELECT ld.doc_id, ld.y,
        |  round((pr.prior9 + COALESCE(slo.slo9, 0)) / 1e9, 6) AS nb_logit,
        |  (pr.prior9 + COALESCE(slo.slo9, 0) > 0) AS nb_pred
        |FROM ld CROSS JOIN pr LEFT JOIN slo ON slo.doc_id = ld.doc_id
        |ORDER BY ld.doc_id""".stripMargin)),

    Q("q_weighted_sample",  // weighted sampling WITHOUT replacement
      // (Efraimidis & Spirakis 2006): competition key u^(1/w) with a
      // keyed-hash uniform u, top-25 by key — inclusion probability
      // proportional to weight (n_chars), engine-portable because the
      // "randomness" is md5 of the doc id. Plans as TakeOrdered
      // (per-partition top-k + k-row merge — the paper's reservoir
      // form, no global sort at any corpus size). Ranking is in the
      // LOG domain ln(u)/w (ADVICE r14: the power form compresses
      // toward 1 at large weights and a 9-dp round collided keys en
      // masse, biasing the tie-break toward low ids); the log key
      // rounds to 9 dp before ranking on BOTH engines — ln is
      // libm-accurate, not correctly rounded, so the raw double could
      // flip the top-25 boundary between engines. The published
      // es_key stays the paper's u^(1/w) form.
      (s, dir) => IdOps.weightedSampleK(
          Tables.table(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", k = 25, salt = "ws")
        .select(col("doc_id"), col("n_chars"), round(col("es_key"), 6).as("es_key"))
        .orderBy("doc_id"),
      Some(WeightedSampleOracleSql)),

    Q("q_stream_wsample",  // streaming twin of q_weighted_sample
      // (VERDICT r16 next #8): the E–S competition key is a pure
      // function of (salt, doc_id, weight) and top-k is an
      // associative merge, so the stream keeps a RUNNING top-25 in
      // versioned state (the countMinBatch device — read v_{bid−1},
      // merge this batch's own top-25, overwrite v_bid; retries
      // exactly-once effective, missing predecessor fails loudly).
      // The final version is EXACTLY the batch kernel's top-25 over
      // the union of the 4 real micro-batches, so the
      // q_weighted_sample ORACLE grades the stream state directly.
      // State: 25 rows per version, constant in stream length.
      (s, dir) => {
        val state = Scratch.dir("stream-ws-state")
        val cp = Scratch.dir("stream-ws-cp")
        // staged once per JVM and shared with the other 4-batch twins
        // (r17): state/checkpoint dirs above stay per-invocation
        val srcDir = QShared.streamDocSrc4(s, dir)
        val schema = Tables.table(s, dir, "documents").schema
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir)
        stream.select(col("doc_id"), col("n_chars"))
          .writeStream
          .foreachBatch { (b: DataFrame, bid: Long) =>
            graft.streaming.StreamOps.weightedSampleBatch(
              b, "doc_id", "n_chars", k = 25, state, bid, salt = "ws")
          }
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        val statePath = new org.apache.hadoop.fs.Path(state)
        val stateFs = statePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        val lastBid =
          graft.streaming.StreamOps.listVersions(stateFs, statePath).max
        s.read.parquet(s"$state/v_$lastBid")
          .select(col("doc_id"), col("n_chars"),
            round(col("es_key"), 6).as("es_key"))
          .orderBy("doc_id")
      },
      Some(WeightedSampleOracleSql), iterative = true),

    Q("q_normalize_unicode",  // Unicode normalization (UAX #15) ahead
      // of the dedup keys (VERDICT r14 missing #1): combining-vs-
      // precomposed diacritics, full-width ASCII and compatibility
      // ligatures are distinct byte strings that byte-hashing splits.
      // The corpus is pure ASCII, so (house fixture pattern,
      // q_url_canon) a unicode tail is synthesized per doc from
      // doc_id arithmetic — built from codepoint escapes in Scala and
      // chr() in DuckDB, so both engines assemble identical strings —
      // and the OPERATORS under test (UnicodeNorm.nfc/nfkc as codegen
      // expressions, normalizeText's NFC pass) are the real map-side
      // path. NFC value-oracles via DuckDB's nfc_normalize; NFKC has
      // no DuckDB builtin, so its oracle is the CLOSED-FORM expected
      // string per fixture variant (full-width→ascii, ligature→fi,
      // combining→precomposed) — a stronger check than replay. The
      // norm_key column shows the dedup key UNIFYING variants 1 and 2
      // (e+U+0301 vs precomposed é). Zero shuffle beyond the sort.
      (s, dir) => {
        import graft.functions.UnicodeNorm.{nfc, nfkc}
        val m = col("doc_id") % 6
        // codepoint ESCAPES, never literal glyphs: variant 1 is the
        // combining sequence e+U+0301, variant 2 the precomposed
        // U+00E9 — visually identical in source but distinct bytes,
        // and an editor normalizing this file must not change them.
        // 3 = full-width abc, 4 = fi-ligature, 5 = combining ring/
        // diaeresis forms of Angstrom.
        val suffix = when(m === 1, lit("cafe\u0301"))
          .when(m === 2, lit("caf\u00e9"))
          .when(m === 3, lit("\uff41\uff42\uff43"))
          .when(m === 4, lit("\ufb01le"))
          .when(m === 5, lit("A\u030angstro\u0308m"))
          .otherwise(lit("cafe"))
        val str = concat(substring(col("text"), 1, 12), lit(" "), suffix)
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), str.as("s"))
          .select(col("doc_id"),
            length(col("s")).cast("int").as("raw_len"),
            length(nfc(col("s"))).cast("int").as("nfc_len"),
            (col("s") =!= nfc(col("s"))).as("nfc_changed"),
            md5(nfc(col("s"))).as("nfc_md5"),
            md5(nfkc(col("s"))).as("nfkc_md5"),
            md5(TextOps.normalizeText(col("s"))).as("norm_key"))
          .orderBy("doc_id")
      },
      Some("""WITH f AS (SELECT doc_id, substr(text, 1, 12) || ' ' ||
        |  CASE doc_id % 6
        |    WHEN 1 THEN 'cafe' || chr(769)
        |    WHEN 2 THEN 'caf' || chr(233)
        |    WHEN 3 THEN chr(65345) || chr(65346) || chr(65347)
        |    WHEN 4 THEN chr(64257) || 'le'
        |    WHEN 5 THEN 'A' || chr(778) || 'ngstro' || chr(776) || 'm'
        |    ELSE 'cafe' END AS s,
        |  substr(text, 1, 12) || ' ' ||
        |  CASE doc_id % 6
        |    WHEN 1 THEN 'caf' || chr(233)
        |    WHEN 2 THEN 'caf' || chr(233)
        |    WHEN 3 THEN 'abc'
        |    WHEN 4 THEN 'file'
        |    WHEN 5 THEN chr(197) || 'ngstr' || chr(246) || 'm'
        |    ELSE 'cafe' END AS nfkc_expected
        |  FROM documents),
        |n AS (SELECT doc_id, s, nfkc_expected, nfc_normalize(s) AS nfc FROM f)
        |SELECT doc_id,
        |  CAST(length(s) AS INT) AS raw_len,
        |  CAST(length(nfc) AS INT) AS nfc_len,
        |  s <> nfc AS nfc_changed,
        |  md5(nfc) AS nfc_md5,
        |  md5(nfkc_expected) AS nfkc_md5,
        |  md5(trim(regexp_replace(lower(nfc), '[^a-z0-9]+', ' ', 'g')))
        |    AS norm_key
        |FROM n ORDER BY doc_id""".stripMargin)),

    Q("q_fix_encoding",  // mojibake (cp1252-in-UTF-8 double encoding)
      // detection + repair (VERDICT r15 #4), the codegen expression
      // functions.Mojibake now wired ahead of NFC in normalizeText's
      // pipeline position. The ASCII corpus can't carry mojibake, so
      // (house fixture pattern, q_url_canon / q_normalize_unicode)
      // clean accented/CJK phrases and their double-encoded forms are
      // literal arrays indexed by doc_id arithmetic — the corrupt
      // side only exists in the Spark plan; DuckDB asserts the
      // repaired VALUE equals the clean literal it rebuilds from the
      // same codepoints. detected gates isMojibake (true iff repair
      // changes the text — false on the pure-ASCII variant), noop_clean
      // proves already-clean text (accents, CJK — the strict-decode
      // rejection paths) is untouched, keys_unify proves the dedup
      // match-key ladder (repair -> stripDiacritics -> normalizeText
      // -> md5) now unifies the corrupt copy with its clean original.
      // Pure map-side projection — zero shuffle.
      (s, dir) => {
        val cleanArr = array(Seq("plain ascii row", "caf\u00e9 au lait", "na\u00efve d\u00e9j\u00e0 vu", "\u00fcber stra\u00dfe", "\u20ac100 \u2022 z\u00fcrich \u2013 hei\u00df", "\u65e5\u672c\u8a9e \u30c6\u30ad\u30b9\u30c8").map(lit): _*)
        val corruptArr = array(Seq("plain ascii row", "caf\u00c3\u00a9 au lait", "na\u00c3\u00afve d\u00c3\u00a9j\u00c3\u00a0 vu", "\u00c3\u00bcber stra\u00c3\u0178e", "\u00e2\u201a\u00ac100 \u00e2\u20ac\u00a2 z\u00c3\u00bcrich \u00e2\u20ac\u201c hei\u00c3\u0178", "\u00e6\u2014\u00a5\u00e6\u0153\u00ac\u00e8\u00aa\u017e \u00e3\u0192\u2020\u00e3\u201a\u00ad\u00e3\u201a\u00b9\u00e3\u0192\u02c6").map(lit): _*)
        val m = (col("doc_id") % 6).cast("int")
        def key(c: org.apache.spark.sql.Column) =
          md5(TextOps.normalizeText(TextOps.stripDiacritics(c)))
        Tables.table(s, dir, "documents")
          .select(col("doc_id"),
            element_at(cleanArr, m + 1).as("clean"),
            element_at(corruptArr, m + 1).as("corrupt"))
          .select(col("doc_id"),
            graft.functions.Mojibake.fixEncoding(col("corrupt")).as("fixed"),
            graft.functions.Mojibake.isMojibake(col("corrupt")).as("detected"),
            (graft.functions.Mojibake.fixEncoding(col("clean"))
              <=> col("clean")).as("noop_clean"),
            (key(graft.functions.Mojibake.fixEncoding(col("corrupt")))
              === key(col("clean"))).as("keys_unify"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'plain ascii row'
        |    WHEN 1 THEN 'caf' || chr(233) || ' au lait'
        |    WHEN 2 THEN 'na' || chr(239) || 've d' || chr(233) || 'j' || chr(224) || ' vu'
        |    WHEN 3 THEN chr(252) || 'ber stra' || chr(223) || 'e'
        |    WHEN 4 THEN chr(8364) || '100 ' || chr(8226) || ' z' || chr(252) || 'rich ' || chr(8211) || ' hei' || chr(223)
        |    WHEN 5 THEN chr(26085) || chr(26412) || chr(35486) || ' ' || chr(12486) || chr(12461) || chr(12473) || chr(12488)
        |    END AS fixed,
        |  doc_id % 6 <> 0 AS detected,
        |  TRUE AS noop_clean, TRUE AS keys_unify
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("q_cjk_segment",  // whitespace-free-script segmentation
      // fallback (VERDICT r14 missing #2): the sklearn \\w\\w+ pattern
      // is ASCII, so CJK runs are INVISIBLE to tokenize() and
      // lang-ID/dedup silently degrade on CJK documents. The corpus
      // is pure ASCII, so (house fixture pattern, q_url_canon) a CJK
      // tail — han-only / kana-bearing / hangul phrases, built from
      // codepoints both engines assemble identically — is appended
      // per doc_id arithmetic, with a long or short ASCII prefix so
      // both the 'mixed' and 'cjk'-dominant script classes are
      // exercised. The OPERATORS under test are the real map-side
      // path: cjkRuns/cjkCharBigrams (overlapping char bigrams, the
      // CJKAnalyzer convention; 1-char runs survive as singletons),
      // tokenizeMixed (word tokens ++ bigrams — what shingle dedup
      // consumes, graded via toks_md5), and langIdMixed (kana→ja,
      // hangul→ko, han→zh sub-script presence routing in front of the
      // ASCII marker scan). Zero shuffle beyond the output sort.
      (s, dir) => {
        val m = col("doc_id") % 4
        val suffix = when(m === 1, lit(" \u4f60\u597d\u4e16\u754c\u4e2d\u6587"))
          .when(m === 2, lit(" \u65e5\u672c\u8a9e\u306e\u30c6\u30b9\u30c8"))
          .when(m === 3, lit(" \ud55c\uad6d\uc5b4\ubb38\uc11c"))
          .otherwise(lit(""))
        val plen = when(col("doc_id") % 8 < 4, lit(24)).otherwise(lit(2))
        val str = concat(col("text").substr(lit(1), plen), suffix)
        val nCjk = length(regexp_replace(col("s"),
          "[^" + TextOps.CjkClass + "]+", ""))
        val nNs = length(regexp_replace(col("s"), "\\s+", ""))
        // floor-1 denominator: an all-whitespace fixture would divide
        // by zero, where Spark yields NULL but DuckDB yields NaN --
        // unreachable on this corpus, guarded anyway (review r15)
        val frac = nCjk / greatest(nNs, lit(1)).cast("double")
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), str.as("s"))
          .select(col("doc_id"),
            nCjk.cast("int").as("n_cjk"),
            round(frac, 6).as("cjk_frac"),
            when(frac > 0.5, lit("cjk")).when(nCjk > 0, lit("mixed"))
              .otherwise(lit("latin")).as("script"),
            TextStats.langIdMixed(col("s")).as("lang2"),
            size(TextOps.tokenize(col("s"))).cast("int").as("n_word"),
            size(TextOps.cjkCharBigrams(col("s"))).cast("int").as("n_bigram"),
            md5(array_join(TextOps.tokenizeMixed(col("s")), "|")).as("toks_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH f AS (SELECT doc_id,
        |  substr(text, 1, CASE WHEN doc_id % 8 < 4 THEN 24 ELSE 2 END) ||
        |  CASE doc_id % 4
        |    WHEN 1 THEN ' ' || chr(20320) || chr(22909) || chr(19990) || chr(30028) || chr(20013) || chr(25991)
        |    WHEN 2 THEN ' ' || chr(26085) || chr(26412) || chr(35486) || chr(12398) || chr(12486) || chr(12473) || chr(12488)
        |    WHEN 3 THEN ' ' || chr(54620) || chr(44397) || chr(50612) || chr(47928) || chr(49436)
        |    ELSE '' END AS s FROM documents),
        |c AS (SELECT doc_id, s,
        |  length(regexp_replace(s, '[^\x{3040}-\x{30ff}\x{4e00}-\x{9fff}\x{ac00}-\x{d7af}]+', '', 'g')) AS n_cjk,
        |  length(regexp_replace(s, '\s+', '', 'g')) AS n_ns,
        |  length(regexp_replace(s, '[^\x{3040}-\x{30ff}]+', '', 'g')) AS n_kana,
        |  length(regexp_replace(s, '[^\x{ac00}-\x{d7af}]+', '', 'g')) AS n_hang,
        |  length(regexp_replace(s, '[^\x{4e00}-\x{9fff}]+', '', 'g')) AS n_han,
        |  regexp_extract_all(lower(s), '\b\w\w+\b') AS toks,
        |  regexp_extract_all(s, '[\x{3040}-\x{30ff}\x{4e00}-\x{9fff}\x{ac00}-\x{d7af}]+') AS runs
        |  FROM f),
        |b AS (SELECT *, flatten(list_transform(runs, r ->
        |    CASE WHEN length(r) >= 2
        |      THEN list_transform(range(1, length(r)),
        |             i -> substr(r, CAST(i AS INT), 2))
        |      ELSE [r] END)) AS bigrams,
        |  len(list_filter(toks, x -> x IN ('the','and','is','of','to','in'))) AS s_en,
        |  len(list_filter(toks, x -> x IN ('le','la','les','et','de','un'))) AS s_fr,
        |  len(list_filter(toks, x -> x IN ('el','los','las','es','de','un'))) AS s_es,
        |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein'))) AS s_de
        |  FROM c)
        |SELECT doc_id, CAST(n_cjk AS INT) AS n_cjk,
        |  round(n_cjk / CAST(greatest(n_ns, 1) AS DOUBLE), 6) AS cjk_frac,
        |  CASE WHEN n_cjk / CAST(greatest(n_ns, 1) AS DOUBLE) > 0.5 THEN 'cjk'
        |       WHEN n_cjk > 0 THEN 'mixed' ELSE 'latin' END AS script,
        |  CASE WHEN n_kana > 0 THEN 'ja' WHEN n_hang > 0 THEN 'ko'
        |       WHEN n_han > 0 THEN 'zh'
        |       WHEN greatest(s_en, s_fr, s_es, s_de) <= 0 THEN 'und'
        |       WHEN s_en = greatest(s_en, s_fr, s_es, s_de) THEN 'en'
        |       WHEN s_fr = greatest(s_en, s_fr, s_es, s_de) THEN 'fr'
        |       WHEN s_es = greatest(s_en, s_fr, s_es, s_de) THEN 'es'
        |       WHEN s_de = greatest(s_en, s_fr, s_es, s_de) THEN 'de'
        |       ELSE 'und' END AS lang2,
        |  CAST(len(toks) AS INT) AS n_word,
        |  CAST(len(bigrams) AS INT) AS n_bigram,
        |  md5(COALESCE(array_to_string(toks || bigrams, '|'), '')) AS toks_md5
        |FROM b ORDER BY doc_id""".stripMargin)),

    Q("q_pii_cards",  // checksum-validated PII: payment-card detection
      // = 13–19 digit runs gated by the Luhn checksum (drops the ~90%
      // of random digit runs that would otherwise be eaten as "cards"),
      // IPv4 detection = dotted-quad shape gated by the 0–255 octet
      // range; only VALIDATED matches are redacted. The corpus has no
      // digit runs, so card/IP/decoy fixtures are synthesized per doc
      // from doc_id arithmetic (house fixture pattern, q_url_canon);
      // the operators under test (cardCandidates/luhnOk/ipv4Candidates/
      // ipv4Valid/redactAll) are the real map-side pass — zero shuffle.
      // Luhn is implemented as identical digit arithmetic on BOTH
      // engines; parity with Spark's builtin luhn_check is a spec.
      (s, dir) => {
        val card1 = lpad(((col("doc_id") * 7919L + 12345L) * 104729L
          % 10000000000000000L).cast("string"), 16, "0")
        val card2 = lpad(((col("doc_id") * 31L + 7L) * 86243L
          % 10000000000000000L).cast("string"), 16, "0")
        val ip = concat_ws(".",
          (col("doc_id") % 300).cast("string"),
          (col("doc_id") % 256).cast("string"),
          (col("doc_id") * 3 % 300).cast("string"),
          (col("doc_id") * 7 % 256).cast("string"))
        val ctext = concat(
          lit("order "), card1, lit(" ref 123456789012 from host "), ip,
          when(col("doc_id") % 5 === 0, concat(lit(" alt "), card2))
            .otherwise(lit("")),
          lit(" confirmed"))
        val cards = TextOps.cardCandidates(col("ctext"))
        val ips = TextOps.ipv4Candidates(col("ctext"))
        val vcards = filter(cards, TextOps.luhnOk _)
        val vips = filter(ips, TextOps.ipv4Valid _)
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), ctext.as("ctext"))
          .select(col("doc_id"),
            size(cards).as("n_cards"),
            size(vcards).as("n_valid_cards"),
            size(ips).as("n_ips"),
            size(vips).as("n_valid_ips"),
            md5(TextOps.redactAll(
              TextOps.redactAll(col("ctext"), vcards, "<CARD>"),
              vips, "<IP>")).as("redacted_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH c AS (SELECT doc_id, 'order '
        |  || lpad(CAST((doc_id * 7919 + 12345) * 104729
        |       % 10000000000000000 AS VARCHAR), 16, '0')
        |  || ' ref 123456789012 from host '
        |  || CAST(doc_id % 300 AS VARCHAR) || '.'
        |  || CAST(doc_id % 256 AS VARCHAR) || '.'
        |  || CAST(doc_id * 3 % 300 AS VARCHAR) || '.'
        |  || CAST(doc_id * 7 % 256 AS VARCHAR)
        |  || CASE WHEN doc_id % 5 = 0 THEN ' alt '
        |       || lpad(CAST((doc_id * 31 + 7) * 86243
        |            % 10000000000000000 AS VARCHAR), 16, '0') ELSE '' END
        |  || ' confirmed' AS ctext FROM documents),
        |e AS (SELECT doc_id, ctext,
        |  regexp_extract_all(ctext, '\b\d{13,19}\b') AS cards,
        |  regexp_extract_all(ctext,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b') AS ips FROM c),
        |v AS (SELECT doc_id, ctext, cards, ips,
        |  list_filter(cards, s -> length(s) > 0 AND
        |    list_sum(list_transform(range(1, length(s) + 1), i ->
        |      CASE WHEN (CASE WHEN (length(s) - i) % 2 = 1
        |             THEN 2 * CAST(s[i] AS INT) ELSE CAST(s[i] AS INT) END) > 9
        |        THEN (CASE WHEN (length(s) - i) % 2 = 1
        |             THEN 2 * CAST(s[i] AS INT) ELSE CAST(s[i] AS INT) END) - 9
        |        ELSE (CASE WHEN (length(s) - i) % 2 = 1
        |             THEN 2 * CAST(s[i] AS INT) ELSE CAST(s[i] AS INT) END)
        |      END)) % 10 = 0) AS vcards,
        |  list_filter(ips, x -> len(list_filter(string_split(x, '.'),
        |    o -> CAST(o AS INT) > 255)) = 0) AS vips
        |  FROM e)
        |SELECT doc_id, CAST(len(cards) AS INT) AS n_cards,
        |  CAST(len(vcards) AS INT) AS n_valid_cards,
        |  CAST(len(ips) AS INT) AS n_ips,
        |  CAST(len(vips) AS INT) AS n_valid_ips,
        |  md5(list_reduce(list_prepend(
        |        list_reduce(list_prepend(ctext, vcards),
        |          (acc, m) -> regexp_replace(acc, '\b' ||
        |            regexp_replace(m, '([^0-9A-Za-z])', '\\\1', 'g')
        |            || '\b', '<CARD>', 'g')),
        |        vips), (acc, m) -> regexp_replace(acc, '\b' ||
        |          regexp_replace(m, '([^0-9A-Za-z])', '\\\1', 'g')
        |          || '\b', '<IP>', 'g'))) AS redacted_md5
        |FROM v ORDER BY doc_id""".stripMargin)),

    Q("q_triangles",  // per-node triangle counts + local clustering
      // coefficient (edge-iterator enumeration, Schank & Wagner 2005)
      // over the SAME memoized cell-routed 5-NN graph as q_pagerank /
      // q_label_prop — the triangle-closure density signal that
      // separates template/spam clusters (high LCC) from organic
      // neighborhoods. a<b<c orientation counts each triangle once;
      // with degree bounded by k the wedge set is O(n·k²) and both
      // joins are shuffle hash joins — no cartesian at any corpus size.
      (s, dir) => {
        val edges = Similarity.knnSelfJoin(
            Tables.table(s, dir, "embeddings"), "vec_id", "embedding",
            fixedCentroidArr(s, dir), k = 5, nprobe = 5)
          .select(col("qid").as("src"), col("nbr").as("dst"))
        GraphOps.triangleStats(edges, "src", "dst").orderBy("id")
      },
      Some(s"""WITH $SqlCellEdges,
        |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
        |        greatest(src, dst) AS b FROM g WHERE src <> dst),
        |deg AS (SELECT id, count(*) AS degree FROM
        |          (SELECT a AS id FROM und UNION ALL SELECT b FROM und)
        |        GROUP BY 1),
        |tr AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM und e1
        |       JOIN und e2 ON e2.a = e1.b
        |       JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |pn AS (SELECT id, count(*) AS tri FROM
        |         (SELECT x AS id FROM tr UNION ALL SELECT y FROM tr
        |          UNION ALL SELECT z FROM tr) GROUP BY 1)
        |SELECT deg.id, CAST(degree AS BIGINT) AS degree,
        |  CAST(COALESCE(tri, 0) AS BIGINT) AS tri,
        |  CASE WHEN degree < 2 THEN 0.0
        |    ELSE round(2.0 * COALESCE(tri, 0) / (degree * (degree - 1)), 6)
        |  END AS lcc
        |FROM deg LEFT JOIN pn ON pn.id = deg.id ORDER BY deg.id""".stripMargin)),

    Q("q_kcore",  // fixed-iteration k-core peel (Seidman 1983 /
      // Batagelj & Zaveršnik 2003) at k=6 over the same memoized
      // cell-routed 5-NN graph: drop nodes with degree < 6, induce the
      // surviving subgraph, keep survivors whose residual degree still
      // clears 6 (k=6/one round because the union-direction 5-NN graph
      // has min degree 5 — lower k peels nothing, and the 6-core
      // proper is empty here: kd2 sweeps to 0 at every SF). Fixed
      // rounds = closed-form of the graph (the PageRank unroll device;
      // DuckDB replays the identical rounds); production wraps the
      // round in the CC-style driver-convergence loop. O(edges)
      // shuffle per round — groupBy degree + two semi-joins.
      (s, dir) => {
        val edges = Similarity.knnSelfJoin(
            Tables.table(s, dir, "embeddings"), "vec_id", "embedding",
            fixedCentroidArr(s, dir), k = 5, nprobe = 5)
          .select(col("qid").as("src"), col("nbr").as("dst"))
        GraphOps.kcorePeel(edges, "src", "dst", k = 6, iters = 1)
          .orderBy("id")
      },
      Some(s"""WITH $SqlCellEdges,
        |ke0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
        |          greatest(src, dst) AS b FROM g WHERE src <> dst),
        |kd0 AS (SELECT id, count(*) AS degree FROM
        |          (SELECT a AS id FROM ke0 UNION ALL SELECT b FROM ke0)
        |        GROUP BY 1),
        |ka1 AS MATERIALIZED (SELECT id FROM kd0 WHERE degree >= 6),
        |ke1 AS MATERIALIZED (SELECT ke0.a, ke0.b FROM ke0
        |        JOIN ka1 x ON x.id = ke0.a JOIN ka1 y ON y.id = ke0.b),
        |kd1 AS (SELECT id, count(*) AS degree FROM
        |          (SELECT a AS id FROM ke1 UNION ALL SELECT b FROM ke1)
        |        GROUP BY 1)
        |SELECT id, CAST(degree AS BIGINT) AS degree FROM kd1
        |WHERE degree >= 6 ORDER BY id""".stripMargin)),

    Q("q_countmin_topk",  // count-min sketch heavy hitters (Cormode &
      // Muthukrishnan 2005): the bounded-state frequency summary —
      // d=3 rows x m=1024 cells of counts regardless of vocabulary,
      // cell-wise-additive (partial aggs), estimate = min over a
      // token's 3 cells, overestimate-only. Unlike HLL/t-digest the
      // hash family is the engine's md5-u32 portable device, so the
      // ENTIRE sketch value-oracles: DuckDB rebuilds the same cells
      // and the same minima integer-for-integer. The query grades the
      // top-20 exact heavy hitters' estimates next to their exact
      // counts (est_cnt >= exact_cnt by construction; err is the
      // collision overhang the m=1024 table absorbs). Scale: the
      // exact side shuffles the vocabulary; the sketch shuffles
      // m*d = 3072 cells and is broadcast for probing.
      (s, dir) => {
        val toks = docsTokens(s, dir).select(explode(col("toks")).as("w"))
        val exact = toks.groupBy("w").agg(count(lit(1)).as("exact_cnt"))
        val top = exact.orderBy(col("exact_cnt").desc, col("w")).limit(20)
        val sk = CountMin.sketch(toks, "w")
        CountMin.estimate(top, "w", sk)
          .join(top, Seq("w"))
          .select(col("w"), col("exact_cnt"), col("est").as("est_cnt"),
            (col("est") - col("exact_cnt")).as("err"))
          .orderBy(col("exact_cnt").desc, col("w"))
      },
      Some(CmTopkOracleSql)),

    Q("q_stream_countmin",  // streaming twin of q_countmin_topk: the
      // sketch is cell-wise additive, so the stream maintains it as
      // VERSIONED running state in foreachBatch — v_bid = v_{bid-1} +
      // this batch's cells, overwrite-by-version making the
      // at-least-once retry exactly-once effective
      // (StreamOps.countMinBatch). The corpus is staged as 4 files
      // with maxFilesPerTrigger=1, so the state genuinely accumulates
      // across 4 micro-batches; additivity makes the final version's
      // cells the EXACT longs the batch sketch computes over the
      // union, so the same DuckDB oracle grades the stream state
      // directly — estimates probed from streamed state, top-20 from
      // the static corpus.
      (s, dir) => {
        val state = Scratch.dir("stream-cm-state")
        val cp = Scratch.dir("stream-cm-cp")
        // staged once per JVM and shared with the other 4-batch twins
        // (r17): state/checkpoint dirs above stay per-invocation
        val srcDir = QShared.streamDocSrc4(s, dir)
        val schema = Tables.table(s, dir, "documents").schema
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir)
        val toks = stream.select(
          TextOps.tokenizeFiltered(col("text"), Stop, Nil).as("toks"))
        toks.writeStream
          .foreachBatch { (b: DataFrame, bid: Long) =>
            graft.streaming.StreamOps.countMinBatch(b, "toks", state, bid)
          }
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        // list versions through the path's own FileSystem — the same
        // contract countMinBatch holds for writing them (a
        // java.io.File listing is driver-local-only; review r17)
        val statePath = new org.apache.hadoop.fs.Path(state)
        val stateFs = statePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        val lastBid =
          graft.streaming.StreamOps.listVersions(stateFs, statePath).max
        val sk = s.read.parquet(s"$state/v_$lastBid")
        val toksB = docsTokens(s, dir).select(explode(col("toks")).as("w"))
        val exact = toksB.groupBy("w").agg(count(lit(1)).as("exact_cnt"))
        val top = exact.orderBy(col("exact_cnt").desc, col("w")).limit(20)
        CountMin.estimate(top, "w", sk)
          .join(top, Seq("w"))
          .select(col("w"), col("exact_cnt"), col("est").as("est_cnt"),
            (col("est") - col("exact_cnt")).as("err"))
          .orderBy(col("exact_cnt").desc, col("w"))
      },
      Some(CmTopkOracleSql), iterative = true),

    Q("q_kcore_converged",  // the PRODUCTION fixpoint k-core, gated
      // (VERDICT r15 #6: kcorePeelConverged was spec-swept but the
      // gated q_kcore ran the fixed-round peel): a co-purchase graph —
      // parts sharing an order, the projection every market-basket
      // pipeline builds — has the heavy-tailed degrees a non-trivial
      // core needs (the 5-NN embedding graph collapses to empty above
      // its min degree at every SF; measured r16). k = 68 was chosen
      // by measuring convergence on the gated graphs: cores of
      // 176/1980/19750 nodes after 5/1/2 peel rounds at
      // sf0.001/0.01/0.1. The oracle is GENERATED at 7 unrolled
      // rounds (measured max + 2; the PageRank/Platt unroll device) —
      // peeling a converged core is idempotent, so the margin rounds
      // are no-ops in SQL while the Spark side runs the real
      // driver-convergence loop; an undershooting loop or a wrong
      // fixpoint hash-mismatches. Scale: the projection shuffles on
      // the order key and emits C(items,2) per order (bounded by
      // order size); each peel round is O(edges) — degree groupBy +
      // two semi-joins — and the convergence check is a 1-row agg.
      (s, dir) => {
        val li = Tables.table(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val edges = li.as("x").join(li.as("y"),
            col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
          .select(col("x.pk").as("src"), col("y.pk").as("dst"))
        GraphOps.kcorePeelConverged(edges, "src", "dst", k = 68)
          .select(col("id"), col("degree").cast("long").as("degree"))
          .orderBy("id")
      },
      Some(kcoreConvergedOracleSql(k = 68, rounds = 7)), iterative = true),

    Q("q_nb_auc",  // threshold-free grade of the TRAINED NB classifier
      // (q_nb_quality) against its own training labels: tie-averaged
      // Mann–Whitney ROC-AUC in exact integer arithmetic (the
      // q_lang_auc device). The logit is already an exact integer/1e9
      // on both engines (the fixed-point accumulation), so the
      // group-by-score boundary is engine-independent with no extra
      // rounding. The 3-SF sweep asserts AUC > 0.9; this row makes the
      // number itself oracle-verified.
      (s, dir) => {
        val lab = Tables.table(s, dir, "documents")
          .select(col("doc_id"), TextOps.tokenize(col("text")).as("toks"))
          .withColumn("y", TextStats.qualityScore(col("toks"), Stop) >= 0.62)
        TextStats.rocAuc(
          TextStats.nbTrainScore(lab, "doc_id", "toks", "y", maxVocab = 20), "nb_logit", "y")
      },
      Some(s"""WITH t AS (SELECT doc_id,
        |        regexp_extract_all(lower(text), '\\b\\w\\w+\\b') AS toks FROM documents),
        |ld AS (SELECT doc_id, toks, ($SqlQuality) >= 0.62 AS y FROM t),
        |f AS (SELECT doc_id, y, unnest(list_distinct(toks)) AS w FROM ld),
        |cnt AS (SELECT w, sum(CASE WHEN y THEN 1 ELSE 0 END) AS c1,
        |          sum(CASE WHEN y THEN 0 ELSE 1 END) AS c0 FROM f GROUP BY 1
        |        QUALIFY row_number() OVER (ORDER BY (c1 + c0) DESC, w) <= 20),
        |nn AS (SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS n1,
        |         sum(CASE WHEN y THEN 0 ELSE 1 END) AS n0 FROM ld),
        |model AS (SELECT w, CAST(round((ln((c1 + 1.0) / (n1 + 2.0))
        |            - ln((c0 + 1.0) / (n0 + 2.0))) * 1e9) AS BIGINT) AS lo9
        |          FROM cnt CROSS JOIN nn),
        |pr AS (SELECT CAST(round(ln((n1 + 1.0) / (n0 + 1.0)) * 1e9) AS BIGINT)
        |         AS prior9 FROM nn),
        |slo AS (SELECT doc_id, sum(lo9) AS slo9
        |        FROM f JOIN model USING (w) GROUP BY 1),
        |sc AS (SELECT (pr.prior9 + COALESCE(slo.slo9, 0)) / 1e9 AS s, ld.y
        |       FROM ld CROSS JOIN pr
        |       LEFT JOIN slo ON slo.doc_id = ld.doc_id),
        |g AS (SELECT s, count(*) AS nt,
        |        sum(CASE WHEN y THEN 1 ELSE 0 END) AS np FROM sc GROUP BY 1),
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

    Q("q_gauss_release",  // (ε, δ)-DP GAUSSIAN release — the second
      // mechanism of the Privacy module (q_dp_budget covers Laplace):
      // per-source counts + N(0, σ²) noise with σ calibrated by
      // Privacy.gaussianSigma (Dwork & Roth Thm A.1, ε=0.5, δ=1e-5,
      // counting ⇒ Δ2=1), sampled as Φ⁻¹(u) of the keyed-hash uniform
      // via the Moro inverse-CDF polynomial — EXPLICIT Horner order on
      // both engines, so the whole release value-oracles (σ 9-dp
      // chain-rounded before the multiply; the calibration formula is
      // replayed in the oracle SQL, not pasted).
      (s, dir) => {
        val sigma = BigDecimal(Privacy.gaussianSigma(0.5, 1e-5))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        Tables.table(s, dir, "documents")
          .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
          .select(col("source"),
            round(col("n_docs")
              + Privacy.gaussianNoise(col("source"), sigma, "gm1"), 6)
              .as("noisy"),
            lit(sigma).as("sigma"))
          .orderBy("source")
      },
      Some("""WITH c AS (SELECT source, count(*) AS n_docs
        |        FROM documents GROUP BY source),
        |s AS (SELECT round(sqrt(2.0 * ln(1.25 / CAST(0.00001 AS DOUBLE)))
        |        / 0.5, 9) AS sigma),
        |u AS (SELECT source, n_docs,
        |  (CAST(('0x' || substr(md5(source || '|gm1'), 1, 8)) AS BIGINT) + 0.5)
        |    / 4294967296.0 AS u
        | FROM c),
        |z AS (SELECT source, n_docs, u, u - 0.5 AS x,
        |        (u - 0.5) * (u - 0.5) AS r,
        |        ln(-ln(CASE WHEN u - 0.5 > 0 THEN 1.0 - u ELSE u END)) AS kk
        |      FROM u),
        |iv AS (SELECT source, n_docs,
        |  CASE WHEN abs(x) < 0.42 THEN
        |    x * ((((-25.44106049637 * r + 41.39119773534) * r
        |           + (-18.61500062529)) * r + 2.50662823884)
        |      / ((((3.13082909833 * r + (-21.06224101826)) * r
        |           + 23.08336743743) * r + (-8.47351093090)) * r + 1.0))
        |  ELSE (CASE WHEN x > 0 THEN 1.0 ELSE -1.0 END) *
        |    ((((((((0.0000003960315187 * kk + 0.0000002888167364) * kk
        |      + 0.0000321767881768) * kk + 0.0003951896511919) * kk
        |      + 0.0038405729373609) * kk + 0.0276438810333863) * kk
        |      + 0.1607979714918209) * kk + 0.9761690190917186) * kk
        |      + 0.3374754822726147)
        |  END AS z
        |  FROM z)
        |SELECT source, round(n_docs + s.sigma * z, 6) + 0.0 AS noisy,
        |  s.sigma AS sigma
        |FROM iv CROSS JOIN s ORDER BY source""".stripMargin)),

    Q("q_stream_nb",  // streaming twin of q_nb_quality: the TRAINED
      // Naive-Bayes scorer applied statelessly to arriving documents —
      // model learned once on the static corpus and MATERIALIZED as a
      // (w, lo9) parquet relation + 1-row prior (nothing collected to
      // the driver — ADVICE r14: the map-literal form embedded the
      // vocabulary in the plan, growing with the corpus under Heaps'
      // law), then broadcast-joined per micro-batch through the
      // foreachBatch kernel with the SAME 1e-9 fixed-point integer
      // accumulation, so stream scores are bit-identical to batch and
      // the q_nb_quality ORACLE grades the stream sink directly.
      // FileStreamSource → parquet sink (AvailableNow), read back.
      (s, dir) => {
        val lab = Tables.table(s, dir, "documents")
          .select(col("doc_id"), TextOps.tokenize(col("text")).as("toks"))
          .withColumn("y", TextStats.qualityScore(col("toks"), Stop) >= 0.62)
        // train once, persist the model as data (not plan): each
        // micro-batch reads the artifact instead of re-deriving the
        // training sub-plan
        val modelDir = Scratch.dir("stream-nb-model")
        val priorDir = Scratch.dir("stream-nb-prior")
        TextStats.nbLogOdds9(lab, "doc_id", "toks", "y", maxVocab = 20)
          .write.mode("overwrite").parquet(modelDir)
        TextStats.nbPrior9(lab, "y").write.mode("overwrite").parquet(priorDir)
        val model = s.read.parquet(modelDir)
        val prior = s.read.parquet(priorDir)
        val out = Scratch.dir("stream-nb-out")
        val cp = Scratch.dir("stream-nb-cp")
        val schema = Tables.table(s, dir, "documents").schema
        val src = new java.io.File(s"$dir/documents.parquet")
        val streamDir =
          if (src.isDirectory) src.toString
          else {
            val d = new java.io.File(Scratch.dir("stream-nb-src"))
            java.nio.file.Files.copy(src.toPath,
              new java.io.File(d, "documents.parquet").toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            d.toString
          }
        val stream = s.readStream.schema(schema).parquet(streamDir)
        val toks = stream.select(col("doc_id"),
          TextOps.tokenize(col("text")).as("toks"))
        toks.writeStream
          .foreachBatch { (b: DataFrame, bid: Long) =>
            // idempotent per-batch sink: foreachBatch is at-least-once,
            // so a retried/restarted batch must not append a second
            // copy — OVERWRITING the batch's own directory (the
            // standard overwrite-by-batchId recipe) restores effective
            // exactly-once for the read-back gate
            graft.streaming.StreamOps
              .nbScoreBatch(b, "doc_id", "toks", model, prior)
              .write.mode("overwrite").parquet(s"$out/batch_$bid")
          }
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        s.read.parquet(s"$out/batch_*")
          .select(col("doc_id"), round(col("nb_logit"), 6).as("nb_logit"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id,
        |        regexp_extract_all(lower(text), '\\b\\w\\w+\\b') AS toks FROM documents),
        |ld AS (SELECT doc_id, toks, ($SqlQuality) >= 0.62 AS y FROM t),
        |f AS (SELECT doc_id, y, unnest(list_distinct(toks)) AS w FROM ld),
        |cnt AS (SELECT w, sum(CASE WHEN y THEN 1 ELSE 0 END) AS c1,
        |          sum(CASE WHEN y THEN 0 ELSE 1 END) AS c0 FROM f GROUP BY 1
        |        QUALIFY row_number() OVER (ORDER BY (c1 + c0) DESC, w) <= 20),
        |nn AS (SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS n1,
        |         sum(CASE WHEN y THEN 0 ELSE 1 END) AS n0 FROM ld),
        |model AS (SELECT w, CAST(round((ln((c1 + 1.0) / (n1 + 2.0))
        |            - ln((c0 + 1.0) / (n0 + 2.0))) * 1e9) AS BIGINT) AS lo9
        |          FROM cnt CROSS JOIN nn),
        |pr AS (SELECT CAST(round(ln((n1 + 1.0) / (n0 + 1.0)) * 1e9) AS BIGINT)
        |         AS prior9 FROM nn),
        |slo AS (SELECT doc_id, sum(lo9) AS slo9
        |        FROM f JOIN model USING (w) GROUP BY 1)
        |SELECT ld.doc_id,
        |  round((pr.prior9 + COALESCE(slo.slo9, 0)) / 1e9, 6) AS nb_logit
        |FROM ld CROSS JOIN pr LEFT JOIN slo ON slo.doc_id = ld.doc_id
        |ORDER BY ld.doc_id""".stripMargin)),

    Q("q_nb_platt",  // Platt-scaled NB probabilities + reliability
      // bins (VERDICT r14 #7): the trained classifier's logit becomes
      // a PROBABILITY via the 2-parameter logistic fit of Platt 1999
      // (regularized targets (N+ +1)/(N+ +2), 1/(N- +2)), fitted by 8
      // fixed Newton rounds — a driver-convergence loop whose five
      // sufficient statistics per round are 1e-9 fixed-point longs
      // and whose (a, b) re-round to 9 dp per step, so the DuckDB
      // oracle replays the identical iteration on bitwise-identical
      // doubles (generated round-for-round by plattOracleSql). Output
      // is the reliability table every calibration consumer reads —
      // decile bins of calibrated p with count, mean p (exact
      // fixed-point mean) and empirical positive rate — plus the
      // fitted (a, b).
      (s, dir) => {
        val lab = Tables.table(s, dir, "documents")
          .select(col("doc_id"), TextOps.tokenize(col("text")).as("toks"))
          .withColumn("y", TextStats.qualityScore(col("toks"), Stop) >= 0.62)
        val scored = TextStats.nbTrainScore(lab, "doc_id", "toks", "y", maxVocab = 20)
          .select(col("nb_logit").as("s"), col("y"))
          .localCheckpoint(eager = false)
        val (a, b) = TextStats.plattFit(scored, "s", "y", iters = 8)
        val p = round(lit(1.0) / (lit(1.0)
          + exp(-(lit(a) * col("s") + lit(b)))), 9)
        scored
          .select(col("y"), p.as("p"))
          .groupBy(least(floor(col("p") * 10).cast("int"), lit(9)).as("bin"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("y"), 1L).otherwise(0L)).as("npos"),
            sum(round(col("p") * lit(1e9), 0).cast("long")).as("sp9"))
          .select(col("bin"), col("n"),
            round(col("sp9") / lit(1e9) / col("n"), 6).as("mean_p"),
            round(col("npos") / col("n").cast("double"), 6).as("frac_pos"),
            round(lit(a), 6).as("platt_a"), round(lit(b), 6).as("platt_b"))
          .orderBy("bin")
      },
      Some(plattOracleSql(8)), iterative = true),

    Q("q_zorder_value",  // the Morton key under the r15 Z-ordered
      // layout (Sinks.zOrderValue), value-oracled:
      // bit-interleaving is pure integer arithmetic, so DuckDB
      // replays the identical shift/mask terms (generated from the
      // same (cols, bits) by zOrderSqlExpr — single-sourced like the
      // Platt rounds) and the 64-point-square fixture exercises every
      // bit position. The layout/file-skipping half is measured in
      // SinksSpec (per-file min/max pruning vs a hash layout) — file
      // boundaries are not portable to an oracle, the key is.
      (s, dir) => {
        val x = (col("doc_id") % 64).cast("long")
        val y = (col("n_chars") % 64).cast("long")
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), x.as("x"), y.as("y"))
          .withColumn("z",
            sources.Sinks.zOrderValue(Seq(col("x"), col("y")), bits = 6))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, x, y, ${zOrderSqlExpr(Seq("x", "y"), 6)} AS z
        |FROM (SELECT doc_id, CAST(doc_id % 64 AS BIGINT) AS x,
        |        CAST(n_chars % 64 AS BIGINT) AS y FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    Q("q_hilbert_value",  // the Hilbert-curve key next to the Morton
      // key (the r14 verdict's "Z-order/Hilbert" layout pair):
      // Sinks.hilbertValue unrolls the classic xy2d recurrence into
      // pure shift/mask/conditional arithmetic, and the DuckDB twin
      // is GENERATED level-for-level from the same bit count
      // (hilbertOracleSql — the plattOracleSql device), so the whole
      // rotation/reflection recurrence value-oracles. The 64-point
      // square fixture exercises every level; SinksSpec proves the
      // curve property itself (consecutive indices are unit Manhattan
      // steps over the FULL grid — the locality guarantee Morton
      // lacks at quadrant boundaries).
      (s, dir) => {
        val x = (col("doc_id") % 64).cast("long")
        val y = (col("n_chars") % 64).cast("long")
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), x.as("x"), y.as("y"))
          .withColumn("h",
            sources.Sinks.hilbertValue(col("x"), col("y"), bits = 6))
          .orderBy("doc_id")
      },
      Some(hilbertOracleSql(6))),

    Q("q_hilbert3_value",  // the N-D (Skilling) Hilbert key, 3 columns
      // at 5 bits (VERDICT r15 #5: zOrderValue is N-D but Hilbert
      // locality stopped at 2-D): Sinks.hilbertValueN runs Skilling's
      // transform — inverse-undo sweep, Gray decode, parity fix,
      // MSB-first interleave — as a linear fold, and the DuckDB twin
      // is GENERATED level-for-level from the same (n, bits)
      // (hilbert3OracleSql; the hilbertOracleSql device), pure integer
      // shift/mask/xor in both engines. The 32k-point fixture drives
      // every level; SinksSpec proves bijection + unit-step adjacency
      // over the full 3-D grid and box-query file skipping >= the 3-D
      // Morton layout's.
      (s, dir) => {
        val x = (col("doc_id") % 32).cast("long")
        val y = (col("n_chars") % 32).cast("long")
        val z = (expr("doc_id div 7") % 32).cast("long")
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), x.as("x"), y.as("y"), z.as("z"))
          .withColumn("h",
            sources.Sinks.hilbertValueN(Seq(col("x"), col("y"), col("z")), bits = 5))
          .orderBy("doc_id")
      },
      Some(hilbert3OracleSql(3, 5))),

    Q("q_pii_iban",  // checksum-validated IBAN detection/redaction —
      // the international sibling of q_pii_cards: candidates are
      // ISO 13616-shaped runs (2 letters + 2 check digits + 11-30
      // alphanumerics), validated by the ISO 7064 mod-97-10 fold
      // (letters expand to two digits; the running remainder carries
      // the "thousands-digit number" without materializing it) and
      // only VALIDATED matches are redacted. Fixtures: a synthetic
      // DE-shaped IBAN per doc (~1/97 pass the checksum), the
      // textbook-valid GB82WEST... on doc_id%5=0, its last-digit
      // corruption on doc_id%3=0 (shape-valid, checksum-invalid), and
      // a lowercase decoy on doc_id%4=0 that the shape regex must NOT
      // even surface as a candidate. Both engines replay the exact
      // integer fold; zero shuffle beyond the sort.
      (s, dir) => {
        val synth = concat(lit("DE"),
          lpad(((col("doc_id") % 89) + 10).cast("string"), 2, "0"),
          lpad((col("doc_id") * 7919L % 10000000000L).cast("string"), 10, "0"),
          lit("00112233"))
        val ctext = concat(
          lit("acct "), synth,
          when(col("doc_id") % 5 === 0, lit(" pay GB82WEST12345698765432"))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0, lit(" bad GB82WEST12345698765433"))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit(" deco de89370400440532013000"))
            .otherwise(lit("")),
          lit(" end"))
        val cands = TextOps.ibanCandidates(col("ctext"))
        val valid = filter(cands, TextOps.ibanOk _)
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), ctext.as("ctext"))
          .select(col("doc_id"),
            size(cands).as("n_ibans"),
            size(valid).as("n_valid"),
            md5(TextOps.redactAll(col("ctext"), valid, "<IBAN>"))
              .as("redacted_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH c AS (SELECT doc_id, 'acct ' || 'DE'
        |    || lpad(CAST((doc_id % 89) + 10 AS VARCHAR), 2, '0')
        |    || lpad(CAST(doc_id * 7919 % 10000000000 AS VARCHAR), 10, '0')
        |    || '00112233'
        |    || CASE WHEN doc_id % 5 = 0 THEN ' pay GB82WEST12345698765432' ELSE '' END
        |    || CASE WHEN doc_id % 3 = 0 THEN ' bad GB82WEST12345698765433' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0 THEN ' deco de89370400440532013000' ELSE '' END
        |    || ' end' AS ctext FROM documents),
        |e AS (SELECT doc_id, ctext,
        |    regexp_extract_all(ctext,
        |      '\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\b') AS cands FROM c),
        |v AS (SELECT doc_id, ctext, cands,
        |    list_filter(cands, s ->
        |      list_reduce(list_prepend('0',
        |        list_transform(range(1, length(s) + 1), i ->
        |          substr(substr(s, 5) || substr(s, 1, 4), CAST(i AS INT), 1))),
        |        (acc, ch) -> CASE
        |          WHEN ch >= '0' AND ch <= '9'
        |            THEN CAST((CAST(acc AS BIGINT) * 10 + CAST(ch AS BIGINT)) % 97 AS VARCHAR)
        |          ELSE CAST((CAST(acc AS BIGINT) * 100 + ascii(ch) - 55) % 97 AS VARCHAR)
        |        END) = '1') AS valid FROM e)
        |SELECT doc_id, CAST(len(cands) AS INT) AS n_ibans,
        |  CAST(len(valid) AS INT) AS n_valid,
        |  md5(list_reduce(list_prepend(ctext, valid),
        |    (acc, m) -> regexp_replace(acc, '\b' ||
        |      regexp_replace(m, '([^0-9A-Za-z])', '\\\1', 'g')
        |      || '\b', '<IBAN>', 'g'))) AS redacted_md5
        |FROM v ORDER BY doc_id""".stripMargin)),

    Q("q_strip_accents",  // diacritic stripping (NFD + remove
      // nonspacing marks) — the match-normalization that folds
      // accented variants onto base letters; deliberately narrow:
      // compatibility forms (the fi-ligature fixture) are NFKC's job
      // and must pass through UNCHANGED. DuckDB has no NFD, so the
      // oracle grades against CLOSED-FORM expected strings per
      // fixture variant (the q_normalize_unicode NFKC device) —
      // precomposed and combining inputs must land on the SAME
      // stripped form. Zero shuffle beyond the sort.
      (s, dir) => {
        val m = col("doc_id") % 6
        val suffix = when(m === 1, lit("caf\u00e9"))
          .when(m === 2, lit("cafe\u0301"))
          .when(m === 3, lit("\u00c5ngstr\u00f6m"))
          .when(m === 4, lit("\ufb01le"))
          .when(m === 5, lit("ni\u00f1o"))
          .otherwise(lit("cafe"))
        val str = concat(substring(col("text"), 1, 12), lit(" "), suffix)
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), str.as("s"))
          .select(col("doc_id"),
            TextOps.stripDiacritics(col("s")).as("stripped"),
            (TextOps.stripDiacritics(col("s")) =!= col("s")).as("changed"),
            md5(TextOps.stripDiacritics(col("s"))).as("stripped_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH f AS (SELECT doc_id, substr(text, 1, 12) || ' ' ||
        |  CASE doc_id % 6
        |    WHEN 1 THEN 'cafe'
        |    WHEN 2 THEN 'cafe'
        |    WHEN 3 THEN 'Angstrom'
        |    WHEN 4 THEN chr(64257) || 'le'
        |    WHEN 5 THEN 'nino'
        |    ELSE 'cafe' END AS stripped,
        |  doc_id % 6 IN (1, 2, 3, 5) AS changed
        |  FROM documents)
        |SELECT doc_id, stripped, changed, md5(stripped) AS stripped_md5
        |FROM f ORDER BY doc_id""".stripMargin)),

    Q("q_dp_budget",  // ε-ACCOUNTED noisy release (the accounting layer
      // the q_dp_counts caveat lacked): per-source counts released
      // TWICE, each with Laplace(Δ1/ε) noise at ε=0.25 calibrated by
      // Privacy.laplaceScale (counting ⇒ Δ1=1), and the ledger's total
      // spend published under BOTH basic composition (Σε = 0.5) and
      // advanced composition (Dwork & Roth Cor 3.21 at δ′=1e-6 —
      // honest output: at k=2 the √k bound is WORSE than basic; the
      // crossover at large k is the PrivacySpec). Noise is the seeded
      // md5 inverse-CDF device — the salt is the mechanism's coin
      // flips — so the whole protocol value-oracles.
      (s, dir) => {
        val eps = 0.25
        val b = Privacy.laplaceScale(eps)
        val ledger = Seq(Privacy.Release(eps), Privacy.Release(eps))
        val basic = Privacy.composeBasic(ledger)
        val adv = Privacy.composeAdvanced(ledger, 1e-6)
        Tables.table(s, dir, "documents")
          .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
          .select(col("source"),
            round(col("n_docs")
              + Privacy.laplaceNoise(col("source"), b, "dpb1"), 6).as("noisy1"),
            round(col("n_docs")
              + Privacy.laplaceNoise(col("source"), b, "dpb2"), 6).as("noisy2"),
            round(lit(basic.epsilon), 6).as("eps_basic"),
            round(lit(adv.epsilon), 6).as("eps_advanced"))
          .orderBy("source")
      },
      Some("""WITH c AS (SELECT source, count(*) AS n_docs
        |        FROM documents GROUP BY source),
        |u AS (SELECT source, n_docs,
        |  (CAST(('0x' || substr(md5(source || '|dpb1'), 1, 8)) AS BIGINT) + 0.5)
        |    / 4294967296.0 - 0.5 AS u1,
        |  (CAST(('0x' || substr(md5(source || '|dpb2'), 1, 8)) AS BIGINT) + 0.5)
        |    / 4294967296.0 - 0.5 AS u2
        | FROM c)
        |SELECT source,
        |  round(n_docs + (-4.0 * sign(u1) * ln(1.0 - 2.0 * abs(u1))), 6) + 0.0
        |    AS noisy1,
        |  round(n_docs + (-4.0 * sign(u2) * ln(1.0 - 2.0 * abs(u2))), 6) + 0.0
        |    AS noisy2,
        |  CAST(0.5 AS DOUBLE) AS eps_basic,
        |  round(0.25 * sqrt(4.0 * ln(1000000.0))
        |    + 0.5 * (exp(0.25) - 1.0), 6) + 0.0 AS eps_advanced
        |FROM u ORDER BY source""".stripMargin))
  )

  /** DuckDB twin of [[graft.sources.Sinks.zOrderValue]]'s shift/mask
    * terms, generated from the same (cols, bits) so the interleave is
    * single-sourced across engines. */
  private def zOrderSqlExpr(cols: Seq[String], bits: Int): String =
    cols.zipWithIndex.flatMap { case (c, j) =>
      (0 until bits).map(i => s"((($c >> $i) & 1) << ${i * cols.size + j})")
    }.mkString(" | ")

  /** DuckDB twin of [[graft.sources.Sinks.hilbertValue]]: one CTE per
    * bit level generated from the same `bits`, each applying the
    * identical quadrant/rotation step — integer arithmetic only, so
    * the recurrence replays exactly. */
  private def hilbertOracleSql(bits: Int): String = {
    val levels = (bits - 1) to 0 by -1
    val rounds = levels.zipWithIndex.map { case (lvl, k) =>
      val s = 1L << lvl
      s"""h${k + 1} AS (SELECT doc_id, x, y,
         |    hd + $s * $s * xor(3 * rx, ry) AS hd,
         |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - hy ELSE hy END)
         |         ELSE hx END AS hx,
         |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - hx ELSE hx END)
         |         ELSE hy END AS hy
         |  FROM (SELECT *,
         |    CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |    CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry FROM h$k)),""".stripMargin
    }.mkString("\n")
    s"""WITH h0 AS (SELECT doc_id, CAST(doc_id % 64 AS BIGINT) AS x,
       |        CAST(n_chars % 64 AS BIGINT) AS y,
       |        CAST(doc_id % 64 AS BIGINT) AS hx,
       |        CAST(n_chars % 64 AS BIGINT) AS hy,
       |        CAST(0 AS BIGINT) AS hd FROM documents),
       |$rounds
       |sel AS (SELECT doc_id, x, y, hd FROM h$bits)
       |SELECT doc_id, x, y, hd AS h FROM sel ORDER BY doc_id""".stripMargin
  }

  /** Shared oracle for q_countmin_topk and its streaming twin
    * q_stream_countmin: both produce the top-20 heavy hitters' exact
    * counts and md5-u32 count-min estimates over the same corpus —
    * additivity makes the streamed sketch bit-equal to the batch one,
    * so one SQL grades both.
    */
  /** Shared DuckDB oracle for q_weighted_sample AND its streaming
    * twin q_stream_wsample — the stream's final state is structurally
    * the batch top-25, so one oracle grades both. */
  private lazy val WeightedSampleOracleSql: String =
    """WITH u AS (SELECT doc_id, n_chars,
      |        (CAST(('0x' || substr(md5('ws_' || CAST(doc_id AS VARCHAR)), 1, 8))
      |           AS BIGINT) + 0.5) / 4294967296.0 AS u
      |      FROM documents),
      |k AS (SELECT doc_id, n_chars,
      |        round(pow(u, 1.0 / n_chars), 9) AS es_key,
      |        round(ln(u) / n_chars, 9) AS es_logkey FROM u
      |      WHERE n_chars > 0
      |      QUALIFY row_number() OVER (ORDER BY es_logkey DESC, doc_id) <= 25)
      |SELECT doc_id, n_chars, round(es_key, 6) AS es_key FROM k
      |ORDER BY doc_id""".stripMargin

  private lazy val CmTopkOracleSql: String =
    s"""WITH t AS ($SqlToks),
       |e AS MATERIALIZED (SELECT unnest(toks) AS w FROM t),
       |x AS (SELECT w, count(*) AS exact_cnt FROM e GROUP BY w),
       |top AS MATERIALIZED (SELECT w, exact_cnt FROM x
       |      ORDER BY exact_cnt DESC, w LIMIT 20),
       |cells AS MATERIALIZED (SELECT j,
       |      CAST(('0x' || substr(md5(w || '|' || CAST(j AS VARCHAR)
       |        || '|cm16'), 1, 8)) AS BIGINT) % 1024 AS i, count(*) AS cnt
       |    FROM e CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) GROUP BY 1, 2),
       |pr AS (SELECT top.w, top.exact_cnt, j,
       |      CAST(('0x' || substr(md5(top.w || '|' || CAST(j AS VARCHAR)
       |        || '|cm16'), 1, 8)) AS BIGINT) % 1024 AS i
       |    FROM top CROSS JOIN (SELECT unnest([0, 1, 2]) AS j))
       |SELECT pr.w, CAST(max(pr.exact_cnt) AS BIGINT) AS exact_cnt,
       |  CAST(min(COALESCE(cells.cnt, 0)) AS BIGINT) AS est_cnt,
       |  CAST(min(COALESCE(cells.cnt, 0)) - max(pr.exact_cnt) AS BIGINT) AS err
       |FROM pr LEFT JOIN cells USING (j, i)
       |GROUP BY pr.w ORDER BY exact_cnt DESC, pr.w""".stripMargin

  /** DuckDB twin of [[graft.sources.Sinks.hilbertValueN]] (Skilling's
    * transform): one CTE per bit level generated from the same
    * (n, bits), each replaying the inverse-undo sweep's sequential
    * per-coordinate updates via lateral column aliases, then the Gray
    * decode + parity + MSB-first interleave in a final projection —
    * integer shift/mask/xor only, so the index replays exactly.
    */
  private def hilbert3OracleSql(n: Int, bits: Int): String = {
    val coords = Seq("doc_id % 32", "n_chars % 32", "(doc_id // 7) % 32")
    require(n == coords.size)
    val levels = ((bits - 1) to 1 by -1).map(1L << _)
    val rounds = levels.zipWithIndex.map { case (qv, k) =>
      val p = qv - 1
      val steps = new scala.collection.mutable.ListBuffer[String]
      var cur0 = "c0"
      for (i <- 0 until n) {
        if (i == 0) {
          steps += s"CASE WHEN (c0 & $qv) <> 0 THEN xor(c0, $p) ELSE c0 END AS a0"
          cur0 = "a0"
        } else {
          steps += s"xor($cur0, c$i) & $p AS e$i"
          steps += s"CASE WHEN (c$i & $qv) <> 0 THEN xor($cur0, $p) " +
            s"ELSE xor($cur0, e$i) END AS a$i"
          steps += s"CASE WHEN (c$i & $qv) <> 0 THEN c$i " +
            s"ELSE xor(c$i, e$i) END AS n$i"
          cur0 = s"a$i"
        }
      }
      val outs = (s"$cur0 AS c0" +: (1 until n).map(i => s"n$i AS c$i")).mkString(", ")
      s"""h${k + 1} AS (SELECT doc_id, x, y, z, $outs FROM (
         |  SELECT *, ${steps.mkString(",\n    ")} FROM h$k)),""".stripMargin
    }.mkString("\n")
    val gray = (s"c0 AS g0" +: (1 until n).map(i => s"xor(g${i - 1}, c$i) AS g$i"))
      .mkString(",\n    ")
    val tExpr = levels.map(qv =>
      s"(CASE WHEN (g${n - 1} & $qv) <> 0 THEN ${qv - 1} ELSE 0 END)")
      .reduce((a, b) => s"xor($a, $b)")
    val inter = (for (i <- 0 until n; k <- 0 until bits) yield
      s"(((xor(g$i, tp) >> $k) & 1) << ${k * n + (n - 1 - i)})").mkString(" | ")
    val srcCols = coords.zip(Seq("x", "y", "z")).map {
      case (c, nm) => s"CAST($c AS BIGINT) AS $nm" }.mkString(", ")
    s"""WITH h0 AS (SELECT doc_id, $srcCols,
       |    CAST(${coords(0)} AS BIGINT) AS c0,
       |    CAST(${coords(1)} AS BIGINT) AS c1,
       |    CAST(${coords(2)} AS BIGINT) AS c2 FROM documents),
       |$rounds
       |fin AS (SELECT doc_id, x, y, z,
       |    $gray,
       |    $tExpr AS tp FROM h${levels.size})
       |SELECT doc_id, x, y, z, $inter AS h FROM fin ORDER BY doc_id""".stripMargin
  }

  /** DuckDB oracle for q_nb_platt: the q_nb_quality model CTE chain
    * (capped vocabulary), then `iters` Newton rounds generated by the
    * SAME loop count as TextStats.plattFit — each round one 5-sum
    * aggregate in 1e-9 fixed point and a (a, b) update whose
    * arithmetic is spelled in the IDENTICAL operation order as the
    * Scala driver solve, so both engines iterate on bitwise-identical
    * doubles. sc/tt are MATERIALIZED: DuckDB 1.0 inlines
    * multiply-referenced CTEs, and 8 rounds referencing an inlined
    * score derivation would re-run the whole training chain per
    * round.
    */
  private def plattOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""g$i AS (SELECT
         |    sum(CAST(round(s * (p - t) * 1e9) AS BIGINT)) AS ga9,
         |    sum(CAST(round((p - t) * 1e9) AS BIGINT)) AS gb9,
         |    sum(CAST(round(s * s * w * 1e9) AS BIGINT)) AS haa9,
         |    sum(CAST(round(s * w * 1e9) AS BIGINT)) AS hab9,
         |    sum(CAST(round(w * 1e9) AS BIGINT)) AS hbb9
         |  FROM (SELECT s, t, p, round(p * (1.0 - p), 9) AS w FROM (
         |    SELECT s, CASE WHEN y THEN tp ELSE tn END AS t,
         |      round(1.0 / (1.0 + exp(-(a * s + b))), 9) AS p
         |    FROM sc CROSS JOIN ab${i - 1} CROSS JOIN tt))),
         |ab$i AS (SELECT
         |    round(a - ((hbb9/1e9) * (ga9/1e9) - (hab9/1e9) * (gb9/1e9))
         |      / ((haa9/1e9) * (hbb9/1e9) - (hab9/1e9) * (hab9/1e9)), 9) AS a,
         |    round(b - ((haa9/1e9) * (gb9/1e9) - (hab9/1e9) * (ga9/1e9))
         |      / ((haa9/1e9) * (hbb9/1e9) - (hab9/1e9) * (hab9/1e9)), 9) AS b
         |  FROM ab${i - 1} CROSS JOIN g$i),""".stripMargin
    }.mkString("\n")
    s"""WITH t AS (SELECT doc_id,
       |        regexp_extract_all(lower(text), '\\b\\w\\w+\\b') AS toks FROM documents),
       |ld AS (SELECT doc_id, toks, ($SqlQuality) >= 0.62 AS y FROM t),
       |f AS (SELECT doc_id, y, unnest(list_distinct(toks)) AS w FROM ld),
       |cnt AS (SELECT w, sum(CASE WHEN y THEN 1 ELSE 0 END) AS c1,
       |          sum(CASE WHEN y THEN 0 ELSE 1 END) AS c0 FROM f GROUP BY 1
       |        QUALIFY row_number() OVER (ORDER BY (c1 + c0) DESC, w) <= 20),
       |nn AS (SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS n1,
       |         sum(CASE WHEN y THEN 0 ELSE 1 END) AS n0 FROM ld),
       |model AS (SELECT w, CAST(round((ln((c1 + 1.0) / (n1 + 2.0))
       |            - ln((c0 + 1.0) / (n0 + 2.0))) * 1e9) AS BIGINT) AS lo9
       |          FROM cnt CROSS JOIN nn),
       |pr AS (SELECT CAST(round(ln((n1 + 1.0) / (n0 + 1.0)) * 1e9) AS BIGINT)
       |         AS prior9 FROM nn),
       |slo AS (SELECT doc_id, sum(lo9) AS slo9
       |        FROM f JOIN model USING (w) GROUP BY 1),
       |sc AS MATERIALIZED (SELECT (pr.prior9 + COALESCE(slo.slo9, 0)) / 1e9 AS s,
       |        ld.y FROM ld CROSS JOIN pr LEFT JOIN slo ON slo.doc_id = ld.doc_id),
       |ns AS (SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS np,
       |         sum(CASE WHEN y THEN 0 ELSE 1 END) AS nneg FROM sc),
       |tt AS MATERIALIZED (SELECT (np + 1.0) / (np + 2.0) AS tp,
       |        1.0 / (nneg + 2.0) AS tn, np, nneg FROM ns),
       |ab0 AS (SELECT CAST(0.0 AS DOUBLE) AS a,
       |        round(ln((np + 1.0) / (nneg + 1.0)), 9) AS b FROM tt),
       |$rounds
       |fin AS (SELECT sc.y,
       |        round(1.0 / (1.0 + exp(-(a * sc.s + b))), 9) AS p
       |      FROM sc CROSS JOIN ab$iters),
       |bins AS (SELECT least(CAST(floor(p * 10) AS INT), 9) AS bin,
       |        count(*) AS n, sum(CASE WHEN y THEN 1 ELSE 0 END) AS npos,
       |        sum(CAST(round(p * 1e9) AS BIGINT)) AS sp9
       |      FROM fin GROUP BY 1)
       |SELECT CAST(bin AS INT) AS bin, CAST(n AS BIGINT) AS n,
       |  round(sp9 / 1e9 / n, 6) AS mean_p,
       |  round(npos / CAST(n AS DOUBLE), 6) AS frac_pos,
       |  round(a, 6) AS platt_a, round(b, 6) AS platt_b
       |FROM bins CROSS JOIN ab$iters ORDER BY bin""".stripMargin
  }

  /** Generated SQL twin of the k-core FIXPOINT over the lineitem
    * co-purchase graph (q_kcore_converged): `rounds` unrolled
    * peel rounds — degree count, >= k filter, induced subgraph — each
    * MATERIALIZED (DuckDB inlines multiply-referenced CTEs; a chained
    * induction would otherwise re-evaluate the whole upstream
    * combinatorially). `rounds` must be >= the measured convergence
    * round count at every SF; extra rounds are idempotent on a
    * converged core. Generated round-for-round like the Platt/PageRank
    * oracles so the loop count is data, not hand-copied SQL.
    */
  private def kcoreConvergedOracleSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH ke0 AS MATERIALIZED (SELECT DISTINCT x.l_partkey AS a,
      |    y.l_partkey AS b FROM lineitem x JOIN lineitem y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |kd0 AS MATERIALIZED (SELECT id, count(*) AS degree FROM
      |    (SELECT a AS id FROM ke0 UNION ALL SELECT b FROM ke0) GROUP BY 1)""".stripMargin
    for (r <- 1 to rounds) {
      sb ++= s""",
      |ka$r AS MATERIALIZED (SELECT id FROM kd${r - 1} WHERE degree >= $k),
      |ke$r AS MATERIALIZED (SELECT ke${r - 1}.a, ke${r - 1}.b FROM ke${r - 1}
      |    JOIN ka$r x ON x.id = ke${r - 1}.a
      |    JOIN ka$r y ON y.id = ke${r - 1}.b),
      |kd$r AS MATERIALIZED (SELECT id, count(*) AS degree FROM
      |    (SELECT a AS id FROM ke$r UNION ALL SELECT b FROM ke$r) GROUP BY 1)""".stripMargin
    }
    sb ++= s"""
      |SELECT id, CAST(degree AS BIGINT) AS degree FROM kd$rounds
      |WHERE degree >= $k ORDER BY id""".stripMargin
    sb.toString
  }

}
