package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text tokenization + dictionary filtering operators.
  *
  * Re-expresses the reference's stage-1 text handling
  * (reference: extract_transform/MapperExtractTransform.java:74-84):
  * lowercase → regex tokenize with sklearn's default token_pattern
  * `(?u)\b\w\w+\b` → drop stopwords → keep only dictionary words,
  * preserving duplicates and order.
  *
  * Everything here is pure Catalyst column expressions (codegen'd,
  * no UDFs). Dictionaries are inlined as literal arrays.
  */
object TextOps {

  /** sklearn's default `token_pattern`, byte-for-byte
    * (reference: MapperExtractTransform.java:75): tokens are runs of
    * ≥2 word chars. `(?u)` only toggles unicode case handling in
    * java.util.regex; `\w` stays ASCII in both Spark and the DuckDB
    * oracle (RE2), so parity holds.
    */
  val TokenPattern = "(?u)\\b\\w\\w+\\b"

  /** Lowercase + regex tokenize (reference: MapperExtractTransform.java:74-75). */
  def tokenize(text: Column): Column =
    regexp_extract_all(lower(text), lit(TokenPattern), lit(0))

  /** Drop tokens present in `stopwords` (reference: MapperExtractTransform.java:81,
    * first predicate). Preserves duplicates + order, unlike array_except.
    */
  def removeStopwords(tokens: Column, stopwords: Seq[String]): Column =
    filter(tokens, t => !t.isin(stopwords: _*))

  /** Keep only tokens present in `dict` (reference: MapperExtractTransform.java:81,
    * second predicate — the adjective dictionary). Preserves duplicates + order.
    */
  def keepDictionary(tokens: Column, dict: Seq[String]): Column =
    filter(tokens, t => t.isin(dict: _*))

  /** Overlapping character n-grams of `text` — the feature unit of
    * trained language-ID (fastText/CCNet both consume char 2–4-grams:
    * sub-word units carry the orthographic signal — "nh"/"lh" for pt,
    * "ll"/"rr" for es — that whole-word features miss). Spaces are
    * KEPT: the boundary grams ("o ", " a") encode suffix/article
    * patterns, the strongest per-language cues. Pure map-side
    * transform over a sequence — zero shuffle, linear expression
    * size; empty/short strings yield an empty array.
    */
  def charNgrams(text: Column, n: Int): Column = {
    require(n >= 1)
    val m = length(text) - lit(n - 1)
    when(m < 1, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), m), i => text.substr(i, lit(n))))
  }

  /** Full stage-1 token pipeline: tokenize → stopword-filter → dictionary-filter
    * (reference: MapperExtractTransform.java:74-84). Pass `dict = Nil` to skip
    * the dictionary restriction.
    */
  def tokenizeFiltered(text: Column, stopwords: Seq[String], dict: Seq[String]): Column = {
    val noStop = removeStopwords(tokenize(text), stopwords)
    if (dict.isEmpty) noStop else keepDictionary(noStop, dict)
  }

  /** Email/phone patterns for [[redactPii]] — deliberately built from
    * explicit character classes and bounded quantifiers only (no \b,
    * no lookaround), the regex subset on which Java regex (Spark) and
    * RE2 (DuckDB, Go tooling) agree token-for-token, so redacted
    * output is cross-engine byte-identical (value-level oracle
    * q_pii_scrub).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\d{3}[-.]\\d{3}[-.]\\d{4}"

  /** PII redaction — the map-side scrub pass every training corpus
    * goes through before anything else sees it: replace emails and
    * phone numbers with `token`. Pure `regexp_replace` column
    * expression (codegen'd, no shuffle, no UDF); extend by chaining
    * more conservative patterns the same way.
    */
  def redactPii(text: Column, token: String = "<PII>"): Column =
    regexp_replace(regexp_replace(text, EmailRe, token), PhoneRe, token)

  /** Count of substitutions [[redactPii]] performs: emails on the raw
    * text, then phones on the EMAIL-REDACTED text — sequential, exactly
    * like the replacement itself, so a phone-shaped substring inside an
    * email local part (e.g. `555-123-4567@x.co`) counts once, not
    * twice. `token` must match the one passed to [[redactPii]] (the
    * replacement text participates in the second pattern's input).
    */
  def piiCount(text: Column, token: String = "<PII>"): Column =
    regexp_count(text, lit(EmailRe)) +
      regexp_count(regexp_replace(text, EmailRe, token), lit(PhoneRe))

  /** Candidate payment-card numbers: maximal 13–19 digit runs
    * (ISO/IEC 7812 length range). Candidates only — feed through
    * [[luhnOk]] to drop the ~90% of random digit runs that fail the
    * checksum, which is what keeps card redaction from eating order
    * ids and timestamps.
    */
  def cardCandidates(text: Column): Column =
    regexp_extract_all(text, lit("\\b\\d{13,19}\\b"), lit(0))

  /** Luhn checksum validity (ISO/IEC 7812) of a digits-only string,
    * as explicit position arithmetic — doubling every second digit
    * from the right, subtracting 9 from two-digit products, sum ≡ 0
    * (mod 10). Implemented manually rather than via the engine's
    * `luhn_check` so the DuckDB oracle runs the IDENTICAL recipe
    * digit-for-digit; parity with Spark's builtin is locked in
    * CorpusSpec.
    *
    * A non-digit anywhere returns FALSE, never null (ADVICE r14: the
    * per-character int cast yields null on a letter, which would
    * propagate through the aggregate into three-valued logic —
    * latent behind [[cardCandidates]]'s digit-run regex, but any
    * caller handing in raw strings would hit it). The `^\d+$` guard
    * short-circuits first, so the arithmetic only ever sees digits;
    * it also subsumes the old non-empty check.
    */
  def luhnOk(digits: Column): Column = {
    val n = length(digits)
    val vals = transform(sequence(lit(1), n), i => {
      val d = digits.substr(i, lit(1)).cast("int")
      val dd = when((n - i) % 2 === 1, d * 2).otherwise(d)
      when(dd > 9, dd - 9).otherwise(dd).cast("long")
    })
    digits.rlike("^\\d+$") && aggregate(vals, lit(0L), _ + _) % 10 === 0
  }

  /** Candidate IBANs: 2 uppercase letters (country), 2 check digits,
    * 11–30 alphanumerics (ISO 13616 length envelope). Shape only —
    * [[ibanOk]] runs the mod-97 checksum that drops the ~99% of
    * random shape-matches, the same candidates→checksum split as
    * [[cardCandidates]]/[[luhnOk]].
    */
  def ibanCandidates(text: Column): Column =
    regexp_extract_all(text,
      lit("\\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\\b"), lit(0))

  /** IBAN checksum validity (ISO 13616 / ISO 7064 mod-97-10): move
    * the first four characters to the end, expand letters to two
    * digits (A=10 … Z=35), and the resulting number must be ≡ 1
    * (mod 97). The "number" is thousands of digits for a long IBAN,
    * so it is never materialized — the per-character FOLD carries the
    * running remainder (acc·10+d or acc·100+v, each mod 97), exact
    * integer arithmetic both engines replay verbatim. Any non-shaped
    * STRING returns FALSE, never a three-valued unknown (the
    * [[luhnOk]] contract — the shape guard also keeps the letter
    * arithmetic off lowercase); a NULL input stays NULL, standard SQL
    * null propagation.
    */
  def ibanOk(iban: Column): Column = {
    val r = concat(iban.substr(lit(5), length(iban) - 4),
      iban.substr(lit(1), lit(4)))
    val folded = aggregate(
      transform(sequence(lit(1), length(r)), i => r.substr(i, lit(1))),
      lit(0L),
      (acc, ch) =>
        when(ch.rlike("^[0-9]$"), (acc * 10L + ch.cast("long")) % 97L)
          .otherwise((acc * 100L + (ascii(ch) - lit(55))) % 97L))
    iban.rlike("^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$") && folded === 1L
  }

  /** Candidate IPv4 addresses: four 1–3 digit groups joined by dots.
    * Shape only — [[ipv4Valid]] enforces the 0–255 octet range.
    */
  def ipv4Candidates(text: Column): Column =
    regexp_extract_all(text,
      lit("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"), lit(0))

  /** True iff every dot-separated octet of a [[ipv4Candidates]] match
    * is ≤ 255 (the 1–3 digit shape already bounds below at 0). */
  def ipv4Valid(ip: Column): Column =
    forall(split(ip, "\\."), o => o.cast("int") <= 255)

  /** Replace every string in `matches` with `token` — the fold that
    * turns a validated-candidate list (Luhn-passing cards, in-range
    * IPs) into a redacted text. Each match is regex-escaped and
    * anchored with `\b` so a validated match occurring INSIDE a longer
    * word-character run is left alone — a bare literal replace would
    * rewrite a Luhn-valid card embedded in an 18-digit order id and
    * corrupt the id ('845320151128303662' → '8<CARD>2'). Per-row array
    * fold, zero shuffle; all anchored occurrences replaced.
    */
  def redactAll(text: Column, matches: Column, token: String): Column =
    aggregate(matches, text, (acc, m) => {
      val esc = regexp_replace(m, lit("([^0-9A-Za-z])"), lit("\\\\$1"))
      regexp_replace(acc, concat(lit("\\b"), esc, lit("\\b")), lit(token))
    })

  /** Diacritic stripping — the match/lang-ID normalization that folds
    * accented variants onto their base letters ("café" → "cafe",
    * "Ångström" → "Angstrom"): NFD decomposes every precomposed
    * character into base + combining marks, then the
    * nonspacing-mark class (\p{Mn}) is deleted. Already-combining
    * input needs no decomposition and strips identically, so the
    * precomposed/combining pair lands on ONE stripped form.
    * Deliberately NARROW: compatibility forms (ligatures, full-width)
    * are untouched — that is NFKC's job ([[graft.functions.UnicodeNorm.nfkc]]);
    * composing the two gives the full match-key ladder. Pure codegen
    * expression + one regexp_replace — zero shuffle, ASCII rows pass
    * through the NFD byte-scan fast path unchanged.
    */
  def stripDiacritics(text: Column): Column =
    regexp_replace(graft.functions.UnicodeNorm.nfd(text), "\\p{Mn}+", "")

  /** Codepoint class of the whitespace-free CJK scripts this engine
    * segments by character n-grams: Hiragana + Katakana
    * (U+3040–U+30FF), CJK Unified Ideographs (U+4E00–U+9FFF), Hangul
    * syllables (U+AC00–U+D7AF). BMP-only by design — the class is a
    * plain char range in both Java regex and RE2, no surrogate pairs.
    */
  private[graft] val CjkClass = "\u3040-\u30ff\u4e00-\u9fff\uac00-\ud7af"

  /** Maximal runs of CJK codepoints, in document order. */
  def cjkRuns(text: Column): Column =
    regexp_extract_all(text, lit(s"[$CjkClass]+"), lit(0))

  /** Character-bigram segmentation of every CJK run — the fallback
    * tokenization for whitespace-free scripts (VERDICT r14 missing
    * #2: the sklearn `\w\w+` pattern is ASCII, so a CJK run is
    * INVISIBLE to [[tokenize]] and lang-ID/dedup/quality silently
    * degrade on CJK documents). Overlapping bigrams are the standard
    * unsegmented-CJK retrieval unit (the CJKAnalyzer convention);
    * a single-character run becomes its own token rather than
    * vanishing. Pure map-side array expressions — zero shuffle —
    * and the `length >= 2` guard matters: Spark's
    * `sequence(1, 0)` counts DOWNWARD, so the unguarded transform
    * would fabricate tokens for 1-char runs.
    */
  def cjkCharBigrams(text: Column): Column =
    flatten(transform(cjkRuns(text), r =>
      when(length(r) >= 2,
        transform(sequence(lit(1), length(r) - 1), i => r.substr(i, lit(2))))
        .otherwise(array(r))))

  /** Mixed-script tokenization: ASCII word tokens ([[tokenize]] —
    * reference parity on the alphabetic part) plus character bigrams
    * of every CJK run ([[cjkCharBigrams]]). The union is per-document
    * and positionless across the two families, which is exactly what
    * shingle dedup and marker-count lang-ID consume; both families
    * are map-side column expressions, so the mixed path costs no
    * extra shuffle at any corpus size.
    */
  def tokenizeMixed(text: Column): Column =
    concat(tokenize(text), cjkCharBigrams(text))

  /** Canonical text normalization — the pre-dedup cleanup pass
    * (C4/CCNet both normalize before hashing): Unicode NFC first
    * (combining sequences compose to their precomposed forms, so
    * `e`+U+0301 and `é` — distinct byte strings — meet in ONE
    * normalized form before anything hashes; r15, VERDICT r14
    * missing #1), then lowercase, collapse every run of
    * non-alphanumeric characters (typographic quotes, dashes,
    * whitespace variants included) to one space, trim. Exact-dup
    * hashing over the NORMALIZED form catches re-encoded/
    * re-punctuated copies that byte-level md5 misses. Pure codegen
    * column expression — zero shuffle, stream-safe; the NFC pass is
    * a zero-allocation byte-scan no-op on ASCII rows, so ASCII
    * corpora (and their DuckDB oracles, via `nfc_normalize`) are
    * bitwise unchanged. Mojibake repair
    * ([[graft.functions.Mojibake.fixEncoding]], r16) runs AHEAD of
    * NFC: cp1252-in-UTF-8 double-encoded copies collapse to their
    * clean originals before any key hashes; the repair's ASCII fast
    * path and strict-decode rejection keep every clean row — ASCII
    * or genuine UTF-8 — bitwise unchanged, so existing oracles are
    * unaffected.
    *
    * ORACLE CONSTRAINT (review r17): the DuckDB oracles of queries
    * fed by this function do NOT model the mojibake repair. That is
    * sound for ASCII fixtures (fast-path no-op) and for non-ASCII
    * text whose cp1252 encoding is NOT valid UTF-8 (strict-decode
    * rejection — covers real words like "café"); but a
    * non-ASCII fixture that happens to BE a valid double-encoding
    * (an intentional "Ã©" mention, digraph soup) would be
    * rewritten here and not in DuckDB. Any future non-ASCII fixture
    * routed through normalizeText must be mojibake-STABLE in both
    * engines.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(graft.functions.UnicodeNorm.nfc(
      graft.functions.Mojibake.fixEncoding(text))),
      "[^a-z0-9]+", " "))

  /** Deterministic T5-style span corruption (Raffel et al., JMLR 2020
    * §3.1.4 — the masked-span denoising objective): token positions
    * are blocked into aligned windows of `span`; window w of document
    * `id` is masked iff the keyed hash md5(salt_id_w) mod 64 falls
    * below `rate64` (the stratified-sample device — a pure function
    * of (salt, id, w), no RNG state, identical in any engine). The
    * inputs sequence replaces each masked window with its ordinal
    * sentinel `<extra_id_K>`; the targets sequence is each sentinel
    * followed by the tokens it hid. Returns (inputs, targets,
    * n_masked) struct column.
    *
    * Scale: ONE map-side projection — no explode, no shuffle, no
    * per-doc window function; the corpus never leaves its input
    * partitions, and re-running with the same salt reproduces the
    * corruption bit-for-bit (the property that makes checkpointed
    * multi-epoch training data auditable).
    */
  def spanCorrupt(
      id: Column, toks: Column, span: Int = 3, rate64: Int = 22,
      salt: String = "sc1"): Column = {
    val n = size(toks)
    val nWins = ((n + span - 1) / span).cast("int")
    def hashed(w: Column): Column =
      conv(substring(md5(concat_ws("_", lit(salt), id.cast("string"),
        w.cast("string"))), 1, 8), 16, 10).cast("long") % 64 < rate64
    val wins = when(n > 0, sequence(lit(0), nWins - 1)).otherwise(array().cast("array<int>"))
    val maskedW = filter(wins, w => hashed(w))
    def sentinel(k: Column): Column =
      concat(lit("<extra_id_"), (k - 1).cast("string"), lit(">"))
    val inputs = flatten(transform(sequence(lit(0), n - 1),
      i => {
        val w = (i / span).cast("int")
        when(not(hashed(w)), array(element_at(toks, i + 1)))
          .when(i % span === 0, array(sentinel(array_position(maskedW, w))))
          .otherwise(array().cast("array<string>"))
      }))
    val targets = flatten(transform(maskedW,
      w => concat(array(sentinel(array_position(maskedW, w))),
        slice(toks, w * span + 1, least(lit(span), n - w * span)))))
    when(n > 0, struct(
        array_join(inputs, " ").as("inputs"),
        array_join(targets, " ").as("targets"),
        size(maskedW).as("n_masked")))
      .otherwise(struct(lit("").as("inputs"), lit("").as("targets"),
        lit(0).as("n_masked")))
  }

  /** Sliding-window document chunking for context-length-bounded
    * training: windows of `size` tokens starting every
    * `size - overlap` tokens; the final window may be shorter but is
    * never empty. Pure column expression — (chunk_id, chunk tokens)
    * pairs per doc; explode downstream. Docs with no tokens produce
    * zero chunks.
    */
  def chunkTokens(tokens: Column, size: Int, overlap: Int): Column = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val stride = size - overlap
    // chunk starts: 1, 1+stride, ... while start <= n (last partial kept).
    // For n=0 the count formula yields 1 and the trailing filter drops
    // the empty window — a `sequence(0, -1)` guard would instead produce
    // a DESCENDING [0,-1] (Spark auto-steps) and two bogus chunks.
    val nChunks =
      ((org.apache.spark.sql.functions.size(tokens) - lit(1)) / lit(stride)).cast("int") + 1
    filter(
      transform(sequence(lit(0), nChunks - 1),
        i => struct(i.as("chunk_id"), slice(tokens, i * stride + 1, lit(size)).as("toks"))),
      c => org.apache.spark.sql.functions.size(c.getField("toks")) > 0)
  }

  /** GPT-style sequence packing: concatenate all docs in `orderCol`
    * order and cut fixed `budget`-token sequences — each doc gets its
    * global token offset (exclusive running sum) and the sequence ids
    * its span covers. Output columns added: `tok_offset`, `seq_first`,
    * `seq_last`. No single-partition window: range repartition on
    * `orderCol`, per-partition token totals → cumulative offsets (a
    * partition-count-row driver reduction, cheap at any scale), then a
    * local running sum per partition — the same construction as
    * IdOps.sequentialIdsAtScale. Equal to the global-window form
    * (parity-tested).
    */
  def packSequencesAtScale(
      docs: DataFrame, orderCol: String, nTokensCol: String, budget: Long): DataFrame = {
    require(budget > 0)
    val spark = docs.sparkSession
    val sorted = docs
      .repartitionByRange(col(orderCol))
      .sortWithinPartitions(col(orderCol))
      .persist()
    val counts = sorted
      .groupBy(spark_partition_id().as("pid"))
      .agg(sum(col(nTokensCol).cast("long")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = sorted.rdd.getNumPartitions
    val offsets = (0 until nParts).scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L))
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val nIdx = sorted.schema.fieldIndex(nTokensCol)
    val outSchema = org.apache.spark.sql.types.StructType(sorted.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("tok_offset",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("seq_first",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("seq_last",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rdd = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var running = bOffsets.value(pid)
      it.map { r =>
        val n = r.get(nIdx) match {
          case i: Int => i.toLong
          case l: Long => l
          case other => other.asInstanceOf[Number].longValue()
        }
        val off = running
        running += n
        val first = off / budget
        val last = if (n == 0) first else (off + n - 1) / budget
        org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(off, first, last))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Host of a URL, canonicalized for dedup keying: lowercased, default
    * ports (:80/:443) and a leading "www." stripped, unicode labels
    * IDNA-normalized to their punycode `xn--` form (r14 — see
    * [[graft.functions.IdnAscii]]; all-ASCII hosts pass through
    * bitwise unchanged, so the DuckDB-oracled URL queries are
    * unaffected). Empty string when the input has no scheme://host
    * shape. Pure map-side regex + one codegen static call — the
    * per-DOMAIN partitioning key a crawl pipeline shards on.
    */
  def urlHost(u: Column): Column = {
    val noFrag = regexp_replace(trim(u), "#.*", "")
    val host = lower(regexp_extract(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    graft.functions.IdnAscii.idn_ascii(
      regexp_replace(regexp_replace(host, ":(80|443)$", ""), "^www\\.", ""))
  }

  /** Apex-domain heuristic: the last two dot-labels of [[urlHost]]
    * ("a.b.example.com" -> "example.com"). NOT public-suffix-list
    * aware — "example.co.uk" yields "co.uk"; ship a PSL side-input
    * dict (the [[tokenizeFiltered]] dict device) where that matters.
    */
  def urlApex(u: Column): Column =
    regexp_extract(urlHost(u), "([^.]+\\.[^.]+)$", 1)

  /** The FULL Public Suffix List (publicsuffix.org — the Mozilla-
    * maintained public dataset, MPL 2.0; the `.dat` file ships
    * verbatim as a bundled resource with its license header intact),
    * ICANN + PRIVATE sections: ~9.5k rules, all five rule shapes
    * including 4-label plain rules (`pvt.k12.ma.us`) and 4-label
    * wildcard bases (`*.compute.amazonaws.com.cn`). This is the
    * DEFAULT rule set of [[urlApexPsl]]/[[pslPSql]]/[[pslApexSql]]
    * since r14 (VERDICT r13 #3). Unicode rules are IDNA-
    * normalized to punycode at parse time by [[parsePsl]] so they meet
    * the [[urlHost]]-normalized hosts in one canonical ASCII space.
    */
  lazy val PslRulesFull: Seq[String] = {
    val in = getClass.getResourceAsStream("/graft/public_suffix_list.dat")
    require(in != null, "bundled public_suffix_list.dat resource missing")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }

  /** PSL rule set parsed into per-label-count probe sets: `plain(n)` =
    * n-label plain rules, `wild(n)` = n-label BASES of `*.base`
    * wildcard rules (public suffix = base + 1 label), `exc(n)` =
    * n-label exception rules (public suffix = rule minus its leftmost
    * label). `maxP` = the largest public-suffix label count any rule
    * can produce.
    */
  private[graft] final case class PslParsed(
      plain: Map[Int, Seq[String]],
      wild: Map[Int, Seq[String]],
      exc: Map[Int, Seq[String]]) {
    val maxP: Int = (Seq(1) ++ plain.keys ++ wild.keys.map(_ + 1) ++
      exc.keys.map(_ - 1)).max
  }

  private[graft] def parsePsl(rules: Seq[String]): PslParsed = {
    // IDNA-normalize each rule's labels to punycode (the `!`/`*.`
    // markers are ASCII and survive the per-label fast path) so the
    // list's 466 unicode rules land in the same canonical ASCII space
    // urlHost normalizes hosts into; dedup because the full list spells
    // some suffixes in both unicode and punycode
    val r = rules.map(_.trim.toLowerCase)
      .filter(s => s.nonEmpty && !s.startsWith("//"))
      .map(graft.functions.IdnAscii.toAsciiHostString)
      .distinct
    def byLen(xs: Seq[String]) = xs.groupBy(_.count(_ == '.') + 1)
    PslParsed(
      byLen(r.filterNot(s => s.startsWith("*.") || s.startsWith("!"))),
      byLen(r.filter(_.startsWith("*.")).map(_.drop(2))),
      byLen(r.filter(_.startsWith("!")).map(_.drop(1))))
  }

  /** The last `i` dot-labels of `host` ('' when host has fewer). */
  private def lastLabels(host: Column, i: Int): Column =
    regexp_extract(host, s"((?:[^.]+\\.){${i - 1}}[^.]+)$$", 1)

  /** PSL-aware registrable-domain apex — [[urlApex]] upgraded to the
    * COMPLETE Public Suffix List semantics over an arbitrary rule list
    * (default [[PslRulesFull]]): among all matching rules the one with the
    * most labels prevails, `*.base` wildcards match exactly one extra
    * label, `!rule` exceptions prevail over everything (public suffix
    * = the exception minus its leftmost label), and the implicit `*`
    * rule makes the bare TLD the floor. The registrable domain is the
    * public suffix plus one label; a host that IS a public suffix has
    * no registrant label and falls back to itself.
    *
    * Execution shape: the rule list compiles to a fixed `when` chain
    * of literal `isin` probes over the last-1..last-(maxP+1) label
    * extracts — Catalyst turns the large literal lists into O(1)
    * `InSet` hash probes inside whole-stage codegen. Pure map-side,
    * zero shuffle, zero joins, and the full 15k-rule list costs one
    * driver-held set per probe length (a few hundred KB broadcast with
    * the task binary) — the right 100 TB shape for a per-row key
    * extraction. The DuckDB oracle twin is generated from the SAME
    * parsed rule set by [[pslPSql]]/[[pslApexSql]].
    */
  def urlApexPsl(u: Column, rules: Seq[String] = PslRulesFull): Column = {
    val rs = parsePsl(rules)
    val host = urlHost(u)
    def inSet(c: Column, xs: Seq[String]): Option[Column] =
      if (xs.isEmpty) None else Some(c.isin(xs: _*))
    // exceptions first (longest first), then prevailing label count
    // descending, then the implicit `*` floor of 1
    val excCases: Seq[(Column, Int)] =
      (rs.maxP + 1 to 2 by -1).flatMap(i =>
        inSet(lastLabels(host, i), rs.exc.getOrElse(i, Nil)).map(_ -> (i - 1)))
    val ruleCases: Seq[(Column, Int)] =
      (rs.maxP to 2 by -1).flatMap { p =>
        val viaPlain = inSet(lastLabels(host, p), rs.plain.getOrElse(p, Nil))
        val viaWild = inSet(lastLabels(host, p - 1), rs.wild.getOrElse(p - 1, Nil))
          .map(_ && lastLabels(host, p) =!= "")
        (viaPlain.toSeq ++ viaWild.toSeq).reduceOption(_ || _).map(_ -> p)
      }
    val p = (excCases ++ ruleCases).foldRight(lit(1)) {
      case ((c, v), acc) => when(c, lit(v)).otherwise(acc)
    }
    (rs.maxP to 2 by -1).foldLeft(
        when(lastLabels(host, 2) =!= "", lastLabels(host, 2)).otherwise(host)) {
      case (acc, pp) =>
        when(p === pp,
          when(lastLabels(host, pp + 1) =!= "", lastLabels(host, pp + 1))
            .otherwise(host))
          .otherwise(acc)
    }
  }

  /** The last `i` dot-labels of SQL expression `host`, DuckDB form. */
  private def lastLabelsSql(host: String, i: Int): String =
    s"regexp_extract($host, '((?:[^.]+\\.){${i - 1}}[^.]+)$$', 1)"

  /** DuckDB expression for the prevailing public-suffix label count of
    * `host` — the oracle-side twin of [[urlApexPsl]]'s `p`, generated
    * from the SAME parsed rule set. Compute it once in a CTE and feed
    * it to [[pslApexSql]].
    */
  def pslPSql(host: String, rules: Seq[String] = PslRulesFull): String = {
    val rs = parsePsl(rules)
    def inList(c: String, xs: Seq[String]) =
      s"$c IN (${xs.sorted.map("'" + _ + "'").mkString(", ")})"
    val excCases = (rs.maxP + 1 to 2 by -1).flatMap { i =>
      rs.exc.getOrElse(i, Nil) match {
        case Nil => None
        case xs => Some(s"WHEN ${inList(lastLabelsSql(host, i), xs)} THEN ${i - 1}")
      }
    }
    val ruleCases = (rs.maxP to 2 by -1).flatMap { p =>
      val conds =
        rs.plain.getOrElse(p, Nil).map(_ => // non-empty marker
          inList(lastLabelsSql(host, p), rs.plain(p))).headOption.toSeq ++
        rs.wild.getOrElse(p - 1, Nil).map(_ =>
          s"(${inList(lastLabelsSql(host, p - 1), rs.wild(p - 1))} AND " +
            s"${lastLabelsSql(host, p)} <> '')").headOption.toSeq
      if (conds.isEmpty) None else Some(s"WHEN ${conds.mkString(" OR ")} THEN $p")
    }
    s"CASE ${(excCases ++ ruleCases).mkString(" ")} ELSE 1 END"
  }

  /** DuckDB expression for the registrable-domain apex of `host` given
    * `pCol` (a column holding [[pslPSql]]'s result) — the oracle-side
    * twin of [[urlApexPsl]]'s final select.
    */
  def pslApexSql(host: String, pCol: String,
      rules: Seq[String] = PslRulesFull): String = {
    val rs = parsePsl(rules)
    val cases = (rs.maxP to 2 by -1).map { pp =>
      s"WHEN $pCol = $pp THEN (CASE WHEN ${lastLabelsSql(host, pp + 1)} <> '' " +
        s"THEN ${lastLabelsSql(host, pp + 1)} ELSE $host END)"
    }
    s"CASE ${cases.mkString(" ")} ELSE (CASE WHEN ${lastLabelsSql(host, 2)} " +
      s"<> '' THEN ${lastLabelsSql(host, 2)} ELSE $host END) END"
  }

  /** URL canonicalization for near-dup URL keying — the standard crawl
    * pipeline normalization [[normalizeText]] does not cover: scheme
    * unified to http, host lowercased with default ports and "www."
    * stripped, fragment dropped, ONE trailing path slash stripped
    * (path case PRESERVED — paths are case-sensitive), tracking query
    * params removed (utm_*, fbclid, gclid, msclkid, ref) and the rest
    * SORTED so param order never splits a dup group, unicode host
    * labels IDNA-punycoded (r14 — ASCII hosts bitwise unchanged).
    * Pure map-side regex/array expressions, zero shuffle.
    */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(trim(u), "#.*", "")
    val host = graft.functions.IdnAscii.idn_ascii(regexp_replace(regexp_replace(
      lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)),
      ":(80|443)$", ""), "^www\\.", ""))
    val path0 = regexp_extract(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path = when(path0 === "", lit("/"))
      .otherwise(regexp_replace(path0, "(.)/$", "$1"))
    val q0 = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val kept = array_join(array_sort(filter(split(q0, "&"), p =>
      !(p === "" || p.rlike("^(utm_[^=]*|fbclid|gclid|msclkid|ref)=")))), "&")
    concat(lit("http://"), host, path,
      when(length(kept) > 0, concat(lit("?"), kept)).otherwise(lit("")))
  }

  /** Word stream for [[bpeLearn]]: the q_bpe_tokens pre-tokenizer core
    * (GPT-2's segmentation rule reduced to letter runs / digit runs /
    * other-symbol runs), one row per word OCCURRENCE — BPE counts are
    * frequency-weighted, so duplicates must survive.
    */
  def bpeWords(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]+"), lit(0))

  /** Initial BPE symbol sequence of one word: every character is its
    * own symbol, rendered as a TWO-space-delimited, two-space-padded
    * string ("ab" -> "␣␣a␣␣b␣␣"). The double delimiter is what makes a
    * merge a plain left-to-right `replace`: the pattern "␣X␣␣Y␣" takes
    * one space from each boundary, so ADJACENT disjoint occurrences
    * ("x y x y") don't swallow each other's delimiter, and a pattern
    * can never match inside a longer symbol ("x ya" vs pair (x,y)).
    * Both Spark's and DuckDB's `replace` scan left-to-right
    * non-overlapping — exactly the classic BPE merge pass (newly
    * formed symbols don't re-trigger within the same pass).
    */
  def bpeInitSeq(word: Column): Column =
    concat(lit("  "), regexp_replace(word, "(.)", "$1  "))

  /** BPE merge learning (Sennrich, Haddow & Birch 2016, "Neural
    * Machine Translation of Rare Words with Subword Units" — the
    * byte-pair-encoding vocab induction every GPT-style tokenizer is
    * trained with). Each round: count adjacent symbol pairs over all
    * word occurrences, pick the most frequent (ties: lexicographically
    * smallest pair — an engine-independent boundary), merge it
    * corpus-wide, repeat. Returns (iter, l, r, cnt) — the learned
    * merge table in order.
    *
    * Scale: one shuffle per round (the pair-count groupBy with
    * map-side partial aggregation); the winning pair is a 1-row
    * driver collect (the k-row-scalar family — kmeans centroids,
    * IDF table), and the merge itself is a map-side literal `replace`.
    * That is exactly how distributed BPE trainers work: counts are
    * distributed, the vocab lives on the driver. Lineage grows one
    * narrow `replace` per round — checkpoint every ~50 rounds when
    * learning real 30k-merge vocabs (same remedy as
    * [[graft.ops.KMeansOps]] iteration).
    */
  def bpeLearn(docs: DataFrame, textCol: String, iters: Int): DataFrame = {
    require(iters >= 1)
    // run-scoped memo (r14): q_bpe_learn and q_bpe_encode (which
    // re-learns internally) both pay the full merge-learning loop —
    // one pair-count shuffle + 1-row collect per round over the
    // corpus word stream — for the IDENTICAL (docs, textCol, iters).
    // The learned table is iters rows; sharing it halves the BPE
    // family's suite cost. In-memory spec fixtures memo-miss as ever.
    DfMemo.cached(docs, s"bpeLearn:$textCol:$iters") {
      bpeLearnCompute(docs, textCol, iters)
    }
  }

  private def bpeLearnCompute(
      docs: DataFrame, textCol: String, iters: Int): DataFrame = {
    val spark = docs.sparkSession
    // every round's pair-count action re-derives the word stream from
    // the scan; cache the explode once (round i still recomputes its
    // i cheap map-side replaces on top of the cached stream — the
    // scan + regex explode is the expensive part). DISTINCT-WORD
    // granularity with frequency weights (r17, Sennrich's own
    // implementation trick): pair counts are Σ freq(word) ·
    // pairs-in-word, bit-identical to counting every occurrence, but
    // each round's split/explode/groupBy runs over the vocabulary
    // (Heaps-law-sized) instead of the token stream — measured ~30×
    // fewer rows per round at sf0.1.
    val base = docs
      .select(explode(bpeWords(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(bpeInitSeq(col("w")).as("seq"), col("freq"))
      .persist()
    var cur = base
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    var it = 1
    var exhausted = false
    try while (it <= iters && !exhausted) {
      val syms = cur.select(split(trim(col("seq")), "  ").as("s"), col("freq"))
        .filter(size(col("s")) >= 2) // sequence(1,0) would DESCEND
      val pairs = syms.select(col("freq"), explode(transform(
        sequence(lit(1), size(col("s")) - 1),
        i => struct(element_at(col("s"), i).as("l"),
          element_at(col("s"), i + lit(1)).as("r")))).as("p"))
      val top = pairs.groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((it, l, r, cnt))
        cur = cur.select(
          replace(col("seq"), lit(s" $l  $r "), lit(s" $l$r ")).as("seq"),
          col("freq"))
        it += 1
      }
    }
    // finally, not straight-line: a mid-loop failure (executor OOM, job
    // cancel) must not leave the corpus-scale word stream pinned in a
    // session shared with ~190 other queries (r11 review finding)
    finally base.unpersist(blocking = false)
    import spark.implicits._
    learned.result().toDF("iter", "l", "r", "cnt")
      .select(col("iter").cast("int"), col("l"), col("r"), col("cnt"))
  }

  /** BPE ENCODING under a learned merge table — the apply half of the
    * Sennrich loop (what the tokenizer does to the corpus at training
    * time, millions of times more often than learning runs). Re-learns
    * `iters` merges on `docs` (a k-row driver table), then tokenizes
    * every document: per doc, the char-symbol count before any merge
    * (`n_chars` — what a byte-level tokenizer would emit) and the
    * symbol count after the merges (`n_bpe`), i.e. the compression the
    * vocab buys. Zero-word docs report (0, 0).
    *
    * Scale: learning is [[bpeLearn]] (one shuffle + 1-row collect per
    * round); encoding is ONE map-side chain of literal `replace`s in
    * merge-rank order over the exploded word stream — merges ride as
    * driver literals, the corpus never joins anything — then one
    * groupBy(doc) count shuffle and a doc-table left join to restore
    * wordless docs. At a real 30k-merge vocab the replace chain
    * becomes a scalar loop in one codegen'd expression or a
    * mapPartitions trie pass; the plan shape (broadcast vocab,
    * map-side encode, no corpus self-join) is already the production
    * one.
    */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                iters: Int): DataFrame = {
    val merges = bpeLearn(docs, textCol, iters)
      .orderBy("iter").collect()
      .map(r => (r.getString(1), r.getString(2)))
    var seqd = docs
      .select(col(idCol), explode(bpeWords(col(textCol))).as("w"))
      .select(col(idCol), length(col("w")).as("wlen"),
        bpeInitSeq(col("w")).as("seq"))
    for ((l, r) <- merges)
      seqd = seqd.withColumn("seq",
        replace(col("seq"), lit(s" $l  $r "), lit(s" $l$r ")))
    val counts = seqd
      .select(col(idCol), col("wlen"),
        size(split(trim(col("seq")), "  ")).as("ntok"))
      .groupBy(idCol)
      .agg(sum("wlen").as("__nc"), sum("ntok").as("__nb"))
    docs.select(col(idCol)).join(counts, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nc"), lit(0L)).as("n_chars"),
        coalesce(col("__nb"), lit(0L)).as("n_bpe"))
  }
}
