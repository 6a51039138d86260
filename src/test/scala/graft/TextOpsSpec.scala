package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{TextOps, TextStats, Tfidf}

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("lmScore: closed-form unigram cross-entropy; empty docs emit no row") {
    // corpus: [a a b] and [b c] -> p(a)=2/5, p(b)=2/5, p(c)=1/5
    val docs = Seq(
      (1L, Seq("a", "a", "b")), (2L, Seq("b", "c")), (3L, Seq.empty[String])
    ).toDF("id", "toks")
    val got = TextStats.lmScore(docs, "id", "toks")
      .as[(Long, Double)].collect().toMap
    val (pa, pb, pc) = (2.0 / 5, 2.0 / 5, 1.0 / 5)
    assert(math.abs(got(1L) - -(2 * math.log(pa) + math.log(pb)) / 3) < 1e-12)
    assert(math.abs(got(2L) - -(math.log(pb) + math.log(pc)) / 2) < 1e-12)
    assert(!got.contains(3L), "empty doc has no distribution to score")
  }

  test("rocAuc closed forms: perfect, inverted, tied, mixed-with-ties, one-class undefined") {
    def auc(rows: Seq[(Double, Boolean)]): (Long, Long, Option[Double]) = {
      val r = TextStats.rocAuc(rows.toDF("score", "label"), "score", "label")
        .collect()(0)
      (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    }
    // perfect separation → 1.0; inverted → 0.0
    assert(auc(Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false)))
      == (2L, 2L, Some(1.0)))
    assert(auc(Seq((0.1, true), (0.2, true), (0.8, false), (0.9, false)))
      == (2L, 2L, Some(0.0)))
    // all scores identical → pure chance 0.5 regardless of class balance
    assert(auc(Seq((0.5, true), (0.5, false), (0.5, false))) == (1L, 2L, Some(0.5)))
    // mixed with a cross-class tie: pos {0.8, 0.5}, neg {0.5, 0.2}.
    // Pairs: (0.8>0.5)=1, (0.8>0.2)=1, (0.5=0.5)=0.5, (0.5>0.2)=1
    // → AUC = 3.5/4 = 0.875
    assert(auc(Seq((0.8, true), (0.5, true), (0.5, false), (0.2, false)))
      == (2L, 2L, Some(0.875)))
    // a single class has no ranking to grade — NULL, not 0
    assert(auc(Seq((0.9, true), (0.1, true))) == (2L, 0L, None))
  }

  test("charEntropy: closed forms — uniform, constant, empty; len counts chars") {
    val docs = Seq(
      (1L, "aaaa"),      // one symbol: H = 0
      (2L, "ab"),        // two equiprobable: H = ln 2
      (3L, ""),          // empty doc reports (0, 0.0), not a dropped row
      (4L, "aabb"))      // two symbols twice each: still ln 2
      .toDF("doc_id", "text")
    val got = TextStats.charEntropy(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == (4L, 0.0))
    assert(got(2L)._1 == 2L && math.abs(got(2L)._2 - math.log(2)) < 1e-6)
    assert(got(3L) == (0L, 0.0))
    assert(got(4L)._1 == 4L && math.abs(got(4L)._2 - math.log(2)) < 1e-6)
    // richer alphabet ⇒ strictly more entropy than a repeated char
    val real = TextStats.charEntropy(
        Tables.table(spark, TestSpark.Sf, "documents"), "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    assert(real.forall(r => r._3 >= 0.0))
    assert(real.exists(r => r._3 > 2.0), "English text should clear 2 nats")
  }

  test("dsirWeights: target-typical tokens weigh positive, off-target negative; smoothing keeps unseen finite") {
    // target doc is all 'x'; proposal adds 'y'-heavy docs. V=2.
    val docs = Seq(
      (1L, true, Seq("x", "x", "x")),
      (2L, false, Seq("y", "y", "y")),
      (3L, false, Seq("x", "y"))
    ).toDF("id", "tgt", "toks")
    val got = TextStats.dsirWeights(docs, "id", "toks", col("tgt"))
      .as[(Long, Double)].collect().toMap
    // closed form: c_all(x)=4, c_all(y)=4, c_tgt(x)=3, c_tgt(y)=0,
    // n_all=8, n_tgt=3, V=2
    def lr(cTgt: Long, cAll: Long) =
      math.log((cTgt + 1.0) / (3 + 2.0)) - math.log((cAll + 1.0) / (8 + 2.0))
    assert(math.abs(got(1L) - lr(3, 4)) < 1e-12)
    assert(math.abs(got(2L) - lr(0, 4)) < 1e-12)
    assert(got(1L) > 0, "all-target-token doc should be upweighted")
    assert(got(2L) < 0, "never-in-target token doc should be downweighted")
    assert(math.abs(got(3L) - (lr(3, 4) + lr(0, 4)) / 2) < 1e-12)
  }

  test("tokenize: sklearn token_pattern semantics — >=2 word chars, lowercased, order+dups kept") {
    val got = Seq("The quick-quick a b bb X9 foo_bar")
      .toDF("text")
      .select(TextOps.tokenize($"text").as("t"))
      .as[Seq[String]].head()
    assert(got == Seq("the", "quick", "quick", "bb", "x9", "foo_bar"))
  }

  test("stopword + dictionary filter: stopword wins, duplicates and order preserved") {
    val got = Seq("a fast fast the slow big dog")
      .toDF("text")
      .select(TextOps.tokenizeFiltered($"text",
        stopwords = Seq("the", "a", "fast"),
        dict = Seq("fast", "slow", "big")).as("t"))
      .as[Seq[String]].head()
    // "fast" is both stopword and dict word → removed (predicate order,
    // MapperExtractTransform.java:81); dog not in dict → removed.
    assert(got == Seq("slow", "big"))
  }

  test("chunkTokens: boundary sizes — exact fit, one over, short doc, empty doc") {
    val toks = (1 to 8).map(i => s"t$i")
    val got = Seq(
      (1L, toks),            // 8 tokens, size 4 overlap 1 → starts 1,4,7 → 3 chunks
      (2L, toks.take(4)),    // exact fit → 1 full + 1 partial? starts 1,4 → 2 chunks
      (3L, toks.take(2)),    // shorter than size → 1 chunk
      (4L, Seq.empty[String]))
      .toDF("id", "toks")
      .select($"id", TextOps.chunkTokens($"toks", size = 4, overlap = 1).as("cs"))
      .as[(Long, Seq[(Int, Seq[String])])].collect().toMap
    assert(got(1L) == Seq(
      (0, Seq("t1", "t2", "t3", "t4")),
      (1, Seq("t4", "t5", "t6", "t7")),
      (2, Seq("t7", "t8"))))
    assert(got(2L) == Seq((0, Seq("t1", "t2", "t3", "t4")), (1, Seq("t4"))))
    assert(got(3L) == Seq((0, Seq("t1", "t2"))))
    assert(got(4L) == Seq.empty)
  }

  test("packSequencesAtScale: offsets are exclusive running sums; spans cover exactly the doc's tokens") {
    val d = Seq((1L, 100), (2L, 200), (3L, 0), (4L, 300)).toDF("id", "n")
    val got = TextOps.packSequencesAtScale(d, "id", "n", budget = 256)
      .select($"id", $"tok_offset", $"seq_first", $"seq_last")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 0L, 0L, 0L),      // tokens 0..99 → seq 0
      (2L, 100L, 0L, 1L),    // tokens 100..299 → straddles seqs 0-1
      (3L, 300L, 1L, 1L),    // empty doc pins to its offset's seq
      (4L, 300L, 1L, 2L)))   // tokens 300..599 → seqs 1-2
  }

  test("packSequencesAtScale == packSequences (window) on the documents table") {
    val d = Tables.table(spark, TestSpark.Sf, "documents")
      .select($"doc_id",
        size(TextOps.tokenizeFiltered($"text", Dictionaries.Stopwords, Nil)).as("n_toks"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"tok_offset", $"seq_first", $"seq_last")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // the reference: one global window (exclusive running sum)
    val w = org.apache.spark.sql.expressions.Window.orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val windowed = canon(d
      .withColumn("tok_offset", coalesce(sum($"n_toks").over(w), lit(0L)))
      .withColumn("seq_first", expr("tok_offset div 256"))
      .withColumn("seq_last", when($"n_toks" === 0, $"seq_first")
        .otherwise(expr("(tok_offset + n_toks - 1) div 256"))))
    val atScale = canon(TextOps.packSequencesAtScale(d, "doc_id", "n_toks", budget = 256))
    assert(atScale == windowed)
    assert(windowed.nonEmpty)
  }

  test("redactPii: emails and phones scrubbed, counts match, clean text byte-identical") {
    val got = Seq(
      (1L, "mail a.b+c%x@ex-ample.co.uk or call 555-123-4567 twice: 999.867.5309"),
      (2L, "no pii here, just 12345 and user at example dot com"))
      .toDF("id", "t")
      .select($"id", $"t", TextOps.redactPii($"t").as("r"),
        TextOps.piiCount($"t").cast("int").as("n"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getInt(3))).toMap
    assert(got(1L)._2 == "mail <PII> or call <PII> twice: <PII>")
    assert(got(1L)._3 == 3)
    assert(got(2L)._2 == got(2L)._1, "clean text must pass through unchanged")
    assert(got(2L)._3 == 0)
  }

  test("piiCount equals the number of redactPii substitutions — phone inside an email local part counts once") {
    // 555-123-4567@x.co matches the EMAIL pattern whole; the phone-shaped
    // local part must not be counted again (redactPii performs ONE
    // substitution). piiCount counts phones on the email-redacted text.
    val got = Seq(
      (1L, "reach 555-123-4567@x.co today"),
      (2L, "reach 555-123-4567@x.co or 555-123-4567"))
      .toDF("id", "t")
      .select($"id", TextOps.redactPii($"t").as("r"),
        TextOps.piiCount($"t").cast("int").as("n"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(got(1L)._1 == "reach <PII> today")
    assert(got(1L)._2 == 1)
    assert(got(2L)._1 == "reach <PII> or <PII>")
    assert(got(2L)._2 == 2)
  }

  test("bigramLmScore: closed-form add-k conditionals; <2-token docs emit no row") {
    // corpus bigrams: doc1 [a b a] -> (a,b),(b,a); doc2 [b a] -> (b,a)
    // c(a,b)=1 c(b,a)=2; contexts c(a·)=1 c(b·)=2; V=2; k=0.5
    val docs = Seq(
      (1L, Seq("a", "b", "a")), (2L, Seq("b", "a")),
      (3L, Seq("a")), (4L, Seq.empty[String])
    ).toDF("id", "toks")
    val got = TextStats.bigramLmScore(docs, "id", "toks")
      .as[(Long, Double)].collect().toMap
    val pAB = (1 + 0.5) / (1 + 0.5 * 2)  // p(b|a)
    val pBA = (2 + 0.5) / (2 + 0.5 * 2)  // p(a|b)
    assert(math.abs(got(1L) - -(math.log(pAB) + math.log(pBA)) / 2) < 1e-12)
    assert(math.abs(got(2L) - -math.log(pBA)) < 1e-12)
    assert(!got.contains(3L) && !got.contains(4L), "need ≥2 tokens to have a bigram")
  }

  test("bigramLmScore is word-order-aware where unigram lmScore is not") {
    // same token multiset, different order: unigram xent identical,
    // bigram xent must differ (the shuffled doc uses rarer transitions)
    val docs = Seq(
      (1L, Seq("a", "b", "a", "b", "a", "b")),
      (2L, Seq("a", "a", "a", "b", "b", "b"))
    ).toDF("id", "toks")
    val uni = TextStats.lmScore(docs, "id", "toks").as[(Long, Double)].collect().toMap
    val big = TextStats.bigramLmScore(docs, "id", "toks").as[(Long, Double)].collect().toMap
    assert(math.abs(uni(1L) - uni(2L)) < 1e-12, "unigram is order-blind")
    assert(math.abs(big(1L) - big(2L)) > 1e-6, "bigram must see the order change")
  }

  test("normalizeText: case folds, punctuation runs collapse, edges trim") {
    val got = Seq(
      (1L, "Hello,  WORLD!!"), (2L, "  a--b__c  "), (3L, "..."), (4L, "MiXeD42x")
    ).toDF("id", "t")
      .select($"id", TextOps.normalizeText($"t").as("n"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "hello world")
    assert(got(2L) == "a b c")  // _ is non-alnum here: it separates words
    assert(got(3L) == "")
    assert(got(4L) == "mixed42x")
  }

  test("spanCorrupt: sentinel-splice reconstruction recovers every original document") {
    val docs = Tables.table(spark, TestSpark.Sf, "documents")
      .select($"doc_id", TextOps.tokenize($"text").as("toks"))
    val rows = docs.select($"doc_id", $"toks",
        TextOps.spanCorrupt($"doc_id", $"toks").as("sc"))
      .select($"doc_id", $"toks", $"sc.inputs", $"sc.targets", $"sc.n_masked")
      .as[(Long, Seq[String], String, String, Int)].collect()
    assert(rows.exists(_._5 > 0), "some doc must actually get masked")
    assert(rows.exists(r => r._5 < (r._2.size + 2) / 3),
      "some doc must keep unmasked windows (rate ≈ 34%, not 100%)")
    val sentinel = "<extra_id_(\\d+)>".r
    rows.foreach { case (id, toks, inputs, targets, nMasked) =>
      // parse targets into span k -> tokens
      val tParts = sentinel.split(targets).map(_.trim)
      val tKeys = sentinel.findAllMatchIn(targets).map(_.group(1).toInt).toSeq
      assert(tKeys == (0 until nMasked), s"doc $id: sentinels must be ordinal")
      val spans = tKeys.zip(tParts.drop(1)).toMap  // part 0 is the empty prefix
      // splice each sentinel's span back into inputs
      val rebuilt = inputs.split(" ").filter(_.nonEmpty).flatMap {
        case s if s.startsWith("<extra_id_") =>
          val k = s.stripPrefix("<extra_id_").stripSuffix(">").toInt
          spans(k).split(" ").filter(_.nonEmpty)
        case t => Array(t)
      }.toSeq
      assert(rebuilt == toks, s"doc $id: splice must reproduce the original")
    }
  }

  test("spanCorrupt: same salt reproduces bit-for-bit; different salt moves masks") {
    val docs = Tables.table(spark, TestSpark.Sf, "documents")
      .select($"doc_id", TextOps.tokenize($"text").as("toks"))
    def run(salt: String) = docs
      .select($"doc_id", TextOps.spanCorrupt($"doc_id", $"toks", salt = salt).as("sc"))
      .select($"doc_id", $"sc.inputs").as[(Long, String)].collect().toMap
    val a = run("sc1"); val b = run("sc1"); val c = run("other")
    assert(a == b, "corruption is a pure function of (salt, id, window)")
    assert(a != c, "a different salt must corrupt differently somewhere")
  }

  test("hashingTf: mass-preserving, bucket-stable, buckets in range") {
    val docs = Seq(
      (1L, Seq("a", "b", "a")), (2L, Seq("b")), (3L, Seq.empty[String])
    ).toDF("id", "toks")
    val tf = Tfidf.hashingTf(docs, "id", "toks", m = 8)
      .as[(Long, Int, Long)].collect()
    assert(tf.map(_._3).sum == 4, "Σtf must equal the corpus token count")
    assert(tf.forall(r => r._2 >= 0 && r._2 < 8), "buckets within [0, m)")
    assert(!tf.exists(_._1 == 3L), "empty doc has no buckets")
    // same word -> same bucket: doc1's two 'a's landed in one cell
    val d1 = tf.filter(_._1 == 1L)
    assert(d1.map(_._3).sum == 3 && d1.length <= 2)
  }

  test("lengthOutliers: per-group interpolated band; only tails flagged") {
    // group g: 1..10 -> p05=1.45, p95=9.55 -> flag 1 (short) and 10 (long);
    // group h: all equal -> band degenerate, nothing strictly outside
    val docs = ((1 to 10).map(i => (i.toLong, "g", i.toLong)) ++
      (11 to 15).map(i => (i.toLong, "h", 7L))).toDF("id", "src", "len")
    val got = TextStats.lengthOutliers(docs, "id", "src", "len", 0.05, 0.95)
      .as[(Long, String, Long, String)].collect().toSet
    assert(got == Set((1L, "g", 1L, "short"), (10L, "g", 10L, "long")))
  }

  test("gopherRepetition: closed forms — top-gram domination, once-counted dup coverage, short/empty docs zero") {
    val docs = Seq(
      // "a b c d e" twice: dup5 covers ALL 10 tokens (spans [1,5],[6,10]);
      // the single 10-gram can't repeat → dup10 = 0; top2 = "a b" ×2,
      // 2 token chars, over 10 total chars
      (1L, "a b c d e a b c d e".split(" ").toSeq),
      // 5 distinct tokens: nothing repeats at any n
      (2L, Seq("v", "w", "x", "y", "z")),
      (3L, Seq.empty[String]))
      .toDF("doc_id", "toks")
    val got = TextStats.gopherRepetition(docs, "doc_id", "toks")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    val (t2, t3, t4, d5, d10) = got(1L)
    assert(math.abs(t2 - 0.4) < 1e-9, s"top2 $t2")   // 2 occ × 2 chars / 10
    assert(math.abs(t3 - 0.6) < 1e-9, s"top3 $t3")   // 2 occ × 3 chars / 10
    assert(math.abs(t4 - 0.8) < 1e-9, s"top4 $t4")   // 2 occ × 4 chars / 10
    assert(math.abs(d5 - 1.0) < 1e-9, s"dup5 $d5")   // full coverage, counted once
    assert(d10 == 0.0, s"dup10 $d10")
    // distinct doc: top-gram count 1 → frac = chars(gram)/total; no dups
    val (u2, _, _, u5, u10) = got(2L)
    assert(math.abs(u2 - 0.4) < 1e-9, s"top2 unique $u2")  // 1 × 2 / 5
    assert(u5 == 0.0 && u10 == 0.0)
    assert(got(3L) == ((0.0, 0.0, 0.0, 0.0, 0.0)), "empty doc all zero")
  }

  test("ccnetBuckets: equal-count terciles per group, boundary monotone head ≤ middle ≤ tail") {
    // 7 docs in one group (xent 1..7), 3 in another (10, 20, 30)
    val scored = ((1 to 7).map(i => (i.toLong, "g", i.toDouble)) ++
      Seq((8L, "h", 10.0), (9L, "h", 20.0), (10L, "h", 30.0)))
      .toDF("id", "src", "xent")
    val got = TextStats.ccnetBuckets(scored, "id", "src", "xent")
      .as[(Long, String, Double, String)].collect()
    // ntile(3) over 7 rows → sizes 3/2/2; over 3 rows → 1/1/1
    val byBucket = got.filter(_._2 == "g").groupBy(_._4).view.mapValues(_.map(_._1).toSet).toMap
    assert(byBucket("head") == Set(1L, 2L, 3L))
    assert(byBucket("middle") == Set(4L, 5L))
    assert(byBucket("tail") == Set(6L, 7L))
    assert(got.filter(_._2 == "h").map(r => r._4 -> r._1).toSet ==
      Set("head" -> 8L, "middle" -> 9L, "tail" -> 10L))

    // real corpus: per source, bucket sizes differ by ≤1 and xent
    // boundaries are monotone across buckets
    val docs = Tables.table(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"source",
        TextOps.tokenizeFiltered($"text", Dictionaries.Stopwords, Nil).as("toks"))
    val sc = TextStats.lmScore(docs, "doc_id", "toks")
      .join(docs.select($"doc_id", $"source"), "doc_id")
    val bk = TextStats.ccnetBuckets(sc, "doc_id", "source", "xent")
      .as[(Long, String, Double, String)].collect()
    bk.groupBy(_._2).foreach { case (src, rows) =>
      val sizes = rows.groupBy(_._4).view.mapValues(_.length).toMap
      assert(sizes.values.max - sizes.values.min <= 1, s"$src sizes $sizes")
      def xs(b: String) = rows.filter(_._4 == b).map(_._3)
      assert(xs("head").max <= xs("middle").min + 1e-12, s"$src head/middle")
      assert(xs("middle").max <= xs("tail").min + 1e-12, s"$src middle/tail")
    }
  }

  test("canonicalizeUrl: scheme/host/port/www/fragment/trailing-slash/param rules") {
    val cases = Seq(
      // scheme+host lowercase, https->http, :443 stripped, www stripped, fragment dropped
      ("HTTPS://WWW.Ex.COM:443/A/B#frag", "http://ex.com/A/B"),
      // default :80 stripped, non-default port kept
      ("http://ex.com:80/x", "http://ex.com/x"),
      ("http://ex.com:8080/x", "http://ex.com:8080/x"),
      // path case preserved; ONE trailing slash stripped; root stays "/"
      ("http://ex.com/Docs/17/", "http://ex.com/Docs/17"),
      ("http://ex.com/", "http://ex.com/"),
      ("http://ex.com", "http://ex.com/"),
      // tracking params dropped, survivors sorted, empty query -> no "?"
      ("http://ex.com/p?utm_source=f&b=2&a=1&fbclid=Z", "http://ex.com/p?a=1&b=2"),
      ("http://ex.com/p?utm_campaign=x&gclid=1&ref=hn", "http://ex.com/p"),
      ("http://ex.com/p?z=1&y=2&msclkid=m", "http://ex.com/p?y=2&z=1"))
    val got = cases.map(_._1).toDF("u")
      .select(TextOps.canonicalizeUrl(col("u"))).as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, e) => assert(g == e) }

    val hosts = Seq("https://WWW.a.B.Example.org:443/x", "http://one.two/")
      .toDF("u")
      .select(TextOps.urlHost(col("u")), TextOps.urlApex(col("u")))
      .as[(String, String)].collect()
    assert(hosts(0) == (("a.b.example.org", "example.org")))
    assert(hosts(1) == (("one.two", "one.two")))
  }

  test("knBigramLmScore: matches driver-side Kneser-Ney reference; model normalizes to 1 per context") {
    val corpus = Seq(
      (1L, Seq("a", "b", "a", "c")),
      (2L, Seq("b", "a", "b", "c")),
      (3L, Seq("c", "a", "b", "a")),
      (4L, Seq("a", "c", "c", "b")),
      (5L, Seq("only")))  // <2 tokens: no row
    val got = TextStats.knBigramLmScore(corpus.toDF("doc_id", "toks"), "doc_id", "toks")
      .as[(Long, Double)].collect().toMap
    assert(got.size == 4 && !got.contains(5L))

    val bigs = corpus.flatMap { case (id, t) =>
      t.sliding(2).filter(_.size == 2).map(p => (id, p(0), p(1))) }
    val c12 = bigs.groupBy(b => (b._2, b._3)).map { case (k, v) => k -> v.size.toDouble }
    val c1 = bigs.groupBy(_._2).map { case (k, v) => k -> v.size.toDouble }
    val n1f = c12.keys.groupBy(_._1).map { case (k, v) => k -> v.size.toDouble }
    val n1b = c12.keys.groupBy(_._2).map { case (k, v) => k -> v.size.toDouble }
    val nbt = c12.size.toDouble
    val D = 0.75
    def pkn(w1: String, w2: String): Double =
      math.max(c12((w1, w2)) - D, 0.0) / c1(w1) +
        D * n1f(w1) / c1(w1) * (n1b(w2) / nbt)
    corpus.take(4).foreach { case (id, t) =>
      val lps = t.sliding(2).map(p => math.log(pkn(p(0), p(1)))).toSeq
      val exp = -lps.sum / lps.size
      assert(math.abs(got(id) - exp) < 1e-9, s"doc $id: ${got(id)} vs $exp")
    }
    // interpolated KN is a proper distribution: sum over the observed
    // continuation vocabulary = 1 for every context
    val w2s = n1b.keys.toSeq
    c1.keys.foreach { w1 =>
      val tot = w2s.map { w2 =>
        math.max(c12.getOrElse((w1, w2), 0.0) - D, 0.0) / c1(w1) +
          D * n1f(w1) / c1(w1) * (n1b(w2) / nbt)
      }.sum
      assert(math.abs(tot - 1.0) < 1e-12, s"context $w1 sums to $tot")
    }
    // order sensitivity: the signature add-k shares — reversing a doc
    // with asymmetric bigrams changes its score
    val fwd = TextStats.knBigramLmScore(
      Seq((9L, Seq("a", "b", "a", "c")), (10L, Seq("c", "a", "b", "a")))
        .toDF("doc_id", "toks"), "doc_id", "toks")
      .as[(Long, Double)].collect().toMap
    assert(fwd(9L) != fwd(10L))
  }

  test("bpeLearn: greedy non-overlap counts, merged symbols re-merge, frequency weighting") {
    // corpus: "aaaa" ×2, "ab ab ab" ×1.
    // round 1 pairs: word "aaaa" -> (a,a)×3 each (GREEDY source counts
    // overlapping positions: a|a a|a a|a = 3), ×2 docs = 6;
    // "ab"×3 -> (a,b)×3. winner (a,a) cnt 6.
    // after merge: "aaaa" -> [aa, aa]; round 2: (aa,aa)×2, (a,b)×3 ->
    // winner (a,b) cnt 3. round 3: "ab" words are single symbols now;
    // (aa,aa)×2 is all that's left -> winner (aa,aa) cnt 2 — the
    // MERGED symbol participates in later rounds.
    val docs = Seq((1L, "aaaa"), (2L, "aaaa"), (3L, "ab ab ab"))
      .toDF("doc_id", "text")
    val got = TextOps.bpeLearn(docs, "text", 3)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1, "a", "a", 6L), (2, "a", "b", 3L), (3, "aa", "aa", 2L)))
    // exhaustion: once no pairs remain, learning stops short
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    val t = TextOps.bpeLearn(tiny, "text", 5)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(t === Seq((1, "a", "b", 1L)),
      "single merge exhausts the 2-symbol corpus; later rounds emit nothing")
  }

  test("urlApexPsl: PSL suffix takes three labels, plain TLD two, bare suffix falls back") {
    val got = Seq(
      (1L, "http://shop.example.co.uk/x"),   // PSL: registrable = example.co.uk
      (2L, "http://www.example.com/x"),      // plain TLD: example.com
      (3L, "http://co.uk/x"),                // bare suffix: no registrant label
      (4L, "http://a.b.news.com.au/x"),      // deep subdomain under PSL
      (5L, "http://example.org/x"))          // plain, no subdomain
      .toDF("id", "u")
      .select($"id", TextOps.urlApex($"u").as("a"), TextOps.urlApexPsl($"u").as("p"))
      .as[(Long, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == ("co.uk", "example.co.uk"),
      "the heuristic apex stops at the registry; PSL recovers the registrant")
    assert(got(2L) == ("example.com", "example.com"))
    assert(got(3L) == ("co.uk", "co.uk"))
    assert(got(4L) == ("com.au", "news.com.au"))
    assert(got(5L) == ("example.org", "example.org"))
  }

  test("urlApexPsl: full PSL semantics — wildcard, exception, 3-label, implicit *, longest match") {
    def psl(u: String): String = Seq(Tuple1(u)).toDF("u")
      .select(TextOps.urlApexPsl($"u")).as[String].head()
    // wildcard *.ck: one extra label joins the public suffix
    assert(psl("http://a.b.foo.ck/x") == "b.foo.ck")
    assert(psl("http://b.foo.ck/x") == "b.foo.ck")
    assert(psl("http://foo.ck/x") == "foo.ck",
      "a host that IS a wildcard public suffix falls back to itself")
    // exception !www.ck prevails over *.ck: suffix is just 'ck'
    // (leading www. is stripped by urlHost, so probe via a subdomain)
    assert(psl("http://a.www.ck/x") == "www.ck")
    // jp city wildcard block + its exception
    assert(psl("http://sub.example.kawasaki.jp/x") == "sub.example.kawasaki.jp")
    assert(psl("http://example.kawasaki.jp/x") == "example.kawasaki.jp",
      "host == wildcard suffix → self")
    assert(psl("http://sub.city.kawasaki.jp/x") == "city.kawasaki.jp",
      "!city.kawasaki.jp: the city domain is registrable")
    assert(psl("http://city.kawasaki.jp/x") == "city.kawasaki.jp")
    // 3-label plain rule
    assert(psl("http://school.k12.ca.us/x") == "school.k12.ca.us")
    assert(psl("http://www2.school.k12.ca.us/x") == "school.k12.ca.us")
    assert(psl("http://k12.ca.us/x") == "k12.ca.us", "bare 3-label suffix → self")
    // implicit * : unknown TLD takes last two labels
    assert(psl("http://deep.sub.example.zz/x") == "example.zz")
    // longest match: co.jp (plain 2-label) vs jp implicit
    assert(psl("http://a.b.example.co.jp/x") == "example.co.jp")
    // parsePsl shape sanity: a 3-label plain rule yields maxP = 3
    assert(TextOps.parsePsl(Seq("*.ck", "!www.ck", "co.jp", "k12.ca.us")).maxP == 3)
  }

  test("urlApexPsl: full bundled PSL — 4/5-label rules, private section, IDN rules (r14)") {
    def psl(u: String): String = Seq(Tuple1(u)).toDF("u")
      .select(TextOps.urlApexPsl($"u")).as[String].head()
    // 4-label plain rule (the r13 residual): pvt.k12.ma.us
    assert(psl("http://example.pvt.k12.ma.us/x") == "example.pvt.k12.ma.us")
    assert(psl("http://deep.example.pvt.k12.ma.us/x") == "example.pvt.k12.ma.us")
    assert(psl("http://pvt.k12.ma.us/x") == "pvt.k12.ma.us", "bare suffix → self")
    // 4-label wildcard base: *.compute.amazonaws.com.cn → 5-label suffix
    assert(psl("http://app.z1.compute.amazonaws.com.cn/x") ==
      "app.z1.compute.amazonaws.com.cn")
    // private section ships too: github.io is a public suffix
    assert(psl("http://user.github.io/x") == "user.github.io")
    // unicode rules are IDNA-normalized at parse: 中国 = xn--fiqs8s, and a
    // unicode HOST normalizes into the same ASCII space via urlHost
    assert(psl("http://example.xn--fiqs8s/x") == "example.xn--fiqs8s")
    assert(psl("http://example.中国/x") == "example.xn--fiqs8s")
    // parsed shape of the full list: 5-label suffixes, >9k rules
    val rs = TextOps.parsePsl(TextOps.PslRulesFull)
    assert(rs.maxP == 5)
    val nRules = rs.plain.values.map(_.size).sum +
      rs.wild.values.map(_.size).sum + rs.exc.values.map(_.size).sum
    assert(nRules > 9000, s"full list parsed to only $nRules rules")
  }

  test("urlHost/canonicalizeUrl: IDN punycode hosts, ASCII bitwise unchanged (r14)") {
    def host(u: String): String = Seq(Tuple1(u)).toDF("u")
      .select(TextOps.urlHost($"u")).as[String].head()
    def canon(u: String): String = Seq(Tuple1(u)).toDF("u")
      .select(TextOps.canonicalizeUrl($"u")).as[String].head()
    // unicode labels → punycode; mixed-case unicode lowercases first
    assert(host("http://BÜCHER.example.com/x") == "xn--bcher-kva.example.com")
    assert(host("http://shop.böcker.se:443/x") == "shop.xn--bcker-jua.se")
    // already-punycode and plain-ASCII hosts are bitwise unchanged
    assert(host("http://xn--bcher-kva.example.com/x") ==
      "xn--bcher-kva.example.com")
    assert(host("http://www.Example.COM:443/x") == "example.com")
    // malformed label falls back soft, never throws
    assert(host("http://exämple..com/x") == "xn--exmple-cua..com")
    // canonicalizeUrl carries the same host normalization
    assert(canon("https://BÜCHER.example.com/Path/?utm_source=x&b=2") ==
      "http://xn--bcher-kva.example.com/Path?b=2")
  }

  test("bpeEncode: merge chain compresses, merged-of-merged applies, wordless doc -> (0,0)") {
    // merges learned on this corpus (proven above): (a,a), (a,b), (aa,aa).
    // "aaaa" -> m1 [aa,aa] -> m3 [aaaa] = 1 token from 4 chars;
    // "ab ab ab" -> m2 [ab][ab][ab] = 3 tokens from 6 chars;
    // doc 4 has no extractable words at all.
    val docs = Seq((1L, "aaaa"), (2L, "aaaa"), (3L, "ab ab ab"), (4L, "   "))
      .toDF("doc_id", "text")
    val got = TextOps.bpeEncode(docs, "doc_id", "text", 3)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 4L, 1L), (2L, 4L, 1L), (3L, 6L, 3L), (4L, 0L, 0L)))
    assert(got.forall { case (_, nc, nb) => nb <= nc },
      "a merge can only shrink the symbol count")
  }

  test("UnicodeNorm properties: idempotence and NFKC absorption over random BMP strings; IBAN fold vs reference reimplementation") {
    import graft.functions.UnicodeNorm.{nfc, nfkc}
    import graft.ops.TextOps
    val rnd = new scala.util.Random(7)
    // random strings mixing ASCII, combining marks, precomposed
    // letters, full-width forms and ligatures — the normalization
    // classes under test
    val pool = "abcXYZ 09" + "\u0301\u0308\u030A" + "\u00e9\u00c5\u00f6" +
      "\uff41\uff22" + "\ufb01" + "\u4e2d\u3042\ud55c"
    def rs() = (0 until (3 + rnd.nextInt(12)))
      .map(_ => pool(rnd.nextInt(pool.length))).mkString
    val rows = (1 to 300).map(_ => rs()).toDF("s")
    val got = rows.select(col("s"),
        nfc(col("s")).as("c"), nfkc(col("s")).as("k"),
        nfc(nfc(col("s"))).as("cc"), nfkc(nfkc(col("s"))).as("kk"),
        nfkc(nfc(col("s"))).as("kc"))
      .collect()
    got.foreach { r =>
      assert(r.getString(1) == r.getString(3), "NFC must be idempotent")
      assert(r.getString(2) == r.getString(4), "NFKC must be idempotent")
      assert(r.getString(2) == r.getString(5), "NFKC absorbs a prior NFC")
    }
    // the engine path agrees with java.text.Normalizer directly
    got.foreach { r =>
      assert(r.getString(1) ==
        java.text.Normalizer.normalize(r.getString(0),
          java.text.Normalizer.Form.NFC))
    }
    // IBAN: the column fold agrees with a driver-side reference
    // reimplementation over shaped fuzz (valid ~1/97 of the time)
    def ref(s: String): Boolean = {
      if (!s.matches("^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$")) false
      else {
        val r = s.substring(4) + s.substring(0, 4)
        r.foldLeft(0L) { (acc, ch) =>
          if (ch.isDigit) (acc * 10 + (ch - '0')) % 97
          else (acc * 100 + (ch - 'A' + 10)) % 97
        } == 1L
      }
    }
    val fuzz = (0 until 400).map { i =>
      "DE" + f"${i % 97}%02d" + f"${(i.toLong * 7919) % 10000000000L}%010d" + "00112233"
    }
    val mine = fuzz.toDF("s")
      .select(col("s"), TextOps.ibanOk(col("s")).as("ok"))
      .as[(String, Boolean)].collect().toMap
    fuzz.foreach(s => assert(mine(s) == ref(s), s))
    assert(fuzz.count(ref) > 0, "fuzz should contain some valid IBANs")
  }

  test("CJK segmentation: bigrams make whitespace-free scripts visible to tokenize/lang-ID/dedup") {
    import graft.ops.{TextOps => T, TextStats => TS}
    val zh = "\u4f60\u597d\u4e16\u754c"            // han only
    val jp = "\u65e5\u672c\u8a9e\u306e\u30c6"             // kana present
    val kr = "\ud55c\uad6d\uc5b4"             // hangul
    val one = "\u4e2d"        // single-char run
    val rows = Seq(
      (1L, "the quick fox " + zh), (2L, jp), (3L, kr),
      (4L, one + " and " + one), (5L, "plain english the and is")
    ).toDF("id", "s")
    val got = rows.select(col("id"),
        T.tokenize(col("s")).as("w"),
        T.cjkCharBigrams(col("s")).as("b"),
        T.tokenizeMixed(col("s")).as("m"),
        TS.langIdMixed(col("s")).as("lang"))
      .as[(Long, Seq[String], Seq[String], Seq[String], String)]
      .collect().map(t => t._1 -> t).toMap
    // the motivating gap: the ASCII tokenizer sees NOTHING of a CJK run
    assert(got(2L)._2.isEmpty && got(3L)._2.isEmpty)
    // overlapping bigrams: a 4-char run yields 3, and mixed = words ++ bigrams
    assert(got(1L)._3 == Seq(zh.substring(0, 2), zh.substring(1, 3), zh.substring(2, 4)))
    assert(got(1L)._4 == got(1L)._2 ++ got(1L)._3)
    // 1-char runs survive as singleton tokens (sequence(1,0) counts
    // DOWN in Spark — the guard is load-bearing)
    assert(got(4L)._3 == Seq(one, one))
    // sub-script presence routing: kana beats han (ja), hangul -> ko,
    // han-only -> zh; pure ASCII falls through to the marker scan
    assert(got(2L)._5 == "ja" && got(3L)._5 == "ko" && got(1L)._5 == "zh")
    assert(got(5L)._5 == "en")
    // shingle-dedup visibility: two docs differing ONLY inside a CJK
    // run now produce different mixed-token keys where the ASCII
    // tokenizer keyed them identically
    val zh2 = "\u4f60\u597d\u4e16\u6587"
    val pair = Seq((1L, "same prefix " + zh), (2L, "same prefix " + zh2)).toDF("id", "s")
      .select(col("id"), md5(array_join(T.tokenize(col("s")), "|")).as("kw"),
        md5(array_join(T.tokenizeMixed(col("s")), "|")).as("km"))
      .as[(Long, String, String)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(pair(1L)._1 == pair(2L)._1, "ASCII tokenizer is blind to the difference")
    assert(pair(1L)._2 != pair(2L)._2, "mixed tokens must distinguish the docs")
  }

  test("UnicodeNorm: NFC unifies the dedup key where byte-hashing splits; NFKC folds presentation forms; ASCII is a bitwise no-op") {
    import graft.functions.UnicodeNorm.{nfc, nfkc}
    // the three classes from VERDICT r14 missing #1, as codepoint
    // escapes so the source file can never be editor-normalized:
    // combining-vs-precomposed, full-width ASCII, ligature
    val combining = "cafe\u0301"       // e + COMBINING ACUTE
    val precomposed = "caf\u00e9"      // precomposed e-acute
    val rows = Seq(
      (1L, combining), (2L, precomposed),
      (3L, "\uff41\uff42\uff43"),       // full-width abc
      (4L, "\ufb01le"),                 // fi-ligature + le
      (5L, "A\u030angstro\u0308m"),     // combining ring + diaeresis
      (6L, "plain ascii 42")
    ).toDF("id", "s")
    val got = rows.select(col("id"), nfc(col("s")).as("c"), nfkc(col("s")).as("k"))
      .as[(Long, String, String)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // NFC composes combining sequences onto their precomposed forms
    assert(got(1L)._1 == precomposed && got(2L)._1 == precomposed)
    assert(got(5L)._1 == "\u00c5ngstr\u00f6m")
    // NFC leaves compatibility forms ALONE; NFKC folds them
    assert(got(3L)._1 == "\uff41\uff42\uff43" && got(3L)._2 == "abc")
    assert(got(4L)._1 == "\ufb01le" && got(4L)._2 == "file")
    // ASCII is untouched by every form
    assert(got(6L) == (("plain ascii 42", "plain ascii 42")))
    // the md5 dedup key: raw bytes SPLIT the combining/precomposed
    // pair, the NFC-normalized key UNIFIES it (the reason the r15
    // normalizeText applies NFC before hashing)
    val keys = rows
      .select(col("id"), md5(col("s")).as("raw"),
        md5(graft.ops.TextOps.normalizeText(col("s"))).as("norm"))
      .as[(Long, String, String)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(keys(1L)._1 != keys(2L)._1, "byte hash must split the pair")
    assert(keys(1L)._2 == keys(2L)._2, "NFC-normalized key must unify the pair")
    // nulls propagate, not crash
    val n = Seq((1L, Option.empty[String])).toDF("id", "s")
      .select(nfc(col("s"))).collect()(0)
    assert(n.isNullAt(0))
    // stripDiacritics: precomposed and combining land on ONE base
    // form; compatibility forms (ligature) pass through; ASCII no-op
    val sd = Seq("caf\u00e9", "cafe\u0301", "\u00c5ngstr\u00f6m",
        "\ufb01le", "ni\u00f1o", "plain")
      .toDF("s")
      .select(col("s"), graft.ops.TextOps.stripDiacritics(col("s")).as("d"))
      .as[(String, String)].collect().toMap
    assert(sd("caf\u00e9") == "cafe" && sd("cafe\u0301") == "cafe")
    assert(sd("\u00c5ngstr\u00f6m") == "Angstrom")
    assert(sd("\ufb01le") == "\ufb01le", "ligature is NFKC's job, not Mn-strip's")
    assert(sd("ni\u00f1o") == "nino" && sd("plain") == "plain")
  }
}
