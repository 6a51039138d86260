package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.ops.{Tfidf, TextOps}

/** Property tests (SURVEY §5.3): parity of Spark's rounding/formulas
  * with the reference's BigDecimal semantics, over generated inputs.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosinePairsSparse ≡ brute inverted-index join on random sparse unit vectors") {
    // randomized adversary for the APSS prefix bound: skewed term
    // popularity (geometric-ish) so hot terms exercise the suffix-bound
    // pruning, fixed seed for reproducibility
    val rnd = new scala.util.Random(1234)
    val rows = (1L to 120L).map { id =>
      val nTerms = 3 + rnd.nextInt(8)
      val terms = Seq.fill(nTerms)("t" + (math.pow(rnd.nextDouble(), 2) * 40).toInt)
        .distinct
      val ws = terms.map(_ => 0.1 + rnd.nextDouble())
      val nrm = math.sqrt(ws.map(w => w * w).sum)
      terms.zip(ws.map(w => math.rint(w / nrm * 1e6) / 1e6)).map {
        case (t, w) => (id, t, w)
      }
    }
    val e = rows.flatten.toDF("id", "word", "w").localCheckpoint()
    for (theta <- Seq(0.2, 0.5, 0.8)) {
      val brute = e.as("a")
        .join(e.as("b"), $"a.word" === $"b.word" && $"a.id" < $"b.id")
        .groupBy($"a.id".as("id1"), $"b.id".as("id2"))
        .agg(sum($"a.w" * $"b.w").as("cos"))
        .filter($"cos" >= theta)
        .select($"id1", $"id2").as[(Long, Long)].collect().toSet
      val pref = graft.ops.Similarity.cosinePairsSparse(e, theta)
        .select($"id1", $"id2").as[(Long, Long)].collect().toSet
      assert(pref == brute, s"theta=$theta: prefix ${pref.size} vs brute ${brute.size}")
    }
  }

  test("round(x, 6) == BigDecimal HALF_UP for arbitrary doubles") {
    val gen = Gen.chooseNum(-1e6, 1e6)
    val xs = Gen.listOfN(500, gen).sample.get
    val got = xs.toDF("x").select(round($"x", 6).as("r")).as[Double].collect()
    xs.zip(got).foreach { case (x, r) =>
      val want = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r == want, s"x=$x")
    }
  }

  test("idf formula strictly decreasing in df; df=0 backfill is the max") {
    val n = 1000L
    def idf(df: Long) = math.log((n + 1.0) / (df + 1.0)) + 1.0
    val dfs = (0L to 20L) ++ Seq(100L, 999L, 1000L)
    val got = dfs.toDF("df")
      .withColumn("idf", log((lit(n) + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0))
      .as[(Long, Double)].collect().toMap
    dfs.foreach(d => assert(got(d) == idf(d)))
    dfs.sliding(2).foreach { case Seq(a, b) => assert(got(a) > got(b)) }
  }

  test("tokenize: arbitrary ASCII strings — every token matches \\w\\w+, order/dups kept") {
    val gen = Gen.listOfN(30,
      Gen.oneOf(Gen.alphaNumStr.map(_.take(5)), Gen.const(" "), Gen.const("!"), Gen.const("_a")))
      .map(_.mkString(""))
    val texts = Gen.listOfN(100, gen).sample.get
    val toks = texts.toDF("text").select(TextOps.tokenize($"text").as("t"))
      .as[Seq[String]].collect()
    val re = java.util.regex.Pattern.compile("(?u)\\b\\w\\w+\\b")
    texts.zip(toks).foreach { case (text, ts) =>
      val m = re.matcher(text.toLowerCase)
      val want = Iterator.continually(m).takeWhile(_.find()).map(_.group()).toList
      assert(ts == want, s"text=$text")
    }
  }

  test("L2 norm of tfidf vectors ~ 1 for random synthetic corpora") {
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val rnd = new scala.util.Random(7)
    val docs = (1L to 50L).map { id =>
      id -> Seq.fill(1 + rnd.nextInt(20))(words(rnd.nextInt(words.size)))
    }.toDF("id", "toks")
    val n = docs.count()
    val vocab = Oracles.withIdf(Tfidf.docFreq(docs, "id", "toks"), n)
    val w = Tfidf.tfidfVectors(docs, "id", "toks", vocab, scale = 9)
    val norms = w.groupBy($"id").agg(sum($"weight" * $"weight").as("n2"))
      .as[(Long, Double)].collect()
    assert(norms.length == 50)
    norms.foreach { case (id, n2) => assert(math.abs(n2 - 1.0) < 1e-6, s"doc $id: $n2") }
  }

  test("redactPii is idempotent and leaves PII-free strings untouched (generated inputs)") {
    val word = Gen.alphaNumStr.map(_.take(6))
    val pii = Gen.oneOf(
      Gen.const("bob@x-corp.io"), Gen.const("a_1%z@m.co"),
      Gen.const("555-123-4567"), Gen.const("123.456.7890"))
    val part = Gen.frequency(4 -> word, 1 -> pii)
    val texts = Gen.listOfN(200, Gen.listOfN(8, part).map(_.mkString(" "))).sample.get
    val got = texts.toDF("t")
      .select($"t", TextOps.redactPii($"t").as("r1"),
        TextOps.redactPii(TextOps.redactPii($"t")).as("r2"),
        TextOps.piiCount($"t").cast("int").as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
    got.foreach { case (t, r1, r2, n) =>
      assert(r1 == r2, s"not idempotent on: $t")
      assert(!r1.contains("@x-corp.io") && !r1.contains("555-123-4567"), s"pii survived: $r1")
      if (n == 0) assert(r1 == t, s"clean text mutated: $t")
    }
  }

  test("quantizeInt8: codes bounded and reconstruction within one scale step for arbitrary vectors") {
    val vec = Gen.listOfN(8, Gen.chooseNum(-1e3, 1e3))
    val vs = Gen.listOfN(150, vec).sample.get :+ List.fill(8)(0.0)
    val got = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
      .select($"id", $"v", graft.ops.Similarity.quantizeInt8($"v").as("z"))
      .select($"id", $"v", $"z.scale".as("s"), $"z.q".as("q"))
      .as[(Long, Seq[Double], Double, Seq[Int])].collect()
    got.foreach { case (id, v, s, q) =>
      assert(q.forall(c => c.abs <= 127), s"vec $id code out of range")
      if (s == 0.0) assert(q.forall(_ == 0))
      else v.zip(q).foreach { case (x, c) =>
        assert(math.abs(c * s - x) <= s + 1e-9, s"vec $id error > scale") }
    }
  }

  test("qualityLogit: monotone in each documented feature direction; scores in (0,1)") {
    import graft.ops.TextStats
    val stop = Dictionaries.Stopwords
    def score(toks: Seq[String]): Double =
      Seq(Tuple1(toks)).toDF("toks")
        .select(TextStats.qualityLogit($"toks", stop).as("q")).head().getDouble(0)
    // diversity ↑ (same lengths, no stopwords, same size): distinct beats repeated
    assert(score(Seq("aa", "bb", "cc", "dd")) > score(Seq("aa", "aa", "aa", "aa")))
    // stopword stuffing ↓ — only the stopword feature differs ("the" is
    // 3 chars like the replaced token; diversity/top-frac/bigrams equal)
    assert(score(Seq("abc", "def", "ghi", "jkl")) > score(Seq("the", "def", "ghi", "jkl")))
    // longer words ↑ (identical diversity/stopword/repetition profiles)
    assert(score(Seq("abcd", "efgh")) > score(Seq("ab", "cd")))
    // bigram repetition ↓
    assert(score(Seq("ab", "cd", "ef", "gh", "ij")) > score(Seq("ab", "cd", "ab", "cd", "ab")))
    // bounded, defined on empty docs (σ(-1.5 + 1.0) at all-zero features)
    val e = score(Seq.empty)
    assert(e > 0.0 && e < 1.0 && math.abs(e - 1.0 / (1.0 + math.exp(0.5))) < 1e-12)
    for (toks <- Seq(Seq("zz"), Seq("the", "the"), (1 to 50).map(i => s"w$i")))
      { val s = score(toks); assert(s > 0.0 && s < 1.0) }
  }

  test("shuffleDeterministic: dense 1..N bijection for arbitrary distinct key sets") {
    val keys = Gen.listOfN(300, Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2))
      .sample.get.distinct
    val out = keys.toDF("k")
      .transform(df => graft.ops.IdOps.shuffleDeterministic(df, "k", salt = "p"))
      .as[(Long, Long)].collect()
    assert(out.map(_._1).toSet == keys.toSet, "keys preserved")
    assert(out.map(_._2).sorted.toSeq == (1L to keys.length.toLong), "dense 1..N")
  }
}
