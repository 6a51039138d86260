package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Mojibake

/** Mojibake repair (VERDICT r15 #4): closed-form fixture repairs, the
  * clean-text bitwise no-op contract, and the fixpoint bound.
  */
class MojibakeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fixtures: Seq[(String, String)] = Seq(
      ("caf\u00c3\u00a9 au lait", "caf\u00e9 au lait"),
      ("na\u00c3\u00afve d\u00c3\u00a9j\u00c3\u00a0 vu", "na\u00efve d\u00e9j\u00e0 vu"),
      ("\u00c3\u00bcber stra\u00c3\u0178e", "\u00fcber stra\u00dfe"),
      ("\u00e2\u201a\u00ac100 \u00e2\u20ac\u00a2 z\u00c3\u00bcrich \u00e2\u20ac\u201c hei\u00c3\u0178", "\u20ac100 \u2022 z\u00fcrich \u2013 hei\u00df"),
      ("\u00e6\u2014\u00a5\u00e6\u0153\u00ac\u00e8\u00aa\u017e \u00e3\u0192\u2020\u00e3\u201a\u00ad\u00e3\u201a\u00b9\u00e3\u0192\u02c6", "\u65e5\u672c\u8a9e \u30c6\u30ad\u30b9\u30c8"))

  test("double-encoded fixtures repair to their clean originals") {
    val got = fixtures.map(_._1).toDF("s")
      .select(Mojibake.fixEncoding($"s")).as[String].collect()
    assert(got.toSeq == fixtures.map(_._2))
  }

  test("doubly-double-encoded text repairs to the clean fixpoint (<= 3 rounds)") {
    val twice = "caf\u00c3\u0192\u00c2\u00a9 au lait"
    val got = Seq(twice).toDF("s")
      .select(Mojibake.fixEncoding($"s")).as[String].head()
    assert(got == "caf\u00e9 au lait")
  }

  test("clean ASCII corpus is bitwise untouched (fast path) and detection stays quiet") {
    val docs = Tables.table(spark, TestSpark.Sf, "documents")
    val changed = docs.filter(
      Mojibake.fixEncoding($"text") =!= $"text").count()
    assert(changed == 0L, "repair must not touch the ASCII corpus")
    val detected = docs.filter(Mojibake.isMojibake($"text")).count()
    assert(detected == 0L)
  }

  test("genuinely-clean non-ASCII text is untouched: strict-decode and unmappable rejection paths") {
    // single-byte accents (cp1252-encodable but invalid UTF-8),
    // combining marks / CJK / ligature / fullwidth (not cp1252-encodable)
    val cleans = fixtures.map(_._2) ++ Seq(
      "cafe\u0301 combining", "\ufb01le ligature", "\uff41\uff42\uff43 fullwidth")
    val got = cleans.toDF("s")
      .select(Mojibake.fixEncoding($"s")).as[String].collect()
    assert(got.toSeq == cleans)
  }

  test("normalizeText repairs ahead of NFC: corrupt and clean copies meet in one dedup key") {
    import graft.ops.TextOps
    val df = fixtures.toDF("corrupt", "clean")
    val keys = df.select(
      md5(TextOps.normalizeText(TextOps.stripDiacritics(
        Mojibake.fixEncoding($"corrupt")))).as("kc"),
      md5(TextOps.normalizeText(TextOps.stripDiacritics($"clean"))).as("kk"))
      .as[(String, String)].collect()
    assert(keys.forall { case (a, b) => a == b })
    // and WITHOUT repair the damaged latin copies do NOT unify — the
    // repair is load-bearing, not vacuous
    val raw = df.filter(length($"clean") > 0)
      .select(md5(TextOps.normalizeText(TextOps.stripDiacritics($"corrupt"))),
        md5(TextOps.normalizeText(TextOps.stripDiacritics($"clean"))))
      .as[(String, String)].collect()
    assert(raw.count { case (a, b) => a != b } >= 3,
      "expected the un-repaired latin fixtures to produce different keys")
  }
}
