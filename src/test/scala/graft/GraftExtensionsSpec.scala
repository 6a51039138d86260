package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("registerAll: every kernel callable from plain SQL on a live session, equal to the Column API") {
    GraftExtensions.registerAll(spark)

    assert(spark.sql("SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) == 11.0)

    val viaSql = spark.sql("SELECT char_shingle_hashes('abcdef', 3) AS h")
      .as[Seq[Long]].head()
    val viaCol = Seq("abcdef").toDF("s")
      .select(CharShingleHashes.char_shingle_hashes($"s", 3).as("h"))
      .as[Seq[Long]].head()
    assert(viaSql == viaCol && viaSql.nonEmpty)

    val keptSql = spark.sql(
      "SELECT span_cover_mask(array('a','b','c','d'), array(2), 2) AS kept")
      .as[Seq[String]].head()
    assert(keptSql == Seq("a", "d"))  // 1-based span [2,4) covers b,c

    val sigSql = spark.sql(
      "SELECT minhash_sigs(array(10L, 99L), array(3L, 7L), array(1L, 5L), 2147483647L) AS s")
      .as[Seq[Long]].head()
    val sigCol = Seq(Seq(10L, 99L)).toDF("hs")
      .select(MinHashSigs.minhash_sigs($"hs", Seq(3L, 7L), Seq(1L, 5L), 2147483647L).as("s"))
      .as[Seq[Long]].head()
    assert(sigSql == sigCol && sigSql.length == 2)

    val bandSql = spark.sql("SELECT band_hashes(array(11L, 22L, 33L, 44L), 2, 42L) AS b")
      .as[Seq[Long]].head()
    val bandCol = Seq(Seq(11L, 22L, 33L, 44L)).toDF("sig")
      .select(BandHashes.band_hashes($"sig", 2).as("b")).as[Seq[Long]].head()
    assert(bandSql == bandCol && bandSql.length == 2)

    val nc = spark.sql(
      """SELECT nearest_centroid(array(1.0D, 1.0D),
        |  array(5L, 9L),
        |  array(array(0.0D, 0.0D), array(1.0D, 1.0D))) AS c""".stripMargin)
      .select($"c.cid").as[Long].head()
    assert(nc == 9L)
  }

  test("DotProductRewrite: the textbook aggregate(zip_with) dot product is rewritten to the codegen kernel, value-identical") {
    GraftExtensions.registerAll(spark)
    // a TABLE source, not literals — constant folding would otherwise
    // collapse the whole expression before the rewrite is observable
    val emb = Tables.table(spark, TestSpark.Sf, "embeddings")
      .select($"vec_id", graft.ops.KMeansOps.asDouble($"embedding").as("v"))
      .limit(20)
    val hof = emb.as("x").join(emb.as("y"), $"x.vec_id" === $"y.vec_id")
      .selectExpr("x.vec_id AS vec_id",
        "aggregate(zip_with(x.v, y.v, (p, q) -> p * q), 0.0D, (acc, w) -> acc + w) AS d")
    assert(hof.queryExecution.optimizedPlan.toString.contains("dot_product"),
      s"rewrite did not fire:\n${hof.queryExecution.optimizedPlan}")
    // bit-identical to the kernel called directly
    val direct = emb.select($"vec_id",
      graft.ops.Similarity.dot($"v", $"v").as("d"))
    val got = hof.orderBy("vec_id").as[(Long, Double)].collect().toSeq
    val want = direct.orderBy("vec_id").as[(Long, Double)].collect().toSeq
    assert(got == want && got.nonEmpty)
    // commuted operand orders still match; a non-product lambda is left alone
    val commuted = emb.selectExpr(
      "aggregate(zip_with(v, v, (x, y) -> y * x), 0.0D, (acc, w) -> w + acc) AS d")
    assert(commuted.queryExecution.optimizedPlan.toString.contains("dot_product"))
    val other = emb.selectExpr(
      "aggregate(zip_with(v, v, (x, y) -> x + y), 0.0D, (acc, w) -> acc + w) AS d")
    assert(!other.queryExecution.optimizedPlan.toString.contains("dot_product"))
  }

  test("DotProduct: NULL on length mismatch — identical to the HOF form's null-padding semantics") {
    GraftExtensions.registerAll(spark)
    val mismatch = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0))).toDF("a", "b")
    val viaKernel = mismatch.selectExpr("dot_product(a, b) AS d").head()
    val viaHof = mismatch.selectExpr(
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v) AS d").head()
    assert(viaKernel.isNullAt(0) && viaHof.isNullAt(0))
  }

  test("withExtensions: a fresh session built with GraftExtensions resolves the kernels without registerAll") {
    val orig = spark  // force TestSpark init before touching default session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      // same SparkContext, NEW session state with the extensions applied
      assert(s2 ne orig)
      assert(s2.sql("SELECT dot_product(array(2.0D, 3.0D), array(4.0D, 5.0D))")
        .head().getDouble(0) == 23.0)
      assert(s2.sql("SELECT char_shingle_hashes('xyzw', 2) AS h")
        .head().getSeq[Long](0).length == 3)
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }
}
