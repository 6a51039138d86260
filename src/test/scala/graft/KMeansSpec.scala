package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.KMeansOps

class KMeansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val points = Tables.table(spark, TestSpark.Sf, "embeddings")
    .select($"vec_id", KMeansOps.asDouble($"embedding").as("v"))

  test("lloyd: SSE non-increasing, <=k clusters, every point assigned once") {
    val n = points.count()
    val res = KMeansOps.lloyd(points, "vec_id", "v", k = 5, seed = 7L, maxIter = 10)
    val totals = res.sseHistory.map(_.values.sum)
    totals.sliding(2).foreach { case Seq(prev, next) =>
      assert(next <= prev + 1e-6, s"SSE increased: $totals")
    }
    assert(res.centroids.length <= 5)
    assert(res.assignments.count() == n)
    assert(res.assignments.select($"vec_id").distinct().count() == n)
    assert(res.converged || res.iterations == 10)
  }

  test("fused assign == composed crossJoin+groupBy argmin, bit-identically") {
    val centroids = points.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"v".as("cvec"))
    val cArr = centroids.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val fused = KMeansOps.assign(points, "vec_id", "v", cArr)
    val composed = points
      .crossJoin(broadcast(centroids))
      .withColumn("dist", KMeansOps.euclid($"v", $"cvec"))
      .groupBy($"vec_id")
      .agg(min(struct($"dist", $"cid")).as("m"), first($"v").as("v"))
      .select($"vec_id", $"m.cid".as("cluster"), $"m.dist".as("dist"), $"v")
    val a = fused.orderBy("vec_id").collect()
    val b = composed.orderBy("vec_id").collect()
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x != $y") }
  }

  test("L2-normalized tfidf vectors have unit norm per nonzero doc") {
    val tfidf = SparkEntry.queries("q_tfidf")(spark, TestSpark.Sf)
    val norms = tfidf.groupBy($"doc_id")
      .agg(sum($"weight" * $"weight").as("n2"))
      .filter($"n2" > 0)
      .select($"n2").as[Double].collect()
    assert(norms.nonEmpty)
    norms.foreach(n2 => assert(math.abs(n2 - 1.0) < 1e-3, s"norm² = $n2"))
  }

  test("folded Lloyd round == newCentroids + sse: same centroids, SSE and iteration count") {
    val init = points.filter($"vec_id" < 5).orderBy("vec_id").collect()
      .zipWithIndex.map { case (r, i) => i.toLong -> r.getSeq[Double](1).toArray }
    def bits(v: Array[Double]) = v.toSeq.map(java.lang.Double.doubleToRawLongBits)
    def rounded(cs: Array[(Long, Array[Double])]) =
      cs.map { case (id, v) => id -> v.map(x => BigDecimal(x)
        .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble).toSeq }.toMap
    // the two-plan round: exploded per-dimension means, then a separate SSE
    var cs = init
    var it = 0
    var converged = false
    var history = Vector.empty[Map[Long, Double]]
    while (it < 10 && !converged) {
      val a = KMeansOps.assign(points, "vec_id", "v", cs)
      val next = KMeansOps.newCentroids(a, "v").as[(Long, Int, Double)].collect()
        .groupBy(_._1).map { case (c, rs) => c -> rs.sortBy(_._2).map(_._3) }.toArray
      val sse = KMeansOps.sse(a).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // the folded round over the same assignment
      val folded = KMeansOps.roundStats(a, "v", dim = init.head._2.length)
      assert(folded.map(f => f._1 -> bits(f._2)).toMap == next.map(n => n._1 -> bits(n._2)).toMap)
      assert(folded.map(f => f._1 -> f._3).toMap == sse)
      history :+= sse
      converged = rounded(next) == rounded(cs)
      cs = next
      it += 1
    }
    val res = KMeansOps.lloydInit(points, "vec_id", "v", init, maxIter = 10)
    assert(res.iterations == it && res.converged == converged)
    assert(it > 1, "the fixture should take more than one round")
    assert(res.sseHistory == history)
    assert(res.centroids.map(c => c._1 -> bits(c._2)).toMap == cs.map(c => c._1 -> bits(c._2)).toMap)
  }
}
