package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Lloyd's K-Means re-expressed Spark-first.
  *
  * Reference: clustering/ — one MapReduce job per iteration with
  * HDFS-materialized centroids (App.java:110-149). Here each iteration
  * is one aggregation over a persisted points DataFrame, collected once
  * ([[roundStats]]); the k centroids live as a driver array, shipped
  * inside the serialized plan as a codegen reference object (k×dim
  * doubles — tiny at any corpus scale) and resolved map-side with zero
  * shuffle.
  *
  *  - distance: full symmetric Euclidean over array vectors
  *    (reference iterates only the centroid's keys,
  *    MapperKMean.java:86-94 — correct there only because vectors are
  *    dense over one vocabulary; see SURVEY §7.5)
  *  - argmin: `min(struct(dist, cid))` — lexicographic struct min gives
  *    deterministic tie-break by centroid id (MapperKMean.java:95-97)
  *  - recompute: exploded per-dimension mean, HALF_UP round
  *    (ReducerKMean.java:49-53, scale 10)
  *  - SSE per cluster: sum of squared point-to-centroid distances
  *    (ReducerKMean.java:36,45,58)
  *  - convergence: exact equality of rounded centroids
  *    (JobClustering.java:227-232)
  *
  * Empty clusters vanish (k shrinks) exactly as in the reference
  * (consequence of ReducerKMean.java:31 grouping).
  */
object KMeansOps {

  /** float[] → double[] so both engines do IEEE double arithmetic. */
  def asDouble(vec: Column): Column = transform(vec, _.cast(DoubleType))

  /** Euclidean distance between two array<double> columns — codegen'd
    * zip_with/aggregate, sequential sum in array order (deterministic).
    */
  def euclid(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _))

  /** Nearest-centroid assignment, map-side: one fused codegen argmin per
    * row over the driver-held centroid matrix ([[graft.functions.NearestCentroid]])
    * — zero shuffle, zero join, matching the reference's in-mapper argmin
    * (MapperKMean.java:86-97). The earlier composed form
    * (crossJoin(broadcast) + groupBy(id).agg(min(struct), first(vec)))
    * shuffled n·k rows with the full vector riding along — ~k× the corpus
    * per Lloyd iteration at scale. Arithmetic and the (dist, cid)
    * lexicographic tie-break are bit-identical to that form.
    * Output: (idCol, cluster, dist, vecCol).
    */
  def assign(
      points: DataFrame, idCol: String, vecCol: String,
      centroids: Array[(Long, Array[Double])]): DataFrame =
    points
      .withColumn("m", graft.functions.NearestCentroid.nearest_centroid(col(vecCol), centroids))
      .select(col(idCol), col("m.cid").as("cluster"), col("m.dist").as("dist"), col(vecCol))

  /** Assignment from a small (cid, cvec: array<double>) DataFrame — the
    * k rows are collected to the driver (k×dim doubles, tiny by
    * contract) and resolved map-side as above.
    */
  def assign(points: DataFrame, idCol: String, vecCol: String, centroids: DataFrame): DataFrame =
    assign(points, idCol, vecCol,
      centroids.select(col("cid").cast("long"), col("cvec"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray))

  /** Per-cluster mean vector in exploded form (cluster, dim, c), rounded
    * HALF_UP to `scale` dp. Exploded groupBy gets map-side partial
    * aggregation — the correct version of the reference's unwired
    * combiner (SURVEY §2.4 A9).
    */
  def newCentroids(assigned: DataFrame, vecCol: String, scale: Int = 10): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("cluster"), col("dim"))
      .agg(round(avg(col("x")), scale).as("c"))

  /** Per-cluster SSE = Σ dist² plus member count (ReducerKMean.java:45,
    * membership via count rather than the reference's collect_list —
    * a list of 1e9 ids per cluster does not scale).
    */
  def sse(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cluster"))
      .agg(sum(col("dist") * col("dist")).as("sse"), count(lit(1)).as("n"))

  /** Per-cluster coordinate sums, member count and Σ dist² of `dim`-wide
    * vectors in one buffer: `[0, dim)` = Σ xᵢ, `[dim]` = n,
    * `[dim + 1]` = Σ dist². Sums run in row order within a partition and
    * partials merge into a zero buffer — the same IEEE additions as
    * Spark's `avg`/`sum` buffers in [[newCentroids]] and [[sse]].
    */
  private final class RoundSums(dim: Int)
      extends Aggregator[(Array[Double], Double), Array[Double], Array[Double]] {
    def zero: Array[Double] = new Array[Double](dim + 2)
    def reduce(b: Array[Double], in: (Array[Double], Double)): Array[Double] = {
      val v = in._1
      require(v.length == dim, s"vector length ${v.length} != centroid dim $dim")
      var i = 0
      while (i < dim) { b(i) += v(i); i += 1 }
      b(dim) += 1.0
      b(dim + 1) += in._2 * in._2
      b
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Double]): Array[Double] = b
    def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
    def outputEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
  }

  /** One Lloyd round's statistics from an [[assign]] output, as ONE
    * aggregation collected once: per cluster, the new centroid (the
    * per-dimension mean, HALF_UP-rounded to `scale` dp) and the SSE.
    * Values equal [[newCentroids]] and [[sse]] over the same assignment
    * (KMeansSpec asserts it); those two need two plans and two collects,
    * and the exploded mean shuffles clusters × dim rows per partition
    * where this shuffles one buffer per cluster.
    */
  def roundStats(
      assigned: DataFrame, vecCol: String, dim: Int,
      scale: Int = 10): Array[(Long, Array[Double], Double)] = {
    val sums = udaf(new RoundSums(dim),
      Encoders.tuple(ExpressionEncoder[Array[Double]](), Encoders.scalaDouble))
    assigned.groupBy(col("cluster"))
      .agg(sums(col(vecCol), col("dist")).as("b"))
      .collect()
      .map { r =>
        val b = r.getSeq[Double](1).toArray
        val n = b(dim)
        // Spark's round(avg(x), scale): sum / count, then BigDecimal HALF_UP
        val mean = Array.tabulate(dim)(i =>
          BigDecimal(b(i) / n).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble)
        (r.getLong(0), mean, b(dim + 1))
      }
  }

  /** Result of a full seeded K-Means run. `assignments` is the last
    * round's [[assign]] plan, lazy over points that [[lloydInit]] has
    * already unpersisted: each action on it recomputes the points'
    * lineage once (one narrow pass when that lineage is narrow, as in
    * the pipeline's stage 3).
    */
  final case class KMeansResult(
      centroids: Array[(Long, Array[Double])],
      assignments: DataFrame,
      sseHistory: Seq[Map[Long, Double]],
      iterations: Int,
      converged: Boolean)

  /** Full seeded Lloyd loop. Initial centroids are a seeded k-sample
    * (reference is unseeded — documented deviation, SURVEY §7.5);
    * convergence is exact equality of round-`scale` centroids, the
    * reference's criterion (JobClustering.java:227-232). `maxIter` is a
    * true iteration cap (the reference's `-m m` runs ≤ m−1 iterations,
    * App.java:122-125 — callers wanting that quirk pass m−1).
    */
  def lloyd(
      points: DataFrame, idCol: String, vecCol: String,
      k: Int, seed: Long, maxIter: Int, scale: Int = 10): KMeansResult = {
    val init = IdOps.sampleK(
        points.select(col(idCol), asDouble(col(vecCol)).as(vecCol)), k, seed, "cid")
      .select(col("cid").cast("long"), col(vecCol))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    lloydInit(points, idCol, vecCol, init, maxIter, scale)
  }

  /** Lloyd loop from caller-supplied initial centroids (the pipeline's
    * stage-2 side-output path, SURVEY §3.2).
    */
  def lloydInit(
      points: DataFrame, idCol: String, vecCol: String,
      init: Array[(Long, Array[Double])], maxIter: Int, scale: Int = 10): KMeansResult = {
    val vec = points.schema(vecCol).dataType match {
      case ArrayType(DoubleType, _) => col(vecCol)
      case _ => asDouble(col(vecCol))
    }
    val pts = points.select(col(idCol), vec.as(vecCol)).persist()
    val dim = init.head._2.length
    try {
      var centroids = init
      def rounded(cs: Array[(Long, Array[Double])]) =
        cs.map { case (id, v) =>
          id -> v.map(x => BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble).toSeq
        }.toMap
      var it = 0
      var converged = false
      var history = Vector.empty[Map[Long, Double]]
      var lastAssign: DataFrame = null
      while (it < maxIter && !converged) {
        val assigned = assign(pts, idCol, vecCol, centroids)
        val round = roundStats(assigned, vecCol, dim, scale)
        val stats = round.map { case (cid, c, _) => cid -> c }
        history :+= round.map { case (cid, _, e) => cid -> e }.toMap
        // Exact full-map equality, as the reference (JobClustering.java:210,
        // 227-232): a vanished cluster keeps maps unequal → keeps iterating.
        converged = rounded(stats) == rounded(centroids)
        centroids = stats
        lastAssign = assigned
        it += 1
      }
      KMeansResult(centroids, lastAssign, history, it, converged)
    } finally pts.unpersist()
  }
}
