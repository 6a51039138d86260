package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Nearest-centroid argmin over a driver-side centroid table, fused into
  * one codegen loop — the map-side assignment of Lloyd's K-Means
  * (reference: MapperKMean.java:86-97 computes the same argmin in the
  * mapper with zero shuffle).
  *
  * The composed form (`crossJoin(broadcast(centroids))` + `groupBy(id)
  * .agg(min(struct(dist, cid)), first(vec))`) fans each point out to k
  * rows and shuffles all n·k of them — with the full vector riding
  * along — on every Lloyd iteration: ~k× the corpus per pass at scale.
  * Here the k×dim centroid matrix is a codegen reference object (it
  * ships inside the serialized plan like a broadcast variable) and each
  * point is resolved to `struct(dist, cid)` in-place: zero shuffle,
  * zero join, one narrow pass.
  *
  * Arithmetic is bit-identical to the composed form: per centroid, the
  * squared diffs are summed sequentially in array order then sqrt'd
  * (exactly `sqrt(aggregate(zip_with(v, c, (x,y) => (x-y)^2), 0, +))`),
  * and the winner is the lexicographic min of (dist, cid) — same
  * deterministic tie-break as `min(struct(dist, cid))`, NaN ordered
  * greatest as in Spark's double ordering.
  */
case class NearestCentroid(
    child: Expression,
    cids: Array[Long],
    cvecs: Array[Array[Double]])
    extends UnaryExpression {

  require(cids.nonEmpty && cids.length == cvecs.length,
    "nearest_centroid needs a non-empty centroid table")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroid requires array<double>, got $t")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("dist", DoubleType, nullable = false),
    StructField("cid", LongType, nullable = false)))
  override def prettyName: String = "nearest_centroid"

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    var bestDist = Double.NaN
    var bestCid = 0L
    var j = 0
    while (j < cvecs.length) {
      val c = cvecs(j)
      val n = math.min(x.numElements(), c.length)
      var s = 0.0
      var i = 0
      while (i < n) { val d = x.getDouble(i) - c(i); s += d * d; i += 1 }
      val dist = math.sqrt(s)
      val cmp = if (j == 0) -1 else java.lang.Double.compare(dist, bestDist)
      if (cmp < 0 || (cmp == 0 && cids(j) < bestCid)) { bestDist = dist; bestCid = cids(j) }
      j += 1
    }
    new GenericInternalRow(Array[Any](bestDist, bestCid))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cidsRef = ctx.addReferenceObj("cids", cids, "long[]")
      val vecsRef = ctx.addReferenceObj("cvecs", cvecs, "double[][]")
      val bd = ctx.freshName("bestDist")
      val bc = ctx.freshName("bestCid")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val dist = ctx.freshName("dist")
      val cmp = ctx.freshName("cmp")
      s"""
        double $bd = Double.NaN;
        long $bc = 0L;
        for (int $j = 0; $j < $vecsRef.length; $j++) {
          double[] $c = $vecsRef[$j];
          int $n = java.lang.Math.min($v.numElements(), $c.length);
          double $s = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $d = $v.getDouble($i) - $c[$i];
            $s += $d * $d;
          }
          double $dist = java.lang.Math.sqrt($s);
          int $cmp = ($j == 0) ? -1 : java.lang.Double.compare($dist, $bd);
          if ($cmp < 0 || ($cmp == 0 && $cidsRef[$j] < $bc)) { $bd = $dist; $bc = $cidsRef[$j]; }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          new Object[]{$bd, $bc});
      """
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {
  /** Column-API handle: `struct(dist, cid)` of the nearest centroid. */
  def nearest_centroid(vec: Column, centroids: Array[(Long, Array[Double])]): Column =
    org.apache.spark.sql.GraftSqlBridge.toColumn(
      NearestCentroid(org.apache.spark.sql.GraftSqlBridge.toExpression(vec),
        centroids.map(_._1), centroids.map(_._2)))
}
