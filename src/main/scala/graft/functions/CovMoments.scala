package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Single-pass covariance moment accumulator behind
  * [[graft.ops.Similarity.embedCovariance]].
  *
  * Expanding every input row map-side into its d² outer-product cells
  * costs O(d²) memory per ROW: fine at d=64 (4 160 doubles), fatal at
  * production embedding widths (d=4096 → 16.8M doubles per row). This
  * Aggregator keeps O(d²) memory per PARTITION instead: one flat buffer
  * of d(d+1)/2 upper-triangle product sums + d coordinate sums + a
  * count, accumulated with tight primitive loops (no per-row
  * allocation, no explode). Partial aggregation reduces each partition
  * to ONE buffer row before the exchange, so shuffle volume is
  * partitions × (d(d+1)/2 + d + 1) doubles, symmetry exploited.
  *
  * Buffer layout (flat `Array[Double]`, row-major upper triangle):
  * `[0, tri)` = Σ xᵢxⱼ for i ≤ j at `i·d − i(i−1)/2 + (j − i)`;
  * `[tri, tri+d)` = Σ xᵢ; `[tri+d]` = row count, where
  * tri = d(d+1)/2.
  */
final class CovMoments(d: Int) extends Aggregator[Array[Double], Array[Double], Array[Double]] {
  require(d > 0, "dimension must be positive")
  private val tri = d * (d + 1) / 2

  def zero: Array[Double] = new Array[Double](tri + d + 1)

  def reduce(b: Array[Double], v: Array[Double]): Array[Double] = {
    require(v.length == d, s"vector length ${v.length} != declared dim $d")
    var idx = 0
    var i = 0
    while (i < d) {
      val xi = v(i)
      var j = i
      while (j < d) { b(idx) += xi * v(j); idx += 1; j += 1 }
      b(tri + i) += xi
      i += 1
    }
    b(tri + d) += 1.0
    b
  }

  def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  def finish(b: Array[Double]): Array[Double] = b

  def bufferEncoder: Encoder[Array[Double]] = CovMoments.DoubleArrayEnc
  def outputEncoder: Encoder[Array[Double]] = CovMoments.DoubleArrayEnc
}

object CovMoments {
  private lazy val DoubleArrayEnc: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()

  /** Flat index of the (i,j) product sum (any order) in the buffer. */
  def triIndex(d: Int, i: Int, j: Int): Int = {
    val (lo, hi) = if (i <= j) (i, j) else (j, i)
    lo * d - lo * (lo - 1) / 2 + (hi - lo)
  }
}
