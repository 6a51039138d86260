package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, LongType, StructField, StructType}

/** Row-generating block-pair kernels for the exact all-pairs /
  * exact-kNN similarity operators (r18 optimization round, guide §4.1
  * "eliminate non-codegen closures in the hot path" + VERDICT r17
  * backlog #8): the former `Dataset.flatMap` kernels deserialized
  * every packed block row to EXTERNAL objects —
  * `DeserializeToObject` → `row.getSeq[Row]` → `getSeq[Double]`,
  * which BOXES every vector element once per partner block — and
  * re-serialized the emitted tuples (`SerializeFromObject`). These
  * generators run inside `GenerateExec` on InternalRows: each block's
  * vectors decode once per block-pair task via `toDoubleArray()`
  * (bulk primitive copy, zero boxing), the dot-product loops are the
  * SAME sequential IEEE sums as before (bit-identical output), and no
  * object conversion boundary appears in the plan.
  */
private[graft] object BlockPairKernels {

  /** Decode an array<struct<id:long, u:array<double>>> column value
    * into parallel primitive arrays — one bulk copy per block per
    * task, the only materialization the kernels do. */
  private def decode(ad: ArrayData): (Array[Long], Array[Array[Double]]) = {
    val n = ad.numElements()
    val ids = new Array[Long](n)
    val us = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      val st = ad.getStruct(i, 2)
      ids(i) = st.getLong(0)
      us(i) = st.getArray(1).toDoubleArray()
      i += 1
    }
    (ids, us)
  }

  private val pairSchema = StructType(Seq(
    StructField("id1", LongType, nullable = false),
    StructField("id2", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))

  /** Block column type the kernels decode: array<struct<id:long, u:array<double>>>. */
  private val blockType = ArrayType(StructType(Seq(
    StructField("id", LongType), StructField("u", ArrayType(DoubleType)))))

  private def isBlock(t: DataType): Boolean = t match {
    case ArrayType(StructType(fs), _) if fs.length == 2 =>
      fs(0).dataType == LongType &&
        (fs(1).dataType match {
          case ArrayType(DoubleType, _) => true; case _ => false
        })
    case _ => false
  }

  private val knnSchema = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))

  /** All qualifying pairs of one block pair: every (a ∈ v1, b ∈ v2)
    * with dot ≥ minCos, emitted as (min(id), max(id), cos); same-block
    * rows (`same`) halve the loop with idb > ida — each unordered pair
    * of the corpus is scored in exactly one task, like the flatMap
    * form it replaces. */
  case class CosBlockPairs(
      v1: Expression, v2: Expression, same: Expression, minCos: Expression)
      extends Expression with Generator with CodegenFallback {

    override def children: Seq[Expression] = Seq(v1, v2, same, minCos)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(newChildren(0), newChildren(1), newChildren(2), newChildren(3))
    override def elementSchema: StructType = pairSchema
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (isBlock(v1.dataType) && isBlock(v2.dataType) &&
          same.dataType == BooleanType && minCos.dataType == DoubleType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cos_block_pairs expects ($blockType, $blockType, boolean, double); got " +
            s"(${v1.dataType}, ${v2.dataType}, ${same.dataType}, ${minCos.dataType})")

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val a1 = v1.eval(input); val a2 = v2.eval(input)
      val sm = same.eval(input); val mc = minCos.eval(input)
      if (a1 == null || a2 == null || sm == null || mc == null)
        return Iterator.empty
      val (ia, ua) = decode(a1.asInstanceOf[ArrayData])
      val (ib, ub) = decode(a2.asInstanceOf[ArrayData])
      val sameB = sm.asInstanceOf[Boolean]
      val thr = mc.asInstanceOf[Double]
      new Iterator[InternalRow] {
        private var a = 0
        private var b = 0
        private var nextRow: InternalRow = null
        private def advance(): Unit = {
          while (nextRow == null && a < ia.length) {
            val ida = ia(a); val uaa = ua(a)
            while (nextRow == null && b < ib.length) {
              val idb = ib(b)
              if (if (sameB) idb > ida else idb != ida) {
                val ubb = ub(b)
                var s = 0.0
                var i = 0
                while (i < uaa.length) { s += uaa(i) * ubb(i); i += 1 }
                if (s >= thr)
                  nextRow = new GenericInternalRow(Array[Any](
                    math.min(ida, idb), math.max(ida, idb), s))
              }
              b += 1
            }
            if (nextRow == null) { a += 1; b = 0 }
          }
        }
        override def hasNext: Boolean = { advance(); nextRow != null }
        override def next(): InternalRow = {
          advance()
          val r = nextRow; nextRow = null
          r
        }
      }
    }
  }

  /** Task-local bounded top-k of one block pair: both directions of
    * every scored pair update per-id sorted-insert heaps ((cos desc,
    * dst asc), NaN largest — java.lang.Double.compare, matching the
    * downstream window's ordering), cos pre-rounded with Spark's
    * BigDecimal HALF_UP. Emits each id's local top-k — the same
    * n·blocks·k bound as the flatMap form it replaces. */
  case class KnnBlockTopK(
      v1: Expression, v2: Expression, same: Expression,
      k: Int, scale: Int)
      extends Expression with Generator with CodegenFallback {

    override def children: Seq[Expression] = Seq(v1, v2, same)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(newChildren(0), newChildren(1), newChildren(2))
    override def elementSchema: StructType = knnSchema
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (isBlock(v1.dataType) && isBlock(v2.dataType) && same.dataType == BooleanType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"knn_block_topk expects ($blockType, $blockType, boolean); got " +
            s"(${v1.dataType}, ${v2.dataType}, ${same.dataType})")

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val a1 = v1.eval(input); val a2 = v2.eval(input)
      val sm = same.eval(input)
      if (a1 == null || a2 == null || sm == null) return Iterator.empty
      val (ia, ua) = decode(a1.asInstanceOf[ArrayData])
      val (ib, ub) = decode(a2.asInstanceOf[ArrayData])
      val sameB = sm.asInstanceOf[Boolean]
      // bounded sorted-insert top-k per id: (cos desc, dst asc)
      final class TopK {
        val cs = new Array[Double](k)
        val ds = new Array[Long](k)
        var n = 0
        def add(c: Double, d: Long): Unit = {
          var i = n
          while (i > 0 && {
            val cmp = java.lang.Double.compare(c, cs(i - 1))
            cmp > 0 || (cmp == 0 && d < ds(i - 1))
          }) i -= 1
          if (i < k) {
            val last = math.min(n, k - 1)
            var j = last
            while (j > i) { cs(j) = cs(j - 1); ds(j) = ds(j - 1); j -= 1 }
            cs(i) = c; ds(i) = d
            if (n < k) n += 1
          }
        }
      }
      val heaps = new java.util.HashMap[Long, TopK]()
      def upd(id: Long, dst: Long, c: Double): Unit = {
        var h = heaps.get(id)
        if (h == null) { h = new TopK; heaps.put(id, h) }
        h.add(c, dst)
      }
      var a = 0
      while (a < ia.length) {
        val ida = ia(a); val uaa = ua(a)
        var b = 0
        while (b < ib.length) {
          val idb = ib(b)
          if (if (sameB) idb > ida else idb != ida) {
            val ubb = ub(b)
            var s = 0.0
            var i = 0
            while (i < uaa.length) { s += uaa(i) * ubb(i); i += 1 }
            // Spark Round(double, s): BigDecimal HALF_UP, NaN/Inf pass
            // through (MathExpressions.RoundBase)
            val r =
              if (s.isNaN || s.isInfinite) s
              else BigDecimal(s)
                .setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
            upd(ida, idb, r)
            upd(idb, ida, r)
          }
          b += 1
        }
        a += 1
      }
      val out = new scala.collection.mutable.ArrayBuffer[InternalRow](heaps.size * k)
      val it = heaps.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val h = e.getValue
        var i = 0
        while (i < h.n) {
          out += new GenericInternalRow(Array[Any](e.getKey, h.ds(i), h.cs(i)))
          i += 1
        }
      }
      out
    }
  }

  import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression}

  def cos_block_pairs(v1: Column, v2: Column, same: Column, minCos: Column): Column =
    toColumn(CosBlockPairs(toExpression(v1), toExpression(v2),
      toExpression(same), toExpression(minCos)))

  def knn_block_topk(v1: Column, v2: Column, same: Column, k: Int, scale: Int): Column =
    toColumn(KnnBlockTopK(toExpression(v1), toExpression(v2),
      toExpression(same), k, scale))
}
