package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One document's dense L2-normalized TF-IDF vector, built in place from
  * its token array — the per-document map of the reference's TF-IDF
  * reducer (ReducerExtractFeatureTFIDF.java:56-80) as one narrow
  * codegen loop.
  *
  * The composed dense form ([[graft.ops.Tfidf.tfidfVectors]] with
  * `dense = true`) crosses every document with the vocabulary, left-joins
  * a term-count shuffle and takes a per-document norm window: two
  * shuffles of docs × vocab rows, and the result is exploded, so turning
  * it back into one vector per document needs a third. Here the vocab
  * index (word → position) and the idf array are codegen reference
  * objects — they ship inside the serialized plan like broadcast
  * variables, and the generated source does not depend on the corpus —
  * and each row maps `array<string>` tokens to `array<double>` over the
  * vocabulary in the given order, with zero shuffle.
  *
  * Arithmetic is the composed form's, element for element: per
  * vocabulary word, tf = cnt/len (0 when len = 0; len counts every
  * token, out-of-vocabulary and null ones included, which themselves
  * get no dimension), w = tf·idf, weight = w/‖w‖ (0 when ‖w‖ = 0),
  * rounded HALF_UP to `scale` dp through `BigDecimal.valueOf` exactly
  * as Spark's `round` does (NaN and ±∞ pass through). ‖w‖ sums the
  * squares in vocabulary order.
  */
case class DenseTfidf(child: Expression, vocab: Array[String], idf: Array[Double], scale: Int)
    extends UnaryExpression {

  require(vocab.length == idf.length,
    s"dense_tfidf: ${vocab.length} vocabulary words but ${idf.length} idf values")
  require(vocab.distinct.length == vocab.length, "dense_tfidf: vocabulary words must be distinct")

  @transient private lazy val index: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](vocab.length * 2)
    vocab.zipWithIndex.foreach { case (w, i) => m.put(UTF8String.fromString(w), Int.box(i)) }
    m
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dense_tfidf requires array<string>, got $t")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "dense_tfidf"
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"${vocab.length} words", scale)

  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val len = toks.numElements()
    val w = new Array[Double](idf.length)
    var i = 0
    while (i < len) {
      if (!toks.isNullAt(i)) {
        val j = index.get(toks.getUTF8String(i))
        if (j != null) w(j) += 1.0
      }
      i += 1
    }
    var ss = 0.0
    var j = 0
    while (j < w.length) {
      val tf = if (len == 0) 0.0 else w(j) / len
      w(j) = tf * idf(j)
      ss += w(j) * w(j)
      j += 1
    }
    val nrm = math.sqrt(ss)
    j = 0
    while (j < w.length) {
      val x = if (nrm == 0.0) 0.0 else w(j) / nrm
      if (x != 0.0 && !x.isNaN && !x.isInfinite) {
        w(j) = java.math.BigDecimal.valueOf(x)
          .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
      } else w(j) = x
      j += 1
    }
    new GenericArrayData(w)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val indexRef = ctx.addReferenceObj("vocabIndex", index, "java.util.HashMap")
    val idfRef = ctx.addReferenceObj("idf", idf, "double[]")
    nullSafeCodeGen(ctx, ev, toks => {
      val len = ctx.freshName("len")
      val w = ctx.freshName("w")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val pos = ctx.freshName("pos")
      val tf = ctx.freshName("tf")
      val ss = ctx.freshName("ss")
      val nrm = ctx.freshName("nrm")
      val x = ctx.freshName("x")
      s"""
        int $len = $toks.numElements();
        double[] $w = new double[$idfRef.length];
        for (int $i = 0; $i < $len; $i++) {
          if (!$toks.isNullAt($i)) {
            Integer $pos = (Integer) $indexRef.get($toks.getUTF8String($i));
            if ($pos != null) $w[$pos.intValue()] += 1.0;
          }
        }
        double $ss = 0.0;
        for (int $j = 0; $j < $w.length; $j++) {
          double $tf = ($len == 0) ? 0.0 : $w[$j] / $len;
          $w[$j] = $tf * $idfRef[$j];
          $ss += $w[$j] * $w[$j];
        }
        double $nrm = java.lang.Math.sqrt($ss);
        for (int $j = 0; $j < $w.length; $j++) {
          double $x = ($nrm == 0.0) ? 0.0 : $w[$j] / $nrm;
          if ($x != 0.0 && !Double.isNaN($x) && !Double.isInfinite($x)) {
            $x = java.math.BigDecimal.valueOf($x)
              .setScale($scale, java.math.RoundingMode.HALF_UP).doubleValue();
          }
          $w[$j] = $x;
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($w);
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): DenseTfidf =
    copy(child = newChild)
}

object DenseTfidf {
  /** Column-API handle: the dense TF-IDF `array<double>` of `tokens`
    * over `vocab` (in the order given), `idf(i)` belonging to `vocab(i)`. */
  def dense_tfidf(tokens: Column, vocab: Seq[String], idf: Seq[Double], scale: Int = 6): Column =
    org.apache.spark.sql.GraftSqlBridge.toColumn(
      DenseTfidf(org.apache.spark.sql.GraftSqlBridge.toExpression(tokens),
        vocab.toArray, idf.toArray, scale))
}
