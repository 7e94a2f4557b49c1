package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused PQ code assignment: for each of `m` subspaces, the argmin-L2
  * centroid index against the broadcast codebook matrix, in one tight
  * per-row loop — the ArgmaxCell/HashEmbed pattern applied to the PQ
  * kernel.
  *
  * Why (r16, after the r15 measurements): the composed form — a
  * transform/aggregate/aggregate HOF tower over `sequence(...)` — runs
  * INTERPRETED (higher-order lambdas never codegen), walking an
  * expression tree per (subspace × centroid × dim) term for every row;
  * r15 measured a STATIC expansion of the same argmin 3-9× slower
  * still (codegen method-budget fallback on a duplicated tree), and
  * recorded "a genuinely fused native Expression is the real answer"
  * — this is that expression. CodegenFallback by design: the per-row
  * boxing is noise against the m·ksub·dsub fused flops, and the
  * codebooks live in one JVM double array instead of a literal tree.
  *
  * Semantics mirror [[graft.operators.Similarity.pqCodesComposed]]
  * BIT-FOR-BIT (spec-pinned):
  *  - per-(subspace, centroid) distance accumulates (x_t − c_t)²
  *    left-to-right in double — the same IEEE sequence as the HOF
  *    aggregate; float inputs widen exactly as Catalyst's promotion;
  *  - strict `<` against a Double.MaxValue init keeps the FIRST
  *    minimum — ties break toward the lowest centroid index, and a
  *    NaN/overflowed-to-∞ distance never wins (Java `<` is false),
  *    exactly as the `when(dist < acc.d)` null/false semantics;
  *  - a null vector or a null element inside a subspace's slice
  *    yields code −1 for that subspace (the HOF's element_at-null →
  *    null-dist → init-survives path), other subspaces unaffected.
  *
  * One DELIBERATE divergence: a vector SHORTER than m·dsub gets −1
  * for the cut subspaces, where the composed form's `element_at`
  * RAISES under ANSI (Spark 4 default). The store paths never carry
  * ragged vectors here (normalize filters nulls and gates use
  * fixed-dim embeddings), so no declared query can observe the
  * difference; the graceful −1 matches this operator's documented
  * null contract.
  */
case class PqCodesExpr(child: Expression, m: Int, ksub: Int, dsub: Int,
    flat: Array[Double])
    extends UnaryExpression with CodegenFallback {

  require(flat.length == m * ksub * dsub,
    s"PqCodesExpr: codebook length ${flat.length} != m*ksub*dsub " +
      s"(${m * ksub * dsub})")

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = true)
  // the composed form returns an m-element array even for a null
  // vector (the outer transform ranges over a literal sequence), so
  // the fused form is non-nullable too and handles null input itself
  override def nullable: Boolean = false
  override def prettyName: String = "pq_codes"

  // any other element type would be read with getDouble and decode
  // garbage, so it fails analysis instead
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pq_codes requires array<float> or array<double>, got " +
          other.catalogString)
    }

  private lazy val elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val out = new Array[Any](m)
    if (v == null) {
      var j = 0
      while (j < m) { out(j) = -1; j += 1 }
      return new GenericArrayData(out)
    }
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    var j = 0
    while (j < m) {
      val base = j * dsub
      var ok = base + dsub <= n
      if (ok) {
        var t = 0
        while (t < dsub && ok) {
          if (a.isNullAt(base + t)) ok = false
          t += 1
        }
      }
      if (!ok) out(j) = -1
      else {
        // hoist the subspace slice once (ArrayData getters are not free)
        val x = new Array[Double](dsub)
        var t = 0
        while (t < dsub) {
          x(t) =
            if (elemIsFloat) a.getFloat(base + t).toDouble
            else a.getDouble(base + t)
          t += 1
        }
        var best = -1
        var bestD = Double.MaxValue
        var c = 0
        while (c < ksub) {
          val cbase = (j * ksub + c) * dsub
          var d = 0.0
          t = 0
          while (t < dsub) {
            val diff = x(t) - flat(cbase + t)
            d += diff * diff
            t += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        out(j) = best
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(
      newChild: Expression): PqCodesExpr = copy(child = newChild)
}

object PqCodesExpr {
  def apply(vec: Column, m: Int, ksub: Int, dsub: Int,
      flat: Seq[Double]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(PqCodesExpr(ColumnBridge.expression(vec),
      m, ksub, dsub, flat.toArray))
  }
}
