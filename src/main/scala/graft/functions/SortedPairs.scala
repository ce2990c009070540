package graft.functions

import org.apache.spark.sql.{Column, GraftBridge => ExpressionUtils}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Ordered-pair expansion of a (pre-sorted) bucket member array — the fused
  * form of the banded-LSH pair generator every dedup family expands
  * candidates with:
  *
  * {{{
  *   explode(flatten(transform(s, (a, i) =>
  *     transform(slice(s, i + lit(2), size(s)), b => struct(a, b)))))
  * }}}
  *
  * The composed chain is interpreted (HOFs take no part in whole-stage
  * codegen) and allocates per element: an inner array per anchor, a struct
  * per pair, a flatten copy of the whole O(|bucket|²) pair set — all just
  * to be exploded row-by-row. This GENERATOR walks the same (i, j>i) order
  * and emits each pair directly, materializing nothing: per input row the
  * transient footprint is O(1) instead of O(|bucket|²).
  *
  * Emission order and values are identical to the composition (pinned in
  * SortedPairsSpec): pairs stream in (i asc, j asc) order, `a`/`b` carry
  * the untouched array elements (longs or structs — callers project struct
  * fields after, exactly as they did from the composed struct). A null or
  * sub-2-element array emits nothing, like exploding an empty flatten.
  */
object SortedPairs {
  /** Generator column: `sortedPairs(s).as(Seq("a", "b"))`. */
  def apply(s: Column): Column =
    ExpressionUtils.column(SortedPairsExplode(ExpressionUtils.expression(s)))
}

/** Cross-product pair expansion of two arrays — the fused form of
  *
  * {{{
  *   explode(flatten(transform(outer, b => transform(inner, a => struct(a, b)))))
  * }}}
  *
  * Emits one row per (outer element, inner element) pair in the identical
  * outer-major order, streaming instead of materializing the
  * O(|outer|·|inner|) nested arrays + flatten copy. Output columns:
  * `a` = the OUTER element, `b` = the INNER element (callers project
  * struct fields after). Either side null emits nothing. */
object CrossPairs {
  def apply(outer: Column, inner: Column): Column =
    ExpressionUtils.column(CrossPairsExplode(
      ExpressionUtils.expression(outer), ExpressionUtils.expression(inner)))
}

case class CrossPairsExplode(outer: Expression, inner: Expression)
  extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(outer, inner)

  override def checkInputDataTypes(): TypeCheckResult = (outer.dataType, inner.dataType) match {
    case (ArrayType(_, _), ArrayType(_, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"cross_pairs expects two array inputs, got ($l, $r)")
  }

  private lazy val outerType: DataType = outer.dataType.asInstanceOf[ArrayType].elementType
  private lazy val innerType: DataType = inner.dataType.asInstanceOf[ArrayType].elementType

  override def elementSchema: StructType = StructType(
    StructField("a", outerType, outer.dataType.asInstanceOf[ArrayType].containsNull) ::
    StructField("b", innerType, inner.dataType.asInstanceOf[ArrayType].containsNull) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val ov = outer.eval(input)
    val iv = inner.eval(input)
    if (ov == null || iv == null) return Iterator.empty
    val oArr = ov.asInstanceOf[ArrayData]
    val iArr = iv.asInstanceOf[ArrayData]
    val nO = oArr.numElements()
    val nI = iArr.numElements()
    if (nO == 0 || nI == 0) return Iterator.empty
    val (ot, it) = (outerType, innerType)
    new Iterator[InternalRow] {
      private var i = 0 // outer index (major)
      private var j = 0 // inner index
      // ROW-REUSE CONTRACT (both generators in this file): every next()
      // mutates and returns this ONE row. That is safe only because
      // GenerateExec projects each emitted row into its own output row
      // before it calls next() again. Anything that buffers this
      // iterator's raw output would see every buffered pair turn into the
      // last one — keep it unbuffered, or allocate a row per emission.
      private val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
      override def hasNext: Boolean = i < nO
      override def next(): InternalRow = {
        row.update(0, if (oArr.isNullAt(i)) null else oArr.get(i, ot))
        row.update(1, if (iArr.isNullAt(j)) null else iArr.get(j, it))
        j += 1
        if (j >= nI) { j = 0; i += 1 }
        row
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(outer = newChildren(0), inner = newChildren(1))
}

case class SortedPairsExplode(child: Expression)
  extends UnaryExpression with Generator with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sorted_pairs expects an array input, got $t")
  }

  private lazy val elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def elementSchema: StructType = {
    val containsNull = child.dataType.asInstanceOf[ArrayType].containsNull
    StructType(
      StructField("a", elemType, containsNull) ::
      StructField("b", elemType, containsNull) :: Nil)
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) return Iterator.empty
    val et = elemType
    new Iterator[InternalRow] {
      private var i = 0
      private var j = 1
      // one reused row — see the ROW-REUSE CONTRACT in CrossPairsExplode
      private val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
      override def hasNext: Boolean = i < n - 1
      override def next(): InternalRow = {
        row.update(0, if (arr.isNullAt(i)) null else arr.get(i, et))
        row.update(1, if (arr.isNullAt(j)) null else arr.get(j, et))
        j += 1
        if (j >= n) { i += 1; j = i + 1 }
        row
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
