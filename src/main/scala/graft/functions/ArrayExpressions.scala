package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Mode of an array with the reference's tie-break: among the most frequent values the
  * LARGEST wins (aggregating_transformers.py:136 `mode().sort(descending=True).first()`).
  * Used for time-rolling mode where the per-row window contents must be aggregated
  * whole (`collect_list` over the range frame → ArrayMode), matching Polars' semantics
  * of evaluating the full inner expression per window.
  */
case class ArrayMode(child: Expression) extends UnaryExpression with CodegenFallback {
  private lazy val elementType: DataType = child.dataType.asInstanceOf[ArrayType].elementType
  override def dataType: DataType = elementType
  override def nullable: Boolean = true

  @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(elementType)

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val counts = new java.util.HashMap[Any, Integer]()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) counts.merge(arr.get(i, elementType), 1, (a, b) => a + b)
      i += 1
    }
    if (counts.isEmpty) return null
    var best: Any = null
    var bestCount = -1
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue.intValue()
      if (c > bestCount || (c == bestCount && ordering.compare(e.getKey, best) > 0)) {
        best = e.getKey; bestCount = c
      }
    }
    best
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Kernels over a whole collected array, called through [[KernelCall]]. */
object ArrayKernels {
  /** Shannon entropy (base 2) of the value distribution of a string array — the
    * rolling-window form of entity entropy (window contents collected, then aggregated
    * whole, matching Polars' rolling evaluation of the full inner expression). Null
    * when the array has no non-null element.
    */
  def entropy(arr: ArrayData): java.lang.Double = {
    val n = arr.numElements()
    if (n == 0) return null
    val counts = new java.util.HashMap[UTF8String, Integer]()
    var total = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { counts.merge(arr.getUTF8String(i), 1, (a, b) => a + b); total += 1 }
      i += 1
    }
    if (total == 0) return null
    var h = 0.0
    val invLog2 = 1.0 / math.log(2.0)
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next().doubleValue() / total
      h -= p * math.log(p) * invLog2
    }
    h
  }
}

/** Arg-extreme over an array of (value, arg) structs: the arg at the minimal (or
  * maximal) non-null value, first occurrence winning ties — the rolling-window form of
  * argmin/argmax.
  */
case class ArrayArgExtreme(child: Expression, findMax: Boolean)
    extends UnaryExpression with CodegenFallback {
  private lazy val structType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
  private lazy val valueType: DataType = structType.fields(0).dataType
  override def dataType: DataType = structType.fields(1).dataType
  override def nullable: Boolean = true

  @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(valueType)

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var best: Any = null
    var bestArg: Any = null
    var found = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val row = arr.get(i, structType).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        if (!row.isNullAt(0)) {
          val value = row.get(0, valueType)
          val better = !found ||
            (if (findMax) ordering.compare(value, best) > 0 else ordering.compare(value, best) < 0)
          if (better) {
            best = value
            bestArg = if (row.isNullAt(1)) null else row.get(1, dataType)
            found = true
          }
        }
      }
      i += 1
    }
    bestArg
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object arrayfns {
  def arrayMode(c: Column): Column = ColumnBridge.column(ArrayMode(ColumnBridge.expression(c)))
  /** [[ArrayKernels.entropy]] of an array&lt;string&gt; column. */
  def arrayEntropy(c: Column): Column = KernelCall.orNull(ArrayKernels, "entropy", DoubleType, c)
  def arrayArgExtreme(c: Column, findMax: Boolean): Column =
    ColumnBridge.column(ArrayArgExtreme(ColumnBridge.expression(c), findMax))
}
