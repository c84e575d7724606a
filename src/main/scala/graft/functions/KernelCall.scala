package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, ObjectType}

/** The one way a fixed-type kernel enters a plan: Spark's built-in `StaticInvoke`
  * over the static forwarder a top-level Scala `object` emits for each method.
  * Generated code is the direct call `graft.functions.TextKernels.fn(args)` inside
  * the surrounding whole-stage stage; the interpreted path calls the same method
  * by reflection. A null argument yields null without calling the kernel, so the
  * output is nullable exactly when an argument is (or, for [[KernelCall.orNull]],
  * always: the kernel returns a boxed value that may itself be null).
  *
  * Arguments are Columns, `Int`/`Double` constants (typed literals), or an object
  * built on the driver (an automaton, a model, a lookup table). Such an object
  * travels as an `ObjectType` literal: generated code holds it as a reference
  * object, and plan equality and plan text use its `equals` and `toString`.
  *
  * A kernel keeps its own Expression class only when it must read its input's
  * resolved type: [[SrpSketchBands]], [[CosineSimilarity]] and [[ArgMaxCosine]]
  * pick a numeric element tag, [[ArrayMode]] and [[ArrayArgExtreme]] read the
  * element type. Every other kernel is a method on a kernel object, called
  * through here.
  */
private[graft] object KernelCall {
  /** `kernels.fn(args...)` as a Column of `dataType`. */
  def apply(kernels: AnyRef, fn: String, dataType: DataType, args: Any*): Column =
    call(kernels, fn, dataType, returnNullable = false, args)

  /** Same, for a kernel whose boxed result is null for some non-null inputs. */
  def orNull(kernels: AnyRef, fn: String, dataType: DataType, args: Any*): Column =
    call(kernels, fn, dataType, returnNullable = true, args)

  private def call(kernels: AnyRef, fn: String, dataType: DataType,
      returnNullable: Boolean, args: Seq[Any]): Column =
    ColumnBridge.column(StaticInvoke(kernels.getClass, dataType, fn, args.map {
      case c: Column => ColumnBridge.expression(c)
      case v: Int => Literal(v)
      case v: Double => Literal(v)
      case v: AnyRef => Literal(v, ObjectType(v.getClass))
    }, returnNullable = returnNullable))
}
