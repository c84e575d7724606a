package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Element access for numeric arrays of any primitive type, dispatched on a
  * codegen-constant tag (the tag is embedded as a literal in generated code, so the
  * JIT folds the switch away per compiled call site). This is what lets the vector
  * kernels accept array&lt;int&gt; / array&lt;long&gt; (quantized embeddings) with the
  * same arithmetic the old `aggregate(zip_with(.. cast("double") ..))` formulation
  * applied — every element is widened to double before any multiply.
  */
object NumArrays {
  final val TDouble = 0
  final val TFloat  = 1
  final val TLong   = 2
  final val TInt    = 3
  final val TShort  = 4
  final val TByte   = 5

  def tagOf(t: DataType, who: String): Int = t match {
    case ArrayType(DoubleType, _)  => TDouble
    case ArrayType(FloatType, _)   => TFloat
    case ArrayType(LongType, _)    => TLong
    case ArrayType(IntegerType, _) => TInt
    case ArrayType(ShortType, _)   => TShort
    case ArrayType(ByteType, _)    => TByte
    case other => throw new IllegalArgumentException(
      s"$who needs an array of a primitive numeric element type, got $other")
  }

  def isSupported(t: DataType): Boolean = t match {
    case ArrayType(DoubleType | FloatType | LongType | IntegerType | ShortType | ByteType, _) => true
    case _ => false
  }

  /** Analysis-time check shared by the vector kernels: misuse (array&lt;string&gt;, a
    * non-array, …) should fail as an AnalysisException at plan time, not as a class
    * cast / IllegalArgumentException at codegen or execution time.
    */
  def checkInput(who: String, t: DataType): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (isSupported(t)) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$who needs an array of a primitive numeric element type, got ${t.catalogString}")

  def get(a: ArrayData, tag: Int, i: Int): Double = tag match {
    case TDouble => a.getDouble(i)
    case TFloat  => a.getFloat(i).toDouble
    case TLong   => a.getLong(i).toDouble
    case TInt    => a.getInt(i).toDouble
    case TShort  => a.getShort(i).toDouble
    case _       => a.getByte(i).toDouble
  }
}

/** Dense-vector kernels for the ANN / embedding-dedup family.
  *
  * The arithmetic is EXACTLY the sequential double left-fold the previous
  * higher-order-function formulation used (`aggregate(zip_with(a, b, p·q), 0.0, +)`),
  * which is also what DuckDB's `list_dot_product` over `DOUBLE[]` computes — so the
  * cross-engine oracles stay bit-identical while the per-pair cost drops from ~400
  * interpreted lambda calls to one tight JVM loop.
  */
object VectorKernels {
  /** Cosine similarity; null if either vector contains a null element (matching the
    * HOF formulation, where a null element nulls the fold). 0-length or all-zero
    * vectors yield NaN via 0/0, as before.
    */
  def cosineBoxed(a: ArrayData, aTag: Int, b: ArrayData, bTag: Int): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dotAb = 0.0; var dotAa = 0.0; var dotBb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = NumArrays.get(a, aTag, i)
      val y = NumArrays.get(b, bTag, i)
      dotAb += x * y
      dotAa += x * x
      dotBb += y * y
      i += 1
    }
    // HOF zip_with pads the SHORTER side with nulls → the fold nulls out; match that
    if (a.numElements() != b.numElements()) return null
    java.lang.Double.valueOf(dotAb / (math.sqrt(dotAa) * math.sqrt(dotBb)))
  }
}

/** Codegen'd cosine similarity of two numeric arrays (any primitive numeric element
  * type, independently per side — float embeddings and int-quantized embeddings both
  * work, like the HOF formulation this replaced).
  */
case class CosineSimilarity(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val l = NumArrays.checkInput("cosine left side", left.dataType)
    if (l.isFailure) l else NumArrays.checkInput("cosine right side", right.dataType)
  }

  private lazy val lTag = NumArrays.tagOf(left.dataType, "cosine left side")
  private lazy val rTag = NumArrays.tagOf(right.dataType, "cosine right side")

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosineBoxed(a.asInstanceOf[ArrayData], lTag, b.asInstanceOf[ArrayData], rTag)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("graftCos")
      s"""
      java.lang.Double $tmp = graft.functions.VectorKernels.cosineBoxed($a, $lTag, $b, $rTag);
      if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** The literal centroid table for [[ArgMaxCosine]], shipped once per executor as a
  * codegen reference object. Each centroid is stored once as a double array, so
  * every cosine is [[VectorKernels.cosineBoxed]] itself.
  */
final class CentroidBank(val ids: Array[Long], vecs: Seq[Seq[Double]]) extends Serializable {
  require(ids.length == vecs.length && ids.length >= 1)
  private val cents: Array[ArrayData] =
    vecs.map(c => UnsafeArrayData.fromPrimitiveArray(c.toArray): ArrayData).toArray

  private def cos(v: ArrayData, tag: Int, i: Int): java.lang.Double =
    VectorKernels.cosineBoxed(v, tag, cents(i), NumArrays.TDouble)

  // Spark's struct max over (sim, -id): null sim smallest, NaN largest,
  // -0.0 == 0.0 (nanSafeCompareDoubles), ties broken by the LARGER -id — i.e.
  // the smallest centroid id. Reproduced verbatim so the kernel's winner is the
  // one `greatest(struct(cosine, lit(-cid)))` picked.
  private def beats(s: java.lang.Double, negc: Long,
      bs: java.lang.Double, bnegc: Long): Boolean = {
    if (s == null) return bs == null && negc > bnegc
    if (bs == null) return true
    val x = s.doubleValue(); val y = bs.doubleValue()
    val c =
      if (java.lang.Double.isNaN(x)) { if (java.lang.Double.isNaN(y)) 0 else 1 }
      else if (java.lang.Double.isNaN(y)) -1
      else if (x < y) -1 else if (x > y) 1 else 0
    if (c != 0) c > 0 else negc > bnegc
  }

  /** Centroid id with the max (cosine, -id) pair for `v`; a null vector (like a
    * null element or a length mismatch) nulls every cosine, and the all-null tie
    * resolves to the smallest id — exactly the greatest-of-structs outcome.
    */
  def argMax(v: ArrayData, tag: Int): Long = {
    if (v == null) return -negMax()
    var bestS: java.lang.Double = cos(v, tag, 0)
    var bestNegc: Long = -ids(0)
    var i = 1
    while (i < ids.length) {
      val s = cos(v, tag, i)
      if (beats(s, -ids(i), bestS, bestNegc)) { bestS = s; bestNegc = -ids(i) }
      i += 1
    }
    -bestNegc
  }

  private def negMax(): Long = {
    var best = -ids(0)
    var i = 1
    while (i < ids.length) { if (-ids(i) > best) best = -ids(i); i += 1 }
    best
  }
}

/** Map-only nearest-centroid assignment against a literal centroid table: ONE
  * kernel call per row instead of `greatest` over nCentroids struct(cosine)
  * expressions — the generated code stays O(1) in nCentroids (the r6 tree blew
  * codegen size linearly, ~128 inlined cosine calls), and each row still pays
  * exactly nCentroids cosine loops. Bit-identical winner (see [[CentroidBank]]).
  */
case class ArgMaxCosine(child: Expression, ids: Seq[Long], vecs: Seq[Seq[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(ids.nonEmpty && ids.length == vecs.length)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    NumArrays.checkInput("argMaxCosine", child.dataType)

  private lazy val tag = NumArrays.tagOf(child.dataType, "argMaxCosine")
  @transient private lazy val bank =
    new CentroidBank(ids.toArray, vecs)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    bank.argMax(if (v == null) null else v.asInstanceOf[ArrayData], tag)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("graftCentroids", bank, classOf[CentroidBank].getName)
    val childGen = child.genCode(ctx)
    val resultCode =
      code"""
        ${childGen.code}
        long ${ev.value} = $ref.argMax(
          ${childGen.isNull} ? null : ${childGen.value}, $tag);
      """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object vecfns {
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  /** Nearest-centroid id (max cosine, ties → smallest id) against literal centroids. */
  def argMaxCosine(v: Column, ids: Seq[Long], vecs: Seq[Seq[Double]]): Column =
    ColumnBridge.column(ArgMaxCosine(ColumnBridge.expression(v), ids, vecs))
}
