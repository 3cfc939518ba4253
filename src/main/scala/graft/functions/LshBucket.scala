package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression: one sign-LSH table's packed bucket key
  * of a FLOAT/DOUBLE-array vector under `planes` (bit b set iff
  * cosine(v, planes(b)) > 0).
  *
  * Why a custom `Expression` when [[CosineSimilarity]] already
  * codegens a fused loop (r22, measured): the bucket GRID builds
  * L·B plane sides into ONE projection, and whole-stage codegen
  * inlines every one of those fused loops into a single generated
  * method — at the re-banding policy's L=16/B=9 that method passes
  * the JVM JIT's 8 000-bytecode compile refusal (`DontCompileHugeMethods`)
  * while staying under Spark's 65 535 `hugeMethodLimit` fallback, so
  * the hottest loop of the whole embedding family ran in the BYTECODE
  * INTERPRETER: the 30× grid measured 55.1 s against 2.0 s with the
  * method split forced (`hugeMethodLimit=1500`) and 1.3 s interpreted
  * — a ~30× cliff that hit exactly the mid-sized plane grids (the
  * B=4/L=16 registry contract and B=9/L=16 policy point land in the
  * cliff; B=11/L=24 happens to clear the fallback threshold and runs
  * fast, which is how the r22 measurement found it). This expression
  * keeps the whole table's B-plane loop INSIDE one ordinary
  * JIT-compiled JVM method (`bucketOf`) and emits a single call from
  * codegen, so the generated method stays small at every (L, B).
  *
  * Bit-parity with the composed form it replaces
  * (`OR over b of when(CosineSimilarity(v, lit(planes(b))) > 0, 1<<b)`)
  * is by construction: the per-plane loop mirrors
  * [[CosineSimilarity.nullSafeEval]] exactly — same common-prefix
  * length, same double accumulation order, and the same `cos > 0`
  * comparison UNDER SPARK'S ORDERING — Spark SQL ranks NaN above
  * every double, so an empty/zero-norm vector (cos = 0/0 = NaN) sets
  * every bit, while a NULL element nulls the cosine and its `when`
  * contributes 0, i.e. such a vector buckets to 0L, exactly as
  * before.
  * ExtSpec pins value identity against the composed form on the
  * harness embeddings.
  */
case class LshBucket(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {

  // bucketOf's null collapse returns 0L at the first plane whose scored
  // prefix holds a null, which equals the composed form only when every
  // plane scores the same prefix: all planes must share one length
  require(planes.forall(_.length == planes.head.length),
    s"lsh_bucket planes must share one length, got ${planes.map(_.length).distinct.mkString(", ")}")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket requires an array<float|double> input, got $t")
  }

  override def dataType: DataType = LongType

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  private def mayHaveNullElements: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _                          => false
  }

  override def prettyName: String = "lsh_bucket"

  /** The whole table's bucket key — an ordinary JVM method, so the
    * JIT compiles it no matter how many planes the grid has. Public
    * because the generated code calls it through a reference object.
    */
  def bucketOf(a: ArrayData): Long = {
    val lf = isFloat
    val nullable = mayHaveNullElements
    var bucket = 0L
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      val n = math.min(a.numElements(), p.length)
      // mirror CosineSimilarity.nullSafeEval: a null element in the
      // scored prefix nulls the cosine; when(null > 0) contributes 0 —
      // and since every plane scans the same prefix, the whole bucket
      // collapses to 0L exactly as the composed form did
      if (nullable) {
        var j = 0
        while (j < n) {
          if (a.isNullAt(j)) return 0L
          j += 1
        }
      }
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < n) {
        val xi = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
        val yi = p(i)
        dot += xi * yi
        na += xi * xi
        nb += yi * yi
        i += 1
      }
      val cos = dot / (math.sqrt(na) * math.sqrt(nb))
      // Spark SQL's GreaterThan orders NaN ABOVE every double (unlike
      // Java/IEEE), so the composed when(cosine > 0) form sets the bit
      // for an empty or zero-norm vector (cos = 0/0 = NaN) — mirror it
      if (cos > 0 || java.lang.Double.isNaN(cos)) bucket |= 1L << b
      b += 1
    }
    bucket
  }

  // A NULL input array buckets to 0L, never null — the composed form's
  // semantics (cosine(null, p) is null, when(null > 0) falls to the
  // otherwise(0) branch, and OR-ing B zeros is 0), so the output is
  // never null at all.
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else bucketOf(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshBucketExpr", this, classOf[LshBucket].getName)
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        final long ${ev.value} = ${c.isNull} ? 0L : $ref.bucketOf(${c.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)
}

object LshBucket {

  /** Column-API entry point. */
  def apply(v: Column, tablePlanes: Array[Array[Double]]): Column =
    GraftColumnBridge.column(
      new LshBucket(GraftColumnBridge.expression(v), tablePlanes))
}
