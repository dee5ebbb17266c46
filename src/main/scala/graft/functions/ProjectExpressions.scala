package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Random-sign (Achlioptas / Johnson–Lindenstrauss) projection of a
  * quantized embedding to [[RpPlanes.ProjDims]] dimensions — the cheap
  * dimensionality-reduction step ANN pipelines run before indexing when 64
  * dims is still too wide for the candidate stage: E[⟨Px,Py⟩] = k·⟨x,y⟩ for
  * a ±1 sign matrix P, so similarity structure survives at 1/4 the width.
  *
  * Same engineering rules as [[LshPlanes]]: the sign tensor is md5-derived
  * (seed "rp#j#i"), so any engine rebuilds it — the DuckDB oracle replays
  * the projection exactly — and the arithmetic is pure int64 (quantized
  * inputs ≤10⁴ over 64 dims keep every sum far below 2⁵³). The expression
  * is codegen'd: the scan→quantize→project stage is one whole-stage-codegen
  * pass with zero shuffles, embarrassingly parallel at any corpus size.
  */
object RpPlanes {
  /** Output width. 16 retains pairwise similarity to ~1/√16 relative error
    * — the standard JL regime for a candidate-generation stage. The
    * embed_project oracle SQL interpolates it, so its committed digest
    * pins this value. */
  val ProjDims: Int = 16
  val Dims: Int = LshPlanes.Dims

  /** ±1 tensor flattened [j][i]: parity of the first hex nibble of
    * md5("rp#j#i") — the [[LshPlanes.signs]] derivation with its own seed
    * namespace so projection and LSH stay independent. */
  val signs: Array[Long] =
    Array.tabulate(ProjDims * Dims) { idx =>
      val j = idx / Dims
      val i = idx % Dims
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp#$j#$i".getBytes("UTF-8"))
      if (((digest(0) >> 4) & 1) == 1) 1L else -1L
    }

  def project(qv: Array[Long]): Array[Long] = {
    val d = math.min(qv.length, Dims)
    val out = new Array[Long](ProjDims)
    var j = 0
    while (j < ProjDims) {
      val base = j * Dims
      var acc = 0L
      var i = 0
      while (i < d) {
        acc += qv(i) * signs(base + i)
        i += 1
      }
      out(j) = acc
      j += 1
    }
    out
  }

  /** JVM entry shared by interpreted eval and generated code. */
  def projectData(qv: ArrayData): ArrayData =
    new GenericArrayData(project(qv.toLongArray()))
}

/** `random_project(array<long>) -> array<long>` (length
  * [[RpPlanes.ProjDims]]), registered session-wide by
  * [[graft.plans.GraftSparkExtensions]].
  */
case class RandomSignProject(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "random_project"

  override def nullSafeEval(input: Any): Any =
    RpPlanes.projectData(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RpPlanes.projectData($c);")

  override protected def withNewChildInternal(newChild: Expression): RandomSignProject =
    copy(child = newChild)
}
