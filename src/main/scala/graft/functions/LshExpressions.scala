package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Random-hyperplane LSH signatures as a native Catalyst expression.
  *
  * The declarative formulation (one zip_with/aggregate fold per signature
  * bit) evaluates higher-order lambdas interpreted — tables×bits×dims ≈ 4k
  * interpreted ops per row dominated the similarity bench. This expression
  * computes ALL table signatures in one JIT-compiled JVM call inside
  * whole-stage codegen: the scan→quantize→sign stage stays one codegen
  * stage with zero shuffles, which is what makes the signature pass
  * embarrassingly parallel at 100 TB.
  */
object LshPlanes {
  // 16 tables × 6 bits: for match probability p per bit, one table hits
  // with p^6 and ANY of 16 with 1-(1-p^6)^16 — measured recall on the test
  // corpus ~0.5 vs ~0.1 for 8×8 (the corpus' true neighbors sit near
  // cos 0.4-0.5, where per-bit p ≈ 0.65). Candidates/probe ≈ 16·n/64.
  //
  // GEOMETRY MUST SCALE WITH THE CORPUS: bucket count per table is
  // 2^TableBits, so within-bucket work (the all-pairs step of embedding
  // dedup) grows as n²/2^bits at fixed bits — the full-eval scale smoke
  // measured dedup_embed 2.8 s → 44 s from sf0.1 → ×10 on the default
  // 6-bit geometry. The KNOB-FREE path is therefore the sized path:
  // GraftSession.build records the data dir's embeddings row count
  // (Knobs.sizeLshFor) before anything touches this object, and the
  // geometry resolves from it log-scaled at init — ≤4k vectors keeps
  // the recall-tuned 16×6 default (every shipped correctness gate is
  // ≤2k: 500 at sf0.01, 2k at sf0.1), and beyond that bits =
  // ⌈log2(n/15)⌉ (≈15-vector average buckets) with 8 tables: the ×10
  // smoke (20k vectors) derives 8×11, the ×100 smoke (200k) 8×14 — the
  // same regime the ×100 run previously reached only by hand-setting
  // 8 tables × 16 bits. Every consumer — the native
  // expression, the Spark pipelines, AND the generated DuckDB oracle
  // SQL — derives from these constants at JVM init, so the correctness
  // gate stays self-consistent at ANY setting (recall/candidate-volume
  // tradeoffs shift, correctness never).
  // envInt lives on graft.Knobs (GraftSession reads knobs before the
  // corpus hint exists, so the reader can't be here); this delegation
  // keeps the established call sites (Sampling's packing knobs etc.)
  private[graft] def envInt(name: String, default: Int, lo: Int, hi: Int): Int =
    graft.Knobs.envInt(name, default, lo, hi)

  /** Pure geometry derivation from (corpus rows, measured bucket
    * concentration) — factored out so specs exercise the sizing without
    * freezing the JVM-lifetime constant. ≤4k vectors keep the
    * recall-tuned default regardless of skew (every shipped gate corpus).
    * Above that, bits start at ⌈log2(n/15)⌉ and the MEASURED
    * concentration factor ([[LshSizing.measuredSkew]]) adds ⌈log2(skew)⌉
    * more: within-bucket pair cost scales by skew relative to the
    * uniform-occupancy assumption, and each extra bit halves expected
    * bucket size, so the extra bits restore the uniform-case budget. A
    * near-uniform measurement (≤1.5, inside Poisson noise) changes
    * nothing — the uniform corpus keeps the row-count geometry.
    */
  def derivedGeometry(n: Long, skew: Option[Double]): (Int, Int) =
    if (n <= 4000L) (16, 6)
    else {
      val base = math.ceil(math.log(n / 15.0) / math.log(2.0)).toInt
      val extra = skew.filter(_ > 1.5)
        .map(s => math.ceil(math.log(s) / math.log(2.0)).toInt)
        .getOrElse(0)
      (8, math.min(24, math.max(8, base + extra)))
    }

  private val sized: Option[(Int, Int)] =
    graft.Knobs.freezeLshHint().map { case (n, skew) =>
      derivedGeometry(n, skew)
    }
  sized.foreach { case (t, b) =>
    System.err.println(s"[graft] LSH geometry auto-sized to $t tables x $b bits")
  }

  // derivedGeometry caps bits at 24, well inside the 62 that keeps the
  // MSB-first bucket shifts (1L << bits-1) and flip masks in a signed long
  val NumTables: Int = sized.map(_._1).getOrElse(16)
  val TableBits: Int = sized.map(_._2).getOrElse(6)
  val Dims = 64

  /** ±1 plane tensor flattened [t][b][i] — md5-derived: sign(t,b,i) is the
    * parity of the first hex nibble of md5("pl#t#b#i"). Deterministic
    * across runs, executors, and clusters (no stored model), and — unlike
    * a seeded JVM PRNG — reproducible in ANY engine with an md5 function,
    * which is what lets the DuckDB oracle rebuild the identical tensor and
    * replay the whole LSH pipeline (Similarity.lshBucketsSql).
    */
  val signs: Array[Long] =
    Array.tabulate(NumTables * TableBits * Dims) { idx =>
      val t = idx / (TableBits * Dims)
      val b = (idx / Dims) % TableBits
      val i = idx % Dims
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s"pl#$t#$b#$i".getBytes("UTF-8"))
      // first hex char of the digest = high nibble of byte 0
      if (((digest(0) >> 4) & 1) == 1) 1L else -1L
    }

  /** buckets(qv)[t] = Σ_b (sign(Σ_i qv[i]·±1) << (TableBits-1-b)). Exact
    * integer arithmetic — identical buckets on any partitioning.
    */
  def buckets(qv: Array[Long]): Array[Long] = {
    val out = new Array[Long](NumTables)
    val d = math.min(qv.length, Dims)
    var t = 0
    while (t < NumTables) {
      var bucket = 0L
      var b = 0
      while (b < TableBits) {
        val base = (t * TableBits + b) * Dims
        var proj = 0L
        var i = 0
        while (i < d) {
          proj += qv(i) * signs(base + i)
          i += 1
        }
        bucket = (bucket << 1) | (if (proj > 0) 1L else 0L)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    out
  }

  /** JVM entry shared by interpreted eval and generated code. */
  def bucketsData(qv: ArrayData): ArrayData =
    new GenericArrayData(buckets(qv.toLongArray()))
}

/** `hyperplane_buckets(array<long>) -> array<long>` (one bucket per LSH
  * table), registered as a SQL temp function like
  * [[graft.functions.RaceTimeSeconds]].
  */
case class HyperplaneBuckets(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "hyperplane_buckets"

  override def nullSafeEval(input: Any): Any =
    LshPlanes.bucketsData(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.LshPlanes.bucketsData($c);")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)
}

object LshExpressions {
  /** No-op when already injected session-wide by GraftSparkExtensions
    * (avoids a replaced-function warning per query).
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("hyperplane_buckets")))
      reg.createOrReplaceTempFunction(
        "hyperplane_buckets", exprs => HyperplaneBuckets(exprs.head), "built-in")
  }
}
