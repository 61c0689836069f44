package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Vector distance kernels.
  *
  * The reference computes a scalar euclidean distance between two
  * equal-length embeddings (`/root/reference/src/database.ts:218-220`) and
  * uses it both at index-build time (pivot distances,
  * `src/database.ts:195-198`) and at query time (exact re-rank,
  * `src/search.ts:42-48`). The reference normalizes embeddings
  * (`src/vector.ts:35`), which makes euclidean rank-equivalent to cosine;
  * we expose euclidean, cosine and dot so either family works.
  *
  * Two implementations, deliberately kept semantically identical:
  *
  *  - `*Hof` — composed from built-in higher-order functions
  *    (`zip_with` + `aggregate`). Pure stock Catalyst; used as the
  *    correctness cross-check in tests.
  *  - [[EuclideanDistance]] / [[CosineSimilarity]] / [[DotProduct]] —
  *    custom `BinaryExpression`s with `doGenCode` emitting a tight
  *    primitive loop over the two float arrays. These stay inside
  *    whole-stage codegen (no boxing, no lambda dispatch per element),
  *    which matters because the re-rank phase evaluates the kernel once
  *    per candidate row — at 100 TB that is the hot inner loop of every
  *    kNN / near-dup query.
  *
  * All kernels accumulate in `double` in array-index order regardless of
  * input element type, so results are bit-stable across the HOF form, the
  * codegen form, and the interpreted fallback.
  */
object VectorFunctions {

  private def mkCol(e: Expression): Column = Bridge.column(e)
  private def ex(c: Column): Expression = Bridge.expression(c)

  /** Euclidean distance as a codegen'd Catalyst expression. */
  def euclidean(a: Column, b: Column): Column = mkCol(EuclideanDistance(ex(a), ex(b)))

  /** [[EuclideanDistance]] between two literal vectors, evaluated on the
    * driver: the same expression a scan evaluates, so the value is
    * bit-identical, with no plan and no job.
    */
  def euclideanOfLiterals(a: Column, b: Column): Double = {
    val e = EuclideanDistance(Bridge.convertedExpression(a), Bridge.convertedExpression(b))
    require(e.foldable && e.checkInputDataTypes().isSuccess,
      s"euclideanOfLiterals needs two array<float> literals, got $e")
    val v = e.eval(null)
    require(v != null, s"euclideanOfLiterals: null operand in $e")
    v.asInstanceOf[Double]
  }

  /** Cosine similarity as a codegen'd Catalyst expression. */
  def cosine(a: Column, b: Column): Column = mkCol(CosineSimilarity(ex(a), ex(b)))

  /** Dot product as a codegen'd Catalyst expression. */
  def dot(a: Column, b: Column): Column = mkCol(DotProduct(ex(a), ex(b)))

  /** v0 euclidean built only from stock higher-order functions. */
  def euclideanHof(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0),
      (acc, v) => acc + v))

  /** v0 cosine built only from stock higher-order functions. */
  def cosineHof(a: Column, b: Column): Column = {
    def d(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")), lit(0.0), (acc, v) => acc + v)
    d(a, b) / (sqrt(d(a, a)) * sqrt(d(b, b)))
  }

  /** L2-normalize a float array column (mirrors the reference's
    * `normalize: true` post-processing, `src/vector.ts:35`).
    */
  def l2Normalize(a: Column): Column = {
    val n = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")), lit(0.0), (acc, v) => acc + v))
    transform(a, x => (x.cast("double") / n).cast("float"))
  }

  /** Integer ADC kernel for SQ8 byte-range codes: `sum_i (a_i-b_i)²`
    * as a long — the per-row approximate-distance loop of `q_v13_sq8`'s
    * serving scan. Codegen'd like the float kernels so the SQ8 scan
    * stays inside whole-stage codegen (the HOF `aggregate(zip_with(…))`
    * form dispatches two lambdas per element); integer arithmetic is
    * exact, so the codegen, interpreted and HOF forms agree by VALUE
    * (`VectorFunctionsSpec` proves it).
    */
  def sq8Dist2(a: Column, b: Column): Column = mkCol(Sq8SquaredDistance(ex(a), ex(b)))

  /** The HOF reference form of [[sq8Dist2]] (cross-check in tests). */
  def sq8Dist2Hof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, t) => acc + t)

  /** Reference-compat fixed-width index encoding
    * (`src/database.ts:223-225`): `((nr*10)+'').slice(0,10).padEnd(10,'0')`.
    * Kept ONLY for byte-parity tests against reference semantics; the
    * engine itself stores numeric distances (SURVEY §1.4 explains the
    * lexicographic-order quirk this encoding has at nr >= 1.0).
    */
  def indexNrToString(nr: Column): Column =
    rpad(substring((nr * lit(10)).cast("string"), 1, 10), 10, "0")
}

/** Shared scaffolding for the float-array x float-array -> double kernels. */
abstract class ArrayFloatKernel extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  /** Java source for the loop body; `a`/`b` are ArrayData variables.
    * Every local MUST come from `ctx.freshName` — two kernel instances
    * often land in the same codegen function scope (e.g. a filter and a
    * projection both computing the same distance), and a fixed name like
    * `i` makes janino fail with "Redefinition of local variable", which
    * silently drops the whole stage to interpreted mode (burned in r1:
    * the guava LoadingCache stack in BENCH_r01's tail was this).
    */
  protected def genLoop(ctx: CodegenContext, a: String, b: String, result: String): String
  protected def evalKernel(x: ArrayData, y: ArrayData): Double

  override def nullSafeEval(l: Any, r: Any): Any =
    evalKernel(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => genLoop(ctx, a, b, ev.value))
}

/** sqrt(sum_i (a_i - b_i)^2) — reference `src/database.ts:218-220`. */
case class EuclideanDistance(left: Expression, right: Expression) extends ArrayFloatKernel {
  override def prettyName: String = "euclidean_distance"
  override protected def evalKernel(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }
  override protected def genLoop(ctx: CodegenContext, a: String, b: String, result: String): String = {
    val n = ctx.freshName("n"); val s = ctx.freshName("s")
    val i = ctx.freshName("i"); val d = ctx.freshName("d")
    s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double $s = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
       |  $s += $d * $d;
       |}
       |$result = java.lang.Math.sqrt($s);
     """.stripMargin
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** sum_i a_i*b_i / (||a|| * ||b||). */
case class CosineSimilarity(left: Expression, right: Expression) extends ArrayFloatKernel {
  override def prettyName: String = "cosine_similarity"
  override protected def evalKernel(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xa = x.getFloat(i).toDouble; val xb = y.getFloat(i).toDouble
      dot += xa * xb; na += xa * xa; nb += xb * xb; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def genLoop(ctx: CodegenContext, a: String, b: String, result: String): String = {
    val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
    val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
    val i = ctx.freshName("i")
    val xa = ctx.freshName("xa"); val xb = ctx.freshName("xb")
    s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double $dot = 0.0, $na = 0.0, $nb = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $xa = (double) $a.getFloat($i);
       |  double $xb = (double) $b.getFloat($i);
       |  $dot += $xa * $xb; $na += $xa * $xa; $nb += $xb * $xb;
       |}
       |$result = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
     """.stripMargin
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** sum_i a_i*b_i. */
case class DotProduct(left: Expression, right: Expression) extends ArrayFloatKernel {
  override def prettyName: String = "dot_product"
  override protected def evalKernel(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }
  override protected def genLoop(ctx: CodegenContext, a: String, b: String, result: String): String = {
    val n = ctx.freshName("n"); val s = ctx.freshName("s"); val i = ctx.freshName("i")
    s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double $s = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
       |}
       |$result = $s;
     """.stripMargin
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** sum_i (a_i - b_i)² over two int arrays, as a long — the SQ8
  * integer-ADC inner loop (see [[VectorFunctions.sq8Dist2]]).
  */
case class Sq8SquaredDistance(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "sq8_squared_distance"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<int> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val x = l.asInstanceOf[ArrayData]; val y = r.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L; var i = 0
    while (i < n) { val d = (x.getInt(i) - y.getInt(i)).toLong; s += d * d; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val s = ctx.freshName("s")
      val i = ctx.freshName("i"); val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = (long) ($a.getInt($i) - $b.getInt($i));
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
