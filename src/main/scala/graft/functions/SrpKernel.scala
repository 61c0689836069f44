package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Sign-random-projection LSH bucket kernel for embedding near-dup
  * ([[graft.operators.Dedup.d5EmbedNearDup]]).
  *
  * One eval computes ALL tables' buckets: for table t, bucket_t =
  * Σ_j (dot(e, proj(t)(j)) > 0 ? 2^j : 0). The composed form — 96
  * separate DotProduct expressions under a `when` each carrying its own
  * 64-float literal — is semantically identical (proven in
  * `SrpKernelSpec`) but costs 96 expression nodes of planning/codegen
  * per query and re-reads the embedding array per projection. The dot
  * accumulates float→double in array-index order, exactly like
  * [[DotProduct]] and DuckDB's `list_inner_product` (the oracle side),
  * so bucket membership stays bit-identical across all three forms.
  *
  * CodegenFallback for the same reason as TextHashKernels: the per-row
  * work (tables × bits × dims fused multiply-adds) dwarfs one virtual
  * call, and the generated Java would just restate this loop.
  */
object SrpKernel {
  def srpBuckets(e: Column, proj: Seq[Seq[Seq[Float]]]): Column =
    Bridge.column(SrpBuckets(Bridge.expression(e), proj))

  /** The same buckets for one vector held on the driver — the one loop
    * [[SrpBuckets]] evaluates per row, so the two never disagree.
    */
  def bucketsOf(e: Array[Float], proj: Seq[Seq[Seq[Float]]]): Array[Long] =
    buckets(e.length, e(_), proj.flatMap(_.map(_.toArray)).toArray, proj.size)

  /** For table t, bucket_t = Σ_j (dot(e, w(t·bits + j)) > 0 ? 2^j : 0),
    * the dot accumulated float→double in index order over the shorter
    * of the two arrays.
    */
  private[functions] def buckets(n: Int, elem: Int => Float,
      flat: Array[Array[Float]], tables: Int): Array[Long] = {
    val bits = flat.length / tables
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var j = 0
      while (j < bits) {
        val w = flat(t * bits + j)
        val m = math.min(n, w.length)
        var s = 0.0
        var i = 0
        while (i < m) { s += elem(i).toDouble * w(i).toDouble; i += 1 }
        if (s > 0) bucket |= 1L << j
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    out
  }
}

case class SrpBuckets(child: Expression, proj: Seq[Seq[Seq[Float]]])
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "srp_buckets"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${t.catalogString}")
  }

  @transient private lazy val tables: Int = proj.size
  // flattened [table][bit] -> weight array, resolved once per task
  @transient private lazy val flat: Array[Array[Float]] =
    proj.flatMap(_.map(_.toArray)).toArray

  // NULL-embedding parity with the composed form and the DuckDB oracle:
  // `dot(NULL, w) > 0` is NULL, whose CASE/when falls to the ELSE 0
  // branch on every bit — bucket 0 in every table, NOT a null result.
  // (UnaryExpression's default nullSafeEval would return null and
  // posexplode would then silently drop the row, desynchronizing the
  // bucket-size windows across engines.)
  override def nullable: Boolean = false
  @transient private lazy val zeroBuckets = new GenericArrayData(new Array[Long](tables))
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) zeroBuckets else nullSafeEval(v)
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    new GenericArrayData(SrpKernel.buckets(arr.numElements(), arr.getFloat, flat, tables))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  // proj is a large constant: keep toString/plan output readable
  override def toString: String = s"srp_buckets(${child}, tables=$tables, bits=${proj.head.size})"
}
