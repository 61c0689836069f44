package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, First}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION
import org.apache.spark.sql.types._

/** Evaluates the relational operators a caller stacks on a driver-held
  * frame ([[Util.literalFrame]]) at optimization time, so an action on
  * the result runs no Spark job: a global `Sort`, a `Distinct` or
  * `Deduplicate` (which reach this rule as the `Aggregate` forms
  * `ReplaceDistinctWithAggregate` and `ReplaceDeduplicateWithAggregate`
  * write), and the `Project`, `Filter` and `Limit` above them, each
  * over a non-streaming `LocalRelation`. Spark's own
  * `ConvertToLocalRelation` folds only the last three, and runs before
  * this rule (user optimizations run last), so a `Project` above a
  * folded `Sort` is folded here too.
  *
  * Values are Spark's own: a sort orders rows with Catalyst's
  * `InterpretedOrdering` (nulls, NaN and -0.0 sort as the executed
  * `SortExec` sorts them; rows equal under the ordering keep their
  * input order, one of the orders Spark may return), a de-duplication
  * groups floating-point keys the way Spark's aggregate normalizes them
  * (NaN with NaN, -0.0 with 0.0, the group's key value normalized) and
  * keeps each group's first row. The rule fires only on deterministic,
  * evaluable expressions, and a de-duplication only over atomic key
  * types; any other plan passes through unchanged.
  *
  * Install per session with [[setup]], the `setup(session)` idiom of a
  * Pathling `Strategy`: the engine's sessions are built by callers
  * (Verify, Bench, tests, a host application), not by the engine.
  */
object LocalRelationFold extends Rule[LogicalPlan] {

  /** Adds the rule to the session's optimizer once; a repeat call is a
    * no-op.
    */
  def setup(session: SparkSession): Unit = {
    val exp = session.experimental
    exp.synchronized {
      if (!exp.extraOptimizations.contains(this))
        exp.extraOptimizations = exp.extraOptimizations :+ this
    }
  }

  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(LOCAL_RELATION)) {
      case Sort(order, true, Local(out, rows), _) if order.forall(o => evaluable(o.child)) =>
        LocalRelation(out, rows.sorted(new InterpretedOrdering(order, out)))
      case Project(list, Local(out, rows)) if list.forall(evaluable) =>
        val p = new InterpretedMutableProjection(list, out)
        p.initialize(0)
        LocalRelation(list.map(_.toAttribute), rows.map(p(_).copy()))
      case Filter(cond, Local(out, rows)) if evaluable(cond) =>
        val p = InterpretedPredicate(BindReferences.bindReference(cond, out))
        p.initialize(0)
        LocalRelation(out, rows.filter(p.eval))
      case GlobalLimit(IntegerLiteral(n), Local(out, rows)) => LocalRelation(out, rows.take(n))
      case LocalLimit(IntegerLiteral(n), Local(out, rows)) => LocalRelation(out, rows.take(n))
      case a @ Aggregate(keys, aggs, Local(out, rows), _) if isDedup(keys, aggs, out) =>
        val keyIdx = keys.map(k => out.indexWhere(_.semanticEquals(k)))
        val types = out.map(_.dataType)
        val firsts = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], InternalRow]
        rows.foreach { r =>
          val key = keyIdx.map(i => keyToken(normalized(r.get(i, types(i)))))
          if (!firsts.contains(key)) firsts(key) = r
        }
        // a key column reads the group's normalized key, as the
        // aggregate's grouping expression does; any other its first value
        val cols = aggs.map {
          case k: Attribute => (out.indexWhere(_.semanticEquals(k)), true)
          case Alias(AggregateExpression(First(c: Attribute, _), _, _, _, _), _) =>
            (out.indexWhere(_.semanticEquals(c)), false)
        }
        LocalRelation(a.output, firsts.valuesIterator.map { r =>
          InternalRow.fromSeq(cols.map { case (i, isKey) =>
            val v = r.get(i, types(i))
            if (isKey) normalized(v) else v
          })
        }.toSeq)
    }

  /** A non-streaming `LocalRelation`'s output and rows. */
  private object Local {
    def unapply(p: LogicalPlan): Option[(Seq[Attribute], Seq[InternalRow])] = p match {
      case LocalRelation(out, rows, false, _) => Some((out, rows))
      case _ => None
    }
  }

  private def evaluable(e: Expression): Boolean =
    e.deterministic && !e.exists {
      case _: AttributeReference => false
      case _: Unevaluable => true
      case _ => false
    }

  /** The `Aggregate` a `Distinct` or `Deduplicate` is rewritten to:
    * grouping by plain attributes of atomic type, each output either a
    * grouping attribute or `first(attr)` (nulls kept) of the child.
    */
  private def isDedup(keys: Seq[Expression], aggs: Seq[NamedExpression],
      out: Seq[Attribute]): Boolean = {
    def inOut(e: Expression) = out.exists(_.semanticEquals(e))
    keys.nonEmpty && keys.forall {
      case k: Attribute => inOut(k) && atomic(k.dataType)
      case _ => false
    } && aggs.forall {
      case k: Attribute => keys.exists(_.semanticEquals(k))
      case Alias(AggregateExpression(First(c: Attribute, false), Complete, false, None, _), _) =>
        inOut(c)
      case _ => false
    }
  }

  private def atomic(t: DataType): Boolean = t match {
    case s: StringType => s == StringType // the binary (default) collation
    case _: NumericType | BooleanType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** A grouping key's value as Spark's aggregate groups and returns it. */
  private def normalized(v: Any): Any = v match {
    case d: Double if d.isNaN => Double.NaN
    case d: Double if d == 0.0 => 0.0
    case f: Float if f.isNaN => Float.NaN
    case f: Float if f == 0.0f => 0.0f
    case x => x
  }

  /** A hash key equal for equal normalized values: floating-point values
    * by their bits, since `==` never equates NaN with NaN.
    */
  private def keyToken(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case f: Float => java.lang.Float.floatToIntBits(f)
    case x => x
  }
}
