package graft.plans

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{And, Alias, Attribute, AttributeMap, BindReferences, BoundReference, Expression, IntegerLiteral, InterpretedOrdering, InterpretedUnsafeProjection, Literal, NamedExpression, Predicate, SortOrder, Unevaluable, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LeafNode, LocalLimit, LocalRelation, LogicalPlan, Project, Sort, Statistics}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Rows of a persisted root decoded once and held on the driver as
  * copied `UnsafeRow`s, with the heap bytes they take. A plain class:
  * plans holding it compare by reference, never row by row. */
final class ResidentRows(val rows: Array[InternalRow], val bytes: Long)

/** A driver-resident relation: the leaf a serving path reads instead of
  * a parquet scan when the root is small enough
  * ([[graft.operators.IvfIndex]]'s resident tier). It is never planned:
  * [[LocalTopK]] folds it, with the Project/Filter/Sort/Limit above it,
  * into a `LocalRelation` during optimization. It is not a
  * `LocalRelation` itself because Spark's early `ConvertToLocalRelation`
  * pass would then project every row in full and compile a predicate
  * class per distinct filter literal (a new probe set per query vector);
  * kept apart, the fold evaluates only the sort keys of every row and
  * the full projection of the k winners. */
final case class ResidentRelation(output: Seq[Attribute], data: ResidentRows)
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): LogicalPlan =
    copy(output = output.map(_.newInstance()))
  override def maxRows: Option[Long] = Some(data.rows.length.toLong)
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(math.max(1L, data.bytes)))
  override def simpleString(maxFields: Int): String =
    s"ResidentRelation ${output.mkString("[", ",", "]")}, " +
      s"${data.rows.length} rows"
}

/** Folds plans over driver-resident rows on the driver, so collecting
  * them runs no Spark job — Spark's own [[ConvertToLocalRelation]]
  * (Project/Filter/Limit over a `LocalRelation`) extended to the shapes
  * a vector search builds:
  *
  *   - a top-k: `Limit(k) → [Project] → Sort → (Project|Filter)* → leaf`;
  *   - a global sort: `Sort → (Project|Filter)* → leaf`;
  *   - a bare `(Project|Filter)* → leaf` chain.
  *
  * The leaf is a `LocalRelation` or a [[ResidentRelation]]. The chain is
  * collapsed with Spark's `PhysicalOperation` (the scan collapse the
  * planner uses), so the filters and the sort keys are expressions over
  * the leaf's rows: each row is filtered, then only its sort keys are
  * evaluated; rows are ordered by Catalyst's [[InterpretedOrdering]] on
  * the plan's own `SortOrder`s (the order `TakeOrderedAndProject`
  * uses), with input position breaking full ties; only the winners are
  * projected in full. Filters and projections run interpreted (a probe
  * set is an IN-list a generated predicate would inline); the sort keys
  * run through Spark's projection factory, whose generated class holds
  * the query vector literal by reference. Either way a new query vector
  * or probe set compiles no class. A top-k followed by a
  * projection folds in two steps (the projection then sits on a
  * `LocalRelation`), which the rule repeats to a fixed point.
  *
  * A chain with a non-deterministic or unevaluable expression, or over
  * a streaming relation, is not folded; a [[ResidentRelation]] under it
  * becomes a plain `LocalRelation`, which Spark plans as a local table
  * scan. Registered per session by [[register]] (the operators that
  * build resident plans call it) or through [[GraftExtensions]]. */
object LocalTopK extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.exists(isLocalLeaf)) plan
    else {
      var cur = plan
      var prev: LogicalPlan = null
      while (prev == null || !cur.fastEquals(prev)) {
        prev = cur
        cur = ConvertToLocalRelation(foldOnce(cur))
      }
      cur
    }

  /** a leaf this rule folds: resident rows or a non-streaming local
    * relation */
  private[graft] def isLocalLeaf(p: LogicalPlan): Boolean = p match {
    case _: ResidentRelation => true
    case l: LocalRelation => !l.isStreaming
    case _ => false
  }

  private def foldOnce(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case GlobalLimit(IntegerLiteral(k), LocalLimit(IntegerLiteral(_),
        s @ Sort(order, true, Chain(c), _))) if foldable(order.map(_.child)) =>
      LocalRelation(s.output, c.ordered(order, Some(k)))
    // column pruning pushes a projection of the top-k's output between
    // the limit and the sort; it then sits on the k rows
    case GlobalLimit(IntegerLiteral(k), LocalLimit(IntegerLiteral(_),
        p @ Project(_, s @ Sort(order, true, Chain(c), _))))
        if foldable(order.map(_.child)) =>
      p.withNewChildren(Seq(LocalRelation(s.output, c.ordered(order, Some(k)))))
    case s @ Sort(order, true, Chain(c), _) if foldable(order.map(_.child)) =>
      LocalRelation(s.output, c.ordered(order, None))
    case r: ResidentRelation =>
      LocalRelation(r.output, r.data.rows.toSeq)
    case p @ Chain(c) if !p.isInstanceOf[LeafNode] =>
      LocalRelation(p.output, c.all)
  }

  private def foldable(es: Seq[Expression]): Boolean =
    es.forall(e => e.deterministic && !e.exists(u =>
      u.isInstanceOf[Unevaluable] && !u.isInstanceOf[Attribute]))

  /** `(Project|Filter)*` over a local leaf, collapsed: `projects` and
    * `filters` are expressions over `input`, the leaf's output */
  private final case class Chain(projects: Seq[NamedExpression],
      filters: Seq[Expression], input: Seq[Attribute],
      rows: Seq[InternalRow]) {

    /** `e` over the leaf's row positions, with each array literal held
      * as an `UnsafeArrayData`: the same values, but a distance reads
      * them from flat memory instead of unboxing a `GenericArrayData`
      * element per dimension per row */
    private def bind(e: Expression): Expression =
      BindReferences.bindReference(e, input).transform {
        case Literal(a: GenericArrayData, t @ ArrayType(et, _))
            if !(0 until a.numElements()).exists(a.isNullAt) => et match {
          case FloatType =>
            Literal(UnsafeArrayData.fromPrimitiveArray(a.toFloatArray()), t)
          case DoubleType =>
            Literal(UnsafeArrayData.fromPrimitiveArray(a.toDoubleArray()), t)
          case _ => Literal(a, t)
        }
      }

    private def survivors: IndexedSeq[InternalRow] =
      filters.reduceOption(And) match {
        case None => rows.toIndexedSeq
        case Some(cond) =>
          val p = Predicate.createInterpreted(bind(cond))
          p.initialize(0)
          rows.iterator.filter(p.eval).toIndexedSeq
      }

    private def project(rs: Iterator[InternalRow]): Seq[InternalRow] = {
      val proj = InterpretedUnsafeProjection.createProjection(
        projects.map(bind))
      proj.initialize(0)
      rs.map(r => proj(r).copy()).toIndexedSeq
    }

    /** the surviving rows, projected — as they are when the projection
      * keeps the leaf's columns unchanged */
    def all: Seq[InternalRow] =
      if (projects == input) survivors else project(survivors.iterator)

    /** the surviving rows in `order`, the first `limit` of them when
      * given, projected */
    def ordered(order: Seq[SortOrder], limit: Option[Int]): Seq[InternalRow] = {
      val rs = survivors
      val aliases = AttributeMap(projects.collect {
        case a: Alias => a.toAttribute -> a.child
      })
      val keyExprs = order.map(o => bind(o.child.transformUp {
        case a: Attribute => aliases.getOrElse(a, a)
      }))
      // the keys through Spark's projection factory: generated code, in
      // which the query vector is a literal held by reference, so one
      // class serves every query vector; interpreted where codegen is off
      val keyProj = UnsafeProjection.create(keyExprs)
      keyProj.initialize(0)
      val keys = rs.map(r => keyProj(r).copy())
      val ord = new InterpretedOrdering(order.zipWithIndex.map {
        case (o, i) => o.copy(child = BoundReference(i, o.dataType, o.nullable))
      })
      // a stable sort: rows tied on every key keep their input order
      val sorted = Array.tabulate[Integer](rs.length)(i => i)
      java.util.Arrays.sort(sorted,
        (a: Integer, b: Integer) => ord.compare(keys(a), keys(b)))
      val winners = limit.fold(sorted)(k => sorted.take(math.max(0, k)))
      project(winners.iterator.map(i => rs(i)))
    }
  }

  private object Chain {
    def unapply(plan: LogicalPlan): Option[Chain] = plan match {
      case PhysicalOperation(projects, filters, leaf)
          if foldable(projects ++ filters) =>
        leaf match {
          case r: ResidentRelation =>
            Some(Chain(projects, filters, r.output, r.data.rows.toSeq))
          case l: LocalRelation if !l.isStreaming =>
            Some(Chain(projects, filters, l.output, l.data))
          case _ => None
        }
      case _ => None
    }
  }

  /** Add the rule to `spark`'s extra optimizations, once. */
  def register(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!exp.extraOptimizations.contains(this)) exp.synchronized {
      if (!exp.extraOptimizations.contains(this))
        exp.extraOptimizations = exp.extraOptimizations :+ this
    }
  }

  /** a DataFrame over `plan` in `spark` */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    new org.apache.spark.sql.classic.Dataset[Row](
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan,
      Encoders.row(plan.schema))
}
