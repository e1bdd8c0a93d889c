package graft.plans

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  AttributeReference, EqualTo, ExprId, Expression, Literal,
  SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode,
  LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** A query optimized earlier and bound to this call's values, handed to
  * Spark as an analyzed leaf: neither the analyzer nor the optimizer
  * walks `plan` again. [[PreparedStrategy]] plans it physically on every
  * execution, so each run gets its own physical nodes, metrics and file
  * listing. `output` is `plan.output` until the analyzer re-instances
  * the leaf for a self-join. */
case class PreparedPlan(plan: LogicalPlan, output: Seq[Attribute])
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): PreparedPlan =
    copy(output = output.map(_.newInstance()))
  override def computeStats(): Statistics = plan.stats
  override def innerChildren: Seq[QueryPlan[_]] = Seq(plan)
  override def simpleString(maxFields: Int): String =
    s"PreparedPlan ${truncatedString(output, "[", ", ", "]", maxFields)}"
}

/** Expands a [[PreparedPlan]] with the session planner; a re-instanced
  * leaf renames the plan's output to its own attributes. */
object PreparedStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: PreparedPlan =>
      val inner = p.plan.output
      if (p.output.map(_.exprId) == inner.map(_.exprId))
        planLater(p.plan) :: Nil
      else
        ProjectExec(p.output.zip(inner).map { case (o, i) =>
          Alias(i, o.name)(o.exprId) }, planLater(p.plan)) :: Nil
    case _ => Nil
  }
}

/** Plans each query shape once and binds every later call's partition
  * values into the kept plan.
  *
  * A shape is one `kind` of query built over inputs that differ only in
  * their parameters: the string literals of equality predicates on a
  * file table's partition columns (`data_set_id = 'x'`, `problem_id =
  * 'y'`) in the inputs' filters. The first call builds the query over
  * the inputs with each parameter replaced by a placeholder literal
  * (equal values share one, so folds such as `ConstantPropagation` decide
  * alike for both) and keeps the optimized plan. Every call then puts
  * its own values in place of the placeholders and returns a DataFrame
  * over a [[PreparedPlan]]. Partition pruning happens where it always
  * does for these tables, in the scan's physical planning.
  *
  * The key is the session, the kind, the SQL conf and each input's
  * analyzed plan with the parameters templated, exprIds numbered in
  * order and each opened relation compared by instance (a re-opened
  * snapshot never meets an older plan); every other literal is in the key
  * by value. Kept plans sit in an LRU of [[Capacity]] entries.
  *
  * The plain build runs instead when the session lacks [[GraftExtensions]]
  * or has AQE on (AQE re-plans from the logical plan, which the leaf
  * hides), for streaming inputs, and for a shape whose optimized plan
  * reads cached data, holds a subquery or computed a value from a
  * placeholder. */
object PreparedPlans {

  /** Kept plans, least recently used first out. */
  private val Capacity = 256

  private sealed trait Entry
  private final case class Kept(plan: LogicalPlan) extends Entry
  private case object Plain extends Entry

  /** Equal only to the same instance. */
  private final class Same(val ref: AnyRef) {
    override def equals(o: Any): Boolean = o match {
      case s: Same => s.ref eq ref
      case _ => false
    }
    override def hashCode: Int = System.identityHashCode(ref)
  }

  /** An opened file table in a key: its relation instance and columns. */
  private final case class Opened(relation: Same, output: Seq[Attribute])
      extends LeafNode

  private final case class Key(session: Same, kind: String,
      inputs: Seq[LogicalPlan], conf: Map[String, String])

  private val cache = new java.util.LinkedHashMap[Key, Entry](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry])
        : Boolean = size > Capacity
  }

  private val builds = new AtomicLong
  private val reuses = new AtomicLong

  /** Since the JVM started: plans built, and calls served from a kept
    * plan. */
  private[graft] def counts: (Long, Long) = (builds.get, reuses.get)

  private val Marker =
    UTF8String.fromString(s"\u0000graft-param-${java.util.UUID.randomUUID}-")
  private def placeholder(i: Int): UTF8String =
    UTF8String.concat(Marker, UTF8String.fromString(i.toString))

  private def enabled(session: SparkSession): Boolean = {
    val state = session.sessionState
    !state.conf.adaptiveExecutionEnabled &&
      state.planner.extraPlanningStrategies.contains(PreparedStrategy)
  }

  /** `build(inputs)`'s optimized plan, kept for this shape and bound to
    * this call's parameter values; `None` where the plain build runs. */
  private[graft] def bind(kind: String, inputs: Seq[DataFrame])(
      build: Seq[DataFrame] => DataFrame): Option[LogicalPlan] = {
    val session = inputs.head.sparkSession
    if (!enabled(session) ||
        inputs.exists(i => (i.sparkSession ne session) || i.isStreaming))
      return None
    val slots = mutable.LinkedHashMap.empty[UTF8String, Int]
    val templates = templated(inputs.map(_.queryExecution.analyzed), slots)
    val key = Key(new Same(session), kind, templates.map(normalized),
      session.sessionState.conf.getAllConfs)
    val entry = cache.synchronized(Option(cache.get(key))) match {
      case Some(e) =>
        if (e != Plain) reuses.incrementAndGet()
        e
      case None =>
        // a build that fails fails again plainly, with the caller's values
        val e = try prepare(session, templates, slots.size, build)
          catch { case NonFatal(_) => return None }
        builds.incrementAndGet()
        cache.synchronized(cache.put(key, e))
        e
    }
    entry match {
      case Kept(plan) => Some(bound(plan, slots.keys.toIndexedSeq))
      case Plain => None
    }
  }

  /** A DataFrame over `plan` (a [[bind]] result, or a projection of one)
    * that Spark neither analyzes nor optimizes again. */
  private[graft] def dataset(session: SparkSession, plan: LogicalPlan)
      : DataFrame =
    DatasetBridge.ofAnalyzed(session, PreparedPlan(plan, plan.output))

  /** The inputs with each parameter literal replaced by the placeholder
    * of its value's slot; a value seen first gets the next slot. If any
    * input uses a partition column anywhere but in a parameter predicate
    * or as a bare column, none is templated: there it could meet another
    * literal in a fold (`problem_id > 'a'`) that a placeholder decides
    * differently. The builders compare partition columns only by
    * equality with each other. */
  private def templated(plans: Seq[LogicalPlan],
      slots: mutable.LinkedHashMap[UTF8String, Int]): Seq[LogicalPlan] = {
    val partitionCols: Set[ExprId] = plans.flatMap(_.collect {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation =>
          val names = r.partitionSchema.fieldNames.toSet
          l.output.filter(a => names(a.name)).map(_.exprId)
        case _ => Nil
      }
    }.flatten).toSet
    def isParam(e: Expression): Boolean = e match {
      case EqualTo(a: Attribute, Literal(_: UTF8String, _: StringType)) =>
        partitionCols(a.exprId)
      case EqualTo(l: Literal, a: Attribute) => isParam(EqualTo(a, l))
      case _ => false
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case _ => Seq(e)
    }
    val usedElsewhere = plans.exists(_.exists { p =>
      val uses = p match {
        case f: Filter => conjuncts(f.condition).filterNot(isParam)
        case _ => p.expressions.filterNot(_.isInstanceOf[Attribute])
      }
      uses.exists(_.references.exists(a => partitionCols(a.exprId)))
    })
    if (partitionCols.isEmpty || usedElsewhere) return plans
    def slot(l: Literal): Literal = Literal(placeholder(slots.getOrElseUpdate(
      l.value.asInstanceOf[UTF8String], slots.size)), l.dataType)
    def template(e: Expression): Expression = e match {
      case And(l, r) => And(template(l), template(r))
      case EqualTo(a: Attribute, l: Literal) if isParam(e) =>
        EqualTo(a, slot(l))
      case EqualTo(l: Literal, a: Attribute) if isParam(e) =>
        EqualTo(slot(l), a)
      case _ => e
    }
    plans.map(_.transform {
      case f: Filter => f.copy(condition = template(f.condition))
    })
  }

  /** The key form of a templated plan: exprIds numbered in order of
    * appearance, each file relation replaced by its instance. */
  private def normalized(plan: LogicalPlan): LogicalPlan = {
    val ids = mutable.HashMap.empty[ExprId, ExprId]
    def id(e: ExprId): ExprId = ids.getOrElseUpdate(e, ExprId(ids.size))
    plan.transformUp { case p =>
      val leaf = p match {
        case l: LogicalRelation => Opened(new Same(l.relation), l.output)
        case _ => p
      }
      leaf.transformExpressions {
        case a: AttributeReference => a.withExprId(id(a.exprId))
        case a: Alias => Alias(a.child, a.name)(id(a.exprId), a.qualifier,
          a.explicitMetadata, a.nonInheritableMetadataKeys)
      }
    }
  }

  /** Builds and optimizes the query over the templated inputs; keeps it
    * unless a placeholder is anywhere but a bare literal, or the plan
    * reads cached data or holds a subquery. */
  private def prepare(session: SparkSession, templates: Seq[LogicalPlan],
      params: Int, build: Seq[DataFrame] => DataFrame): Entry = {
    val plan = build(templates.map(DatasetBridge.ofRows(session, _)))
      .queryExecution.optimizedPlan
    val placeholders = (0 until params).map(placeholder).toSet
    val strings = plan.flatMap(_.expressions).flatMap(_.collect {
      case Literal(s: UTF8String, _) => s
    })
    val bare = strings.forall(s => !s.contains(Marker) || placeholders(s))
    val other = plan.exists(p => p.isInstanceOf[InMemoryRelation] ||
      p.expressions.exists(SubqueryExpression.hasSubquery))
    if (bare && !other) Kept(plan) else Plain
  }

  /** `plan` with slot i's placeholder replaced by `values(i)`. */
  private def bound(plan: LogicalPlan, values: IndexedSeq[UTF8String])
      : LogicalPlan =
    if (values.isEmpty) plan
    else {
      val value = values.indices.map(i => placeholder(i) -> values(i)).toMap
      plan.transformAllExpressions {
        case Literal(s: UTF8String, t) if value.contains(s) =>
          Literal(value(s), t)
      }
    }
}
