package org.apache.spark.sql.graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, InterpretedProjection, NamedExpression, Predicate, SubqueryExpression, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}

import graft.graph.LocalExec

/** Marks a loaded relation whose point reads may answer from a driver
  * copy. Output and statistics are the child's. The optimizer knows
  * nothing of this node, so it pushes no predicate through it: a
  * `Filter` over a loaded relation stays `Filter ← WarmRelation` through
  * optimization, where the planner can find it. Without the marker the id
  * predicate sinks into the text scan below the relation's projection,
  * and no subtree equals the loaded relation any more. */
final case class WarmRelation(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): WarmRelation =
    copy(child = newChild)
}

/** Warm point reads by plan substitution: a `Filter`, or a `Project` over
  * a `Filter`, sitting directly on a [[WarmRelation]] plans a
  * `LocalTableScanExec` of the matching rows, taken from a driver copy of
  * the relation that [[LocalExec.warmScan]] collects once per warm window
  * (the same budget and row cap as every LocalExec collect). A
  * `LocalTableScan` is collected without a job, so a warm lookup schedules
  * none. The predicate and projection are evaluated interpreted: a
  * code-generated predicate compiles once per new literal, which costs
  * more than the scan of a copy that fits the budget. Every other plan
  * over the marker, and any read the copy cannot serve (over the budget,
  * non-deterministic or unevaluable expressions), plans the child
  * unchanged. */
object WarmScan extends SparkStrategy {

  /** `df` under the marker, with this strategy installed on its session. */
  def mark(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    install(spark)
    classic.Dataset.ofRows(spark, WarmRelation(df.queryExecution.analyzed))
  }

  private def install(spark: SparkSession): Unit = spark.synchronized {
    val x = spark.experimental
    if (!x.extraStrategies.contains(WarmScan)) x.extraStrategies = WarmScan +: x.extraStrategies
  }

  /** Runs an optimized plan and returns its rows: one job. */
  def execute(spark: SparkSession, plan: LogicalPlan): Array[InternalRow] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
      .queryExecution.executedPlan.executeCollect()

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(list, Filter(cond, WarmRelation(child))) => substitute(child, cond, list)
    case f @ Filter(cond, WarmRelation(child)) => substitute(child, cond, f.output)
    case WarmRelation(child) => planLater(child) :: Nil
    case _ => Nil
  }

  /** A local scan of the rows of `child` passing `cond`, projected through
    * `list`; `Nil` (plan as usual) when the copy cannot serve the read. */
  private def substitute(child: LogicalPlan, cond: Expression,
                         list: Seq[NamedExpression]): Seq[SparkPlan] = {
    if (!(cond +: list).forall(e => e.deterministic && !SubqueryExpression.hasSubquery(e) &&
        e.references.subsetOf(child.outputSet))) return Nil
    val pred = BindReferences.bindReference(cond, child.output)
    val proj = BindReferences.bindReferences(list, child.output)
    if ((pred +: proj).exists(_.exists(_.isInstanceOf[Unevaluable]))) return Nil
    LocalExec.warmScan(SparkSession.active, child).flatMap { rows =>
      val keep = Predicate.createInterpreted(pred)
      val out = if (list == child.output) identity[InternalRow] _ else new InterpretedProjection(proj)
      // an expression that throws on some row is left to the planned read
      try Some(rows.iterator.filter(keep.eval).map(out).toSeq)
      catch { case NonFatal(_) => None }
    }.map(hits => LocalTableScanExec(list.map(_.toAttribute), hits, None) :: Nil).getOrElse(Nil)
  }
}
