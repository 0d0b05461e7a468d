package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Concatenation that keeps every partition of every child as a partition
  * of its own — a narrow `UNION ALL` whose partition layout is the
  * children's, in order. Spark's own `Union` zips children that all report
  * `SinglePartition` into ONE partition (`spark.sql.unionOutputPartitioning`),
  * so a union of per-segment `coalesce(1)` slices would run every segment
  * in one task.
  */
final case class PartitionConcat(children: Seq[LogicalPlan]) extends LogicalPlan {
  override lazy val output: Seq[Attribute] = PartitionConcat.merged(children.map(_.output))
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = copy(children = newChildren)
}

final case class PartitionConcatExec(children: Seq[SparkPlan]) extends SparkPlan {
  override lazy val output: Seq[Attribute] = PartitionConcat.merged(children.map(_.output))
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(children.map(_.outputPartitioning.numPartitions).sum)
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.union(children.map(_.execute()))
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): SparkPlan = copy(children = newChildren)
}

object PartitionConcat {

  /** The first child's columns, nullable where any child's is (as `Union`). */
  private[graft] def merged(outputs: Seq[Seq[Attribute]]): Seq[Attribute] =
    outputs.transpose.map(as => as.head.withNullability(as.exists(_.nullable)))

  private object Planning extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case PartitionConcat(cs) => PartitionConcatExec(cs.map(planLater)) :: Nil
      case _ => Nil
    }
  }

  /** `dfs` (same columns, in the same order) concatenated partition by
    * partition. Registers the planning strategy with their session once.
    */
  def concat(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "nothing to concatenate")
    val spark = dfs.head.sparkSession.asInstanceOf[classic.SparkSession]
    val x = spark.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(Planning)) x.extraStrategies = x.extraStrategies :+ Planning
    }
    classic.Dataset.ofRows(spark, PartitionConcat(dfs.map(_.queryExecution.analyzed)))
  }
}
