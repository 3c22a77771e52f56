package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** The one sanctioned crossing into Spark's `private[sql]` surface: wrap a
  * custom [[LogicalPlan]] node as a user-facing [[DataFrame]], unpack
  * a `.asc`/`.desc` sort [[Column]] into its key + direction, and relax a
  * schema to the all-nullable form file sources read back. Spark's own
  * API offers no public surface for either on purpose (plans built by
  * hand skip analysis guarantees; sort direction lives in the ColumnNode
  * layer), so the engine keeps the crossing to a single audited call
  * site — graft's custom operators ([[graft.plans.AsofJoinPlan]]) build
  * RESOLVED plans from analyzed child DataFrames, which is exactly the
  * contract `Dataset.ofRows` expects, and [[graft.util.PrefixSum]] needs
  * the leading sort key's direction to orient its deterministic buckets.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `Some((key, isDescending))` when `c` is a sort-order column
    * (`col.asc`/`col.desc`/...), `None` for a bare column.
    */
  def sortOrder(c: Column): Option[(Column, Boolean)] = c.node match {
    case so: internal.SortOrder =>
      Some((new Column(so.child),
            so.sortDirection == internal.SortOrder.Descending))
    case _ => None
  }

  /** `s` with every field, nested ones too, nullable. */
  def asNullable(s: StructType): StructType = s.asNullable
}
