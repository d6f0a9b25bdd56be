package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` surface: turning a hand-built (already
  * resolved) `LogicalPlan` into a `DataFrame`. Lives under
  * `org.apache.spark.sql` for access, same as every Spark extension
  * library that plans custom logical nodes (the public API offers no
  * constructor from a LogicalPlan by design). */
object GraftSql {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Column ⇄ Expression bridge (both `private[sql]` in Spark 4): lets
    * library functions return native-Expression-backed Columns without a
    * function-registry round-trip (no SparkSession needed at call site). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Re-declare the `outputPartitioning` of a checkpointed frame's
    * [[org.apache.spark.sql.execution.LogicalRDD]].
    *
    * Under AQE, `Dataset.checkpoint`/`localCheckpoint` capture the
    * physical plan's partitioning through the `AdaptiveSparkPlanExec`
    * wrapper, which reports `UnknownPartitioning` — so every checkpoint
    * forgets its layout and every downstream join/aggregate re-shuffles
    * it. When the CALLER knows the materialized RDD's true placement
    * (because it explicitly ran `repartition(n, keys)` — a fixed-`n`
    * hash shuffle AQE does not coalesce — immediately before the
    * checkpoint), this stamps that `HashPartitioning` back on.
    *
    * SAFETY: the declaration must be physically true — Spark trusts
    * `HashPartitioning` for co-partitioned joins (partition index =
    * `pmod(murmur3(keys), n)`), and a false claim silently mis-joins.
    * Only call on a frame whose rows were placed by exactly that hash;
    * [[graft.operators.Lineage.cutPartitionedBy]] is the one sanctioned
    * caller. Throws if `df` is not a bare checkpoint scan, and if the
    * stamped scan does not report the declared partitioning: both are
    * canaries for a Spark upgrade that changes what a checkpoint plans
    * to, or the shape of `LogicalRDD`. */
  def declareHashPartitioning(df: DataFrame, keys: Seq[String],
      numPartitions: Int): DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val attrs = keys.map(k => lr.output.find(_.name == k).getOrElse(
          throw new IllegalArgumentException(
            s"column '$k' not in checkpoint output ${lr.output.map(_.name)}")))
        val part = org.apache.spark.sql.catalyst.plans.physical
          .HashPartitioning(attrs, numPartitions)
        val stamped = lr.makeCopy(Array(lr.output, lr.rdd, part,
          lr.outputOrdering, java.lang.Boolean.valueOf(lr.isStreaming), lr.stream))
          .asInstanceOf[LogicalRDD]
        if (stamped.outputPartitioning != part)
          throw new IllegalStateException(s"LogicalRDD.makeCopy dropped the declared $part: " +
            s"the stamped scan reports ${stamped.outputPartitioning}")
        ofRows(df.sparkSession, stamped)
      case other => throw new IllegalArgumentException(
        s"declareHashPartitioning needs a checkpoint scan (LogicalRDD), got ${other.nodeName}:\n" +
          other.treeString.take(500))
    }
  }
}
