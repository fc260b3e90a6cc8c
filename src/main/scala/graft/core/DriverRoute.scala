package graft.core

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan,
  Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.types.StructType

/** The bounded collect and the local results shared by the operators
  * that run driver-sized inputs on the driver (`Dedup`'s LSH operators,
  * `Similarity`'s ANN operators): an input of at most a bound of rows is
  * collected whole and worked on the driver, a larger one takes the
  * operator's Spark route. Column expressions over a local relation run
  * on the driver too: Spark folds projections and filters of a
  * `LocalRelation` while it optimizes, with no job.
  */
object DriverRoute {

  /** `df`'s exact row count when Spark holds it without a job: a local
    * relation, or a cache that is fully built (its row count is counted
    * while it is built), under projections. Never a cost-based estimate.
    */
  private def knownRows(df: DataFrame): Option[Long] = {
    def of(p: LogicalPlan): Option[Long] = p match {
      case l: LocalRelation => Some(l.data.length.toLong)
      case m: InMemoryRelation if m.cacheBuilder.isCachedColumnBuffersLoaded =>
        Some(m.cacheBuilder.rowCountStats.value.longValue)
      case Project(_, child) => of(child)
      case _ => None
    }
    of(df.queryExecution.optimizedPlan)
  }

  /** The rows of `df` if it holds at most `bound` of them, else `None`.
    * An input of known size ([[knownRows]]) is collected with no limit,
    * or not at all when over the bound; any other input is collected
    * under `limit(bound + 1)`. Sets `attr` on the span to the rows
    * collected (`bound + 1` means over) or to the known count.
    */
  def collectBounded(df: DataFrame, bound: Int, h: Trace.Handle,
                     attr: String): Option[Array[Row]] = {
    val rows = knownRows(df) match {
      case Some(n) if n > bound => h.set(attr, n); None
      case Some(_) => Some(df.collect())
      case None => Some(df.limit(bound + 1).collect())
    }
    rows.foreach(r => h.set(attr, r.length.toLong))
    rows.filter(_.length <= bound)
  }

  /** The catalyst rows of `df`, projections (and filters) of a local
    * relation, evaluated while Spark optimizes it: no job, no encoder.
    */
  def localRows(df: DataFrame): Array[InternalRow] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => l.data.toArray
      case _ => df.queryExecution.executedPlan.executeCollect()
    }

  /** A local DataFrame of catalyst `rows` (a `LocalRelation`, whose use
    * runs no job).
    */
  def localFrame(spark: SparkSession, schema: StructType,
                 rows: Seq[InternalRow]): DataFrame =
    GraftColumnBridge.frame(spark,
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `df` evaluated into a local DataFrame with the same columns,
    * dropping duplicate rows when `distinct` (as a Spark `distinct` of
    * the same rows does).
    */
  def local(df: DataFrame, distinct: Boolean = false): DataFrame = {
    val rows = localRows(df)
    localFrame(df.sparkSession, df.schema,
      (if (distinct) rows.distinct else rows).toSeq)
  }
}
