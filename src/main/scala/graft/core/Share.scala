package graft.core

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.storage.StorageLevel

/**
 * The one way an operator materializes an intermediate that several
 * consumers, or the next round of a loop, read. `once(df, label)` plans
 * `df` (running its upstream shuffle stages, as any action does under
 * AQE), persists its rows at `MEMORY_AND_DISK` as the RDD `label`, and
 * returns one leaf over them that keeps `df`'s partitioning, ordering and
 * statistics, so loop-carried frames keep a flat plan. The final stage
 * runs with the first consumer. The rows keep their lineage: blocks lost
 * with an executor are recomputed, not a query failure (`ShareFaultSpec`),
 * so `df` must be deterministic (no order-dependent aggregate, no
 * unseeded randomness).
 */
object Share {
  def once(df: DataFrame, label: String): DataFrame = {
    val qe = df.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some(label))(qe.toRdd)
      .map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
      .setName(label)
    GraftBridge.overRows(df, rows)
  }
}
