package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Stage-boundary bindings for the curation CLIs. A curation run is a
  * chain of stages, each reading the survivors of the one before, and every
  * stage triggers actions of its own (an audit write, a count). `apply`
  * materializes a stage's survivors eagerly with `localCheckpoint(true)`:
  * the returned relation is a flat scan of the bound rows, so every later
  * action analyzes, optimizes and plans a tree that starts there. A
  * `cache()` would keep the rows but not cut the plan: each later action
  * would still re-analyze the whole lineage back to the input parquet and
  * look it up against every cached plan, and that planning work grows
  * with every stage stacked on top.
  *
  * Trade-off: a bound relation has no lineage. Its blocks live on the
  * executors that computed them, so losing one fails the run instead of
  * recomputing the stage. `Dedup.connectedComponents` and
  * `Dedup.jaccardPairs` make the same trade; on a cluster where executor
  * loss is expected, a durable `checkpoint` (after
  * `SparkContext.setCheckpointDir`) is the swap-in.
  *
  * `release` frees the blocks of every relation bound so far; call it once
  * the run's last action has finished. */
private[graft] final class StageBindings {
  private var bound = List.empty[DataFrame]

  /** `df`, computed now and bound as a flat relation. */
  def apply(df: DataFrame): DataFrame = {
    val b = df.localCheckpoint(true)
    bound ::= b
    b
  }

  def release(): Unit = {
    bound.foreach(_.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    })
    bound = Nil
  }
}
