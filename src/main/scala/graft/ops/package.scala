package graft

import org.apache.spark.sql.DataFrame

package object ops {

  /** Drop a localCheckpoint'd frame's cached blocks, which otherwise
    * pin heap until the cleaner's periodic GC. An unpersisted local
    * checkpoint CANNOT be recomputed (its lineage is truncated by
    * design), so call this only on frames provably dead: a durable
    * mutation's snapshots once its writes landed, a BPE loop
    * predecessor after its successor's eager checkpoint materialized
    * (without it a 32k-merge tokenizer build pins one dead copy of its
    * dict per merge).
    */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }
}
