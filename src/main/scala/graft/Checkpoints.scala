package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

object Checkpoints {

  /** Unpersists `df`'s blocks. On a `localCheckpoint` frame
    * `Dataset.unpersist` does nothing (it drops only what `Dataset.persist`
    * cached): the blocks belong to the RDD under the frame's `LogicalRDD`.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }
}
