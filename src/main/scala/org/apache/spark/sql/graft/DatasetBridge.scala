package org.apache.spark.sql.graft

/** Bridge to Spark internals the TopK operator needs. Lives under
  * spark.sql purely for access.
  */
object DatasetBridge {

  /** Float-key normalization (-0.0 -> 0.0, canonical NaN) for grouping
    * expressions — NormalizeFloatingNumbers.normalize is private[sql], so
    * the graft bridge re-exports it for the TopK physical operator.
    */
  def normalizeFloats(e: org.apache.spark.sql.catalyst.expressions.Expression)
  : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
}
