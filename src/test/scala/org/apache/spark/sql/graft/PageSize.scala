package org.apache.spark.sql.graft

import org.apache.spark.SparkEnv

/** The Tungsten page size of the running SparkEnv's memory manager
  * (`MemoryManager` is private[spark]; this lives under spark for access).
  */
object PageSize {
  def apply(): Long = SparkEnv.get.memoryManager.pageSizeBytes
}
