package org.apache.spark

/** The specs' reads of `private[spark]` state. */
object GraftTestAccess {
  /** The Tungsten page size `sc`'s memory manager hands out. */
  def pageSizeBytes(sc: SparkContext): Long = sc.env.memoryManager.pageSizeBytes
}
