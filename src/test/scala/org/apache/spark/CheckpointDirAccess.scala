package org.apache.spark

/** Test-side write access to `SparkContext.checkpointDir`, which is
  * `private[spark]`: Spark sets it (`setCheckpointDir`) but has no public
  * unset, and a suite that sets it must put the previous value back or
  * every later suite in the JVM gets reliable lineage cuts. */
object CheckpointDirAccess {
  def restore(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir
}
