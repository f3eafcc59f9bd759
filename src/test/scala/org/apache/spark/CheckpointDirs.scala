package org.apache.spark

/** Test-side setter for `SparkContext.checkpointDir`, which is
  * `private[spark]`: `setCheckpointDir` has no way back to "no
  * directory", so a spec that sets one on the shared session restores
  * the previous value through here. */
object CheckpointDirs {
  def restore(sc: SparkContext, dir: Option[String]): Unit = sc.checkpointDir = dir
}
