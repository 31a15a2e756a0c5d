package org.apache.spark

/** Test access to a context's checkpoint dir: SparkContext can set one
  * but never unset it, so a suite that runs in reliable-checkpoint mode
  * restores the previous value through the package-private field. */
object CheckpointDirAccess {
  def withCheckpointDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    val saved = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = saved
  }
}
