package org.apache.spark

/** Test access to SparkContext state that only code in this package can
  * reach. */
object ContextShim {
  /** Runs `f` with no checkpoint directory set, then restores the old one:
    * a test of the no-directory path must not depend on whether an
    * earlier suite set one on the shared context. */
  def withoutCheckpointDir[T](sc: SparkContext)(f: => T): T = {
    val saved = sc.checkpointDir
    sc.checkpointDir = None
    try f finally sc.checkpointDir = saved
  }

  /** Runs `f` with the checkpoint directory set through
    * `setCheckpointDir(dir)`, as a deployer sets it, then restores the old
    * one: later suites on the shared context see what they saw before. */
  def withCheckpointDir[T](sc: SparkContext, dir: String)(f: => T): T = {
    val saved = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try f finally sc.checkpointDir = saved
  }
}
