package graft

import org.apache.spark.ContextShim
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (forked JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.builder(master = "local[4]").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `f` in reliable checkpoint mode, with the context's checkpoint
    * directory set through `setCheckpointDir` to a fresh temp dir (passed
    * to `f`); the mode and the previous directory are restored after. */
  def reliable[T](f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    reliableMode(ContextShim.withCheckpointDir(spark.sparkContext, dir)(f(dir)))
  }

  /** Runs `f` in reliable checkpoint mode with no checkpoint directory,
    * whatever an earlier suite set on the shared context. */
  def reliableWithoutDir[T](f: => T): T =
    reliableMode(ContextShim.withoutCheckpointDir(spark.sparkContext)(f))

  private def reliableMode[T](f: => T): T = {
    spark.conf.set(Checkpoints.ModeKey, "reliable")
    try f finally spark.conf.unset(Checkpoints.ModeKey)
  }
}
