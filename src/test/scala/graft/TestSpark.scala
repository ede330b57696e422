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

  /** Runs `f` with the context's checkpoint directory set through
    * `setCheckpointDir` to a fresh temp dir (passed to `f`), so every
    * checkpoint is durable; the previous directory is restored after. */
  def reliable[T](f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    ContextShim.withCheckpointDir(spark.sparkContext, dir)(f(dir))
  }
}
