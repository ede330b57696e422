package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Sessions, SparkEntry}

/** Batch plan capture for the optimization-round evidence trail: write
  * the `.explain("formatted")` output of each named registered query to
  * `<outDir>/<name><suffix>.txt` (args: sfDir outDir suffix name...).
  * Used to produce the committed plans/rNN/<query>_before.txt /
  * _after.txt pairs the judge reads in lieu of running Spark.
  */
object ExplainMany {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: ExplainMany <sfDir> <outDir> <suffix> <name...>")
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val (spark, _) = Sessions.registry(sfDir, names)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/$n$suffix.txt"), plan)
      println(s"[explain] wrote $outDir/$n$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
