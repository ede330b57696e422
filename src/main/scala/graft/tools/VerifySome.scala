package graft.tools

import graft.{Sessions, SparkEntry, Verify}

/** Selective Verify for the inner dev loop: run ONLY the named queries
  * (args: sfDir outDir name...) and write their parquet + a matching
  * oracle_sql.json, so `python3 tools/oracle_check.py sfDir outDir
  * name...` checks just the queries under edit instead of the full
  * registry. The full gate still runs graft.Verify; this tool shares its
  * session/table setup and its oracle writer, so a pass here predicts a
  * pass there.
  */
object VerifySome {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSeq
    require(names.nonEmpty, "usage: VerifySome <sfDir> <outDir> <name...>")
    val (spark, _) = Sessions.registry(sfDir, names)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    Verify.writeOracleSql(outDir, names)
    spark.stop()
  }
}
