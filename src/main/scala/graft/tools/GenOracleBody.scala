package graft.tools

import java.nio.file.{Files, Paths}

import graft.queries._

/** Regenerates the literal oracle-SQL body spliced into SparkEntry.scala.
  *
  * The external correctness gate may statically parse SparkEntry.scala
  * for literal `"name" -> "SQL"` entries (a programmatic `oracleSql`
  * map read as `no_oracle` for every query), so the map there must
  * stay literal. The per-file maps in the queries package remain the
  * editing source; this main collapses each SQL to a single line, escapes
  * it, and writes `tools/oracle_map_body.scala.txt` for
  * `python3 tools/splice_oracle.py` to splice between the ORACLE-BODY
  * markers. `OracleSyncSpec` fails the build when the literal drifts.
  */
object GenOracleBody {
  def union: Map[String, String] =
    RelationalQueries.oracle ++ TextQueries.oracle ++
      DedupQueries.oracle ++ IoQueries.oracle ++
      StatefulQueries.oracle ++ MiscQueries.oracle ++
      ScaleQueries.oracle ++ RetrievalQueries.oracle ++
      CurationQueries.oracle ++ MetricsQueries.oracle ++
      AssocQueries.oracle ++ SignalQueries.oracle

  /** Whitespace-collapse: safe because no oracle SQL string literal
    * contains a newline or a run of 2+ spaces (asserted in OracleSyncSpec).
    */
  def normalize(sql: String): String =
    sql.replaceAll("\\s+", " ").trim

  private def escape(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case c    => c.toString
    }

  def body: String =
    union.toSeq.sortBy(_._1).map { case (k, v) =>
      s"""    "$k" -> "${escape(normalize(v))}","""
    }.mkString("\n").stripSuffix(",")

  def main(args: Array[String]): Unit = {
    val out = Paths.get("tools/oracle_map_body.scala.txt")
    Files.writeString(out, body)
    println(s"wrote ${out.toAbsolutePath} (${union.size} entries)")
  }
}
