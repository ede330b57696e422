package graft.tools

import java.nio.file.{Files, Paths}

import graft.queries._

/** Regenerates the literal oracle-SQL body of SparkEntry.scala.
  *
  * The external correctness gate may statically parse SparkEntry.scala
  * for literal `"name" -> "SQL"` entries (a programmatic `oracleSql`
  * map read as `no_oracle` for every query), so the map there must
  * stay literal. The per-file maps in the queries package remain the
  * editing source; this main collapses each SQL to a single line, escapes
  * it, and rewrites the lines between the ORACLE-BODY markers in place
  * (run from the repo root). `OracleSyncSpec` fails the build when the
  * literal drifts.
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

  /** The BEGIN marker with its comment lines (group 1), the body (2) and
    * the END marker (3). The comment lines match `[^\n]*`, never `.*`:
    * under DOTALL a `.` crosses newlines, would swallow the body into the
    * kept prefix, and every run would then append a copy. */
  private val Block =
    """(?s)(// ORACLE-BODY-BEGIN[^\n]*\n(?:[ \t]*//[^\n]*\n)*)(.*?)(\n\s*// ORACLE-BODY-END)""".r

  def main(args: Array[String]): Unit = {
    val entry = Paths.get("src/main/scala/graft/SparkEntry.scala")
    val src = Files.readString(entry)
    val m = Block.findFirstMatchIn(src).getOrElse(sys.error(s"no ORACLE-BODY markers in $entry"))
    Files.writeString(entry, src.substring(0, m.start(2)) + body + src.substring(m.end(2)))
    println(s"wrote ${union.size} entries into ${entry.toAbsolutePath}")
  }
}
