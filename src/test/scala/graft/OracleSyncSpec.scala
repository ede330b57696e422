package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.GenOracleBody

/** SparkEntry.oracleSql is a generated literal (the driver's correctness
  * gate may parse the source for `"name" -> "SQL"` entries); the per-file
  * maps in the queries package are the editing source. This spec fails the
  * build when the two drift — regenerate with
  * `sbt "runMain graft.tools.GenOracleBody"`.
  */
class OracleSyncSpec extends AnyFunSuite {

  test("literal oracleSql matches the per-file oracle union") {
    val union = GenOracleBody.union.map { case (k, v) =>
      k -> GenOracleBody.normalize(v)
    }
    val lit = SparkEntry.oracleSql
    val missing = union.keySet -- lit.keySet
    val extra = lit.keySet -- union.keySet
    assert(missing.isEmpty, s"missing from SparkEntry literal: $missing")
    assert(extra.isEmpty, s"stale entries in SparkEntry literal: $extra")
    for ((k, v) <- union)
      assert(lit(k) == v, s"drifted entry $k:\n  literal: ${lit(k)}\n  source:  $v")
  }

  test("whitespace-collapse is safe: no SQL string literal spans lines or holds 2+ spaces") {
    // normalize() rewrites every whitespace run to one space INCLUDING
    // inside '...' literals; that is only lossless if no literal relies
    // on a newline or multi-space.
    val litPat = "'([^']*)'".r
    for ((k, sql) <- GenOracleBody.union;
         m <- litPat.findAllMatchIn(sql)) {
      val body = m.group(1)
      assert(!body.contains("\n") && !body.contains("  "),
        s"$k has a whitespace-sensitive SQL string literal: '${body.take(40)}'")
    }
  }

  test("every query has an oracle and every oracle has a query") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("each oracle key appears exactly once in the SparkEntry source text") {
    // A static first-match parser of the source must see the same map the
    // compiled Map does (Scala Map keeps the LAST duplicate — a broken
    // splice once left 12 accumulated copies where the first was stale).
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala"))
    for (k <- SparkEntry.oracleSql.keySet) {
      val needle = "\"" + k + "\" ->"
      val n = needle.r.findAllMatchIn(src).size
      assert(n == 1, s"key $k appears $n times in SparkEntry.scala source")
    }
  }
}
