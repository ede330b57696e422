package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library has no session conf of its own and reads two deployment
  * settings from the environment: `SPARK_GRAFT_CPUS` (the local core
  * count, [[Sessions]]) and `SPARK_GRAFT_SF_DIR` (the bench's fixture
  * directory, [[Bench]]). Anything else a caller can switch is a Spark
  * setting or a parameter; a new knob lands only with a measurement that
  * shows it matters, and then with a change to this list. */
class NoKnobSpec extends AnyFunSuite {
  private val forbidden = """"spark\.graft\.|\bsys\.env\b|\bgetenv\b""".r
  private val allowed =
    """(sys\.env\.(get|getOrElse)|System\.getenv)\("(SPARK_GRAFT_CPUS|SPARK_GRAFT_SF_DIR)"""".r

  test("no graft session conf and no environment read but the two deployment settings") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("Checkpoints.scala")), "the scan found no sources")
    val hits = for {
      f <- files
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if forbidden.findFirstIn(allowed.replaceAllIn(line, "")).nonEmpty
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
