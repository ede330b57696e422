package graft.obs

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Tally]] is the only code that listens to Spark's listener bus or
  * reads its compile and file-listing counters: a second listener or
  * counter read outside `graft/obs/` and the `graftshim` bridge would be
  * a second, differently drained way to measure a block of work. */
class TallyOnlySpec extends AnyFunSuite {
  private val forbidden = ("""\b(extends|with|new)\s+[\w.]*\b(SparkListener|QueryExecutionListener)\b""" +
    """|\blistenerBus\b|\bMETRIC_COMPILATION_TIME\b|\bMETRIC_FILES_DISCOVERED\b""").r
  private val exempt = """/graft/obs/|/org/apache/spark/sql/graftshim/""".r

  test("no listener or Spark metric read outside graft.obs and the shim") {
    val files = Seq("src/main/scala", "src/test/scala")
      .flatMap(root => Files.walk(Paths.get(root)).iterator.asScala)
      .filter(_.toString.endsWith(".scala"))
    assert(files.exists(_.endsWith("Tally.scala")), "the scan found no sources")
    val hits = for {
      f <- files if exempt.findFirstIn(f.toString).isEmpty
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if forbidden.findFirstIn(line).nonEmpty
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
