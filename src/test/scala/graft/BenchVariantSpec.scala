package graft

import org.apache.spark.sql.GraftBenchShim
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Bench times `stripRootSort(query)`; a `SparkEntry.benchVariants` entry
  * exists only for harness work that is not a root sort. That is honest
  * only while the variant still computes the registered query's result,
  * and it is a second copy to keep in sync only when it differs from what
  * `stripRootSort` already gives. This spec pins both: every variant
  * yields the registered query's multiset of rows, and no variant is the
  * registered query with just its root sort stripped. */
class BenchVariantSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("every bench variant matches its registered query's rows") {
    graft.functions.TextFns.registerAll(spark)
    for ((name, vfn) <- SparkEntry.benchVariants) {
      assert(SparkEntry.queries.contains(name),
        s"bench variant $name has no registered query")
      val q = SparkEntry.queries(name)(spark, sfDir)
      val v = vfn(spark, sfDir)
      val qCols = q.columns.toSeq
      assert(qCols.forall(v.columns.contains),
        s"$name variant lost columns: ${qCols.diff(v.columns)}")
      val qRows = q.select(qCols.map(col): _*).collect().map(_.toString).sorted
      val vRows = v.select(qCols.map(col): _*).collect().map(_.toString).sorted
      assert(qRows.length == vRows.length,
        s"$name variant row count ${vRows.length} != query ${qRows.length}")
      assert(qRows.sameElements(vRows),
        s"$name variant rows diverge from the registered query")
    }
  }

  test("no bench variant is its registered query with only the root sort stripped") {
    graft.functions.TextFns.registerAll(spark)
    val duplicates = SparkEntry.benchVariants.toSeq.sortBy(_._1).collect {
      case (name, vfn) if GraftBenchShim.stripRootSort(SparkEntry.queries(name)(spark, sfDir))
          .queryExecution.analyzed.sameResult(vfn(spark, sfDir).queryExecution.analyzed) => name
    }
    assert(duplicates.isEmpty,
      s"bench variants that stripRootSort already covers: ${duplicates.mkString(", ")}")
  }
}
