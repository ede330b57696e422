package graft.obs

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.Shim
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Tally]] holds exactly the work its block ran, however late the
  * listener bus delivers it, and leaves nothing attached. */
class TallySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def sc = spark.sparkContext

  /** Runs `f` with a listener that holds every task end back, ahead of
    * any tally's on the same queue: a tally's events then arrive well
    * after the action that posted them has returned. */
  private def withSlowBus[T](f: => T): T = {
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(150)
    }
    sc.addSparkListener(slow)
    try f finally sc.removeSparkListener(slow)
  }

  test("a two-partition count is 1 job, 1 stage and 2 tasks, however late the bus delivers them") {
    val (n, t) = withSlowBus(Tally.of(spark)(sc.parallelize(1 to 10, 2).count()))
    assert(n == 10)
    assert(t.jobs.size == 1 && t.jobs.head.stages == 1 && t.jobs.head.wallMs >= 0, t.jobs)
    assert(t.stages.map(_.tasks) == Seq(2), t.stages)
    assert(t.tasks == 2)
  }

  test("a job finished just before the block is not counted") {
    val t = withSlowBus {
      sc.parallelize(1 to 10, 2).count()
      Tally.of(spark)(())._2
    }
    assert(t.jobs.isEmpty && t.stages.isEmpty && t.tasks == 0 && t.runMs == 0, t)
  }

  test("an inner tally's jobs show in the outer tally too") {
    val ((_, inner), outer) = Tally.of(spark) {
      sc.parallelize(1 to 10, 2).count()
      Tally.of(spark)(sc.parallelize(1 to 10, 3).count())
    }
    assert(inner.jobs.size == 1 && inner.tasks == 3)
    assert(outer.jobs.size == 2 && outer.tasks == 5)
    assert(outer.jobs.map(_.id).contains(inner.jobs.head.id))
  }

  test("a block that throws leaves no listener attached") {
    val before = Shim.listenerCount(spark)
    val e = intercept[IllegalStateException](Tally.of(spark) {
      sc.parallelize(1 to 10, 2).count()
      throw new IllegalStateException("boom")
    })
    assert(e.getMessage == "boom")
    assert(Shim.listenerCount(spark) == before)
  }

  test("a fresh-literal plan compiles, its re-run does not, and both plans are kept") {
    // A literal no earlier plan carried is inlined into the generated code.
    val fresh = System.nanoTime()
    def run() = spark.range(10).select((col("id") * lit(fresh)).as("x")).collect()
    val first = Tally.of(spark)(run())._2
    val again = Tally.of(spark)(run())._2
    assert(first.compiles > 0)
    assert(again.compiles == 0)
    assert(first.plans.size == 1 && again.plans.size == 1)
  }
}
