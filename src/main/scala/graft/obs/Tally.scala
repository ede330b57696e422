package graft.obs

import scala.collection.mutable

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.util.QueryExecutionListener

/** One job a tallied block started: its wall time between the scheduler's
  * start and end events (-1 if it had not ended when the block did) and
  * the stages it planned, skipped ones included. */
final case class JobTally(id: Int, wallMs: Long, stages: Int)

/** One stage that completed in a tallied block: the first line of its
  * name, its task count, its task time (run + deserialise) and the
  * records its tasks read from input and shuffle. */
final case class StageTally(id: Int, name: String, tasks: Int, taskMs: Long, records: Long)

/** What a block of Spark work ran, from [[Tally.of]].
  *
  * @param tasks           tasks that ended
  * @param runMs           their summed `executorRunTime`
  * @param compiles        classes Spark's code generator compiled
  * @param filesDiscovered files a file index listed
  * @param plans           the executed plans of the queries that succeeded
  */
final case class Tally(jobs: Seq[JobTally], stages: Seq[StageTally], tasks: Long,
    runMs: Long, compiles: Long, filesDiscovered: Long, plans: Seq[SparkPlan])

/** The one way the program measures a block of Spark work; nothing is
  * attached outside a call.
  *
  * Invariant: a tally holds exactly the events of the work `f` ran. Spark
  * delivers listener events asynchronously, so the bus is drained before
  * the listeners attach (events of earlier work go to the earlier
  * listeners only) and again after `f` (the scheduler posts a job's
  * events before its action returns, so the drain delivers all of them).
  * Each call attaches listeners of its own, so tallies nest. The
  * listeners see the whole context and the compile and file counters the
  * whole JVM: work another thread runs meanwhile is counted too. */
object Tally {
  def of[T](spark: SparkSession)(f: => T): (T, Tally) = {
    val sc = spark.sparkContext
    val rec = new Recorder
    Shim.drainListenerBus(sc)
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try {
      val (c0, f0) = (compiled, discovered)
      val out = f
      Shim.drainListenerBus(sc)
      (out, rec.tally(compiled - c0, discovered - f0))
    } finally {
      sc.removeSparkListener(rec)
      spark.listenerManager.unregister(rec)
    }
  }

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def discovered: Long = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount

  /** Both listeners in one: the bus delivers to it from its own thread,
    * and the caller reads it after a drain, so every access is
    * synchronized. */
  private final class Recorder extends SparkListener with QueryExecutionListener {
    private val jobStarts = mutable.LinkedHashMap[Int, (Long, Int)]()
    private val jobEnds = mutable.Map[Int, Long]()
    private val stages = mutable.ArrayBuffer[StageTally]()
    private val plans = mutable.ArrayBuffer[SparkPlan]()
    private var tasks, runMs = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStarts(e.jobId) = (e.time, e.stageInfos.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobEnds(e.jobId) = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages += StageTally(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
        m.executorRunTime + m.executorDeserializeTime,
        m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      if (e.taskMetrics != null) runMs += e.taskMetrics.executorRunTime
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { plans += qe.executedPlan }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    def tally(compiles: Long, files: Long): Tally = synchronized {
      val jobs = jobStarts.toSeq.map { case (id, (t0, nStages)) =>
        JobTally(id, jobEnds.get(id).fold(-1L)(_ - t0), nStages)
      }
      Tally(jobs, stages.toSeq, tasks, runMs, compiles, files, plans.toSeq)
    }
  }
}
