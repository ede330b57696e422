package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call the benchmark made into a layer. `parent` is the id of
  * the enclosing span, -1 for an operation's root span. */
final case class Span(id: Int, name: String, parent: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Per-layer counters, summed over the traced operations. */
final class Counters {
  private val m = mutable.LinkedHashMap[String, Double]()
  def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def max(k: String, v: Double): Unit = synchronized { m(k) = math.max(m.getOrElse(k, 0.0), v) }
  def apply(k: String): Double = synchronized { m.getOrElse(k, 0.0) }
}

/** The traced run's recorders: spans around the benchmark's own calls, a
  * SparkListener (scheduler, executor, shuffle, io, block store), a
  * QueryExecutionListener (Catalyst phases), a StreamingQueryListener
  * (micro-batch phases) and CodegenMetrics deltas. Nothing is attached
  * while `attach` has not been called, so untraced operations pay only
  * the `active` check in `span`. */
final class Tracer(spark: SparkSession) {
  val counters = new Counters
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private var attached = false
  private var compiles0 = 0L
  private var compileMs0 = 0.0

  def active: Boolean = attached

  private object engine extends SparkListener {
    private val jobStart = mutable.Map[Int, Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      counters.add("sched.jobs", 1); jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counters.add("sched.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      counters.add("sched.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        counters.add("exec.run_ms", m.executorRunTime)
        counters.add("exec.cpu_ms", m.executorCpuTime / 1e6)
        counters.add("exec.gc_ms", m.jvmGCTime)
        counters.add("exec.deser_ms", m.executorDeserializeTime)
        counters.max("exec.peak_mem_bytes", m.peakExecutionMemory)
        counters.add("io.bytes_read", m.inputMetrics.bytesRead)
        counters.add("io.bytes_written", m.outputMetrics.bytesWritten)
        counters.add("io.records_written", m.outputMetrics.recordsWritten)
        counters.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        counters.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        counters.add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        counters.add("spill.bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val i = e.blockUpdatedInfo
      if (i.blockId.isRDD && i.storageLevel.isValid)
        counters.add("checkpoint.bytes", i.memSize + i.diskSize)
    }
  }

  private object catalyst extends QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { ph =>
        p.get(ph).foreach(s => counters.add(s"catalyst.${ph}_ms", s.durationMs))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private object stream extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        counters.add("stream.batches", 1)
        counters.add("stream.input_rows", p.numInputRows)
        val d = p.durationMs.asScala
        Seq("addBatch" -> "stream.add_batch_ms", "queryPlanning" -> "stream.planning_ms",
          "walCommit" -> "stream.wal_commit_ms", "triggerExecution" -> "stream.trigger_ms")
          .foreach { case (k, n) => d.get(k).foreach(v => counters.add(n, v.doubleValue)) }
      }
    }
  }

  private def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    // The histogram keeps a sample, not a sum: time = count x sample mean.
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }

  def attach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(stream)
    val (c, ms) = codegen
    compiles0 = c; compileMs0 = ms
    attached = true
  }

  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    val (c, ms) = codegen
    counters.add("codegen.compiles", c - compiles0)
    counters.add("codegen.compile_ms", ms - compileMs0)
    spark.sparkContext.removeSparkListener(engine)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(stream)
    attached = false
  }

  def span[T](name: String)(f: => T): T =
    if (!attached) f
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id; filled when the span closes
      stack = id :: stack
      val (s, sm) = (System.nanoTime(), System.currentTimeMillis())
      try f
      finally {
        spans(id) = Span(id, name, parent, s, System.nanoTime(), sm, System.currentTimeMillis())
        stack = stack.tail
      }
    }

  def allSpans: Seq[Span] = spans.toSeq.filter(_ != null)

  /** Spans whose parent is `id`. */
  def children(id: Int): Seq[Span] = allSpans.filter(_.parent == id)

  /** Operation roots (parent -1). */
  def roots: Seq[Span] = allSpans.filter(_.parent == -1)

  /** Time inside `root` during which no Spark job ran (driver-side work:
    * analysis, planning, eager collects' driver halves, benchmark glue). */
  def outsideJobsMs(root: Span): Double = {
    val inside = jobIntervals.synchronized(jobIntervals.toSeq)
      .map { case (s, e) => (math.max(s, root.startMs), math.min(e, root.endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L; var curE = -1L
    inside.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, (root.endMs - root.startMs) - covered)
  }

  /** Self time per span name: duration minus the time its children cover
    * (children are sequential calls on the driver thread). */
  def selfTimes: Seq[(String, Double, Int)] = {
    val all = allSpans
    val childMs = all.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    all.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum, ss.size)
    }.sortBy(-_._2)
  }

  /** Writes every span as one JSON line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = allSpans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ms":${s.ms}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}
