package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one closed-loop operation reported. `items` counts the domain
  * units it completed (books, queries, CDC rows); `key` groups repeated
  * operations of the same kind for the tracing-overhead comparison. */
final case class OpResult(ok: Boolean, items: Long, key: String, detail: String = "")

/** One workload: inputs made from the seed, set up once, then run as a
  * closed loop of operations. */
trait Workload {
  /** Generates this run's inputs under `dir` (a fresh directory). */
  def generate(dir: Path): Unit
  /** Session-side set-up on the inputs of `dir`, including the untimed
    * warm-up. Returns the warm-up's output checks as (attempted, failed);
    * they count with the operations. */
  def prepare(dir: Path): (Int, Int)
  /** Runs operation `i`; the loop times it. Throwing counts as a failure. */
  def op(i: Int, tr: Tracer): OpResult
  /** Removes what operation `i` left behind; runs outside its timing. */
  def cleanup(i: Int): Unit = ()
  /** Operations per round: the traced run alternates traced and untraced
    * rounds, so every kind of operation is measured both ways. */
  def roundSize: Int = 1
  /** Operations a run measures at least, whatever its budget. */
  def minOps: Int = 1
  /** End-of-run checks on state the operations built up: (attempted, failed). */
  def finish(): (Int, Int) = (0, 0)
  /** Per-layer values this workload derives itself, keyed by metric name,
    * given the number of traced operations. */
  def layerMetrics(tr: Tracer, tracedOps: Int): Map[String, Double] = Map.empty
}

/** This VM's CPU time from the first line of `/proc/stat`, in clock ticks:
  * time its virtual CPUs ran (user, nice, system, irq, softirq), and time
  * they were ready to run while the hypervisor ran other guests (steal).
  * Every time the benchmark reports is steal-adjusted: wall time times
  * (1 - the stolen share of the CPU time wanted meanwhile), which takes
  * out the neighbours' load on a shared host. Without `/proc/stat` the
  * share is 0 and the times are wall times. */
final case class CpuTicks(busy: Long, steal: Long) {
  def stealShareSince(from: CpuTicks): Double = {
    val b = busy - from.busy
    val st = steal - from.steal
    if (b + st > 0) st.toDouble / (b + st) else 0.0
  }
}

object CpuTicks {
  /** `busy,steal`, as `run.py` passes the reading it takes at the start. */
  def parse(s: String): CpuTicks = {
    val Array(b, st) = s.split(",").map(_.trim.toLong)
    CpuTicks(b, st)
  }

  def now(): CpuTicks =
    try {
      val r = new java.io.BufferedReader(new java.io.FileReader("/proc/stat"))
      val f = try r.readLine().trim.split("\\s+").slice(1, 9).map(_.toLong) finally r.close()
      CpuTicks(f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case _: Exception => CpuTicks(0, 0) }
}

object Main {
  /** Metric names and units, in the order `BENCHMARK.json` lists them.
    * The file sits at the checkout root, the benchmark's working directory. */
  private lazy val spec = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(Paths.get("BENCHMARK.json").toFile)
  private def metricsOf(kind: String): Seq[(String, String)] =
    spec.get(kind).elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  /** Workload names, as `BENCHMARK.json` lists them. */
  lazy val Workloads: Seq[String] = spec.get("workloads").elements.asScala.map(_.get("name").asText).toSeq

  /** End-to-end metrics, printed by untraced runs. */
  lazy val EndToEnd: Seq[(String, String)] = metricsOf("end_to_end")

  /** Per-layer metrics, printed for every workload by the traced run
    * (0 where the workload does not touch the layer). */
  lazy val PerLayer: Seq[(String, String)] = metricsOf("per_layer")

  /** Counters that are maxima or ratios, not per-operation sums. */
  private val NotPerOp = Set("exec.peak_mem_bytes", "download.useful_ratio",
    "cdc.write_amp", "pipeline.text_docs_per_min", "pipeline.audio_books_per_min")

  /** Input generations per run; set-up reports their median. */
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      threads: Int, work: Path, data: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.getOrElse("threads", "4").toInt,
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("data")).toAbsolutePath)
  }

  def workload(name: String, spark: SparkSession, o: Opts): Workload = name match {
    case "corpus_pipeline" => new CorpusPipeline(spark, o.seed)
    case "light_sweep"     => new LightSweep(spark, o.seed, o.data)
    case "cdc_stream"      => new CdcStream(spark, o.seed)
    case other             => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val r = p * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def time[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  def session(o: Opts): SparkSession = {
    val s = graft.Sessions.builder(s"local[${o.threads}]")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap still in use after a full collection, taken outside the timings
    * at the end of the first measured round, before the workload releases
    * the round's state. A fixed point in the run, so runs of different
    * lengths compare (Spark's status stores grow with every query). */
  def liveHeapMb(): Double = {
    // Two collections with a pause between them: Spark's ContextCleaner
    // releases shuffle and broadcast state asynchronously when the first
    // one clears their weak references.
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    Thread.sleep(300)
    System.gc()
    heap.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0Ms = sys.props.get("perfbench.t0").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val cpu0 = sys.props.get("perfbench.cpu0").map(CpuTicks.parse).getOrElse(CpuTicks.now())
    val spark = session(o)
    val code =
      try { println(run(spark, o, (System.currentTimeMillis() - t0Ms) / 1000.0, cpu0)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }

  /** Runs the workload and returns the result line. */
  def run(spark: SparkSession, o: Opts, sessionS: Double, cpu0: CpuTicks): String = {
    val w = workload(o.workload, spark, o)
    val genS = (0 until SetupReps).map { r =>
      val d = o.work.resolve(s"inputs-$r")
      val (_, s) = time(w.generate(d))
      if (r < SetupReps - 1) deleteTree(d)
      s
    }
    val inputs = o.work.resolve(s"inputs-${SetupReps - 1}")
    val ((warmAttempted, warmFailed), prepS) = time(w.prepare(inputs))
    val setupWallS = sessionS + median(genS) + prepS
    val setupS = setupWallS * (1 - CpuTicks.now().stealShareSince(cpu0))

    val tr = new Tracer(spark)
    val times = mutable.ArrayBuffer[(String, Double, Boolean)]() // key, ms, traced
    var attempted = warmAttempted
    var failed = warmFailed
    var items = 0L
    var tracedOps = 0
    var liveHeap = 0.0
    val budgetNs = (o.seconds * 1e9).toLong
    // Time inside operations. The budget and the item rate count only this,
    // not the heap probe or the cleanup between operations.
    var opNs = 0L
    var opMs = 0.0 // the same, steal-adjusted
    val wallMs = mutable.ArrayBuffer[Double]()
    val loopStart = System.nanoTime()
    var i = 0
    // Whole rounds only, so every run measures each kind of operation
    // equally often and its percentiles compare across runs. A traced run
    // measures at least one traced and one untraced round.
    while (opNs < budgetNs || i % w.roundSize != 0 || i < w.minOps ||
        (o.trace && i < 2 * w.roundSize)) {
      val traced = o.trace && (i / w.roundSize) % 2 == 0
      if (traced) tr.attach()
      val c = CpuTicks.now()
      val t = System.nanoTime()
      val r =
        try tr.span("op")(w.op(i, tr))
        catch { case e: Exception =>
          System.err.println(s"[perfbench] op $i failed: $e")
          OpResult(ok = false, 0L, "error", e.toString)
        }
      val ns = System.nanoTime() - t
      val ms = ns / 1e6 * (1 - CpuTicks.now().stealShareSince(c))
      opNs += ns
      opMs += ms
      wallMs += ns / 1e6
      if (traced) { tr.detach(); tracedOps += 1 }
      if (i + 1 == w.roundSize) liveHeap = liveHeapMb()
      w.cleanup(i)
      attempted += 1
      if (r.ok) { times += ((r.key, ms, traced)); items += r.items }
      else {
        failed += 1
        System.err.println(s"[perfbench] op $i (${r.key}) failed its check: ${r.detail}")
      }
      i += 1
    }
    val opS = opNs / 1e9
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val (endAttempted, endFailed) = w.finish()
    attempted += endAttempted
    failed += endFailed
    // A failed end-of-run check condemns the state every operation built.
    if (endFailed > 0) { failed = attempted; times.clear(); items = 0 }

    val lat = times.map(_._2).toSeq
    System.err.println(s"[perfbench] op ms: ${lat.map(x => f"$x%.0f").mkString(" ")}; " +
      s"wall ${wallMs.map(x => f"$x%.0f").mkString(" ")}; " + f"set-up wall $setupWallS%.2f s")
    val metrics: Seq[(String, String, Double)] =
      if (!o.trace) {
        val v = Map(
          "setup_s" -> setupS, "live_heap_mb" -> liveHeap,
          "ok_op_share" -> (attempted - failed).toDouble / attempted,
          "op_p50_ms" -> percentile(lat, 0.5), "op_p90_ms" -> percentile(lat, 0.9),
          "items_per_s" -> items / (opMs / 1000))
        EndToEnd.map { case (n, u) => (n, u, v(n)) }
      } else {
        val v = layer(w, tr, tracedOps, times.toSeq)
        report(o, tr)
        PerLayer.map { case (n, u) => (n, u, v.getOrElse(n, 0.0)) }
      }
    System.err.println(f"[perfbench] ${o.workload} seed ${o.seed}: $i ops in $opS%.1f s ($loopS%.1f s wall), " +
      f"$failed failed, set-up $setupS%.2f s (session $sessionS%.2f, gen ${genS.map(x => f"$x%.2f").mkString("/")}, prepare $prepS%.2f)")
    val body = metrics.map { case (n, u, x) =>
      s""""$n": {"value": ${jnum(x)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  private def jnum(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  /** Per-layer values: recorder counters, span time of every span named
    * after a `<layer>_ms` metric, and workload figures, per traced
    * operation; plus the span coverage and the tracing overhead. */
  def layer(w: Workload, tr: Tracer, tracedOps: Int,
      times: Seq[(String, Double, Boolean)]): Map[String, Double] = {
    val n = math.max(tracedOps, 1).toDouble
    val c = tr.counters
    val roots = tr.roots
    val base = Map(
      "driver.outside_jobs_ms" -> roots.map(tr.outsideJobsMs).sum,
      "exec.offcpu_ms" -> (c("exec.run_ms") - c("exec.cpu_ms"))) ++
      Main.PerLayer.map(_._1).filter(k => c(k) != 0.0).map(k => k -> c(k))
    val spanMs = tr.allSpans.groupBy(_.name).map { case (k, ss) => s"${k}_ms" -> ss.map(_.ms).sum }
      .filter { case (k, _) => PerLayer.exists(_._1 == k) }
    val perOp = (base ++ spanMs ++ w.layerMetrics(tr, tracedOps)).map { case (k, v) =>
      k -> (if (NotPerOp(k)) v else v / n) }
    val wall = roots.map(_.ms).sum
    val covered = roots.map(r => tr.children(r.id).map(_.ms).sum).sum
    val byKey = times.groupBy(_._1).values.flatMap { ts =>
      val (t, u) = ts.partition(_._3)
      if (t.nonEmpty && u.nonEmpty) Some((median(t.map(_._2)), median(u.map(_._2)))) else None
    }
    val overhead =
      if (byKey.isEmpty) 0.0 else (byKey.map(_._1).sum / byKey.map(_._2).sum - 1) * 100
    perOp ++ Map(
      "trace.unexplained_share" -> (if (wall > 0) 1 - covered / wall else 0.0),
      "trace.overhead_pct" -> overhead)
  }

  /** Self-time table on stdout and the spans in `.bench_trace/`. */
  def report(o: Opts, tr: Tracer): Unit = {
    println(s"# self time by span, ${o.workload} seed ${o.seed} (ms total, calls)")
    tr.selfTimes.foreach { case (n, ms, k) => println(f"#   $n%-28s $ms%10.1f $k%6d") }
    val out = Paths.get(".bench_trace", s"${o.workload}-seed${o.seed}.jsonl")
    tr.writeSpans(out)
    println(s"# spans written to $out")
  }
}

/** Sets up every workload once in one JVM (inputs, tables, warm-up),
  * measuring nothing, so that the JVM has loaded the classes the runs load.
  * `run.py` archives them at exit for class-data sharing. */
object Train {
  def main(args: Array[String]): Unit = {
    val o = Main.parse(args)
    val spark = Main.session(o)
    try Main.Workloads.foreach { name =>
      try {
        val w = Main.workload(name, spark, o)
        val dir = o.work.resolve(s"train-$name")
        w.generate(dir)
        w.prepare(dir)
        w.finish()
      } catch { case e: Exception => System.err.println(s"[perfbench] training $name: $e") }
    } finally spark.stop()
  }
}
