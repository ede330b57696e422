package graft.tools

import graft.{Bench, Sessions}
import graft.obs.Tally

/** Dev timer and census for the inner perf loop: run ONLY the named
  * registry queries against a sf dir (args: sfDir reps name...), each rep
  * GC-separated, and print per query its min/median and the [[Tally]] of
  * its median run: every job's wall time and stage count, the stages,
  * tasks, task time, compiles and files discovered, and the heaviest
  * stages' task time and records read. The census tells a sequential
  * small-job chain from one heavy stage before any perf rewrite. Times
  * the form Bench times ([[Bench.timedForm]]: no oracle-only root sort)
  * into the noop sink. Not part of the query surface. */
object TimeSome {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: TimeSome <sfDir> <reps> <name...>")
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val (spark, _) = Sessions.registry(sfDir, names)
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      Bench.timedForm(spark, sfDir, name)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // Untimed warm-up: JIT and generated classes. The tables were
    // resolved once by registerAll.
    names.foreach(n => once(n))
    // The tally's listener-bus drains fall outside `once`'s timing. Its
    // executed plans are dropped: they keep their broadcasts reachable,
    // and the census does not print them.
    val runs = Array.fill(reps)(names.map { n =>
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc(); Thread.sleep(300)
      val (secs, t) = Tally.of(spark)(once(n))
      n -> (secs, t.copy(plans = Nil))
    }).flatten.groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1)).toMap
    names.foreach { n =>
      val v = runs(n)
      val (median, t) = v(v.length / 2)
      println(f"[time] $n%-28s min ${v.head._1}%6.2f s  med $median%6.2f s  (${v.map(r => f"${r._1}%.2f").mkString(" ")})")
      println(s"[tally] $n median run: ${t.jobs.size} jobs, ${t.stages.size} stages, " +
        s"${t.tasks} tasks, task ${t.stages.map(_.taskMs).sum} ms, " +
        s"${t.compiles} compiles, ${t.filesDiscovered} files discovered")
      t.jobs.foreach(j => println(f"[job] #${j.id}%-4d ${j.wallMs}%6d ms  ${j.stages} stages"))
      t.stages.sortBy(-_.taskMs).take(8).foreach { s =>
        println(f"[stage] #${s.id}%-5d task ${s.taskMs}%7d ms  records ${s.records}%9d  ${s.name.take(70)}")
      }
    }
    spark.stop()
  }
}
