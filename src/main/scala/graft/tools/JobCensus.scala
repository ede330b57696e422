package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{Sessions, SparkEntry, Tables}

/** Dev probe: per-job + per-stage census of any registry query —
  * args: sfDir name... For each named query, runs it once warm then
  * once instrumented, printing every Spark job's wall time, stage
  * count, and the heaviest stages' task-time/record counts. This is
  * the "is it a sequential small-job chain or one heavy stage?"
  * discriminator to run before any perf rewrite. */
object JobCensus {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobCensus <sfDir> <name...>")
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.registerAll(spark, sfDir)
    graft.functions.TextFns.registerAll(spark)

    val jobT0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Double)]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, (String, Double, Long)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobT0.put(js.jobId, System.nanoTime())
        jobs.put(js.jobId, (js.stageInfos.size, -1.0))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val dt = (System.nanoTime() - jobT0.getOrDefault(je.jobId, 0L)) / 1e9
        val (n, _) = jobs.getOrDefault(je.jobId, (0, -1.0))
        jobs.put(je.jobId, (n, dt))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val tm = si.taskMetrics
        stages.put(si.stageId, (
          si.name.takeWhile(_ != '\n').take(70),
          (tm.executorRunTime + tm.executorDeserializeTime) / 1e3,
          tm.inputMetrics.recordsRead + tm.shuffleReadMetrics.recordsRead))
      }
    }

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    import scala.jdk.CollectionConverters._
    names.foreach { name =>
      once(name) // warm
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc(); Thread.sleep(300)
      jobT0.clear(); jobs.clear(); stages.clear()
      spark.sparkContext.addSparkListener(listener)
      val wall = once(name)
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
      val js = jobs.asScala.toSeq.sortBy(_._1)
      println(f"=== $name: $wall%.3f s wall, ${js.size} jobs, ${stages.size} stages ===")
      js.foreach { case (id, (nStages, sec)) =>
        println(f"[job] #$id%-4d $sec%6.3f s  $nStages stages")
      }
      println("--- heaviest stages by task time ---")
      stages.asScala.toSeq.sortBy(-_._2._2).take(8).foreach {
        case (id, (nm, taskSec, recs)) =>
          println(f"[stage] #$id%-5d task-time $taskSec%7.2f s  records $recs%9d  $nm")
      }
    }
    spark.stop()
  }
}
