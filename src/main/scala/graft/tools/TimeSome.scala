package graft.tools

import graft.{Bench, Sessions, SparkEntry, Tables}

/** Dev timer for the inner perf loop: run ONLY the named registry
  * queries against a sf dir (args: sfDir reps name...), each rep
  * GC-separated, and print per-query min/median — the isolated-number
  * methodology of tools/duck_ratio.py without the DuckDB side or a
  * full Verify run. Times the form Bench times ([[Bench.timedForm]]: no
  * oracle-only root sort) into the noop sink. Not part of the query
  * surface. */
object TimeSome {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: TimeSome <sfDir> <reps> <name...>")
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.registerAll(spark, sfDir)
    graft.functions.TextFns.registerAll(spark)
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      Bench.timedForm(spark, sfDir, name)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // Untimed warm-up: JIT and generated classes. The tables were
    // resolved once by registerAll.
    names.foreach(n => once(n))
    val ts = Array.fill(reps)(names.map { n =>
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc(); Thread.sleep(300)
      n -> once(n)
    }).flatten.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    names.foreach { n =>
      val v = ts(n)
      println(f"[time] $n%-28s min ${v.head}%6.2f s  med ${v(v.length / 2)}%6.2f s  (${v.map(x => f"$x%.2f").mkString(" ")})")
    }
    spark.stop()
  }
}
