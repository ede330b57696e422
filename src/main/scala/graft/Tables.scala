package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Loaders for the driver's synthetic TPC-H-ish parquet tables (TESTDATA.md).
  *
  * All engine queries read through here so that scale-sensitive read options
  * live in one place. Tables are plain parquet directories/files named
  * `<table>.parquet` under a scale-factor dir.
  *
  * Each table is resolved once per session. The first [[load]] of a path
  * runs `spark.read.parquet`, which lists the files and runs a one-task
  * job to infer the schema; every later load wraps the resolved relation
  * in a fresh `LogicalRelation` (fresh expression ids, so self-joins
  * work) with no listing and no job. A warm `spark.read.parquet` of
  * sf0.01 lineitem takes ≈100 ms on a 4-core VM, most of a short query's
  * build; the cached load ≈3 ms. Invariants:
  *  - Table files do not change under a session. A caller that rewrites a
  *    table calls [[refresh]] before it loads the table again.
  *  - A relation is only handed out in the session that resolved it: its
  *    scan reads that session's conf, and its schema was inferred under it
  *    (`nanosAsLong` decides how `events.ts` reads).
  *  - A load that throws caches nothing, so the next call retries and
  *    [[registerAll]] keeps its per-table isolation.
  *  - No eviction. The program makes one session per JVM (tests add one
  *    sibling), so the map holds a few relations per table directory. */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val resolved =
    new ConcurrentHashMap[(SparkSession, String), HadoopFsRelation]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // A function that throws leaves no mapping behind.
    val rel = resolved.computeIfAbsent((spark, path), _ =>
      spark.read.parquet(path).queryExecution.analyzed.collectFirst {
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
      }.get)
    spark.baseRelationToDataFrame(rel)
  }

  /** Drops every table `spark` has resolved: the next [[load]] of each
    * lists its files and infers its schema again. */
  def refresh(spark: SparkSession): Unit =
    resolved.keySet.removeIf(_._1 eq spark)

  /** Fan a NARROW scan out to the session's parallelism — for kernel-
    * heavy per-row stages (tokenize, rolling hash, vector math) whose
    * map work would otherwise serialize on however few splits the input
    * file has. The local fixtures are single-row-group parquet, so their
    * scans are 1 task and a 46 µs/row kernel over 150k rows burns 7 s of
    * ONE core on a 32-core session (fn_normalize_pipeline). Widen-only:
    * at real scale the scan already carries >= parallelism splits and
    * this is the identity — it never narrows, so it can never
    * concentrate a 100 TB scan. Explicit
    * numPartitions keeps AQE from coalescing the tiny exchange away.
    * Apply ONLY where the per-row kernel dominates the stage — a fanned
    * exchange on a scan-light query is pure overhead. */
  def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** events.parquet carries TIMESTAMP(NANOS) which Spark cannot represent
    * (TimestampType is microseconds). We read the raw int64 nanos
    * (`spark.sql.legacy.parquet.nanosAsLong`, set in [[Sessions.builder]]) and
    * expose both the exact nanos (`ts_ns`) and a microsecond-truncated
    * TimestampType `ts` — the same truncation DuckDB 1.x applies when it
    * coerces TIMESTAMP_NS to its microsecond TIMESTAMP, so oracle
    * comparisons on `ts` are exact.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // Integer division (`div`), NOT `/`: Spark's `/` on longs goes
        // through double, and epoch nanos (~1.7e18) exceed double's 2^53
        // exact range — ~12% of rows would come back 1 µs off. Testdata
        // timestamps are post-epoch, so truncation == floor here.
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Newer fixtures write TIMESTAMP micros with isAdjustedToUTC=false,
        // which Spark reads as TIMESTAMP_NTZ. The session timezone is pinned
        // to UTC (Sessions.builder), so casting NTZ -> TIMESTAMP is
        // value-identical, and matches how DuckDB reads the same file.
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
      case _ => raw.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
  }

  /** Register all tables as temp views so every operator is SQL-addressable.
    *
    * Per-table isolation: registerAll runs outside the harness mains'
    * per-query try, so one unreadable table (a regenerated fixture with a
    * new column type, say) must not abort the whole Bench/Verify startup.
    * A table that fails to register logs and is skipped; only the queries
    * touching it fail, and they fail visibly per query.
    *
    * Returns the names that FAILED to register so the harness mains can
    * surface them in their JSON artifacts: automation that reads only
    * the artifacts (not stderr) must still see that a table was skipped. */
  def registerAll(spark: SparkSession, dir: String): Seq[String] = {
    def tryRegister(n: String)(mk: => DataFrame): Option[String] =
      try { mk.createOrReplaceTempView(n); None }
      catch { case scala.util.control.NonFatal(e) =>
        // Drop any stale same-name view from a previous registration:
        // keeping it would silently serve the OLD fixture's data where
        // the doc promises a visible per-query failure.
        spark.catalog.dropTempView(n)
        System.err.println(s"[tables] $n failed to register: ${e.getMessage}")
        Some(n)
      }
    names.filterNot(_ == "events")
      .flatMap(n => tryRegister(n)(load(spark, dir, n))) ++
      tryRegister("events")(events(spark, dir))
  }
}

/** One place for session tuning shared by Verify / Bench / tests.
  *
  * Two codegen settings make a warm run reuse the classes its first run
  * compiled instead of compiling them again ([[CodegenCacheEntries]] and
  * `useIdInClassName`, below). Deployers who embed the library in their
  * own session must set both themselves, as for `cleanCheckpoints`. */
object Sessions {
  private val defaultCpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(Runtime.getRuntime.availableProcessors(), 32).toString)

  /** Size of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100).
    *
    * Invariant: the cache holds the working set of one corpus pipeline
    * pass, and of any one registry query, with room to spare, so a warm
    * run finds every class its previous run compiled.
    *
    * Reason: Spark keys the cache by (context classloader, source). In
    * local mode the driver threads and the task threads have different
    * context loaders, so a whole-stage class is compiled and cached
    * twice: once when the driver checks that it compiles, once in the
    * first task. A corpus pass compiles 126 distinct class bodies into
    * 176 entries; with 100 the LRU evicted each entry before its next
    * use, and a warm pass compiled ≈230 classes again (4–6 s of a
    * 12–13 s pass). 512 is ≈3× that working set; the largest registry
    * query (`dedup_cc_best`) adds 83 entries of its own.
    *
    * It is a static conf, read once per JVM when the code generator is
    * first used: it takes effect only if this session is the first. */
  private[graft] val CodegenCacheEntries = 512

  def builder(master: String = s"local[$defaultCpus]"): SparkSession.Builder = {
    val cpus = defaultCpus
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // parallelismFirst stays at its default (true). With it false, the
      // many small queries did NOT speed up and the CPU-dense g2
      // triangle intersect collapsed to one 64MB-advisory task
      // (5.2 -> 19.6 s). Byte-size advisories cannot see CPU density;
      // keep scheduling width tied to cores.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // F19 dict-merge semantics: {**a, **b} keeps the LAST value for a
      // duplicate key (reference process_all.py:816); Spark's default
      // map_concat policy is EXCEPTION.
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // Reliable-mode checkpoints are durable FILES: without this the
      // ContextCleaner never deletes superseded ones, so a long
      // iterative loop (one checkpoint per round) or a streaming job
      // (one per batch) grows the checkpoint volume without bound.
      // With it, a checkpoint's files go when its RDD becomes
      // unreachable on the driver — bounding the dir to the live
      // working set (see Checkpoints' scaladoc; deployers embedding
      // the library in their own session must set this themselves).
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Invariant: a generated class's source holds no per-plan number,
      // so one pipeline compiles to the same text on every run. Reason:
      // the cache compares source text, and by default the whole-stage
      // class name carries its codegenStageId, which AQE renumbers from
      // run to run as it re-plans (stage 19 in one pass is stage 21 in
      // the next): the same body then misses the cache. The id stays in
      // the plan's `*(N)` markers and in the generated code's comments.
      .config("spark.sql.codegen.useIdInClassName", "false")
  }
}
