package graft

import org.apache.spark.sql.Dataset

/** Lineage truncation for the iterative family (PageRank/CC/BFS/HITS/
  * label-prop/k-core, the LSH/winnow/k-means dedup pipelines, the corpus
  * pipeline stages, and every multi-consumer materialization in the
  * query layer). Durability follows the SparkContext's checkpoint
  * directory, as in Spark's own `PeriodicCheckpointer` (GraphX, MLlib):
  *
  *   - no checkpoint directory: eager `localCheckpoint`. The blocks live
  *     only on executors, which is free in one JVM; on a multi-executor
  *     cluster one lost executor mid-iteration destroys blocks no
  *     lineage can rebuild, and the job dies.
  *   - a checkpoint directory (`spark.checkpoint.dir` at context start,
  *     or `SparkContext.setCheckpointDir`): eager `checkpoint()`, written
  *     under it and re-read, so the cut survives executor loss when the
  *     directory is on storage that does (HDFS/S3; a local path on one
  *     node does not). The directory is context-global: every session of
  *     one context checkpoints under it, and a context whose directory
  *     is set for any reason gets durable checkpoints.
  *
  * Measured cost of durable checkpoints: a 12-iteration PageRank with
  * checkpointEvery=4 (two mid-loop lineage cuts + the edge
  * materialization) on the 1.2M-edge sf0.1 graph, alternating
  * GC-separated local/durable reps in one JVM against a local-disk
  * checkpoint dir: local min 7.00 / med 7.30 s vs durable min 7.46 /
  * med 7.92 s — a **1.07-1.08× overhead** for the write+re-read per
  * cut. Against S3/HDFS the write latency is higher but amortizes the
  * same way (cost scales with cuts × checkpointed bytes, not with
  * iteration count), so ~10% is the planning number for pricing
  * durability on long iterative jobs.
  *
  * All operator/query call sites route through [[Checkpoints.cp]] (via
  * the `.checkpointed()` syntax), so the one directory switches the
  * whole library.
  */
object Checkpoints {

  /** Eagerly materialize `ds` and truncate its lineage: durably when the
    * SparkContext has a checkpoint directory, locally otherwise. See the
    * object scaladoc for the tradeoff.
    *
    * Superseded-checkpoint growth: durable checkpoints are files the
    * cluster must eventually delete. [[Sessions.builder]] sets
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, so the
    * ContextCleaner removes a checkpoint's files once its RDD is
    * unreachable on the driver — the iterative loops here drop every
    * superseded rank/frontier reference as the loop advances, which
    * bounds the durable dir to the live working set (the GraphX
    * PeriodicCheckpointer behavior without the bookkeeping). Deployers
    * wiring this library into a session of their own must set that
    * cleaner flag (or prune the dir externally) for multi-day runs. */
  def cp[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.nonEmpty) ds.checkpoint(true)
    else ds.localCheckpoint(true)

  /** `.checkpointed()` postfix syntax so call sites keep their chained
    * shape (`df.filter(...).checkpointed()`). */
  implicit class CheckpointSyntax[T](private val ds: Dataset[T]) extends AnyVal {
    def checkpointed(): Dataset[T] = cp(ds)
  }
}
