package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Upsert / MERGE INTO as a plain-Spark composition (no Delta required):
  * WHEN MATCHED UPDATE the given columns, WHEN NOT MATCHED INSERT. SURVEY
  * §2.3 J3 (reference pre_processing/process_all.py:797-839).
  *
  * Matched-update semantics follow the reference's dict-merge
  * (`{**row, **result.metadata}`, process_all.py:816): an update row that
  * carries an explicit null DOES overwrite the base value. This requires a
  * match indicator rather than `coalesce(u.c, b.c)` — with coalesce, a null
  * update would be indistinguishable from "not matched".
  *
  * Scale shape: `updates` is broadcast and `base` is never shuffled — a
  * broadcast left-outer join (update pass) unioned with a left-anti join
  * (insert set). Contract: `updates` must fit a broadcast, the
  * small-batch-into-large-table case every caller has.
  */
object MergeOps {

  private val uMark = "__u_present"

  /** @param base       existing table
    * @param updates    new rows, small enough to broadcast; must contain
    *                   `keys` and `updateCols`
    * @param keys       equality merge key column names (matched null-safely)
    * @param updateCols columns taken from `updates` when matched (and used
    *                   for inserts); any base column absent from `updates`
    *                   is null on inserted rows
    */
  def upsert(
      base: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      updateCols: Seq[String]): DataFrame = {
    require(updateCols.forall(updates.columns.contains),
      "updates must carry every updateCol")
    val u = broadcast(updates.withColumn(uMark, lit(true))).alias("u")
    val cond = keys.map(k => col(s"b.$k") <=> col(s"u.$k")).reduce(_ && _)
    val matched = col(s"u.$uMark").isNotNull
    // Every base row survives the left-outer join once per match; a
    // matched row takes the update's values, nulls included.
    val updated = base.alias("b").join(u, cond, "left_outer").select(
      base.columns.toSeq.map { c =>
        if (updateCols.contains(c) && !keys.contains(c))
          when(matched, col(s"u.$c")).otherwise(col(s"b.$c")).as(c)
        else col(s"b.$c").as(c)
      }: _*)
    val insertCols = base.columns.toSeq.map { c =>
      if (keys.contains(c) || updateCols.contains(c)) col(s"u.$c").as(c)
      else lit(null).cast(base.schema(c).dataType).as(c)
    }
    // Insert set = update keys that match nothing in base. Never
    // broadcast base (it is the 100 TB side): matchedKeys is computed by
    // semi-joining base against broadcast(updates) — at most |updates|
    // rows — and then anti-joined back against updates. The semi-join
    // must be null-safe like every other key comparison here, or a
    // null-key update row both updates its match and re-inserts.
    val matchedKeys = base.select(keys.map(col): _*).alias("bk")
      .join(broadcast(updates.select(keys.map(col): _*)).alias("uk"),
        keys.map(k => col(s"bk.$k") <=> col(s"uk.$k")).reduce(_ && _),
        "left_semi")
      .distinct()
    val inserts = updates.alias("u")
      .join(broadcast(matchedKeys).alias("b"),
        keys.map(k => col(s"u.$k") <=> col(s"b.$k")).reduce(_ && _), "left_anti")
      .select(insertCols: _*)
    updated.unionByName(inserts)
  }
}
