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
  * Scale shape: no shuffle, and `base` is never shuffled or broadcast.
  * `updates` is broadcast once; that one broadcast serves both the
  * left-outer update pass and an inner join that finds the update row
  * behind each matched base row. Those matched rows are broadcast
  * straight from that join, with no aggregate: one row per matched base
  * row, so the second broadcast is at most |updates| rows when base keys
  * are unique (every caller's case: catalog ids, the deduplicated CDC
  * base, `customer` in j3_upsert) and |updates| × the largest key
  * multiplicity otherwise. The insert set is the update rows that find
  * none of them. Contract: `updates` must fit a broadcast, the
  * small-batch-into-large-table case every caller has.
  */
object MergeOps {

  private val uRow = "__u"
  private val mRow = "__m"

  /** The output has `base`'s columns. The schema contract is checked up
    * front, with no job.
    *
    * @param base       existing table
    * @param updates    new rows, small enough to broadcast; must contain
    *                   `keys` and `updateCols`
    * @param keys       equality merge key column names (matched null-safely);
    *                   at least one, each in both frames
    * @param updateCols columns of `base` taken from `updates` when matched
    *                   (and used for inserts); any base column absent from
    *                   `updates` is null on inserted rows
    */
  def upsert(
      base: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      updateCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key")
    require(keys.forall(k => base.columns.contains(k) && updates.columns.contains(k)),
      "base and updates must both carry every key")
    require(updateCols.forall(base.columns.contains),
      "every updateCol must be a base column")
    require(updateCols.forall(updates.columns.contains),
      "updates must carry every updateCol")
    // Each update row travels as ONE struct column, and every consumer of
    // the broadcast reads that column whole (never only its key fields),
    // so Catalyst cannot prune either join's build side down to the keys:
    // both joins build the same exchange and Spark broadcasts it once.
    val u = broadcast(updates.select(struct(updates.columns.toSeq.map(updates(_)): _*).as(uRow)))
    def uCol(c: String) = col(uRow).getField(c)
    val onU = keys.map(k => col(s"b.$k") <=> uCol(k)).reduce(_ && _)
    // Every base row survives the left-outer join once per match; a
    // matched row takes the update's values, nulls included (the struct
    // itself is null only where nothing matched).
    val updated = base.alias("b").join(u, onU, "left_outer").select(
      base.columns.toSeq.map { c =>
        if (updateCols.contains(c) && !keys.contains(c))
          when(col(uRow).isNotNull, uCol(c)).otherwise(col(s"b.$c")).as(c)
        else col(s"b.$c").as(c)
      }: _*)
    // Insert set = update rows whose key matches nothing in base. The
    // update row behind each matched base row comes straight from an
    // inner join on the same broadcast; an update row that finds none of
    // them (null-safely, or a null-key update row that updated its match
    // would re-insert) is an insert. The outer join and null filter read
    // the matched column whole, which keeps its lineage unpruned too.
    val matched = base.select(keys.map(col): _*).alias("b").join(u, onU)
      .select(col(uRow).as(mRow))
    val inserts = updates.alias("i")
      .join(broadcast(matched),
        keys.map(k => col(s"i.$k") <=> col(mRow).getField(k)).reduce(_ && _), "left_outer")
      .filter(col(mRow).isNull)
      .select(base.columns.toSeq.map { c =>
        if (keys.contains(c) || updateCols.contains(c)) col(s"i.$c").as(c)
        else lit(null).cast(base.schema(c).dataType).as(c)
      }: _*)
    updated.unionByName(inserts)
  }
}
