package graft.verify

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Cross-system validation queries — the only true relational compute the
  * reference runs itself (`src/goe/offload/offload_validation.py:438-976`):
  * build the SAME aggregate on source and target, compare row-wise on the
  * group keys. Re-expressed as two DataFrames joined on the group keys; the
  * compare is a full-outer join + column equality instead of a Python loop,
  * so it distributes (a 100 TB validation is itself a big query).
  */
object CrossValidator {

  /** Default aggregate set per column (reference DEFAULT_AGGS = min, max,
    * count — `offload_validation.py:73`). */
  def defaultAggs(c: String): Seq[Column] = Seq(
    min(col(c)).as(s"min_$c"),
    max(col(c)).as(s"max_$c"),
    count(col(c)).as(s"count_$c"))

  /** Build the validation aggregate for one side. */
  def aggFrame(df: DataFrame, groupCols: Seq[String], valueCols: Seq[String])
      : DataFrame = {
    val aggs = count(lit(1)).as("row_count") +: valueCols.flatMap(defaultAggs)
    if (groupCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Full-outer compare of two validation frames on the group keys; returns
    * rows that differ in any aggregate (empty = validated). */
  def diff(left: DataFrame, right: DataFrame, groupCols: Seq[String])
      : DataFrame = {
    val valueCols = left.columns.filterNot(groupCols.contains).toSeq
    val l = valueCols.foldLeft(left)((d, c) => d.withColumnRenamed(c, s"l_$c"))
    val r = valueCols.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"r_$c"))
    val joined =
      if (groupCols.isEmpty) l.crossJoin(r)
      else l.join(r, groupCols, "full_outer")
    val mismatch = valueCols
      .map(c => !(col(s"l_$c") <=> col(s"r_$c")))
      .reduce(_ || _)
    joined.filter(mismatch)
  }

  /** [[diff]] with COLUMN ATTRIBUTION: each mismatching group carries
    * `mismatched_cols`, the comma-joined (left-column-order) list of the
    * aggregates that diverged — the reference's validation report names
    * the offending columns, not just the offending groups
    * (`offload_validation.py` failure messages), and at 100 TB "which
    * aggregate moved" is the difference between re-checking one column
    * and re-offloading a partition. Same full-outer join; the
    * attribution is a null-skipping concat over per-column inequality
    * flags, computed in the same pass. */
  def diffAttributed(left: DataFrame, right: DataFrame,
                     groupCols: Seq[String]): DataFrame = {
    val valueCols = left.columns.filterNot(groupCols.contains).toSeq
    val l = valueCols.foldLeft(left)((d, c) =>
      d.withColumnRenamed(c, s"l_$c"))
    val r = valueCols.foldLeft(right)((d, c) =>
      d.withColumnRenamed(c, s"r_$c"))
    val joined =
      if (groupCols.isEmpty) l.crossJoin(r)
      else l.join(r, groupCols, "full_outer")
    val mismatch = valueCols
      .map(c => !(col(s"l_$c") <=> col(s"r_$c")))
      .reduce(_ || _)
    val tags = valueCols.map(c =>
      when(!(col(s"l_$c") <=> col(s"r_$c")), lit(c)))
    joined.filter(mismatch)
      .withColumn("mismatched_cols", concat_ws(",", tags: _*))
  }

  /** Aggregate validation ("agg_validate"): true iff every group matches. */
  def aggValidate(source: DataFrame, target: DataFrame,
                  groupCols: Seq[String], valueCols: Seq[String]): Boolean =
    diff(aggFrame(source, groupCols, valueCols),
         aggFrame(target, groupCols, valueCols), groupCols).isEmpty

  /** Row-count validation (the "minus" check,
    * `offload_validation.py:977-1046`) under an optional boundary filter. */
  def countValidate(source: DataFrame, target: DataFrame,
                    boundary: Option[Column] = None): (Long, Long) = {
    val s = boundary.fold(source)(source.filter)
    val t = boundary.fold(target)(target.filter)
    (s.count(), t.count())
  }

  /** Target max probe for HWM detection (`offload_source_data.py:1044-1082`):
    * one tiny agg job, not a scan-collect.
    *
    * Takes the LEXICOGRAPHIC max tuple via `max(struct(keys))`, not
    * independent per-column maxes — independent maxes can form a composite
    * HWM that exceeds every real row, so the next increment's
    * strictly-greater boundary filter would silently skip rows that were
    * never offloaded. */
  def maxProbe(target: DataFrame, keyCols: Seq[String]): Option[Seq[Any]] =
    maxKeyTuple(target.agg(maxKey(keyCols)).head(), 0)

  /** The lexicographic max key tuple as an aggregate; null over no rows. */
  def maxKey(keyCols: Seq[String]): Column =
    max(struct(keyCols.map(col): _*)).as("hwm")

  /** The key values of a [[maxKey]] result at `row(i)`, None when null. */
  def maxKeyTuple(row: Row, i: Int): Option[Seq[Any]] =
    if (row.isNullAt(i)) None else Some(row.getStruct(i).toSeq)
}
