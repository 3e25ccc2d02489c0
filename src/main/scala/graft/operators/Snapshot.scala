package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot diff / change-data-capture between two versions of a keyed
  * dataset — the incremental-ETL primitive the reference's users run as
  * hand-written reducer+joiner chains (full-refresh feeds diffed against
  * yesterday's load). One full-outer shuffle join on the key, expression-
  * only classification; at 100 TB both sides shuffle once and AQE handles
  * key skew. Pre-bucketed tables (`Writers.bucketedTable`) make the diff
  * zero-shuffle.
  */
object Snapshot {

  /** Build a slowly-changing-dimension TYPE-2 history from an append log of
    * observed row states `(keyCols, tsCol, valueCols)`: consecutive
    * observations of a key with unchanged values collapse into one validity
    * interval; each surviving version carries `valid_from` (first
    * observation of that state), `valid_to` (the next version's
    * `valid_from`; NULL while current) and `is_current`.
    *
    * Null-safe value comparison (`<=>`), same as [[diff]]. Plan shape: both
    * the change detection (lag) and the interval close (lead) ride the SAME
    * `(key, ts)` window sort, so Catalyst plans one Exchange + one Sort for
    * the whole history build — at 100 TB the log shuffles once on the key.
    */
  def scd2(log: DataFrame, keyCols: Seq[String], tsCol: String,
           valueCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
    val firstOfVersion = valueCols
      .map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduceOption(_ || _).getOrElse(lit(false)) ||
      lag(col(tsCol), 1).over(w).isNull
    log.withColumn("__first", firstOfVersion)
      .filter(col("__first"))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("__first", tsCol)
  }

  /** Classify `next` vs `prev` by `keyCols`: rows keyed only in `next` are
    * `insert`, only in `prev` are `delete`, in both with any `compareCols`
    * difference are `update` — unchanged rows are dropped (CDC emits
    * changes, not the world). Output: keyCols + compareCols (next's values;
    * prev's for deletes) + `op`.
    *
    * Null-safe: compare uses `<=>` so NULL→value and value→NULL transitions
    * count as updates, matching SQL `IS DISTINCT FROM`.
    */
  def diff(prev: DataFrame, next: DataFrame, keyCols: Seq[String],
           compareCols: Seq[String]): DataFrame = {
    val p = prev.select((keyCols ++ compareCols).map(col): _*)
      .withColumn("__p", lit(true))
    val n = next.select((keyCols ++ compareCols).map(col): _*)
      .withColumn("__n", lit(true))
    val pAliased = p.select(keyCols.map(col) ++
      (compareCols :+ "__p").map(c => col(c).as(s"__prev_$c")): _*)
    val joined = n.join(pAliased, keyCols, "full_outer")
    val changed = compareCols
      .map(c => !(col(c) <=> col(s"__prev_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val op = when(col(s"__prev___p").isNull, "insert")
      .when(col("__n").isNull, "delete")
      .when(changed, "update")
    joined
      .withColumn("op", op)
      .filter(col("op").isNotNull) // unchanged rows drop out
      .select(keyCols.map(col) ++ compareCols.map(c =>
        // deletes carry the previous values (next's are NULL by join)
        when(col("op") === "delete", col(s"__prev_$c")).otherwise(col(c)).as(c))
        :+ col("op"): _*)
  }
}
