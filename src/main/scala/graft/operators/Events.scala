package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time operators (SURVEY.md §2 I): tumbling-window aggregation
  * and gap-based sessionization. Batch forms here; the stateful
  * streaming variants (same semantics on an unbounded source) live in
  * [[graft.streaming.StreamOps]].
  *
  * Sessionization is the one genuinely order-dependent operator in the
  * engine; it uses a single window-partitioned pass (shuffle by user,
  * in-partition sort) — per-user data volumes are tiny even at 100 TB
  * total, so the sort never spills.
  */
object Events {

  /** Tumbling-window aggregation SHARED by batch and stream: on a
    * stream, pass `df.withWatermark(ts, delay)` so window state stays
    * bounded (the spec compiler's streaming `window_agg` does exactly
    * that): `window(ts, dur)` grouping with an event count plus caller
    * aggregates. Batch/stream parity holds by this being literally the
    * same code on both paths. */
  def tumblingWindowAggregate(
      df: DataFrame, tsCol: String, keyCol: String,
      windowDur: String, aggs: Seq[Column]): DataFrame =
    df.groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n_events"), aggs: _*)

  /** I1 — tumbling-window aggregation by `date_trunc(unit)`. */
  def windowAggregate(
      df: DataFrame, tsCol: String, unit: String,
      keys: Seq[String], aggs: Seq[Column]): DataFrame = {
    val gcols = date_trunc(unit, col(tsCol)).as("window_start") +: keys.map(col)
    df.groupBy(gcols: _*).agg(aggs.head, aggs.tail: _*)
      .orderBy(col("window_start") +: keys.map(col): _*)
  }

  /** I2 — gap-based sessionization: a new session starts when the gap
    * to the previous event of the same user exceeds `gapSeconds`.
    * Gap arithmetic is in integer microseconds (`unix_micros`) so the
    * boundary predicate is exact and engine-independent. Returns one
    * row per session. */
  def sessionize(
      df: DataFrame, userCol: String, tsCol: String, gapSeconds: Long,
      aggs: Seq[Column]): DataFrame = {
    val byUser = Window.partitionBy(col(userCol)).orderBy(col(tsCol))
    val us = unix_micros(col(tsCol))
    val prevUs = lag(us, 1).over(byUser)
    val isNew = when(
      prevUs.isNull || us - prevUs > gapSeconds * 1000000L, 1L).otherwise(0L)
    val sessionSeq = sum(isNew).over(
      byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val base = Seq(
      min(col(tsCol)).as("session_start"),
      max(col(tsCol)).as("session_end"),
      count(lit(1)).as("n_events"))
    df.withColumn("session_seq", sessionSeq)
      .groupBy(col(userCol), col("session_seq"))
      .agg(base.head, (base.tail ++ aggs): _*)
      .orderBy(col(userCol), col("session_seq"))
  }

  /** I4 — AS-OF join: enrich each left row with the state row holding
    * the greatest `tsCol` ≤ the left row's `tsCol` for the same key
    * (inclusive backward as-of — DuckDB/kdb semantics). Spark has no
    * as-of physical operator; a `<=` theta-join degenerates to
    * per-row scans. This is the union+window formulation: tag both
    * sides, union, one window pass per key ordered by (ts, tag) with
    * state rows sorting first at equal ts, `last(_, ignoreNulls)`
    * carries each state column forward, then keep only left rows.
    * ONE shuffle on the key, in-partition sort, no probing — the
    * shape that survives a 100 TB event stream against a wide state
    * history.
    *
    * `right` must be pre-projected to (`keyCol`, `tsCol`,
    * `stateCols…`) with state names disjoint from `left`'s columns.
    */
  /** Changelog → SCD-2 history: compress consecutive equal values per
    * key, then label each surviving change with its validity interval
    * (`valid_from` = change ts, `valid_to` = next change ts, open for
    * the current row) — the standard warehouse shape for "what was
    * this entity's value at time t". Both windows share one partition
    * spec → ONE shuffle on the key regardless of history depth.
    */
  def scd2FromChangelog(
      df: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
    df
      .withColumn("__prev", lag(col(valueCol), 1).over(w))
      // keep the first row per key and every actual change
      .where(col("__prev").isNull || col(valueCol) =!= col("__prev"))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select(keyCols.map(col) ++
        Seq(col(valueCol), col("valid_from"), col("valid_to"), col("is_current")): _*)
      .orderBy((keyCols :+ "valid_from").map(col): _*)
  }

  def asofJoin(
      left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, stateCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val l2 = left.select(
      leftCols.map(col) ++
        stateCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)) :+
        lit(1).as("__tag"): _*)
    val r2 = right.select(
      leftCols.map(c =>
        if (c == keyCol || c == tsCol) col(c)
        else lit(null).cast(left.schema(c).dataType).as(c)) ++
        stateCols.map(col) :+ lit(0).as("__tag"): _*)
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l2.unionByName(r2)
      .select(
        (leftCols.map(col) ++
          stateCols.map(c => last(col(c), ignoreNulls = true).over(w).as(c)) :+
          col("__tag")): _*)
      .where(col("__tag") === 1)
      .drop("__tag")
  }
}
