package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.Tables
import graft.operators.{Events, Extraction, Num}

/** Batch 4a: event-time operators (SURVEY.md §2 I) on `events`. */
object EventQueries {

  import CoreQueries.dsum

  val queries: Seq[Query] = Seq(
    Query("q_window_agg", s"""
      SELECT date_trunc('day', ts) AS window_start, event_type,
             COUNT(*) AS n_events, ${dsum("value")} AS value_sum
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""", { (s, dir) =>
      Events.windowAggregate(
        Tables.events(s, dir), "ts", "day", Seq("event_type"),
        Seq(count(lit(1)).as("n_events"), Num.dsum(col("value")).as("value_sum")))
    }),
    // changelog → SCD-2 history: each user's event_type transitions
    // compressed to change rows with validity intervals
    Query("q_scd2", """
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
      w1 AS (
        SELECT user_id, ts, event_type,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM e),
      ch AS (SELECT user_id, ts, event_type FROM w1
             WHERE prev IS NULL OR event_type <> prev)
      SELECT user_id, event_type, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
      FROM ch ORDER BY user_id, valid_from""", { (s, dir) =>
      Events.scd2FromChangelog(
        Tables.events(s, dir), Seq("user_id"), "ts", "event_type")
    }),
    // CAST(ts AS TIMESTAMP) first: the parquet column is TIMESTAMP_NS;
    // Spark reads it truncated to microseconds, so the oracle must
    // sessionize at the same precision.
    Query("q_sessionize", s"""
      WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      m AS (
        SELECT *, CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
              OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
            OR LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          THEN 1 ELSE 0 END AS is_new
        FROM e),
      s AS (
        SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        FROM m)
      SELECT user_id, session_seq,
             MIN(ts) AS session_start, MAX(ts) AS session_end,
             COUNT(*) AS n_events, ${dsum("value")} AS value_sum
      FROM s GROUP BY 1, 2 ORDER BY 1, 2""", { (s, dir) =>
      Events.sessionize(
        Tables.events(s, dir), "user_id", "ts", gapSeconds = 1800L,
        Seq(Num.dsum(col("value")).as("value_sum")))
    }),
    // I4 — as-of join: every non-purchase event enriched with the
    // user's most recent purchase at that moment (null before the
    // first purchase).
    Query("q_asof_join", """
      WITH e AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        FROM events WHERE event_type <> 'purchase'),
      p AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               epoch_us(CAST(ts AS TIMESTAMP)) AS asof_us, value AS last_purchase
        FROM events WHERE event_type = 'purchase')
      SELECT e.event_id, e.user_id, e.ts, e.event_type, e.value,
             p.asof_us, p.last_purchase
      FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts
      ORDER BY e.event_id""", { (s, dir) =>
      val ev = Tables.events(s, dir)
      val left = ev.where(col("event_type") =!= "purchase")
        .select("event_id", "user_id", "ts", "event_type", "value")
      val states = ev.where(col("event_type") === "purchase")
        .select(
          col("user_id"), col("ts"),
          // epoch micros, not a timestamp: a null TIMESTAMP round-trips
          // as NaT, which hash/equality comparators treat as unequal
          unix_micros(col("ts")).as("asof_us"), col("value").as("last_purchase"))
      Events.asofJoin(left, states, "user_id", "ts",
        Seq("asof_us", "last_purchase"))
        .orderBy("event_id")
    }),
    // D6 — schema-on-read JSON attribute extraction + aggregation
    Query("q_json_extract", """
      SELECT event_type, COUNT(*) AS n_events,
             CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS k_sum
      FROM events GROUP BY event_type ORDER BY event_type""", { (s, dir) =>
      Extraction.jsonAttributes(
        Tables.events(s, dir), "props",
        StructType(Seq(StructField("k", IntegerType))),
        keep = Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("k").as("k_sum"))
        .orderBy("event_type")
    }),
  )
}
