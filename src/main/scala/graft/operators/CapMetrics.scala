package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Loud skew-cap observability. The candidate miners defend against
  * boilerplate mega-buckets by DROPPING buckets past `maxBucket`
  * (SkewSpec proves the cap is load-bearing — removing it is a pair
  * blow-up), but a silent drop is something a 100 TB operator cannot
  * alert on. Every capped miner therefore counts its dropped buckets
  * and the pairs they would have expanded to through Spark's
  * observed-metrics channel (`Dataset.observe` — a codegen'd
  * accumulator-backed aggregate that piggybacks on the pass the plan
  * already runs: zero extra jobs, zero extra shuffles, and unlike a
  * second `count()` action it can never disagree with the run it
  * describes), and a session-registered [[QueryExecutionListener]]
  * turns any non-zero count into one WARN line at query completion.
  * Catalyst does not push filters through a `CollectMetrics` node, so
  * the metric always sees every over-cap bucket of its run. It needs
  * a session that excludes AQE's empty-relation rewrite, which
  * [[graft.GraftSession]] declares (its scaladoc says why).
  *
  * Observation names must be unique within a query plan (two miners
  * can compose in one query), so each call site instance gets a
  * serial suffix; the stable `kind` stays first for log grepping. */
object CapMetrics {
  private val serial = new AtomicLong()
  // weak keys: a stopped session must be collectible — a static strong
  // set would pin every session (and its listener bus) forever in a
  // long-lived multi-session service
  private val registered =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Prefix every cap observation name carries — listeners (ours and
    * any user's) select on it. */
  val namePrefix = "graft_cap_"

  /** Observe over-cap drops on a BUCKETS frame (one row per bucket,
    * pre-cap): `over` flags a dropped bucket, `droppedPairs` is the
    * pair count its expansion would have produced. Returns the frame
    * unchanged data-wise; apply the cap filter ABOVE the result. */
  private[graft] def observeDrops(
      buckets: DataFrame, kind: String, over: Column,
      droppedPairs: Column): DataFrame = {
    ensureListener(buckets.sparkSession)
    buckets.observe(s"$namePrefix${kind}_${serial.incrementAndGet()}",
      sum(when(over, lit(1L)).otherwise(lit(0L))).as("dropped_buckets"),
      sum(when(over, droppedPairs).otherwise(lit(0L)))
        .cast("long").as("dropped_pairs"))
  }

  private def ensureListener(spark: SparkSession): Unit =
    if (registered.add(spark)) {
      val excluded = spark.conf.getOption("spark.sql.adaptive.optimizer.excludedRules")
      if (!excluded.exists(_.split(",").map(_.trim).contains(graft.GraftSession.EmptyRelationRule)))
        log.warn("this session's AQE does not exclude AQEPropagateEmptyRelation, so a " +
          "skew-cap metric can vanish when every bucket is capped; create the session " +
          "with graft.GraftSession.create")
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(
            funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith(namePrefix) && !row.isNullAt(0) && row.getLong(0) > 0L)
              log.warn(
                s"skew cap '$name': dropped ${row.getLong(0)} over-cap bucket(s) " +
                  s"(~${row.getLong(1)} candidate pairs) — recall loss is bounded " +
                  "but real; raise maxBucket or pre-split the hot keys if it matters")
          }
        override def onFailure(
            funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
      })
    }
}
