package graft

import org.apache.spark.sql.SparkSession

/** Session factory, and the one place graft declares session config.
  * No operator and no table reader writes session conf; each reads
  * what this factory set, and a query plans the same whatever ran
  * before it or beside it on the session. The settings:
  *
  *  - `spark.sql.extensions` = [[graft.functions.GraftExtensions]]:
  *    the graft SQL functions, the interval-join strategy and the AQE
  *    query-stage rule [[graft.plans.SortInPlace]]. That rule replaces
  *    a global sort's range exchange (and the exchange's sampling job)
  *    with a one-partition coalesce when the sort's input already
  *    reads as one partition: its path to the leaves passes only
  *    operators that cannot multiply rows (project, filter, aggregate,
  *    sort), and every leaf is a file scan of one split or a finished
  *    shuffle stage that AQE's coalescing reads as one partition under
  *    the session's `spark.sql.adaptive.coalescePartitions.*`
  *    settings. It reads those settings and adds none; with AQE off it
  *    never runs.
  *  - `spark.sql.session.timeZone` = `UTC`: timestamp casts, windows
  *    and the oracle's output agree on one zone.
  *  - `spark.sql.shuffle.partitions` = `shufflePartitions`, when
  *    given; AQE is left on (Spark 4 default) and coalesces small
  *    shuffles at run time.
  *  - `spark.sql.adaptive.optimizer.excludedRules` =
  *    `AQEPropagateEmptyRelation` (replacing any list passed in by
  *    other means): that AQE rewrite replaces everything downstream of
  *    an empty stage with an empty relation, which deletes the
  *    `CollectMetricsExec` of a capped miner exactly when every bucket
  *    was capped away, so [[graft.operators.CapMetrics]]' drop metric
  *    never arrives. The cost is that an empty stage still runs its
  *    empty downstream operators. `CapMetrics` WARNs once on a session
  *    without the exclusion.
  *  - `spark.sql.legacy.parquet.nanosAsLong` = `true`: `events.ts`
  *    has shipped as TIMESTAMP(NANOS), which Spark's parquet reader
  *    rejects otherwise; [[Tables.events]] reads the raw nanos as a
  *    long and divides them down. TIMESTAMP(MICROS) files read the
  *    same either way.
  *
  * `getOrCreate` semantics apply: if a session already exists in the
  * JVM it is returned with these runtime settings applied — call
  * [[graft.functions.GraftFunctions.register]] on it to add the SQL
  * functions imperatively.
  */
object GraftSession {
  /** The AQE rewrite graft sessions exclude; see the class note. */
  private[graft] val EmptyRelationRule =
    "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"

  def create(
      master: String = "local[*]",
      appName: String = "graft",
      shufflePartitions: Option[Int] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.optimizer.excludedRules", EmptyRelationRule)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    shufflePartitions.foreach(n => b.config("spark.sql.shuffle.partitions", n.toString))
    val spark = b.getOrCreate()
    // cover the pre-existing-session path too
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
