package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every entry is a thin wiring of a reusable operator from
  * `graft.operators` onto the test corpus; `oracleSql` carries the
  * DuckDB-equivalent SQL for the driver's correctness gate. Numeric
  * aggregates go through [[graft.operators.Num]] so Spark (parallel,
  * shuffled) and DuckDB (single-threaded) produce bit-identical
  * doubles.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.revenueByNation(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.all ++ HierarchyQueries.all ++ ExtractionQueries.all ++
      TextQueries.all ++ DedupQueries.all ++ EventQueries.all ++
      GeoQueries.all ++ FormatQueries.all ++ EcoQueries.all ++
      ClassObjectQueries.all ++ MultimodalQueries.all ++ CurationQueries.all ++
      PipelineQueries.all ++ RetrievalQueries.all ++ BpeQueries.all ++
      GraphQueries.all ++ GraphQueries.allHits

  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++ HierarchyQueries.oracles ++ ExtractionQueries.oracles ++
      TextQueries.oracles ++ DedupQueries.oracles ++ EventQueries.oracles ++
      GeoQueries.oracles ++ FormatQueries.oracles ++ EcoQueries.oracles ++
      ClassObjectQueries.oracles ++ MultimodalQueries.oracles ++ CurationQueries.oracles ++
      PipelineQueries.oracles ++ RetrievalQueries.oracles ++ BpeQueries.oracles ++
      GraphQueries.oracles

  /** The session every driver main runs on: the shipped [[GraftSession]]
    * on `local[n]` with n shuffle partitions, n = `SPARK_GRAFT_CPUS` or
    * this machine's core count. */
  def session(appName: String): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").fold(
      Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = GraftSession.create(s"local[$n]", appName, Some(n))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `queries` sorted by name, cut to `only` (comma-separated names,
    * `SPARK_GRAFT_ONLY` by default) when set. A name that is not a query
    * throws: a typo must not quietly run zero queries. */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val names = only.map(_.split(",").toSet)
    val unknown = names.fold(Set.empty[String])(_ -- all.keySet)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    all.toSeq.sortBy(_._1).filter { case (name, _) => names.forall(_(name)) }
  }
}
