package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** The query surface — see SURVEY.md §2 for the inventory.
  *
  * Every query is one [[graft.queries.Query]] record: a thin wiring of
  * a reusable operator from `graft.operators` onto the test corpus,
  * plus the DuckDB-equivalent SQL of its correctness gate.
  * `queries` and `oracleSql` are two views of the one record list, so
  * every query has an oracle by construction. Numeric aggregates go
  * through [[graft.operators.Num]] so Spark (parallel, shuffled) and
  * DuckDB (single-threaded) produce bit-identical doubles.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.revenueByNation(spark, "/root/testdata/sf0.001")

  /** Every query record, module by module. */
  def records: Seq[Query] =
    CoreQueries.queries ++ HierarchyQueries.queries ++ ExtractionQueries.queries ++
      TextQueries.queries ++ DedupQueries.queries ++ EventQueries.queries ++
      GeoQueries.queries ++ FormatQueries.queries ++ EcoQueries.queries ++
      ClassObjectQueries.queries ++ MultimodalQueries.queries ++ CurationQueries.queries ++
      PipelineQueries.queries ++ RetrievalQueries.queries ++ BpeQueries.queries ++
      GraphQueries.queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    records.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] = records.map(q => q.name -> q.oracle).toMap

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
