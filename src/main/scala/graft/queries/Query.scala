package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gated query: its name, the DuckDB SQL that is its oracle, and
  * the function that builds its result from a session and a corpus
  * directory. Every `queries/` module exposes a `Seq[Query]`, and
  * [[graft.SparkEntry]] derives both of its maps from their union. */
final case class Query(
    name: String, oracle: String, build: (SparkSession, String) => DataFrame)

object Query {

  /** The scratch directory a query writes its files under, stable per
    * corpus directory: the persisted minhash index is reused across runs
    * only because its path does not change. */
  private[queries] def scratchPath(kind: String, dir: String): String =
    s"/tmp/graft-$kind-${java.lang.Math.abs(dir.hashCode)}"
}
