package graft

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StructType

/** Canonical access to the test corpus tables (TPC-H-ish star schema +
  * `events` / `documents` / `embeddings`).
  *
  * Every operator takes a plain `DataFrame`, so these helpers are just
  * conveniences for wiring `SparkEntry.queries`; production users point
  * the same operators at any parquet/CSV/JSON source.
  *
  * Resolution memo: `spark.read.parquet` resolves its data source on
  * every call (source lookup, path globbing, an `InMemoryFileIndex`
  * listing, Hadoop-conf copies, analysis), and a read without a schema
  * also infers one with a Spark job (`mergeSchemasInParallel`
  * broadcasts the Hadoop conf and runs a one-task footer read, even for
  * a single file). Together they cost a small query more than the rest
  * of its build. So each corpus file version is resolved once: the
  * memo holds its inferred schema and the analyzed `LogicalRelation` of
  * the session that resolved it.
  *  - The key is the qualified path, the file's modification time and
  *    length (one `getFileStatus`), and every `SQLConf` value the
  *    parquet schema converter reads — `spark.sql.legacy.parquet.nanosAsLong`,
  *    which [[GraftSession]] sets, changes `ts`'s inferred type. A
  *    rewritten file is therefore resolved again, never served stale.
  *  - A hit from the same session returns the relation with fresh
  *    exprIds (`newInstance`), so self-joins and analysis behave as
  *    they do for a fresh read.
  *  - Another session resolves again from the memoized schema, with
  *    no inference job, and its relation replaces the entry's: at most
  *    one session stays referenced per file version.
  * Directories are read without the memo: their status does not change
  * when a part file is rewritten in place. The memo holds one entry per
  * corpus file version, so it is left unbounded.
  *
  * A given schema goes through the same `HadoopFsRelation(dataSchema.asNullable)`
  * path as an inferred one, so Catalyst keeps full pushdown: filters
  * and column pruning reach the scan (verify via
  * `df.explain("formatted")` → `PushedFilters` / `ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private final case class Resolved(
      schema: StructType, session: SparkSession, relation: LogicalRelation)

  private val memo = TrieMap.empty[(String, Long, Long, Seq[Boolean]), Resolved]

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    val path = new Path(p)
    val st = path.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(path)
    if (!st.isFile) return spark.read.parquet(p)
    val c = spark.sessionState.conf
    val key = (st.getPath.toString, st.getModificationTime, st.getLen, Seq(
      c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
      c.caseSensitiveAnalysis, c.parquetInferTimestampNTZEnabled,
      c.legacyParquetNanosAsLong, c.parquetFieldIdReadEnabled,
      c.parquetIgnoreVariantAnnotation,
      c.parquetReaderRespectUnknownTypeAnnotation))
    memo.get(key) match {
      case Some(r) if r.session eq spark => ColumnBridge.ofRows(spark, r.relation.newInstance())
      case hit =>
        val df = hit.fold(spark.read.parquet(p))(r => spark.read.schema(r.schema).parquet(p))
        df.queryExecution.analyzed match {
          case rel: LogicalRelation => memo.put(key, Resolved(df.schema, spark, rel))
          case _ =>
        }
        df
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  /** `events.ts` has shipped in two parquet encodings across corpus
    * generations: TIMESTAMP(NANOS) (rejected by Spark's parquet reader
    * unless the session sets `nanosAsLong`, as [[GraftSession]] does —
    * read as raw nanos and divide down; on any other session the read
    * fails with Spark's own error) and plain TIMESTAMP(MICROS)/NTZ
    * (read directly; cast to session-local TimestampType so downstream
    * window/session ops see one type). Dispatch on the loaded schema so
    * either corpus works. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
