package graft

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Canonical access to the test corpus tables (TPC-H-ish star schema +
  * `events` / `documents` / `embeddings`).
  *
  * Every operator takes a plain `DataFrame`, so these helpers are just
  * conveniences for wiring `SparkEntry.queries`; production users point
  * the same operators at any parquet/CSV/JSON source.
  *
  * Schema memo: a bare `spark.read.parquet` infers the schema with a
  * Spark job (`mergeSchemasInParallel` broadcasts the Hadoop conf and
  * runs a one-task footer read, even for a single file), which cost a
  * small query more than the rest of its build. So each corpus file's
  * schema is inferred once per file version, and later reads pass it
  * as `spark.read.schema(s).parquet(path)`. The memo key is the
  * qualified path, the file's modification time and length (one
  * `getFileStatus`), and every `SQLConf` value the parquet schema
  * converter reads — `spark.sql.legacy.parquet.nanosAsLong`, which
  * [[GraftSession]] sets, changes `ts`'s inferred type. A rewritten
  * file is therefore re-inferred, never served stale. Directories are
  * read without the memo: their status does not change when a part
  * file is rewritten in place. The memo holds one small `StructType` per
  * corpus file version, so it is left unbounded.
  *
  * Every call still builds a fresh relation (new exprIds, a fresh file
  * listing), so self-joins and analysis are unchanged. A given schema
  * goes through the same `HadoopFsRelation(dataSchema.asNullable)` path
  * as an inferred one, so Catalyst keeps full pushdown: filters and
  * column pruning reach the scan (verify via `df.explain("formatted")`
  * → `PushedFilters` / `ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val schemas = TrieMap.empty[(String, Long, Long, Seq[Boolean]), StructType]

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
    schemas.get(key) match {
      case Some(s) => spark.read.schema(s).parquet(p)
      case None =>
        val df = spark.read.parquet(p)
        schemas.put(key, df.schema)
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
