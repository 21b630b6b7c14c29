package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** `Tables`' resolution memo: a memoized schema must equal what a
  * bare `spark.read.parquet` infers, a memo hit must launch no Spark
  * job and read like a fresh relation, neither a rewritten file nor a
  * changed converter conf may be served a stale schema or stale rows,
  * and a session never reads through another session's relation. */
class TablesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val binaryAsString = "spark.sql.parquet.binaryAsString"

  /** Writes `file` as one parquet file with the given message type and
    * no Spark schema in its footer, so inference goes through the
    * parquet-to-Spark converter and its confs. */
  private def writeParquet(file: java.io.File, messageType: String, rows: Int)(
      fill: (org.apache.parquet.example.data.Group, Int) => Unit): Unit = {
    val t = MessageTypeParser.parseMessageType(messageType)
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(new Path(file.toURI))
      .withType(t).withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val f = new SimpleGroupFactory(t)
    try (0 until rows).foreach { i => val g = f.newGroup(); fill(g, i); w.write(g) }
    finally w.close()
  }

  private def tmpDir(): java.io.File =
    Files.createTempDirectory("graft-tables-spec").toFile

  test("memoized schemas equal spark.read.parquet for every corpus table under both nanosAsLong values") {
    for (v <- Seq("true", "false"); t <- Tables.names) withConf(nanosAsLong, v) {
      val want = spark.read.parquet(s"$dir/$t.parquet").schema
      assert(Tables(spark, dir, t).schema == want, s"$t nanosAsLong=$v (miss)")
      assert(Tables(spark, dir, t).schema == want, s"$t nanosAsLong=$v (hit)")
    }
  }

  test("a second Tables read of the same file launches no Spark job") {
    val d = tmpDir()
    writeParquet(new java.io.File(d, "t.parquet"), "message m { required int64 a; }", 3) {
      (g, i) => g.add("a", i.toLong)
    }
    assert(jobsDuring(Tables(spark, d.getPath, "t")) >= 1, "first read infers")
    assert(jobsDuring(Tables(spark, d.getPath, "t")) == 0)
    Tables.names.foreach(t => Tables(spark, dir, t))
    assert(jobsDuring(Tables.names.foreach(t => Tables(spark, dir, t))) == 0)
  }

  test("a file rewritten at the same path with a different schema is re-inferred") {
    val d = tmpDir()
    val f = new java.io.File(d, "t.parquet")
    writeParquet(f, "message m { required int64 a; }", 3) { (g, i) => g.add("a", i.toLong) }
    assert(Tables(spark, d.getPath, "t").schema ==
      StructType(Seq(StructField("a", LongType))))
    writeParquet(f, "message m { required binary b (UTF8); required int32 c; }", 2) {
      (g, i) => g.add("b", s"x$i"); g.add("c", i)
    }
    val df = Tables(spark, d.getPath, "t")
    assert(df.schema ==
      StructType(Seq(StructField("b", StringType), StructField("c", IntegerType))))
    assert(df.collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("x0", 0), ("x1", 1)))
  }

  test("a converter conf change re-infers instead of serving the memoized schema") {
    val d = tmpDir()
    writeParquet(new java.io.File(d, "b.parquet"), "message m { required binary b; }", 2) {
      (g, i) => g.add("b", s"v$i")
    }
    for (v <- Seq("false", "true", "false")) withConf(binaryAsString, v) {
      val want = spark.read.parquet(s"${d.getPath}/b.parquet").schema
      assert(Tables(spark, d.getPath, "b").schema == want, s"binaryAsString=$v")
    }
    writeParquet(new java.io.File(d, "n.parquet"),
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }", 2) {
      (g, i) => g.add("ts", 1000L * i)
    }
    withConf(nanosAsLong, "true") {
      assert(Tables(spark, d.getPath, "n").schema("ts").dataType == LongType)
    }
    withConf(nanosAsLong, "false") {
      val want = intercept[Exception](spark.read.parquet(s"${d.getPath}/n.parquet"))
      val got = intercept[Exception](Tables(spark, d.getPath, "n"))
      assert(got.getClass == want.getClass)
    }
  }

  private def longs(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq.sorted

  /** The session each relation in `df`'s analyzed plan was resolved on. */
  private def relationSessions(df: DataFrame): Seq[SparkSession] =
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation].sparkSession
    }

  test("a memo hit has fresh exprIds: a self-join of two reads returns the rows of a bare-read self-join") {
    Tables.documents(spark, dir)
    val (a, b) = (Tables.documents(spark, dir), Tables.documents(spark, dir))
    assert(a.queryExecution.analyzed.output.map(_.exprId)
      .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    def selfJoin(x: DataFrame, y: DataFrame): Seq[(Long, Long)] =
      x.join(y, x("doc_id") === y("doc_id") + 1).select(x("doc_id"), y("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val p = s"$dir/documents.parquet"
    val want = selfJoin(spark.read.parquet(p), spark.read.parquet(p))
    assert(want.nonEmpty)
    assert(selfJoin(a, b) == want)
  }

  test("a file rewritten in place with a new length or a new mtime is resolved again and its new rows read") {
    val d = tmpDir()
    val f = new java.io.File(d, "t.parquet")
    def write(values: Seq[Long]): Unit =
      writeParquet(f, "message m { required int64 a; }", values.size) {
        (g, i) => g.add("a", values(i))
      }
    write(Seq(1L, 2L, 3L))
    assert(longs(Tables(spark, d.getPath, "t")) == Seq(1L, 2L, 3L))
    assert(longs(Tables(spark, d.getPath, "t")) == Seq(1L, 2L, 3L))
    write(Seq(4L, 5L, 6L, 7L, 8L))
    assert(longs(Tables(spark, d.getPath, "t")) == Seq(4L, 5L, 6L, 7L, 8L))
    // the same length, told apart by its modification time alone
    val len = f.length
    val mtime = f.lastModified
    write(Seq(9L, 10L, 11L, 12L, 13L))
    assert(f.length == len)
    assert(f.setLastModified(mtime + 10000))
    assert(longs(Tables(spark, d.getPath, "t")) == Seq(9L, 10L, 11L, 12L, 13L))
  }

  test("a second session never gets the first session's relation") {
    val d = tmpDir()
    writeParquet(new java.io.File(d, "t.parquet"), "message m { required int64 a; }", 3) {
      (g, i) => g.add("a", i.toLong)
    }
    val other = spark.newSession()
    val first = Tables(spark, d.getPath, "t")
    assert(relationSessions(first).forall(_ eq spark))
    var second: DataFrame = null
    // resolved again from the memoized schema: no inference job
    assert(jobsDuring { second = Tables(other, d.getPath, "t") } == 0)
    assert(relationSessions(second).nonEmpty && relationSessions(second).forall(_ eq other))
    assert(longs(second) == Seq(0L, 1L, 2L))
    val again = Tables(spark, d.getPath, "t")
    assert(relationSessions(again).nonEmpty && relationSessions(again).forall(_ eq spark))
    assert(relationSessions(Tables(other, d.getPath, "t")).forall(_ eq other))
  }
}
