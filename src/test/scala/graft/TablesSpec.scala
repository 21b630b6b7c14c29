package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types._

/** `Tables`' schema memo: a memoized schema must equal what a bare
  * `spark.read.parquet` infers, a memo hit must launch no Spark job,
  * and neither a rewritten file nor a changed converter conf may be
  * served a stale schema. */
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
}
