package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.SparkSession

import graft.operators.Dedup

/** Session config has one owner, [[GraftSession.create]]: no operator
  * and no table reader writes the conf of the session it runs on, so a
  * query plans the same whatever ran before it or runs beside it. */
class ConfOwnershipSpec extends SparkSpec {
  private def chain(s: SparkSession, n: Long) = {
    import s.implicits._
    (1L to n).map(i => (i, i - 1)).toDF("src", "dst")
  }

  test("a concurrent reader sees the session conf unchanged while connectedComponents runs") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val before = keys.map(k => k -> spark.conf.get(k)).toMap
    val done = new AtomicBoolean(false)
    val reads = new AtomicLong()
    val changed = new ConcurrentLinkedQueue[(String, String)]()
    val reader = new Thread(() =>
      while (!done.get) {
        keys.foreach { k =>
          val v = spark.conf.get(k)
          reads.incrementAndGet()
          if (v != before(k)) changed.add(k -> v)
        }
        Thread.sleep(1)
      })
    reader.start()
    // a 40-long chain takes several distributed rounds
    val out = try Dedup.connectedComponents(
        chain(spark, 40L), "src", "dst", driverThreshold = 0).collect()
      finally { done.set(true); reader.join() }
    assert(out.length == 41 && out.forall(_.getLong(1) == 0L))
    assert(reads.get > 0L, "the reader never ran")
    val differing = changed.asScala.toSet
    assert(differing.isEmpty, s"reads that differ from $before")
    assert(keys.map(k => k -> spark.conf.get(k)).toMap == before)
  }

  test("Tables.events, an all-capped miner and connectedComponents leave a fresh session's conf as it was") {
    // each step on its own fresh session; returns the conf entries it changed
    def changed(what: String)(body: SparkSession => Unit): Option[String] = {
      val s = spark.newSession()
      val before = s.conf.getAll
      body(s)
      val after = s.conf.getAll
      Option.when(after != before)(
        s"$what: ${(after.toSet diff before.toSet) ++ (before.toSet diff after.toSet)}")
    }
    val dir = Files.createTempDirectory("graft-conf-spec").toString
    spark.range(3).selectExpr("id", "timestamp_micros(id) AS ts")
      .write.parquet(s"$dir/events.parquet")
    val writes = Seq(changed("Tables.events") { s =>
      assert(Tables.events(s, dir).count() == 3L)
    }, changed("Dedup.mineHammingPairs") { s =>
      import s.implicits._
      // 5 identical fingerprints, cap 3: every chunk bucket is capped
      val fp = (1L to 5L).map(i => (i, 7L, 7L)).toDF("doc_id", "hi", "lo")
      assert(Dedup.mineHammingPairs(fp, maxHamming = 3, maxBucket = 3).count() == 0L)
    }, changed("Dedup.connectedComponents") { s =>
      val out = Dedup.connectedComponents(
        chain(s, 20L), "src", "dst", driverThreshold = 0).collect()
      assert(out.length == 21)
    }).flatten
    assert(writes.isEmpty, writes.mkString("session conf changed by\n", "\n", ""))
  }

  test("no source under src/main/scala except GraftSession.scala writes session conf") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} is not a directory")
    val write = """conf\.(set|unset)\(""".r
    val files = Using.resource(Files.walk(root))(_.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList)
    assert(files.exists(_.getFileName.toString == "GraftSession.scala"))
    val hits = for {
      p <- files if p.getFileName.toString != "GraftSession.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if write.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("session conf written outside GraftSession:\n", "\n", ""))
  }
}
