package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. One session per JVM
  * (scalatest forks a single test JVM here), small shuffle-partition
  * count so tiny-DF tests don't pay 32-task scheduling overhead.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` with the session conf `k` set to `v`, then restores
    * the previous value (or unsets it). */
  protected def withConf[T](k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** Spark jobs started while `body` runs. The listener bus delivers
    * job starts in submission order, so the jobs between two marker
    * jobs are exactly the ones `body` submitted. */
  protected def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += Option(e.properties).map(_.getProperty("spark.job.description")).orNull
      }
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("job-count-begin")
      body
      marker("job-count-end")
      val deadline = System.nanoTime() + 30e9.toLong
      while (seen.synchronized(!seen.contains("job-count-end"))) {
        assert(System.nanoTime() < deadline, "listener never saw the end marker")
        Thread.sleep(10)
      }
    } finally sc.removeSparkListener(listener)
    seen.synchronized {
      seen.indexOf("job-count-end") - seen.indexOf("job-count-begin") - 1
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // managed tables (bucketing specs) land in /tmp, not the repo
    System.setProperty("spark.sql.warehouse.dir",
      s"/tmp/graft-test-warehouse-${java.util.UUID.randomUUID()}")
    val s = GraftSession.create("local[4]", "graft-test", Some(4))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
