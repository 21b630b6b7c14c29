package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop benchmark harness: one client, one query in flight.
  *
  * Runs `graft.SparkEntry.queries` on a session from
  * `graft.GraftSession.create`, one pass per line of `--passes` in the
  * order given there, and writes
  * raw records (one JSON object per line) that `run.py` turns into
  * metrics. Each query is three public calls, timed from outside:
  * the query function (`build`), forcing `queryExecution.executedPlan`
  * (`plan`) and `collect()` on the same Dataset (`exec`). Results are
  * hashed after the clock stops.
  *
  * Pass 0 is cold, passes 1 until `--first-warm` warm the JIT up, later
  * passes are warm.
  * Once `--min-passes` have run, no pass starts later than `--deadline-s`
  * after launch, so a slowed host cannot stretch a run without bound.
  * With `--trace 1` the cold pass and half of the warm passes are
  * traced: they record Spark jobs, stages, task metrics, planner
  * phases and codegen compiles.
  */
object Main {
  private val SpanProp = "perfbench.span"

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val out = new PrintWriter(Files.newBufferedWriter(Paths.get(opt("out")), UTF_8))
    try new Run(opt, out).apply() finally out.close()
  }

  /** Session from the library's public factory; the time counts from
    * process launch (`--launched-ms`, taken by the parent just before it
    * started this JVM) to the session being ready. */
  private def session(opt: Map[String, String]): (SparkSession, Double) = {
    val n = opt("cores").toInt
    val spark = graft.GraftSession.create(s"local[$n]", "perfbench", Some(n))
    spark.sparkContext.setLogLevel("WARN")
    (spark, (System.currentTimeMillis() - opt("launched-ms").toLong) / 1e3)
  }

  /** Fixed CPU-only probe (no Spark): integer hashing over a fixed range.
    * Context for reading a result; never a gated metric. */
  def calibMs(): Double = {
    val t0 = System.nanoTime()
    var h = 0
    var i = 0
    while (i < 50000000) { h = MurmurHash3.mix(h, i); i += 1 }
    calibSink = h // keeps the loop live
    (System.nanoTime() - t0) / 1e6
  }
  @volatile private var calibSink = 0

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Order-independent digest of a result: per-row 64-bit hashes summed
    * modulo 2^64, prefixed with the row count. */
  def resultHash(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val s = canon(r)
      val hi = MurmurHash3.stringHash(s, 0x3c6ef372).toLong
      val lo = MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL
      sum += (hi << 32) | lo
    }
    f"${rows.length}:$sum%016x"
  }

  /** Canonical text of a value: exact bits for floating point, map
    * entries sorted, nested rows and sequences in order. */
  def canon(v: Any): String = v match {
    case null => "N"
    case d: Double => "d" + java.lang.Double.doubleToLongBits(d).toHexString
    case f: Float => "f" + java.lang.Float.floatToIntBits(f).toHexString
    case b: Array[Byte] => "b" + b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case s: String => "s" + s.length + ":" + s
    case x => x.getClass.getSimpleName.take(1) + x.toString
  }

  /** Counts whole-stage and expression code compiles, and their time,
    * from the line Spark's code generator logs after each compile. */
  final class CodegenTap {
    val compiles = new AtomicLong
    val micros = new AtomicLong
    private val Msg = """Code generated in ([0-9.]+) ms""".r.unanchored
    private val logger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    def install(): Unit = {
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val app = new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
          case Msg(ms) => compiles.incrementAndGet(); micros.addAndGet((ms.toDouble * 1e3).round)
          case _ =>
        }
      }
      app.start()
      val lc = new LoggerConfig(logger, Level.INFO, false)
      lc.addAppender(app, Level.INFO, null)
      ctx.getConfiguration.addLogger(logger, lc)
      ctx.updateLoggers()
    }
  }

  /** Spark-side trace: jobs with the span that submitted them, stages
    * with summed task metrics, and planner phases of every execution. */
  final class Tracer(marker: QueryExecution) extends SparkListener with QueryExecutionListener {
    val records = new ConcurrentLinkedQueue[String]
    private val stageTasks = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]
    private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val markersSeen = new AtomicInteger
    val markerJobsSeen = new AtomicInteger

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).getOrElse("")
      if (span.startsWith("marker")) markerJobs.add(e.jobId)
      else records.add(Json.obj("type" -> "job", "id" -> e.jobId, "span" -> span, "start_ms" -> e.time,
        "stages" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markerJobs.remove(e.jobId)) markerJobsSeen.incrementAndGet()
      else records.add(Json.obj("type" -> "job_end", "id" -> e.jobId, "end_ms" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stageTasks.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Array[Long](TaskFields.size))
      val m = e.taskMetrics
      val failed = if (e.reason == org.apache.spark.Success) 0L else 1L
      val v: Array[Long] = if (m == null) Array(1L, failed) ++ Array.fill(TaskFields.size - 2)(0L)
        else Array(1L, failed, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled, m.memoryBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
      a.synchronized { var i = 0; while (i < v.length) { a(i) += v(i); i += 1 } }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val a = Option(stageTasks.remove((s.stageId, s.attemptNumber()))).getOrElse(new Array[Long](TaskFields.size))
      records.add(Json.obj(Seq("type" -> "stage", "id" -> s.stageId, "attempt" -> s.attemptNumber(),
        "start_ms" -> s.submissionTime.getOrElse(0L), "end_ms" -> s.completionTime.getOrElse(0L),
        "ok" -> s.failureReason.isEmpty) ++ TaskFields.zip(a.toSeq): _*))
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit =
      if (qe eq marker) markersSeen.incrementAndGet()
      else {
        val ph = qe.tracker.phases
        if (ph.nonEmpty) records.add(Json.obj(Seq("type" -> "qe", "start_ms" -> ph.values.map(_.startTimeMs).min) ++
          ph.toSeq.sortBy(_._1).map { case (k, p) => (k + "_ms") -> p.durationMs }: _*))
      }
  }

  val TaskFields: Seq[String] = Seq("tasks", "task_failures", "run_ms", "cpu_ns", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms", "spill_disk_bytes",
    "spill_mem_bytes", "read_bytes", "read_records", "write_bytes", "write_records")

  final class Run(opt: Map[String, String], out: PrintWriter) {
    private val (spark, setupS) = session(opt)
    private val sc = spark.sparkContext
    private val traceMode = opt("trace") == "1"
    private val corpus = opt("corpus")
    private val passes: Vector[Seq[String]] =
      Files.readAllLines(Paths.get(opt("passes")), UTF_8).asScala.toVector.map(_.split(",").toSeq.filter(_.nonEmpty))
    private val epochNs = System.nanoTime()
    private val epochMs = System.currentTimeMillis()
    private val queries = graft.SparkEntry.queries
    private val codegen = new CodegenTap
    private val spanIds = new AtomicLong(1)
    private def now: Long = System.nanoTime() - epochNs

    def apply(): Unit = {
      val rt = Runtime.getRuntime
      out.println(Json.obj("type" -> "env", "available_processors" -> rt.availableProcessors,
        "master" -> sc.master, "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "jvm" -> System.getProperty("java.vm.version"), "heap_max_mb" -> rt.maxMemory / (1 << 20),
        "epoch_ms" -> epochMs))
      out.println(Json.obj("type" -> "setup", "s" -> setupS))
      out.println(Json.obj("type" -> "calib", "when" -> "before", "ms" -> calibMs()))
      val marker = spark.range(1).toDF()
      val tracer = new Tracer(marker.queryExecution)
      if (traceMode) codegen.install()
      val unknown = passes.flatten.distinct.filterNot(queries.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
      // Pass 0 is cold, then the JIT warms up. Traced and untraced
      // warm passes alternate T U U T, so the rest of the warm-up favours
      // neither side of the overhead ratio.
      val (firstWarm, minPasses) = (opt("first-warm").toInt, opt("min-passes").toInt)
      val deadlineMs = opt("launched-ms").toLong + (opt("deadline-s").toDouble * 1e3).toLong
      var p = 0
      while (p < passes.length && (p < minPasses || System.currentTimeMillis() < deadlineMs)) {
        val traced = traceMode && (p == 0 || (p >= firstWarm && Set(0, 3).contains((p - firstWarm) % 4)))
        if (traced) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
        runPass(p, passes(p), traced)
        if (traced) {
          drain(marker, tracer, p)
          sc.removeSparkListener(tracer)
          spark.listenerManager.unregister(tracer)
        }
        p += 1
      }
      out.println(Json.obj("type" -> "calib", "when" -> "after", "ms" -> calibMs()))
      if (traceMode) tracer.records.asScala.foreach(out.println)
      out.println(Json.obj("type" -> "end", "peak_rss_kb" -> peakRssKb(), "end_ns" -> now))
      spark.stop()
    }

    private def runPass(p: Int, names: Seq[String], traced: Boolean): Unit = {
      val passId = spanIds.getAndIncrement()
      val start = now
      names.foreach(runQuery(p, passId, _, traced))
      out.println(Json.obj("type" -> "pass", "pass" -> p, "id" -> passId, "traced" -> traced,
        "start_ns" -> start, "end_ns" -> now))
    }

    private def runQuery(p: Int, passId: Long, name: String, traced: Boolean): Unit = {
      val fn = queries(name)
      val id = spanIds.getAndAdd(4) // query, build, plan, exec
      def span(k: Int): Unit = if (traced) sc.setLocalProperty(SpanProp, (id + k).toString)
      val t = Array.fill(4)(-1L)
      var phase = 1
      var rows: Array[Row] = null
      var error: Throwable = null
      val gc0 = gcMs()
      val (cg0, cgUs0) = (codegen.compiles.get, codegen.micros.get)
      t(0) = now
      try {
        span(1)
        val df = fn(spark, corpus)
        t(1) = now; phase = 2; span(2)
        df.queryExecution.executedPlan
        t(2) = now; phase = 3; span(3)
        rows = df.collect()
        t(3) = now
      } catch {
        case e: Throwable =>
          val at = now
          (phase to 3).foreach(t(_) = at)
          error = e
      } finally if (traced) sc.setLocalProperty(SpanProp, null)
      val (gc, compiles, compileUs) = (gcMs() - gc0, codegen.compiles.get - cg0, codegen.micros.get - cgUs0)
      val hash = if (rows == null) "" else resultHash(rows)
      val fields = Seq("type" -> "query", "pass" -> p, "pass_id" -> passId, "id" -> id,
        "name" -> name, "traced" -> traced, "ok" -> (error == null), "hash" -> hash,
        "t0" -> t(0), "t1" -> t(1), "t2" -> t(2), "t3" -> t(3), "gc_ms" -> gc, "compiles" -> compiles,
        "compile_ms" -> compileUs / 1e3)
      val failure = if (error == null) Nil else Seq(
        "phase" -> Seq("", "build", "plan", "exec")(phase),
        "error_class" -> error.getClass.getName,
        "error" -> Option(error.getMessage).map(_.linesIterator.nextOption().getOrElse("")).getOrElse(""))
      out.println(Json.obj(fields ++ failure: _*))
      spark.catalog.clearCache()
    }

    /** Waits until the listener bus has delivered every event of pass `p`:
      * a marker execution submitted after the pass must reach both the
      * job listener and the execution listener. */
    private def drain(marker: org.apache.spark.sql.DataFrame, tracer: Tracer, p: Int): Unit = {
      val (qe0, job0) = (tracer.markersSeen.get, tracer.markerJobsSeen.get)
      def done = tracer.markersSeen.get > qe0 && tracer.markerJobsSeen.get > job0
      sc.setLocalProperty(SpanProp, s"marker-$p")
      marker.collect()
      sc.setLocalProperty(SpanProp, null)
      val deadline = System.nanoTime() + 30000000000L
      while (!done && System.nanoTime() < deadline) Thread.sleep(5)
      out.println(Json.obj("type" -> "drained", "pass" -> p, "ok" -> done))
    }
  }

  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }.getOrElse(-1L)
}

/** Minimal JSON writer for the harness's flat records. */
object Json {
  def obj(fields: (String, Any)*): String = fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  private def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
