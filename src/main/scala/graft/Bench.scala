package graft
import scala.collection.mutable
import Verify.q

/** Driver-run benchmark: JSON result line(s), per-query seconds.
  *
  * Each query is timed over THREE runs and the MIN is reported: run 1
  * in a fresh JVM measures mostly JIT/codegen compilation (Spark
  * compiles generated Java per distinct plan), which a long-lived
  * cluster pays once, not per query. Caches are cleared between
  * queries so iterative operators (hierarchy labeling persists its
  * frontiers) don't leak memory pressure into later timings.
  *
  * Variance guard (three uniform phantom swings in rounds 3–5 were
  * shared-sandbox noise): alongside the per-query min, line 1 reports
  * per-query medians (`queries_med`) and a global `spread_pct` =
  * median of per-query (max−min)/min — a large spread says the box
  * was noisy and a total-time delta vs a previous round is NOT a code
  * regression signal.
  *
  * Output: TWO lines. Line 1 carries every query's min + median, the
  * spread, and the run's box (`procs`, `parallelism`), Spark version
  * and git SHA; line 2 is capped to fit (with sbt's trailing
  * "[success]" line) inside a 2000-char log tail, keeping only the
  * slowest queries. A tail-window harvester sees an intact line 2; a
  * full-stdout parser can take either.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val queries = SparkEntry.selected()
    val spark = SparkEntry.session("graft-bench")
    // Calibration micro-benchmark: a fixed, SF-independent workload
    // (hash-agg over a generated range — no IO) timed the same
    // min-of-N way. Cross-round absolute seconds have repeatedly moved
    // 25–40% on BOTH engines from shared-sandbox drift; dividing a
    // round's per-query seconds by its `calib` value normalizes that
    // drift out, so only same-round Spark-vs-DuckDB ratios plus
    // calib-normalized cross-round ratios are comparable.
    val calib = {
      val times = (1 to math.max(runs, 2)).map { _ =>
        val t0 = System.nanoTime()
        spark.range(0, 50000000L, 1, 32)
          .selectExpr("id % 9973 AS k", "id AS v")
          .groupBy("k").count()
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      times.min
    }
    // IO calibration (round-14 advice): the CPU calib above reads no
    // bytes, so a window where the DISK drifted (wall times up while
    // CPU calib improved — exactly round 14's self-contradictory
    // window) is invisible to it. This one times a parquet scan of a
    // FIXED generated file (same rows every round — written once,
    // reused), so cross-round artifacts can separate CPU drift from
    // IO drift before reading anything into the qnorm column.
    val calibIo = {
      val path = "/tmp/graft_calib_io.parquet"
      if (!new java.io.File(path + "/_SUCCESS").exists()) {
        spark.range(0, 20000000L, 1, 32)
          .selectExpr("id", "id % 9973 AS k",
            "concat('row-', CAST(id % 100000 AS STRING)) AS s")
          .write.mode("overwrite").parquet(path)
      }
      val times = (1 to math.max(runs, 2)).map { _ =>
        val t0 = System.nanoTime()
        spark.read.parquet(path)
          .groupBy("k").agg(org.apache.spark.sql.functions.sum("id"),
            org.apache.spark.sql.functions.max("s"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      times.min
    }
    // Short queries get extra warm runs: min-of-3 on a ~2 s query
    // still swings ±30% with sandbox noise (three rounds of r7–r9
    // cross-window drift traced to exactly this), so rows whose min is
    // under `extraBelowSec` after the base runs take min-of-5.
    val extraRuns = sys.env.getOrElse("SPARK_GRAFT_EXTRA_RUNS", "5").toInt
    val extraBelowSec = 3.0
    // a query that threw on any run → its last failure message
    val failed = mutable.Map.empty[String, String]
    val results = queries.map { case (name, fn) =>
      def timeOnce(): Double = {
        spark.catalog.clearCache()
        System.gc() // drain accumulated broadcasts/codegen garbage so
                    // earlier queries' GC debt doesn't bill this one
        val t0 = System.nanoTime()
        // noop sink consumes EVERY output column: .count() would let
        // Catalyst prune the aggregate expressions being measured
        // (see SURVEY §7.1 measurement pitfall).
        val ok = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true
        } catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.toString).take(500)
          if (failed.put(name, msg).isEmpty)
            System.err.println(s"[bench] $name failed: $msg")
          false
        }
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      var times = (1 to runs).map(_ => timeOnce())
      val base = times.filter(_ >= 0)
      if (base.nonEmpty && base.min < extraBelowSec && extraRuns > runs)
        times = times ++ (runs until extraRuns).map(_ => timeOnce())
      def warmSpread(ts: Seq[Double]): Double = {
        // spread over a TRAILING window of warm runs (chronological
        // drop of run 1, which measures JIT/codegen compile, then the
        // last `runs` samples). A spread over ALL appended runs is
        // monotonically nondecreasing — the guard below could add runs
        // but never observe that they settled, so the noise flag stuck
        // to the original outlier forever (round-13 advice).
        val warm = ts.filter(_ >= 0).drop(1).takeRight(math.max(runs, 2))
        if (warm.size >= 2) (warm.max - warm.min) / warm.min else 0.0
      }
      // quiesced-window guard: a >50% warm spread means the sandbox was
      // noisy during THIS query — take up to 2 extra runs; the trailing
      // window lets them CLEAR the flag once the box settles instead of
      // poisoning cross-round comparison (three phantom regressions in
      // rounds 10-12 traced to exactly this)
      var guard = 0
      while (warmSpread(times) > 0.5 && guard < 2) {
        times = times :+ timeOnce(); guard += 1
      }
      val good = times.filter(_ >= 0)
      val spread = warmSpread(times)
      val sorted = good.sorted
      if (good.isEmpty) (name, -1.0, -1.0, 0.0)
      else (name, sorted.head, sorted(sorted.size / 2), spread)
    }
    def fmt(v: Double): String = f"$v%.2f"
    def jmap(qs: Seq[(String, Double)]): String =
      qs.map { case (k, v) => q(k) + ":" + fmt(v) }.mkString("{", ",", "}")
    // failed queries report -1.0 as their per-query marker; clamp them
    // to 0 in the totals so a failure can't shrink the reported sum
    val total = results.map(r => math.max(r._2, 0.0)).sum
    val totalMed = results.map(r => math.max(r._3, 0.0)).sum
    val spreads = results.map(_._4).sorted
    val spreadPct = if (spreads.isEmpty) 0.0 else spreads(spreads.size / 2) * 100
    // the commit the run measured; "unknown" outside a git checkout
    val gitSha =
      try scala.sys.process.Process(Seq("git", "rev-parse", "HEAD"))
        .!!(scala.sys.process.ProcessLogger(_ => ())).trim
      catch { case _: Exception => "unknown" }
    // Calib-normalized per-query medians: THE cross-round comparison
    // column (per-query median ÷ this run's calib). Three rounds of
    // phantom swings came from comparing raw seconds across windows;
    // normalized values are directly comparable between any two bench
    // artifacts regardless of how the sandbox drifted between them.
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,""" +
      s""""value_med":${fmt(totalMed)},"spread_pct":${fmt(spreadPct)},""" +
      s""""calib":${fmt(calib)},"calib_io":${fmt(calibIo)},""" +
      s""""queries":${jmap(results.map(r => (r._1, r._2)))},""" +
      s""""queries_med":${jmap(results.map(r => (r._1, r._3)))},""" +
      s""""queries_norm":${jmap(results.map(r =>
        (r._1, if (r._3 >= 0 && calib > 0) r._3 / calib else -1.0)))},""" +
      s""""failed":${failed.toSeq.sorted.map { case (k, v) => q(k) + ":" + q(v) }
        .mkString("{", ",", "}")},""" +
      s""""procs":${Runtime.getRuntime.availableProcessors},""" +
      s""""parallelism":${spark.sparkContext.defaultParallelism},""" +
      s""""spark_version":${q(spark.version)},"git_sha":${q(gitSha)},""" +
      s""""sf":"$sfDir"}"""
    println(fullLine)
    // The driver's committed BENCH_r{N}.json harvests a tail-capped
    // window (55/122 rows in round 9), which made per-query cross-round
    // comparison impossible from artifacts alone — so the FULL map is
    // also written to a file (committable) on every run.
    // Filtered runs (SPARK_GRAFT_ONLY) default to a SEPARATE file:
    // BENCH_FULL.json's whole purpose is the full cross-round per-query
    // map, and a 2-query filtered run overwriting it destroys that
    // artifact (it happened in round 12).
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (sys.env.contains("SPARK_GRAFT_ONLY")) "BENCH_FILTERED.json" else "BENCH_FULL.json")
    try {
      val w = new java.io.PrintWriter(outFile, "UTF-8")
      try w.println(fullLine) finally w.close()
    } catch { case _: Throwable => () } // read-only CWD must not fail the bench
    // Compact line: the driver harvests a 2000-char LOG TAIL, so this
    // last line must fit there with sbt's success line appended — a
    // 154-entry named map physically cannot (≈4 KB). What CAN fit, and
    // what cross-round comparison actually needs, is the COMPLETE
    // per-query vector in a fixed order: `qnorm` is every query's
    // calib-normalized median (THE cross-round column), values aligned
    // with the lexicographically sorted query names (= the sorted key
    // set of the same round's CORRECTNESS file; the full named maps
    // live in BENCH_FULL.json). The human-readable `queries` map keeps
    // the slowest rows in whatever budget remains.
    val qnormArr = results.map(r =>
      fmt(if (r._3 >= 0 && calib > 0) r._3 / calib else -1.0))
      .mkString("[", ",", "]")
    val budget = 1900
    val fixedHead =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,""" +
      s""""value_med":${fmt(totalMed)},"spread_pct":${fmt(spreadPct)},""" +
      s""""calib":${fmt(calib)},"calib_io":${fmt(calibIo)},""" +
      s""""n_queries":${results.size},"order":"name-asc",""" +
      s""""qnorm":$qnormArr,""" +
      s""""full":"$outFile","sf":"$sfDir","""
    if (fixedHead.length + 40 > budget) {
      // qnorm itself no longer fits the tail window (~230+ queries):
      // drop the per-query vector with an EXPLICIT marker instead of
      // letting the tail silently truncate mid-array — the full map is
      // always in `full` anyway.
      println(
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,""" +
        s""""value_med":${fmt(totalMed)},"spread_pct":${fmt(spreadPct)},""" +
        s""""calib":${fmt(calib)},"calib_io":${fmt(calibIo)},""" +
        s""""n_queries":${results.size},"qnorm_truncated":true,""" +
        s""""full":"$outFile","sf":"$sfDir"}""")
    } else {
      val bySlow = results.sortBy(-_._2)
      var kept = Vector.empty[(String, Double)]
      var used = fixedHead.length + 40 // "queries":{...},"queries_kept":N}
      bySlow.foreach { case r =>
        val cost = r._1.length + 10
        if (used + cost <= budget) { kept :+= ((r._1, r._2)); used += cost }
      }
      println(fixedHead +
        s""""queries_kept":${kept.size},""" +
        s""""queries":${jmap(kept.sortBy(_._1))}}""")
    }
    spark.stop()
  }
}
