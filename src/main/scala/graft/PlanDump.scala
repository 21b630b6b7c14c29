package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for a set of declared queries — the
  * optimization rounds' plan-evidence generator (plans/rNN/). For
  * queries whose gate runs eager phases internally (training loops,
  * pinned ladders, artifact lifecycles), the dumped plan is the final
  * lazy stage; the per-phase evidence for those lives in the round's
  * OPTIMIZATION notes instead. Args: <sfDir> <outDir> <suffix>. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix) = args
    val queries = SparkEntry.selected()
    val spark = SparkEntry.session("graft-plandump")
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[plandump] $name ok")
      } catch { case e: Throwable =>
        println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
