package graft

import java.nio.file.{Files, Paths}

/** Writes one `<outDir>/<query>.txt` formatted physical plan per catalog
  * query matching the regex. Used by the optimization rounds to snapshot
  * `plans/rNN/<query>_before.txt` / `_after.txt` evidence files, and the
  * way to regenerate the plans EXPLAIN.md snapshots.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <nameRegex> [suffix]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val rx = args(2)
    val suffix = args.drop(3).headOption.getOrElse("")
    // pinned to 4 cores so the dumped plans don't vary with the host
    val spark = Harness.session(4)
    // static plans are the review target; AQE re-plans at runtime
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.specs.filter(_.name.matches(rx)).foreach { spec =>
      try {
        val plan = spec.build(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${spec.name}$suffix.txt"), plan)
        println(s"[plandump] wrote ${spec.name}$suffix.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] ${spec.name} failed: $e")
      }
      Harness.resetCaches(spark)
    }
    spark.stop()
  }
}
