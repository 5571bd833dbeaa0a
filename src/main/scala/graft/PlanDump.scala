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
    val queries = SparkEntry.queries
    Harness.select(queries.keys, Some(rx)).foreach { name =>
      Harness.runEntry(spark, sfDir, name, queries(name), (n, df) => {
        Files.writeString(Paths.get(s"$outDir/$n$suffix.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        println(s"[plandump] wrote $n$suffix.txt")
      }).left.foreach(e => System.err.println(s"[plandump] $name failed: $e"))
    }
    spark.stop()
  }
}
