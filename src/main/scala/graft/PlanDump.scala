package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Writes one `<outDir>/<query>.txt` formatted physical plan per catalog
  * query matching the regex. Used by the optimization rounds to snapshot
  * `plans/rNN/<query>_before.txt` / `_after.txt` evidence files, and the
  * way to regenerate the plans EXPLAIN.md snapshots.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <nameRegex> [suffix]
  */
object PlanDump {
  /** The formatted physical plan with its expression ids (`#<n>`) and
    * exchange plan ids (`plan_id=<n>`) renumbered from 0 by first
    * appearance. Catalyst's ids count up across every plan a JVM builds, so
    * without this an entry's dump would depend on which entries were dumped
    * before it. */
  def dump(df: DataFrame): String =
    Seq("#", "plan_id=").foldLeft(df.queryExecution.explainString(FormattedMode)) {
      (text, prefix) =>
        val ids = scala.collection.mutable.Map.empty[String, Int]
        (java.util.regex.Pattern.quote(prefix) + "(\\d+)").r.replaceAllIn(text,
          m => prefix + ids.getOrElseUpdate(m.group(1), ids.size))
    }

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
        Files.writeString(Paths.get(s"$outDir/$n$suffix.txt"), dump(df))
        println(s"[plandump] wrote $n$suffix.txt")
      }).left.foreach(e => System.err.println(s"[plandump] $name failed: $e"))
    }
    spark.stop()
  }
}
