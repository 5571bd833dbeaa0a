package graft
import java.nio.file.{Files, Paths}
import Harness.jsonStr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * `SPARK_GRAFT_ONLY=<regex>` dumps (and lists oracle SQL for) a subset,
  * for local iteration; the driver runs the full catalog. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
    val names = Harness.select(queries.keys)
    names.foreach { name =>
      Harness.runEntry(spark, sfDir, name, queries(name), (n, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
      ).left.foreach(e => System.err.println(s"[verify] $name failed: ${e.getMessage}"))
    }
    val json = SparkEntry.oracleSql.filter(e => names.contains(e._1))
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
