package graft
import java.nio.file.{Files, Paths}
import Harness.jsonStr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=<regex>: dump (and list oracle SQL for) a subset —
    // local iteration only; the driver runs the full catalog. FULL-anchored
    // match, same semantics as Bench's filter (a substring match here would
    // make the one env var select different subsets in the two harnesses)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    def selected(name: String): Boolean = only.forall(name.matches)
    SparkEntry.queries.filter(e => selected(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Harness.resetCaches(spark)
    }
    val json = SparkEntry.oracleSql.filter(e => selected(e._1))
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
