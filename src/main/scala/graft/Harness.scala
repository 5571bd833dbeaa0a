package graft

import org.apache.spark.sql.SparkSession

/** What the harness mains (Bench, Verify, HeatmapJob, ProfileQuery,
  * PlanDump) share: one session policy, the between-query cache reset,
  * the JSON string escaper and the generic warmup. */
object Harness {
  /** `local[cpus]` with one shuffle partition per core, UTC, and ANSI
    * pinned rather than inherited: Spark 4 defaults ANSI on (Long overflow
    * throws ARITHMETIC_OVERFLOW) but a deployment can flip it (silent
    * wraps), and every harness must measure ONE documented semantics. */
  def session(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops what a query left cached. Builders persist() intermediates (LSH
    * signatures, IVF assignments); dropped between queries, caches don't
    * accumulate and LRU-evict a cache a later query depends on. RDD-level
    * blocks (the localCheckpoints of ConnectedComponents' labels and of
    * the pruned KMeans.fitCentroidTable's passes) sit outside the SQL
    * cache manager and need the second call, or harness runs accumulate
    * orphaned cached RDDs per pipeline_corpus, dedup and centroid-table
    * k-means query. */
  def resetCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (< 0x20) — a tab or CR in a query's SQL or an error message would
    * otherwise make the reader's JSON parse of oracle_sql.json or the bench
    * line fail, silently zeroing the correctness compare. */
  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Absorbs JVM/codegen/datasource warmup so per-query timings measure
    * the queries, not first-touch initialization (scan + agg + sort +
    * join). */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val r = spark.range(2000000).select(col("id"), (col("id") % 1000).as("k"))
    r.groupBy("k").count().orderBy("k").count()
    r.join(spark.range(1000).withColumnRenamed("id", "k"), "k").count()
    spark.read.parquet(s"$sfDir/region.parquet").count()
  }
}
