package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the harness mains (Bench, Verify, HeatmapJob, PlanDump) share:
  * one session policy, one catalog runner with its selection, the
  * between-query cache reset, the JSON string escaper and the generic
  * warmup. */
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

  /** The catalog names `only` selects, sorted. `only` is a FULL-anchored
    * regex (`SPARK_GRAFT_ONLY` by default); unset selects every name. */
  def select(names: Iterable[String],
      only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[String] =
    names.toSeq.sorted.filter(n => only.forall(n.matches))

  /** Seconds one catalog entry spent building its frame (eager staged
    * work included) and in its sink (the plan's execution). */
  final case class EntryTimes(buildS: Double, sinkS: Double)

  /** Runs one catalog entry: builds its frame, then hands it to `sink`,
    * which must execute the whole plan (a `count()` would let the optimizer
    * prune every column it does not need). Returns the two times or what
    * either step threw, and always drops what the entry left cached. */
  def runEntry(spark: SparkSession, sfDir: String, name: String,
      build: (SparkSession, String) => DataFrame,
      sink: (String, DataFrame) => Unit): Either[Throwable, EntryTimes] = {
    val t0 = System.nanoTime()
    try {
      val df = build(spark, sfDir)
      val t1 = System.nanoTime()
      sink(name, df)
      Right(EntryTimes((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9))
    } catch {
      case e: Throwable => Left(e)
    } finally resetCaches(spark)
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
    noop(r.groupBy("k").count().orderBy("k"))
    noop(r.join(spark.range(1000).withColumnRenamed("id", "k"), "k"))
    noop(spark.read.parquet(s"$sfDir/region.parquet"))
  }

  /** Executes the whole plan and keeps nothing: Spark's `noop` sink. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
