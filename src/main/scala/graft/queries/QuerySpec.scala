package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.CacheScope

/** One catalog entry: a Spark-native query plus (when SQL-expressible) the
  * equivalent DuckDB oracle SQL the driver hash-compares against.
  *
  * Contract (SparkEntry): column names AND row order must match the oracle —
  * every query ends in a full-tie-break orderBy mirrored by the SQL's
  * ORDER BY, and every computed column is aliased identically on both sides.
  *
  * Cache ownership: builders that persist intermediates (LSH signatures,
  * k-means assignments, digest tables) register them with the
  * [[CacheScope]] they are handed, so a library caller composing catalog
  * queries in a long-lived session can `release()` per batch instead of
  * leaking cached blocks until LRU eviction bites an active cache. The
  * 2-arg [[build]] runs under [[CacheScope.Unmanaged]] — the driver
  * harnesses clear the session cache between queries, so for them the
  * untracked form is correct and cheapest. CacheScopeSpec pins that every
  * catalog query leaves NOTHING cached after a scoped build + release.
  *
  * NOT all builders are free at build-call time: most return a lazy plan,
  * but a few EXECUTE work during construction — `pipeline_pretrain` /
  * `pipeline_pretrain_epochs` run the whole curation stage (LSH, connected
  * components, a localCheckpoint) eagerly, the k-means centroid-table
  * builders run Lloyd fits (the pruned KMeans.fitCentroidTable checkpoints
  * every pass; see its `@return`), the purge/compaction entries
  * (`pipeline_rag_purge*`, `pipeline_rag_codes_compact`, `pipeline_rag_purge_compact`,
  * `ret_bm25_purge`, `ret_bm25_compact`, `ret_bm25_purge_compact`, and
  * the mutated-lake serves `ret_bm25_served_mutated` /
  * `sim_ivf_served_purged` / `sim_ivfpq_served_mutated`, which run
  * their idempotent mutation sequences as an ensure-step) rewrite
  * their staged lakes, and
  * `dq_release_apply` runs the full ladder decision (a bounded collect)
  * before returning the release plan. Harness code that enumerates or
  * plan-dumps specs ahead of execution pays that cost per build() call,
  * not per action.
  */
final case class QuerySpec(
    name: String,
    doc: String,
    oracle: Option[String],
    buildScoped: (SparkSession, String, CacheScope) => DataFrame) {

  /** Driver-contract form (`(SparkSession, String) => DataFrame`): builds
    * under the Unmanaged scope. Library callers in long-lived sessions
    * should prefer [[buildScoped]] with their own scope + release(). */
  val build: (SparkSession, String) => DataFrame =
    (s, d) => buildScoped(s, d, CacheScope.Unmanaged)
}

object QuerySpec {
  /** Most catalog builders persist nothing; this overload keeps their
    * scope-less 2-arg form. */
  def apply(name: String, doc: String, oracle: Option[String],
      build: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, doc, oracle,
      (s: SparkSession, d: String, _: CacheScope) => build(s, d))
}

/** Size-guarded broadcast hints. An unconditional `broadcast()` on a table
  * that grows with the data (supplier, part, a per-user aggregate) is a
  * driver/executor OOM at corpus scale; this guard applies the hint only when
  * Catalyst's own size estimate says the side is small. `stats.sizeInBytes`
  * comes from file-level statistics (for scans) or propagated estimates — it
  * costs no Spark job, unlike a sizing `count()`. Constant-size tables
  * (nation = 25 rows, region = 5 — fixed by the TPC-H spec at every SF) may
  * still use an unconditional hint.
  */
object Broadcasting {
  import org.apache.spark.sql.functions.broadcast

  /** Spark's default autoBroadcastJoinThreshold is 10 MB; allow modest
    * headroom since these estimates are pre-filter upper bounds. */
  val DefaultThresholdBytes: Long = 64L << 20

  def maybeBroadcast(df: DataFrame, threshold: Long = DefaultThresholdBytes): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(threshold))
      broadcast(df)
    else df
}

object Tables {
  import org.apache.spark.sql.functions.{col, expr}
  import org.apache.spark.sql.types.LongType

  /** Load a corpus table (TESTDATA.md): `spark.read.parquet(s"$dir/$name.parquet")`.
    *
    * `events.ts` has shipped in two physical encodings across testdata
    * generations, and BOTH must land as one logical type — TIMESTAMP
    * (session-tz micros, the type event-time watermarks and `unix_*`
    * accept, and the type DuckDB's oracle effectively computes on):
    *   - TIMESTAMP(NANOS): Spark 4 rejects it by default; read as
    *     nanos-since-epoch longs and truncate to micros (DuckDB truncates
    *     identically when it loads the same file).
    *   - naive TIMESTAMP(MICROS) (isAdjustedToUTC = false): Spark 4 infers
    *     TIMESTAMP_NTZ by default, which watermarks/`unix_micros` REJECT;
    *     disable the inference so the stored micros read as TIMESTAMP
    *     unchanged (every harness pins session tz = UTC). */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    prepare(spark)
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (df.schema.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df
  }

  /** The session state every corpus read needs: the `ts` normalization
    * confs above, and the native expressions (tile_*, vec_*) plus the
    * TileAlgebra rule. Every catalog query loads its tables through here
    * (the streaming entries' file-source reads call it directly), so a
    * builder may reference the native functions after its first load. */
  private[queries] def prepare(spark: SparkSession): Unit = {
    graft.plans.GraftExtensions.register(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
  }
}
