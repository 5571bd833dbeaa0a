package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries._

/** Physical-plan assertions (SURVEY.md §4.3: Catalyst rewrites must be
  * VERIFIED, not assumed). These lock in the 100 TB-relevant plan shapes:
  * pushdown to the Parquet scan, broadcast of small dims, whole-stage
  * codegen around the tile math, and shuffle counts. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfSmoke

  private def physicalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def optimizedPlan(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  /** Every FileSourceScanExec in an executed plan, descending into cached
    * subtrees and adaptive wrappers — ONE definition (seven tests assert
    * on scan ReadSchemas; per-test copies drift when a new wrapper node
    * needs unwrapping, silently vacating the assertions whose copy was
    * missed). */
  private def fileScans(n: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = n match {
    case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      fileScans(im.relation.cachedPlan)
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      fileScans(a.executedPlan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(fileScans)
  }

  test("hm_tiles: source filter is pushed down to the Parquet scan") {
    val plan = physicalPlan(HeatmapQueries.hmTiles.build(spark, sf))
    assert(plan.contains("PushedFilters:") &&
      plan.replaceAll("\\s", "").contains("Not(EqualTo(event_type,view)"),
      s"expected event_type pushdown in:\n$plan")
  }

  test("hm_tiles: column pruning reads only the needed columns") {
    val plan = physicalPlan(HeatmapQueries.hmTiles.build(spark, sf))
    val readSchema = plan.linesIterator.mkString
    assert(readSchema.contains("event_id") && !readSchema.contains("props"),
      s"props must be pruned from the scan:\n$plan")
  }

  test("loc_viewport_topn: filter AND TopN both reach the connector scan") {
    val plan = physicalPlan(
      graft.queries.ConnectorQueries.locViewportTopn.build(spark, sf))
    assert(plan.contains("Not(EqualTo(source,view))"),
      s"source filter must push into the connector scan:\n$plan")
    assert(plan.contains(
      "PushedTopN: ORDER BY [timestamp ASC NULLS FIRST, user_id ASC NULLS FIRST] LIMIT 100"),
      s"ORDER BY + LIMIT must push as a per-file TopN heap:\n$plan")
  }

  test("corpus_budget_select: threshold from a bounded histogram, never a global data sort") {
    val plan = physicalPlan(
      graft.queries.CorpusPipeline.corpusBudget.build(spark, sf))
    // the single-partition sort under the Window must consume the BUCKETED
    // aggregate (<= 1001 rows), i.e. sit ABOVE a HashAggregate on score —
    // the whole point of the histogram form is that no corpus-sized data
    // ever reaches a single-partition exchange
    val idx = plan.indexOf("Exchange SinglePartition")
    assert(idx >= 0, s"expected the bounded bucket exchange:\n$plan")
    val below = plan.substring(idx)
    assert(below.contains("HashAggregate(keys=[score"),
      s"single-partition input must be the score histogram, not raw docs:\n$plan")
    // both the budget and the t* threshold reach the corpus filter as
    // broadcasts — the selection itself is map-side
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size >= 2,
      s"budget and t* must broadcast to their consumers:\n$plan")
  }

  test("corpus_mixture_cap: window over the bounded bucket table, thresholds broadcast back") {
    val plan = physicalPlan(
      graft.queries.CorpusPipeline.corpusMixtureCap.build(spark, sf))
    // the per-source cumulative sum must consume the (source, cap, bucket)
    // HASH AGGREGATE (≤ sources × 1000 rows), never the corpus itself —
    // that bounded input is the whole reason the cap is not a per-source
    // one-reducer rank at 100 TB
    val win = plan.indexOf("Window")
    assert(win >= 0, s"expected the per-source cumsum window:\n$plan")
    assert(plan.substring(win).contains("HashAggregate(keys=[source") &&
      plan.substring(win).contains("qc_bkt"),
      s"window input must be the bounded source×bucket aggregate:\n$plan")
    // threshold and accounting rejoin the corpus as BROADCASTS (null-safe
    // keys), so the doc-level decision is map-side: config join + threshold
    // join + achieved-counts join
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"config/threshold/accounting must all broadcast:\n$plan")
  }

  test("dedup_ngram_jaccard: derived tau stays sort-free — broadcast joins over hash aggregates") {
    val plan = physicalPlan(
      graft.queries.DedupQueries.dedupNgramJaccard.build(spark, sf))
    // the df-cap pipeline (per-source tau join + hot-set anti join) must
    // add NO sort below the final presentation ordering: the cap is only
    // scale-safe if it rides hash aggregation, not a window over the
    // exploded shingle table
    val present = plan.indexOf("Exchange rangepartitioning")
    assert(present >= 0, s"expected the presentation range exchange:\n$plan")
    val firstJoin = plan.indexOf("BroadcastHashJoin", present)
    assert(firstJoin >= 0, s"pair pipeline must ride broadcast hash joins:\n$plan")
    // sorts print as "Sort [" (AQE) or "*(n) Sort [" (codegen) — match the
    // node name itself, anchored below the pair-join subtree
    assert(!"\\bSort \\[".r.findFirstIn(plan.substring(firstJoin)).isDefined,
      s"no sort may appear below the pair join:\n$plan")
    assert(plan.contains("LeftAnti, BuildRight"),
      s"hot-shingle removal must be a broadcast anti join:\n$plan")
    assert(plan.contains("(df") && plan.contains("> tau"),
      s"the per-source tau comparison must reach the df filter:\n$plan")
  }

  test("q5_region and join_broadcast use broadcast hash joins for dims") {
    val p1 = physicalPlan(RelationalQueries.q5Region.build(spark, sf))
    assert(p1.contains("BroadcastHashJoin"), s"q5 should broadcast dims:\n$p1")
    val p2 = physicalPlan(RelationalQueries.joinBroadcast.build(spark, sf))
    assert(p2.contains("BroadcastHashJoin"), s"part dim should broadcast:\n$p2")
  }

  test("join_semi / join_anti plan as semi/anti joins, not inner+distinct") {
    assert(physicalPlan(RelationalQueries.joinSemi.build(spark, sf)).contains("LeftSemi"))
    assert(physicalPlan(RelationalQueries.joinAnti.build(spark, sf)).contains("LeftAnti"))
  }

  test("sort_limit plans TakeOrderedAndProject, not a global sort") {
    val p = physicalPlan(RelationalQueries.sortLimit.build(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("hm_pyramid: tile math stays inside whole-stage codegen (no UDFs)") {
    // AQE reports 0 codegen subtrees before execution — inspect the static
    // plan (the codegen decision is made per-stage identically either way)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = HeatmapQueries.hmPyramid.build(spark, sf)
      val codegen = df.queryExecution.explainString(
        org.apache.spark.sql.execution.CodegenMode)
      assert("Found [1-9]".r.findFirstIn(codegen).isDefined,
        s"pyramid must be codegen'd:\n${codegen.take(400)}")
      val p = physicalPlan(df)
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
        "no UDF/serde boundary in the hot path")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("hm_pyramid: two shuffles for the 16-level pyramid (vs 32 in the reference)") {
    // two-phase design: one hash exchange for the fine-zoom pre-aggregation,
    // one for the zoom rollup (the final range exchange is the ORDER BY)
    val agg = HeatmapQueries.hmPyramid.build(spark, sf)
    val plan = agg.queryExecution.executedPlan.toString
    val exchanges = "Exchange (hashpartitioning|rangepartitioning)".r
      .findAllIn(plan).toSeq
    assert(exchanges.count(_.contains("hashpartitioning")) == 2,
      s"pyramid must aggregate in exactly two shuffles:\n$plan")
  }

  test("HeatmapPipeline.run: two shuffles from locations to blobs, the blob aggregate in the rollup's stage") {
    // one hash exchange for the fine pre-aggregation, one repartition by
    // result-set tile that the zoom rollup and the blob collect_list both
    // reuse (the final range exchange is hm_pipeline_blobs' ORDER BY)
    val plan = physicalPlan(HeatmapQueries.hmPipelineBlobs.build(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2,
      s"run must shuffle exactly twice:\n$plan")
    // Spark plans a collect_list as a partial and a final aggregate; no
    // exchange may separate them, so blob fragments are never shuffled
    val lines = plan.linesIterator.toSeq
    val merged = lines.indexWhere(_.contains("functions=[collect_list("))
    assert(merged >= 0 && lines(merged + 1).contains("functions=[partial_collect_list("),
      s"the blob aggregate's two phases must be adjacent:\n$plan")
  }

  test("mergeBlobs parses each side below the join") {
    // map_zip_with and transform are not code-generated: a from_json among
    // their arguments would parse every blob after the shuffle, interpreted,
    // once more for its null guard. Each side parses once, in its own
    // projection under the join's exchanges, and nothing above the join
    // parses.
    val plan = HeatmapQueries.hmBlobMerge.build(spark, sf).queryExecution.executedPlan
    val root = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def parses(n: org.apache.spark.sql.execution.SparkPlan): Int =
      n.expressions.map(e => "from_json".r.findAllIn(e.toString).size).sum
    val joins = root.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    assert(joins.size == 1, s"one join:\n$root")
    val exchanges = joins.head.children.flatMap(_.find(_.nodeName == "Exchange"))
    assert(exchanges.size == 2, s"the join reads two exchanges:\n$root")
    val perSide = exchanges.map(_.collect { case n => parses(n) }.sum)
    assert(perSide == Seq(1, 1), s"each side parses once, under its exchange:\n$root")
    assert(root.collect { case n => parses(n) }.sum == perSide.sum,
      s"no blob is parsed between the exchanges and the output:\n$root")
  }

  test("hm_blob_explode never computes the month/day fan (alltime pushed below aggs)") {
    // regression pin for the discarded-fan bug: exactly two Generates — the
    // user-group fan and the from_json map explode — and NO third generator
    // for the timespan dimension (the alltime restriction is applied before
    // the first aggregation, so month/day branches are never planned)
    val df = HeatmapQueries.hmBlobExplode.build(spark, sf)
    val plan = optimizedPlan(df)
    val generates = "Generate ".r.findAllIn(plan).size
    assert(generates == 2, s"expected 2 Generates (group fan + map explode), " +
      s"got $generates:\n$plan")
    // no post-aggregation LIKE filter on the composite id either
    assert(!plan.contains("LIKE") && !plan.toLowerCase.contains("alltime|"),
      s"alltime restriction must not survive as a post-agg filter:\n$plan")
    // the month/day label columns never enter the plan
    assert(!plan.contains("month(") && !plan.contains("dayofmonth("),
      s"month/day timespan derivation must be absent:\n$plan")
  }

  test("asof_join plans one shuffle (window), never a range-join explosion") {
    val plan = physicalPlan(AdvancedQueries.asofJoin.build(spark, sf))
    assert(plan.contains("Window"), s"as-of must be window-based:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"as-of must not plan a quadratic join:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1, s"expected exactly one hash shuffle, got $hashExchanges:\n$plan")
  }

  test("q1_pricing aggregates partially before the shuffle (map-side combine)") {
    val p = physicalPlan(RelationalQueries.q1Pricing.build(spark, sf))
    val idxPartial = p.indexOf("HashAggregate")
    assert(idxPartial >= 0 && p.indexOf("partial_sum") > 0,
      s"expected partial aggregation:\n$p")
  }

  test("filters on dim tables fold before join (q5 region filter)") {
    val p = optimizedPlan(RelationalQueries.q5Region.build(spark, sf))
    // the EUROPE filter must sit under the join, not above it
    val filterIdx = p.indexOf("EUROPE")
    val topJoinIdx = p.indexOf("Join")
    assert(filterIdx > topJoinIdx, s"region filter should be pushed below joins:\n$p")
  }

  test("agg_histogram / emb_centroids aggregate partially before the shuffle") {
    // the histogram's exchange must carry <= n_buckets rows per partition,
    // and the centroid fan-out (posexplode x64) must collapse to labels*dim
    // rows per partition — both depend on map-side partial aggregation
    for (df <- Seq(AdvancedQueries.aggHistogram.build(spark, sf),
        SimilarityQueries.embCentroids.build(spark, sf))) {
      val p = physicalPlan(df)
      val partialIdx = p.indexOf("HashAggregate")
      val exchangeIdx = p.indexOf("Exchange")
      // plans print top-down: the LAST HashAggregate is the partial one
      // feeding the first exchange from below
      assert(p.lastIndexOf("HashAggregate") > exchangeIdx && partialIdx >= 0,
        s"expected partial aggregation below the exchange:\n$p")
    }
  }

  test("hm_sql_surface: TileAlgebra collapses tile_parent(tile_id(...)) in the SQL path") {
    val df = HeatmapQueries.hmSqlSurface.build(spark, sf)
    val opt = optimizedPlan(df)
    // the rule rewrites TileParent to IF(in-range, tile_id(lat,lon,z-1),
    // NULL): no tile_parent survives optimization, and a zoom-11 tile_id
    // (the collapsed parent) appears alongside the zoom-12 one
    assert(!opt.contains("tile_parent"),
      s"tile_parent should be rewritten away by TileAlgebra:\n$opt")
    assert(opt.contains(", 11)"), s"expected a collapsed zoom-11 tile_id:\n$opt")
  }

  test("sub_scalar broadcasts the 1-row global aggregate, never shuffle-joins") {
    val p = physicalPlan(AdvancedQueries.subScalar.build(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"global aggregate must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"scalar subquery must not shuffle-join:\n$p")
  }

  // (bucketed co-located joins are pinned in StorageSpec's
  // "bucketed tables join without any exchange" — not duplicated here)

  test("AQE splits a skewed sort-merge join at runtime (skew=true in the final plan)") {
    // the adaptive complement to operators.SaltedJoin: one key owns ~98% of
    // the left side; with skew thresholds scaled to the fixture, AQE must
    // rewrite the straggler partition into splits after execution
    val prev = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val left = spark.range(50000)
        .selectExpr("CASE WHEN id < 49000 THEN 0 ELSE id END AS k", "id AS v")
      val right = spark.range(100).selectExpr("id AS k", "id AS w")
      val j = left.join(right, "k")
      // collect() executes THIS queryExecution (count() would plan a new
      // one and leave j's adaptive plan unexecuted / isFinalPlan=false);
      // only the 49000 hot-key rows match the right side (keys >= 49000
      // have no match)
      assert(j.collect().length == 49000)
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected AQE to mark the skewed join:\n$finalPlan")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("hm_viewport: bbox range predicate filters the scan stage, not the aggregate") {
    val df = HeatmapQueries.hmViewport.build(spark, sf)
    // optimized plan: the r/c range filter sits BELOW the aggregation (plans
    // print top-down, so below = a later string index), and no filter at all
    // survives above it — a post-agg bbox filter would aggregate the whole
    // world and discard 99% of it after the shuffle
    val opt = optimizedPlan(df)
    val aggIdx = opt.indexOf("Aggregate")
    val filterIdx = opt.indexOf("Filter")
    assert(aggIdx >= 0 && filterIdx > aggIdx,
      s"bbox filter must sit below the aggregation:\n$opt")
    // physical plan: the range predicate evaluates in the same codegen stage
    // as the parquet scan (before the aggregation exchange), and the static
    // source filter still reaches the parquet reader as a pushed filter
    val p = physicalPlan(df)
    val scanIdx = p.indexOf("Scan parquet")
    val exchangeIdx = p.indexOf("Exchange")
    val physFilterIdx = p.indexOf("Filter")
    assert(physFilterIdx > exchangeIdx && scanIdx > physFilterIdx,
      s"range filter must run between scan and first exchange:\n$p")
    assert(p.contains("PushedFilters:") &&
      p.replaceAll("\\s", "").contains("Not(EqualTo(event_type,view)"),
      s"source filter must reach the parquet scan:\n$p")
  }

  test("dynamic partition pruning: a dim filter prunes fact PARTITIONS at runtime") {
    // the partition-layout complement to predicate pushdown: when the fact
    // table is laid out by a join key (date, tenant, region bucket), a
    // selective dim filter must translate into skipped fact DIRECTORIES —
    // at 100 TB this is the difference between scanning one day and a year
    // fixed path + overwrite mode: reused across runs, so repeated sbt test
    // invocations do not accumulate one lineitem copy per run in /tmp
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-dpp-fixture").toString
    Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"),
        (col("l_orderkey") % 10).as("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.range(10)
      .select(col("id").as("bucket"), (col("id") % 5 === 0).as("keep"))
    val j = fact.join(dim.filter(col("keep")), "bucket")
      .groupBy("bucket").agg(sum("l_quantity").as("q"))
    val p = physicalPlan(j)
    assert(p.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter on the fact scan:\n$p")
    // and the pruning is real: only 2 of 10 buckets survive (the partition
    // column reads back as int — partition-value inference)
    assert(j.collect().map(_.getAs[Number](0).longValue).toSet == Set(0L, 5L))
  }

  test("AQE coalesces undersized shuffle partitions at runtime") {
    // the other half of shuffle sizing: spark.sql.shuffle.partitions is a
    // static guess — when a filter shrinks the data, AQE must merge the
    // resulting slivers so downstream tasks aren't dominated by per-task
    // overhead (at 100 TB a post-filter stage can otherwise run thousands
    // of near-empty tasks)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try {
      val df = Tables(spark, sf, "lineitem")
        .filter(col("l_returnflag") === "R")
        .groupBy("l_linestatus").agg(sum("l_quantity").as("q"))
      assert(df.collect().nonEmpty)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("AQEShuffleRead") && p.contains("coalesced"),
        s"expected runtime partition coalescing:\n$p")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("dq_profile: the whole multi-column profile runs in ONE table scan") {
    // a per-column union would scan the table once per column — the
    // multiple count-distincts must plan as a single scan + Expand instead
    val p = physicalPlan(DataQualityQueries.dqProfile.build(spark, sf))
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"profile must not rescan per column:\n$p")
    assert(p.contains("Expand"), s"expected Expand for multi-distinct:\n$p")
  }

  test("geo_knn: zero-shuffle plan — grid prune in the scan stage, k via TakeOrdered") {
    val df = GeoQueries.geoKnn.build(spark, sf)
    val p = physicalPlan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"k cut must be top-k merge, not a global sort:\n$p")
    // the whole plan is shuffle-free: scan → filter (grid prune) → project
    // → per-partition top-k → driver merge. A knn that shuffles has already
    // lost at scale.
    assert(!p.contains("Exchange"), s"knn must not shuffle:\n$p")
  }

  test("runtime bloom filter: a selective dim filter prunes fact rows pre-shuffle") {
    // shuffle-join sibling of DPP: when the fact side is NOT laid out by the
    // join key, a bloom filter built from the filtered dim's keys drops
    // non-matching fact rows BEFORE the exchange — shuffle bytes shrink by
    // the dim filter's selectivity instead of crossing the wire to die in
    // the join. Thresholds scaled to the fixture (the 10 GB application-side
    // default exists to keep the extra dim aggregation off small joins).
    val prev = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = Tables(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
      val dim = Tables(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_custkey")
      val j = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey").agg(sum("l_quantity").as("q"))
      val opt = optimizedPlan(j)
      assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
        s"expected an injected bloom filter on the fact side:\n$opt")
      assert(j.count() > 0)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("bucketed tables co-locate the join: ZERO exchange, zero sort (pre-partitioning at rest)") {
    // The 100 TB fact-to-fact join tool: both sides written bucketed+sorted
    // on the join key means the shuffle (and the sort, for SMJ) happened
    // ONCE at write time and every future join of these tables pays neither
    // — the at-rest analog of the exchange reuse PlanSpec pins elsewhere.
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    // scans report the bucket sort order only behind this flag since
    // SPARK-28595 (planning must verify one file per bucket); the write
    // below guarantees that invariant, so opting in is sound
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      // repartition on the bucket key first => ONE file per bucket. sortBy
      // only orders within each FILE, so a multi-file bucket forces the SMJ
      // sort back in — the operational rule at 100 TB is exactly this:
      // compact to one file per bucket or the sort metadata is unusable.
      Tables(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("b_lineitem")
      Tables(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("b_orders")
      val j = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
      val p = physicalPlan(j)
      assert(!p.contains("Exchange"),
        s"bucketed-bucketed equi-join must not shuffle:\n$p")
      assert(!p.contains("Sort "),
        s"sorted buckets must also eliminate the SMJ sort:\n$p")
      // and bucketing must not change results
      val plain = Tables(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
        .join(Tables(spark, sf, "orders").select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
      assert(j.count() == plain.count(), "bucketed join must equal the plain join")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.sql("DROP TABLE IF EXISTS b_orders")
    }
  }

  test("txt_contamination: the benchmark n-gram table broadcasts (the 100 TB side never shuffles to probe)") {
    val p = physicalPlan(TextQueries.txtContamination.build(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark side must broadcast — a shuffle here moves the whole train corpus:\n$p")
  }

  test("dedup_incremental: broadcast bucket prefilter — anti join for definitely-new, semi for candidates") {
    val p = physicalPlan(DedupQueries.dedupIncremental.build(spark, sf))
    assert(p.contains("LeftAnti") && p.contains("LeftSemi"),
      s"batch must split into definitely-new (anti) and possible-dup (semi) on the bucket table:\n$p")
    val bc = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bc >= 2, s"both bucket probes must be broadcast joins, got $bc:\n$p")
  }

  test("cdc_merge: aggregation not window — one data shuffle, candidates combine map-side") {
    val p = physicalPlan(EventQueries.cdcMerge.build(spark, sf))
    assert(!p.contains("Window"),
      s"last-writer-wins must be max_by aggregation, not a per-key sort window:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected exactly one hash shuffle, got $hashEx:\n$p")
    assert(p.contains("partial_max_by") || p.contains("partial_"),
      s"expected map-side partial aggregation of the per-key candidate:\n$p")
  }

  test("cdc_scd2: both windows share one shuffle and one sort") {
    val p = physicalPlan(EventQueries.cdcScd2.build(spark, sf))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1,
      s"LEAD and ROW_NUMBER share (user_id)/(ms,event_id); expected one hash shuffle, got $hashEx:\n$p")
    // the filter between the windows preserves ordering: exactly one
    // (user_id, ms, event_id) window sort, shared by LEAD and ROW_NUMBER
    // (the only other Sort is the final presentation orderBy)
    val windowSorts = "Sort \\[user_id#\\d+L ASC NULLS FIRST, ms#".r.findAllIn(p).size
    assert(windowSorts == 1,
      s"expected the two windows to share one sort, got $windowSorts:\n$p")
  }

  test("emb_kmeans: assignment is pure map-side — no join anywhere in the plan") {
    val p = physicalPlan(SimilarityQueries.embKmeans.build(spark, sf))
    assert(!p.contains("Join"),
      s"centroids must be driver-collected literals, not a joined table:\n$p")
  }

  test("sim_ivf_topk: cell assignment is a zero-shuffle literal projection; probe broadcasts") {
    val p = physicalPlan(SimilarityQueries.simIvfTopk.build(spark, sf))
    // the learned fixed-k quantizer rides the plan as k·dim literals, so
    // the full-N cell assignment is a pure projection (vec_dot against
    // literal centroids) — the r11 max_by argmax still shuffled N partial
    // rows; neither that aggregate nor any centroid join may reappear
    assert(!p.contains("partial_max_by") && p.contains("vec_dot"),
      s"cell assignment must be a literal-centroid projection, not an argmax aggregate:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no centroid cross join may exist — centroids are plan literals:\n$p")
    // the probe set (≤ 20·nprobe rows) broadcasts onto the cell-keyed
    // corpus; the ONLY hash shuffle left is the final top-k window's
    assert(p.contains("BroadcastHashJoin"),
      s"the probe join must broadcast the bounded query-probe set:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1,
      s"expected exactly one hash shuffle (final top-k window), got $hashEx:\n$p")
    val windows = "Window ".r.findAllIn(p).size
    assert(windows == 1,
      s"expected exactly 1 window (final top-k; the probe top-2 is a map-side array_sort), got $windows:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("sim_ivfpq_topk: both quantizers are projections; probe reads codes, not floats") {
    val p = physicalPlan(SimilarityQueries.simIvfpqTopk.build(spark, sf))
    // the composed index scan carries the coarse cell (vec_dot literals)
    // AND the PqM codes (vec_l2sq literals) in one projection — no argmax
    // aggregate, no centroid/codebook join anywhere
    assert(!p.contains("partial_max_by") && p.contains("vec_dot") &&
      p.contains("vec_l2sq"),
      s"cell + code assignment must be literal projections:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"centroids and codebooks are plan literals, never joined tables:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the probe join must broadcast the bounded query-probe set:\n$p")
    // sim_ivf_topk's exchange law survives the PQ composition: the only
    // hash shuffle is the final top-k window's
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1,
      s"expected exactly one hash shuffle (final top-k window), got $hashEx:\n$p")
    // the ADC stage's join output must not carry the float embedding — the
    // bytes-per-candidate win is the entry's point. The probe side 'qv'
    // micros column is legitimate; the candidate 'embedding' column must be
    // pruned out of the join's projection (it may appear inside the scan's
    // ReadSchema only because cell/code projections derive from it).
    // the tree prints root-first, so everything ABOVE the join line (the
    // ADC projection, window, sort) is the post-join pipeline
    val joinIdx = p.indexOf("BroadcastHashJoin")
    assert(joinIdx >= 0)
    assert(!p.substring(0, joinIdx).contains("embedding#"),
      s"post-join stages must read codes, never the float embedding:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("sim_ivfpq_recall: quantizers stay literal projections; refine rides the bounded shortlist") {
    val p = physicalPlan(SimilarityQueries.simIvfpqRecall.build(spark, sf))
    // production arm: same laws as sim_ivfpq_topk — literal-centroid cell
    // assignment (vec_dot) + literal-codebook encode/ADC (vec_l2sq), no
    // argmax aggregate; the probe set broadcasts (the truth arm's
    // broadcast-nested-loop crossJoins are the validation harness and are
    // expected, so no no-BNLJ assertion here)
    assert(!p.contains("partial_max_by") && p.contains("vec_dot") &&
      p.contains("vec_l2sq"),
      s"cell + code assignment must be literal projections:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the probe join must broadcast the bounded query-probe set:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("txt_contamination_suites: one text scan; all suites ride one broadcast") {
    val p = physicalPlan(graft.queries.TextQueries.txtContaminationSuites.build(spark, sf))
    // B suites must not cost B scans: spine, train stream, and every
    // suite's gram relation read the one persisted gram table
    val textScanIds = "FileScan[^\\n]*?text#(\\d+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(textScanIds.size == 1,
      s"expected exactly 1 text-reading scan, got ids $textScanIds:\n$p")
    // the suite-tagged gram relation broadcasts onto the train stream
    assert(p.contains("BroadcastHashJoin"),
      s"suite grams must broadcast onto the single train-side pass:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("dedup_bloom_inc: the prescreen is a zero-join projection; only the confirm join remains") {
    val p = physicalPlan(graft.queries.DedupQueries.dedupBloomInc.build(spark, sf))
    // the bucket-table entry needs left_anti + left_semi routing joins; the
    // Bloom literal replaces both with a filter — exactly ONE join (the
    // exact confirm left join) may survive
    assert(!p.contains("LeftAnti") && !p.contains("LeftSemi"),
      s"Bloom membership must be a filter, not an anti/semi join:\n$p")
    val joins = "Join".r.findAllIn(p).size
    assert(joins == 1, s"expected exactly the confirm join, got $joins:\n$p")
    // membership reads the plan-literal map via the seeded hash family
    assert(p.contains("xxhash64"),
      s"the prescreen filter must probe the xxhash64 bit positions:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("corpus_budget_tokens: token-massed histogram keeps the bounded-exchange shape") {
    val plan = physicalPlan(
      graft.queries.CorpusPipeline.corpusBudgetTokens.build(spark, sf))
    // same law as corpus_budget_select: the single-partition sort under the
    // Window consumes the score-bucketed aggregate, never corpus rows —
    // re-denominating the mass in tokens must not change the plan shape
    val idx = plan.indexOf("Exchange SinglePartition")
    assert(idx >= 0, s"expected the bounded bucket exchange:\n$plan")
    assert(plan.substring(idx).contains("HashAggregate(keys=[score"),
      s"single-partition input must be the score histogram, not raw docs:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size >= 2,
      s"budget and t* must broadcast to their consumers:\n$plan")
  }

  test("pipeline_corpus: exactly one scan reads the text column") {
    val plan = physicalPlan(
      graft.queries.CorpusPipeline.pipelineCorpus.build(spark, sf))
    // the manifest derives score + grams in ONE fused projection over one
    // scan; quality, contamination, and LSH branches all read the persisted
    // derived table. Count DISTINCT attribute ids, not string occurrences:
    // every InMemoryRelation re-prints its cached child plan (same exprIds)
    // at each reference site, while a genuinely second scan would mint a
    // fresh text#N
    val textScanIds = "FileScan[^\\n]*?text#(\\d+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(textScanIds.size == 1,
      s"expected exactly 1 text-reading scan, got ids $textScanIds:\n$plan")
  }

  test("pipeline_rag_index: one text scan, zero-shuffle literal-centroid cell assignment") {
    val plan = physicalPlan(
      graft.queries.SimilarityQueries.pipelineRagIndex.build(spark, sf))
    // the chunk projection is the ONLY consumer of document text; the IVF
    // assignment runs on the embeddings table and must never touch it
    val textScanIds = "FileScan[^\\n]*?text#(\\d+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(textScanIds.size == 1,
      s"expected exactly 1 text-reading scan, got ids $textScanIds:\n$plan")
    // the learned fixed-k quantizer is plan literals: cell assignment is a
    // zero-shuffle vec_dot projection over the embeddings scan — no
    // centroid join, no argmax aggregate anywhere
    assert(plan.contains("vec_dot"),
      s"cell assignment must score against literal centroids:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct") && !plan.contains("partial_max_by"),
      s"no centroid join or argmax aggregate may exist — centroids are literals:\n$plan")
  }

  test("dedup_substring + trim: one scan lineage; digest table feeds both branches") {
    for (spec <- Seq(graft.queries.DedupQueries.dedupSubstring,
        graft.queries.DedupQueries.dedupSubstringTrim)) {
      val plan = physicalPlan(spec.build(spark, sf))
      // the window/digest table persists once and both the frequency and
      // join-back branches read the cache: exactly one DISTINCT
      // text-reading scan id may exist. (For the trim entry this pins the
      // lineage, not the physical scan count — its documented thin second
      // pass for per-doc token counts shares these exprIds.)
      val textScanIds = "FileScan[^\\n]*?text#(\\d+)".r
        .findAllMatchIn(plan).map(_.group(1)).toSet
      assert(textScanIds.size == 1,
        s"${spec.name}: expected exactly 1 text-scan lineage, got $textScanIds:\n$plan")
      assert(plan.contains("InMemoryTableScan"),
        s"${spec.name}: digest table must be persisted and re-read:\n$plan")
    }
  }

  test("pipeline_corpus_blocklist: the blocklist rides a broadcast hash join") {
    val plan = physicalPlan(
      graft.queries.CorpusPipeline.pipelineCorpusBlocklist.build(spark, sf))
    // the blocked stage must be a map-side broadcast probe on source, never
    // a shuffle of the corpus against a 2-row table
    assert("BroadcastHashJoin [^\\n]*source".r.findAllIn(plan).nonEmpty,
      s"blocklist join must broadcast on source:\n$plan")
  }

  test("corpus_mixture_epochs: map-side copy expansion, broadcast accounting") {
    val plan = physicalPlan(
      graft.queries.CorpusPipeline.corpusMixtureEpochs.build(spark, sf))
    // the copy expansion is a Generate over the scan + broadcast config —
    // upsampling must never shuffle the corpus
    assert(plan.contains("Generate explode"),
      s"expected the explode(sequence(...)) copy expansion:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"epoch weights + per-source counts must broadcast-join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"nothing in the epochs plan may sort-merge on source:\n$plan")
    // accounting combines map-side below its bounded exchange
    val ex = plan.indexOf("Exchange hashpartitioning(source")
    assert(ex >= 0 && plan.substring(ex).contains("partial_"),
      s"per-source counts must combine map-side below their exchange:\n$plan")
  }

  test("pipeline_pretrain: text paid in curation only; bounded histogram; map-side shards") {
    val plan = physicalPlan(
      graft.queries.CorpusPipeline.pipelinePretrain.build(spark, sf))
    // the text column is the 100TB cost, and it is paid entirely inside
    // the CHECKPOINTED curation stage (the curation→selection boundary,
    // where a production run materializes between stages): the selection
    // plan itself must contain NO text-reading scan — the downstream
    // stages run off the checkpoint leaf and pruned documents scans
    val textScanIds = "FileScan[^\\n]*?text#(\\d+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(textScanIds.isEmpty,
      s"selection stage must not re-read text, got scan ids $textScanIds:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"expected the checkpointed curation boundary as a leaf:\n$plan")
    // the budget threshold comes from the bounded score histogram, never a
    // corpus-sized sort: the single-partition exchange consumes the
    // score-keyed aggregate
    val idx = plan.indexOf("Exchange SinglePartition")
    assert(idx >= 0 && plan.substring(idx).contains("HashAggregate(keys=[score"),
      s"single-partition input must be the score histogram:\n$plan")
    // per-shard accounting partial-aggregates before its exchange, so at
    // most (#shards x partitions) rows cross the final shuffle
    val ex = plan.indexOf("Exchange hashpartitioning(shard")
    assert(ex >= 0 && plan.substring(ex).contains("partial_"),
      s"shard accounting must combine map-side below its exchange:\n$plan")
  }

  test("pipeline_pretrain_epochs: no text downstream; map-side expansion; bounded histogram") {
    val plan = physicalPlan(
      graft.queries.CorpusPipeline.pipelinePretrainEpochs.build(spark, sf))
    // same contract as pipeline_pretrain: text is paid inside the
    // checkpointed curation stage, never by the selection plan
    val textScanIds = "FileScan[^\\n]*?text#(\\d+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(textScanIds.isEmpty,
      s"selection stage must not re-read text, got scan ids $textScanIds:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"expected the checkpointed curation boundary as a leaf:\n$plan")
    // the epoch copy expansion is a map-side Generate off the broadcast
    // config join — upsampling must never shuffle the survivor set
    assert(plan.contains("Generate explode"),
      s"expected the explode(sequence(...)) copy expansion:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"nothing may sort-merge on source:\n$plan")
    // budget threshold from the bounded histogram; shard accounting
    // combines map-side
    val idx = plan.indexOf("Exchange SinglePartition")
    assert(idx >= 0 && plan.substring(idx).contains("HashAggregate(keys=[score"),
      s"single-partition input must be the score histogram:\n$plan")
    val ex = plan.indexOf("Exchange hashpartitioning(shard")
    assert(ex >= 0 && plan.substring(ex).contains("partial_"),
      s"shard accounting must combine map-side below its exchange:\n$plan")
  }

  test("corpus_pack_chunks: ONE corpus exchange (the shard window), sort within shard") {
    val plan = physicalPlan(
      graft.queries.PackingQueries.packChunks.build(spark, sf))
    // packing is per-shard by design: exactly one hash exchange co-locates
    // each shard, the window sorts within it, and nothing else shuffles —
    // a global concat order would show up here as a rangepartitioning
    // exchange over the corpus
    val hashEx = "Exchange hashpartitioning\\(shard".r.findAllIn(plan).size
    assert(hashEx == 1, s"expected exactly 1 shard exchange, got $hashEx:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning(pk"),
      s"pack order must never be a global sort:\n$plan")
    assert(plan.contains("Sort [shard"),
      s"expected the within-shard pack-order sort:\n$plan")
  }

  test("corpus_pack_greedy: one shard exchange + in-partition sort feeding the streaming pass") {
    val plan = physicalPlan(
      graft.queries.PackingQueries.packGreedy.build(spark, sf))
    val hashEx = "Exchange hashpartitioning\\(shard".r.findAllIn(plan).size
    assert(hashEx == 1, s"expected exactly 1 shard exchange, got $hashEx:\n$plan")
    // the next-fit recurrence runs as mapPartitions over the sorted
    // stream — global=false sort, O(1) state, no window machinery
    assert(plan.contains("Sort [shard"),
      s"expected the within-partition (shard, pk, doc_id) sort:\n$plan")
    assert(plan.contains("MapPartitions") || plan.contains("SerializeFromObject"),
      s"expected the typed streaming pass:\n$plan")
    assert(!plan.contains("Window"),
      s"the recurrence must not plan as a window:\n$plan")
  }

  test("pipeline_pack: packing runs off the curation checkpoint — no text scan, broadcast mixture") {
    val plan = physicalPlan(
      graft.queries.CorpusPipeline.pipelinePack.build(spark, sf))
    val textScanIds = "FileScan[^\\n]*?text#(\\d+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(textScanIds.isEmpty,
      s"packing stage must not re-read text, got scan ids $textScanIds:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"expected the checkpointed curation boundary as a leaf:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"mixture config must broadcast, not sort-merge:\n$plan")
    // the shard window's exchange is the ONLY hash exchange in the whole
    // build: the (shard, seq_id) accounting aggregate rides the same
    // hashpartitioning(shard) (a subset of its grouping keys), combining
    // map-side with NO second shuffle
    val hashEx = "Exchange hashpartitioning\\(".r.findAllIn(plan).size
    assert(hashEx == 1,
      s"expected exactly 1 hash exchange (the shard window), got $hashEx:\n$plan")
    assert(plan.contains("partial_count"),
      s"window accounting must combine map-side:\n$plan")
  }

  test("corpus_mixture: config + achieved counts broadcast; accounting combines map-side") {
    val plan = physicalPlan(
      graft.queries.CorpusPipeline.corpusMixture.build(spark, sf))
    // the weights config and the bounded per-source count table must both
    // reach the corpus as broadcasts — a shuffled join on source would
    // co-locate every doc of a source (the skew the operator is shaped to
    // avoid)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"weights + per-source counts must broadcast-join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"nothing in the mixture plan may sort-merge on source:\n$plan")
    // per-source accounting partial-aggregates before its exchange, so at
    // most (#sources × partitions) rows ever cross the wire
    val ex = plan.indexOf("Exchange hashpartitioning(source")
    assert(ex >= 0, s"expected the bounded per-source exchange:\n$plan")
    assert(plan.substring(ex).contains("partial_"),
      s"per-source counts must combine map-side below their exchange:\n$plan")
  }

  test("sim_pq_adc_topk: coded scan joins queries without shuffling — only the top-k window and output sort exchange") {
    val p = physicalPlan(SimilarityQueries.simPqAdcTopk.build(spark, sf))
    // the candidate stage is codes × broadcast(queries): a broadcast
    // nested-loop (non-equi vec_id <> q_id), never a shuffle of the corpus
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"ADC scan must broadcast the query batch over the coded corpus:\n$p")
    // encode is a pure map-side projection over literal codebooks: the only
    // SHUFFLE exchanges in the whole plan are the per-query window
    // partitioning and the final presentation sort (BroadcastExchange of
    // the 5-row query batch is not a shuffle)
    val ex = "Exchange (hash|range)partitioning".r.findAllIn(p).size +
      "Exchange SinglePartition".r.findAllIn(p).size
    assert(ex <= 2, s"expected at most window + sort shuffles, got $ex:\n$p")
    // and the window pre-limits map-side: only top-k rows per partition
    // ride the shuffle
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"expected a partial WindowGroupLimit below the top-k shuffle:\n$p")
  }

  test("txt_importance: bounded feature tables broadcast; the corpus never shuffles to score") {
    val p = physicalPlan(TextQueries.txtImportance.build(spark, sf))
    // the 256-bucket weight table (and the 1-row totals) must reach the
    // exploded corpus as broadcasts — at 100 TB a sort-merge here would
    // shuffle every token
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1 &&
      !p.contains("SortMergeJoin"),
      s"weight table must broadcast-join the feature stream:\n$p")
    // the bucket histogram partial-aggregates: ≤ buckets × partitions rows
    // cross its exchange
    val ex = p.indexOf("Exchange hashpartitioning(b")
    assert(ex >= 0, s"expected the bounded per-bucket exchange:\n$p")
    assert(p.substring(ex).contains("partial_"),
      s"bucket counts must combine map-side below their exchange:\n$p")
  }

  test("corpus_order: shard-partitioned windows + broadcast offsets — no global data sort except presentation") {
    val p = physicalPlan(CorpusPipeline.corpusOrder.build(spark, sf))
    assert(p.contains("hashpartitioning(shard"),
      s"the corpus window must partition by shard, never a single global window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded offset table must broadcast back to the corpus:\n$p")
  }

  test("emb_coreset: assignment is a map-side literal argmin — no sort-merge join, no window") {
    // building the spec runs the greedy selection (k−1 TakeOrdered jobs);
    // the RETURNED plan is what executes per action and must stay argmin +
    // bounded aggregation + ≤k-row broadcast meta join
    val p = physicalPlan(SimilarityQueries.embCoreset.build(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"centers are literals — nothing may shuffle-join or window the corpus:\n$p")
    val ex = p.indexOf("Exchange hashpartitioning(center_id")
    assert(ex >= 0, s"expected the per-center count exchange:\n$p")
    assert(p.substring(ex).contains("partial_count"),
      s"population counts must combine map-side below their exchange:\n$p")
  }

  test("corpus_select_persource: per-source cut over the bounded histogram, thresholds broadcast back") {
    val p = physicalPlan(CorpusPipeline.corpusSelectPerSource.build(spark, sf))
    // the per-source cumulative window must consume the (source, score)
    // HASH AGGREGATE (≤ sources × 1001 rows), never corpus rows — the
    // keyed form of the corpus_budget_select law
    val win = p.indexOf("Window")
    assert(win >= 0, s"expected the per-source prefix window:\n$p")
    assert(p.substring(win).contains("HashAggregate(keys=[source"),
      s"window input must be the (source, score) histogram, not raw docs:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the ≤ n_sources threshold table must broadcast to the corpus filter:\n$p")
  }

  test("mm_phash_dedup: first-band-wins dedup is a map-side filter — no pair-key exchange") {
    val p = physicalPlan(MultimodalQueries.mmPhashDedup.build(spark, sf))
    // a DISTINCT over the duplicated candidate stream would shuffle every
    // (doc_a, doc_b, ha, hb) row (measured 6.0s -> 1.5s at sf0.1 when
    // replaced); the lowest-matching-band filter must keep exactly-once
    // semantics without that exchange
    assert(!p.contains("Exchange hashpartitioning(doc_a") &&
      !p.contains("HashAggregate(keys=[doc_a"),
      s"pair dedup must be the first-band filter, not a distinct shuffle:\n$p")
  }

  test("txt_dup_ngrams: gram census combines map-side; shared grams broadcast back at this scale") {
    val p = physicalPlan(TextQueries.txtDupNgrams.build(spark, sf))
    val ex = p.indexOf("Exchange hashpartitioning(gram")
    assert(ex >= 0, s"expected the gram-census exchange:\n$p")
    assert(p.substring(ex).contains("partial_count"),
      s"gram counts must combine map-side below their exchange:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the shared-gram table must broadcast-join back (guard applied at corpus scale):\n$p")
  }

  test("dq_referential: child keys pre-aggregate below every anti-join; no raw-row anti-join") {
    val p = physicalPlan(DataQualityQueries.dqReferential.build(spark, sf))
    // every orphan probe must consume the per-key child aggregate — an
    // anti-join over raw child rows carries |child| rows at 100 TB where
    // the aggregate carries |distinct keys|
    val antis = "LeftAnti".r.findAllMatchIn(p).map(_.start).toList
    assert(antis.size == 5, s"expected 5 anti-joins (one per relationship):\n$p")
    antis.foreach { i =>
      assert(p.substring(i).contains("HashAggregate(keys=[fk"),
        s"anti-join at $i must sit above the per-key child aggregate:\n$p")
    }
    // constant-size parents (nation ×2) broadcast their key sets
    assert("BroadcastHashJoin.*LeftAnti".r.findAllIn(p).size >= 2,
      s"nation-keyed audits must broadcast the parent key set:\n$p")
  }

  test("geo_dbscan: one events scan; adjacency is an equi-join, never a distance cross join") {
    val df = GeoQueries.geoDbscan.build(spark, sf)
    val p = physicalPlan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cell adjacency must be the exploded-offset equi-join:\n$p")
    // the cell aggregate is cached (scope-owned); core selection, the
    // adjacency fan, and border assignment all read the InMemoryRelation —
    // events itself is scanned once. Walk the TREE (not the printed text,
    // whose cached subtrees embed their own FileScan dumps): no file scan
    // may be reachable without crossing a cache boundary.
    assert(p.contains("InMemoryTableScan"),
      s"the cell table must be reused, not recomputed per consumer:\n$p")
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def uncachedFileScans(n: SparkPlan): Int = n match {
      case _: InMemoryTableScanExec => 0 // cache boundary: don't descend
      case a: AdaptiveSparkPlanExec => uncachedFileScans(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => 1
      case other => other.children.map(uncachedFileScans).sum
    }
    assert(uncachedFileScans(df.queryExecution.executedPlan) == 0,
      s"no consumer may bypass the cell cache back to the events scan:\n$p")
    // the build ran ConnectedComponents eagerly (Unmanaged scope):
    // clearCache() reaches SQL-cached relations but NOT the CC loop's
    // RDD-level localCheckpoint blocks — unpersist those too (the
    // Verify.scala convention)
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("txt_bm25: query terms filter the token stream BELOW the tf aggregate (inverted-index shape)") {
    val p = physicalPlan(TextQueries.txtBm25.build(spark, sf))
    val agg = p.indexOf("HashAggregate(keys=[query_id")
    assert(agg >= 0, s"expected the per-(query, doc, term) tf aggregate:\n$p")
    assert(p.substring(agg).contains("BroadcastHashJoin"),
      s"the literal query relation must broadcast-join (and so filter) the exploded tokens BEFORE tf aggregates — the full-vocabulary tf table must never build:\n$p")
  }

  test("events_trajectories: sessionize window and sequence agg share ONE user-keyed exchange") {
    val p = physicalPlan(EventQueries.eventsTrajectories.build(spark, sf))
    // hashpartitioning(user_id) from the window SATISFIES the
    // (user_id, sess) aggregation's clustered distribution (partition
    // keys ⊆ grouping keys), so the groupBy must not re-exchange; the
    // only other exchange is the presentation sort's range partitioning
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"the (user, sess) aggregation must reuse the window's user shuffle:\n$p")
  }

  test("q9_profit: selective dim broadcasts; profit sums combine map-side") {
    val p = physicalPlan(RelationalQueries.q9Profit.build(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"the filtered part dim and nation must broadcast at this scale:\n$p")
    assert(p.contains("partial_sum"),
      s"profit must partial-aggregate before the bounded (nation, year) exchange:\n$p")
  }

  test("sink_partitioned: the type filter resolves to partition pruning, not a row filter") {
    val p = physicalPlan(ConnectorQueries.sinkPartitioned.build(spark, sf))
    assert(p.contains("PartitionFilters:") && p.contains("event_type#"),
      s"the IN filter must prune partition directories at planning:\n$p")
    // the scan must NOT carry event_type as a data filter — pruning
    // replaces row-level filtering entirely for a partition column.
    // (Filter-API form "In(col, ...)" appears only in PushedFilters;
    // PartitionFilters print as expressions, so this matches any position
    // in the pushed list, not just the leading entry.)
    assert(!p.contains("In(event_type"),
      s"a partition column must never fall back to a data-level filter:\n$p")
  }

  test("emb_gram: the 2080-key triangle combines map-side; per-dim sums broadcast back") {
    val p = physicalPlan(SimilarityQueries.embGram.build(spark, sf))
    // the expansion is the NATIVE gram_products expression (primitive long
    // loop) keyed by the single int triangle position — not the interpreted
    // nested-transform lambda pair keyed by (i, j)
    assert(p.contains("gram_products"),
      s"expected the native gram_products expansion in the plan:\n$p")
    val ex = p.indexOf("Exchange hashpartitioning(pos#")
    assert(ex >= 0, s"expected the triangle-position exchange:\n$p")
    val below = p.substring(ex)
    assert(below.contains("partial_count") && below.contains("partial_sum"),
      s"Gramian sums must partial-aggregate in the expansion stage — the exchange carries <= 2080 rows per partition, never N×2080:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"the 64-row per-dim sum table must broadcast onto the triangle twice:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the per-dim sum table is joined twice and must be cached, not recomputed per branch:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("corpus_clf_score: inference is pure map-side — no shuffle before the presentation sort") {
    val p = physicalPlan(CorpusPipeline.corpusClfScore.build(spark, sf))
    // the broadcast-model scan: one documents read, zero hash exchanges,
    // no join, no window — classifying 100 TB must cost exactly one pass
    assert(!p.contains("Exchange hashpartitioning"),
      s"classifier inference must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"inference is a projection, not a join/window:\n$p")
    val scans = "FileScan".r.findAllIn(p).size
    assert(scans == 1, s"expected exactly 1 corpus scan, got $scans:\n$p")
  }

  test("pipeline_pack_ordered: global order from broadcast offsets — bounded shard exchanges, no global data sort") {
    val p = physicalPlan(CorpusPipeline.pipelinePackOrdered.build(spark, sf))
    // selection runs off the checkpointed curation boundary, never
    // re-reading text (the pipeline_pack contract)
    val textScanIds = "FileScan[^\\n]*?text#(\\d+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(textScanIds.isEmpty,
      s"ordered packing must not re-read text, got scan ids $textScanIds:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"expected the checkpointed curation boundary as a leaf:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"mixture config and shard offsets must broadcast, not sort-merge:\n$p")
    // TWO shard exchanges, only ONE corpus-sized: the order window's, plus
    // the per-shard token-total branch — Catalyst prunes the window out of
    // that branch, so it partial-aggregates map-side and its exchange
    // carries <= shards x partitions pre-combined rows (cheaper at scale
    // than caching the corpus-sized windowed set to force exchange reuse)
    val shardEx = "Exchange hashpartitioning\\(shard".r.findAllIn(p).size
    assert(shardEx == 2,
      s"expected the order window + bounded totals shard exchanges, got $shardEx:\n$p")
    assert(p.contains("partial_sum(n_tok"),
      s"per-shard token totals must combine map-side before their exchange:\n$p")
    assert(p.contains("Exchange SinglePartition"),
      s"expected the bounded offset prefix over per-shard totals:\n$p")
    val seqEx = p.indexOf("Exchange hashpartitioning(seq_id")
    assert(seqEx >= 0 && p.substring(seqEx).contains("partial_count"),
      s"global window stats must combine map-side below the seq_id exchange:\n$p")
    // the global order must never plan as a corpus-wide range sort (the
    // presentation orderBy on the bounded seq table is the only range)
    assert(!p.contains("Exchange rangepartitioning(hk"),
      s"the training order must never be a global data sort:\n$p")
  }

  test("txt_bpe_encode: vocab token table broadcasts onto the word stream") {
    // build() runs the 16 training collects eagerly (documented on the
    // QuerySpec); at the smoke SF that is seconds
    val p = physicalPlan(TextQueries.txtBpeEncode.build(spark, sf))
    // tokenize-by-vocabulary: the per-word token table joins the exploded
    // corpus words under the broadcast guard — a shuffle join here would
    // re-shuffle the whole corpus word stream at 100 TB
    assert(p.contains("BroadcastHashJoin"),
      s"the vocab token table must broadcast onto the word stream:\n$p")
    val docEx = p.indexOf("Exchange hashpartitioning(doc_id")
    assert(docEx >= 0 && p.substring(docEx).contains("partial_count"),
      s"per-doc counts must combine map-side below the doc_id exchange:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("sim_ivf_recall: cells cached once; probe broadcasts; no centroid join") {
    val p = physicalPlan(SimilarityQueries.simIvfRecall.build(spark, sf))
    // the persisted cell assignment feeds the candidate join; the truth
    // side's 20 queries and the 1-row totals ride broadcast nested loops —
    // a plain CartesianProduct anywhere means a broadcast guard was lost
    assert(p.contains("InMemoryTableScan"),
      s"the IVF cell assignment must be cached, not recomputed per probe:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"every corpus × small-side product must broadcast:\n$p")
    // the quantizer is literals, so the assignment side contributes NO
    // cross join — only the truth scan's query broadcast and the bounded
    // totals remain, and the candidate probe is a hash join on cid
    assert(!p.contains("partial_max_by"),
      s"cell assignment must be a literal-centroid projection:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the candidate probe must broadcast the bounded query-probe set:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("sim_ivf_probe_stored: staged index scan is partition-pruned to the probed cells") {
    val df = SimilarityQueries.simIvfProbeStored.build(spark, sf)
    val p = physicalPlan(df)
    // the staged postings are cid-partitioned; the probe join must prune
    // unprobed cells AT THE SCAN via dynamic partition pruning — the whole
    // point of consuming the staged artifact is reading nprobe/nlist of it
    assert(p.contains("dynamicpruningexpression"),
      s"expected dynamic partition pruning on the staged cid partitions:\n$p")
    assert(p.contains("PartitionFilters"),
      s"expected partition filters on the staged index scan:\n$p")
    // same probe law as sim_ivf_topk: broadcast query-probe set, hash join
    assert(p.contains("BroadcastHashJoin"),
      s"the probe join must broadcast the bounded query-probe set:\n$p")
    // the lake is consolidated to ONE artifact (the attribute-bearing
    // superset); an attribute-blind consumer must PRUNE the attribute at
    // the scan — the consolidation is free exactly when ReadSchema
    // carries no `source`
    val postings = fileScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(
        _.toString.contains("graft-staged-ragindex-postings")))
    assert(postings.nonEmpty, s"expected the staged postings scan:\n$p")
    assert(postings.forall(f => f.relation.dataSchema.fieldNames.contains("source") &&
        !f.requiredSchema.fieldNames.contains("source")),
      "a plain consumer must read the consolidated artifact with the " +
        s"source attribute pruned from ReadSchema:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("sim_hard_negatives: DPP-pruned staged scan; label screen adds no corpus-sized exchange") {
    val df = SimilarityQueries.simHardNegatives.build(spark, sf)
    val p = physicalPlan(df)
    // mining rides the SAME staged-artifact composition as the probe: the
    // candidate side must stay partition-pruned to the probed cells —
    // attaching the label screen must not have forced a full-lake read
    assert(p.contains("dynamicpruningexpression"),
      s"expected dynamic partition pruning on the staged cid partitions:\n$p")
    assert(p.contains("PartitionFilters"),
      s"expected partition filters on the staged index scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"probe set and the 20-row query-label side must broadcast:\n$p")
    // the positive screen is publication arithmetic over the bounded
    // shortlist — it must never sort-merge the corpus
    assert(!p.contains("SortMergeJoin"),
      s"the label attach must stay a broadcast/hash join, never SMJ:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no all-pairs stage anywhere in mining:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("ret_bm25_stored: static bucket pruning on the staged inverted index; serving never reads text") {
    val df = TextQueries.retBm25Stored.build(spark, sf)
    val p = physicalPlan(df)
    // the literal query workload's buckets are computed at plan time, so
    // pruning must be STATIC partition filters on tb — no subquery needed
    assert(p.contains("PartitionFilters") && p.contains("tb#"),
      s"expected plan-time partition filters on the staged term buckets:\n$p")
    // block-max serving: the surviving impact blocks are ALSO a static
    // partition filter — the bound-pruned block set rides the scan
    assert(p.contains("blk#"),
      s"expected block-max partition filters on the impact blocks:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the term probe must broadcast the bounded query relation:\n$p")
    // the whole point of the staged index: serving never re-tokenizes the
    // corpus, so NO scan in the plan may read a text column
    val all = fileScans(df.queryExecution.executedPlan)
    assert(all.nonEmpty, s"expected file scans in the serving plan:\n$p")
    assert(all.forall(!_.requiredSchema.fieldNames.contains("text")),
      s"the staged-index serving plan must never read document text:\n$p")
    // the artifact is the attribute-bearing superset; the ATTRIBUTE-BLIND
    // serve must prune `source` at the scan (the consolidated-artifact law)
    val postings = all.filter(_.relation.location.rootPaths.exists(
      _.toString.contains("graft-staged-lexindex-postings")))
    assert(postings.nonEmpty, s"expected the staged postings scan:\n$p")
    assert(postings.forall(f => f.relation.dataSchema.fieldNames.contains("source") &&
        !f.requiredSchema.fieldNames.contains("source")),
      s"plain lexical serving must prune the source attribute:\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("ret_bm25_filtered: blocklist predicate pushed into the pruned postings scan") {
    val df = TextQueries.retBm25Filtered.build(spark, sf)
    val p = physicalPlan(df)
    assert(p.contains("PartitionFilters") && p.contains("tb#"),
      s"expected plan-time partition filters on the staged term buckets:\n$p")
    // the source predicate must land on the postings scan itself (the
    // attribute is data IN the artifact — no join exists to evaluate it)
    assert(p.contains("PushedFilters") && p.contains("Not(In(source"),
      s"expected the blocklist predicate pushed into the postings scan:\n$p")
    assert(fileScans(df.queryExecution.executedPlan)
        .forall(!_.requiredSchema.fieldNames.contains("text")),
      s"filtered lexical serving must never read document text:\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("ret_rrf_stored: both hybrid arms serve pruned from their staged artifacts") {
    val df = TextQueries.retRrfStored.build(spark, sf)
    val p = physicalPlan(df)
    // lexical arm: plan-time bucket filters on the staged inverted index
    assert(p.contains("PartitionFilters") && p.contains("tb#"),
      s"expected static bucket pruning on the lexical postings:\n$p")
    // dense arm: DPP on the staged cid partitions via the broadcast probe
    assert(p.contains("dynamicpruningexpression"),
      s"expected dynamic partition pruning on the staged IVF postings:\n$p")
    // neither arm may re-read corpus text
    assert(fileScans(df.queryExecution.executedPlan)
        .forall(!_.requiredSchema.fieldNames.contains("text")),
      s"all-staged hybrid serving must never read document text:\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("sim_ivfpq_probe_stored: DPP prunes the staged code scan; the serving artifact holds no floats") {
    val df = SimilarityQueries.simIvfpqProbeStored.build(spark, sf)
    val p = physicalPlan(df)
    // probing nprobe of nlist cells must prune unprobed CODE partitions at
    // the scan, exactly like the float-postings probe
    assert(p.contains("dynamicpruningexpression"),
      s"expected dynamic partition pruning on the staged code partitions:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the probe join must broadcast the bounded query-probe set:\n$p")
    // the PQ memory law, pinned BY SCHEMA: the staged serving artifact
    // holds codes only, so the serving scan physically cannot read a
    // float column — walk every scan, descending into cached subtrees
    val codeScans = fileScans(df.queryExecution.executedPlan)
      .filter(_.requiredSchema.fieldNames.contains("packed"))
    assert(codeScans.nonEmpty, s"expected the staged code-table scan:\n$p")
    assert(codeScans.forall(f =>
        !f.relation.dataSchema.fieldNames.contains("embedding")),
      s"the staged serving artifact must hold codes only — no float column:\n$p")
    // the append-compatibility contract: the artifact's on-disk packed
    // type is the INT pqPack emits — pqPostingsRow shares the projection,
    // so a cast change here would fork the streaming append path's schema
    assert(codeScans.forall(_.relation.dataSchema("packed").dataType ==
        org.apache.spark.sql.types.IntegerType),
      s"the packed-code column must stay INT (the pqPack/pqPostingsRow law):\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("pipeline_rag_index_inc: increment chunks only the new batch; merge is a small outer join") {
    val p = physicalPlan(SimilarityQueries.pipelineRagIndexInc.build(spark, sf))
    // the staged v1 manifest arrives as a parquet scan (no recomputation of
    // the history curation), and the delta side's documents scan carries
    // the doc_id % 5 = 4 pushdown — the increment never re-chunks history
    val textScans = "FileScan[^\\n]*?text#(\\d+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(textScans.size == 1,
      s"the increment must chunk ONLY the new batch (one text scan):\n$p")
    assert("\\(doc_id#\\d+L? % 5\\) = 4".r.findAllIn(p).nonEmpty,
      s"new-batch filter must reach the documents scan:\n$p")
    // bonus from constraint propagation through the doc_id = vec_id join:
    // the assignment side scans only NEW vectors too
    assert("\\(vec_id#\\d+L? % 5\\) = 4".r.findAllIn(p).nonEmpty,
      s"the % 5 = 4 constraint must propagate to the embeddings scan:\n$p")
  }

  test("sim_ivf_filtered: blocklist predicate pushed into the DPP-pruned postings scan; no metadata join") {
    val df = SimilarityQueries.simIvfFiltered.build(spark, sf)
    val p = physicalPlan(df)
    // the predicate rides the staged artifact: it must land in the scan's
    // pushed filters, not in a query-time join against documents
    assert("PushedFilters: \\[[^\\]]*source".r.findFirstIn(p).isDefined,
      s"the source blocklist must push into the postings scan:\n$p")
    assert(p.contains("dynamicpruningexpression"),
      s"probing must still prune unprobed cid partitions at the scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the probe join must broadcast the bounded query-probe set:\n$p")
    // exactly one join in the serving plan (probe ⋈ postings): a second
    // one would be the corpus-sized metadata join this design avoids
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def joins(n: SparkPlan): Int = n match {
      case a: AdaptiveSparkPlanExec => joins(a.executedPlan)
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => 1 + j.children.map(joins).sum
      case other => other.children.map(joins).sum
    }
    assert(joins(df.queryExecution.executedPlan) == 1,
      s"filtered serving must not add a query-time metadata join:\n$p")
  }

  test("pipeline_rag_context: DPP-pruned probe; the shortlist broadcasts onto the token projection") {
    val df = SimilarityQueries.pipelineRagContext.build(spark, sf)
    val p = physicalPlan(df)
    // serving reads the staged postings under dynamic partition pruning
    assert(p.contains("dynamicpruningexpression"),
      s"the context probe must prune unprobed cid partitions:\n$p")
    // both joins broadcast a bounded side (probe set; ranked shortlist) —
    // the corpus-sized documents token projection never shuffles
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no corpus-sized shuffle join belongs in context assembly:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"bounded sides must broadcast:\n$p")
    // WHICH side broadcasts is the pin that matters: at the test SF the
    // documents projection is small enough that Spark would happily
    // broadcast IT by size — but at corpus scale that side is 100 TB, so
    // no broadcast subtree may contain the documents text scan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    def bcastSubtrees(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => bcastSubtrees(a.executedPlan)
      case b: BroadcastExchangeExec => Seq(b)
      case other => other.children.flatMap(bcastSubtrees)
    }
    def textScans(n: SparkPlan): Int = n match {
      case a: AdaptiveSparkPlanExec => textScans(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        if (f.requiredSchema.fieldNames.contains("text")) 1 else 0
      case other => other.children.map(textScans).sum
    }
    val offending = bcastSubtrees(df.queryExecution.executedPlan)
      .filter(t => textScans(t) > 0)
    assert(offending.isEmpty,
      s"the corpus-sized token projection must be the PROBE side, never broadcast:\n$p")
  }

  test("pipeline_rag_index_refit: one staged-postings scan, no raw-corpus re-read, literal v2 re-assignment") {
    val df = SimilarityQueries.pipelineRagIndexRefit.build(spark, sf)
    val p = physicalPlan(df)
    // v2 assignment is a literal-centroid projection over the INDEX
    // artifact — the raw embeddings table is never re-read in-plan (the
    // v2 fit collapsed to driver literals at train time), so the only
    // embedding-bearing scan is the staged postings', exactly once
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def embScans(n: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = n match {
      case im: InMemoryTableScanExec => embScans(im.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => embScans(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        if (f.requiredSchema.fieldNames.contains("embedding")) Seq(f) else Nil
      case other => other.children.flatMap(embScans)
    }
    // the walker re-visits one cached plan per consumer, so count DISTINCT
    // scan locations, not occurrences
    val scans = embScans(df.queryExecution.executedPlan)
    val locs = scans.map(_.relation.location.rootPaths.mkString(",")).distinct
    assert(scans.nonEmpty && locs.size == 1,
      s"expected exactly one embedding-bearing scan location (the staged postings), got $locs:\n$p")
    assert(scans.forall(_.relation.location.rootPaths.exists(
        _.toString.contains("graft-staged-ragindex-postings"))),
      s"the migration must read the STAGED index artifact, not the corpus:\n$p")
    assert(!p.contains("partial_max_by"),
      s"v2 re-assignment must be a literal-centroid projection:\n$p")
    // the migration table feeds both per-version groupings — cached once
    assert(p.contains("InMemoryTableScan"),
      s"the migration table must be cached across its consumers:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("dedup_linkage: blocked equi-join, never all-pairs; candidate table cached for both consumers") {
    val df = DedupQueries.dedupLinkage.build(spark, sf)
    val p = physicalPlan(df)
    // the whole point of blocking: candidate generation is an equi-join on
    // the block key — a Levenshtein cross join over feed × catalog would be
    // O(N²) at corpus scale
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must be the block-key equi-join:\n$p")
    // the blocked candidate table feeds BOTH the per-feed count and the
    // verify stage — it must be cached, not rebuilt (re-running the block
    // join) per consumer. Walk the tree: the only docs scan reachable
    // outside the cache is the feed spine's doc_id-only read.
    assert(p.contains("InMemoryTableScan"),
      s"the candidate table must be reused across count + verify:\n$p")
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def uncachedTextScans(n: SparkPlan): Int = n match {
      case _: InMemoryTableScanExec => 0 // cache boundary: don't descend
      case a: AdaptiveSparkPlanExec => uncachedTextScans(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        if (f.schema.fieldNames.contains("text")) 1 else 0
      case other => other.children.map(uncachedTextScans).sum
    }
    assert(uncachedTextScans(df.queryExecution.executedPlan) == 0,
      s"only the cached candidate table may read text; the feed spine is doc_id-only:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("sim_ivf_stats: the audit reads index METADATA only — zero data columns off the staged scan") {
    val df = SimilarityQueries.simIvfStats.build(spark, sf)
    val p = physicalPlan(df)
    // per-cell counts need only the partition column: the staged postings
    // scan must project NO data columns (ReadSchema: struct<>) — at 10⁹
    // vectors the audit reads listings + row counts, never an embedding
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def dataColumnsRead(n: SparkPlan): Seq[Int] = n match {
      case _: InMemoryTableScanExec => Nil // cache boundary
      case a: AdaptiveSparkPlanExec => dataColumnsRead(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        Seq(f.requiredSchema.size)
      case other => other.children.flatMap(dataColumnsRead)
    }
    // the cached per-cell table hides its own build scan; walk INTO the
    // cache's child plan (descending through AdaptiveSparkPlanExec, whose
    // inner plan is not a `children` member) so the pin covers the scan
    // that actually runs
    def cachedPlans(n: SparkPlan): Seq[SparkPlan] = n match {
      case im: InMemoryTableScanExec => Seq(im.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => cachedPlans(a.executedPlan)
      case other => other.children.flatMap(cachedPlans)
    }
    val perCellScans = cachedPlans(df.queryExecution.executedPlan)
      .flatMap(dataColumnsRead)
    assert(perCellScans.nonEmpty && perCellScans.forall(_ == 0),
      s"staged-index scan must read zero data columns, got $perCellScans:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the ≤nlist-row count table must be cached for per-cell rows + totals:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("dedup_lsh_recall: both measurement arms are cached; no unblocked pair generation") {
    val p = physicalPlan(DedupQueries.dedupLshRecall.build(spark, sf))
    // truth (exact blocked Jaccard) and cand (banded pairs) each feed two
    // consumers (own count + the hit join) — recomputing either would run
    // the corpus-sized pair generation twice
    val caches = "InMemoryTableScan".r.findAllIn(p).size
    assert(caches >= 4, // truth ×2 readers + cand ×2 readers
      s"both pair arms must be cached across their two consumers, got $caches cache reads:\n$p")
    // every pair join is blocked/keyed; the only products are the 1-row
    // summary aggregates meeting at the end
    assert(!p.contains("CartesianProduct"),
      s"pair generation must stay blocked, never all-pairs:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("sim_bitext_mine: bounded top-k probes of the staged index; no corpus×corpus product survives") {
    val p = physicalPlan(SimilarityQueries.simBitextMine.build(spark, sf))
    // the CCMatrix property: candidates come from per-query retrieval
    // through the index — the scoring join is the probe law's equi-join
    // on cid against the STAGED postings, never an |A|×|B| product, and
    // probe assignment stays the zero-shuffle literal-centroid projection
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from cid-keyed probes, never a cross product:\n$p")
    assert(!p.contains("partial_max_by"),
      s"probe assignment must be a literal-centroid projection:\n$p")
    // everything downstream of the probes rides the BOUNDED |A|·K
    // candidate table — cached once, read by the neighborhood average,
    // the margin stage, and the candidate count
    val caches = "InMemoryTableScan".r.findAllIn(p).size
    assert(caches >= 3,
      s"the bounded candidate lists must be cached across their three consumers, got $caches:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("dq_expectations: the whole rule suite costs one fused scan — no join, no shuffle-per-rule") {
    val p = physicalPlan(DataQualityQueries.dqExpectations.build(spark, sf))
    // 8 rules (or 800) compile to conditional counters in ONE aggregation
    // pass: exactly one lineitem scan, map-side partial aggregation, and no
    // join/window anywhere — the naive loop's scan-per-rule is the shape
    // this entry exists to rule out
    val scans = "FileScan".r.findAllIn(p).size
    assert(scans == 1, s"expected exactly 1 lineitem scan for all rules, got $scans:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"the suite is a fused aggregation, not a join/window:\n$p")
    assert(p.contains("partial"),
      s"rule counters must partial-aggregate map-side:\n$p")
  }

  test("emb_outliers: k-row moments broadcast; the cached assignment feeds both consumers") {
    val df = SimilarityQueries.embOutliers.build(spark, sf)
    val p = physicalPlan(df)
    // the audit join carries a ≤k-row moment table — it must broadcast,
    // never shuffle the corpus-sized assignment to meet it
    assert(p.contains("BroadcastHashJoin"),
      s"the per-cluster moment table must broadcast onto the assignment:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"nothing may shuffle-join or window the corpus for a k-row audit:\n$p")
    // the quantized assignment is scope-cached and read by BOTH the moment
    // aggregation and the audit join — no consumer recomputes the k-means
    // distance scan. Walk the tree: cached subtrees embed their own
    // FileScan dumps in the printed text.
    assert(p.contains("InMemoryTableScan"),
      s"the assignment must be cached once for both consumers:\n$p")
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def uncachedFileScans(n: SparkPlan): Int = n match {
      case _: InMemoryTableScanExec => 0 // cache boundary: don't descend
      case a: AdaptiveSparkPlanExec => uncachedFileScans(a.executedPlan)
      case _: org.apache.spark.sql.execution.FileSourceScanExec => 1
      case other => other.children.map(uncachedFileScans).sum
    }
    assert(uncachedFileScans(df.queryExecution.executedPlan) == 0,
      s"no consumer may bypass the assignment cache back to the embeddings scan:\n$p")
  }

  test("corpus_mixture_temperature: one documents scan; bounded source table cached; totals broadcast back") {
    val df = CorpusPipeline.corpusMixtureTemperature.build(spark, sf)
    val p = physicalPlan(df)
    // the only corpus-sized work is the per-source token-mass aggregation —
    // it must combine map-side below its exchange
    val ex = p.indexOf("Exchange hashpartitioning(source")
    assert(ex >= 0, s"expected the per-source mass exchange:\n$p")
    assert(p.substring(ex).contains("partial_"),
      s"token masses must partial-aggregate map-side below the exchange:\n$p")
    // the 1-row totals join back to the ≤n_sources weight table as a
    // broadcast — no corpus row is ever involved downstream of the agg
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the totals row must broadcast onto the bounded weight table:\n$p")
    // the weight table is scope-cached and feeds both the totals agg and
    // the final projection — documents is scanned exactly once
    assert(p.contains("InMemoryTableScan"),
      s"the weight table must be cached for both consumers:\n$p")
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def uncachedFileScans(n: SparkPlan): Int = n match {
      case _: InMemoryTableScanExec => 0 // cache boundary: don't descend
      case a: AdaptiveSparkPlanExec => uncachedFileScans(a.executedPlan)
      case _: org.apache.spark.sql.execution.FileSourceScanExec => 1
      case other => other.children.map(uncachedFileScans).sum
    }
    assert(uncachedFileScans(df.queryExecution.executedPlan) == 0,
      s"every consumer must read the cached weight table, not rescan documents:\n$p")
  }

  test("pipeline_rag_index_del: staged manifest read not rebuilt; blocked docs via broadcast source join") {
    val df = SimilarityQueries.pipelineRagIndexDel.build(spark, sf)
    val p = physicalPlan(df)
    // the delete arm selects blocked docs with the shared broadcast
    // blocklist relation (the pipeline_corpus_blocklist law) — never an
    // unbroadcast shuffle of the corpus to meet a 2-row list
    assert(p.contains("BroadcastHashJoin"),
      s"the blocklist must broadcast onto the documents scan:\n$p")
    // the FULL arm reads the staged manifest artifact; documents text is
    // scanned exactly once — by the delete arm. Walk the tree and count
    // documents scans (cached subtrees embed their own FileScan dumps in
    // the printed text, so count on the plan, not the string).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def docScans(n: SparkPlan): Int = n match {
      case a: AdaptiveSparkPlanExec => docScans(a.executedPlan)
      case im: InMemoryTableScanExec => docScans(im.relation.cachedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        if (f.relation.location.rootPaths.exists(_.toString.contains("documents"))) 1 else 0
      case other => other.children.map(docScans).sum
    }
    assert(docScans(df.queryExecution.executedPlan) == 1,
      s"deletion must cost one BLOCKED-docs scan, never a corpus rebuild:\n$p")
  }

  /** Walk a physical tree WITHOUT descending into cached subtrees —
    * a FileSourceScanExec found here is an UN-cached corpus re-read. */
  private def topLevelScans(n: org.apache.spark.sql.execution.SparkPlan,
      table: String): Int = n match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      topLevelScans(a.executedPlan, table)
    case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => 0
    case f: org.apache.spark.sql.execution.FileSourceScanExec =>
      if (f.relation.location.rootPaths.exists(_.toString.contains(table))) 1 else 0
    case other => other.children.map(topLevelScans(_, table)).sum
  }

  test("pipeline_rag_purge: touched-cell discovery reads source only, predicate pushed; diff joins broadcast") {
    import graft.operators.CacheScope
    // the discovery probe — the one corpus-sized input of the purge: the
    // blocklist predicate must land in the artifact scan's pushed filters
    // and the scan must read NO vector bytes (source + the cid partition
    // column only)
    val probe = SimilarityQueries.purgeTouchedCells(spark, sf, CacheScope.Unmanaged)
    val pp = physicalPlan(probe)
    assert("PushedFilters: \\[[^\\]]*source".r.findFirstIn(pp).isDefined,
      s"the blocklist predicate must push into the postings scan:\n$pp")
    val postings = fileScans(probe.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(
        _.toString.contains("graft-staged-ragindex-postings")))
    assert(postings.nonEmpty, s"expected the staged postings scan:\n$pp")
    assert(postings.forall(_.requiredSchema.fieldNames.sameElements(Array("source"))),
      s"discovery must read the source attribute only — never the vectors:\n$pp")
    // the diff itself: one broadcast join of two ≤nlist-row aggregates
    val diff = SimilarityQueries.pipelineRagPurge.build(spark, sf)
    val pd = physicalPlan(diff)
    assert(!pd.contains("SortMergeJoin") && !pd.contains("CartesianProduct"),
      s"the per-cell diff joins two bounded manifests — broadcast, never a shuffle join:\n$pd")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("pipeline_rag_codes_compact: the gate reads back the artifact's native layout") {
    import graft.operators.CacheScope
    val df = SimilarityQueries.pipelineRagCodesCompact.build(spark, sf)
    val p = physicalPlan(df)
    val lakeScans = fileScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(
        _.toString.contains("graft-staged-ragindex-codes-hist")))
    assert(lakeScans.nonEmpty, s"the gate must read the compacted lake from disk:\n$p")
    // the compacted lake keeps the artifact's append-compatibility
    // contract: packed stays the INT pqPack emits (the pqPostingsRow law)
    assert(lakeScans.forall(_.relation.dataSchema("packed").dataType ==
        org.apache.spark.sql.types.IntegerType),
      s"the compacted lake's packed column must stay INT:\n$p")
    assert(lakeScans.forall(f =>
        !f.relation.dataSchema.fieldNames.contains("embedding")),
      s"the compacted serving lake holds codes only — no float column:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("dq_release_ladder: every rung folds the CACHED finest class table — zero corpus re-reads") {
    val df = DataQualityQueries.dqReleaseLadder.build(spark, sf)
    val p = physicalPlan(df)
    // five rungs × (class stats + TVD grid) — yet the customer table is
    // scanned exactly once, into the cached finest (segment, bucket,
    // nation) table every rung folds; an un-cached top-level customer
    // scan means a rung rebuilt its classes from the corpus
    assert(topLevelScans(df.queryExecution.executedPlan, "customer") == 0,
      s"every rung must fold the cached finest class table:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the finest class table must be cached for its rung consumers:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"rung grids join bounded class/nation tables — broadcast only:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("dq_release_apply: the shipped release is one fold of the cached class table") {
    val df = DataQualityQueries.dqReleaseApply.build(spark, sf)
    // guard the -1 sentinel first: an empty release is a LocalRelation
    // whose plan would fail the cache assert with a misleading message
    assert(df.limit(1).count() == 1,
      "fixture must clear some rung — a -1 sentinel ships an empty release " +
        "and this pin has no fold plan to check")
    val p = physicalPlan(df)
    // the ladder decision already ran (bounded collect at build); the
    // RELEASE plan itself must fold the cached finest table, never
    // rescan the corpus
    assert(topLevelScans(df.queryExecution.executedPlan, "customer") == 0,
      s"the release must fold the cached finest class table:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the finest class table must be cached:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("dq_tcloseness_emd: folds and grid ride the cached class table — zero corpus re-reads") {
    val df = DataQualityQueries.dqTclosenessEmd.build(spark, sf)
    val p = physicalPlan(df)
    assert(topLevelScans(df.queryExecution.executedPlan, "customer") == 0,
      s"class sizes, bucket histogram, total, and grid must all fold the cached class table:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the finest class table must be cached:\n$p")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("ret_bm25_inc: the union serve keeps static bucket AND impact-block pruning on both halves; no text") {
    val df = TextQueries.retBm25Inc.build(spark, sf)
    val p = physicalPlan(df)
    // the absorb story: bounds merged by sidecar arithmetic, so the
    // union plan prunes exactly like a monolithic lake — buckets and
    // surviving impact blocks ride both halves' scans statically
    assert(p.contains("PartitionFilters") && p.contains("tb#"),
      s"expected plan-time bucket filters on the union scan:\n$p")
    assert(p.contains("blk#"),
      s"expected block-max partition filters on the union scan:\n$p")
    val scans = fileScans(df.queryExecution.executedPlan)
    assert(scans.exists(_.relation.location.rootPaths.exists(
        _.toString.contains("staged-lexindex-postings-hist"))) &&
      scans.exists(_.relation.location.rootPaths.exists(
        _.toString.contains("staged-lexindex-postings-delta"))),
      s"both halves must appear as pruned scans:\n$p")
    assert(scans.forall(!_.requiredSchema.fieldNames.contains("text")),
      s"the union serve must never read document text:\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("ret_bm25_served_mutated: serves ONLY the mutated lake + its sidecar, statically pruned, no text") {
    val df = TextQueries.retBm25ServedMutated.build(spark, sf)
    val p = physicalPlan(df)
    // the literal workload's buckets prune the MUTATED lake statically
    assert(p.contains("PartitionFilters") && p.contains("tb#"),
      s"expected plan-time bucket filters on the mutated lake scan:\n$p")
    // the takedown must not cost the serve its block-max pruning: the
    // bound-surviving impact blocks ride the scan as static partition
    // filters exactly as on the pristine staged index
    assert(p.contains("blk#"),
      s"expected block-max partition filters on the mutated lake scan:\n$p")
    val scans = fileScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, s"expected file scans in the serving plan:\n$p")
    // the whole point of the entry: the SERVING plan reads the mutated
    // replica (and its _stats sidecar) — never the pristine artifacts,
    // never corpus text (mutation jobs ran at build, outside this plan)
    assert(scans.forall(_.relation.location.rootPaths.forall(
        _.toString.contains("graft-staged-lexindex-postings-histpc"))),
      s"mutated-lake serving must read only the histpc replica + sidecar:\n$p")
    assert(scans.forall(!_.requiredSchema.fieldNames.contains("text")),
      s"mutated-lake serving must never read document text:\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("ret_phrase_stored: static bucket pruning on the positional lake; no position explode, no text") {
    val df = TextQueries.retPhraseStored.build(spark, sf)
    val p = physicalPlan(df)
    assert(p.contains("PartitionFilters") && p.contains("tb#"),
      s"expected plan-time bucket filters on the positional postings scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the phrase term relation must broadcast:\n$p")
    // adjacency is in-row array arithmetic over the collected per-term
    // arrays — a Generate (explode) of positions would shuffle a
    // token-scale stream the build law deliberately avoids
    assert(!p.contains("Generate"),
      s"phrase adjacency must never explode the position arrays:\n$p")
    assert(fileScans(df.queryExecution.executedPlan)
        .forall(!_.requiredSchema.fieldNames.contains("text")),
      s"phrase serving must never read document text:\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("ret_proximity_stored: static bucket pruning; two-pointer scoring never explodes positions") {
    val df = TextQueries.retProximityStored.build(spark, sf)
    val p = physicalPlan(df)
    assert(p.contains("PartitionFilters") && p.contains("tb#"),
      s"expected plan-time bucket filters on the positional postings scan:\n$p")
    // min-dist and the slop count are the native O(tf_a+tf_b) two-pointer
    // expressions — a Generate would shuffle token-scale position rows
    assert(p.contains("pos_mindist") && p.contains("pos_within"),
      s"proximity must score through the linear native expressions:\n$p")
    assert(!p.contains("Generate"),
      s"proximity scoring must never explode the position arrays:\n$p")
    assert(fileScans(df.queryExecution.executedPlan)
        .forall(!_.requiredSchema.fieldNames.contains("text")),
      s"proximity serving must never read document text:\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("sim_ivf_served_purged: DPP prunes the purged lake; the attribute column is not read") {
    val df = SimilarityQueries.simIvfServedPurged.build(spark, sf)
    val p = physicalPlan(df)
    assert(p.contains("dynamicpruningexpression"),
      s"expected dynamic partition pruning on the purged lake's cid partitions:\n$p")
    val scans = fileScans(df.queryExecution.executedPlan)
    val lakeScans = scans.filter(_.relation.location.rootPaths.exists(
      _.toString.contains("graft-staged-ragindex-postings-purge")))
    assert(lakeScans.nonEmpty, s"expected the purged postings lake scan:\n$p")
    // attribute-blind serving prunes `source` at the scan (the purge
    // already enforced the blocklist on the bytes)
    assert(lakeScans.forall(!_.requiredSchema.fieldNames.contains("source")),
      s"purged-lake serving must prune the source attribute:\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("sim_ivfpq_served_mutated: DPP prunes the mutated code lake; serving reads only packed codes") {
    val df = SimilarityQueries.simIvfpqServedMutated.build(spark, sf)
    val p = physicalPlan(df)
    assert(p.contains("dynamicpruningexpression"),
      s"expected dynamic partition pruning on the mutated code partitions:\n$p")
    val lakeScans = fileScans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(
        _.toString.contains("graft-staged-ragindex-codes-histpc")))
    assert(lakeScans.nonEmpty, s"expected the mutated code lake scan:\n$p")
    // the compressed artifact holds no float column; the serve must read
    // exactly the key + packed code
    assert(lakeScans.forall(_.requiredSchema.fieldNames.toSet == Set("vec_id", "packed")),
      s"mutated-code serving must read only (vec_id, packed):\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("ret_phrase_served_mutated: serves ONLY the mutated positional lake, pruned, no text") {
    val df = TextQueries.retPhraseServedMutated.build(spark, sf)
    val p = physicalPlan(df)
    assert(p.contains("PartitionFilters") && p.contains("tb#"),
      s"expected plan-time bucket filters on the mutated positional lake scan:\n$p")
    val scans = fileScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, s"expected file scans in the serving plan:\n$p")
    // the SERVING plan reads only the purged+compacted replica — never
    // the pristine positional artifact, never corpus text (the mutation
    // jobs ran at build, outside this plan)
    assert(scans.forall(_.relation.location.rootPaths.forall(
        _.toString.contains("graft-staged-lexindex-postings-pos-histpc"))),
      s"mutated-positional serving must read only the pos-histpc replica:\n$p")
    assert(scans.forall(!_.requiredSchema.fieldNames.contains("text")),
      s"mutated-positional serving must never read document text:\n$p")
    assert(!p.contains("Generate"),
      s"phrase adjacency must never explode the position arrays:\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("mm_crossmodal_filtered: the blocklist predicate is PUSHED into the pruned image-lake scan") {
    val df = MultimodalQueries.mmCrossmodalFiltered.build(spark, sf)
    val p = physicalPlan(df)
    assert(p.contains("dynamicpruningexpression"),
      s"expected dynamic partition pruning on the image lake's cid partitions:\n$p")
    val lakeScans = fileScans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(
        _.toString.contains("graft-staged-crossmodal-postings")))
    assert(lakeScans.nonEmpty, s"expected the staged image-lake scan:\n$p")
    // the denormalized source attribute carries the predicate to the scan
    assert(lakeScans.forall(_.dataFilters.exists(_.toString.contains("source"))),
      s"the source blocklist predicate must push into the image-lake scan:\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("mm_crossmodal_served_mutated: serves ONLY the mutated image-lake replica") {
    val df = MultimodalQueries.mmCrossmodalServedMutated.build(spark, sf)
    val p = physicalPlan(df)
    assert(p.contains("dynamicpruningexpression"),
      s"expected dynamic partition pruning on the mutated image partitions:\n$p")
    val scans = fileScans(df.queryExecution.executedPlan)
    val lakeScans = scans.filter(_.relation.location.rootPaths.exists(
      _.toString.contains("graft-staged-crossmodal-postings-histpc")))
    assert(lakeScans.nonEmpty, s"expected the mutated image-lake scan:\n$p")
    // attribute-blind serving: the mutation already enforced the
    // blocklist on the bytes, so the serve prunes the source column
    assert(lakeScans.forall(!_.requiredSchema.fieldNames.contains("source")),
      s"mutated-lake serving must prune the source attribute:\n$p")
    // and no scan reads the PRISTINE lake (its path lacks the -histpc
    // suffix — match exactly the parent dir segment)
    assert(scans.forall(_.relation.location.rootPaths.forall(pp =>
        !pp.toString.matches(".*graft-staged-crossmodal-postings[0-9].*"))),
      s"mutated-lake serving must not touch the pristine image lake:\n$p")
    spark.sharedState.cacheManager.clearCache()
  }

  test("mm_crossmodal_stored: DPP prunes the staged image lake via the text-query probe set") {
    val df = MultimodalQueries.mmCrossmodalStored.build(spark, sf)
    val p = physicalPlan(df)
    assert(p.contains("dynamicpruningexpression"),
      s"expected dynamic partition pruning on the cross-modal lake's cid partitions:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded text-query probe set must broadcast:\n$p")
    // the candidate tower must come from the staged lake — the serving
    // plan never re-decodes media payloads (no typed map stage)
    assert(fileScans(df.queryExecution.executedPlan).exists(
        _.relation.location.rootPaths.exists(
          _.toString.contains("graft-staged-crossmodal-postings"))),
      s"expected the staged cross-modal postings scan:\n$p")
    assert(!p.contains("DeserializeToObject"),
      s"cross-modal serving must not re-run the image encoder:\n$p")
    spark.sharedState.cacheManager.clearCache()
  }
}
