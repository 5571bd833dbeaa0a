package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.queries.Tables

/** Storage-layout features that carry the 100 TB story: bucketed co-located
  * joins (shuffle-free SMJ), partitioned writes with partition pruning, and
  * multi-format source/sink round-trips (the reference hardcodes Cassandra;
  * this engine is DSv2-agnostic). */
class StorageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfSmoke

  test("bucketed tables join without any exchange (co-located SMJ)") {
    // warehouse dir is a static conf, set at session creation (TestSpark)
    val orders = Tables(spark, sf, "orders")
    val customer = Tables(spark, sf, "customer")
    orders.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_b")
    customer.write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      // the join itself must not shuffle either side: only the final
      // aggregation exchange is allowed
      val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinPart.contains("Exchange hashpartitioning"),
        s"bucketed join must be exchange-free below the join:\n$plan")
      // correctness: same result as the unbucketed join
      val expect = orders.join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").count()
      assert(joined.orderBy("c_mktsegment").collect().toSeq ==
        expect.orderBy("c_mktsegment").collect().toSeq)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("partitioned write + partition pruning reaches the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    Tables(spark, sf, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    val read = spark.read.parquet(dir).filter(col("day") === "2024-01-05")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("2024-01-05"),
      s"day filter must prune partitions:\n$plan")
    // pruned read matches a post-hoc filter of the full table
    val full = Tables(spark, sf, "events")
      .filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-05").count()
    assert(read.count() == full)
  }

  test("LocationsSource validates schema and coerces epoch-ms timestamps") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-loc").toString
    Seq((47.6, -122.3, "gps", "alice", 1700000000000L))
      .toDF("latitude", "longitude", "source", "user_id", "timestamp")
      .write.mode("overwrite").parquet(dir)
    val got = graft.sources.LocationsSource.read(spark, dir)
    assert(got.schema == graft.sources.LocationsSource.schema)
    assert(got.count() == 1)
    // missing column fails fast with a readable message
    val badDir = java.nio.file.Files.createTempDirectory("graft-badloc").toString
    Seq((1.0, 2.0)).toDF("latitude", "longitude").write.mode("overwrite").parquet(badDir)
    val e = intercept[IllegalArgumentException] {
      graft.sources.LocationsSource.read(spark, badDir)
    }
    assert(e.getMessage.contains("missing column(s)"))
  }

  test("ParquetCompactor merges fragmented files without changing data") {
    val frag = java.nio.file.Files.createTempDirectory("graft-frag").toString
    val out = java.nio.file.Files.createTempDirectory("graft-compact").toString
    Tables(spark, sf, "events").repartition(37).write.mode("overwrite").parquet(frag)
    val before = new java.io.File(frag).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before == 37)
    graft.sources.ParquetCompactor.compact(spark, frag, out, targetFileMB = 256)
    val after = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after < before, s"expected fewer files, got $after")
    assert(spark.read.parquet(out).count() == Tables(spark, sf, "events").count())
  }

  test("compactZOrdered clusters files into disjoint Morton key ranges") {
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    val in = java.nio.file.Files.createTempDirectory("graft-zin").toString
    val out = java.nio.file.Files.createTempDirectory("graft-zout").toString
    // synthetic locations spread over the globe, written unclustered
    // (enough rows that targetFileMB=1 yields several output files)
    spark.range(1000000).selectExpr(
      "id",
      "CAST((id * 37 % 1600) / 10.0 - 80.0 AS DOUBLE) AS latitude",
      "CAST((id * 73 % 3600) / 10.0 - 180.0 AS DOUBLE) AS longitude")
      .repartition(8).write.mode("overwrite").parquet(in)
    graft.sources.ParquetCompactor.compactZOrdered(spark, in, out,
      "latitude", "longitude", zoom = 12, targetFileMB = 1)
    val compacted = spark.read.parquet(out)
    // no rows lost, zkey stored for row-group statistics
    assert(compacted.count() == 1000000 && compacted.columns.contains("zkey"))
    // every stored key is the pure-Scala Morton key of the zoom-12 tile
    val zkeyOf = org.apache.spark.sql.functions.udf((lat: Double, lon: Double) =>
      graft.tiles.TileMath.morton(graft.tiles.TileMath.rowFromLatitude(lat, 12),
        graft.tiles.TileMath.columnFromLongitude(lon, 12)))
    assert(compacted.filter(col("zkey") =!= zkeyOf(col("latitude"), col("longitude")))
      .isEmpty, "stored zkey must equal TileMath.morton(row, col) at zoom 12")
    // range partitioning: per-FILE zkey ranges must be (essentially)
    // disjoint — each file covers one compact region of the Z-curve, which
    // is what makes min/max pruning effective for bbox scans
    val ranges = compacted
      .select(org.apache.spark.sql.functions
        .input_file_name().as("f"), col("zkey"))
      .groupBy("f").agg(fmin("zkey").as("lo"), fmax("zkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length > 1, "fixture must produce multiple files")
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file zkey ranges must not interleave: $hi1 > $lo2")
      case _ =>
    }
  }

  test("custom DSv2 graft-locations connector: parallel read, pruning, LocationsSource seam") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dsv2").toFile
    // two files → two input partitions; one null field; one empty line
    java.nio.file.Files.writeString(new java.io.File(dir, "a.loc").toPath,
      "47.6,-122.3,gps,alice,1700000000000\n40.7,-74.0,gps,bob,1700000001000\n")
    java.nio.file.Files.writeString(new java.io.File(dir, "b.loc").toPath,
      "51.5,-0.1,background,,1700000002000\n\n")
    new java.io.File(dir, "ignored.txt").createNewFile() // non-.loc skipped

    val df = spark.read.format("graft-locations").load(dir.toString)
    assert(df.schema == graft.sources.GraftLocationsTable.tableSchema)
    assert(df.rdd.getNumPartitions == 2, "one partition per .loc file")
    val rows = df.orderBy("user_id").collect()
    assert(rows.length == 3)
    assert(rows(2).getString(3) == "bob" &&
      rows(2).getTimestamp(4).getTime == 1700000001000L)
    assert(rows(0).isNullAt(3), "empty user_id field reads as null")

    // column pruning reaches the DSv2 scan: only requested fields survive
    val pruned = df.select("latitude").queryExecution.executedPlan.toString
    assert(pruned.contains("[latitude]") && !pruned.contains("user_id"),
      s"scan must prune to latitude only:\n$pruned")

    // the LocationsSource contract seam accepts the custom format string
    val viaSeam = graft.sources.LocationsSource.read(
      spark, dir.toString, "graft-locations")
    assert(viaSeam.schema == graft.sources.LocationsSource.schema)
    assert(viaSeam.count() == 3)
  }

  test("graft-locations pushes string filters into the reader (parse-time skip)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dsv2-push").toFile
    java.nio.file.Files.writeString(new java.io.File(dir, "a.loc").toPath,
      "47.6,-122.3,gps,alice,1700000000000\n40.7,-74.0,background,bob,1700000001000\n" +
        "51.5,-0.1,background,,1700000002000\n35.7,139.7,wifi,dana,1700000003000\n" +
        "10.0,20.0,,erin,1700000004000\n")

    val df = spark.read.format("graft-locations").load(dir.toString)

    // the reference's canonical pushdown miss: source != 'background'
    // (heatmap.py:28 filters AFTER the fan-out; SURVEY §4.1)
    val ne = df.filter(col("source") =!= "background")
    val nePlan = ne.queryExecution.executedPlan.toString
    assert(nePlan.contains("PushedFilters") && nePlan.contains("Not(EqualTo(source,background))"),
      s"source != 'background' must be pushed into the scan:\n$nePlan")
    assert(ne.select("user_id").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("alice", "dana"))

    // the pipeline's null-safe form keeps the null-source row, also pushed
    val nns = df.filter(!(col("source") <=> "background"))
    val nnsPlan = nns.queryExecution.executedPlan.toString
    assert(nnsPlan.contains("Not(EqualNullSafe(source,background))"),
      s"!(source <=> 'background') must be pushed into the scan:\n$nnsPlan")
    assert(nns.select("user_id").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("alice", "dana", "erin"))

    // equality + null tests, each vs an unpushed re-filter of the full read
    assert(df.filter(col("source") === "background").count() == 2)
    assert(df.filter(col("user_id").isNull).count() == 1)
    assert(df.filter(col("user_id").isNotNull).count() == 4)
    assert(df.filter(col("source").isin("gps", "wifi")).count() == 2)
    assert(df.collect().length == 5, "unfiltered read still sees every row")

    // unsupported predicates stay residual and still evaluate correctly
    assert(df.filter(col("latitude") > 45.0).count() == 2)

    // pruning + pushdown compose: filter column absent from the projection
    val pruned = df.filter(col("source") === "gps").select("latitude")
    assert(pruned.collect().map(_.getDouble(0)).toSeq == Seq(47.6))
  }

  test("graft-locations pushes LIMIT into the reader (stops before later lines)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dsv2-limit").toFile
    java.nio.file.Files.writeString(new java.io.File(dir, "a.loc").toPath,
      "47.6,-122.3,gps,alice,1700000000000\n40.7,-74.0,gps,bob,1700000001000\n" +
        "51.5,-0.1,gps,carol,1700000002000\n35.7,139.7,gps,dana,1700000003000\n")

    val df = spark.read.format("graft-locations").load(dir.toString).limit(2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 2"),
      s"limit must reach the DSv2 scan description:\n$plan")
    assert(df.count() == 2)

    // reader-level proof of the early stop: a line AFTER the limit is
    // malformed — with the pushed limit it is never read/parsed, so the
    // scan succeeds; draining the file would throw
    import graft.sources.{GraftLocationsReader, GraftStore}
    val bad = new java.io.File(dir, "bad.loc")
    java.nio.file.Files.writeString(bad.toPath,
      "1.0,2.0,gps,u1,1700000000000\n3.0,4.0,gps,u2,1700000001000\nMALFORMED\n")
    val fields = GraftStore.Locations.schema.fieldNames
    val limited = new GraftLocationsReader(bad.getAbsolutePath,
      GraftStore.Locations, fields, Array.empty, limit = 2)
    var n = 0
    while (limited.next()) n += 1
    limited.close()
    assert(n == 2, "pushed limit stops before the malformed third line")
    val draining = new GraftLocationsReader(bad.getAbsolutePath,
      GraftStore.Locations, fields, Array.empty)
    assertThrows[IllegalArgumentException] { while (draining.next()) () }
    draining.close()
  }

  test("graft-locations pushes ORDER BY + LIMIT as a bounded per-file TopN heap") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dsv2-topn").toFile
    // two files so Spark must merge per-file candidates; a null user_id to
    // pin null placement; ties on timestamp to pin the secondary key
    java.nio.file.Files.writeString(new java.io.File(dir, "a.loc").toPath,
      "47.6,-122.3,gps,carol,1700000002000\n40.7,-74.0,gps,alice,1700000000000\n" +
        "51.5,-0.1,gps,bob,1700000000000\n")
    java.nio.file.Files.writeString(new java.io.File(dir, "b.loc").toPath,
      "35.7,139.7,wifi,dana,1700000001000\n12.3,45.6,wifi,,1700000003000\n")

    val df = spark.read.format("graft-locations").load(dir.toString)
    val q = df.orderBy(col("timestamp").asc, col("user_id").asc).limit(3)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTopN: ORDER BY [timestamp ASC NULLS FIRST, user_id ASC NULLS FIRST] LIMIT 3"),
      s"TopN must reach the DSv2 scan description:\n$plan")
    assert(q.select("user_id").collect().map(_.getString(0)).toSeq ==
      Seq("alice", "bob", "dana"),
      "global top-3 must merge candidates across both files")

    // descending + NULLS LAST + a sort key absent from the projection
    val desc = df.orderBy(col("timestamp").desc_nulls_last).limit(2).select("user_id")
    val descPlan = desc.queryExecution.executedPlan.toString
    assert(descPlan.contains("PushedTopN: ORDER BY [timestamp DESC NULLS LAST] LIMIT 2"),
      s"desc TopN must push with the key outside the projection:\n$descPlan")
    assert(desc.collect().map(_.getString(0)).toSeq == Seq(null, "carol"),
      "the null user_id row has the LATEST timestamp and must survive the heap")

    // reader-level proof of the bounded heap: each file surfaces ≤ n rows
    import graft.sources.{GraftLocationsTopNReader, GraftStore, SortKey}
    val fields = GraftStore.Locations.schema.fieldNames
    val r = new GraftLocationsTopNReader(new java.io.File(dir, "a.loc").getAbsolutePath,
      GraftStore.Locations, fields, Array.empty,
      Array(SortKey(fieldIdx = 4, descending = false, nullsFirst = true)), n = 2)
    var got = List.empty[Long]
    while (r.next()) got ::= r.get().getLong(4)
    r.close()
    assert(got.reverse == List(1700000000000L, 1700000000000L).map(_ * 1000),
      s"per-file heap must emit exactly the 2 earliest rows in order, got $got")

    // an unpushable order (expression over a column) falls back cleanly
    val expr = df.orderBy((col("latitude") + col("longitude")).asc).limit(2)
    assert(!expr.queryExecution.executedPlan.toString.contains("PushedTopN"))
    assert(expr.count() == 2)
  }

  test("graft-locations pushes COUNT(*) to the scan (one long per file, rows never typed)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dsv2-agg").toFile
    java.nio.file.Files.writeString(new java.io.File(dir, "a.loc").toPath,
      "47.6,-122.3,gps,alice,1700000000000\n40.7,-74.0,background,bob,1700000001000\n")
    // second file carries UNPARSEABLE doubles: plain count must still work
    // (proof the count path never types fields); a full read would throw
    java.nio.file.Files.writeString(new java.io.File(dir, "b.loc").toPath,
      "notadouble,alsonot,gps,carol,notatime\n51.5,-0.1,gps,,1700000002000\n")

    val df = spark.read.format("graft-locations").load(dir.toString)
    val counted = df.groupBy().count()
    val plan = counted.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: count(*)"),
      s"COUNT(*) must reach the DSv2 scan:\n$plan")
    assert(counted.collect().head.getLong(0) == 4L)
    assertThrows[org.apache.spark.SparkException] {
      df.collect() // typing the malformed doubles fails — count didn't
    }

    // count composes with pushed filters (raw-field evaluation, still untyped)
    val filtered = df.filter(col("source") === "gps").groupBy().count()
    val fPlan = filtered.queryExecution.executedPlan.toString
    assert(fPlan.contains("PushedAggregation: count(*)") &&
      fPlan.contains("EqualTo(source,gps)"), s"filter+count must both push:\n$fPlan")
    assert(filtered.collect().head.getLong(0) == 3L)

    // grouped / non-count aggregates are NOT pushed — plan stays a real scan
    val grouped = df.groupBy("source").count()
    assert(!grouped.queryExecution.executedPlan.toString.contains("PushedAggregation"))
  }

  test("TempDirs sweep: removes stale graft-stream orphans, spares fresh, foreign, and owned dirs") {
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    val old = FileTime.from(java.time.Instant.now().minusSeconds(7200))
    val stale = Files.createTempDirectory("graft-stream-spec-stale")
    Files.createFile(stale.resolve("payload"))
    Files.setLastModifiedTime(stale, old)
    val fresh = Files.createTempDirectory("graft-stream-spec-fresh")
    val foreign = Files.createTempDirectory("graft-spec-foreign") // wrong prefix
    Files.setLastModifiedTime(foreign, old)
    val owned = graft.TempDirs.create("graft-stream-spec-owned") // in created set
    Files.setLastModifiedTime(owned, old)
    try {
      graft.TempDirs.sweepOrphans()
      assert(!Files.exists(stale), "stale orphan must be swept (with contents)")
      assert(Files.exists(fresh), "fresh dirs are never swept")
      assert(Files.exists(foreign), "non-stream prefixes are never swept")
      assert(Files.exists(owned), "this JVM's own dirs are never swept, any age")
      // touch resets the sweep clock — the live-session protection
      Files.setLastModifiedTime(fresh, old)
      graft.TempDirs.touch(fresh)
      graft.TempDirs.sweepOrphans()
      assert(Files.exists(fresh), "a touched dir must survive the sweep")
    } finally Seq(fresh, foreign, owned).foreach(p =>
      try graft.TempDirs.delete(p) catch { case _: Exception => () })
  }

  test("graft-locations DSv2 write: heatmaps append round-trips through the connector") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dsv2-write").toString
    val first = Seq(("all|alltime|12_100_200", """{"12_100_200": 3}"""))
      .toDF("id", "heatmap")
    val second = Seq(("u1|2024-01|12_100_201", """{"12_100_201": 7}"""))
      .toDF("id", "heatmap")

    first.write.format("graft-locations").option("table", "heatmaps")
      .mode("append").save(dir)
    second.write.format("graft-locations").option("table", "heatmaps")
      .mode("append").save(dir) // append ADDS to the store, never replaces

    val back = spark.read.format("graft-locations").option("table", "heatmaps")
      .load(dir)
    assert(back.schema.fieldNames.toSeq == Seq("id", "heatmap"))
    val rows = back.orderBy("id").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(
      ("all|alltime|12_100_200", """{"12_100_200": 3}"""),
      ("u1|2024-01|12_100_201", """{"12_100_201": 7}""")))
    // two-phase commit leaves no temp residue behind
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith("_tmp")),
      "temp dir must be gone after commit")

    // locations-table append round-trips the full 5-column contract,
    // including nulls and the µs→ms→µs timestamp conversion
    val locDir = java.nio.file.Files.createTempDirectory("graft-dsv2-wloc").toString
    val loc = Seq((47.6, -122.3, "gps", "alice", new java.sql.Timestamp(1700000000000L)),
        (40.7, -74.0, null, null, new java.sql.Timestamp(1700000001000L)))
      .toDF("latitude", "longitude", "source", "user_id", "timestamp")
    loc.write.format("graft-locations").mode("append").save(locDir)
    val locBack = spark.read.format("graft-locations").load(locDir)
      .orderBy("latitude").collect()
    assert(locBack.length == 2)
    assert(locBack(0).isNullAt(2) && locBack(0).isNullAt(3))
    assert(locBack(1).getString(3) == "alice" &&
      locBack(1).getTimestamp(4).getTime == 1700000000000L)

    // a delimiter inside a string field fails LOUDLY instead of corrupting
    val bad = Seq(("id\twith\ttabs", "{}")).toDF("id", "heatmap")
    val e = intercept[org.apache.spark.SparkException] {
      bad.write.format("graft-locations").option("table", "heatmaps")
        .mode("append").save(dir)
    }
    assert(e.getMessage.contains("delimiter") ||
      Option(e.getCause).exists(_.getMessage.contains("delimiter")))
    // and the failed write left nothing visible
    assert(spark.read.format("graft-locations").option("table", "heatmaps")
      .load(dir).count() == 2)
  }

  test("round-trips through parquet, json, csv, and orc sinks/sources") {
    val base = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val n = base.count()
    Seq("parquet", "json", "csv", "orc").foreach { fmt =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft-$fmt").toString
      base.write.mode("overwrite").option("header", "true").format(fmt).save(dir)
      val back = spark.read.option("header", "true").option("inferSchema", "true")
        .format(fmt).load(dir)
      assert(back.count() == n, s"$fmt row count")
      assert(back.columns.toSet == base.columns.toSet, s"$fmt schema")
    }
  }

  /** Per-partition parquet file-name sets of a partitioned lake —
    * rewritten partitions get fresh part-UUID file names, so name-set
    * equality proves a partition's bytes were not rewritten. `prefix`
    * selects the partition-directory family ("cid=" vector lakes,
    * "tb=" the lexical lake). */
  private def lakeLayout(lake: java.nio.file.Path,
      prefix: String = "cid="): Map[String, Set[String]] = {
    import scala.jdk.CollectionConverters._
    // Files.list streams hold a directory handle until closed (unlike a
    // fully-consumed Files.walk) — close explicitly or the suite leaks an
    // fd per call alongside Spark's own appetite
    def names(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val st = java.nio.file.Files.list(dir)
      try st.iterator().asScala.toSeq finally st.close()
    }
    names(lake)
      .filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(prefix))
      .map(p => p.getFileName.toString ->
        names(p).map(_.getFileName.toString).filter(_.startsWith("part-")).toSet)
      .toMap
  }

  test("pipeline_rag_purge rewrites ONLY partitions holding blocked vectors") {
    import graft.operators.CacheScope
    import graft.queries.SimilarityQueries
    // get-or-build the replica first so the pre-purge layout is observable
    // (idempotence makes this valid even if another suite purged already)
    val lake = SimilarityQueries.purgeReplica(spark, sf, CacheScope.Unmanaged)
    val before = lakeLayout(lake)
    val diff = SimilarityQueries.pipelineRagPurge.build(spark, sf).collect()
    val after = lakeLayout(lake)
    // n_purged derives from the PRISTINE artifact, so it names the touched
    // cells regardless of whether the replica was already purged
    val touched = diff.filter(_.getAs[Long]("n_purged") > 0)
      .map(r => s"cid=${r.getAs[Long]("cid")}").toSet
    assert(touched.nonEmpty, "fixture must exercise the purge path")
    before.foreach { case (part, files) =>
      if (!touched(part))
        assert(after.get(part).contains(files),
          s"untouched partition $part was rewritten — purge work must be ∝ touched partitions")
      else if (after.contains(part))
        assert(after(part) != files, s"touched partition $part kept its old files")
    }
    // emptied cells must physically vanish; survivors keep exact counts
    diff.foreach { r =>
      val part = s"cid=${r.getAs[Long]("cid")}"
      assert(r.getAs[Long]("n_after") ==
        r.getAs[Long]("n_before") - r.getAs[Long]("n_purged"))
      if (r.getAs[Long]("n_after") == 0L)
        assert(!after.contains(part), s"fully-purged $part left stale bytes on disk")
    }
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  test("pipeline_rag_codes_compact rewrites ONLY append-touched partitions") {
    import graft.operators.CacheScope
    import graft.queries.SimilarityQueries
    val lake = SimilarityQueries.compactLake(spark, sf, CacheScope.Unmanaged)
    val before = lakeLayout(lake)
    // "touched" from the same shared law the entry uses (one definition) —
    // AFTER the admission screen: a partition reached only by blocked
    // append rows must stay untouched (r15 verdict item 1)
    val blockedIds = Tables(spark, sf, "documents")
      .filter(coalesce(col("source"), lit(""))
        .isin(graft.queries.CorpusPipeline.BlockedSources: _*))
      .select(col("doc_id").as("vec_id"))
    val touched = SimilarityQueries.compactAppendPile(spark, sf, CacheScope.Unmanaged)
      .join(blockedIds, Seq("vec_id"), "left_anti")
      .select("cid").distinct().collect().map(r => s"cid=${r.getInt(0)}").toSet
    assert(touched.nonEmpty, "fixture must exercise the compaction path")
    val compacted = SimilarityQueries.pipelineRagCodesCompact.build(spark, sf)
    val nAll = compacted.count()
    val after = lakeLayout(lake)
    before.foreach { case (part, files) =>
      if (!touched(part))
        assert(after.get(part).contains(files),
          s"untouched partition $part was rewritten — compaction work must be ∝ appends")
      else
        assert(after(part) != files, s"append-touched partition $part kept its old files")
    }
    // the compacted lake holds hist ∪ ADMITTED appends, exactly: every
    // corpus vector except the blocked ones arriving in the append pile
    val nBlockedAppends = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") % 5 === 4)
      .join(blockedIds, Seq("vec_id"), "left_semi").count()
    assert(nAll == Tables(spark, sf, "embeddings").count() - nBlockedAppends,
      "compacted lake must hold one row per corpus vector minus screened appends")
    spark.sharedState.cacheManager.clearCache() // Unmanaged scope.track above
  }

  // NOTE for both lexical tests below: the smoke corpus has 31 distinct
  // words populating 25 of 64 buckets, and the blocked sources' / append
  // half's words reach ALL populated buckets — so the untouched-bucket
  // branch cannot execute here; untouched-bucket preservation is pinned on
  // a planted 2-bucket lake in OperatorSpec ("lexical lake layout laws").
  // These corpus tests pin the end-to-end diff arithmetic and physical
  // deletion instead.
  test("ret_bm25_purge: purge diff arithmetic and physical deletion, end to end") {
    import graft.queries.TextQueries
    val lake = TextQueries.lexPurgeReplica(spark, sf)
    val before = lakeLayout(lake, "tb=")
    val diff = TextQueries.retBm25Purge.build(spark, sf).collect()
    val after = lakeLayout(lake, "tb=")
    val touched = diff.filter(_.getAs[Long]("n_purged") > 0)
      .map(r => s"tb=${r.getAs[Long]("tb")}").toSet
    assert(touched.nonEmpty, "fixture must exercise the lexical purge path")
    // (see NOTE above: on this corpus `touched` spans every populated
    // bucket, so the !touched branch is exercised by the planted spec)
    before.foreach { case (part, files) =>
      if (!touched(part))
        assert(after.get(part).contains(files),
          s"untouched bucket $part was rewritten — purge work must be ∝ touched buckets")
      else if (after.contains(part))
        assert(after(part) != files, s"touched bucket $part kept its old files")
    }
    diff.foreach { r =>
      assert(r.getAs[Long]("n_after") ==
        r.getAs[Long]("n_before") - r.getAs[Long]("n_purged"))
      assert(r.getAs[Long]("n_blocked_left") == 0L)
      if (r.getAs[Long]("n_after") == 0L)
        assert(!after.contains(s"tb=${r.getAs[Long]("tb")}"),
          "fully-purged bucket left stale bytes on disk")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("ret_bm25_compact: union-corpus row count and touched-bucket rewrites, end to end") {
    import graft.queries.TextQueries
    val lake = TextQueries.lexCompactLake(spark, sf)
    val before = lakeLayout(lake, "tb=")
    val compacted = TextQueries.retBm25Compact.build(spark, sf)
    val nAll = compacted.count()
    // the compacted lake holds the SCREENED union corpus's postings,
    // exactly: hist keeps everything, the append pile is admitted only
    // where its source clears the blocklist (the compactor's admission
    // screen — r15 verdict item 1)
    val blocked = graft.queries.CorpusPipeline.BlockedSources
    assert(nAll == TextQueries.lexPostingsProjection(
        Tables(spark, sf, "documents").filter(col("doc_id") % 10 < 7 ||
          !coalesce(col("source"), lit("")).isin(blocked: _*))).count(),
      "compacted lake must hold one row per (doc, word) of hist ∪ admitted(appends)")
    val after = lakeLayout(lake, "tb=")
    // "touched" from the same shared projection the entry uses: the
    // ADMITTED delta half's posting buckets (a bucket reached only by
    // blocked append rows must stay untouched)
    val touched = TextQueries.lexPostingsProjection(
        Tables(spark, sf, "documents").filter(col("doc_id") % 10 >= 7))
      .filter(!col("source").isin(blocked: _*))
      .select("tb").distinct().collect().map(r => s"tb=${r.getInt(0)}").toSet
    assert(touched.nonEmpty, "fixture must exercise the lexical compaction path")
    before.foreach { case (part, files) =>
      if (!touched(part))
        assert(after.get(part).contains(files),
          s"untouched bucket $part was rewritten — compaction work must be ∝ appends")
      else
        assert(after(part) != files, s"append-touched bucket $part kept its old files")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("lexMutatedLake: interleave leaves zero blocked bytes; the _stats sidecar matches the lake") {
    import graft.operators.CacheScope
    import graft.queries.TextQueries
    val lake = TextQueries.lexMutatedLake(spark, sf, CacheScope.Unmanaged)
    val back = spark.read.schema(TextQueries.lexPcLakeSchema).parquet(lake.toString)
    // the purge-then-compact sequence must leave NO blocked row anywhere —
    // including rows a pre-takedown append pile tried to re-insert
    assert(back.filter(col("source")
        .isin(graft.queries.CorpusPipeline.BlockedSources: _*)).count() == 0L,
      "mutated lake must hold zero blocked postings after purge ∘ compact")
    // the lake's own parquet read must NOT pick the sidecars up (the
    // underscore-hidden-path contract the design rests on)
    assert(back.columns.toSeq == TextQueries.lexPcLakeSchema.fieldNames.toSeq)
    // every surviving row sits in the impact-block directory the one
    // block law assigns it — a compactor that wrote appends without the
    // blk column (or under a forked law) would break the pruned serve's
    // static block pruning silently
    assert(back.filter(col("blk") =!=
        graft.queries.TextQueries.lexBlockOf(col("tf"), col("dl"))).count() == 0L,
      "every mutated-lake row must sit in its law-assigned impact block")
    // the refreshed _blockmax sidecar == the bound law recomputed from
    // the mutated bytes (stale df_blk would corrupt the pruned serve's
    // exact document frequencies)
    val bmBack = spark.read.parquet(lake.resolve("_blockmax").toString)
      .select("tb", "word", "blk", "tf_max", "dl_min", "df_blk")
    val bmLaw = graft.queries.TextQueries.lexBlockMaxOf(back)
      .select("tb", "word", "blk", "tf_max", "dl_min", "df_blk")
    assert(bmBack.except(bmLaw).count() == 0L &&
      bmLaw.except(bmBack).count() == 0L,
      "_blockmax must equal the bound law recomputed over the mutated bytes")
    // sidecar == the stats law recomputed from the mutated bytes
    val sidecar = spark.read.parquet(lake.resolve("_stats").toString)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val recomputed = back.select("doc_id", "source", "dl").distinct()
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("dl").as("t"))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(sidecar == recomputed,
      "the _stats sidecar must equal the per-source stats law over the lake bytes")
    // the _keyparts sidecar is a SUPERSET index by contract (purged docs
    // may keep entries; the compactor refreshes only the keys it
    // replaces): every (doc, bucket) pair the lake actually holds must
    // appear in it, or a future cross-bucket update would miss stale rows
    val lakePairs = back.select(col("doc_id"), col("tb")).distinct()
    val missing = lakePairs.join(
      spark.read.schema(graft.queries.SimilarityQueries
          .keySidecarSchema("doc_id", "tb"))
        .parquet(graft.queries.SimilarityQueries
          .keySidecarPath(lake).toString),
      Seq("doc_id", "tb"), "left_anti").count()
    assert(missing == 0L,
      s"_keyparts must cover every (doc, bucket) pair the lake holds ($missing missing)")
    spark.sharedState.cacheManager.clearCache()
  }

  test("streamed-append compaction keeps the _keyparts superset invariant (stream_lex_encode -> ret_bm25_compact path)") {
    import graft.queries.TextQueries
    // the crawl loop's consume side: the pile retBm25Compact folds in IS
    // the stream_lex_encode projection (shared verbatim), so this pins
    // that the streaming ingest loop cannot silently break the
    // true-update contract the range-partitioned sidecar refresh
    // depends on — after the fold, every (doc, bucket) pair the lake
    // holds must still appear in the sidecar
    TextQueries.retBm25Compact.build(spark, sf).collect()
    val lake = TextQueries.lexCompactLake(spark, sf)
    val back = spark.read.schema(TextQueries.lexLakeSchema).parquet(lake.toString)
    val missing = back.select(col("doc_id"), col("tb")).distinct().join(
      spark.read.schema(graft.queries.SimilarityQueries
          .keySidecarSchema("doc_id", "tb"))
        .parquet(graft.queries.SimilarityQueries
          .keySidecarPath(lake).toString),
      Seq("doc_id", "tb"), "left_anti").count()
    assert(missing == 0L,
      s"_keyparts must stay a superset after a streamed-append compaction ($missing missing)")
    spark.sharedState.cacheManager.clearCache()
  }

  test("lexMutatedLake: the committed manifest IS the live file set (version resolves, nothing torn, nothing stale)") {
    import graft.operators.LakeManifest
    import graft.queries.TextQueries
    val lake = TextQueries.lexMutatedLake(spark, sf,
      graft.operators.CacheScope.Unmanaged)
    // the mutation epilogue committed a version; on the REAL lake the
    // newest manifest must list exactly the data files on disk — a
    // manifest missing a live file would hide committed rows from every
    // gate that reads through it, an extra entry would be a torn read
    val Some((v, files)) = LakeManifest.current(lake)
    assert(v >= 1, s"mutated lake must carry a committed version: $v")
    assert(files.toSet == LakeManifest.listDataFiles(lake).toSet,
      "the newest manifest must equal the lake's live data files")
    // and the manifest read returns the same rows as the directory read
    // (they can only diverge under a concurrent writer)
    val viaManifest = graft.queries.SimilarityQueries
      .readLake(spark, lake, TextQueries.lexPcLakeSchema).count()
    val viaDir = spark.read.schema(TextQueries.lexPcLakeSchema)
      .parquet(lake.toString).count()
    assert(viaManifest == viaDir,
      s"quiesced lake: manifest read ($viaManifest) must equal dir read ($viaDir)")
    spark.sharedState.cacheManager.clearCache()
  }
}
