package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import graft.operators.HeatmapPipeline

/** End-to-end semantics of the reference-shaped pipeline on real lat/lon
  * input, including the golden row documented in FIXTURES.md §A (from the
  * survey's mock-RDD execution of the reference):
  * `alice|alltime|10_357_164` → {"15_11443_5249": 2.0}. */
class HeatmapPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def locations = {
    import spark.implicits._
    Seq(
      // two alice points in the same z21 tile (Seattle)
      (47.6062, -122.3321, "gps", "alice", 1700000000000L),
      (47.6062, -122.3321, "gps", "alice", 1700000001000L),
      // bob nearby
      (47.6162, -122.3421, "gps", "bob", 1700000002000L),
      // x-prefixed user: counted in 'all' but gets no per-user group
      (47.6062, -122.3321, "gps", "xsecret", 1700000003000L),
      // rt- user collapses into 'route'
      (40.7128, -74.0060, "gps", "rt-7", 1700000004000L),
      // background rows are dropped entirely
      (47.6062, -122.3321, "background", "alice", 1700000005000L),
      // a null source is not "background": the point is kept
      (47.6162, -122.3421, null, "bob", 1700000006000L)
    ).toDF("latitude", "longitude", "source", "user_id", "timestamp")
      .withColumn("timestamp", timestamp_millis(col("timestamp")))
  }

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causes(t.getCause)

  private def failsWith(msg: String)(body: => Any): Unit = {
    val ex = intercept[Exception](body)
    assert(causes(ex).exists(c => Option(c.getMessage).exists(_.contains(msg))),
      s"expected '$msg', got: $ex")
  }

  private def canon(df: DataFrame): Seq[(String, String)] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toSeq.sorted

  /** `run` with the counts kept as bigint, the catalog's blob flavour. */
  private def runLong(locs: DataFrame): DataFrame =
    HeatmapPipeline.resultSetBlobs(HeatmapPipeline.pyramid(
      HeatmapPipeline.observations(locs).withColumn("count", col("count").cast("long"))))

  test("golden: alice's z10 result-set blob matches the reference fixture") {
    val out = HeatmapPipeline.run(locations).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("alice|alltime|10_357_164") == """{"15_11443_5249":2.0}""")
  }

  test("x-users count in 'all' but have no per-user group; rt- becomes route") {
    val obs = HeatmapPipeline.observations(locations)
    val groups = obs.select("user_group").distinct().collect().map(_.getString(0)).toSet
    assert(groups == Set("all", "alice", "bob", "route"))
    // 'all' includes the xsecret and the null-source points: 6 rows
    assert(obs.filter(col("user_group") === "all").count() == 6)
  }

  test("pyramid-sum invariant holds for every group at every zoom") {
    val pyr = HeatmapPipeline.pyramid(HeatmapPipeline.observations(locations))
    val totals = pyr.groupBy("user_group", "zoom").agg(sum("count").as("t"))
      .groupBy("user_group").agg(countDistinct("t").as("n"), first("t").as("t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(totals("all") == (1L, 6.0))
    assert(totals("alice") == (1L, 2.0))
    assert(totals("bob") == (1L, 2.0))
    assert(totals("route") == (1L, 1.0))
  }

  test("blob ids carry result-set tiles exactly detailZoomDelta above content") {
    HeatmapPipeline.run(locations).collect().foreach { r =>
      val rsZoom = r.getString(0).split("\\|")(2).split("_")(0).toInt
      // every content tile in the JSON must be rsZoom + 5
      "\"(\\d+)_".r.findAllMatchIn(r.getString(1)).foreach { m =>
        assert(m.group(1).toInt == rsZoom + 5, s"row $r")
      }
    }
  }

  test("mergeBlobs: a 3-way period fold is byte-identical to the full recompute") {
    // the incremental-maintenance contract: split locations into arbitrary
    // disjoint periods, run the pipeline per period, fold the blob tables —
    // the result must equal run() on everything, byte for byte (same ids,
    // same JSON key order, same rendered counts). Period 2 is EMPTY to
    // exercise the identity case. Both count types: the pipeline's double
    // blobs and the catalog's bigint ones.
    val p1 = locations.filter(col("timestamp") < timestamp_millis(lit(1700000002000L)))
    val p2 = locations.filter(lit(false))
    val p3 = locations.filter(col("timestamp") >= timestamp_millis(lit(1700000002000L)))
    assert(canon(runLong(locations)).toMap.apply("alice|alltime|10_357_164") ==
      """{"15_11443_5249":2}""")
    for ((run, countType) <- Seq[(DataFrame => DataFrame, DataType)](
        (HeatmapPipeline.run(_), DoubleType), (runLong, LongType))) {
      val folded = Seq(p2, p3).foldLeft(run(p1)) { (acc, p) =>
        HeatmapPipeline.mergeBlobs(acc, run(p), countType)
      }
      assert(canon(folded) == canon(run(locations)), s"$countType fold")
      // commutativity: delta-first fold gives the same table
      val reversed = HeatmapPipeline.mergeBlobs(run(p3), run(p1), countType)
      assert(canon(reversed) == canon(run(locations)), s"$countType reversed")
    }
  }

  test("mergeBlobs: a malformed blob fails the job instead of vanishing") {
    import spark.implicits._
    val corrupt = Seq(("g|alltime|7_1_1", """{"12_32_32":""")).toDF("id", "heatmap")
    for ((good, countType) <- Seq(("1.0", DoubleType), ("1", LongType))) {
      val base = Seq(("g|alltime|7_1_1", s"""{"12_32_32":$good}""")).toDF("id", "heatmap")
      failsWith("malformed blob JSON") {
        HeatmapPipeline.mergeBlobs(base, corrupt, countType).collect()
      }
    }
  }

  test("mergeBlobs: the malformed-blob guard holds on both join sides") {
    // a corrupt blob fails the job even where the other side has no row for
    // its id: an untouched base blob and a delta blob new to the base
    import spark.implicits._
    for ((good, countType) <- Seq(("1.0", DoubleType), ("1", LongType))) {
      val blob = s"""{"12_32_32":$good}"""
      val corrupt = """{"12_32_32":"""
      val base = Seq(("g|alltime|7_1_1", blob), ("g|alltime|7_2_2", corrupt)).toDF("id", "heatmap")
      val delta = Seq(("g|alltime|7_1_1", blob)).toDF("id", "heatmap")
      failsWith("malformed blob JSON for id g|alltime|7_2_2") {
        HeatmapPipeline.mergeBlobs(base, delta, countType).collect()
      }
      val newId = Seq(("g|alltime|7_1_1", blob), ("g|alltime|7_3_3", corrupt)).toDF("id", "heatmap")
      failsWith("malformed blob JSON for id g|alltime|7_3_3") {
        HeatmapPipeline.mergeBlobs(delta, newId, countType).collect()
      }
      // a null stored blob is an empty one: untouched it renders as {},
      // touched it renders as the delta's blob
      val withNull = Seq(("g|alltime|7_1_1", null: String), ("g|alltime|7_2_2", null: String))
        .toDF("id", "heatmap")
      assert(canon(HeatmapPipeline.mergeBlobs(withNull, delta, countType)) ==
        Seq("g|alltime|7_1_1" -> blob, "g|alltime|7_2_2" -> "{}"), s"$countType null base")
    }
  }

  test("a null latitude or longitude fails the job instead of writing a malformed blob") {
    // concat_ws would drop the null row/col and store `all|alltime|16`;
    // the reference's tile math raises on None
    import spark.implicits._
    for ((lat, lon, name) <- Seq((None, Some(-122.3321), "latitude"),
        (Some(47.6062), None, "longitude"))) {
      val bad = Seq((lat, lon, "gps", "alice", 1700000000000L))
        .toDF("latitude", "longitude", "source", "user_id", "timestamp")
        .withColumn("timestamp", timestamp_millis(col("timestamp")))
      failsWith(s"null $name") {
        HeatmapPipeline.run(locations.unionByName(bad)).collect()
      }
    }
  }

  test("an out-of-domain latitude or longitude fails the job instead of writing a garbage tile") {
    // heatmap.py's math.log / int(math.floor(...)) raise on each of these;
    // the tile math would give a null row (→ a 2-segment tile id), an
    // overflowed one, or a silent row 0
    import spark.implicits._
    for ((lat, lon, name) <- Seq((95.0, -122.3321, "latitude"), (-90.0, -122.3321, "latitude"),
        (Double.NaN, -122.3321, "latitude"), (47.6062, Double.NaN, "longitude"),
        (47.6062, Double.PositiveInfinity, "longitude"))) {
      val bad = Seq((lat, lon, "gps", "alice", 1700000000000L))
        .toDF("latitude", "longitude", "source", "user_id", "timestamp")
        .withColumn("timestamp", timestamp_millis(col("timestamp")))
      failsWith(s"$name out of domain") {
        HeatmapPipeline.run(locations.unionByName(bad)).collect()
      }
    }
    // the domain's closed end is in it, as in the reference: lat 90 quantizes
    val pole = Seq((90.0, 0.0, "gps", "alice", 1700000000000L))
      .toDF("latitude", "longitude", "source", "user_id", "timestamp")
      .withColumn("timestamp", timestamp_millis(col("timestamp")))
    assert(HeatmapPipeline.observations(pole).count() == 2)
  }

  test("rollup of a keyless fine table equals pyramid's 'all' group") {
    // stream_hm_pyramid's shape at unit scale: a fine-tile count table with
    // no group columns rolled up on its own
    val obs = HeatmapPipeline.observations(locations)
    val fine = obs.filter(col("user_group") === "all")
      .groupBy("fine_row", "fine_col").agg(sum("count").as("count"))
    val viaRollup = HeatmapPipeline.rollup(fine)
    val viaPyramid = HeatmapPipeline.pyramid(obs)
      .filter(col("user_group") === "all").drop("user_group", "timespan")
    assert(viaRollup.columns.toSeq == viaPyramid.columns.toSeq)
    val rows = viaRollup.collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.sortBy(_.toString) == viaPyramid.collect().toSeq.sortBy(_.toString))
  }

  test("run equals resultSetBlobs(pyramid(observations)) byte for byte") {
    // run partitions once by result-set tile and rolls up inside that
    // stage; the composed three-step path stays the reference. Input: the
    // fixture plus 3,000 points in four clusters, spread over 3 days and
    // 12 users (x- and rt- prefixes included)
    val spread = spark.range(3000).select(
      (lit(47.6) + (col("id") % 97) * 1e-3 + when(col("id") % 3 === 0, lit(-7.0))
        .otherwise(lit(0.0))).as("latitude"),
      (lit(-122.3) + (col("id") % 89) * 1.3e-3 + when(col("id") % 5 === 0, lit(48.0))
        .otherwise(lit(0.0))).as("longitude"),
      when(col("id") % 11 === 0, lit("background")).otherwise(lit("gps")).as("source"),
      concat(element_at(array(lit("u"), lit("x"), lit("rt-"), lit("v")),
        (col("id") % 4 + 1).cast("int")), (col("id") % 3).cast("string")).as("user_id"),
      timestamp_millis(lit(1700000000000L) + (col("id") % 3) * 86400000L).as("timestamp"))
    val locs = locations.unionByName(spread)
    for (cfg <- Seq(HeatmapPipeline.Config(), HeatmapPipeline.Config(timespans = true),
        HeatmapPipeline.Config(fineZoom = 12, timespans = true))) {
      val composed = HeatmapPipeline.resultSetBlobs(
        HeatmapPipeline.pyramid(HeatmapPipeline.observations(locs, cfg), cfg), cfg)
      val run = HeatmapPipeline.run(locs, cfg)
      assert(run.schema == composed.schema, cfg)
      val rows = canon(run)
      assert(rows.size > 100, s"$cfg: ${rows.size} blobs")
      assert(rows == canon(composed), cfg)
    }
  }
}
