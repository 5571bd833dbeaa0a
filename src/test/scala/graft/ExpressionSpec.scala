package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.TileFunctions
import graft.plans.GraftExtensions
import graft.tiles.TileMath

/** The three tile-math paths — pure Scala, built-in-function composition,
  * and the native codegen Expression — must agree bit-for-bit, in both
  * codegen and interpreted evaluation. */
class ExpressionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sampleDf = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    Seq.fill(2000)((rnd.nextDouble() * 170 - 85, rnd.nextDouble() * 360 - 180,
      1 + rnd.nextInt(21))).toDF("lat", "lon", "zoom")
  }

  test("native expression == built-in composition == pure Scala, all zooms") {
    GraftExtensions.register(spark)
    sampleDf.createOrReplaceTempView("pts")
    val rows = spark.sql(
      """SELECT lat, lon, zoom, tile_row(lat, zoom) AS er, tile_col(lon, zoom) AS ec,
        |       tile_id(lat, lon, zoom) AS eid
        |FROM pts""".stripMargin).collect()
    assert(rows.length == 2000)
    rows.foreach { r =>
      val (lat, lon, z) = (r.getDouble(0), r.getDouble(1), r.getInt(2))
      assert(r.getLong(3) == TileMath.rowFromLatitude(lat, z), s"row @($lat,$z)")
      assert(r.getLong(4) == TileMath.columnFromLongitude(lon, z), s"col @($lon,$z)")
      assert(r.getString(5) == TileMath.tileIdFromLatLon(lat, lon, z))
    }
  }

  test("fixed-zoom Column composition matches the native expression") {
    GraftExtensions.register(spark)
    val df = sampleDf.filter(col("zoom") === 12)
    val both = df.select(
      TileFunctions.tileId(col("lat"), col("lon"), 12).as("composed"),
      expr("tile_id(lat, lon, 12)").as("native"))
    assert(both.filter(col("composed") =!= col("native")).isEmpty)
  }

  test("interpreted (non-codegen) eval matches codegen eval") {
    GraftExtensions.register(spark)
    sampleDf.createOrReplaceTempView("pts")
    val q = "SELECT sum(tile_row(lat, zoom) * 31 + tile_col(lon, zoom)) AS chk FROM pts"
    val codegen = spark.sql(q).collect()(0).getLong(0)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = spark.sql(q).collect()(0).getLong(0)
      assert(interpreted == codegen)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("inverse Column functions match pure TileMath (bounds round-trip)") {
    import graft.functions.TileFunctions
    val rows = sampleDf.filter(col("zoom") === 9)
      .select(TileFunctions.tileRow(col("lat"), 9).as("r"),
        TileFunctions.tileCol(col("lon"), 9).as("c"))
      .select(col("r"), col("c"),
        TileFunctions.latitudeFromRow(col("r"), 9).as("north"),
        TileFunctions.longitudeFromColumn(col("c"), 9).as("west"))
      .collect()
    assert(rows.nonEmpty)
    // Spark's built-in exp/atan codegen through StrictMath while JVM Math
    // uses intrinsics — a 1–2 ulp difference is inherent (and is why
    // transcendental OUTPUTS are kept out of oracle-compared queries;
    // quantized tile indices absorb it). Assert ulp-level agreement.
    def close(a: Double, b: Double) = (a - b).abs <= 1e-12 * math.max(a.abs, b.abs)
    rows.foreach { row =>
      assert(close(row.getDouble(2), graft.tiles.TileMath.latitudeFromRow(row.getLong(0), 9)))
      assert(row.getDouble(3) == graft.tiles.TileMath.longitudeFromColumn(row.getLong(1), 9))
    }
  }

  test("PortableHash: pure Scala equals the Column form for arbitrary strings") {
    import graft.functions.PortableHash
    import spark.implicits._
    val strs = Seq("", "a", "the fast key", "rt-7", "日本語", "0x", "a b c d e f")
    val viaSpark = strs.toDF("s")
      .select(PortableHash.h48(col("s")).as("h")).as[Long].collect()
    viaSpark.zip(strs).foreach { case (h, s) =>
      assert(h == PortableHash.h48(s), s"mismatch for '$s'")
    }
  }

  test("nulls propagate") {
    GraftExtensions.register(spark)
    val r = spark.sql("SELECT tile_id(CAST(NULL AS DOUBLE), 1.0, 5) AS x").collect()(0)
    assert(r.isNullAt(0))
  }

  test("tile_parent expression: valid, malformed, and zoom-0 inputs") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT tile_parent('10_357_164') AS p, tile_parent('garbage') AS bad,
        |       tile_parent('0_0_0') AS root""".stripMargin).collect()(0)
    assert(r.getString(0) == "9_178_82")
    assert(r.isNullAt(1) && r.isNullAt(2))
  }

  test("TileAlgebra rule collapses tile_parent(tile_id(..)) into a coarser tile_id") {
    GraftExtensions.register(spark)
    // file-backed table: a local Seq would be folded into a LocalRelation
    // before the plan can be inspected
    graft.queries.Tables(spark, TestSpark.sfSmoke, "events")
      .select((col("event_id") % 160 - 80).cast("double").as("lat"),
        (col("event_id") % 360 - 180).cast("double").as("lon"))
      .createOrReplaceTempView("pts")
    val df = spark.sql(
      "SELECT tile_parent(tile_parent(tile_id(lat, lon, 12))) AS t FROM pts")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("tile_parent"),
      s"rule must remove tile_parent:\n$optimized")
    assert(optimized.contains("tile_id") && optimized.contains("10"),
      s"rule must rewrite to tile_id at zoom-2:\n$optimized")
    // semantics preserved vs the un-rewritten runtime path
    val direct = spark.sql("SELECT tile_id(lat, lon, 10) AS t FROM pts")
    assert(df.exceptAll(direct).isEmpty && direct.exceptAll(df).isEmpty)
    // zoom 0: rule leaves it; runtime yields null
    val z0 = spark.sql("SELECT tile_parent(tile_id(lat, lon, 0)) AS t FROM pts")
    assert(z0.filter(col("t").isNotNull).count() == 0)
  }

  test("TileAlgebra rewrite preserves NULL for out-of-domain lat=90 / lon=180") {
    GraftExtensions.register(spark)
    // non-foldable constants (col * 0 + k): foldable ones would be
    // constant-folded through the runtime path before the rule can fire
    graft.queries.Tables(spark, TestSpark.sfSmoke, "events")
      .select((col("event_id") * 0 + 90.0).as("bad_lat"),
        (col("event_id") * 0 + 180.0).as("bad_lon"),
        (col("event_id") * 0 + 10.0).as("ok_lat"),
        (col("event_id") * 0 + 20.0).as("ok_lon"))
      .createOrReplaceTempView("edge")
    val df = spark.sql(
      """SELECT tile_parent(tile_id(bad_lat, ok_lon, 12)) AS p_badlat,
        |       tile_parent(tile_id(ok_lat, bad_lon, 12)) AS p_badlon,
        |       tile_parent(tile_id(ok_lat, ok_lon, 12)) AS p_ok
        |FROM edge""".stripMargin)
    // the rule DID fire (tile_parent gone) ...
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("tile_parent"), s"rule must fire:\n$optimized")
    // ... and out-of-domain inputs still decode-reject to NULL, exactly as
    // the unrewritten runtime path does (ADVICE: unguarded rewrite returned
    // a non-null id here, making results depend on whether the rule fired)
    val r = df.collect()(0)
    assert(r.isNullAt(0), "lat=90 must stay NULL under the rewrite")
    assert(r.isNullAt(1), "lon=180 must stay NULL under the rewrite")
    assert(r.getString(2) == TileMath.parentId(
      TileMath.tileIdFromLatLon(10.0, 20.0, 12)).get)
  }

  test("tile_decode struct equals pure TileMath bounds/center; null on malformed") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT tile_decode('10_357_164') AS t, tile_decode('garbage') AS bad,
        |       tile_decode('64_0_0') AS wrap""".stripMargin).collect()(0)
    val t = r.getStruct(0)
    val tile = TileMath.Tile(10, 357, 164)
    assert(t.getInt(0) == 10 && t.getLong(1) == 357L && t.getLong(2) == 164L)
    assert(t.getDouble(3) == tile.northLatitude && t.getDouble(4) == tile.southLatitude)
    assert(t.getDouble(5) == tile.westLongitude && t.getDouble(6) == tile.eastLongitude)
    assert(t.getDouble(7) == tile.centerLatitude && t.getDouble(8) == tile.centerLongitude)
    assert(r.isNullAt(1), "malformed id must decode to NULL")
    assert(r.isNullAt(2), "shift-wrapping zoom 64 must decode to NULL")
  }

  test("native tile_ancestors/tile_children equal pure TileMath and built-in composition") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT tile_ancestors('12_2456_655') AS anc, tile_children('12_2456_655') AS ch,
        |       tile_ancestors('1_0_0') AS anc1, tile_ancestors('bogus') AS ancbad,
        |       tile_children('bogus') AS chbad""".stripMargin).collect()(0)
    assert(r.getSeq[String](0) == TileMath.ancestorIds("12_2456_655"))
    assert(r.getSeq[String](1) == TileMath.childIds("12_2456_655"))
    assert(r.getSeq[String](2).isEmpty && r.getSeq[String](3).isEmpty &&
      r.getSeq[String](4).isEmpty)
    // agreement with the built-in-function composition over real tile ids
    sampleDf.createOrReplaceTempView("pts")
    val mismatches = spark.sql(
      "SELECT tile_id(lat, lon, zoom) AS id FROM pts")
      .select(col("id"),
        expr("tile_ancestors(id)").as("native"),
        TileFunctions.tileAncestors(col("id")).as("composed"))
      .filter(col("native") =!= col("composed"))
    assert(mismatches.isEmpty)
  }

  test("tileAncestors yields an empty chain at zoom <= minZoom (no sequence() error)") {
    import spark.implicits._
    val rows = Seq("1_0_0", "0_0_0", "3_5_2").toDF("id")
      .select(col("id"), TileFunctions.tileAncestors(col("id")).as("anc"))
      .collect()
    val byId = rows.map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(byId("1_0_0").isEmpty, "zoom-1 tile has no strict ancestors above minZoom")
    assert(byId("0_0_0").isEmpty, "root tile has no ancestors")
    assert(byId("3_5_2") == Seq("2_2_1", "1_1_0"))
    // NULL ids propagate NULL, matching the native TileAncestors expression
    val nullRow = Seq(Option.empty[String]).toDF("id")
      .select(TileFunctions.tileAncestors(col("id")).as("anc")).collect()(0)
    assert(nullRow.isNullAt(0), "null id must yield null, not []")
  }

  test("TileAlgebra does NOT collapse tile_parent through a user-written IF") {
    GraftExtensions.register(spark)
    // a user predicate (event_id >= 0) does not imply in-domain lat/lon —
    // collapsing under it would return a non-null parent for lat=90 where
    // the unrewritten tile_parent yields NULL (decode range check)
    graft.queries.Tables(spark, TestSpark.sfSmoke, "events")
      .select(col("event_id"), (col("event_id") * 0 + 90.0).as("bad_lat"),
        (col("event_id") * 0 + 20.0).as("lon"))
      .createOrReplaceTempView("uif")
    val df = spark.sql(
      """SELECT tile_parent(IF(event_id >= 0, tile_id(bad_lat, lon, 12),
        |                      CAST(NULL AS STRING))) AS p FROM uif""".stripMargin)
    assert(df.filter(col("p").isNotNull).count() == 0,
      "lat=90 must stay NULL under any arbitrary-guard IF")
  }

  test("tile_morton: native == fold composition == pure Scala; Z-curve properties") {
    GraftExtensions.register(spark)
    import spark.implicits._
    // known values: the first 2x2 block is exactly keys 0..3 in row-major
    // (c,r) interleave order
    assert(TileMath.morton(0, 0) == 0L && TileMath.morton(0, 1) == 1L &&
      TileMath.morton(1, 0) == 2L && TileMath.morton(1, 1) == 3L)
    // every 2^k x 2^k aligned block is one contiguous key range
    assert(TileMath.morton(2, 2) == 12L) // second-level block start
    val rnd = new scala.util.Random(11)
    val pts = Seq.fill(2000)((rnd.nextInt(1 << 21).toLong, rnd.nextInt(1 << 21).toLong))
    val df = pts.toDF("r", "c")
    val three = df.select(
      expr("tile_morton(r, c)").as("native"),
      TileFunctions.tileMorton(col("r"), col("c")).as("composed"))
      .collect().zip(pts)
    three.foreach { case (row, (r, c)) =>
      val expected = TileMath.morton(r, c)
      assert(row.getLong(0) == expected, s"native @($r,$c)")
      assert(row.getLong(1) == expected, s"composed @($r,$c)")
    }
    // uniqueness (it's a bijection below 2^21): no collisions in the sample
    assert(pts.map { case (r, c) => TileMath.morton(r, c) }.distinct.size ==
      pts.distinct.size)
  }

  test("vec_l2sq equals the zip_with/aggregate lambda form (and handles edges)") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val vecs = Seq(
      (1L, Seq(0L, 3L, -4L), Seq(0L, 0L, 0L)),       // 9 + 16 = 25
      (2L, Seq(1000000L, -1000000L), Seq(-1000000L, 1000000L)), // 2*(2e6)^2
      (3L, Seq.empty[Long], Seq.empty[Long]))         // empty -> 0
      .toDF("id", "a", "b")
    val out = vecs.select(col("id"),
      call_function("vec_l2sq", col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0L), _ + _).as("lambda"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.foreach { case (id, n, l) => assert(n == l, s"id=$id: native $n != lambda $l") }
    assert(out.find(_._1 == 1L).get._2 == 25L)
    assert(out.find(_._1 == 3L).get._2 == 0L)
    // length mismatch fails loudly, never zip-truncates (raw IAE when the
    // local relation evaluates driver-side, SparkException from executors)
    val bad = Seq((Seq(1L, 2L), Seq(1L))).toDF("a", "b")
    val thrown = intercept[Exception] {
      bad.select(call_function("vec_l2sq", col("a"), col("b"))).collect()
    }
    assert(thrown.isInstanceOf[IllegalArgumentException] ||
      thrown.isInstanceOf[org.apache.spark.SparkException], s"got $thrown")
  }

  test("vec_dot is BIT-identical to the left-to-right zip_with lambda on floats") {
    import spark.implicits._
    GraftExtensions.register(spark)
    // values chosen so accumulation order matters in double arithmetic:
    // a different summation order would flip low-order bits
    val vecs = Seq(
      (1L, Seq(0.1f, -0.2f, 0.3f, 1e-8f), Seq(0.7f, 0.11f, -0.13f, 1e8f)),
      (2L, Seq.empty[Float], Seq.empty[Float]))
      .toDF("id", "a", "b")
    val out = vecs.select(col("id"),
      call_function("vec_dot", col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("lambda"))
      .collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"id=${r.getLong(0)}: native ${r.getDouble(1)} != lambda ${r.getDouble(2)} (bitwise)")
    }
  }

  test("pos_mindist/pos_within equal the pair-grid folds they replace (and guard edges)") {
    import spark.implicits._
    GraftExtensions.register(spark)
    // randomized sorted arrays (fixed seed): the two-pointer laws must
    // equal the quadratic grid on every draw, including ties, repeats,
    // disjoint ranges, and fully-overlapping ranges
    val rnd = new scala.util.Random(20260816L)
    val cases = (1 to 60).map { id =>
      def arr() = Seq.fill(1 + rnd.nextInt(8))(1 + rnd.nextInt(30)).sorted
      (id.toLong, arr(), arr())
    } ++ Seq(
      (101L, Seq(1, 2, 3), Seq(100, 200)),   // disjoint, far apart
      (102L, Seq(5, 5, 5), Seq(5, 5)),       // all-ties (repeated positions)
      (103L, Seq(1), Seq(1)))                // singleton exact match
    val df = cases.toDF("id", "pa", "pb")
    val grid = "flatten(transform(pa, a -> transform(pb, b -> abs(a - b))))"
    val out = df.select(col("id"),
      call_function("pos_mindist", col("pa"), col("pb")).as("md_native"),
      expr(s"cast(array_min($grid) as bigint)").as("md_grid"),
      call_function("pos_within", col("pa"), col("pb"), lit(5)).as("w_native"),
      expr(s"cast(size(filter($grid, d -> d <= 5)) as bigint)").as("w_grid"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"id=${r.getLong(0)}: pos_mindist ${r.getLong(1)} != grid ${r.getLong(2)}")
      assert(r.getLong(3) == r.getLong(4),
        s"id=${r.getLong(0)}: pos_within ${r.getLong(3)} != grid ${r.getLong(4)}")
    }
    // empty-side law: mindist -> null (array_min-of-empty convention),
    // within -> 0 (no pairs)
    val empty = Seq((Seq.empty[Int], Seq(1, 2))).toDF("pa", "pb")
      .select(call_function("pos_mindist", col("pa"), col("pb")).as("md"),
        call_function("pos_within", col("pa"), col("pb"), lit(5)).as("w"))
      .collect().head
    assert(empty.isNullAt(0) && empty.getLong(1) == 0L)
    // unsorted input fails loudly rather than returning a silent wrong
    // minimum — including an unsorted TAIL the pointer walk alone would
    // never visit (pa far right of pb, so both pointers stall early)
    val bad = Seq((Seq(100, 101), Seq(10, 5))).toDF("pa", "pb")
    val thrown = intercept[Exception] {
      bad.select(call_function("pos_mindist", col("pa"), col("pb"))).collect()
    }
    assert(thrown.isInstanceOf[IllegalArgumentException] ||
      thrown.isInstanceOf[org.apache.spark.SparkException], s"got $thrown")
    val thrown2 = intercept[Exception] {
      bad.select(call_function("pos_within", col("pa"), col("pb"), lit(5))).collect()
    }
    assert(thrown2.isInstanceOf[IllegalArgumentException] ||
      thrown2.isInstanceOf[org.apache.spark.SparkException], s"got $thrown2")
    // a NULL ELEMENT fails loudly too: getInt would silently read it as
    // position 0 (a phantom position the lake never produces)
    val withNull = Seq((Seq[Integer](1, null, 9), Seq[Integer](5)))
      .toDF("pa", "pb")
    val thrown3 = intercept[Exception] {
      withNull.select(call_function("pos_mindist", col("pa"), col("pb"))).collect()
    }
    assert(thrown3.isInstanceOf[IllegalArgumentException] ||
      thrown3.isInstanceOf[org.apache.spark.SparkException], s"got $thrown3")
    val thrown4 = intercept[Exception] {
      withNull.select(call_function("pos_within", col("pa"), col("pb"), lit(5))).collect()
    }
    assert(thrown4.isInstanceOf[IllegalArgumentException] ||
      thrown4.isInstanceOf[org.apache.spark.SparkException], s"got $thrown4")
  }

  test("gram_products + gramTriangle equal the lambda triangle they replace (and guard edges)") {
    import spark.implicits._
    GraftExtensions.register(spark)
    // randomized vectors (fixed seed) at the catalog dimension: the native
    // flattened-products expression must equal the nested-transform lambda
    // form element for element, and gramTriangle's pos → (i, j) inversion
    // must reconstruct every one of the d(d+1)/2 triangle positions
    val d = 64
    val rnd = new scala.util.Random(20260818L)
    val rows = (1 to 20).map { id =>
      (id.toLong, Seq.fill(d)(rnd.nextLong(2000001L) - 1000000L))
    }
    val df = rows.toDF("id", "v")
    val lambdaTri = flatten(transform(sequence(lit(0), lit(d - 1)), i =>
      transform(sequence(i, lit(d - 1)), j =>
        element_at(col("v"), i + 1) * element_at(col("v"), j + 1))))
    val out = df.select(col("id"),
      call_function("gram_products", col("v")).as("native"),
      lambdaTri.as("lambda")).collect()
    out.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"id=${r.getLong(0)}: gram_products != lambda triangle")
    }
    // gramTriangle end-to-end: (i, j, n, s) over the same rows must equal
    // the definition computed in pure Scala — this exercises the literal
    // posMap inversion (pos → (i, j)) at EVERY pos in [0, d(d+1)/2)
    val expected = {
      val acc = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
      rows.foreach { case (_, v) =>
        for (i <- 0 until d; j <- i until d) {
          val (n0, s0) = acc.getOrElse((i.toLong, j.toLong), (0L, 0L))
          acc((i.toLong, j.toLong)) =
            (n0 + 1L, s0 + Math.multiplyExact(v(i), v(j)))
        }
      }
      acc.toMap
    }
    val got = queries.SimilarityQueries.gramTriangle(df.select(col("v")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.size == d * (d + 1) / 2, s"expected ${d * (d + 1) / 2} triangle rows, got ${got.size}")
    assert(got == expected, "gramTriangle (native, pos-keyed) != per-pair definition")
    // null ELEMENT fails loudly (the lambda form would emit a null product
    // that sum skips while count still counts — silently corrupting n)
    val withNull = Seq(Tuple1(Seq[java.lang.Long](1L, null, 3L))).toDF("v")
    val thrown = intercept[Exception] {
      withNull.select(call_function("gram_products", col("v"))).collect()
    }
    assert(thrown.isInstanceOf[IllegalArgumentException] ||
      thrown.isInstanceOf[org.apache.spark.SparkException], s"got $thrown")
    // overflow throws (multiplyExact — the ANSI-multiply semantics of the
    // lambda form), never wraps silently
    val big = Seq(Tuple1(Seq(Long.MaxValue / 2, 3L))).toDF("v")
    val thrown2 = intercept[Exception] {
      big.select(call_function("gram_products", col("v"))).collect()
    }
    assert(thrown2.isInstanceOf[ArithmeticException] ||
      thrown2.isInstanceOf[org.apache.spark.SparkException], s"got $thrown2")
    // null ARRAY → null (UnaryExpression null propagation, = explode-skip)
    val nullArr = spark.sql("SELECT gram_products(CAST(NULL AS ARRAY<BIGINT>)) AS g")
      .collect().head
    assert(nullArr.isNullAt(0))
    // gramTriangle skips a null vector (its rows carry n = 1, not 2) and
    // raises on a vector of the wrong length instead of mis-filing or
    // dropping its products
    val ok = Seq.fill(d)(1L)
    val tri = queries.SimilarityQueries.gramTriangle(
      Seq(Some(ok), None).toDF("v")).collect()
    assert(tri.length == d * (d + 1) / 2 && tri.forall(_.getLong(2) == 1L))
    for (len <- Seq(d - 1, d + 1)) {
      val thrown3 = intercept[Exception] {
        queries.SimilarityQueries.gramTriangle(
          Seq(ok, Seq.fill(len)(1L)).toDF("v")).collect()
      }
      val msgs = Iterator.iterate[Throwable](thrown3)(_.getCause)
        .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).mkString(" | ")
      assert(msgs.contains(s"vector length $len"), s"len=$len: $msgs")
    }
  }

  test("every native expression COMPILES under CODEGEN_ONLY (no silent fallback)") {
    // Spark's default FALLBACK factory mode hides generated-Java compile
    // errors behind interpreted eval (correct answers, codegen perf lost —
    // exactly how a stripMargin-eaten `|` in tile_morton's template went
    // unnoticed). CODEGEN_ONLY turns any miscompile into a hard failure.
    GraftExtensions.register(spark)
    // repartition is load-bearing: a Project directly over a LocalRelation
    // is evaluated interpreted AT PLAN TIME (ConvertToLocalRelation) and
    // never exercises codegen at all
    sampleDf.repartition(4).createOrReplaceTempView("pts_cg")
    // wholeStage=false is load-bearing too: whole-stage compile failures
    // fall back unconditionally (spark.sql.codegen.fallback), hiding the
    // bug — only the plain-projection path honors CODEGEN_ONLY strictly
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val rows = spark.sql(
        // the two DIFFERENT-zoom tile_id calls are load-bearing: identical
        // calls are deduplicated by subexpression elimination, so only a
        // non-dedupable pair exercises two TileId codegen instances in ONE
        // scope (the fixed-local collision that freshName now prevents)
        """SELECT tile_row(lat, zoom) AS r, tile_col(lon, zoom) AS c,
          |  tile_id(lat, lon, zoom) AS id, tile_id(lat, lon, 11) AS id11,
          |  tile_parent(tile_id(lat, lon, zoom)) AS parent,
          |  tile_decode(tile_id(lat, lon, zoom)).center_lat AS clat,
          |  size(tile_ancestors(tile_id(lat, lon, zoom))) AS n_anc,
          |  size(tile_children(tile_id(lat, lon, zoom))) AS n_kids,
          |  tile_morton(tile_row(lat, zoom), tile_col(lon, zoom)) AS zkey,
          |  vec_l2sq(array(tile_row(lat, zoom), tile_col(lon, zoom)),
          |           array(0L, 0L)) AS vd2,
          |  vec_dot(array(cast(lat as float), cast(lon as float)),
          |          array(cast(1.0 as float), cast(2.0 as float))) AS vdot,
          |  pos_mindist(array(zoom, zoom + 3), array(zoom + 1)) AS pmd,
          |  pos_within(array(zoom, zoom + 3), array(zoom + 1), 1) AS pw,
          |  size(gram_products(array(cast(zoom as bigint), 2L, 3L))) AS ngp
          |FROM pts_cg""".stripMargin).collect()
      assert(rows.length == 2000)
      rows.foreach { r => assert(r.getInt(7) == 4) } // n_kids (after id11)
      // spot-check tile_morton's value under forced codegen against pure Scala
      val z = spark.sql(
        "SELECT tile_morton(tile_row(lat, 12), tile_col(lon, 12)) AS k, lat, lon FROM pts_cg")
        .collect()
      z.foreach { r =>
        val expected = TileMath.morton(
          TileMath.rowFromLatitude(r.getDouble(1), 12),
          TileMath.columnFromLongitude(r.getDouble(2), 12))
        assert(r.getLong(0) == expected)
      }
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("bm25ScoreInt equals Bm25ScoreSql on randomized positive operands (the block-bound twin)") {
    import spark.implicits._
    // the block-max bounds are computed DRIVER-side by the Scala twin
    // while every score the oracle checks is the SQL law — a drift
    // between them could under-bound a block and silently prune a
    // top-k posting, so pin value equality on randomized draws spanning
    // the corpus-sized ranges the formula sees (tf small, dl to 10^4,
    // df <= n to 10^7, t to 10^9)
    val rnd = new scala.util.Random(20260816L)
    val cases = (1 to 80).map { id =>
      val n = 1L + rnd.nextInt(10000000)
      val df = 1L + (rnd.nextLong().abs % n)
      (id.toLong, 1L + rnd.nextInt(50), 1L + rnd.nextInt(10000), df, n,
        n * (1L + rnd.nextInt(100)))
    } :+ ((99L, 1L, 1L, 1L, 1L, 1L))
    val out = cases.toDF("id", "tf", "dl", "df", "n", "t")
      .select(col("id"), col("tf"), col("dl"), col("df"), col("n"), col("t"),
        expr(graft.queries.TextQueries.Bm25ScoreSql).as("sql_sc"))
      .collect()
    out.foreach { r =>
      val expected = graft.queries.TextQueries.bm25ScoreInt(
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(r.getLong(6) == expected,
        s"id=${r.getLong(0)}: SQL ${r.getLong(6)} != Scala twin $expected")
    }
  }
}
