package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.queries.{DedupQueries, EventQueries, TextQueries}

/** Semantics tests for the training-pipeline query family on PLANTED
  * fixtures — the edge cases the corpus-level oracle gate can't isolate:
  * delete-last vs delete-then-upsert CDC keys, an exactly-shared 10-word
  * chunk, a planted benchmark 5-gram hit, and the bloom-prefilter
  * invisibility property.
  *
  * Fixtures are written as parquet into a temp "sf dir" so the tests drive
  * the REAL query builders (which read `$dir/<table>.parquet`), not a
  * re-implementation of them.
  */
class PipelineQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfSmoke

  private lazy val fixtureDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-pipeline-fixture").toString

    val docSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    // w1..w10 is a shared 10-word chunk: docs 1 and 2 both start with it, so
    // chunk-level dedup must flag it in both; doc 3 is fully unique.
    // doc 0 (0 % 97 == 0) is the benchmark slice for contamination; doc 1's
    // tail embeds benchmark words q1..q5 consecutively -> one planted 5-gram
    // overlap; docs 2 and 3 share no 5-gram with doc 0.
    val chunk = (1 to 10).map(i => s"w$i").mkString(" ")
    val docRows = Seq(
      Row(0L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10", "en", "src0", 30L),
      Row(1L, s"$chunk q1 q2 q3 q4 q5 t1 t2 t3 t4 t5", "en", "src0", 60L),
      Row(2L, s"$chunk u1 u2 u3 u4 u5 u6 u7 u8 u9 u10", "en", "src0", 60L),
      Row(3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12", "en", "src1", 40L))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, 1), docSchema)
      .write.parquet(s"$dir/documents.parquet")

    val evSchema = StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("ts", TimestampType, nullable = false),
      StructField("user_id", LongType, nullable = false),
      StructField("event_type", StringType, nullable = false),
      StructField("value", DoubleType, nullable = false),
      StructField("props", StringType, nullable = false)))
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    // user 1: upsert then DELETE last -> key dropped from the snapshot
    // user 2: delete then upsert last -> key survives with the last value
    // user 3: two upserts at the SAME ms -> higher event_id wins (total order)
    val evRows = Seq(
      Row(10L, ts(1000L), 1L, "view", 1.5, "{}"),
      Row(11L, ts(2000L), 1L, "error", 0.0, "{}"),
      Row(20L, ts(1000L), 2L, "error", 0.0, "{}"),
      Row(21L, ts(2000L), 2L, "purchase", 5.25, "{}"),
      Row(30L, ts(3000L), 3L, "click", 7.0, "{}"),
      Row(31L, ts(3000L), 3L, "view", 9.0, "{}"))
    spark.createDataFrame(spark.sparkContext.parallelize(evRows, 1), evSchema)
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("cdc_merge: delete-last drops the key; delete-then-upsert keeps it; ties break on event_id") {
    val out = EventQueries.cdcMerge.build(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(1L), "user 1's last op is a delete -> must drop out")
    val u2 = out(2L)
    assert(u2.getString(1) == "purchase" && u2.getDouble(2) == 5.25 &&
      u2.getLong(4) == 2L && u2.getLong(5) == 1L,
      s"user 2 must survive with the post-delete upsert: $u2")
    val u3 = out(3L)
    assert(u3.getString(1) == "view" && u3.getDouble(2) == 9.0,
      s"same-ms tie must resolve to the higher event_id: $u3")
  }

  test("cdc_scd2: deletes close versions; deleted keys have no current row; ties order by event_id") {
    val out = EventQueries.cdcScd2.build(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    // user 1 (view@1000 then DELETE@2000): one version, closed at the
    // delete, and NO current row for the key
    val u1 = out((1L, 1L))
    assert(u1.getString(2) == "view" && u1.getLong(4) == 1000L &&
      u1.getLong(5) == 2000L && !u1.getBoolean(6), s"delete must close v1: $u1")
    assert(!out.contains((1L, 2L)), "the delete itself opens no version")
    // user 2 (delete@1000 then upsert@2000): the upsert is version 1, open
    val u2 = out((2L, 1L))
    assert(u2.getString(2) == "purchase" && u2.getLong(4) == 2000L &&
      u2.isNullAt(5) && u2.getBoolean(6), s"post-delete upsert is current: $u2")
    // user 3: two upserts at the SAME ms — event_id orders them; v1 gets a
    // degenerate [3000,3000) interval, v2 is current
    val v1 = out((3L, 1L)); val v2 = out((3L, 2L))
    assert(v1.getString(2) == "click" && v1.getLong(5) == 3000L && !v1.getBoolean(6))
    assert(v2.getString(2) == "view" && v2.isNullAt(5) && v2.getBoolean(6))
  }

  test("dedup_paragraph: a shared 10-word chunk is flagged in both docs, unique docs at zero") {
    val out = DedupQueries.dedupParagraph.build(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // docs 1 and 2: 2 chunks each (10 + tail), exactly one (the shared head) duplicated
    assert(out(1L) == (2L, 1L) && out(2L) == (2L, 1L),
      s"planted shared chunk must be flagged exactly once per doc: $out")
    assert(out(3L)._2 == 0L, s"unique doc must report zero duplicated chunks: $out")
    assert(out(0L)._2 == 0L, s"doc 0 shares words but no full chunk: $out")
  }

  test("txt_contamination: a planted benchmark 5-gram flags the doc; clean docs are absent") {
    val out = TextQueries.txtContamination.build(spark, fixtureDir).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L),
      s"exactly doc 1 embeds a benchmark 5-gram: ${out.toSeq}")
    val r = out.head
    // "q1 q2 q3 q4 q5" is the only shared 5-gram, from 1 benchmark doc
    assert(r.getLong(2) == 1L && r.getLong(3) == 1L,
      s"expected exactly one shared gram from one benchmark doc: $r")
  }

  test("pipeline_corpus: the manifest PARTITIONS the corpus; split assigned exactly to kept docs") {
    val docs = graft.queries.Tables(spark, sf, "documents")
    val out = graft.queries.CorpusPipeline.pipelineCorpus.build(spark, sf).collect()
    assert(out.length == docs.count(), "every doc must appear exactly once")
    assert(out.map(_.getLong(0)).distinct.length == out.length, "no doc twice")
    val statuses = Set("kept", "low_quality", "duplicate", "contaminated", "benchmark")
    assert(out.forall(r => statuses.contains(r.getString(1))))
    // split is non-null IFF kept, and draws only from the three split names
    assert(out.forall { r =>
      val kept = r.getString(1) == "kept"
      val split = Option(r.getString(3))
      kept == split.isDefined &&
        split.forall(Set("train", "val", "test").contains)
    }, "split must be assigned exactly on kept docs")
    // the benchmark slice is recovered exactly
    assert(out.filter(_.getString(1) == "benchmark").map(_.getLong(0)).toSet ==
      out.map(_.getLong(0)).filter(_ % 29 == 0).toSet)
    // a duplicate's cluster must still KEEP some member: kept+low_quality etc.
    // cover the rest of the corpus — at minimum, kept docs exist
    assert(out.count(_.getString(1) == "kept") > 0)
  }

  test("CorpusCuration.manifest honors Config variants (the API beyond catalog defaults)") {
    import graft.operators.CorpusCuration
    val docs = graft.queries.Tables(spark, sf, "documents")
    val cfg = CorpusCuration.Config(
      benchMod = 13, minScoreX1000 = 500, trainPct = 50, valPct = 25, splitSalt = "alt")
    val out = CorpusCuration.manifest(docs, cfg).collect()
    assert(out.length == docs.count())
    assert(out.filter(_.getString(1) == "benchmark").map(_.getLong(0)).toSet ==
      out.map(_.getLong(0)).filter(_ % 13 == 0).toSet, "benchMod must move the slice")
    val kept = out.filter(_.getString(1) == "kept")
    assert(kept.forall(_.getLong(2) >= 500), "raised floor must bind the kept set")
    // split re-derived independently through the pure-Scala hash twin
    kept.foreach { r =>
      val h = graft.functions.PortableHash.h48(s"alt:${r.getLong(0)}") % 100
      val expect = if (h < 50) "train" else if (h < 75) "val" else "test"
      assert(r.getString(3) == expect,
        s"doc ${r.getLong(0)}: split ${r.getString(3)} != $expect (h=$h)")
    }
  }

  test("CorpusCuration.manifest PII stage: threshold law, priority, and off-by-default") {
    import graft.operators.CorpusCuration
    import org.apache.spark.sql.functions._
    val docs = graft.queries.Tables(spark, sf, "documents")
    val planted = docs.select(col("doc_id"),
      graft.queries.TextQueries.PlantedPii.plant(col("doc_id"), col("text"))
        .as("text"),
      col("n_chars"))
    val out = CorpusCuration
      .manifest(planted, CorpusCuration.Config(piiDropAbove = Some(1L)))
      .collect()
    val statusOf = out.map(r => r.getLong(0) -> r.getString(1)).toMap
    // re-derive the expected pii set: >1 planted kinds and not caught by a
    // higher-priority arm (benchmark %29, contamination)
    val multiKind = statusOf.keySet.filter(id =>
      Seq(5, 7, 11).count(m => id % m == 0) >= 2)
    assert(multiKind.exists(id => statusOf(id) == "pii"),
      "the pii arm must fire on multi-kind plants")
    out.filter(_.getString(1) == "pii").foreach { r =>
      assert(multiKind.contains(r.getLong(0)),
        s"doc ${r.getLong(0)} classified pii with <=1 hit")
      assert(r.getLong(0) % 29 != 0, "benchmark must outrank pii")
      assert(r.isNullAt(3), "pii docs must not get a split")
    }
    // off-by-default: same planted input, no threshold -> no pii status and
    // the piiless classification is untouched by the stage machinery
    val off = CorpusCuration.manifest(planted).collect()
    assert(!off.exists(_.getString(1) == "pii"))
    assert(off.map(_.getString(1)).toSet.subsetOf(
      Set("benchmark", "contaminated", "duplicate", "low_quality", "kept")))
  }

  test("corpus_budget_select: keeps a score-prefix, never collapses to zero docs") {
    // the fixture's 4 docs concentrate char mass in few score buckets, so
    // this exercises the boundary the oracle gate can't: selection must be
    // a downward-closed score prefix, must always include the best bucket
    // (even when that bucket alone exceeds the 40% budget), and may over-
    // shoot by at most one bucket's mass
    val rows = graft.queries.CorpusPipeline.corpusBudget.build(spark, fixtureDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty, "budget selection must never return zero docs")
    val all = graft.queries.Tables(spark, fixtureDir, "documents")
      .selectExpr("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keptScores = rows.map(_._2)
    val minKept = keptScores.min
    val budget = all.values.sum * 2 / 5
    // over-shoot bound: mass STRICTLY ABOVE the boundary bucket fits the
    // budget (the boundary bucket itself is the allowed over-shoot)
    val aboveBoundary = rows.filter(_._2 > minKept).map(_._3).sum
    assert(aboveBoundary < math.max(budget, 1),
      s"mass above the boundary bucket ($aboveBoundary) must fit the budget ($budget)")
    // prefix property, via the production scorer (not a re-implementation):
    // the whole best bucket is kept, and every dropped doc scores strictly
    // below every kept one
    import org.apache.spark.sql.functions.{col, split}
    val scored = graft.queries.Tables(spark, fixtureDir, "documents")
      .select(col("doc_id"),
        graft.functions.TextFunctions.qualityScore(split(col("text"), " ")).as("score"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val keptIds = rows.map(_._1).toSet
    val maxScore = scored.map(_._2).max
    assert(scored.filter(_._2 == maxScore).forall(t => keptIds(t._1)),
      "the best score bucket must always be selected")
    assert(scored.filterNot(t => keptIds(t._1)).forall(_._2 < minKept),
      "no dropped doc may score into a kept bucket")
    spark.sharedState.cacheManager.clearCache()
  }

  test("mergeBlobs law: random >=3-way partitions of corpus events fold to the full run") {
    // the incremental-maintenance law as a PROPERTY: for ANY disjoint row
    // split A1..An of the input, fold(merge, run(A1)..run(An)) must be
    // byte-identical to run(A1 u ... u An) — not just the time-based split
    // the catalog query uses. Partitions here are row-random (hash of the
    // whole row identity, seeded), so tiles, users, and timespans all
    // straddle every partition boundary.
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    import graft.operators.HeatmapPipeline
    val cfg = HeatmapPipeline.Config(fineZoom = 12, timespans = true)
    val locations = graft.queries.HeatmapQueries.locationsFromEvents(spark, sf).cache()
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toSeq.sorted
    val full = canon(HeatmapPipeline.run(locations, cfg))
    assert(full.nonEmpty)
    for ((seed, nParts) <- Seq((11, 3), (47, 4))) {
      val bucket = pmod(xxhash64(col("user_id"), col("timestamp"),
        col("latitude"), lit(seed)), lit(nParts))
      val parts = (0 until nParts).map(i => locations.filter(bucket === i))
      val folded = parts.tail.foldLeft(HeatmapPipeline.run(parts.head, cfg)) {
        (acc, p) => HeatmapPipeline.mergeBlobs(acc, HeatmapPipeline.run(p, cfg))
      }
      assert(canon(folded) == full, s"merge law violated for seed=$seed parts=$nParts")
    }
    locations.unpersist()
  }

  test("CacheScope: public operators leave nothing cached after release()") {
    import graft.operators.{CacheScope, CorpusCuration, MinHashLSH, TriangleCount}
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    val docs = graft.queries.Tables(spark, sf, "documents")
    val scope = new CacheScope
    CorpusCuration.manifest(docs, CorpusCuration.Config(), scope).count()
    val (_, pairs) = MinHashLSH.signaturesAndPairs(docs, scope = scope)
    pairs.count()
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    TriangleCount.perNode(edges, scope = scope).count()
    assert(!spark.sharedState.cacheManager.isEmpty,
      "operators should have cached intermediates before release")
    scope.release()
    assert(spark.sharedState.cacheManager.isEmpty,
      "release() must unpersist every operator intermediate")
    // RDD-level blocks too: ConnectedComponents' final localCheckpoint lives
    // outside the SQL cache manager and must be released through the scope
    assert(spark.sparkContext.getPersistentRDDs.size <= rddsBefore,
      s"release() must also drop checkpoint RDD blocks: " +
        s"${spark.sparkContext.getPersistentRDDs.size} > $rddsBefore")
  }

  test("CorpusCuration.manifest classifies null-text docs low_quality, never kept-with-null-score") {
    import graft.operators.CorpusCuration
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true),
      StructField("n_chars", LongType, nullable = false)))
    val rows = Seq(
      Row(1L, null, 0L),
      Row(2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", 56L))
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val out = CorpusCuration.manifest(docs).collect().map(r => r.getLong(0) -> r).toMap
    val nullDoc = out(1L)
    assert(nullDoc.getString(1) == "low_quality",
      s"null text must be low_quality, got ${nullDoc.getString(1)}")
    assert(nullDoc.isNullAt(3), "a low_quality doc must not get a split")
    spark.sharedState.cacheManager.clearCache()
  }

  test("dedup_incremental: bucket prefilter is invisible — equals the plain left join, and covers both branches") {
    val viaQuery = DedupQueries.dedupIncremental.build(spark, sf).collect().toSeq
    // reference formulation: NO prefilter, one plain left join
    val keyed = graft.queries.Tables(spark, sf, "documents")
      .select(col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))).as("set_key"))
    val hist = keyed.filter(col("doc_id") % 10 < 7).groupBy("set_key")
      .agg(count(lit(1)).as("n_hist"), min(col("doc_id")).as("first_hist_id"))
    val plain = keyed.filter(col("doc_id") % 10 >= 7)
      .join(hist, Seq("set_key"), "left")
      .select(col("doc_id"), col("set_key"),
        col("first_hist_id").isNotNull.as("is_dup"),
        coalesce(col("n_hist"), lit(0L)).as("n_hist"), col("first_hist_id"))
      .orderBy("doc_id").collect().toSeq
    assert(viaQuery == plain, "prefiltered result must equal the unfiltered join")
    // the fixture corpus must exercise BOTH branches or the test proves nothing
    val dups = viaQuery.count(_.getBoolean(2))
    assert(dups > 0 && dups < viaQuery.size,
      s"need both dup and new docs at $sf: $dups of ${viaQuery.size}")
  }

  test("Tables: events.ts normalizes to TIMESTAMP with epoch-true values") {
    // the driver regenerates testdata between rounds and has already
    // changed ts's physical encoding once (TIMESTAMP(NANOS) → naive
    // micros, which Spark infers as watermark-incompatible TIMESTAMP_NTZ
    // and which a forced-BIGINT read mis-scales 1000×) — pin the
    // normalized contract, not the encoding
    val ev = graft.queries.Tables(spark, sf, "events")
    assert(ev.schema("ts").dataType == TimestampType,
      s"ts must normalize to TIMESTAMP, got ${ev.schema("ts").dataType}")
    // value sanity at epoch scale: the synthetic corpus lives in 2023–2025;
    // a nanos-as-micros (or micros-as-millis) mis-scale lands decades away
    val Array(mn, mx) = ev.agg(min(unix_millis(col("ts"))),
      max(unix_millis(col("ts")))).collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val y2023 = 1672531200000L
    val y2026 = 1767225600000L
    assert(mn >= y2023 && mx < y2026,
      s"event times [$mn, $mx] outside 2023–2026: ts mis-scaled or mis-typed")
  }

  test("corpus_diff: per-doc laws never flip — only corpus-dependent stages move") {
    val m = graft.queries.CorpusPipeline.corpusDiff.build(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // benchmark membership is a doc_id law — it can never appear on or
    // disappear from a doc that exists in both versions
    assert(m.forall { case (a, b, _) =>
      a == "absent" || (a == "benchmark") == (b == "benchmark") },
      s"benchmark membership flipped: ${m.mkString(", ")}")
    // quality is per-doc: kept <-> low_quality transitions are impossible
    // (a doc can only MOVE to a corpus-dependent reason, or stay)
    assert(!m.exists { case (a, b, _) =>
      Set(a, b) == Set("kept", "low_quality") },
      s"quality flipped with the corpus: ${m.mkString(", ")}")
    // and growing the corpus should actually demote something, or the
    // audit audits nothing. ASSUME, not assert: this is a property of the
    // driver-owned testdata (which has been regenerated between rounds
    // before), not of the code — a regeneration with no near-dup pair
    // straddling the v1 slice cancels the check instead of failing a
    // defect-free suite. The two law assertions above stay hard.
    assume(m.exists { case (a, b, _) => a != "absent" && a != b },
      s"testdata at $sf produced no corpus-dependent transition: ${m.mkString(", ")}")
  }

  test("mixtureSample: hash-threshold law, edge weights, and growth stability") {
    import graft.operators.CorpusCuration
    val docs = graft.queries.Tables(spark, sf, "documents")
    val weights = Seq("src0" -> 0L, "src1" -> 1000000L, "src2" -> 300000L)
    val out = CorpusCuration.mixtureSample(docs, weights, defaultPpm = 500000L)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getBoolean(3), r.getLong(4), r.getLong(5))).toMap
    assert(out.size == docs.count(), "manifest must cover every doc")
    // every keep decision re-derived through the pure-Scala hash twin, and
    // the config/default routing checked per source
    out.foreach { case (id, (src, ppm, kept, _, _)) =>
      val expectPpm = weights.toMap.getOrElse(src, 500000L)
      assert(ppm == expectPpm, s"doc $id: target_ppm $ppm != $expectPpm for $src")
      val h = graft.functions.PortableHash.h48(s"mx:$id") % 1000000L
      assert(kept == (h < ppm), s"doc $id: is_kept $kept != (h=$h < $ppm)")
    }
    // edge weights: 0 drops the whole source, 1e6 keeps it entirely
    assert(!out.values.exists(v => v._1 == "src0" && v._3), "ppm=0 must drop all")
    assert(out.values.filter(_._1 == "src1").forall(_._3), "ppm=1e6 must keep all")
    // achieved counts attached to each row must agree with the doc flags
    out.values.groupBy(_._1).foreach { case (src, rows) =>
      val kept = rows.count(_._3).toLong
      assert(rows.forall(r => r._4 == kept && r._5 == rows.size.toLong),
        s"$src: src_kept/src_total must equal the realized counts")
    }
    // growth stability (the hash-threshold property the operator exists
    // for): sampling a SUB-corpus makes exactly the same per-doc decisions,
    // so a source's sample only grows as the corpus grows
    val cut = docs.agg(expr("percentile_approx(doc_id, 0.5)")).collect()(0).getLong(0)
    val sub = CorpusCuration.mixtureSample(
      docs.filter(col("doc_id") < cut), weights, defaultPpm = 500000L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(sub.nonEmpty && sub.forall { case (id, kept) => out(id)._3 == kept },
      "sub-corpus decisions must match the full corpus doc-for-doc")
  }

  test("mixtureSample: null sources survive as a defaultPpm group; bad configs rejected") {
    import graft.operators.CorpusCuration
    import spark.implicits._
    // unattributed docs are real at ingest time — they must come back in
    // the manifest (the accounting join is null-safe), sampled at the
    // default rate, with their own achieved-counts group
    val docs = Seq((1L, "web"), (2L, null: String), (3L, null: String),
      (4L, "web"), (5L, "books")).toDF("doc_id", "source")
    val out = CorpusCuration.mixtureSample(docs, Seq("web" -> 1000000L),
      defaultPpm = 1000000L).collect()
      .map(r => r.getLong(0) -> (Option(r.getString(1)), r.getLong(2),
        r.getBoolean(3), r.getLong(4), r.getLong(5))).toMap
    assert(out.size == 5, s"null-source docs dropped from the manifest: ${out.keySet}")
    assert(out(2L)._1.isEmpty && out(2L)._2 == 1000000L && out(2L)._3,
      "null source must sample at defaultPpm")
    assert(out(2L)._4 == 2L && out(2L)._5 == 2L,
      "the null group's achieved counts must cover exactly the null docs")
    assert(out(5L)._4 == 1L && out(5L)._5 == 1L, "books group accounting")
    // contradictory configs fail fast instead of silently duplicating rows
    intercept[IllegalArgumentException] {
      CorpusCuration.mixtureSample(docs, Seq("web" -> 500000L, "web" -> 300000L), 0L)
    }
    intercept[IllegalArgumentException] {
      CorpusCuration.mixtureSample(docs, Seq((null: String) -> 500000L), 0L)
    }
  }

  test("mixtureEpochs: copy law, degeneracy to mixtureSample, epoch cap") {
    import graft.operators.CorpusCuration
    val docs = graft.queries.Tables(spark, sf, "documents")
    val weights = Seq("src0" -> 2500000L, "src1" -> 1000000L, "src2" -> 400000L)
    val out = CorpusCuration.mixtureEpochs(docs, weights, defaultPpm = 1500000L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // per-doc copy sets are exactly 0..n_copies-1 for the hash-derived count
    val byDoc = out.groupBy(_._1)
    byDoc.foreach { case (id, rows) =>
      val ppm = rows.head._3
      val h = graft.functions.PortableHash.h48(s"mx:$id") % 1000000L
      val expect = ppm / 1000000L + (if (h < ppm % 1000000L) 1L else 0L)
      assert(rows.map(_._4).sorted.toSeq == (0L until expect),
        s"doc $id: copies ${rows.map(_._4).sorted.toSeq} != 0 until $expect")
    }
    // src0 upsampled: every doc appears at least twice (2 whole epochs)
    assert(byDoc.collect { case (_, rs) if rs.head._2 == "src0" => rs.size }
      .forall(_ >= 2), "2.5 epochs must emit >= 2 copies per doc")
    // accounting: src_emitted = emitted copies, src_total = input docs
    out.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.forall(_._5 == rows.size.toLong),
        s"$src: src_emitted must equal emitted copy rows")
    }
    // DEGENERACY: with every weight <= 1e6, the emitted set is exactly
    // mixtureSample's kept set, all at copy 0 — one law, two operators
    val downW = Seq("src0" -> 700000L, "src1" -> 0L)
    val eps = CorpusCuration.mixtureEpochs(docs, downW, defaultPpm = 300000L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    val smp = CorpusCuration.mixtureSample(docs, downW, defaultPpm = 300000L)
      .collect().filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    assert(eps.keySet == smp && eps.values.forall(_ == 0L),
      "epochs with ppm <= 1e6 must equal mixtureSample's kept set at copy 0")
    // the fat-finger guard: 1e9 ppm (1000 epochs) is rejected
    intercept[IllegalArgumentException] {
      CorpusCuration.mixtureEpochs(docs, Seq("src0" -> 1000000000L), 0L)
    }
  }

  test("quotaCap: hard cap held, bucket-threshold law, tightening monotonicity") {
    import graft.operators.CorpusCuration
    val docs = graft.queries.Tables(spark, sf, "documents")
    val caps = Seq("src0" -> 5L, "src1" -> 0L, "src2" -> 100000L)
    val out = CorpusCuration.quotaCap(docs, caps, defaultCap = 12L)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getBoolean(3), r.getLong(4), r.getLong(5))).toMap
    assert(out.size == docs.count(), "manifest must cover every doc")
    // config/default routing, and the decision re-derived via the pure-Scala
    // twin of the bucket-threshold law
    val bySrc = out.toSeq.groupBy(_._2._1)
    bySrc.foreach { case (src, rows) =>
      val cap = caps.toMap.getOrElse(src, 12L)
      assert(rows.forall(_._2._2 == cap), s"$src: cap_docs must be $cap")
      val bkts = rows.map { case (id, _) =>
        id -> graft.functions.PortableHash.h48(s"qc:$id") % CorpusCuration.QuotaBuckets }
      val cum = bkts.groupBy(_._2).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
        .scanLeft((Long.MinValue, 0L)) { case ((_, c), (b, n)) => (b, c + n) }.drop(1)
      val t = cum.filter(_._2 <= cap).map(_._1).maxOption
      bkts.foreach { case (id, b) =>
        assert(out(id)._3 == t.exists(b <= _),
          s"doc $id ($src): is_kept ${out(id)._3} != bucket $b vs threshold $t") }
      // the hard-cap contract: realized take never exceeds the cap
      val kept = rows.count(_._2._3).toLong
      assert(kept <= cap, s"$src: kept $kept exceeds cap $cap")
      assert(rows.forall(r => r._2._4 == kept && r._2._5 == rows.size.toLong),
        s"$src: src_kept/src_total must equal the realized counts")
    }
    // edges: cap 0 keeps nothing; a cap above the source size keeps all;
    // a binding cap actually selects a non-empty strict subset
    assert(bySrc("src1").forall(!_._2._3), "cap 0 must drop the whole source")
    assert(bySrc("src2").forall(_._2._3), "an under-cap source keeps everything")
    val s0kept = bySrc("src0").count(_._2._3)
    assert(s0kept > 0 && s0kept < bySrc("src0").size, "cap 5 must bind on src0")
    // monotone tightening: on a SUB-corpus the per-source thresholds can
    // only be looser, so every doc the FULL corpus keeps is also kept when
    // the corpus around it shrinks — past drops never resurrect as data
    // grows (the quota twin of the hash-threshold growth story)
    val cut = docs.agg(expr("percentile_approx(doc_id, 0.5)")).collect()(0).getLong(0)
    val sub = CorpusCuration.quotaCap(docs.filter(col("doc_id") < cut), caps, 12L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(sub.nonEmpty && sub.forall { case (id, kept) => !out(id)._3 || kept },
      "full-corpus keeps must be kept in every sub-corpus")
    // MASS form: the realized take MASS per source never exceeds the cap,
    // and accounting is denominated in the same unit
    val mcaps = Seq("src0" -> 2000L, "src1" -> 0L)
    val massOut = CorpusCuration.quotaCapMass(docs, col("n_chars"), mcaps, 5000L)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getBoolean(3), r.getLong(4), r.getLong(5)))
    val chars = docs.select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    massOut.groupBy(_._2._1).foreach { case (src, rows) =>
      val cap = mcaps.toMap.getOrElse(src, 5000L)
      val keptMass = rows.filter(_._2._3).map(r => chars(r._1)).sum
      assert(keptMass <= cap, s"$src: kept mass $keptMass exceeds cap $cap")
      assert(rows.forall(r => r._2._4 == keptMass &&
        r._2._5 == rows.map(x => chars(x._1)).sum),
        s"$src: mass accounting must sum the unit, not count docs")
    }
    // degeneracy: mass ≡ 1 IS the count form, decision-for-decision
    val viaMass = CorpusCuration.quotaCapMass(docs, lit(1L), caps, 12L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out.forall { case (id, v) => viaMass(id) == v._3 },
      "quotaCapMass(lit(1)) must equal quotaCap doc-for-doc")
    // contradictory / malformed configs fail fast
    intercept[IllegalArgumentException] {
      CorpusCuration.quotaCap(docs, Seq("a" -> 5L, "a" -> 3L), 0L)
    }
    intercept[IllegalArgumentException] {
      CorpusCuration.quotaCap(docs, Seq((null: String) -> 5L), 0L)
    }
    intercept[IllegalArgumentException] {
      CorpusCuration.quotaCap(docs, Seq("a" -> -1L), 0L)
    }
  }

  test("txt_chunks: window law — counts, coverage, and the empty-doc row") {
    val out = TextQueries.txtChunks.build(spark, sf)
    val docs = graft.queries.Tables(spark, sf, "documents")
      .select(col("doc_id"), length(col("text")).as("len"))
    // per-doc row count == advertised n_chunks == ceil-by-stride law
    val perDoc = out.groupBy("doc_id").agg(
      count(lit(1)).as("rows"), max("n_chunks").as("nc"),
      max(col("start_char") + col("chunk_chars") - 1).as("covered"),
      min("chunk_chars").as("min_chars"))
    val joined = perDoc.join(docs, "doc_id")
      .withColumn("expect_nc", expr("(greatest(len, 1) - 1) div 150 + 1"))
    assert(joined.filter(col("rows") =!= col("nc") ||
      col("nc") =!= col("expect_nc")).isEmpty,
      "row count and n_chunks must both equal the stride law")
    // the last chunk reaches exactly end-of-text (full coverage, no overrun)
    assert(joined.filter(col("covered") =!= col("len")).isEmpty,
      "chunks must cover the text exactly to its last char")
    // every chunk's size is exactly the clamp law min(ChunkChars, remaining)
    assert(out.join(docs, "doc_id").filter(col("chunk_chars") =!=
      least(lit(graft.queries.TextQueries.ChunkChars),
        col("len") - col("start_char") + 1)).isEmpty,
      "chunk_chars must equal min(ChunkChars, chars remaining from start)")
  }

  test("txt_unigram_logprob: integer surprisal is exact on planted counts") {
    // fixture corpus: N = 62 tokens total; w1..w10 and q1..q5 occur twice
    // (surprisal = intlog2(62 div 2) = 4), all other words once (intlog2 62
    // = 5). Per-doc sums are then fully determined.
    val out = TextQueries.txtUnigramLogprob.build(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    assert(out(0L) == ((10L, 45L, 4500L, "boilerplate")), s"doc 0: ${out(0L)}")
    assert(out(1L) == ((20L, 85L, 4250L, "boilerplate")), s"doc 1: ${out(1L)}")
    assert(out(2L) == ((20L, 90L, 4500L, "boilerplate")), s"doc 2: ${out(2L)}")
    // doc 3 is all unique tokens: avg = 1000·intlog2(62) = 5000, the exact
    // band boundary (>= 5000 -> 'typical')
    assert(out(3L) == ((12L, 60L, 5000L, "typical")), s"doc 3: ${out(3L)}")
  }

  test("txt_importance: raw docs only; keep law; target-overlapping doc outranks disjoint doc") {
    val out = TextQueries.txtImportance.build(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toMap
    // target slice (doc 0) is scored against, never scored itself
    assert(out.keySet == Set(1L, 2L, 3L), s"raw pool only: ${out.keySet}")
    // n_feat is the doc's token count (every token contributes one feature)
    assert(out(1L)._1 == 20L && out(2L)._1 == 20L && out(3L)._1 == 12L,
      s"feature counts must equal token counts: $out")
    out.values.foreach { case (_, logw, _, keep) =>
      assert(keep == (logw > 0), s"keep law: $out")
    }
    // per-token normalization: JVM / truncates toward zero, matching both
    // engines' integer division on negatives
    out.foreach { case (_, (nf, logw, perTok, _)) =>
      assert(perTok == 1000L * logw / nf, s"per-token law: $out")
    }
    // the RATE comparison is the fair one (raw sums are length-biased):
    // the doc sharing q1..q5 with the target outranks the disjoint doc
    assert(out(1L)._3 > out(3L)._3,
      s"target-overlapping doc must outweigh the disjoint doc per token: $out")
  }

  test("corpus_order: a true permutation — contiguous per shard, shards concatenated in order") {
    val out = graft.queries.CorpusPipeline.corpusOrder.build(spark, sf)
    val n = graft.queries.Tables(spark, sf, "documents").count()
    // global_pos is a permutation of 0..N-1
    val g = out.agg(min("global_pos").as("mn"), max("global_pos").as("mx"),
      countDistinct("global_pos").as("d")).collect().head
    assert(g.getLong(0) == 0L && g.getLong(1) == n - 1 && g.getLong(2) == n,
      s"global_pos must be a permutation of 0..${n - 1}: $g")
    // per shard: local_pos contiguous from 1, and the shard's global range
    // is exactly [offset, offset + count) with shards back to back
    val shards = out.groupBy("shard").agg(
        count(lit(1)).as("cnt"), min("local_pos").as("lmn"),
        max("local_pos").as("lmx"), min("global_pos").as("gmn"),
        max("global_pos").as("gmx"))
      .orderBy("shard").collect()
    shards.foreach { r =>
      assert(r.getLong(2) == 1L && r.getLong(3) == r.getLong(1),
        s"local_pos must be contiguous 1..count in shard $r")
      assert(r.getLong(5) == r.getLong(4) + r.getLong(1) - 1,
        s"shard global range must be contiguous: $r")
    }
    shards.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(4) == a.getLong(5) + 1,
          s"shards must concatenate with no gap: $a -> $b")
      case _ =>
    }
  }
}
