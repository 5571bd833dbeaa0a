package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, MapType, StringType}

import graft.SparkEntry
import graft.operators.HeatmapPipeline
import graft.sources.LocationsSource

/** One traced operation: the time of the span that matches the untraced
  * operation, the per-layer metrics it yielded, and its error if any. */
final case class Traced(sample: Sample, metrics: Map[String, Double])

/** A benchmark workload. `op` is the timed operation; it always writes its
  * full output (to a real sink or to `noop`), never times a `.count()`. */
abstract class Workload(val spark: SparkSession, val work: Path) {
  def op(i: Int): Unit
  /** The untimed operation between the cold one and the timed ones. */
  def settle(): Unit = op(1)
  def traced(i: Int, tr: Tracer): Traced
  /** Output check, outside the timed region: None when the output is right. */
  def check(): Option[String]
  /** Input rows one operation consumes. */
  def rows: Long

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Workload {
  val Config = HeatmapPipeline.Config()

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  /** Data files under `p` (not Spark's `_SUCCESS` / `.crc` side files). */
  def dataFiles(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).filterNot { f =>
      val n = f.getFileName.toString
      n.startsWith(".") || n.startsWith("_")
    }.toList
    finally s.close()
  }

  def bytes(p: Path): Double = dataFiles(p).map(Files.size(_).toDouble).sum

  /** Counters of the span that ran the operation itself. */
  def opCounters(s: Span, nproc: Int): Map[String, Double] = Map(
    "plans.analysis_s" -> s.count("analysis_s"),
    "plans.optimization_s" -> s.count("optimization_s"),
    "plans.planning_s" -> s.count("planning_s"),
    "plans.exchanges" -> s.count("exchanges"),
    "plans.plan_chars" -> s.count("plan_chars"),
    "operators.shuffle_write_bytes" -> s.count("shuffle_write_bytes"),
    "operators.shuffle_read_bytes" -> s.count("shuffle_read_bytes"),
    "operators.shuffle_records" -> s.count("shuffle_records"),
    "operators.spill_bytes" -> s.count("spill_bytes"),
    "operators.fetch_wait_s" -> s.count("fetch_wait_s"),
    "operators.task_skew" -> s.taskSkew,
    "operators.gc_s" -> s.count("gc_s"),
    "operators.cpu_busy_ratio" -> s.count("cpu_s") / (s.seconds * nproc),
    "operators.jobs" -> s.count("jobs"),
    "operators.stages" -> s.count("stages"),
    "operators.tasks" -> s.count("tasks"),
    "streaming.batches" -> s.count("batches"),
    "streaming.add_batch_s" -> s.count("add_batch_s"),
    "streaming.commit_s" -> s.count("commit_s"),
    "streaming.query_planning_s" -> s.count("query_planning_s"),
    "streaming.state_rows" -> s.stateRows.values.sum.toDouble)

  /** For every (user group, zoom) the per-tile counts of a blob table must
    * sum to the group's point total, at every zoom the blobs carry. */
  def totalsCheck(blobs: DataFrame, expected: Map[String, Long]): Option[String] = {
    val zooms = math.max(Config.coarseZoom, Config.detailZoomDelta) to Config.fineZoom
    val got = blobs
      .select(split(col("id"), "\\|").getItem(0).as("g"),
        explode(from_json(col("heatmap"), MapType(StringType, DoubleType))))
      .groupBy(col("g"), split(col("key"), "_").getItem(0).cast("int").as("z"))
      .agg(sum(col("value")).as("n"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val want = for ((g, n) <- expected; z <- zooms) yield (g, z) -> n.toDouble
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    val wrong = want.collect { case (k, n) if got.get(k).exists(_ != n) => (k, n, got(k)) }
    if (missing.isEmpty && extra.isEmpty && wrong.isEmpty) None
    else Some(s"totals check: ${missing.size} (group, zoom) missing ${missing.take(3)}, " +
      s"${extra.size} unexpected ${extra.take(3)}, ${wrong.size} wrong ${wrong.take(3)}")
  }
}

/** Output directories of successive operations: each operation appends to a
  * fresh directory; older ones are deleted between operations, keeping the
  * last finished one for the output check. */
final class Outputs(root: Path, prefix: String) {
  private var lastOk: Option[Path] = None
  def next(i: Int): Path = {
    lastOk.foreach { keep =>
      Files.list(root).iterator().asScala.filter(_ != keep).foreach(Workload.deleteTree)
    }
    Files.createDirectories(root)
    root.resolve(s"$prefix-$i")
  }
  def done(p: Path): Unit = lastOk = Some(p)
  def last: Option[Path] = lastOk
}

/** A workload whose operation builds a blob table and writes it to a fresh
  * directory; the output check parses the last one back. */
abstract class BlobsWorkload(spark: SparkSession, work: Path, expected: Map[String, Long],
    nproc: Int) extends Workload(spark, work) {
  private val outs = new Outputs(work.resolve("out"), "blobs")

  /** The blob table one operation makes (lazy). */
  protected def build(): DataFrame
  protected def write(df: DataFrame, out: Path): Unit
  protected def readBack(out: Path): DataFrame
  /** Input files one operation reads. */
  protected def inputs: Seq[String]
  /** Traced spans of the lazy stages: the span that forced `build()`'s plan
    * through `noop`, and the stages' metrics. */
  protected def stages(tr: Tracer): (Span, Map[String, Double])

  def op(i: Int): Unit = {
    val out = outs.next(i)
    write(build(), out)
    outs.done(out)
  }

  def traced(i: Int, tr: Tracer): Traced = {
    val (sameAsNoop, stageMetrics) = stages(tr)
    val out = outs.next(i)
    var buildS = 0.0
    val (save, err) = tr.attempt("save") {
      val (df, b) = tr.span("build")(build())
      buildS = b.seconds
      tr.built(df)
      write(df, out)
    }
    if (err.isEmpty) outs.done(out)
    Traced(Sample(save.seconds, err.map(_.toString)), Workload.opCounters(save, nproc) ++
      stageMetrics ++ Stages.sink(save, buildS, sameAsNoop, out, inputs))
  }

  def check(): Option[String] = outs.last match {
    case None => Some("no operation finished")
    case Some(p) => Workload.totalsCheck(readBack(p), expected)
  }
}

/** The paper's batch job on `HeatmapJob`'s path: parquet locations →
  * `HeatmapPipeline.run` (default Config, alltime) → parquet append. */
final class PyramidBatch(spark: SparkSession, work: Path, locations: String,
    expected: Map[String, Long], val rows: Long, nproc: Int)
    extends BlobsWorkload(spark, work, expected, nproc) {
  private def read(): DataFrame = LocationsSource.read(spark, locations)
  protected def build(): DataFrame = HeatmapPipeline.run(read())
  protected def write(df: DataFrame, out: Path): Unit =
    df.write.mode("append").parquet(out.toString)
  protected def readBack(out: Path): DataFrame = spark.read.parquet(out.toString)
  protected def inputs: Seq[String] = Seq(locations)
  protected def stages(tr: Tracer): (Span, Map[String, Double]) = {
    val st = Stages.run(tr, () => read(), noop)
    (st.run, st.metrics)
  }
}

/** The reference's read-add-write-back step: a stored base blob table read
  * through the `graft-locations` connector, merged with `run` of one day of
  * new points, appended through the connector's two-phase commit. */
final class BlobAppend(spark: SparkSession, work: Path, baseDir: Path, delta: String,
    expected: Map[String, Long], val rows: Long, nproc: Int)
    extends BlobsWorkload(spark, work, expected, nproc) {
  private def readDelta(): DataFrame = LocationsSource.read(spark, delta)
  protected def readBack(out: Path): DataFrame =
    spark.read.format("graft-locations").option("table", "heatmaps").load(out.toString)
  protected def build(): DataFrame =
    HeatmapPipeline.mergeBlobs(readBack(baseDir), HeatmapPipeline.run(readDelta()))
  protected def write(df: DataFrame, out: Path): Unit =
    df.write.mode("append").format("graft-locations").option("table", "heatmaps").save(out.toString)
  protected def inputs: Seq[String] = Seq(baseDir.toString, delta)
  protected def stages(tr: Tracer): (Span, Map[String, Double]) = {
    val (_, base) = tr.span("read-base")(noop(readBack(baseDir)))
    val st = Stages.run(tr, () => readDelta(), noop)
    val (_, merge) = tr.span("mergeBlobs")(noop(build()))
    (merge, st.metrics ++ Map(
      "sources.scan_s" -> (base.seconds + st.read.seconds),
      "operators.merge_s" -> (merge.seconds - base.seconds - st.run.seconds)))
  }
}

/** The lazy stages of `HeatmapPipeline.run`, each forced through `noop`;
  * a stage's self time is its span minus the span of the stage it wraps. */
final case class Stages(read: Span, observations: Span, pyramid: Span, run: Span) {
  def metrics: Map[String, Double] = Map(
    "sources.scan_s" -> read.seconds,
    "functions.quantize_s" -> (observations.seconds - read.seconds),
    "operators.pyramid_s" -> (pyramid.seconds - observations.seconds),
    "operators.blobs_s" -> (run.seconds - pyramid.seconds))
}

object Stages {
  def run(tr: Tracer, read: () => DataFrame, noop: DataFrame => Unit): Stages = {
    val cfg = Workload.Config
    val (_, r) = tr.span("read")(noop(read()))
    val (_, o) = tr.span("observations")(noop(HeatmapPipeline.observations(read(), cfg)))
    val (_, p) = tr.span("pyramid")(noop(
      HeatmapPipeline.pyramid(HeatmapPipeline.observations(read(), cfg), cfg)))
    val (_, b) = tr.span("run")(noop(HeatmapPipeline.run(read(), cfg)))
    Stages(r, o, p, b)
  }

  /** Sink-side metrics of a traced save (`build` of its seconds went to
    * building the DataFrame): write time beyond the same plan forced through
    * `noop`, commit time after the last job, and bytes. */
  def sink(save: Span, build: Double, sameAsNoop: Span, out: Path,
      inputs: Seq[String]): Map[String, Double] =
    Map(
      "queries.build_s" -> build,
      "queries.exec_s" -> (save.seconds - build),
      "sources.write_s" -> (save.seconds - sameAsNoop.seconds),
      "sources.commit_s" -> math.max(0L, save.endWallMs - save.lastJobEndMs) / 1e3,
      "sources.bytes_read" -> inputs.map(p => Workload.bytes(java.nio.file.Paths.get(p))).sum,
      "sources.bytes_written" -> (if (Files.exists(out)) Workload.bytes(out) else 0.0),
      "sources.files_written" ->
        (if (Files.exists(out)) Workload.dataFiles(out).size.toDouble else 0.0))
}

/** A fixed slice of the catalog (`SparkEntry.queries`) over the generated
  * corpus; one operation is one pass over the slice in a seeded order. */
final class CatalogSlice(spark: SparkSession, work: Path, corpus: String, seed: Long,
    val rows: Long, nproc: Int) extends Workload(spark, work) {
  private val entries = CatalogSlice.Names.map { n =>
    n -> SparkEntry.queries.getOrElse(n, throw new IllegalArgumentException(s"no catalog entry $n"))
  }
  private def order(i: Int) = new scala.util.Random(seed * 1000003L + i).shuffle(entries)

  private def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def failIfAny(failed: Seq[String]): Unit =
    if (failed.nonEmpty) throw new RuntimeException(s"entries failed: ${failed.mkString("; ")}")

  def op(i: Int): Unit = failIfAny(order(i).flatMap { case (name, fn) =>
    try { noop(fn(spark, corpus)); None }
    catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    finally release()
  })

  def traced(i: Int, tr: Tracer): Traced = {
    val failed = Seq.newBuilder[String]
    var build, exec = 0.0
    val family = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val (_, pass) = tr.span("pass") {
      order(i).foreach { case (name, fn) =>
        var df: DataFrame = null
        val (b, be) = tr.attempt(s"build:$name") { df = fn(spark, corpus); tr.built(df) }
        val (x, xe) = if (be.isEmpty) tr.attempt(s"exec:$name")(noop(df)) else (b, be)
        release()
        (be orElse xe).foreach(e => failed += s"$name: ${e.getMessage}")
        val execS = if (x eq b) 0.0 else x.seconds
        build += b.seconds
        exec += execS
        family(CatalogSlice.family(name)) += b.seconds + execS
      }
    }
    val f = failed.result()
    Traced(Sample(pass.seconds, if (f.isEmpty) None else Some(f.mkString("; "))),
      Workload.opCounters(pass, nproc) ++ Map(
        "queries.build_s" -> build, "queries.exec_s" -> exec,
        "queries.failed" -> f.size.toDouble) ++
        CatalogSlice.Families.map(fam => s"queries.$fam.s" -> family(fam)))
  }

  /** Writes every entry's result (as `Verify` does) and its oracle SQL for
    * the DuckDB compare that follows the run; throws if an entry throws. */
  override def settle(): Unit = {
    val dir = work.resolve("oracle")
    Workload.deleteTree(dir)
    Files.createDirectories(dir)
    val sql = SparkEntry.oracleSql.filter { case (k, _) => CatalogSlice.Names.contains(k) }
    Files.writeString(dir.resolve("oracle_sql.json"), Json(sql))
    failIfAny(entries.flatMap { case (name, fn) =>
      try { fn(spark, corpus).coalesce(1).write.parquet(dir.resolve(name).toString); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
      finally release()
    })
  }

  /** The verdict is the DuckDB compare of what `settle` wrote. */
  def check(): Option[String] = None
}

object CatalogSlice {
  /** One entry per engine layer the slice stresses (README.md, "catalog_slice"). */
  val Names: Seq[String] = Seq(
    "stream_hm_pyramid", "geo_dbscan", "emb_pca_power")
  def family(name: String): String = name.takeWhile(_ != '_')
  val Families: Seq[String] = Names.map(family).distinct
}
