package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` generates the inputs and starts it as
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --nproc <n> --data <dir> --rows <n> --work <dir> --result <file>
  * }}}
  *
  * It starts a session pinned like `HeatmapJob` and `Verify`, warms up,
  * times one cold operation, runs one more untimed, then times operations
  * until `--seconds` have passed and at least four have run, checks the
  * output once, and writes one JSON record of raw samples to `--result`. With `--trace 1` it alternates untraced and traced
  * operations and adds each traced operation's per-layer metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val nproc = opt("nproc").toInt
    val data = opt("data")
    val work = Paths.get(opt("work"))

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val startS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    def expected(file: String): Map[String, Long] =
      Files.readAllLines(Paths.get(file)).asScala.map(_.split('\t')).map(a => a(0) -> a(1).toLong).toMap
    val rows = opt("rows").toLong
    val w: Workload = workload match {
      case "pyramid_batch" => new PyramidBatch(spark, work, s"$data/locations.parquet",
        expected(s"$data/totals.tsv"), rows, nproc)
      case "blob_append" => new BlobAppend(spark, work, Paths.get(s"$data/base-heatmaps"),
        s"$data/delta.parquet", expected(s"$data/totals.tsv"), rows, nproc)
      case "catalog_slice" => new CatalogSlice(spark, work, data, seed, rows, nproc)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val warmupS = time(warmup(spark))
    val cold = Loop.attempt(w.op(0))
    // one more operation before timing starts: the first few operations of
    // a fresh JVM still compile hot code, and op_s is the time once warm
    val settle = Loop.attempt(w.settle())

    val (samples, traced) =
      if (!trace) (Loop.timed(seconds, minOps = 4)(i => w.op(i + 2)), Vector.empty[Traced])
      else {
        val tr = new Tracer(spark)
        val pairs = Loop.timedPairs(seconds, minPairs = 2)(i => w.op(2 * i + 2)) { i =>
          tr.install()
          try w.traced(2 * i + 3, tr) finally tr.uninstall()
        }
        (pairs.map(_._1), pairs.map(_._2))
      }
    val checkError = try w.check() catch { case e: Throwable => Some(s"check threw: $e") }

    def sample(s: Sample) = Map("seconds" -> s.seconds, "error" -> s.error)
    val record = Map(
      "workload" -> workload,
      "rows" -> w.rows,
      "session" -> Map("start_s" -> startS, "warmup_s" -> warmupS),
      "cold" -> sample(cold),
      "settle" -> sample(settle),
      "samples" -> samples.map(sample),
      "traced" -> traced.map(t => sample(t.sample) + ("metrics" -> t.metrics)),
      "check_error" -> checkError,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"))
    Files.writeString(Paths.get(opt("result")), Json(record))
    spark.stop()
  }

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    Loop.seconds(t0)
  }

  /** The discarded warm-up of the shared engine code, as graft.Bench does
    * it (scan + aggregate + sort + join), each written to `noop`. */
  def warmup(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val r = spark.range(2000000).select(col("id"), (col("id") % 1000).as("k"))
    r.groupBy("k").count().orderBy("k").write.format("noop").mode("overwrite").save()
    r.join(spark.range(1000).withColumnRenamed("id", "k"), "k")
      .write.format("noop").mode("overwrite").save()
  }
}
