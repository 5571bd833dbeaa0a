package graft

import graft.operators.HeatmapPipeline

/** CLI equivalent of the reference's batchMain (heatmap.py:152–158): read a
  * `locations`-shaped table (latitude, longitude, source, user_id,
  * timestamp — FIXTURES.md §A), run the pipeline, append the `heatmaps`
  * output shape (id, heatmap JSON) to a parquet sink. Any DSv2 source/sink
  * substitutes for the reference's hardcoded Cassandra endpoints
  * (heatmap.py:131–150).
  *
  * Usage: runMain graft.HeatmapJob <locationsPath> <outPath>
  *          [--timespans] [--format <fmt>] [--sink <fmt>]
  * `--format graft-locations` reads through the custom DSv2 connector
  * ([[graft.sources.GraftLocationsProvider]]); `--sink graft-locations`
  * appends the (id, heatmap) rows through the same connector's `heatmaps`
  * table — the reference's read-and-append-to-the-same-store shape
  * (heatmap.py:149–150) through one custom DSv2 seam in both directions.
  * Default for both is parquet.
  */
object HeatmapJob {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: HeatmapJob <locationsPath> <outPath> [--timespans] " +
        "[--format <fmt>] [--sink <fmt>]")
    val Array(in, out) = args.take(2)
    val timespans = args.contains("--timespans")
    def flag(name: String, default: String): String = {
      val i = args.indexOf(name)
      if (i < 0) default
      else {
        // a flag without a usable value must be a usage error, not a silent
        // default (or another flag token swallowed as the value)
        require(i + 1 < args.length && !args(i + 1).startsWith("--"),
          s"$name requires a value")
        args(i + 1)
      }
    }
    val format = flag("--format", "parquet")
    val sink = flag("--sink", "parquet")

    val spark = Harness.session()

    val locations = graft.sources.LocationsSource.read(spark, in, format)
    val blobs = HeatmapPipeline.run(locations,
      HeatmapPipeline.Config(timespans = timespans))
    // the reference appends (heatmap.py:150); same semantics here
    val writer = blobs.write.mode("append").format(sink)
    (if (sink == "graft-locations") writer.option("table", "heatmaps")
     else writer).save(out)

    val readBack = spark.read.format(sink)
    val n = (if (sink == "graft-locations") readBack.option("table", "heatmaps")
             else readBack).load(out).count()
    println(s"""{"heatmap_rows":$n,"out":"$out"}""")
    spark.stop()
  }
}
