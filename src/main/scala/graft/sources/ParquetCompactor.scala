package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.functions.TileFunctions

/** Small-files compaction: rewrite a parquet dataset into files of a target
  * size. At 100 TB, streaming sinks and fine-grained partitioned writes
  * accumulate small files that destroy scan parallelism economics (every
  * file costs a task + footer read); periodic compaction keeps file counts
  * proportional to data volume.
  *
  * Sizing uses the dataset's on-disk bytes (cheap: file listing, no scan) so
  * the shuffle-free `coalesce` path is chosen whenever we only merge files;
  * `repartition` (full shuffle) is reserved for growing the file count.
  */
object ParquetCompactor {

  /** Output file count from the dataset's on-disk bytes (cheap: file
    * listing, no scan) — ceil(bytes / target). */
  private def targetFileCount(spark: SparkSession, inDir: String,
      targetFileMB: Int): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val inPath = new org.apache.hadoop.fs.Path(inDir)
    val fs = inPath.getFileSystem(conf)
    val bytes = fs.getContentSummary(inPath).getLength
    val target = targetFileMB.toLong << 20
    math.max(1, (bytes / target).toInt + (if (bytes % target > 0) 1 else 0))
  }

  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetFileMB: Int = 256): Long = {
    val nFiles = targetFileCount(spark, inDir, targetFileMB)
    val df = spark.read.parquet(inDir)
    val current = df.rdd.getNumPartitions
    // <= : at equality the file count is already right, and coalesce is a
    // no-op where repartition would shuffle the full dataset for nothing
    val sized = if (nFiles <= current) df.coalesce(nFiles) else df.repartition(nFiles)
    sized.write.mode("overwrite").parquet(outDir)
    nFiles.toLong
  }

  /** Compaction with Z-ORDER clustering: rows are range-partitioned AND
    * sorted within files by the Morton key of (latCol, lonCol) at `zoom`,
    * so each output file covers a compact map region and parquet row-group
    * min/max statistics on the stored `zkey` column prune bbox scans down
    * to the touched region (see [[graft.tiles.TileMath.morton]]). This is
    * the write-side half of the viewport-query story: `hm_viewport` filters
    * r/c ranges at the scan; a z-ordered layout makes that scan skip files
    * and row groups instead of reading the world. `repartitionByRange` +
    * `sortWithinPartitions` gives globally range-split, locally sorted
    * files — one shuffle, no global sort. */
  def compactZOrdered(spark: SparkSession, inDir: String, outDir: String,
      latCol: String, lonCol: String, zoom: Int = 12,
      targetFileMB: Int = 256): Long = {
    val nFiles = targetFileCount(spark, inDir, targetFileMB)
    graft.plans.GraftExtensions.register(spark)
    spark.read.parquet(inDir)
      .withColumn("zkey", TileFunctions.tileMorton(
        TileFunctions.tileRow(col(latCol), zoom),
        TileFunctions.tileCol(col(lonCol), zoom)))
      .repartitionByRange(nFiles, col("zkey"))
      .sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(outDir)
    nFiles.toLong
  }
}
