package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Output sinks sized for scale (the generalization of S9/S11's per-file
  * writes, which are a small-files antipattern beyond a few thousand rows).
  *
  * The two knobs that matter at 100 TB:
  *  - partition layout: `partitionBy` columns become directory partitions →
  *    partition pruning on read (split=train/val, date, language, …);
  *  - file sizing: `maxRecordsPerFile` bounds the large end; a pre-write
  *    `repartition` on the partition columns bounds the small end (one
  *    shuffle, removes the files×tasks explosion where every task writes a
  *    sliver into every partition).
  */
object Sinks {

  /** Partitioned parquet with bounded file sizes. */
  def writePartitionedParquet(df: DataFrame, path: String,
                              partitionCols: Seq[String],
                              maxRecordsPerFile: Long = 1000000L): Unit = {
    val prepared =
      if (partitionCols.nonEmpty)
        df.repartition(partitionCols.map(df.col): _*)
      else df
    prepared.write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Incremental partition refresh: overwrite ONLY the partitions present
    * in `df`, leaving every other partition untouched — dynamic partition
    * overwrite, the idempotent daily-backfill primitive (static overwrite
    * mode would silently drop the rest of the table; a 100 TB table
    * re-lands one day, not the history). The mode is set per-write, not
    * globally, so other writers in the session keep static semantics.
    */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionCols: Seq[String]): Unit =
    df.repartition(partitionCols.map(df.col): _*)
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Bucketed table write: rows are hash-bucketed (and optionally sorted)
    * by the join/aggregation key at write time, so subsequent equi-joins and
    * groupBys on that key read co-located, pre-sorted buckets and skip the
    * shuffle entirely — the standard answer to "this 100 TB fact table is
    * joined on the same key by every job". Requires a catalog table
    * (`saveAsTable`); bucket metadata lives in the catalog.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int, sortCol: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").bucketBy(buckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).format("parquet").saveAsTable(table)
  }

  /** The converter's dataset sink (§3.1): label lines partitioned by split.
    * One directory per split, parquet with (stem, lines) — the scalable
    * analog of one-txt-per-image; `LabelsIO.writePerImage` remains for
    * byte-parity tooling.
    */
  def writeDataset(ds: DataFrame, path: String): Unit =
    writePartitionedParquet(ds, path, Seq("split"))

  /** Z-ordered write: range-partition + sort by the Morton key of two
    * dimension columns, so every output file's min/max is narrow in BOTH
    * dimensions and selective filters on either column skip files (the
    * Delta `OPTIMIZE ZORDER BY` layout). The z-value is dropped before
    * write — it's a layout key, not data.
    */
  def writeZOrdered(df: DataFrame, path: String, a: String, b: String,
                    files: Int = 8): Unit =
    df.withColumn("__z", graft.functions.ZOrder.zValue(col(a), col(b)))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Per-file min/max statistics manifest over `cols` (the data-skipping
    * metadata a lakehouse table format maintains; q92's generalization).
    * One scan, grouped by `input_file_name` — columns come back as
    * `<c>_min` / `<c>_max` plus `n_rows`.
    */
  def statsManifest(spark: SparkSession, path: String,
                    cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{count, input_file_name, lit, max, min}
    val df = graft.Tables.parquet(spark, Seq(path))
    val aggs = cols.flatMap(c =>
      Seq(min(df.col(c)).as(s"${c}_min"), max(df.col(c)).as(s"${c}_max"))) :+
      count(lit(1)).as("n_rows")
    df.groupBy(input_file_name().as("file")).agg(aggs.head, aggs.tail: _*)
  }

  /** Data-skipping read: keep only the files whose [min,max] range can
    * contain a point predicate `col = value` (or overlap `[lo,hi]`), then
    * scan just those. This is what a lakehouse reader does with its
    * manifest before handing Spark the file list — on a z-ordered layout a
    * 2-D selective filter skips most files (PlanSpec-measured).
    */
  def filesOverlapping(manifest: DataFrame, ranges: Map[String, (Long, Long)])
      : Seq[String] = {
    import org.apache.spark.sql.functions.lit
    val keep = ranges.foldLeft(lit(true)) { case (acc, (c, (lo, hi))) =>
      acc && manifest.col(s"${c}_min") <= hi && manifest.col(s"${c}_max") >= lo
    }
    manifest.filter(keep).select("file").collect().map(_.getString(0)).toSeq
  }

  /** Small-file compaction: rewrite a directory into ~`targetFileBytes`
    * files using the optimizer's size estimate — the maintenance pass every
    * streaming/append workload needs once file counts hurt scan planning.
    * (Row-count-based sizing via `maxRecordsPerFile` can't merge files that
    * are already too small; only a repartition can.)
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    require(targetFileBytes > 0)
    val df = graft.Tables.parquet(spark, Seq(inPath))
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = ((bytes + targetFileBytes - 1) / targetFileBytes).toInt.max(1)
    df.repartition(n).write.mode("overwrite").parquet(outPath)
  }
}
