package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}

/** Uniform access to the driver test tables (`/root/testdata/sf*`, see
  * TESTDATA.md). One parquet file per table; at cluster scale these would be
  * partitioned directories — the read path is identical.
  *
  * The `events.ts` column has appeared under two physical parquet encodings
  * across testdata generations: TIMESTAMP(NANOS) (reads as LongType ns under
  * `spark.sql.legacy.parquet.nanosAsLong`) and TIMESTAMP(MICROS)
  * (reads as TIMESTAMP / TIMESTAMP_NTZ). A 100 TB lake mixes encodings
  * across files, so [[Tables.events]] binds to the LOGICAL type and
  * normalizes every encoding to one canonical contract: `ts` is a LongType
  * count of NANOSECONDS since the epoch, on which all event-time operators
  * do exact integer arithmetic (the DuckDB oracle reads the same column via
  * `epoch_us(ts)`, so both sides agree in microseconds — see
  * `ext/Sessions.scala`).
  *
  * Every parquet read of the engine — tables, persisted assets, sink
  * maintenance — goes through [[parquet]], which resolves the schema from
  * one file's footer on the driver and runs no Spark job.
  */
object Tables {
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, Seq(s"$sfDir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** All data files of a parquet table root — a single file, a flat
    * directory, or a nested/partitioned tree (recursive enumeration, the
    * same walk the scan planner performs). Skips `_`-prefixed side files
    * (_SUCCESS, _metadata).
    */
  private def parquetFiles(root: Path, conf: Configuration): Seq[Path] = {
    val fs = root.getFileSystem(conf)
    if (!fs.getFileStatus(root).isDirectory) Seq(root)
    else {
      val it = fs.listFiles(root, true)
      val out = Seq.newBuilder[Path]
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
          out += f
      }
      out.result()
    }
  }

  /** Open each file's parquet footer and fold `f` over it (footer closed
    * either way). Driver-side metadata reads only — no Spark job.
    */
  private def mapFooters[A](root: Path, conf: Configuration)
                           (f: (Path, ParquetFileReader) => A): Seq[A] =
    parquetFiles(root, conf).map(footer(_, conf)(f))

  /** Reads with the caller's Hadoop conf: `ParquetFileReader.open(in)`
    * alone builds its read options on a fresh Hadoop `Configuration`,
    * which re-parses the `core-*.xml` resources on every call.
    */
  private def footer[A](p: Path, conf: Configuration)
                       (f: (Path, ParquetFileReader) => A): A = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    val r = ParquetFileReader.open(in, HadoopReadOptions.builder(conf, p).build())
    try f(p, r) finally r.close()
  }

  /** The one parquet read: `paths` (files or table roots; `basePath` pins
    * the root that Hive-style partition columns are discovered under)
    * with the schema of the first data file under `paths.head`, resolved
    * from its footer on the driver. `spark.read.parquet` would infer the
    * same schema with a distributed job per read — Spark's non-merging
    * inference also reads one footer — while this reads it in place and
    * runs none. Spark's own footer conversion is used, so the serialized
    * row schema wins when the file carries one and column metadata (the
    * asset digest and geometry stamps) survives; a footer the session
    * cannot convert (TIMESTAMP(NANOS) without `nanosAsLong`) throws
    * Spark's AnalysisException, as inference does.
    */
  def parquet(spark: SparkSession, paths: Seq[String],
              basePath: Option[String] = None): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val first = parquetFiles(new Path(paths.head), conf).headOption
      .getOrElse(throw new IllegalArgumentException(
        s"no parquet data file under ${paths.head}"))
    val schema = footer(first, conf)((p, r) =>
      ParquetFileFormat.readSchemaFromFooter(new Footer(p, r.getFooter),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    basePath.fold(spark.read)(spark.read.option("basePath", _))
      .schema(schema).parquet(paths: _*)
  }

  /** Row count of a table from parquet FOOTER metadata only — a driver-side
    * file-metadata read, NO Spark job: the [[Cutover.footer]] evidence. At
    * cluster scale this is the footer enumeration the scan planner performs
    * anyway — O(files) driver work, zero executor time.
    */
  def footerRowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    mapFooters(new Path(s"$sfDir/$name.parquet"), conf)(
      (_, r) => r.getRecordCount).sum
  }

  /** Normalize an already-loaded events frame so `ts` is LongType
    * nanoseconds since epoch, branching on the LOGICAL type:
    *   - LongType — legacy TIMESTAMP(NANOS) read under the `nanosAsLong`
    *     builder flag (Bench / Verify / the test suite all set it for
    *     legacy-file back-compat): already ns, passed through.
    *   - TimestampType — an absolute instant; `unix_micros` is
    *     timezone-independent, so no session constraint applies.
    *   - TimestampNTZType — a wall-clock reading; the NTZ→TIMESTAMP cast
    *     applies the session timezone, so this path is only identity under
    *     UTC and the accessor fails loudly on a misconfigured session
    *     rather than silently shifting every event time.
    *
    * µs→ns (`* 1000L`) is exact in int64 until 2262. The conversion is a
    * codegen'd per-row projection fused into the scan stage — no shuffle,
    * no UDF; at 100 TB it costs one multiply per row.
    */
  private def normalizeTs(s: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    def toNs = df.withColumn("ts",
      unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    df.schema("ts").dataType match {
      case LongType => df // legacy nanos-as-long: already the contract
      case TimestampType => toNs
      case TimestampNTZType =>
        // normalize via ZoneId so "Etc/UTC", "GMT", "+00:00" are accepted
        // — they resolve to the same fixed zero offset; an unparseable
        // zone fails the guard (the safe direction)
        val tz = s.conf.get("spark.sql.session.timeZone")
        val isUtc =
          try java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
          catch { case _: java.time.DateTimeException => false }
        require(isUtc,
          "events.ts is TIMESTAMP_NTZ: normalizing to epoch-ns requires " +
            "spark.sql.session.timeZone=UTC (the NTZ→TIMESTAMP cast applies " +
            "the session zone; any other zone would silently shift event " +
            "times). Build the SparkSession with " +
            ".config(\"spark.sql.session.timeZone\", \"UTC\") " +
            "(see graft.Bench / graft.Verify builders)")
        toNs
      case other =>
        sys.error(s"events.ts has unsupported type $other; expected " +
          "LongType (legacy nanos), TIMESTAMP or TIMESTAMP_NTZ")
    }
  }

  /** Read event files, converting Spark's opaque refusal of TIMESTAMP(NANOS)
    * columns (read without the legacy flag) back into the actionable message
    * the old loader-level `require` used to give.
    */
  private def readEvents(s: SparkSession, paths: Seq[String],
                         basePath: Option[String] = None): DataFrame =
    try parquet(s, paths, basePath) catch {
      case e: AnalysisException if e.getMessage.contains("NANOS") =>
        throw new IllegalArgumentException(
          "events.parquet carries TIMESTAMP(NANOS): build the SparkSession " +
            "with .config(\"spark.sql.legacy.parquet.nanosAsLong\", " +
            "\"true\") (see graft.Bench / graft.Verify builders)", e)
    }

  /** `ts` column normalized to LongType nanoseconds since epoch.
    *
    * A real lake mixes timestamp encodings ACROSS FILES of one table (old
    * nanos-era files next to re-encoded µs files), and one Spark scan
    * cannot read INT64-ns and TIMESTAMP columns together — so when the
    * table root is a directory, the loader groups its files (recursively —
    * partitioned trees included) by the `ts` encoding in their parquet
    * FOOTERS (the same O(files) driver-side footer enumeration the scan
    * planner performs; cf. [[footerRowCount]]) and unions one normalized
    * scan per encoding group. Homogeneous directories and single files
    * skip straight to the one-scan path; the union costs nothing at scale
    * (each file is read exactly once either way, and both branches push
    * the same projection into the scan). The mixed path reads explicit
    * file lists with `basePath` pinned to the table root, so Hive-style
    * directory partition columns survive it exactly as they do the
    * one-scan path (asserted on a partitioned mixed-encoding tree in
    * QueriesSpec).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val root = new Path(s"$d/events.parquet")
    val conf = s.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    if (!fs.getFileStatus(root).isDirectory)
      return normalizeTs(s, readEvents(s, Seq(root.toString)))
    // group by the footer's ts annotation: TIMESTAMP(NANOS) / plain INT64
    // both surface as the legacy ns-long read; MICROS/MILLIS as timestamps
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
    val flags = mapFooters(root, conf) { (p, r) =>
      val nsLong = r.getFileMetaData.getSchema.getType(Seq("ts"): _*)
        .asPrimitiveType().getLogicalTypeAnnotation match {
        case ts: TimestampLogicalTypeAnnotation =>
          ts.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => true // plain INT64: already epoch-ns longs
      }
      (p.toString, nsLong)
    }
    val (nanoLong, micros) = flags.partition(_._2)
    if (nanoLong.isEmpty || micros.isEmpty)
      normalizeTs(s, readEvents(s, Seq(root.toString))) // homogeneous
    else {
      val bp = Some(root.toString)
      normalizeTs(s, readEvents(s, nanoLong.map(_._1), bp))
        .unionByName(normalizeTs(s, readEvents(s, micros.map(_._1), bp)))
    }
  }
}
