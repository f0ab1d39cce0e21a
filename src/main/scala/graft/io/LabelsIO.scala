package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S5/S6/S9 — YOLO label text sources and sink.
  *
  * Reference: predictions_to_json.py:75-88,95-104 (prediction rows, exactly 6
  * whitespace-separated numeric fields, malformed/blank lines skipped) and
  * Test/accuracy.ipynb `load_gt_boxes` (ground truth, ≥5 fields).
  *
  * Implemented over `spark.read.text` + `split` rather than the CSV reader:
  * the files are *whitespace*-delimited (runs of spaces) and the per-image
  * key must be recovered from the path — `input_file_name()` does both in one
  * splittable, schema'd scan.
  */
object LabelsIO {

  // wholetext: one record per file, so a file can NEVER span two scan
  // splits and `__file_pos` (the line's index within the file) is exact by
  // construction — no ordering assumption to enforce. Label files are
  // KB-scale; a file must fit in one task's memory, which holds by orders
  // of magnitude here and is the standard trade for order-exact text.
  private def tokenized(spark: SparkSession, path: String) =
    spark.read.option("wholetext", "true").text(path)
      .select(
        regexp_extract(input_file_name(), "([^/]+)\\.txt$", 1).as("stem"),
        posexplode(split(col("value"), "\r\n|\r|\n")).as(Seq("__file_pos", "value")))
      .filter(length(trim(col("value"))) > 0)                 // F5 blank-line filter
      .withColumn("tok", split(trim(col("value")), "\\s+"))

  /** Replace the raw file line position with a 0-based per-stem index over
    * the SURVIVING lines (the reference's prediction/GT line numbering —
    * skipped lines never consume an index).
    */
  private def withLineIndex(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("line_no",
        (row_number().over(Window.partitionBy("stem").orderBy("__file_pos")) - 1)
          .cast("long"))
      .drop("__file_pos")
  }

  /** Prediction rows: malformed lines (≠6 tokens or non-numeric) are dropped,
    * matching parse_prediction_line's `None` path (F6). Numeric validation =
    * cast-to-null + filter, which Catalyst pushes into the same scan stage.
    */
  // try_cast, not cast: ANSI mode (Spark 4 default) makes a plain cast THROW
  // on non-numeric tokens; the reference skips such lines (F6) → null + drop
  private def tc(i: Int, t: String) =
    expr(s"try_cast(element_at(tok, $i) AS $t)")

  // line indices are assigned AFTER all malformed-line drops so a skipped
  // line (wrong arity OR non-numeric) never consumes an index — matching
  // the reference, which numbers only successfully parsed predictions
  def readPredictions(spark: SparkSession, path: String): DataFrame =
    withLineIndex(tokenized(spark, path)
      .filter(size(col("tok")) === 6)
      .select(col("stem"), col("__file_pos"),
        tc(1, "int").as("class_id"),
        tc(2, "double").as("x_center"),
        tc(3, "double").as("y_center"),
        tc(4, "double").as("width"),
        tc(5, "double").as("height"),
        tc(6, "double").as("confidence"))
      .na.drop(Seq("class_id", "x_center", "y_center", "width", "height", "confidence")))

  /** Ground-truth rows: ≥5 tokens, first five used (F7). */
  def readGroundTruth(spark: SparkSession, path: String): DataFrame =
    withLineIndex(tokenized(spark, path)
      .filter(size(col("tok")) >= 5)
      .select(col("stem"), col("__file_pos"),
        tc(1, "int").as("class_id"),
        tc(2, "double").as("x_center"),
        tc(3, "double").as("y_center"),
        tc(4, "double").as("width"),
        tc(5, "double").as("height"))
      .na.drop(Seq("class_id", "x_center", "y_center", "width", "height")))

  /** Per-image label files (parity with converter_to_yolo_data.py:95-99):
    * executor-side `foreachPartition`, no driver collect.
    */
  def writePerImage(linesByImage: DataFrame, outDir: String): Unit = {
    import org.apache.spark.sql.Row
    linesByImage.select("stem", "lines").foreachPartition { it: Iterator[Row] =>
      val dir = java.nio.file.Paths.get(outDir)
      java.nio.file.Files.createDirectories(dir)
      it.foreach { r =>
        val stem = r.getString(0)
        val lines = r.getSeq[String](1)
        val p = dir.resolve(s"$stem.txt")
        val txt = if (lines.isEmpty) "" else lines.mkString("", "\n", "\n")
        java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
      }
    }
  }

  /** S10 — image copy sink (converter_to_yolo_data.py:109-111 parity):
    * binary passthrough of (split, file_name, content) rows into
    * `outDir/images/<split>/<file_name>`, executor-side `foreachPartition`
    * (no driver collect — each task writes only its partition's bytes, so
    * the copy scales with executors). Returns (files, bytes) copied via an
    * `observe` on the same pass — the reference's copy counter without a
    * second scan.
    */
  def copyImages(images: DataFrame, outDir: String): (Long, Long) = {
    import org.apache.spark.sql.{Observation, Row}
    import org.apache.spark.sql.functions.{coalesce, count, length, lit, sum}
    val obs = Observation("image_copy")
    images.select("split", "file_name", "content")
      .observe(obs, count(lit(1)).as("files"),
        coalesce(sum(length(col("content"))), lit(0L)).as("bytes"))
      .foreachPartition { it: Iterator[Row] =>
        it.foreach { r =>
          val dir = java.nio.file.Paths.get(outDir, "images", r.getString(0))
          java.nio.file.Files.createDirectories(dir)
          java.nio.file.Files.write(dir.resolve(r.getString(1)),
            r.getAs[Array[Byte]](2))
        }
      }
    (obs.get("files").asInstanceOf[Long], obs.get("bytes").asInstanceOf[Long])
  }
}
