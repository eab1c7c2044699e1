package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Accident-records CSV source (SURVEY S1/P7): header CSV read as
  * strings, then explicit casts — the reference's scan + preprocess
  * (`/root/reference/src/accidents_montreal.py:71-77`,
  * `/root/reference/src/preprocess.py:43-56`).
  *
  * Schema-less `header=true` reads keep the scan single-pass (no
  * inference job) and push column pruning into the parser: only
  * selected columns are materialized by Spark's UnivocityParser.
  */
object AccidentsCsv {

  /** Raw scan: every column a string, plus a synthetic increasing id
    * (`monotonically_increasing_id`, reference line 76 — partition-offset
    * based, no shuffle, not dense).
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)
      .withColumn("ACCIDENT_ID", monotonically_increasing_id())

  /** The reference's `preprocess_accidents`: parse date/hour, cast
    * coordinates, drop incomplete rows. The parses are the `try_` forms,
    * so an unparseable key field (the `Non précisé` unknown-hour marker,
    * a non-numeric coordinate) becomes null and drops its row instead of
    * failing the read under ANSI mode.
    */
  def preprocess(accidents: DataFrame,
      dateCol: String = "DT_ACCDN", hourCol: String = "HEURE_ACCDN",
      latCol: String = "LOC_LAT", lonCol: String = "LOC_LONG"): DataFrame =
    accidents
      .withColumn("date", try_to_date(col(dateCol), "yyyy/MM/dd"))
      .withColumn("hour", split(col(hourCol), ":").getItem(0).try_cast("int"))
      // temp names: withColumn("loc_lat", ...) would case-insensitively
      // REPLACE the source column "LOC_LAT" and the subsequent drop
      // would remove the result
      .withColumn("_loc_lat", col(latCol).try_cast("double"))
      .withColumn("_loc_long", col(lonCol).try_cast("double"))
      .drop(dateCol, hourCol, latCol, lonCol)
      .withColumnRenamed("_loc_lat", "loc_lat")
      .withColumnRenamed("_loc_long", "loc_long")
      .withColumnRenamed("ACCIDENT_ID", "accident_id")
      // drop only on the key columns (the reference selects exactly these
      // before dropna, src/preprocess.py:46-55): real accident CSVs carry
      // dozens of optional columns whose nulls must not discard the row
      .na.drop(Seq("accident_id", "date", "hour", "loc_lat", "loc_long"))
}

/** Results CSV sink (SURVEY S9): the reference exports metrics /
  * importances / params as single CSV files
  * (`/root/reference/src/export_results.py:33-46`). `coalesce(1)` is the
  * deliberate single-file choice for small result frames — NOT for data
  * tables (a large frame should keep its partitioning).
  */
object ResultsSink {
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").option("header", "true").csv(path)
  }
}

/** Parquet cache-or-compute helper (SURVEY C4): every `get_*` stage of
  * the reference materializes to parquet and re-reads
  * (`/root/reference/src/preprocess.py:274-276` pattern).
  */
object CachedTable {
  def apply(spark: SparkSession, path: String)(compute: => DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) compute.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
}
