package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-grid resampling with last-observation-carried-forward: turn an
  * irregular event stream into a regular per-key time series (one row
  * per key per grid step between the key's first and last observation),
  * forward-filling each gap with the latest earlier value — the
  * sensor/feature-store regularization that the as-of join performs for
  * a single probe instant, extended to a whole grid.
  *
  * Scale shape: the grid is generated per key with `sequence` + explode
  * (rows ∝ key-span, never a cross join against a global calendar), the
  * last-in-bucket reduction is a per-(key, step) window before the
  * join, and the fill is one `last(ignoreNulls)` window per key in
  * grid order — two hash shuffles on the key, state bounded by a key's
  * grid span. All windows are key-partitioned; nothing global.
  */
object Resample {

  /** Hourly LOCF grid. Input rows: (`keyCol`, `tsCol` timestamp,
    * `valueCol`). Output: (`keyCol`, hr timestamp, value) for every
    * whole hour from each key's first to last event hour, `value` =
    * latest observation at-or-before the grid point (ties within an
    * hour resolve to the latest (ts, `tieCol`)).
    */
  def locfHourly(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, tieCol: String): DataFrame = {
    val e = events.select(col(keyCol).as("rs_key"),
      date_trunc("hour", col(tsCol)).as("rs_hr"),
      col(tsCol).as("rs_ts"), col(tieCol).as("rs_tie"),
      col(valueCol).as("rs_v"))
    val wBucket = Window.partitionBy(col("rs_key"), col("rs_hr"))
      .orderBy(col("rs_ts").desc, col("rs_tie").desc)
    val lastInBucket = e
      .withColumn("rs_rn", row_number().over(wBucket))
      .filter(col("rs_rn") === 1)
      .select(col("rs_key"), col("rs_hr"), col("rs_v"))
    val grid = e.groupBy(col("rs_key"))
      .agg(min(col("rs_hr")).as("rs_mn"), max(col("rs_hr")).as("rs_mx"))
      .select(col("rs_key"),
        explode(sequence(col("rs_mn"), col("rs_mx"), expr("interval 1 hour")))
          .as("rs_hr"))
    val wFill = Window.partitionBy(col("rs_key")).orderBy(col("rs_hr"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(lastInBucket, Seq("rs_key", "rs_hr"), "left")
      .withColumn("rs_fill", last(col("rs_v"), ignoreNulls = true).over(wFill))
      .select(col("rs_key").as(keyCol), col("rs_hr").as("hr"),
        col("rs_fill").as("value"))
  }

  /** Hourly LINEAR-interpolation grid — [[locfHourly]]'s step-function
    * fill replaced by the straight line between the surrounding
    * observations (clamped to the nearest value outside the observed
    * range), the resampling a continuously-varying signal wants.
    * Values ride as centi-longs and instants as exact micros, so the
    * one interpolation expression is the only float arithmetic and
    * replays identically on any engine.
    *
    * Scale shape: two key shuffles — the per-key grid rollup, then the
    * carry windows over grid ∪ observations; the forward and backward
    * windows share one partitioning (opposite sort, no third exchange)
    * to attach the surrounding (t, v) pairs, and the lerp is row-local.
    */
  def lerpHourly(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val e = events.select(col(keyCol).as("rs_key"),
      unix_micros(col(tsCol)).as("rs_us"),
      round(col(valueCol) * 100).cast("long").as("rs_vc"),
      lit(0).as("rs_tag"))
    val grid = events.groupBy(col(keyCol).as("rs_key"))
      .agg(unix_micros(date_trunc("hour", min(col(tsCol)))).as("rs_mn"),
        unix_micros(date_trunc("hour", max(col(tsCol)))).as("rs_mx"))
      .select(col("rs_key"),
        explode(sequence(col("rs_mn"), col("rs_mx"), lit(3600000000L))).as("rs_us"))
      .withColumn("rs_vc", lit(null).cast("long"))
      .withColumn("rs_tag", lit(1))
    val obs = when(col("rs_tag") === 0, struct(col("rs_us"), col("rs_vc")))
    val wF = Window.partitionBy(col("rs_key"))
      .orderBy(col("rs_us"), col("rs_tag"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wB = Window.partitionBy(col("rs_key"))
      .orderBy(col("rs_us").desc, col("rs_tag"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val t0 = col("rs_p.rs_us"); val v0 = col("rs_p.rs_vc")
    val t1 = col("rs_n.rs_us"); val v1 = col("rs_n.rs_vc")
    val lerpC = when(v0.isNull, v1.cast("double"))
      .when(v1.isNull, v0.cast("double"))
      .when(t1 === t0, v0.cast("double"))
      .otherwise(v0.cast("double") + (v1 - v0).cast("double") *
        ((col("rs_us") - t0).cast("double") / (t1 - t0).cast("double")))
    e.unionByName(grid)
      .withColumn("rs_p", last(obs, ignoreNulls = true).over(wF))
      .withColumn("rs_n", last(obs, ignoreNulls = true).over(wB))
      .filter(col("rs_tag") === 1)
      .select(col("rs_key").as(keyCol), col("rs_us").as("hr_us"),
        round(lerpC / 100.0, 6).as("value"))
  }
}
