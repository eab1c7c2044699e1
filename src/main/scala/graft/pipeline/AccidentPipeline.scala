package graft.pipeline

import graft.functions.{DateFeatures, SolarFeatures}
import graft.ml.Trainers
import graft.operators.{NearestMatch, RoadFeatures, ThresholdMetrics}
import graft.sources.DateGrid
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's end-to-end flow (SURVEY §3) composed from the
  * engine's operators: accidents ⨝ roads geo-matching → labeled
  * (street, date, hour) samples → features → balanced-forest training →
  * evaluation + threshold curve.
  *
  * Differences from the reference, by design:
  *  - the reference's two-phase center-match / point-densify / re-match
    *  heuristic (`src/preprocess.py:59-223`) exists to tame a cross
    *  join; `NearestMatch.kNearest` is already exact with a grid
    *  equi-join + provable-coverage fallback, so matching is ONE call.
    *  The reference heuristic itself IS still available as
    *  `DensifyMatch.densifyAndRematch` (oracle-checked by
    *  `q_geo_densify_rematch`) for users who want its exact semantics
    *  (midpoint densification, center-distance final dedup);
  *  - negative sampling happens grid-side BEFORE any feature join
  *    (`DateGrid.negativeGrid`), the sample-early discipline;
  *  - the baseline accident-count feature uses one aggregation, not 377
  *    scans.
  */
object AccidentPipeline {

  /** Nearest road (by any of its points) per accident — reference
    * `match_accidents_with_roads`, exact.
    */
  def matchAccidentsToRoads(accidents: DataFrame, roadPoints: DataFrame,
      cellDeg: Double = 0.005, widenRounds: Int = 3): DataFrame =
    NearestMatch.kNearest(
        accidents.select(col("accident_id"), col("loc_lat"), col("loc_long"),
          col("date"), col("hour")),
        roadPoints.select(col("street_id"), col("coord_lat"), col("coord_long"))
          .dropDuplicates(),
        k = 1, leftId = "accident_id", rightId = "street_id",
        latL = "loc_lat", lonL = "loc_long", latR = "coord_lat", lonR = "coord_long",
        cellDeg = cellDeg, widenRounds = widenRounds)
      .select(col("accident_id"), col("street_id"), col("distance_m"),
        col("date"), col("hour"))

  /** Positive samples: matched accidents + per-street features + date +
    * solar features (`src/preprocess.py:313-357`).
    */
  def positiveSamples(matched: DataFrame, roadFeatures: DataFrame): DataFrame =
    addFeatures(
      matched.join(roadFeatures, "street_id")
        .select(col("accident_id").as("sample_id"), col("street_id"),
          col("date"), col("hour"), col("street_length"),
          col("loc_lat"), col("loc_long"))
        .withColumn("label", lit(1.0)))

  /** Negative samples: (date, hour) grid × streets, hash-sampled
    * grid-side, sign-flipped ids (`src/preprocess.py:257-310`).
    */
  def negativeSamples(spark: SparkSession, roadFeatures: DataFrame,
      years: Seq[Int], sampleFraction: Double, seed: Long = 42L): DataFrame = {
    val grid = DateGrid.dateHourGrid(spark, years)
    val streets = roadFeatures.select(col("street_id")).distinct()
    addFeatures(
      DateGrid.negativeGrid(grid, streets, "street_id", sampleFraction, seed)
        .join(roadFeatures, "street_id")
        .select(col("sample_id"), col("street_id"), col("date"), col("hour"),
          col("street_length"), col("loc_lat"), col("loc_long"))
        .withColumn("label", lit(0.0)))
  }

  private def addFeatures(samples: DataFrame): DataFrame = {
    val withDates = DateFeatures.addDateFeatures(samples, "date", "hour")
    SolarFeatures.addSolarFeatures(withDates, "date", "hour", "loc_lat", "loc_long",
      utcOffsetHours = lit(-5.0))
  }

  val featureCols: Seq[String] = Seq(
    "street_length", "loc_lat", "loc_long", "accident_count",
    "f_month", "f_dayofweek", "f_hour_cos", "f_hour_sin",
    "f_doy_cos", "f_doy_sin", "solar_elevation")

  /** Assemble train/test: anti-join dedup of negatives that collide with
    * a positive on (street, date, hour), temporal split, train-derived
    * per-street accident count (full-outer + fill 0 — A1+J5), pos∪neg
    * union (`src/preprocess.py:450-556`).
    */
  def dataset(positives: DataFrame, negatives: DataFrame,
      splitDate: String): (DataFrame, DataFrame) = {
    val all = labeledSamples(positives, negatives, splitDate)
    (all.filter(col("date") < splitDate), all.filter(col("date") >= splitDate))
  }

  /** [[dataset]] as ONE split-tagged frame (`split` = 'train'|'test')
    * instead of a (train, test) pair. Same rows: every sample falls on
    * exactly one side of the temporal split, so this equals
    * `train ∪ test` with the tag — but as a single-pass plan. Callers
    * that consume BOTH splits together (the replayed pipeline rollup)
    * must use this: `dataset`'s pair re-filtered and unioned duplicates
    * the entire upstream subtree (kNN match, anti-join dedup, feature
    * stack) in the physical plan — Spark has no common-subplan
    * elimination across a union's branches, so the round-20 plan paid
    * every exchange twice (guide §2.4; 70 → ~half the Exchanges).
    */
  def datasetTagged(positives: DataFrame, negatives: DataFrame,
      splitDate: String): DataFrame =
    labeledSamples(positives, negatives, splitDate)
      .withColumn("split",
        when(col("date") < splitDate, lit("train")).otherwise(lit("test")))

  /** The body both splits share: deduped pos∪neg with the train-period
    * accident count.
    */
  private def labeledSamples(positives: DataFrame, negatives: DataFrame,
      splitDate: String): DataFrame = {
    val keys = Seq("street_id", "date", "hour")
    val negDeduped = negatives.join(
      positives.select(keys.map(col): _*), keys, "left_anti")
    val all = positives.unionByName(negDeduped)
    // per-street accident count from TRAIN-period positives only (no
    // leakage), completed over every street via left join + fill
    val trainCounts = positives.filter(col("date") < splitDate)
      .groupBy(col("street_id")).agg(count(lit(1)).as("accident_count"))
    all.join(broadcast(trainCounts), Seq("street_id"), "left_outer")
      .na.fill(0L, Seq("accident_count"))
  }

  case class TrainResult(results: DataFrame, curve: DataFrame, params: DataFrame)

  /** Train the balanced forest and produce the reference's three export
    * artifacts: AUPRC/AUROC results, the 20-bucket threshold curve, and
    * the params dump (`mains/main_train_brf.py:13-45`).
    */
  def trainAndEvaluate(train: DataFrame, test: DataFrame, spark: SparkSession,
      seed: Long = 42L, numTrees: Int = 20, maxDepth: Int = 6): TrainResult = {
    val pipe = Trainers.brfPipeline(featureCols, seed = seed,
      targetImbalanceRatio = 2.0, indexCol = "sample_id",
      numTrees = numTrees, maxDepth = maxDepth)
    val model = pipe.fit(train)
    val scored = model.transform(test)
      .withColumn("prob_pos", Trainers.probPositive())
    val curve = ThresholdMetrics.compute(scored, nBuckets = 20,
      probCol = "prob_pos", labelCol = "label")
    TrainResult(
      Trainers.resultsFrame(model, train, test, spark),
      curve,
      Trainers.exportParams(model, spark))
  }
}
