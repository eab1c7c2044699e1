package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage, Transformer}
import org.apache.spark.ml.classification.{GBTClassifier, RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder, TrainValidationSplit, TrainValidationSplitModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The MLlib training surface (SURVEY §2.10): assembler → sampler/weighter
  * → random forest → evaluator, with tuning, importances and params
  * export — the reference's entire training path
  * (`/root/reference/mains/main_train_brf.py:13-45`,
  * `/root/reference/src/random_forest.py:16-81`,
  * `/root/reference/src/export_results.py:17-46`) re-expressed on Spark 4
  * MLlib with deterministic seeds.
  *
  * Scale notes: `fit` on RandomForest is the one genuinely iterative
  * distributed job in the engine; everything around it stays declarative.
  * The probability column is read back with `vector_to_array` (D6/D7) —
  * no UDF — so scoring output feeds straight into the relational
  * threshold-metrics operator.
  */
object Trainers {

  /** M1: assemble feature columns into a `features` vector, keeping
    * invalid (NaN) values like the reference
    * (`src/preprocess.py:501-507`, handleInvalid="keep").
    */
  def assembler(featureCols: Seq[String], outputCol: String = "features"): VectorAssembler =
    new VectorAssembler()
      .setInputCols(featureCols.toArray)
      .setOutputCol(outputCol)
      .setHandleInvalid("keep")

  /** D6/D7: element i of a vector column, as a plain double column. */
  def vectorElement(vec: org.apache.spark.sql.Column, i: Int): org.apache.spark.sql.Column =
    vector_to_array(vec).getItem(i)

  /** P(positive) from the classifier's probability vector (D6). */
  def probPositive(probCol: String = "probability"): org.apache.spark.sql.Column =
    vectorElement(col(probCol), 1)

  /** M4: the reference's balanced-random-forest configuration
    * (`mains/main_train_brf.py:23-33`), deterministic under `seed`.
    */
  def brfClassifier(seed: Long = 42L, numTrees: Int = 100, maxDepth: Int = 25,
      featureSubsetStrategy: String = "sqrt", weightCol: String = "weight"): RandomForestClassifier =
    new RandomForestClassifier()
      .setLabelCol("label").setFeaturesCol("features")
      .setNumTrees(numTrees).setMaxDepth(maxDepth)
      .setImpurity("entropy")
      .setFeatureSubsetStrategy(featureSubsetStrategy)
      .setMinInstancesPerNode(10)
      .setWeightCol(weightCol)
      .setSeed(seed)

  /** M5: sampler → weighter → assembler → forest pipeline (the
    * reference's `Pipeline([ru, cw, rf])`, `src/random_forest.py:21,55`).
    */
  def brfPipeline(featureCols: Seq[String], seed: Long = 42L,
      targetImbalanceRatio: Double = 1.0, indexCol: String = "sample_id",
      classWeights: Array[Double] = Array(1.0, 1.0),
      numTrees: Int = 100, maxDepth: Int = 25): Pipeline = {
    val sampler = new RandomUnderSampler()
      .setTargetImbalanceRatio(targetImbalanceRatio).setSeed(seed)
      .setIndexCol(indexCol)
    val weighter = new ClassWeighter().setClassWeights(classWeights)
    val stages: Array[PipelineStage] =
      Array(sampler, weighter, assembler(featureCols), brfClassifier(seed, numTrees, maxDepth))
    new Pipeline().setStages(stages)
  }

  /** M9 surrogate: gradient-boosted trees standing in for the
    * reference's XGBoost model — the fourth member of its published
    * 4-model comparison (`mains/main_xgboost.py:36-94`; tuned params
    * `results/xgb/params`: eta=0.27, max_depth=30,
    * scale_pos_weight=17.25; test AUPRC 0.5305, `results/xgb/results`).
    * xgboost4j is an external jar this engine deliberately does not
    * depend on; Spark's own `GBTClassifier` carries the same
    * boosted-trees semantics with a direct param mapping:
    * maxDepth ↔ max_depth, stepSize ↔ eta, maxIter ↔ boosting rounds,
    * subsamplingRate ↔ subsample, featureSubsetStrategy ↔
    * colsample_bytree, and class imbalance via weightCol (a
    * [[ClassWeighter]] with weights (1, scalePosWeight)) ↔
    * scale_pos_weight.
    */
  def gbtClassifier(seed: Long = 42L, maxIter: Int = 20, maxDepth: Int = 5,
      stepSize: Double = 0.27, subsamplingRate: Double = 1.0,
      featureSubsetStrategy: String = "all", weightCol: String = "weight"): GBTClassifier =
    new GBTClassifier()
      .setLabelCol("label").setFeaturesCol("features")
      .setMaxIter(maxIter).setMaxDepth(maxDepth).setStepSize(stepSize)
      .setSubsamplingRate(subsamplingRate)
      .setFeatureSubsetStrategy(featureSubsetStrategy)
      .setWeightCol(weightCol)
      .setSeed(seed)

  /** M9 surrogate pipeline: weighter → assembler → GBT (the XGBoost
    * main's `Pipeline([xgboost])` plus the imbalance handling its
    * scale_pos_weight did internally).
    */
  def gbtPipeline(featureCols: Seq[String], seed: Long = 42L,
      scalePosWeight: Double = 17.25, maxIter: Int = 20, maxDepth: Int = 5,
      stepSize: Double = 0.27): Pipeline =
    new Pipeline().setStages(Array(
      new ClassWeighter().setClassWeights(Array(1.0, scalePosWeight)),
      assembler(featureCols),
      gbtClassifier(seed, maxIter, maxDepth, stepSize)))

  /** M6: AUPRC + AUROC of a fitted model on a scored frame
    * (`src/evaluate.py:5-18`).
    */
  def evaluate(scored: DataFrame, labelCol: String = "label",
      rawCol: String = "probability"): (Double, Double) = {
    val ev = new BinaryClassificationEvaluator()
      .setLabelCol(labelCol).setRawPredictionCol(rawCol)
    val auprc = ev.setMetricName("areaUnderPR").evaluate(scored)
    val auroc = ev.setMetricName("areaUnderROC").evaluate(scored)
    (auprc, auroc)
  }

  /** M7: TrainValidationSplit over a small numTrees × maxDepth grid
    * (the reference's grids, `src/random_forest.py:22-46`), optimizing
    * AUPRC like the reference.
    */
  def tvs(featureCols: Seq[String], seed: Long = 42L,
      numTreesGrid: Seq[Int] = Seq(10, 20), maxDepthGrid: Seq[Int] = Seq(4, 8),
      trainRatio: Double = 0.8): TrainValidationSplit = {
    val rf = brfClassifier(seed, numTrees = 10, maxDepth = 4, weightCol = "weight")
    val pipe = new Pipeline().setStages(Array(
      new ClassWeighter().setClassWeights(Array(1.0, 1.0)), assembler(featureCols), rf))
    val grid = new ParamGridBuilder()
      .addGrid(rf.numTrees, numTreesGrid)
      .addGrid(rf.maxDepth, maxDepthGrid)
      .build()
    new TrainValidationSplit()
      .setEstimator(pipe)
      .setEvaluator(new BinaryClassificationEvaluator()
        .setLabelCol("label").setRawPredictionCol("probability").setMetricName("areaUnderPR"))
      .setEstimatorParamMaps(grid)
      .setTrainRatio(trainRatio)
      .setSeed(seed)
      // guide §2.6 (overlap independent jobs): grid fits are
      // independent, seeded, and tiny. Round-21 same-box A/B
      // (min-of-3 TimeQ, sf0.1/32cpu): parallelism 4 beats 8 —
      // q_ml_tvs_best 2.08 vs 2.26 s, q_ml_cv_best 4.98 vs 5.27 s
      // (medians 5.03 vs 6.3): 8 concurrent fits contend with each
      // fit's own 32-way stages, exactly the guide's "2-3 jobs in
      // flight is plenty" warning. Execution-only knob: per-fit
      // results are unchanged.
      .setParallelism(4)
  }

  /** M7 (the reference's BRF half): CrossValidator over the same pipeline
    * shape with `numFolds = 4` and `collectSubModels = true`, exactly the
    * reference's headline tuning call
    * (`src/random_forest.py:56-81`: `CrossValidator(estimator=pipeline,
    * estimatorParamMaps=paramGrid, evaluator=pr_evaluator, numFolds=4,
    * collectSubModels=True)`). The grid here is a small numTrees ×
    * maxDepth slice of the reference's 216-point grid — same axes, sized
    * for the verification harness; callers pass wider grids in production.
    *
    * Scale note: k-fold CV runs folds × grid fits. Each fold's split is a
    * filter over the same (cached) frame, so the input scans stay k, not
    * k × grid; `setParallelism` lets independent grid fits share the
    * cluster. `collectSubModels` keeps folds × grid fitted models on the
    * driver — fine for forests (KB each), the reference's own choice.
    */
  def cv(featureCols: Seq[String], seed: Long = 42L,
      numTreesGrid: Seq[Int] = Seq(10, 20), maxDepthGrid: Seq[Int] = Seq(4, 8),
      numFolds: Int = 4, collectSubModels: Boolean = true): CrossValidator = {
    val rf = brfClassifier(seed, numTrees = 10, maxDepth = 4, weightCol = "weight")
    val pipe = new Pipeline().setStages(Array(
      new ClassWeighter().setClassWeights(Array(1.0, 1.0)), assembler(featureCols), rf))
    val grid = new ParamGridBuilder()
      .addGrid(rf.numTrees, numTreesGrid)
      .addGrid(rf.maxDepth, maxDepthGrid)
      .build()
    new CrossValidator()
      .setEstimator(pipe)
      .setEvaluator(new BinaryClassificationEvaluator()
        .setLabelCol("label").setRawPredictionCol("probability").setMetricName("areaUnderPR"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(numFolds)
      .setCollectSubModels(collectSubModels)
      .setSeed(seed)
      // guide §2.6: 16 independent (fold × grid) fits. Round-21 A/B
      // reverted the round-20 bump to 8 — see tvs() above for the
      // numbers; halving the waves lost to the added stage contention.
      // Execution-only knob.
      .setParallelism(4)
  }

  /** M11: labeled, sorted feature importances of a forest
    * (`src/random_forest.py:224-231`).
    */
  def featureImportances(model: RandomForestClassificationModel,
      featureNames: Seq[String], spark: SparkSession): DataFrame = {
    import spark.implicits._
    val imps = model.featureImportances.toArray
    featureNames.zip(imps).toDF("feature", "importance")
      .orderBy(desc("importance"), col("feature"))
  }

  /** M12: walk every stage's `extractParamMap` into (stage, param, value)
    * rows (`src/export_results.py:17-46`). Values rendered with the same
    * formatting the reference's text export used (plain toString).
    */
  def exportParams(model: PipelineModel, spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = model.stages.zipWithIndex.flatMap { case (stage, i) =>
      val stageName = stage.getClass.getSimpleName
      stage.extractParamMap().toSeq
        .map(p => (i, stageName, p.param.name, String.valueOf(p.value match {
          case arr: Array[_] => arr.mkString("[", ",", "]")
          case v => v
        })))
    }.toSeq
    rows.toDF("stage_idx", "stage", "param", "value")
      .orderBy(col("stage_idx"), col("param"))
  }

  /** Single-metric results frame (AUPRC/AUROC on train + test), the
    * shape `write_results` exports (`src/export_results.py:33-46`).
    */
  def resultsFrame(model: Transformer, train: DataFrame, test: DataFrame,
      spark: SparkSession): DataFrame = {
    import spark.implicits._
    // persist the scored frames: evaluate() aggregates each twice
    // (areaUnderPR + areaUnderROC), and forest scoring is the dominant
    // per-pass cost
    val trScored = model.transform(train).persist()
    val teScored = model.transform(test).persist()
    val ((trPr, trRoc), (tePr, teRoc)) =
      try (evaluate(trScored), evaluate(teScored))
      finally { trScored.unpersist(); teScored.unpersist() }
    Seq(
      ("test", "areaUnderPR", tePr), ("test", "areaUnderROC", teRoc),
      ("train", "areaUnderPR", trPr), ("train", "areaUnderROC", trRoc))
      .toDF("split", "metric", "value")
      .orderBy(col("split"), col("metric"))
  }
}
