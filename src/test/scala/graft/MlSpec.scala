package graft

import graft.ml._
import graft.queries.TrainQueries
import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.sql.functions._

class RandomUnderSamplerSpec extends SparkSpec {

  test("hash-deterministic sampling converges to the target ratio and is reproducible") {
    val s = spark; import s.implicits._
    // 9000 negatives, 1000 positives → ratio 9; target 2 → keep 2/9 of negatives
    val df = (0 until 10000).map(i => (i.toLong, if (i % 10 == 0) 1.0 else 0.0))
      .toDF("id", "label")
    val m = new RandomUnderSampler().setTargetImbalanceRatio(2.0).setSeed(42L)
      .setIndexCol("id").fit(df)
    val out = m.transform(df)
    val nPos = out.filter($"label" === 1.0).count()
    val nNeg = out.filter($"label" === 0.0).count()
    assert(nPos == 1000) // positives untouched
    val ratio = nNeg.toDouble / nPos
    assert(math.abs(ratio - 2.0) < 0.15, s"ratio $ratio")
    // deterministic: same result twice
    assert(out.agg(sum("id")).head.getLong(0) ==
      m.transform(df).agg(sum("id")).head.getLong(0))
  }

  test("keepFraction >= 1 is the identity on balanced data") {
    val s = spark; import s.implicits._
    val balanced = (0 until 100).map(i => (i.toLong, (i % 2).toDouble)).toDF("id", "label")
    // ratio 1 at or under the target: nothing removed, for either target
    Seq(2.0, 1.0).foreach { target =>
      val m = new RandomUnderSampler().setTargetImbalanceRatio(target).setSeed(7L)
        .setIndexCol("id").fit(balanced)
      assert(m.keepFraction == 1.0 && m.removedIds.isEmpty, s"target $target")
      assert(m.transform(balanced).exceptAll(balanced).isEmpty &&
        balanced.exceptAll(m.transform(balanced)).isEmpty, s"target $target")
    }
  }

  test("hash sampling survives monotonically_increasing_id-scale ids under ANSI mode") {
    val s = spark; import s.implicits._
    // ids at partition-1+ magnitudes (>= 2^33) overflowed the unreduced
    // multiplicative hash under Spark 4's default ANSI arithmetic
    val big = Seq.tabulate(100)(i => ((1L << 35) + i * (1L << 33), (i % 5 == 0) match {
      case true => 1.0; case false => 0.0
    })).toDF("id", "label")
    val m = new RandomUnderSampler().setTargetImbalanceRatio(1.0).setSeed(42L)
      .setIndexCol("id").fit(big)
    val out = m.transform(big)
    assert(out.filter($"label" === 1.0).count() == 20)
    assert(out.filter($"label" === 0.0).count() < 80) // actually sampled, no throw
  }

  test("a fitted model passes disjoint (test) data through untouched") {
    val s = spark; import s.implicits._
    val train = (0 until 1000).map(i => (i.toLong, if (i % 10 == 0) 1.0 else 0.0))
      .toDF("id", "label")
    val test = (10000 until 10200).map(i => (i.toLong, if (i % 10 == 0) 1.0 else 0.0))
      .toDF("id", "label")
    val m = new RandomUnderSampler().setTargetImbalanceRatio(1.0).setSeed(42L)
      .setIndexCol("id").fit(train)
    assert(m.transform(train).count() < 1000)  // train resampled
    assert(m.transform(test).count() == 200)   // test untouched (disjoint ids)
  }
}

class ClassWeighterSpec extends SparkSpec {

  test("explicit weights applied per label") {
    val s = spark; import s.implicits._
    val df = Seq((0, "a"), (1, "b"), (1, "c")).toDF("label", "x")
    val w = new ClassWeighter().setClassWeights(Array(0.5, 2.0)).transform(df)
    val got = w.select("label", "weight").collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(got == Set((0, 0.5), (1, 2.0)))
  }

  test("fitBalanced uses the k-class rule n/(k*n_c)") {
    val s = spark; import s.implicits._
    // 3 classes: 6 rows total, counts 3/2/1 → weights 6/(3*3), 6/(3*2), 6/(3*1)
    val df = Seq(0, 0, 0, 1, 1, 2).toDF("label")
    val cw = new ClassWeighter().fitBalanced(df)
    val ws = cw.transform(df).select("label", "weight").distinct().collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(math.abs(ws(0) - 6.0 / 9) < 1e-12)
    assert(math.abs(ws(1) - 1.0) < 1e-12)
    assert(math.abs(ws(2) - 2.0) < 1e-12)
  }

  test("fitBalanced: gap labels weight 0.0, empty input throws") {
    val s = spark; import s.implicits._
    val df = Seq(0, 2).toDF("label") // label 1 absent
    val w = new ClassWeighter().fitBalanced(df)
      .transform(Seq(0, 1, 2).toDF("label"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(w(0) == 1.0 && w(2) == 1.0) // n/(k*nc) = 2/(2*1)
    assert(w(1) == 0.0)                // absent at fit → weight 0
    intercept[IllegalArgumentException] {
      new ClassWeighter().fitBalanced(Seq.empty[Int].toDF("label"))
    }
  }
}

class BaselineRateModelSpec extends SparkSpec {

  test("fit computes reverse-cumulative P(label=1 | count >= c)") {
    val s = spark; import s.implicits._
    val df = Seq((1L, 0.0), (1L, 0.0), (2L, 1.0), (2L, 0.0), (3L, 1.0))
      .toDF("cnt", "label")
    val m = BaselineRateModel.fit(df, "cnt", "label").orderBy("count_value").collect()
    // count>=1: 2/5; count>=2: 2/3; count>=3: 1/1
    assert(m.map(_.getAs[Double]("prob")).toSeq == Seq(0.4, 2.0 / 3, 1.0))
  }

  test("transform floor-clamps unseen counts to the fitted domain") {
    val s = spark; import s.implicits._
    val train = Seq((2L, 0.0), (2L, 1.0), (4L, 1.0), (4L, 1.0)).toDF("cnt", "label")
    val model = BaselineRateModel.fit(train, "cnt", "label")
    // probs: count>=2: 3/4, count>=4: 2/2=1.0
    val test = Seq(1L, 2L, 3L, 5L).toDF("cnt") // 1 below domain, 3 and 5 unseen
    val got = BaselineRateModel.transform(test, model, "cnt")
      .select("cnt", "prob").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 0.75) // clamped up to smallest fitted count (2)
    assert(got(2L) == 0.75)
    assert(got(3L) == 0.75) // floor → 2
    assert(got(5L) == 1.0)  // floor → 4
  }
}

class TrainersSpec extends SparkSpec {

  private lazy val feats = TrainQueries.orderFeatures(spark, TestSpark.sf0001)
  private val fcols = Seq("n_items", "sum_qty", "avg_price", "max_discount",
    "sum_tax", "sum_price", "total_price", "o_month")

  test("assembler + vector bridge round-trips values, handleInvalid=keep") {
    val s = spark; import s.implicits._
    val df = Seq((1.0, 2.0), (Double.NaN, 3.0)).toDF("a", "b")
    val out = Trainers.assembler(Seq("a", "b")).transform(df)
      .select(Trainers.vectorElement(col("features"), 0).as("a2"),
        Trainers.vectorElement(col("features"), 1).as("b2")).collect()
    assert(out(0).getDouble(0) == 1.0 && out(0).getDouble(1) == 2.0)
    assert(out(1).getDouble(0).isNaN && out(1).getDouble(1) == 3.0) // kept, not dropped
  }

  test("brf pipeline trains, separates classes (AUROC > 0.65), probs in [0,1]") {
    val train = feats.filter(pmod(col("id"), lit(5)) =!= 0)
    val test = feats.filter(pmod(col("id"), lit(5)) === 0)
    val model = Trainers.brfPipeline(fcols, seed = 42L, targetImbalanceRatio = 2.0,
      indexCol = "id", numTrees = 10, maxDepth = 5).fit(train)
    val scored = model.transform(test)
    val (auprc, auroc) = Trainers.evaluate(scored)
    assert(auroc > 0.65 && auroc <= 1.0, s"auroc $auroc")
    assert(auprc > 0.0 && auprc <= 1.0, s"auprc $auprc")
    val probs = scored.select(Trainers.probPositive()).collect().map(_.getDouble(0))
    assert(probs.forall(p => p >= 0.0 && p <= 1.0))
  }

  test("gbt pipeline (XGBoost surrogate) separates classes, save/load is exact") {
    val train = feats.filter(pmod(col("id"), lit(5)) =!= 0)
    val test = feats.filter(pmod(col("id"), lit(5)) === 0)
    // sum_qty excluded like q_ml_gbt_train_metrics: the label is a
    // threshold on it, and the floor should test real generalization
    val model = Trainers.gbtPipeline(fcols.filterNot(_ == "sum_qty"),
      seed = 42L, scalePosWeight = 1.0,
      maxIter = 8, maxDepth = 3, stepSize = 0.27).fit(train)
    val scored = model.transform(test)
    val (auprc, auroc) = Trainers.evaluate(scored)
    assert(auroc > 0.65 && auroc <= 1.0, s"auroc $auroc")
    assert(auprc > 0.0 && auprc <= 1.0, s"auprc $auprc")
    val probs = scored.select(Trainers.probPositive()).collect().map(_.getDouble(0))
    assert(probs.forall(p => p >= 0.0 && p <= 1.0))
    // persistence round trip: identical per-row scores after reload
    val dir = java.nio.file.Files.createTempDirectory("graft_gbt").toString + "/pm"
    model.write.overwrite().save(dir)
    val loaded = org.apache.spark.ml.PipelineModel.load(dir)
    def scores(m: org.apache.spark.ml.PipelineModel) =
      m.transform(test).select(col("id"), Trainers.probPositive().as("p"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (a, b) = (scores(model), scores(loaded))
    assert(a.keySet == b.keySet && a.nonEmpty)
    a.foreach { case (k, v) => assert(v == b(k), s"id $k: $v != ${b(k)}") }
  }

  test("feature importances: non-negative, sum to 1, labeled") {
    val train = feats.filter(pmod(col("id"), lit(5)) =!= 0)
    val model = Trainers.brfPipeline(fcols, seed = 42L, targetImbalanceRatio = 2.0,
      indexCol = "id", numTrees = 10, maxDepth = 5).fit(train)
    val rf = model.stages.last.asInstanceOf[RandomForestClassificationModel]
    val imp = Trainers.featureImportances(rf, fcols, spark).collect()
    assert(imp.length == fcols.length)
    val vals = imp.map(_.getDouble(1))
    assert(vals.forall(_ >= 0))
    assert(math.abs(vals.sum - 1.0) < 1e-9)
  }

  test("params export walks every stage with values") {
    val train = feats.filter(pmod(col("id"), lit(5)) =!= 0)
    val model = Trainers.brfPipeline(fcols, seed = 42L, targetImbalanceRatio = 2.0,
      indexCol = "id", classWeights = Array(0.6, 3.0), numTrees = 5, maxDepth = 3).fit(train)
    val params = Trainers.exportParams(model, spark).collect()
    val stages = params.map(_.getString(1)).distinct
    assert(stages.length == 4) // sampler model, weighter, assembler, forest model
    def v(stage: String, p: String) =
      params.find(r => r.getString(1) == stage && r.getString(2) == p).get.getString(3)
    assert(v("RandomForestClassificationModel", "numTrees") == "5")
    assert(v("ClassWeighter", "classWeights") == "[0.6,3.0]")
    assert(v("RandomUnderSamplerModel", "targetImbalanceRatio") == "2.0")
  }

  test("fitted PipelineModel save → load → score round trip is exact") {
    val s = spark; import s.implicits._
    val train = feats.filter(pmod(col("id"), lit(5)) =!= 0)
    val test = feats.filter(pmod(col("id"), lit(5)) === 0)
    // target 1.0: the split's n_neg/n_pos ≈ 2, so the sampler actually
    // removes ids (keep ≈ 0.5) and the persistence of removedIds is real
    val model = Trainers.brfPipeline(fcols, seed = 42L, targetImbalanceRatio = 1.0,
      indexCol = "id", numTrees = 10, maxDepth = 5).fit(train)
    val dir = java.nio.file.Files.createTempDirectory("graft_pm").toString + "/pm"
    model.write.overwrite().save(dir)
    val loaded = org.apache.spark.ml.PipelineModel.load(dir)
    // the loaded sampler model must carry the fit-time removal memory:
    // train is resampled identically, disjoint test passes through
    val rus = loaded.stages.head.asInstanceOf[RandomUnderSamplerModel]
    assert(rus.removedIds.isDefined && rus.removedIds.get.count() > 0)
    assert(loaded.transform(train).count() == model.transform(train).count())
    // per-row identical scores on the test split
    def scores(m: org.apache.spark.ml.PipelineModel) =
      m.transform(test).select(col("id"), Trainers.probPositive().as("p"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (a, b) = (scores(model), scores(loaded))
    assert(a.keySet == b.keySet && a.nonEmpty)
    a.foreach { case (k, v) => assert(v == b(k), s"id $k: $v != ${b(k)}") }
  }

  test("TVS picks a grid point and reports one metric per point") {
    val train = feats.filter(pmod(col("id"), lit(5)) =!= 0)
    val tvsModel = Trainers.tvs(fcols, seed = 42L,
      numTreesGrid = Seq(3, 5), maxDepthGrid = Seq(2, 3)).fit(train)
    assert(tvsModel.validationMetrics.length == 4)
    assert(tvsModel.validationMetrics.forall(m => m >= 0 && m <= 1))
    val best = tvsModel.bestModel.asInstanceOf[org.apache.spark.ml.PipelineModel]
    val rf = best.stages.last.asInstanceOf[RandomForestClassificationModel]
    assert(Seq(3, 5).contains(rf.getNumTrees))
    assert(Seq(2, 3).contains(rf.getMaxDepth))
  }

  test("CV: numFolds=4, submodels = folds × grid, best metric is the max avg") {
    val train = feats.filter(pmod(col("id"), lit(5)) =!= 0)
    val cvModel = Trainers.cv(fcols, seed = 42L,
      numTreesGrid = Seq(3, 5), maxDepthGrid = Seq(2, 3), numFolds = 4).fit(train)
    assert(cvModel.avgMetrics.length == 4) // one fold-averaged metric per grid point
    assert(cvModel.avgMetrics.forall(m => m >= 0 && m <= 1))
    // collectSubModels=true keeps every fold × grid fitted model
    assert(cvModel.subModels.length == 4) // folds
    assert(cvModel.subModels.forall(_.length == 4)) // grid points per fold
    assert(cvModel.subModels.flatten.forall(_.isInstanceOf[org.apache.spark.ml.PipelineModel]))
    val best = cvModel.bestModel.asInstanceOf[org.apache.spark.ml.PipelineModel]
    val rf = best.stages.last.asInstanceOf[RandomForestClassificationModel]
    assert(Seq(3, 5).contains(rf.getNumTrees))
    assert(Seq(2, 3).contains(rf.getMaxDepth))
    // best model corresponds to the argmax of avgMetrics
    val bestIdx = cvModel.avgMetrics.zipWithIndex.maxBy(_._1)._2
    val pm = cvModel.getEstimatorParamMaps(bestIdx)
    val bestNt = pm.toSeq.find(_.param.name == "numTrees").get.value.asInstanceOf[Int]
    assert(rf.getNumTrees == bestNt)
    // a best-metric floor: on the learnable synthetic label CV should
    // beat a random-classifier AUPRC by a wide margin
    assert(cvModel.avgMetrics.max > 0.5, s"best avg AUPRC ${cvModel.avgMetrics.max}")
  }
}
