package graft.ml

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.graftbridge.MlPersistBridge
import org.apache.spark.ml.param.{DoubleParam, LongParam, Param, ParamMap, Params}
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable,
  Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Majority-class random undersampling to a target imbalance ratio —
  * Scala re-expression of the reference's custom `Estimator`
  * (`src/random_undersampler.py:7-101`).
  *
  * fit: ratio = n_negative / n_positive; keepFraction =
  * targetRatio / ratio; the model MEMORIZES the ids of the fit-data
  * negatives chosen for removal (the reference's design, lines 74-89).
  * transform: anti-join those ids away. Because the removed-id set is
  * fixed at fit time, scoring a DISJOINT dataset (e.g. the test split)
  * through a fitted Pipeline passes it through untouched — a transform
  * that re-sampled any input would silently subsample evaluation data
  * (caught by the end-to-end threshold-curve totals check).
  *
  * Sampling is a deterministic multiplicative hash of the id (where the
  * reference draws a seeded Bernoulli `sample`) — reproducible across
  * runs/partitionings and SQL-portable, which is what lets the DuckDB
  * oracle verify the estimator end-to-end.
  */
class RandomUnderSampler(override val uid: String)
    extends Estimator[RandomUnderSamplerModel] with RandomUnderSamplerParams
    with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("randomUnderSampler"))

  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setTargetImbalanceRatio(v: Double): this.type = set(targetImbalanceRatio, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setIndexCol(v: String): this.type = set(indexCol, v)

  override def fit(ds: Dataset[_]): RandomUnderSamplerModel = {
    val l = col($(labelCol)).cast("double")
    val counts = ds.toDF().groupBy(l.as("l")).count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val nPos = counts.getOrElse(1.0, 0L).toDouble
    val nNeg = counts.getOrElse(0.0, 0L).toDouble
    val ratio = if (nPos > 0) nNeg / nPos else 1.0
    val keep = if (ratio > $(targetImbalanceRatio)) $(targetImbalanceRatio) / ratio else 1.0
    val removedIds =
      if (keep >= 1.0) None
      else {
        val removed = ds.toDF().filter(l === 0.0)
          .filter(RandomUnderSampler.hashKeepScore(col($(indexCol)), $(seed)) >= keep)
        // small relative to the input (the complement of the kept set);
        // persisted so every downstream transform reuses one evaluation
        Some(removed.select(col($(indexCol)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      }
    val model = new RandomUnderSamplerModel(uid, keep, removedIds)
    copyValues(model.setParent(this))
  }

  override def transformSchema(schema: StructType): StructType = schema

  override def copy(extra: ParamMap): RandomUnderSampler = defaultCopy(extra)
}

/** Params shared by [[RandomUnderSampler]] and its model. */
private[ml] trait RandomUnderSamplerParams extends Params {
  final val labelCol = new Param[String](this, "labelCol", "binary label column")
  final val targetImbalanceRatio = new DoubleParam(this, "targetImbalanceRatio",
    "desired n_negative / n_positive after sampling")
  final val seed = new LongParam(this, "seed", "sampling seed")
  final val indexCol = new Param[String](this, "indexCol",
    "unique row id column (the reference's indexCol) — removal is tracked by id")

  setDefault(labelCol -> "label", targetImbalanceRatio -> 1.0, seed -> 42L,
    indexCol -> "sample_id")
}

object RandomUnderSampler extends DefaultParamsReadable[RandomUnderSampler] {
  /** Deterministic per-row keep score in [0, 1): multiplicative integer
    * hash of (id, seed). The id is reduced mod p BEFORE the multiply so
    * the product is bounded by (p-1)·2654435761 < Long.MaxValue — Spark 4
    * runs ANSI mode by default and the unreduced form overflows (throws)
    * for |id| ≥ ~3.5e9, which `monotonically_increasing_id` produces for
    * any row beyond partition 0. DuckDB computes the identical value
    * (and would equally overflow unreduced).
    */
  def hashKeepScore(id: org.apache.spark.sql.Column, seed: Long): org.apache.spark.sql.Column =
    pmod(pmod(id.cast("long") + lit(seed), lit(1000000007L)) * lit(2654435761L),
      lit(1000000007L)).cast("double") / 1000000007.0
}

class RandomUnderSamplerModel(override val uid: String, val keepFraction: Double,
    val removedIds: Option[DataFrame])
    extends Model[RandomUnderSamplerModel] with RandomUnderSamplerParams with MLWritable {

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    removedIds match {
      case None => df
      case Some(ids) => df.join(ids, Seq($(indexCol)), "left_anti")
    }
  }

  override def transformSchema(schema: StructType): StructType = schema

  override def copy(extra: ParamMap): RandomUnderSamplerModel = {
    val m = new RandomUnderSamplerModel(uid, keepFraction, removedIds)
    copyValues(m, extra).setParent(parent)
  }

  override def write: MLWriter = new RandomUnderSamplerModel.Writer(this)
}

/** Persistence: default params metadata can't carry the model's
  * `removedIds` DataFrame (the reference's fit-time removal memory), so
  * the writer stores it as parquet next to `metadata.json` — scoring
  * tomorrow's data with today's saved `PipelineModel` reproduces the
  * exact fit-time sampling (the reference persists its artifacts,
  * `/root/reference/src/export_results.py:17-46`).
  */
object RandomUnderSamplerModel extends MLReadable[RandomUnderSamplerModel] {
  private val className = classOf[RandomUnderSamplerModel].getName

  private class Writer(instance: RandomUnderSamplerModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      import org.json4s.JsonDSL._
      MlPersistBridge.saveMetadata(instance, path, sparkSession,
        Some(("keepFraction" -> instance.keepFraction) ~
          ("hasRemovedIds" -> instance.removedIds.isDefined)))
      instance.removedIds.foreach(
        _.write.mode("overwrite").parquet(new Path(path, "removedIds").toString))
    }
  }

  private class Reader extends MLReader[RandomUnderSamplerModel] {
    override def load(path: String): RandomUnderSamplerModel = {
      implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
      MlPersistBridge.loadAndCreate(path, sparkSession, className) { (uid, meta) =>
        val keep = (meta \ "keepFraction").extract[Double]
        val ids =
          if ((meta \ "hasRemovedIds").extract[Boolean])
            Some(sparkSession.read.parquet(new Path(path, "removedIds").toString))
          else None
        new RandomUnderSamplerModel(uid, keep, ids)
      }
    }
  }

  override def read: MLReader[RandomUnderSamplerModel] = new Reader
}