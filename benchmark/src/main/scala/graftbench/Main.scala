package graftbench

import graft.{Sessions, SparkEntry, Tables}
import graft.ml.RandomUnderSampler
import graft.operators.RoadFeatures
import graft.pipeline.AccidentPipeline
import graft.sources.{AccidentsCsv, CachedTable, KmlRoadNetwork, ResultsSink}
import org.apache.spark.ml.param.{BooleanParam, DoubleParam, LongParam, Param}
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Benchmark driver: one JVM per run, started by `benchmark/run.py`.
  *
  *   dump-oracles out=FILE
  *       writes {"oracles": {query: sql}, "rows_only": [...]} for the registry
  *   run workload=W seconds=S trace=0|1 cpus=N out=DIR result=FILE ...
  *       pipeline_montreal: in=DIR years=Y1,Y2 split=DATE negfrac=F
  *       registry_heavy:    sf=DIR queries=q1,q2,...
  *
  * A run warms up with one full round of the workload at the timed scale,
  * then repeats whole rounds until `seconds` have passed. Every round
  * writes all of its outputs as parquet (or the pipeline's CSV exports),
  * which the Python side checks after the JVM exits.
  */
object Main {

  private def argMap(args: Array[String]): Map[String, String] =
    args.drop(1).map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap

  private def writeJson(path: String, value: Any): Unit =
    Files.writeString(Paths.get(path), Serialization.write(value.asInstanceOf[AnyRef])(DefaultFormats))

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("dump-oracles") =>
      writeJson(argMap(args)("out"), Map(
        "oracles" -> SparkEntry.oracleSql,
        "rows_only" -> SparkEntry.rowsOnlyByDesign.toSeq.sorted,
        "registered" -> SparkEntry.all.map(_.name)))
    case Some("run") => run(argMap(args))
    case _ => sys.error("usage: Main dump-oracles out=FILE | Main run key=value...")
  }

  /** What one timed round measured. `layers` is filled in traced runs. */
  final case class Round(wallS: Double, work: Totals, failures: Seq[String],
      layers: Map[String, Double], profile: Seq[Map[String, Any]])

  private def run(a: Map[String, String]): Unit = {
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val out = a("out")

    val (spark, start) = {
      val t0 = System.nanoTime()
      val s = Sessions.local(cpus = cpus.toString, appName = s"graftbench-$workload")
      s.sparkContext.setLogLevel("ERROR")
      (s, (System.nanoTime() - t0) / 1e9)
    }
    val probe = new Probe(spark, traced)

    val (ops, round): (Int, () => Round) = workload match {
      case "pipeline_montreal" =>
        val p = PipelineInputs(a("in"), s"$out/pipeline",
          a("years").split(",").map(_.toInt).toSeq, a("split"), a("negfrac").toDouble)
        (1, () => pipelineRound(spark, probe, p))
      case "registry_heavy" =>
        val names = a("queries").split(",").toSeq
        val unknown = names.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"not registered: ${unknown.mkString(",")}")
        (names.size, () => registryRound(spark, probe, a("sf"), s"$out/registry", names))
      case other => sys.error(s"unknown workload $other")
    }

    round() // warm-up: same code, same scale, not timed
    val timedStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val rounds = mutable.ArrayBuffer.empty[Round]
    while (rounds.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) rounds += round()
    val timedS = (System.nanoTime() - t0) / 1e9

    val extraLayers: Map[String, Double] = if (!traced) Map.empty else workload match {
      case "pipeline_montreal" => pipelineExtras(spark, s"$out/pipeline")
      case _ => tablesLoad(spark, probe, a("sf"))
    }
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else rounds.head.layers.keys.map(k => k -> median(rounds.map(_.layers(k)).toSeq)).toMap ++
        extraLayers + ("sessions.start_s" -> start)

    writeJson(a("result"), Map(
      "timed_start_ms" -> timedStartMs,
      "timed_s" -> timedS,
      "ops_per_round" -> ops,
      "rounds" -> rounds.map(r => Map(
        "wall_s" -> r.wallS, "jobs" -> r.work.jobs,
        "shuffle_write_bytes" -> r.work.shuffleWriteBytes)).toSeq,
      "failures" -> rounds.flatMap(_.failures).toSeq,
      "layers" -> layers,
      "profile" -> rounds.zipWithIndex.flatMap { case (r, i) =>
        r.profile.map(_ + ("round" -> i)) }.toSeq))
    spark.stop()
  }

  /** Per-round layer numbers every traced workload reports. */
  private def execLayers(wallS: Double, w: Totals, cpus: Int): Map[String, Double] = Map(
    "exec.jobs" -> w.jobs.toDouble,
    "exec.shuffle_write_mb" -> w.shuffleWriteBytes / 1e6,
    "exec.task_s" -> w.taskMs / 1e3,
    "exec.cpu_s" -> w.cpuNs / 1e9,
    "exec.gc_s" -> w.gcMs / 1e3,
    "exec.stages" -> w.stages.toDouble,
    "exec.tasks" -> w.tasks.toDouble,
    "exec.shuffle_read_mb" -> w.shuffleReadBytes / 1e6,
    "exec.spill_mb" -> w.spillBytes / 1e6,
    "exec.evicted_blocks" -> w.evictedBlocks.toDouble,
    "exec.utilisation" -> (if (wallS > 0) w.taskMs / 1e3 / (wallS * cpus) else 0.0),
    "plans.planning_ms" -> w.planningMs.toDouble,
    "plans.exchanges" -> w.exchanges.toDouble,
    "plans.broadcast_joins" -> w.broadcastJoins.toDouble)

  // ---------------------------------------------------------------- registry

  private def registryRound(spark: SparkSession, probe: Probe, sf: String,
      out: String, names: Seq[String]): Round = {
    val failures = mutable.ArrayBuffer.empty[String]
    val profile = mutable.ArrayBuffer.empty[Map[String, Any]]
    var wall = 0.0
    var work = Totals()
    var builderS = 0.0
    var builderJobs = 0L
    var cacheLeft = 0L
    names.foreach { name =>
      // isolation between queries, as graft.Bench does: drop what the
      // previous query left cached and collect its garbage off the clock
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      val before = probe.snapshot()
      try {
        val (df, b) = probe.span(SparkEntry.queries(name)(spark, sf))
        val (_, e) = probe.span(df.write.mode("overwrite").parquet(s"$out/$name"))
        wall += b.wallS + e.wallS
        if (probe.traced) {
          val left = probe.cacheEntries()
          builderS += b.wallS; builderJobs += b.work.jobs; cacheLeft += left
          profile += Map(
            "query" -> name, "builder_s" -> b.wallS, "builder_jobs" -> b.work.jobs,
            "exec_s" -> e.wallS, "planning_ms" -> (b.work.planningMs + e.work.planningMs),
            "jobs" -> (b.work.jobs + e.work.jobs), "stages" -> (b.work.stages + e.work.stages),
            "task_s" -> (b.work.taskMs + e.work.taskMs) / 1e3,
            "shuffle_write_bytes" -> (b.work.shuffleWriteBytes + e.work.shuffleWriteBytes),
            "exchanges" -> (b.work.exchanges + e.work.exchanges),
            "broadcast_joins" -> (b.work.broadcastJoins + e.work.broadcastJoins),
            "cache_entries_left" -> left)
        }
      } catch {
        case ex: Throwable => failures += s"$name: ${ex.getClass.getSimpleName}: ${ex.getMessage}"
      }
      work = work + (probe.snapshot() - before)
    }
    spark.sharedState.cacheManager.clearCache()
    val layers =
      if (!probe.traced) Map.empty[String, Double]
      else execLayers(wall, work, spark.sparkContext.defaultParallelism) ++ Map(
        "queries.builder_s" -> builderS,
        "queries.builder_jobs" -> builderJobs.toDouble,
        "queries.cache_entries_left" -> cacheLeft.toDouble)
    Round(wall, work, failures.toSeq, layers, profile.toSeq)
  }

  /** Per-call cost of `Tables.load` over the ten tables (traced only). */
  private def tablesLoad(spark: SparkSession, probe: Probe, sf: String): Map[String, Double] = {
    val calls = Tables.names.map { n =>
      val (_, s) = probe.span(Tables.load(spark, sf, n))
      (s.wallS * 1e3, s.work.jobs.toDouble)
    }
    Map("tables.load_ms" -> median(calls.map(_._1)),
      "tables.load_jobs" -> median(calls.map(_._2)))
  }

  // ---------------------------------------------------------------- pipeline

  final case class PipelineInputs(in: String, out: String, years: Seq[Int],
      splitDate: String, negFraction: Double)

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  /** The paper's flow, one stage after another, each stage cached to
    * parquet the way the reference's workdir caches are
    * (`sources.CachedTable`): KMZ → road points → road features;
    * accidents CSV → preprocessed accidents → nearest-road match →
    * positive and negative samples → train/test → balanced forest →
    * evaluation and threshold curve → CSV export.
    */
  private def pipelineRound(spark: SparkSession, probe: Probe, p: PipelineInputs): Round = {
    deleteTree(Paths.get(p.out))
    System.gc()
    val st = s"${p.out}/stages"
    val before = probe.snapshot()
    val t0 = System.nanoTime()

    val (points, kmz) = probe.span(CachedTable(spark, s"$st/road_points") {
      KmlRoadNetwork.withStreetIds(
        KmlRoadNetwork.roadPoints(KmlRoadNetwork.kmlFromKmz(spark, s"${p.in}/kmz")))
    })
    val (roads, feats) = probe.span(CachedTable(spark, s"$st/road_features") {
      RoadFeatures.features(points)
    })
    val (accidents, csv) = probe.span(CachedTable(spark, s"$st/accidents") {
      AccidentsCsv.preprocess(AccidentsCsv.read(spark, s"${p.in}/accidents.csv"))
    })
    val (matched, nearest) = probe.span(CachedTable(spark, s"$st/matched") {
      AccidentPipeline.matchAccidentsToRoads(accidents, points)
    })
    val ((train, test), dataset) = probe.span {
      val pos = CachedTable(spark, s"$st/positives") {
        AccidentPipeline.positiveSamples(matched, roads)
      }
      val neg = CachedTable(spark, s"$st/negatives") {
        AccidentPipeline.negativeSamples(spark, roads, p.years, p.negFraction)
      }
      val (tr, te) = AccidentPipeline.dataset(pos, neg, p.splitDate)
      (CachedTable(spark, s"$st/train")(tr), CachedTable(spark, s"$st/test")(te))
    }
    val (res, trainEval) = probe.span(AccidentPipeline.trainAndEvaluate(train, test, spark))
    val (_, curve) = probe.span(ResultsSink.writeCsv(res.curve, s"${p.out}/export/curve"))
    ResultsSink.writeCsv(res.results, s"${p.out}/export/results")
    ResultsSink.writeCsv(res.params, s"${p.out}/export/params")
    val wall = (System.nanoTime() - t0) / 1e9
    val work = probe.snapshot() - before

    val layers =
      if (!probe.traced) Map.empty[String, Double]
      else {
        val (fitS, fitJobs, evalS) = probe.evaluatorSplit(trainEval.startMs, trainEval.endMs) match {
          case Some((firstEval, jobsBefore)) =>
            ((firstEval - trainEval.startMs) / 1e3, jobsBefore.toDouble,
              (trainEval.endMs - firstEval) / 1e3)
          case None => (trainEval.wallS, trainEval.work.jobs.toDouble, 0.0)
        }
        execLayers(wall, work, spark.sparkContext.defaultParallelism) ++ Map(
          "sources.kmz_parse_s" -> kmz.wallS,
          "sources.csv_read_s" -> csv.wallS,
          "sources.stage_write_s" -> work.commitMs / 1e3,
          "operators.road_features_s" -> feats.wallS,
          "operators.nearest_match_s" -> nearest.wallS,
          "operators.nearest_match_jobs" -> nearest.work.jobs.toDouble,
          "operators.threshold_metrics_s" -> curve.wallS,
          "pipeline.dataset_s" -> dataset.wallS,
          "ml.fit_s" -> fitS,
          "ml.fit_jobs" -> fitJobs,
          "ml.evaluate_s" -> evalS)
      }
    Round(wall, work, Nil, layers, Nil)
  }

  /** Traced-only readings taken after the timed rounds, from the last
    * round's outputs: example count, and the share of training rows the
    * balanced forest's undersampler keeps. The sampler is rebuilt from
    * stage 0 of the exported params, so it has the settings the program's
    * `trainAndEvaluate` used.
    */
  private def pipelineExtras(spark: SparkSession, out: String): Map[String, Double] = {
    val train = spark.read.parquet(s"$out/stages/train")
    val test = spark.read.parquet(s"$out/stages/test")
    val nTrain = train.count()
    val kept = exportedSampler(spark, s"$out/export/params").fit(train).transform(train).count()
    Map("pipeline.examples" -> (nTrain + test.count()).toDouble,
      "ml.undersample_kept_ratio" -> kept.toDouble / nTrain)
  }

  /** A `RandomUnderSampler` set from the stage-0 rows of a params export
    * (`Trainers.exportParams`: stage_idx, stage, param, value).
    */
  private def exportedSampler(spark: SparkSession, paramsCsv: String): RandomUnderSampler = {
    val rows = spark.read.option("header", "true").csv(paramsCsv)
      .filter("stage_idx = 0").collect()
    require(rows.nonEmpty && rows.forall(_.getAs[String]("stage").startsWith("RandomUnderSampler")),
      s"stage 0 of $paramsCsv is not the undersampler")
    val sampler = new RandomUnderSampler()
    rows.foreach { r =>
      val p = sampler.getParam(r.getAs[String]("param"))
      val v = r.getAs[String]("value")
      val parsed: Any = (p: Param[_]) match {
        case _: DoubleParam => v.toDouble
        case _: LongParam => v.toLong
        case _: BooleanParam => v.toBoolean
        case _ => v
      }
      sampler.set(p, parsed)
    }
    sampler
  }
}
