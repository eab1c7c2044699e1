package graft

import graft.operators.RoadFeatures
import graft.pipeline.AccidentPipeline
import graft.sources.{AccidentsCsv, KmlRoadNetwork}
import org.apache.spark.sql.functions._

/** End-to-end: fixture KML road network + fixture accident CSV through
  * matching, sample generation, dataset assembly, training and the
  * threshold curve — the reference's full §3 flow on engine operators.
  */
class PipelineSpec extends SparkSpec {

  private val nStreets = 12
  private def centerLat(i: Int) = 45.50 + (i % 4) * 0.01
  private def centerLon(i: Int) = -73.60 + (i / 4) * 0.01

  private lazy val kml: String = {
    val placemarks = (0 until nStreets).map { i =>
      val (la, lo) = (centerLat(i), centerLon(i))
      f"""<Placemark><name>rue $i%d</name>
         |<description>&lt;th&gt;nid&lt;/th&gt;
         |&lt;td&gt;ab$i%02d&lt;/td&gt;</description>
         |<MultiGeometry>
         |<Point><coordinates>$lo%.5f,$la%.5f</coordinates></Point>
         |<LineString><coordinates>${lo - 0.001}%.5f,$la%.5f ${lo + 0.001}%.5f,$la%.5f</coordinates></LineString>
         |</MultiGeometry></Placemark>""".stripMargin
    }
    s"""<kml><Document><Folder><name>Artère</name>${placemarks.mkString("\n")}</Folder></Document></kml>"""
  }

  private lazy val accidentsCsvPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    val f = new java.io.File(dir, "accidents.csv")
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println("DT_ACCDN,HEURE_ACCDN,LOC_LAT,LOC_LONG")
    (0 until 60).foreach { k =>
      val s = k % nStreets
      val (la, lo) = (centerLat(s) + 0.0002, centerLon(s) - 0.0001)
      val y = 2016 + (k % 2); val m = k % 12 + 1; val d = k % 28 + 1; val h = k % 24
      w.println(f"$y%04d/$m%02d/$d%02d,$h%d:15,$la%.5f,$lo%.5f")
    }
    // unparseable key fields (FIXTURES.md A1): dropped, never a failed read
    w.println(f"2016/05/05,Non précisé,${centerLat(0)}%.5f,${centerLon(0)}%.5f")
    w.println(f"2016/05/05,10:15,n/a,${centerLon(0)}%.5f")
    w.close()
    f.toString
  }

  test("KML + CSV → match → samples → dataset → train → curve, end to end") {
    val s = spark; import s.implicits._

    val accidents = AccidentsCsv.preprocess(AccidentsCsv.read(s, accidentsCsvPath))
    assert(accidents.count() == 60)

    val points = KmlRoadNetwork.withStreetIds(
      KmlRoadNetwork.roadPoints(Seq(kml).toDS()))
    val roads = RoadFeatures.features(points)
    assert(roads.count() == nStreets)
    // two LineString points 0.002° apart at 45.5°N ≈ 157 m street length
    val lens = roads.select("street_length").collect().map(_.getDouble(0))
    assert(lens.forall(l => l > 140 && l < 175), s"lengths ${lens.toSeq}")
    assert(roads.select("street_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("street")) // all "rue …"

    // every accident was generated 0.0002° from a specific street's
    // center — the matcher must recover exactly that street
    val matched = AccidentPipeline.matchAccidentsToRoads(accidents, points)
    assert(matched.count() == 60)
    assert(matched.agg(max("distance_m")).head.getDouble(0) < 30.0)
    val byStreet = matched.groupBy("street_id").count().collect()
    assert(byStreet.length == nStreets && byStreet.forall(_.getLong(1) == 5))

    val pos = AccidentPipeline.positiveSamples(matched, roads)
    val neg = AccidentPipeline.negativeSamples(s, roads, Seq(2016, 2017),
      sampleFraction = 0.005)
    assert(pos.count() == 60)
    val nNeg = neg.count()
    // 731 days × 24 h × 12 streets × 0.005 ≈ 1053
    assert(nNeg > 500 && nNeg < 1700, s"nNeg=$nNeg")

    val (train, test) = AccidentPipeline.dataset(pos, neg, splitDate = "2017-01-01")
    assert(train.count() > 0 && test.count() > 0)
    // no negative may collide with a positive on (street, date, hour)
    val keys = Seq("street_id", "date", "hour")
    assert(train.unionByName(test).groupBy(keys.map(col): _*).count()
      .filter($"count" > 1).count() == 0)

    val r = AccidentPipeline.trainAndEvaluate(train, test, s,
      numTrees = 5, maxDepth = 3)
    val vals = r.results.collect().map(x => (x.getString(0), x.getString(1), x.getDouble(2)))
    assert(vals.length == 4)
    assert(vals.forall { case (_, _, v) => v >= 0.0 && v <= 1.0 })
    assert(r.curve.count() == 20)
    // curve totals must equal the test-set size at every threshold
    val n = test.count()
    assert(r.curve.select(($"tp" + $"fp" + $"tn" + $"fn").as("t"))
      .collect().forall(_.getLong(0) == n))
    assert(r.params.filter($"param" === "numTrees" && $"value" === "5").count() == 1)
  }
}
