package graft

import graft.functions.TextFunctions
import graft.operators._
import org.apache.spark.sql.functions._

class ThresholdMetricsSpec extends SparkSpec {

  test("hand-computed 4-row fixture (2 buckets)") {
    val s = spark; import s.implicits._
    // probs: 0.1(label 0), 0.3(0), 0.6(1), 0.9(1); nBuckets=2 → bucket 0: two 0s, bucket 1: two 1s
    val scored = Seq((0.1, 0), (0.3, 0), (0.6, 1), (0.9, 1)).toDF("probability", "label")
    val m = ThresholdMetrics.compute(scored, nBuckets = 2).collect()
    assert(m.length == 2)
    val b0 = m(0); val b1 = m(1)
    // threshold 0.0: everything predicted positive
    assert(b0.getAs[Long]("tp") == 2 && b0.getAs[Long]("fp") == 2 &&
      b0.getAs[Long]("tn") == 0 && b0.getAs[Long]("fn") == 0)
    assert(b0.getAs[Double]("recall") == 1.0 && b0.getAs[Double]("precision") == 0.5)
    // threshold 0.5: perfect split
    assert(b1.getAs[Long]("tp") == 2 && b1.getAs[Long]("fp") == 0 &&
      b1.getAs[Long]("tn") == 2 && b1.getAs[Long]("fn") == 0)
    assert(b1.getAs[Double]("precision") == 1.0 && b1.getAs[Double]("f1") == 1.0)
  }

  test("out-of-range probabilities clamp to edge buckets — totals preserved") {
    val s = spark; import s.implicits._
    val scored = Seq((-0.2, 0), (0.5, 1), (1.3, 1)).toDF("probability", "label")
    val m = ThresholdMetrics.compute(scored, nBuckets = 4)
    // every row lands in a bucket: tp+fp+tn+fn = n at every threshold
    val tot = m.select(($"tp" + $"fp" + $"tn" + $"fn").as("t")).collect().map(_.getLong(0))
    assert(tot.forall(_ == 3))
  }
}

class SessionizeSpec extends SparkSpec {

  test("gap edges: exactly-gap stays in session, gap+1ms starts a new one") {
    val s = spark; import s.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(ms: Long) = new java.sql.Timestamp(base.getTime + ms)
    val gap = 60L // seconds
    val df = Seq(
      (1L, 1L, ts(0)),
      (1L, 2L, ts(gap * 1000)),     // exactly the gap → same session
      (1L, 3L, ts(2 * gap * 1000 + 1)), // gap+1ms later → new session
      (2L, 4L, ts(0))
    ).toDF("user_id", "event_id", "ts")
    val r = Sessionize.sessionize(df, "user_id", "ts", gap)
      .select("user_id", "event_id", "session_seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(r == Set((1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 2L), (2L, 4L, 1L)))
  }
}

class DedupSpec extends SparkSpec {

  test("exact clusters find the duplicated text, keep min id") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "ccc"), (5L, "aaa"))
      .toDF("doc_id", "text")
    val c = Dedup.exactClusters(docs).collect()
    assert(c.length == 1)
    assert(c(0).getAs[Long]("cluster_size") == 3 && c(0).getAs[Long]("keep_id") == 1L)
    assert(Dedup.dropExactDuplicates(docs).count() == 3)
  }

  test("ngram Jaccard: identical docs score 1.0, disjoint docs absent") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w v")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, n = 2, threshold = 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("id_a") == 1L && pairs(0).getAs[Long]("id_b") == 2L)
    assert(pairs(0).getAs[Double]("jaccard") == 1.0)
  }

  test("simHashPairs candidate generation is complete up to maxHamming (vs brute force)") {
    val s = spark; import s.implicits._
    val docs = Tables.load(s, TestSpark.sf0001, "documents").select("doc_id", "text")
    val maxH = 3
    val lsh = Dedup.simHashPairs(docs, maxHamming = maxH)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: all-pairs hamming over the same fingerprints
    val fp = docs.select(col("doc_id"), TextFunctions.simHash64(col("text")).as("fp"))
    val brute = fp.as("a").join(fp.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(TextFunctions.hamming64(col("a.fp"), col("b.fp")) <= maxH)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute, s"LSH pairs ${lsh.size} != brute ${brute.size}")
  }

  test("embedding near-dup multi-table LSH recalls brute-force cosine pairs at sf0.001") {
    val s = spark
    val emb = Tables.load(s, TestSpark.sf0001, "embeddings")
    val lsh = Dedup.embeddingNearDupPairs(emb, dim = 64, cosThreshold = 0.35,
        nBits = 4, nTables = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over all pairs (tiny at sf0.001)
    import graft.functions.VectorFunctions
    val v = emb.select(col("vec_id"), VectorFunctions.toDoubleArray(col("embedding")).as("v"))
    val brute = v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(VectorFunctions.cosineSimilarity(col("a.v"), col("b.v")) >= 0.35)
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute), "LSH must not invent pairs")
    val recall = if (brute.isEmpty) 1.0 else (brute intersect lsh).size.toDouble / brute.size
    // expected 1-(1-(1-θ/π)^4)^8 ≈ 0.7 at the cos=0.35 threshold edge,
    // higher for closer pairs; floor guards against silent collapse
    assert(recall >= 0.5, s"embed LSH recall $recall")
  }

  test("semantic dedup: pairs are exact-cosine intra-cluster; soft assign lifts recall") {
    val s = spark
    val emb = Tables.load(s, TestSpark.sf0001, "embeddings")
    import graft.functions.VectorFunctions
    val v = emb.select(col("vec_id"), VectorFunctions.toDoubleArray(col("embedding")).as("v"))
    val brute = v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(VectorFunctions.cosineSimilarity(col("a.v"), col("b.v")) >= 0.35)
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = SimilaritySearch.kmeansCentroids(emb, kCentroids = 10, seed = 42L).persist()
    def pairsOf(nAssign: Int): Set[(Long, Long)] =
      Dedup.semanticNearDupPairs(emb, cents, cosThreshold = 0.35, nAssign = nAssign)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hard = pairsOf(1)
    val soft = pairsOf(2)
    // precision 1 by construction: every emitted pair is exact-scored
    assert(hard.subsetOf(brute), "semantic dedup must not invent pairs")
    assert(soft.subsetOf(brute))
    // hard single-assignment pairs all share a cluster; soft assignment
    // can only ADD boundary pairs, never lose one
    assert(hard.subsetOf(soft), "nAssign=2 must be a superset of nAssign=1")
    def recall(p: Set[(Long, Long)]) =
      if (brute.isEmpty) 1.0 else (brute intersect p).size.toDouble / brute.size
    assert(recall(soft) >= recall(hard))
    // floor guards against silent collapse of the clustering path
    assert(recall(soft) >= 0.4, s"semantic recall ${recall(soft)}")
    cents.unpersist()
  }

  test("connected components: chains merge to min id, disjoint clusters stay apart") {
    val s = spark; import s.implicits._
    // chain 1-2-3-4 (diameter 3, needs >1 propagation round) + pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components: empty pair list returns empty labeling, no NPE") {
    val s = spark; import s.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).count() == 0L)
  }

  test("connected components: diameter-12 chain converges past checkpoint boundary") {
    val s = spark; import s.implicits._
    // a 13-vertex path needs 12 propagation rounds — crosses the every-5
    // localCheckpoint() lineage truncation twice and must still reach the
    // true fixpoint (all labels = 0)
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == (0L to 12L).map(_ -> 0L).toMap)
  }

  test("connected components: reliable-checkpoint mode labels identically") {
    val s = spark; import s.implicits._
    // long enough to cross the every-5 checkpoint boundary in BOTH modes
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cpDir = java.nio.file.Files.createTempDirectory("graft_cc_cp").toString
    def labels(dir: Option[String]) =
      Dedup.connectedComponents(pairs, checkpointDir = dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(Some(cpDir)) == labels(None))
    // the reliable mode really wrote checkpoint files to the shared dir
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(cpDir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "reliable checkpoint() wrote nothing")
  }

  test("containment finds a small doc embedded in a big one that Jaccard misses") {
    val s = spark; import s.implicits._
    val quote = "alpha beta gamma delta epsilon"
    val wrapper = quote + " " + (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, quote), (2L, wrapper)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, n = 3, threshold = 0.9).collect()
    assert(cont.length == 1 && cont.head.getAs[Double]("containment") == 1.0)
    // symmetric jaccard on the same pair is far below any dedup threshold
    val jac = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.3)
    assert(jac.isEmpty)
  }

  test("leakageSafeSplit: near-dup groups never straddle; singletons split too") {
    val s = spark; import s.implicits._
    val docs = (1L to 40L).map(i => Tuple1(i)).toDF("doc_id")
    // components {1,2,3} and {10,11}; the rest are singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val r = Dedup.leakageSafeSplit(docs, pairs, testFrac = 0.3).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getString(2))).toMap
    assert(r.size == 40)
    // every member of a component carries the same group AND the same split
    assert(Set(r(1L), r(2L), r(3L)).size == 1)
    assert(Set(r(10L), r(11L)).size == 1)
    val bySplit = r.values.groupBy(_._2)
    assert(bySplit.keySet.subsetOf(Set("train", "test")) && bySplit("test").nonEmpty)
    // deterministic: re-running yields the identical assignment
    val again = Dedup.leakageSafeSplit(docs, pairs, testFrac = 0.3).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getString(2))).toMap
    assert(again == r)
  }

  test("minhash est_jaccard tracks true jaccard for near-dup pairs at sf0.001") {
    val s = spark; import s.implicits._
    val docs = Tables.load(s, TestSpark.sf0001, "documents").select("doc_id", "text")
    val exact = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5)
      .select(col("id_a"), col("id_b"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val est = Dedup.minHashLshPairs(docs, n = 3, bands = 8, rowsPerBand = 4, estThreshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every exact pair with jaccard >= 0.5 should be recalled by the LSH at est >= 0.2
    val recalled = exact.keySet.count(est.contains)
    assert(exact.isEmpty || recalled.toDouble / exact.size >= 0.9,
      s"recall ${recalled}/${exact.size}")
    // and estimates should be within 0.35 of truth on recalled pairs
    exact.keySet.filter(est.contains).foreach { k =>
      assert(math.abs(est(k) - exact(k)) < 0.35, s"pair $k est=${est(k)} true=${exact(k)}")
    }
  }

  test("delta-vs-index probe finds exactly the cross-split self-join pairs (xxhash64)") {
    val s = spark
    val docs = Tables.load(s, TestSpark.sf0001, "documents").select("doc_id", "text")
    val isDelta = col("doc_id") % 5 === 0
    val indexBanded = Dedup.minHashBanded(docs.filter(!isDelta),
      n = 3, bands = 8, rowsPerBand = 4)
    val delta = Dedup.deltaMinHashPairs(indexBanded, docs.filter(isDelta),
        n = 3, bands = 8, rowsPerBand = 4, estThreshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // no bucket hits the cap at this scale, so the asymmetric probe must
    // equal the cross-split subset of the full self-join pipeline
    val full = Dedup.minHashLshPairs(docs, n = 3, bands = 8, rowsPerBand = 4,
        estThreshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .filter { case ((a, b), _) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case ((a, b), j) => (if (a % 5 == 0) (a, b) else (b, a)) -> j }
      .toMap
    assert(delta == full, s"delta=${delta.size} cross-split=${full.size}")
    assert(delta.nonEmpty, "expected at least one cross-split near-dup at sf0.001")
  }
}

class ZOrderSpec extends SparkSpec {
  import graft.operators.ZOrder

  test("interleave matches a bit-twiddling reference on the full 6-bit grid") {
    val s = spark; import s.implicits._
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    val grid = for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)
    val got = grid.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.interleave(col("x"), col("y"), 6).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    grid.foreach { case (x, y) => assert(got((x, y)) == ref(x, y, 6)) }
  }

  test("cellId clamps to [0, 2^bits) including the upper boundary") {
    val s = spark; import s.implicits._
    val vals = Seq(-5.0, 0.0, 0.5, 0.999, 1.0, 7.3).toDF("v")
      .select(ZOrder.cellId(col("v"), 0.0, 1.0, 4).as("c")).collect().map(_.getLong(0))
    assert(vals.toSeq == Seq(0L, 0L, 8L, 15L, 15L, 15L))
  }

  test("z-order blocks are tighter than key-order blocks on clustered points") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(3)
    val pts = Seq.tabulate(2000)(i =>
      (i.toLong, rnd.nextDouble(), rnd.nextDouble())).toDF("id", "x", "y")
      .select(col("id"), ZOrder.cellId(col("x"), 0.0, 1.0, 8).as("cx"),
        ZOrder.cellId(col("y"), 0.0, 1.0, 8).as("cy"))
      .withColumn("z", ZOrder.interleave(col("cx"), col("cy"), 8))
    def meanBlockArea(ord: org.apache.spark.sql.Column): Double = pts
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(ord, col("id"))))
      .withColumn("blk", floor((col("rn") - 1) / 50.0))
      .groupBy("blk")
      .agg(((max(col("cx")) - min(col("cx")) + 1) *
        (max(col("cy")) - min(col("cy")) + 1)).as("area"))
      .agg(avg(col("area"))).head.getDouble(0)
    val zArea = meanBlockArea(col("z"))
    val kArea = meanBlockArea(col("id"))
    // uniform random ids: key-order blocks span the whole 256×256 space;
    // z-order blocks must be at least 4× tighter
    assert(zArea * 4 < kArea, s"z=$zArea key=$kArea")
  }

  test("hilbert is a unit-step bijection on the full 4-bit grid (and codegen = eval)") {
    val s = spark; import s.implicits._
    val bits = 4
    val side = 1 << bits
    val grid = for (x <- 0L until side; y <- 0L until side) yield (x, y)
    val got = grid.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.hilbert(col("x"), col("y"), bits).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // expression output = the interpreted companion loop
    grid.foreach { case (x, y) =>
      assert(got((x, y)) == graft.expressions.HilbertIndex.compute(x, y, bits))
    }
    // bijection onto [0, side²)
    val ds = got.values.toSeq.sorted
    assert(ds == (0L until side.toLong * side).toSeq)
    // consecutive curve positions are grid-adjacent (|dx|+|dy| = 1) —
    // the locality property Morton does NOT have
    val byD = got.toSeq.map { case ((x, y), d) => d -> (x, y) }.sortBy(_._1).map(_._2)
    byD.sliding(2).foreach { case Seq((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1, s"jump at ($x1,$y1)→($x2,$y2)")
    }
  }

  test("hilbert blocks are at least as tight as morton blocks on average") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(5)
    val pts = Seq.tabulate(2000)(i =>
      (i.toLong, rnd.nextDouble(), rnd.nextDouble())).toDF("id", "x", "y")
      .select(col("id"), ZOrder.cellId(col("x"), 0.0, 1.0, 8).as("cx"),
        ZOrder.cellId(col("y"), 0.0, 1.0, 8).as("cy"))
      .withColumn("z", ZOrder.interleave(col("cx"), col("cy"), 8))
      .withColumn("h", ZOrder.hilbert(col("cx"), col("cy"), 8))
      .persist()
    def meanBlockArea(ord: org.apache.spark.sql.Column): Double = pts
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(ord, col("id"))))
      .withColumn("blk", floor((col("rn") - 1) / 50.0))
      .groupBy("blk")
      .agg(((max(col("cx")) - min(col("cx")) + 1) *
        (max(col("cy")) - min(col("cy")) + 1)).as("area"))
      .agg(avg(col("area"))).head.getDouble(0)
    val (hArea, zArea) = (meanBlockArea(col("h")), meanBlockArea(col("z")))
    pts.unpersist()
    assert(hArea <= zArea, s"hilbert=$hArea morton=$zArea")
  }

  test("repartitionByZ yields non-overlapping sorted z-ranges per partition") {
    val s = spark; import s.implicits._
    val pts = Seq.tabulate(1000)(i => (i.toLong, (i * 2654435761L) % 997 / 997.0,
      (i * 40503L) % 991 / 991.0)).toDF("id", "x", "y")
    val z = ZOrder.zValue(col("x"), 0.0, 1.0, col("y"), 0.0, 1.0, 8)
    val parts = ZOrder.repartitionByZ(pts, z, 8)
      .select(spark_partition_id().as("pid"), col("zval"))
      .groupBy("pid").agg(min("zval").as("lo"), max("zval").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    parts.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, parts.mkString(","))
      case _ =>
    }
  }
}

class VectorQuantizationSpec extends SparkSpec {
  import graft.operators.VectorQuantization

  test("int8 round trip: codes in range, reconstruction within half a step per dim") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(17)
    val vecs = Seq.tabulate(300)(i =>
      (i.toLong, Array.fill(16)(rnd.nextDouble() * 4 - 2))).toDF("id", "v")
    val q = VectorQuantization.quantizeWithError(vecs, "v").persist()
    val rows = q.select(col("codes"), col("err_max")).collect()
    rows.foreach { r =>
      val codes = r.getSeq[Int](0)
      assert(codes.forall(c => c >= -128 && c <= 127), codes.mkString(","))
    }
    // per-dim step = (mx-mn)/255; rounding-to-nearest error ≤ step/2.
    // dims span ≤ 4 ⇒ err_max ≤ 4/255/2 (+ float slack)
    val worst = rows.map(_.getDouble(1)).max
    assert(worst <= 4.0 / 255 / 2 + 1e-12, s"worst=$worst")
    q.unpersist()
  }

  test("quantized SDC ranking recalls most of the exact cosine top-5") {
    val s = spark
    import graft.operators.SimilaritySearch
    val emb = Tables.load(s, TestSpark.sf0001, "embeddings")
    val coded = VectorQuantization.quantizeWithError(
        emb.select(col("vec_id"),
          graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("v")), "v")
      .select(col("vec_id"), col("codes")).persist()
    val qtop = SimilaritySearch.quantizedTopK(
        coded.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("codes").as("qcodes")),
        coded, k = 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val etop = SimilaritySearch.bruteForceTopK(
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")), emb, k = 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    coded.unpersist()
    val recall = (qtop intersect etop).size.toDouble / etop.size
    assert(recall >= 0.6, s"quantized recall $recall")
  }

  test("two-stage retrieval with a corpus-wide shortlist equals brute force exactly") {
    val s = spark
    import graft.operators.SimilaritySearch
    val emb = Tables.load(s, TestSpark.sf0001, "embeddings")
    val coded = VectorQuantization.quantizeWithError(
        emb.select(col("vec_id"),
          graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("v")), "v")
      .select(col("vec_id"), col("codes"))
    val corpus = emb.select(col("vec_id"), col("embedding")).join(coded, "vec_id").persist()
    val n = corpus.count().toInt
    val queries = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("codes").as("qcodes"))
    // shortlist = whole corpus ⇒ stage 1 filters nothing ⇒ the re-rank
    // must reproduce the exact brute-force ranking bit for bit
    val two = SimilaritySearch.twoStageTopK(queries, corpus, k = 3, shortlist = n)
      .select("query_id", "vec_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = SimilaritySearch.bruteForceTopK(
        queries.select(col("query_id"), col("qv")), emb, k = 3)
      .select("query_id", "vec_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    corpus.unpersist()
    assert(two == brute)
  }

  test("constant dimension quantizes to code -128 with zero error") {
    val s = spark; import s.implicits._
    val vecs = Seq((1L, Array(3.5, 0.0)), (2L, Array(3.5, 1.0))).toDF("id", "v")
    val got = VectorQuantization.quantizeWithError(vecs, "v")
      .select(col("id"), col("codes"), col("err_max")).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Int](1), r.getDouble(2))).toMap
    assert(got(1L)._1.head == -128 && got(2L)._1.head == -128)
    assert(got(1L)._2 == 0.0) // both dims exactly representable
  }
}

class ProductQuantizationSpec extends SparkSpec {
  import graft.operators.ProductQuantization

  test("codes are well-formed: m entries per vector, all from the codebook") {
    val s = spark
    val emb = Tables.load(s, TestSpark.sf0001, "embeddings")
    val cb = ProductQuantization.modularCodebooks(emb, m = 8, subDim = 8, step = 41)
    val cbIds = cb.select("code_id").distinct().collect().map(_.getLong(0)).toSet
    val enc = ProductQuantization.encode(emb, cb, m = 8, subDim = 8).collect()
    assert(enc.length == emb.count())
    enc.foreach { r =>
      val codes = r.getSeq[Long](1)
      assert(codes.length == 8)
      assert(codes.forall(cbIds.contains))
    }
  }

  test("k-means codebooks beat modular sampling at equal size (reconstruction error)") {
    val s = spark
    val emb = Tables.load(s, TestSpark.sf0001, "embeddings")
    val modular = ProductQuantization.modularCodebooks(emb, m = 8, subDim = 8, step = 41)
    val kCb = modular.select("code_id").distinct().count().toInt // equal codebook size
    val kmeans = ProductQuantization.kmeansCodebooks(emb, m = 8, subDim = 8, k = kCb)
    val (eModular, eKmeans) = (
      ProductQuantization.reconstructionError(emb, modular, 8, 8),
      ProductQuantization.reconstructionError(emb, kmeans, 8, 8))
    assert(eKmeans < eModular, s"kmeans $eKmeans !< modular $eModular")
  }

  test("ADC top-k preserves cluster neighborhoods on clustered data") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(17)
    val (dim, m, sd) = (64, 8, 8)
    // 20 well-separated centers (N(0,4) per dim → inter-cluster d² ≈ 512),
    // 25 points each with 0.1-σ noise (intra-cluster d² ≈ 1.3): the regime
    // PQ exists for — codebook error ≪ cluster separation
    val centers = Array.fill(20, dim)(rnd.nextGaussian() * 2.0)
    val vecs = for (ci <- 0 until 20; p <- 0 until 25) yield
      ((ci * 25 + p).toLong, centers(ci).map(_ + rnd.nextGaussian() * 0.1).toSeq)
    val emb = vecs.toDF("vec_id", "embedding")
    val cb = ProductQuantization.modularCodebooks(emb, m, sd, step = 7)
    val enc = ProductQuantization.encode(emb, cb, m, sd)
    // one query per 5th cluster (ids 0, 125, 250, 375)
    val queries = emb.filter(pmod(col("vec_id"), lit(125)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val top = ProductQuantization.adcTopK(queries, enc, cb, k = 5, m = m, subDim = sd)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(top.length == 4 * 5)
    // every retrieved neighbor must come from the query's own cluster
    top.foreach { case (q, v) =>
      assert(v / 25 == q / 25, s"query $q (cluster ${q / 25}) retrieved $v (cluster ${v / 25})")
    }
  }

  test("IVF-PQ: probed code lists still retrieve the query's cluster") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(19)
    val (dim, m, sd) = (64, 8, 8)
    val centers = Array.fill(20, dim)(rnd.nextGaussian() * 2.0)
    val vecs = for (ci <- 0 until 20; p <- 0 until 25) yield
      ((ci * 25 + p).toLong, centers(ci).map(_ + rnd.nextGaussian() * 0.1).toSeq)
    val emb = vecs.toDF("vec_id", "embedding")
    val cents = graft.operators.SimilaritySearch.modularCentroids(emb, centroidStep = 13)
    val cb = ProductQuantization.modularCodebooks(emb, m, sd, step = 7)
    val index = ProductQuantization.buildIvfPqIndex(cents, cb, emb, m, sd)
    // index rows carry ids + codes only — no float columns
    assert(index.columns.toSet == Set("vec_id", "cent_id", "codes"))
    val queries = emb.filter(pmod(col("vec_id"), lit(125)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val top = ProductQuantization.probeIvfPq(index, cents, cb, queries,
        k = 5, nProbe = 4, m = m, subDim = sd)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(top.length == 4 * 5)
    top.foreach { case (q, v) =>
      assert(v / 25 == q / 25, s"query $q (cluster ${q / 25}) retrieved $v (cluster ${v / 25})")
    }
  }

  test("by-residual IVF-PQ reconstructs tighter than raw at equal codebook size") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(23)
    val (dim, m, sd) = (64, 8, 8)
    val centers = Array.fill(20, dim)(rnd.nextGaussian() * 2.0)
    val vecs = for (ci <- 0 until 20; p <- 0 until 25) yield
      ((ci * 25 + p).toLong, centers(ci).map(_ + rnd.nextGaussian() * 0.1).toSeq)
    val emb = vecs.toDF("vec_id", "embedding")
    val cents = graft.operators.SimilaritySearch.modularCentroids(emb, centroidStep = 13)
    // residual corpus: v − assigned centroid
    val resid = graft.operators.SimilaritySearch.buildIvfIndex(cents, emb)
      .join(broadcast(cents.select(col("cent_id"), col("cent_v"))), "cent_id")
      .select(col("vec_id"),
        zip_with(col("_cv"), col("cent_v"), (a, b) => a - b).as("embedding"))
      .persist()
    val rawCb = ProductQuantization.modularCodebooks(emb, m, sd, step = 7)
    val resCb = ProductQuantization.modularCodebooks(resid, m, sd, step = 7)
    // both errors are MSE of the final approximation of v (residual mode
    // adds the exactly-known centroid back), so directly comparable
    val eRaw = ProductQuantization.reconstructionError(emb, rawCb, m, sd)
    val eRes = ProductQuantization.reconstructionError(resid, resCb, m, sd)
    resid.unpersist()
    assert(eRes < eRaw, s"residual $eRes !< raw $eRaw")
    // and the composed residual path still retrieves the query's cluster
    val index = ProductQuantization.buildIvfPqIndex(cents, resCb, emb, m, sd, byResidual = true)
    val queries = emb.filter(pmod(col("vec_id"), lit(125)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val top = ProductQuantization.probeIvfPq(index, cents, resCb, queries,
        k = 5, nProbe = 4, m = m, subDim = sd, byResidual = true)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(top.length == 4 * 5)
    top.foreach { case (q, v) =>
      assert(v / 25 == q / 25, s"query $q (cluster ${q / 25}) retrieved $v (cluster ${v / 25})")
    }
  }
}

class NearestMatchSpec extends SparkSpec {

  test("grid-bucketed kNN equals exhaustive kNN (including sparse fallback rows)") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val left = Seq.tabulate(200)(i =>
      (i.toLong, 45.0 + rnd.nextDouble(), -74.0 + rnd.nextDouble())).toDF("lid", "lat", "lon")
    val right = Seq.tabulate(60)(i =>
      (i.toLong, 45.0 + rnd.nextDouble(), -74.0 + rnd.nextDouble())).toDF("rid", "lat", "lon")
    def run(ex: Boolean) =
      NearestMatch.kNearest(left, right, k = 3, leftId = "lid", rightId = "rid",
          cellDeg = 0.1, exhaustive = ex)
        .select(col("lid"), col("rid"), col("rk"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(run(false) == run(true))
  }

  test("same-named coordinate columns (defaults) work — no ambiguity") {
    val s = spark; import s.implicits._
    val left = Seq((1L, 45.0, -73.0)).toDF("lid", "lat", "lon")
    val right = Seq((10L, 45.0, -73.0), (11L, 46.0, -73.0)).toDF("rid", "lat", "lon")
    val r = NearestMatch.kNearest(left, right, k = 1, leftId = "lid", rightId = "rid")
      .select("rid").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(10L))
  }

  test("sparse region: widened-grid retries stay exact when most rows fail round 1") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(13)
    // right points are scattered over ~3 degrees; at cellDeg=0.02 the 3×3
    // neighbourhood covers ~2 km, so for most left rows the k=3 neighbours
    // sit far outside the first guarantee → systematic straggler load.
    val left = Seq.tabulate(120)(i =>
      (i.toLong, 45.0 + 3 * rnd.nextDouble(), -74.0 + 3 * rnd.nextDouble())).toDF("lid", "lat", "lon")
    val right = Seq.tabulate(25)(i =>
      (i.toLong, 45.0 + 3 * rnd.nextDouble(), -74.0 + 3 * rnd.nextDouble())).toDF("rid", "lat", "lon")
    def run(ex: Boolean, rounds: Int = 3) =
      NearestMatch.kNearest(left, right, k = 3, leftId = "lid", rightId = "rid",
          cellDeg = 0.02, widenRounds = rounds, exhaustive = ex)
        .select(col("lid"), col("rid"), col("rk"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // sanity: >50% of left rows really do fail the first-round guarantee
    val guarantee = NearestMatch.coverageRadiusM(0.02, 60.0)
    val exact = NearestMatch.kNearest(left, right, k = 3, leftId = "lid",
        rightId = "rid", exhaustive = true)
    val failing = exact.groupBy(col("lid"))
      .agg(max(col("distance_m")).as("dk"))
      .filter(col("dk") >= guarantee).count()
    assert(failing > 60, s"fixture too dense: only $failing/120 stragglers")
    assert(run(false) == run(true))
    // more widening rounds must not change the result, only the plan
    assert(run(false, rounds = 5) == run(true))
  }
}

/** The point-in-interval join: each point is the one-point interval
  * [p, p] fed to `IntervalJoin.overlap`, as `q_join_range_bucketed` runs it. */
class RangeJoinSpec extends SparkSpec {

  test("bucketed point-in-interval equals the naive BETWEEN join, once per pair") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val pts = Seq.tabulate(500)(i => (i.toLong, rnd.nextInt(10000).toLong)).toDF("pid", "p")
    val iv = Seq.tabulate(60) { i =>
      val lo = rnd.nextInt(10000).toLong; (i.toLong, lo, lo + rnd.nextInt(700))
    }.toDF("iid", "lo", "hi")
    val fast = IntervalJoin.overlap(pts, iv, "p", "p", "lo", "hi", bucketUs = 256L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val naive = pts.join(iv, col("p") >= col("lo") && col("p") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(naive.nonEmpty)
    assert(fast.length == fast.distinct.length) // exactly once per pair
    assert(fast.sorted.toSeq == naive.sorted.toSeq)
  }
}

class CorpusPackingSpec extends SparkSpec {

  test("token-budget packing: per-shard cumulative starts, boundary-straddling doc") {
    val s = spark; import s.implicits._
    // ids 0/8/16 land in shard 0 (nShards=8); ids 1/9 in shard 1
    val docs = Seq((0L, 1000L), (8L, 1500L), (16L, 600L), (1L, 3000L), (9L, 100L))
      .toDF("doc_id", "n_tok")
    val out = CorpusPacking.packByTokenBudget(docs, "doc_id", "n_tok",
        budgetTokens = 2048L, nShards = 8)
      .collect().map(r =>
        r.getLong(r.fieldIndex("doc_id")) -> (r.getLong(r.fieldIndex("shard")),
          r.getLong(r.fieldIndex("bin")), r.getLong(r.fieldIndex("start_tok")))).toMap
    assert(out(0L) == (0L, 0L, 0L))     // starts the shard
    assert(out(8L) == (0L, 0L, 1000L))  // straddles 2048 but STARTS in bin 0
    assert(out(16L) == (0L, 1L, 2500L)) // next bin
    assert(out(1L) == (1L, 0L, 0L))     // independent shard
    assert(out(9L) == (1L, 1L, 3000L))  // oversized predecessor pushes bin
  }
}

class StratifiedSamplerSpec extends SparkSpec {

  test("per-stratum fractions converge, unlisted strata drop, deterministic") {
    val s = spark; import s.implicits._
    val df = (0 until 30000).map(i => (i.toLong, Seq("a", "b", "c")(i % 3)))
      .toDF("id", "stratum")
    val out = StratifiedSampler.sample(df, "stratum",
      Map("a" -> 0.5, "b" -> 0.1), idCol = "id")
    val counts = out.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("a") / 10000.0 - 0.5) < 0.03)
    assert(math.abs(counts("b") / 10000.0 - 0.1) < 0.03)
    assert(!counts.contains("c")) // defaultFraction = 0
    // deterministic: identical id multiset on a second evaluation
    assert(out.agg(sum("id")).head.getLong(0) ==
      StratifiedSampler.sample(df, "stratum", Map("a" -> 0.5, "b" -> 0.1), idCol = "id")
        .agg(sum("id")).head.getLong(0))
  }
}

class DensifyMatchSpec extends SparkSpec {

  test("densify rematch: far accident matches via the consecutive-point midpoint") {
    val s = spark; import s.implicits._
    // street 1: two points 0.02° apart in longitude — the midpoint sits
    // exactly under accident 100; street 2 is a decoy with a closer
    // CENTER but distant points. Accident 200 sits on a street-1 point.
    val roadPoints = Seq(
      (1, 45.00, -73.00, 45.00, -73.01),
      (1, 45.00, -72.98, 45.00, -73.01),
      (2, 45.50, -73.50, 45.001, -72.99),
      (2, 45.50, -73.48, 45.001, -72.99))
      .toDF("street_id", "coord_lat", "coord_long", "center_lat", "center_long")
    val accidents = Seq(
      (100L, 45.00, -72.99), // 785 m from both street-1 points, 0 m from midpoint
      (200L, 45.00, -73.00)) // exactly on a street-1 point
      .toDF("accident_id", "loc_lat", "loc_long")
    val out = DensifyMatch.densifyAndRematch(accidents, roadPoints,
        kPreselect = 2, maxDistanceM = 500.0)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    assert(out(200L) == (1, false)) // direct match, under the threshold
    assert(out(100L) == (1, true))  // only reachable through densification
  }
}

class SimilaritySearchSpec extends SparkSpec {

  test("brute-force top-k on a tiny corpus matches hand-ranked cosines") {
    val s = spark; import s.implicits._
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val queries = Seq((0L, Array(1.0f, 0.0f))).toDF("query_id", "qv")
    val top = SimilaritySearch.bruteForceTopK(queries, corpus, k = 2)
      .orderBy("rk").collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(top == Seq(1L, 2L)) // self excluded; 1 (cos≈0.994) then 2 (cos=0)
  }

  test("IVF recall@5 >= 0.6 of brute force at sf0.001") {
    val s = spark
    val emb = Tables.load(s, TestSpark.sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(SimilaritySearch.bruteForceTopK(queries, emb, k = 5))
    val ivf = pairs(SimilaritySearch.ivfTopK(queries, emb, k = 5, centroidStep = 31, nProbe = 8))
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.6, s"IVF recall@5 = $recall")
  }

  test("salted join is row-identical to the plain join") {
    val s = spark; import s.implicits._
    val left = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (1L, "e"))
      .toDF("k", "lv")
    val right = Seq((1L, "x"), (2L, "y"), (4L, "z")).toDF("rk", "rv")
    val salted = graft.operators.SaltedJoin.inner(left, right, "k", "rk", nSalts = 4)
      .select("k", "lv", "rv").collect().map(_.toSeq).toSet
    val plain = left.join(right, $"k" === $"rk")
      .select("k", "lv", "rv").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(salted.size == 4) // key 1 x3 + key 2; keys 3/4 unmatched
  }

  test("left-outer salted join equals plain left-outer on a skewed fixture") {
    val s = spark; import s.implicits._
    // heavy-hitter shape: one null-ish default key (0) holds most rows
    val left = (Seq.tabulate(500)(i => (0L, s"hot$i")) ++
      Seq((1L, "a"), (2L, "b"), (9L, "no_match"))).toDF("k", "lv")
    val right = Seq((0L, "dim0"), (1L, "x"), (2L, "y"), (4L, "z")).toDF("rk", "rv")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "lv", "rv").collect()
        .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) null else r.getString(2)))
    val salted = rows(graft.operators.SaltedJoin.leftOuter(left, right, "k", "rk", nSalts = 4))
    val plain = rows(left.join(right, $"k" === $"rk", "left_outer"))
    assert(salted.sorted.toSeq == plain.sorted.toSeq)
    // unmatched left row preserved exactly once with null right columns
    assert(salted.count(_._1 == 9L) == 1 && salted.find(_._1 == 9L).get._3 == null)
  }

  test("deriveSalts sizes the salt count from the heaviest key") {
    val s = spark; import s.implicits._
    val skewed = (Seq.fill(90)(0L) ++ (1L to 10L)).toDF("k")
    // heaviest key has 90 rows → 90/20 rounded up = 5 salts
    assert(graft.operators.SaltedJoin.deriveSalts(skewed, "k", rowsPerSalt = 20L) == 5)
    // cap applies; empty frame degrades to 1
    assert(graft.operators.SaltedJoin.deriveSalts(skewed, "k", rowsPerSalt = 1L, maxSalts = 16) == 16)
    assert(graft.operators.SaltedJoin.deriveSalts(
      Seq.empty[Long].toDF("k"), "k") == 1)
  }

  test("kmeans-centroid IVF recall@5 >= 0.5 of brute force at sf0.001") {
    val s = spark
    val emb = Tables.load(s, TestSpark.sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = SimilaritySearch.kmeansCentroids(emb, kCentroids = 8, seed = 42L)
    val brute = pairs(SimilaritySearch.bruteForceTopK(queries, emb, k = 5))
    val ivf = pairs(SimilaritySearch.ivfTopKFrom(cents, queries, emb, k = 5, nProbe = 4))
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"kmeans-IVF recall@5 = $recall")
  }
}

class HybridRetrievalSpec extends SparkSpec {

  test("bm25PerQuery: term-restricted, self-excluded, tf/df ordering sane") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (0L, "hash only here"),              // matches, but IS query 0 → excluded
      (1L, "hash join scan"),
      (2L, "hash hash filter stuff"),
      (3L, "nothing relevant at all"),
      (4L, "join join join hash pad pad")).toDF("doc_id", "text")
    val qt = Seq((0L, "hash"), (0L, "join")).toDF("query_id", "token")
    val out = HybridRetrieval.bm25PerQuery(docs, qt, topN = 10).collect()
    val ids = out.map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(1L, 2L, 4L), s"got $ids")     // 3 matches no term, 0 is self
    // doc 4 has both terms with the highest tf → must outrank single-ish docs
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("lex_rk")).toMap
    assert(byId(4L) == 1, s"ranks $byId")
    assert(out.forall(_.getAs[Double]("bm25") > 0.0))
  }

  test("rrfFuse: hand-computed reciprocal-rank scores and ordering") {
    val s = spark; import s.implicits._
    val lex = Seq((0L, 10L, 1), (0L, 11L, 2)).toDF("query_id", "doc_id", "lex_rk")
    val dense = Seq((0L, 11L, 1), (0L, 12L, 2)).toDF("query_id", "doc_id", "dense_rk")
    val out = HybridRetrieval.rrfFuse(lex, dense, k = 10)
      .orderBy(col("rk")).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(11L, 10L, 12L))
    val top = out.head
    // both legs present: 1/(60+2) + 1/(60+1)
    assert(math.abs(top.getAs[Double]("rrf") - (1.0 / 62 + 1.0 / 61)) < 1e-12)
    // one-leg docs carry a null rank from the absent leg, not a zero
    assert(out(1).isNullAt(out(1).fieldIndex("dense_rk")))
    assert(math.abs(out(1).getAs[Double]("rrf") - 1.0 / 61) < 1e-12)
  }
}

class BoilerplateSpec extends SparkSpec {

  test("cross-doc lines removed, unique docs untouched, tail line kept") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a b c d e x y z w v"),
      (2L, "a b c d e q r s t u early"),   // shares line 0 with doc 1; 11 tokens → 3 lines
      (3L, "unique tokens only here now")).toDF("doc_id", "text")
    val out = Boilerplate.removeBoilerplate(docs, lineTokens = 5, minDocs = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Int]("n_removed"), r.getAs[String]("clean_text")))).toMap
    assert(out(1L) == ((2L, 1, "x y z w v")))
    assert(out(2L) == ((3L, 1, "q r s t u early")))      // tail "early" survives as its own line
    assert(out(3L) == ((1L, 0, "unique tokens only here now")))
  }

  test("fully-boilerplate doc rebuilds to empty text") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "same five tokens here now"),
      (2L, "same five tokens here now"),
      (3L, "different body of text ok")).toDF("doc_id", "text")
    val out = Boilerplate.removeBoilerplate(docs, lineTokens = 5, minDocs = 2)
      .filter(col("doc_id") === 1L).collect().head
    assert(out.getAs[Int]("n_removed") == 1 && out.getAs[String]("clean_text") == "")
  }
}

class MmrRerankSpec extends SparkSpec {

  test("greedy picks diversity over redundant relevance (hand-computed)") {
    val s = spark; import s.implicits._
    // c2 is nearly as relevant as c1 but identical to it; c3 is less
    // relevant but orthogonal — MMR at λ=0.7 must pick c1, c3, c2
    val cands = Seq(
      (0L, 1L, 0.90, Seq(1.0, 0.0)),
      (0L, 2L, 0.85, Seq(1.0, 0.0)),
      (0L, 3L, 0.50, Seq(0.0, 1.0))).toDF("query_id", "doc_id", "rel", "cv")
    val out = MmrRerank.rerank(cands, k = 3, lambda = 0.7)
      .orderBy(col("step")).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 3L, 2L))
    val scores = out.map(_.getAs[Double]("score"))
    assert(math.abs(scores(0) - 0.7 * 0.90) < 1e-12)             // empty-set redundancy
    assert(math.abs(scores(1) - (0.7 * 0.50 - 0.3 * 0.0)) < 1e-12)
    assert(math.abs(scores(2) - (0.7 * 0.85 - 0.3 * 1.0)) < 1e-12) // max sim to {c1,c3} = 1
  }
}

class CountMinSketchSpec extends SparkSpec {

  test("estimates are exact with no collisions, never under-estimate with them") {
    val s = spark; import s.implicits._
    val keys = (1L to 50L).flatMap(k => Seq.fill((k % 5).toInt + 1)(k))
    val df = keys.toDF("k")
    val probes = (1L to 50L).toDF("k")
    val exact = keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    // wide sketch: 50 keys into 4×4096 cells → collisions vanishingly rare
    val wide = CountMinSketch.pointEstimate(
        CountMinSketch.build(df, "k", depth = 4, width = 4096), probes, "k",
        depth = 4, width = 4096)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("est")).toMap
    assert(wide == exact)
    // narrow sketch: heavy collisions — still never below the true count
    val narrow = CountMinSketch.pointEstimate(
        CountMinSketch.build(df, "k", depth = 2, width = 8), probes, "k",
        depth = 2, width = 8)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("est")).toMap
    assert(narrow.forall { case (k, est) => est >= exact(k) })
    assert(narrow.exists { case (k, est) => est > exact(k) }, "width 8 must collide")
  }

  test("sketches merge by cell-wise sum") {
    val s = spark; import s.implicits._
    val a = Seq(1L, 1L, 2L, 3L).toDF("k")
    val b = Seq(2L, 3L, 3L, 4L).toDF("k")
    def cells(df: org.apache.spark.sql.DataFrame) =
      CountMinSketch.build(df, "k", depth = 3, width = 64)
        .collect().map(r => (r.getAs[Int]("j"), r.getAs[Long]("bucket")) -> r.getAs[Long]("cnt")).toMap
    val merged = (cells(a).toSeq ++ cells(b).toSeq)
      .groupBy(_._1).map { case (c, v) => c -> v.map(_._2).sum }
    assert(merged == cells(a.union(b)))
  }
}

class WeightedSamplerSpec extends SparkSpec {

  test("deterministic in (id, seed); dominant weight is selected first") {
    val s = spark; import s.implicits._
    val df = ((1L to 24L).map(i => (i, 0.001)) :+ (99L, 1.0e12)).toDF("id", "w")
    def ids(seed: Long) = WeightedSampler
      .sampleWithoutReplacement(df, "id", "w", k = 5, seed = seed)
      .orderBy(col("rk")).collect().map(_.getAs[Long]("id")).toSeq
    val run1 = ids(42L)
    assert(run1 == ids(42L), "same seed must replay identically")
    assert(run1.head == 99L, s"dominant weight not first: $run1")
    assert(ids(7L) != run1, "different seed should reorder the tail")
  }
}

class BloomFilterSpec extends SparkSpec {

  test("no false negatives; pruned join row-identical to plain join") {
    val s = spark; import s.implicits._
    import graft.operators.BloomFilter
    val dim = (1L to 200L).filter(_ % 3 == 0).toDF("k")
    val fact = (1L to 1000L).map(i => (i % 400, i)).toDF("k", "v")
    val bloom = BloomFilter.build(dim, "k", k = 3, mBits = 1024)
    val flags = BloomFilter.mightContain(bloom, fact.select("k").distinct(), "k", 3, 1024)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Boolean]("candidate")).toMap
    val members = dim.collect().map(_.getAs[Long]("k")).toSet
    assert(members.forall(m => flags.getOrElse(m % 400, false) || !flags.contains(m)),
      "a member key must never be rejected")
    members.filter(flags.contains).foreach(m => assert(flags(m), s"false negative at $m"))
    val plain = fact.join(dim, "k").orderBy($"k", $"v").collect().toSeq
    val pruned = BloomFilter.prunedJoin(fact, dim.withColumnRenamed("k", "dk"), "k", "dk")
      .select($"k", $"v").orderBy($"k", $"v").collect().toSeq
    assert(pruned == plain)
  }

  test("filters built on partitions merge by word-wise OR") {
    val s = spark; import s.implicits._
    import graft.operators.BloomFilter
    val a = (1L to 50L).toDF("k")
    val b = (40L to 90L).toDF("k")
    def words(df: org.apache.spark.sql.DataFrame) =
      BloomFilter.build(df, "k", k = 3, mBits = 512)
        .collect().map(r => r.getAs[Long]("widx") -> r.getAs[Long]("word")).toMap
    val merged = (words(a).toSeq ++ words(b).toSeq)
      .groupBy(_._1).map { case (w, v) => w -> v.map(_._2).reduce(_ | _) }
    assert(merged == words(a.union(b)))
  }
}

class PageRankSpec extends SparkSpec {

  test("a 2-cycle is a fixed point at exactly scale; a hub outranks leaves") {
    val s = spark; import s.implicits._
    import graft.operators.PageRank
    val cycle = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r = PageRank.ranks(cycle, iterations = 4)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("a" -> 1000000L, "b" -> 1000000L))
    // star: leaves l1..l4 <-> hub (bidirectional so every node has outdeg)
    val star = (1 to 4).flatMap(i => Seq((s"l$i", "hub"), ("hub", s"l$i"))).toDF("src", "dst")
    val sr = PageRank.ranks(star, iterations = 3)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(sr("hub") > sr("l1"), s"hub must dominate: $sr")
    assert((1 to 4).map(i => sr(s"l$i")).distinct.size == 1, "leaves symmetric")
  }

  test("dangling redistribution conserves mass; absorbing default leaks it") {
    val s = spark; import s.implicits._
    import graft.operators.PageRank
    // 4 sources all pointing at one sink: without redistribution the
    // sink's mass vanishes next round; with it, total mass stays within
    // integer-floor error of N·scale every iteration
    val edges = (1 to 4).map(i => (s"n$i", "sink")).toDF("src", "dst")
    val r = PageRank.ranks(edges, iterations = 3, redistributeDangling = true)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r.size == 5, s"sink must appear as a node: $r")
    val total = r.values.sum
    val n = 5L; val ideal = n * 1000000L
    // each of the 3 iterations floors ≤ n+1 divisions, each losing < 1
    // scaled unit per row — mass can only drift DOWN and only slightly
    assert(total <= ideal && total > ideal - 3 * (n + 1) * 100,
      s"mass not conserved: $total vs $ideal")
    assert(r("sink") > r("n1"), s"sink collects 4 in-edges: $r")
    assert((1 to 4).map(i => r(s"n$i")).distinct.size == 1, "sources symmetric")
  }
}

class CollocationsSpec extends SparkSpec {

  test("a planted collocation tops the list; min support filters noise") {
    val s = spark; import s.implicits._
    import graft.operators.Collocations
    val docs = ((1 to 8).map(i => (i.toLong, "new york " + s"w$i x$i y$i z$i")) :+
      (99L, "rare pair only once here")).toDF("doc_id", "text")
    val top = Collocations.topPmi(docs, k = 5, minCount = 5L).collect()
    assert(top.head.getAs[String]("w1") == "new" && top.head.getAs[String]("w2") == "york")
    assert(top.head.getAs[Long]("c_ab") == 8L)
    assert(!top.exists(r => r.getAs[String]("w1") == "rare"), "below min support")
    assert(top.forall(_.getAs[Double]("pmi") > 0.0))
  }
}

class Scd2Spec extends SparkSpec {

  test("change/delete/add/unchanged produce the right intervals; stable merge is a no-op") {
    val s = spark; import s.implicits._
    import graft.operators.Scd2
    val v1 = Seq((1L, "h1"), (2L, "h2"), (3L, "h3")).toDF("id", "h")
    val v2 = Seq((1L, "h1"), (2L, "h2x"), (4L, "h4")).toDF("id", "h") // 3 deleted, 4 added
    val hist = Scd2.merge(Scd2.init(v1, 1), v2, 2)
    val rows = hist.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("h"),
      r.getAs[Int]("valid_from"), Option(r.getAs[Integer]("valid_to")).map(_.toInt))).toSet
    assert(rows == Set(
      (1L, "h1", 1, None), (2L, "h2", 1, Some(2)), (2L, "h2x", 2, None),
      (3L, "h3", 1, Some(2)), (4L, "h4", 2, None)))
    // merging the identical snapshot again closes nothing
    val again = Scd2.merge(hist, v2, 3)
    assert(again.filter($"valid_to" === 3).count() == 0)
    assert(again.filter($"valid_to".isNull).count() == 3)
  }
}

class AnomalyDetectionSpec extends SparkSpec {

  test("a planted spike is flagged; steady traffic is not") {
    val s = spark; import s.implicits._
    import java.sql.Timestamp
    // 30 hourly buckets of value 10.0, bucket 27 spikes to 100.0
    val rows = (0 until 30).flatMap { h =>
      val v = if (h == 27) 100.0 else 10.0
      Seq((new Timestamp(h * 3600L * 1000L), v))
    }
    val df = rows.toDF("ts", "value")
    val out = graft.operators.AnomalyDetection.rollingZScore(df, lookback = 24)
      .collect().map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Double]("z"), r.getAs[Boolean]("is_anomaly"))).toMap
    assert(out.size == 6, s"buckets 24..29 have a full window: $out")
    // constant reference window: z is undefined (null -> 0.0 via getAs),
    // the flag falls back to any departure from the constant
    assert(out(27L)._2, s"spike not flagged: ${out(27L)}")
    assert(!out(24L)._2 && !out(25L)._2 && !out(26L)._2)
    // once the spike enters the window, variance > 0 and z takes over
    assert(!out(29L)._2)
  }
}

class AssociationRulesSpec extends SparkSpec {

  test("a planted pair dominates lift; mega-baskets are dropped") {
    val s = spark; import s.implicits._
    import graft.operators.AssociationRules
    // items 1,2 co-occur in 4 of 20 baskets; filler items are spread out
    val baskets = (1 to 20).flatMap { b =>
      val base = Seq((b.toLong, (100 + b % 7).toLong), (b.toLong, (200 + b % 5).toLong))
      if (b <= 4) base ++ Seq((b.toLong, 1L), (b.toLong, 2L)) else base
    }
    val df = baskets.toDF("o", "p")
    val top = AssociationRules.topLift(df, "o", "p", k = 5, minSupport = 3L)
    val head = top.orderBy(col("rk")).collect().head
    assert((head.getAs[Long]("item_a"), head.getAs[Long]("item_b")) == (1L, 2L))
    assert(head.getAs[Long]("c_ab") == 4L)
    assert(head.getAs[Double]("confidence") == 1.0) // P(2|1): 1 only ever with 2
    assert(head.getAs[Double]("lift") == 5.0)       // 4*20/(4*4)
    // a basket over maxBasket contributes nothing
    val withMega = df.union((1 to 50).map(i => (99L, 1000L + i)).toDF("o", "p"))
    val t2 = AssociationRules.topLift(withMega, "o", "p", k = 5, minSupport = 3L,
      maxBasket = 10)
    assert(!t2.collect().exists(_.getAs[Long]("item_a") >= 1000L))
  }
}

class BudgetSelectionSpec extends SparkSpec {

  test("prefix respects the budget and prefers high value-per-cost") {
    val s = spark; import s.implicits._
    import graft.operators.BudgetSelection
    val df = Seq((1L, 10L, 100L), (2L, 10L, 90L), (3L, 10L, 80L), (4L, 10L, 10L))
      .toDF("id", "cost", "value")
    val sel = BudgetSelection.greedyPrefix(df, "id", "cost", "value", budget = 25L)
      .orderBy(col("id")).collect()
    assert(sel.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L), "only two fit in 25")
    assert(sel.last.getAs[Long]("cum_cost") == 20L)
    val all = BudgetSelection.greedyPrefix(df, "id", "cost", "value", budget = 1000L)
    assert(all.count() == 4)
    assert(BudgetSelection.greedyPrefix(df, "id", "cost", "value", budget = 5L).count() == 0)
  }

  test("bucketed prefix sums equal the brute-force global sweep, ties included") {
    val s = spark; import s.implicits._
    import graft.operators.BudgetSelection
    // 400 rows with many tied ratios (value = cost * small factor), so
    // ties straddle would-be bucket boundaries if bucketing were wrong
    val rows = (1 to 400).map(i => (i.toLong, (i % 7 + 1).toLong, ((i % 7 + 1) * (i % 5 + 1)).toLong))
    val budget = 600L
    val got = BudgetSelection.greedyPrefix(rows.toDF("id", "cost", "value"),
        "id", "cost", "value", budget)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cum_cost")).toMap
    // brute force in plain Scala
    var cum = 0L
    val expect = rows.map { case (id, c, v) => (id, c, v.toDouble / c) }
      .sortBy { case (id, _, ratio) => (-ratio, id) }
      .flatMap { case (id, c, _) =>
        cum += c; if (cum <= budget) Some(id -> cum) else None
      }.toMap
    assert(got === expect)
  }
}

class IncrementalAggSpec extends SparkSpec {

  test("merge of disjoint batches equals full recompute; empty sides pass through") {
    val s = spark; import s.implicits._
    import graft.operators.IncrementalAgg
    val all = Seq((1L, 10L), (1L, 20L), (2L, 5L), (3L, 7L), (3L, -2L)).toDF("k", "v")
    val a = IncrementalAgg.partial(all.filter($"v" >= 5), "k", "v")
    val b = IncrementalAgg.partial(all.filter($"v" < 5), "k", "v")
    val merged = IncrementalAgg.merge(a, b, "k").orderBy($"k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val full = IncrementalAgg.partial(all, "k", "v").orderBy($"k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(merged.toSeq == full.toSeq)
    // key 2 only exists in batch a — the full-outer merge must keep it intact
    assert(merged.find(_._1 == 2L).get == (2L, 1L, 5L, 5L, 5L))
  }
}

class TrendingScoreSpec extends SparkSpec {

  test("fresh activity outranks heavier stale activity; old events weigh zero") {
    val s = spark; import s.implicits._
    import java.sql.Timestamp
    val day = 86400L * 1000L
    // user 1: one event today; user 2: three events 10 days ago;
    // user 3: a thousand events 50 days ago (outside the horizon)
    val rows = Seq((1L, new Timestamp(60 * day))) ++
      Seq.fill(3)((2L, new Timestamp(50 * day))) ++
      (1 to 1000).map(_ => (3L, new Timestamp(10 * day)))
    val out = graft.operators.TrendingScore.topDecayed(
        rows.toDF("user_id", "ts"), keyCol = "user_id", k = 10, maxAgeDays = 40)
      .collect().map(r => r.getAs[Long]("key") -> r.getAs[Long]("score")).toMap
    assert(out(1L) == (1L << 40), s"today's event is weight 1.0: $out")
    assert(out(2L) == 3L * (1L << 30), "10-day-old events decay 2^-10")
    assert(out(1L) > out(2L))
    assert(!out.contains(3L), "events past the horizon weigh exactly zero")
  }
}

class QualityEnsembleSpec extends SparkSpec {

  test("ties share a percentile; blend averages the signals") {
    val s = spark; import s.implicits._
    import graft.operators.QualityEnsemble
    val df = Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 30L, 300L))
      .toDF("id", "a", "b")
    val out = QualityEnsemble.percentileBlend(df, "id", Seq("a", "b"))
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("pr_a"), r.getAs[Double]("pr_b"), r.getAs[Double]("blend"))).toMap
    assert(out(1L)._1 == 0.0 && out(2L)._1 == 0.0, "tied signal a shares percentile 0")
    assert(out(3L)._1 == 1.0)
    assert(out(1L)._2 == 0.0 && out(2L)._2 == 0.5 && out(3L)._2 == 1.0)
    assert(out(2L)._3 == 0.25 && out(3L)._3 == 1.0)
  }

  test("bucketed ranks equal percent_rank exactly at scale, ties included") {
    val s = spark; import s.implicits._
    import graft.operators.QualityEnsemble
    // 500 rows, two signals with heavy ties (mod classes)
    val rows = (1 to 500).map(i => (i.toLong, (i % 13).toLong, (i % 37).toLong))
    val got = QualityEnsemble.percentileBlend(rows.toDF("id", "a", "b"), "id", Seq("a", "b"))
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("pr_a"), r.getAs[Double]("pr_b"))).toMap
    // expected via the definition: (rank-1)/(n-1), min rank over ties
    val n = rows.length
    def prs(vals: Seq[(Long, Long)]): Map[Long, Double] = {
      val sorted = vals.sortBy(_._2)
      val firstRank = sorted.zipWithIndex.groupBy(_._1._2)
        .map { case (v, g) => v -> (g.map(_._2).min + 1) }
      vals.map { case (id, v) =>
        id -> math.rint((firstRank(v) - 1).toDouble / (n - 1).toDouble * 1e6) / 1e6
      }.toMap
    }
    val ea = prs(rows.map(r => (r._1, r._2)))
    val eb = prs(rows.map(r => (r._1, r._3)))
    rows.foreach { case (id, _, _) =>
      assert(got(id)._1 === ea(id), s"pr_a for id=$id")
      assert(got(id)._2 === eb(id), s"pr_b for id=$id")
    }
  }
}

class TrianglesSpec extends SparkSpec {

  test("counts a known graph exactly once per triangle") {
    val s = spark; import s.implicits._
    // K4 on {1,2,3,4} (4 triangles) plus a pendant edge (no new ones)
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("u", "v")
    val tri = graft.operators.Triangles.listTriangles(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tri == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
  }
}

class EntityResolutionSpec extends SparkSpec {

  test("matches within blocks only, gates on distance, keeps the best") {
    val s = spark; import s.implicits._
    import graft.operators.EntityResolution
    val clean = Seq((1L, "alpha widget", "a"), (2L, "alpha widgek", "a"),
      (3L, "alpha gadget", "a"), (4L, "alpha widget", "b")).toDF("id", "name", "blk")
    val dirty = Seq((10L, "alpha widge", "a")).toDF("id", "name", "blk")
    val m = EntityResolution.resolve(dirty, clean, Seq("blk"), maxDistance = 2)
      .collect().map(r => (r.getAs[Long]("d_id"), r.getAs[Long]("c_id"), r.getAs[Int]("lev")))
    // 1 and 2 are both lev 1; tie breaks to the lower id. 4 is in
    // another block despite the identical name; 3 is gated out (lev 4).
    assert(m.toSeq == Seq((10L, 1L, 1)))
  }
}

class TableProfilerSpec extends SparkSpec {

  test("profiles nulls, distincts and typed min/max in one pass") {
    val s = spark; import s.implicits._
    val df = Seq((Some(3L), "b"), (None, "a"), (Some(1L), "b")).toDF("x", "y")
    val p = graft.operators.TableProfiler.profile(df, Seq("x", "y"))
      .collect().map(r => r.getAs[String]("column") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_null"), r.getAs[Long]("n_distinct"),
          r.getAs[String]("min_s"), r.getAs[String]("max_s"))).toMap
    assert(p("x") == (3L, 1L, 2L, "1", "3"))
    assert(p("y") == (3L, 0L, 2L, "a", "b"))
  }
}

class Scd2AsOfSpec extends SparkSpec {

  test("snapshotAt reconstructs each version from the history") {
    val s = spark; import s.implicits._
    import graft.operators.Scd2
    val v1 = Seq((1L, "h1"), (2L, "h2")).toDF("id", "h")
    val v2 = Seq((1L, "h1x"), (3L, "h3")).toDF("id", "h")
    val hist = Scd2.merge(Scd2.init(v1, 1), v2, 2)
    def snap(v: Int) = Scd2.snapshotAt(hist, v)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("h")).toMap
    assert(snap(1) == Map(1L -> "h1", 2L -> "h2"))
    assert(snap(2) == Map(1L -> "h1x", 3L -> "h3"))
  }
}

class CmsInnerProductSpec extends SparkSpec {

  test("inner product upper-bounds the true join size, exactly with no collisions") {
    val s = spark; import s.implicits._
    import graft.operators.CountMinSketch
    val a = Seq(1L, 1L, 2L, 3L).toDF("k")   // counts: 1->2, 2->1, 3->1
    val b = Seq(1L, 2L, 2L, 9L).toDF("k")   // counts: 1->1, 2->2, 9->1
    // true join size = 2*1 + 1*2 = 4
    def est(width: Int) = CountMinSketch.innerProduct(
        CountMinSketch.build(a, "k", depth = 3, width = width),
        CountMinSketch.build(b, "k", depth = 3, width = width))
      .collect().head.getAs[Long]("est_join_size")
    assert(est(4096) == 4L, "wide sketch: exact")
    assert(est(2) >= 4L, "narrow sketch: still an upper bound")
  }
}

class TransitionsSpec extends SparkSpec {

  test("counts ordered next-events per user; rows normalize to 1") {
    val s = spark; import s.implicits._
    import java.sql.Timestamp
    // user 1: a -> b -> a ; user 2: a -> b  => a->b x2, b->a x1
    val rows = Seq(
      (1L, "a", new Timestamp(1000L), 1L), (1L, "b", new Timestamp(2000L), 2L),
      (1L, "a", new Timestamp(3000L), 3L),
      (2L, "a", new Timestamp(1000L), 4L), (2L, "b", new Timestamp(2000L), 5L))
      .toDF("user_id", "event_type", "ts", "event_id")
    val m = graft.operators.Transitions.matrix(rows)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Double]("p"))).toMap
    assert(m == Map(("a", "b") -> (2L, 1.0), ("b", "a") -> (1L, 1.0)))
  }
}

class IntervalJoinSpec extends SparkSpec {

  test("bucketed overlap equals the naive quadratic join, once per pair") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    // intervals longer and shorter than the bucket, negative starts, and
    // zero-length points — every explode/dedup edge in one fixture
    val left = Seq.tabulate(300) { i =>
      val st = rnd.nextInt(20000).toLong - 5000L
      (i.toLong, st, st + rnd.nextInt(900))
    }.toDF("lid", "ls", "le")
    val right = Seq.tabulate(250) { i =>
      val st = rnd.nextInt(20000).toLong - 5000L
      (i.toLong, st, st + rnd.nextInt(900))
    }.toDF("rid", "rs", "re")
    val fast = IntervalJoin.overlap(left, right, "ls", "le", "rs", "re", bucketUs = 256L)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val naive = left.join(right, col("ls") <= col("re") && col("rs") <= col("le"))
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(naive.nonEmpty)
    assert(fast.length == fast.distinct.length, "a pair must be emitted exactly once")
    assert(fast.sorted.toSeq == naive.sorted.toSeq)
  }

  test("plan is an equi-join on the bucket, not a cartesian") {
    val s = spark; import s.implicits._
    val l = Seq((1L, 0L, 10L)).toDF("lid", "ls", "le")
    val r = Seq((1L, 5L, 15L)).toDF("rid", "rs", "re")
    val plan = IntervalJoin.overlap(l, r, "ls", "le", "rs", "re", bucketUs = 8L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
  }

  test("start > end rows are dropped, not exploded into a negative sequence") {
    val s = spark; import s.implicits._
    val l = Seq((1L, 10L, 0L)).toDF("lid", "ls", "le")
    val r = Seq((1L, 0L, 100L)).toDF("rid", "rs", "re")
    assert(IntervalJoin.overlap(l, r, "ls", "le", "rs", "re", bucketUs = 8L).count() == 0)
  }
}
