package graft

import graft.plans.{AsOfDirection, NativeAsOfJoin}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}

/** Randomized differential test for the native as-of exec: every
  * (direction × joinType × tolerance) combination checked against an
  * obviously-correct driver-side reference model over generated keyed
  * event sets — including null keys, null times, left rows before any
  * right row, and keys absent from one side. The right side generator
  * keeps (key, time) unique, matching the operator's documented
  * determinism contract.
  */
class NativeAsOfJoinPropSpec extends SparkSpec {

  import spark.implicits._
  import NativeAsOfJoinPropSpec.{L, R, reference}

  /** Deterministic xorshift so every CI run replays the same cases. */
  private class Rng(seed0: Long) {
    private var s = seed0
    def nextLong(): Long = { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; s }
    def nextInt(n: Int): Int = math.floorMod(nextLong(), n.toLong).toInt
  }

  private def genCase(rng: Rng): (Seq[L[Int]], Seq[R[Int, Double]]) = {
    val nKeys = 1 + rng.nextInt(4)
    val left = (0 until 1 + rng.nextInt(25)).map { i =>
      val k = if (rng.nextInt(12) == 0) None else Some(rng.nextInt(nKeys))
      val t = if (rng.nextInt(12) == 0) None else Some(rng.nextInt(40).toLong)
      L(k, t, i.toLong)
    }
    // unique (key, time) on the right — the operator's payload-
    // determinism contract
    val seen = scala.collection.mutable.Set[(Option[Int], Option[Long])]()
    val right = (0 until rng.nextInt(25)).flatMap { i =>
      val k = if (rng.nextInt(12) == 0) None else Some(rng.nextInt(nKeys))
      val t = if (rng.nextInt(12) == 0) None else Some(rng.nextInt(40).toLong)
      if (seen.add((k, t))) Some(R(k, t, i + 0.5)) else None
    }
    (left, right)
  }

  test("both native execs == reference model across directions, modes, tolerances") {
    val rng = new Rng(0x5eed5eedL)
    // broadcast = Some(false) pins the sort-merge exec, Some(true) the
    // broadcast-right exec: the SAME differential suite covers both
    // physical implementations of the operator
    val configs = for {
      dir <- Seq(AsOfDirection.Backward, AsOfDirection.Forward, AsOfDirection.Nearest)
      inner <- Seq(false, true)
      tol <- Seq(None, Some(7L))
      bcast <- Seq(Some(false), Some(true))
    } yield (dir, inner, tol, bcast)
    (1 to 5).foreach { caseNo =>
      val (l, r) = genCase(rng)
      val lDf = l.map(x => (x.k, x.t, x.id)).toDF("k", "t", "id")
      val rDf = r.map(x => (x.k, x.t, x.v)).toDF("k", "rt", "v")
      configs.foreach { case (dir, inner, tol, bcast) =>
        val got = NativeAsOfJoin.asOf(lDf, rDf, key = "k",
            leftTime = "t", rightTime = "rt", payloadCols = Seq("v"),
            joinType = if (inner) Inner else LeftOuter,
            within = tol, direction = dir, broadcast = bcast)
          .select($"id", $"v").collect()
          .map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getDouble(1))))
          .sortBy(_._1).toSeq
        val want = reference(l, r, inner, tol, dir).sortBy(_._1)
        assert(got === want,
          s"case $caseNo dir=$dir inner=$inner tol=$tol bcast=$bcast\nleft=$l\nright=$r")
      }
    }
  }

  test("skew-bucketed operator == reference model across directions, modes, tolerances") {
    val rng = new Rng(0x0ddba11L)
    // the bucketed rewrite (carry-in rows + composite-key join) must
    // match the same reference model the native execs do — widths that
    // do and don't divide the 0..40 time range, including width 1
    val configs = for {
      dir <- Seq(AsOfDirection.Backward, AsOfDirection.Forward, AsOfDirection.Nearest)
      inner <- Seq(false, true)
      tol <- Seq(None, Some(7L))
      width <- Seq(1L, 7L, 100L)
    } yield (dir, inner, tol, width)
    (1 to 3).foreach { caseNo =>
      val (l, r) = genCase(rng)
      val lDf = l.map(x => (x.k, x.t, x.id)).toDF("k", "t", "id")
      val rDf = r.map(x => (x.k, x.t, x.v)).toDF("k", "rt", "v")
      configs.foreach { case (dir, inner, tol, width) =>
        val got = graft.operators.SkewAsOfJoin.asOfBucketed(lDf, rDf, key = "k",
            leftTime = "t", rightTime = "rt", payloadCols = Seq("v"),
            bucketWidth = width,
            joinType = if (inner) Inner else LeftOuter,
            within = tol, direction = dir)
          .select($"id", $"v").collect()
          .map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getDouble(1))))
          .sortBy(_._1).toSeq
        val want = reference(l, r, inner, tol, dir).sortBy(_._1)
        assert(got === want,
          s"case $caseNo dir=$dir inner=$inner tol=$tol width=$width\nleft=$l\nright=$r")
      }
    }
  }
}

/** The brute-force reference model, shared with `NativeAsOfJoinSpec`. */
object NativeAsOfJoinPropSpec {

  case class L[K](k: Option[K], t: Option[Long], id: Long)
  case class R[K, V](k: Option[K], t: Option[Long], v: V)

  /** The obviously-correct model: scan all candidates per left row. */
  def reference[K, V](left: Seq[L[K]], right: Seq[R[K, V]], inner: Boolean,
      tol: Option[Long], dir: AsOfDirection): Seq[(Long, Option[V])] = {
    val out = left.map { l =>
      val hit: Option[R[K, V]] = (l.k, l.t) match {
        case (Some(k), Some(t)) =>
          val cands = right.filter(r => r.k.contains(k) && r.t.isDefined)
          val bwd = cands.filter(_.t.get <= t).sortBy(_.t.get).lastOption
            .filter(r => tol.forall(t - r.t.get <= _))
          val fwd = cands.filter(_.t.get >= t).sortBy(_.t.get).headOption
            .filter(r => tol.forall(r.t.get - t <= _))
          dir match {
            case AsOfDirection.Backward => bwd
            case AsOfDirection.Forward => fwd
            case AsOfDirection.Nearest => (bwd, fwd) match {
              case (Some(b), Some(f)) =>
                // ties go backward
                if (t - b.t.get <= f.t.get - t) Some(b) else Some(f)
              case (b, f) => b.orElse(f)
            }
          }
        case _ => None
      }
      l.id -> hit.map(_.v)
    }
    if (inner) out.filter(_._2.isDefined) else out
  }
}
