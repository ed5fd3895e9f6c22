package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Drift

/** Golden scenario generated from the published DDM algorithm (Gama et al. 2004,
  * as implemented by scikit-multiflow 0.4.1 — the detector the reference imports
  * at drift_detection/drift_experiments_supervised.py:100):
  * 40 batches err=0.1, ramp 0.14..0.90 over 20, 10×0.9, 20×0.1.
  * Expected: W at i=50..54, D at i=55, reset, N afterwards. */
class DriftSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val errs: Seq[Double] =
    Seq.fill(40)(0.1) ++ (1 to 20).map(k => 0.1 + 0.04 * k) ++
      Seq.fill(10)(0.9) ++ Seq.fill(20)(0.1)

  val expectedSignals: Map[Int, String] =
    ((50 to 54).map(_ -> "W") :+ (55 -> "D")).toMap

  test("Ddm state machine matches the golden signal sequence") {
    val ddm = new Drift.Ddm()
    val signals = errs.map(ddm.addElement)
    signals.zipWithIndex.foreach { case (sig, i) =>
      assert(sig == expectedSignals.getOrElse(i, "N"), s"at index $i")
    }
  }

  test("Ddm golden running stats at checkpoints") {
    val ddm = new Drift.Ddm()
    val stats = errs.map { e => ddm.addElement(e); (ddm.missProb, ddm.missStd) }
    assert(math.abs(stats(29)._1 - 0.1) < 1e-9)
    assert(math.abs(stats(29)._2 - 0.054772) < 1e-6)
    assert(math.abs(stats(55)._1 - 0.197143) < 1e-6)
    assert(math.abs(stats(55)._2 - 0.053164) < 1e-6)
    // post-reset (index 56 starts a fresh window): p = mean of errs[56..89]
    assert(math.abs(stats(89)._1 - 0.422353) < 1e-6)
  }

  test("ddmSequential distributes the same scan per detector key") {
    val feed = errs.zipWithIndex.flatMap { case (e, i) =>
      Seq(("d1", i.toLong, e), ("d2", i.toLong, 0.1)) // d2: flat feed, no signal
    }.toDF("det", "batch_id", "err")
    val out = Drift.ddmSequential(feed, "det", "batch_id", "err")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getString(5)).toMap
    errs.indices.foreach { i =>
      assert(out(("d1", i.toLong)) == expectedSignals.getOrElse(i, "N"), s"d1 at $i")
      assert(out(("d2", i.toLong)) == "N", s"d2 at $i")
    }
  }

  test("warning zone precedes drift in any monotone error ramp (property)") {
    // A slow ramp must pass through W before D (Gama et al. zones are nested).
    val ramp = (0 until 120).map(i => 0.05 + 0.006 * i)
    val ddm = new Drift.Ddm()
    val signals = ramp.map(ddm.addElement)
    val firstW = signals.indexOf("W")
    val firstD = signals.indexOf("D")
    assert(firstW >= 0 && firstD > firstW)
  }
}
