package graft

import java.awt.Color

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Report

/** Q-report reshape (reference utils/visualization.py:63-349): per-stream
  * accuracy feeds concatenated on one global timeline with detector firings
  * attached, post-hoc streams forced to detection='None'. */
class ReportSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Two streams × 40 batches: stream 0 low error, stream 1 error ramp that
    * must fire the detector; batch ids deliberately non-contiguous per stream. */
  private def feed = {
    val s0 = (0 until 40).map(i => (0, "trained", i.toLong * 2, 0.95))
    val s1 = (0 until 40).map(i => (1, "untrained", i.toLong * 3, math.max(0.05, 0.95 - 0.04 * i)))
    (s0 ++ s1).toDF("streamOrd", "stream", "batch_id", "accuracy")
  }

  test("global timeline = per-stream offset + within-stream rank") {
    val out = Report.experimentReport(feed).collect()
    assert(out.length == 80)
    // time is a 0-based permutation-free index
    assert(out.map(_.getLong(0)).toSeq == (0L until 80L))
    // stream 0 occupies [0, 40), stream 1 [40, 80) — offset composition
    assert(out.take(40).forall(_.getString(1) == "trained"))
    assert(out.drop(40).forall(_.getString(1) == "untrained"))
    // within a stream, time order follows batch_id order
    val acc1 = out.drop(40).map(_.getDouble(2)).toSeq
    assert(acc1 == acc1.sortBy(identity[Double]).reverse)
  }

  test("offsets window is bounded by construction: its input is the " +
    "per-stream aggregate (≤ |streams| rows), never the feed") {
    val base = feed.select(col("streamOrd").cast("int").as("stream_ord"),
      col("stream"), col("batch_id"), col("accuracy"))
    val offs = Report.streamOffsets(base)
    assert(offs.count() == 2) // one row per stream, not per batch
    // plan proof: the single-partition window sits strictly ABOVE the
    // stream_ord aggregate — the one task sees aggregate rows only
    val lines = offs.queryExecution.executedPlan.toString.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window"))
    val aggIdx = lines.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("stream_ord"))
    assert(winIdx >= 0 && aggIdx > winIdx,
      lines.mkString("\n"))
  }

  test("detector firings appear on the ramp, mapped to Warning/Drift labels") {
    val out = Report.experimentReport(feed).collect()
    val det = out.map(r => r.getLong(0) -> r.getString(3)).toMap
    // phase 0 (low error) never fires
    assert((0L until 40L).forall(t => det(t) == "None"))
    // the ramp must fire at least one Warning and one Drift, Warning first
    val ramp = (40L until 80L).map(det)
    assert(ramp.contains("Warning") && ramp.contains("Drift"))
    assert(ramp.indexOf("Warning") < ramp.indexOf("Drift"))
    // the detector resets after a Drift (skmultiflow's DDM): its 30-sample
    // warm-up restarts, and fewer than 30 points remain, so every later
    // point reads None
    val firstDrift = 40 + ramp.indexOf("Drift")
    assert(80 - (firstDrift + 1) < graft.operators.Drift.MinNumInstances)
    assert(((firstDrift + 1L) until 80L).forall(t => det(t) == "None"),
      (firstDrift until 80).map(t => det(t.toLong)))
    assert(out.forall(r => Set("None", "Warning", "Drift")(r.getString(3))))
  }

  test("detectorEnd marks post-hoc streams detection='None'") {
    val mapped = (0 until 40).map(i => (2, "mapped", i.toLong, 0.05)) // terrible accuracy
    val withPostHoc = feed.unionByName(mapped.toDF("streamOrd", "stream", "batch_id", "accuracy"))
    val out = Report.experimentReport(withPostHoc, detectorEnd = Some(2)).collect()
    assert(out.length == 120)
    // post-hoc rows would certainly fire a detector; they must still be 'None'
    assert(out.filter(_.getString(1) == "mapped").forall(_.getString(3) == "None"))
    // and the live part still fires
    assert(out.filter(_.getString(1) == "untrained").exists(_.getString(3) == "Drift"))
  }

  test("reportPng renders the timeline figure: line + detection markers") {
    import graft.report.Plot
    val report = Report.experimentReport(feed)
    val path = java.nio.file.Files.createTempDirectory("plot").toString + "/report.png"
    Plot.reportPng(report, path)
    val img = javax.imageio.ImageIO.read(new java.io.File(path))
    assert(img.getWidth == 1000 && img.getHeight == 400)
    val px = for (x <- 0 until img.getWidth; y <- 0 until img.getHeight)
      yield img.getRGB(x, y)
    val nonBg = px.filterNot(p => p == Color.WHITE.getRGB || p == Color.GRAY.getRGB)
    assert(nonBg.size > 200, "the accuracy line must actually be drawn")
    // the drift ramp fires, so the Drift marker color must appear
    assert(nonBg.distinct.size >= 2, "line + at least one detection marker color")
  }

  test("scatterPng renders a labeled 2-D figure (t-SNE/mapping twin)") {
    import graft.report.Plot
    val pts = (0 until 90).map { i =>
      val c = i % 3
      (c * 10.0 + (i % 7) * 0.3, c * 5.0 - (i % 5) * 0.2, s"class$c")
    }.toDF("x", "y", "label")
    val path = java.nio.file.Files.createTempDirectory("plot").toString + "/scatter.png"
    Plot.scatterPng(pts, "x", "y", "label", path)
    val img = javax.imageio.ImageIO.read(new java.io.File(path))
    val px = (for (x <- 0 until img.getWidth; y <- 0 until img.getHeight)
      yield img.getRGB(x, y))
      .filterNot(p => p == Color.WHITE.getRGB || p == Color.GRAY.getRGB)
    assert(px.distinct.size >= 3, "three label colors must be visible")
    // oversized input is rejected
    val big = spark.range(Plot.MaxPoints + 1)
      .select(col("id").cast("double").as("x"),
        col("id").cast("double").as("y"), lit("l").as("label"))
    intercept[IllegalArgumentException] {
      Plot.scatterPng(big, "x", "y", "label", path)
    }
  }
}
