package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Q-report: the experiment-report reshape behind the reference's figures
  * (utils/visualization.py:63-349). Each visualize_* there concatenates the
  * per-stream accuracy sequences into one global timeline (`df_line`: time,
  * accuracy, stream) and extracts the detector firings (`df_scatter`: time,
  * accuracy, detection ∈ {Warning, Drift}), with detections forced to 'N' for
  * points at/after the post-hoc stream (mapping/fine-tuned) that ran without a
  * detector. One table with a `detection` column subsumes both frames
  * (scatter = WHERE detection <> 'None').
  *
  * Detections come from the reference's detector, [[Drift.ddmSequential]]
  * (skmultiflow's DDM, which resets after every drift), run as one detector
  * over the whole timeline in `time` order — its state carries across the
  * stream switch, as the reference feeds one DDM across streams.
  *
  * Scale: the per-batch feed is tiny by construction (one row per reporting
  * batch — the heavy scoring stays upstream), so the within-stream rank and
  * the one-key detector scan operate on detector-feed-sized data; the
  * timeline offset is composed from per-stream counts, never a global window
  * over an unpartitioned table. */
object Report {

  /** Reshape per-stream accuracy feeds into the report table.
    *
    * @param feed        (streamOrd INT, stream STRING, batch_id LONG,
    *                    accuracy DOUBLE) — one row per (stream, batch).
    * @param detectorEnd streams with streamOrd >= detectorEnd get
    *                    detection='None' (the reference's post-hoc streams);
    *                    None = the detector saw every stream.
    * @return (time LONG 0-based global, stream, accuracy, detection ∈
    *         {'None','Warning','Drift'}) ordered by time.
    */
  def experimentReport(feed: DataFrame, detectorEnd: Option[Int] = None): DataFrame = {
    // Eager materialization: the feed plan fans out into the offsets agg, the
    // ranked timeline, and the detector scan joined back onto it — without
    // pinning it, an expensive upstream (e.g. two GNB scoring passes) would
    // re-execute once per branch. The feed is one row per reporting batch by
    // contract, so the checkpoint is tiny. (At cluster scale: persist() or a
    // parquet materialization plays the same role.)
    val base = feed.select(col("streamOrd").cast("int").as("stream_ord"),
      col("stream"), col("batch_id").cast("long").as("batch_id"),
      col("accuracy").cast("double").as("accuracy"))
      .localCheckpoint()
    // Global time index = per-stream offset + rank within the stream. The
    // offsets table is one row per stream; its single-partition window is
    // bounded BY CONSTRUCTION — the window input is the groupBy("stream_ord")
    // aggregate, so at most |streams| (= 3 experiment phases) rows ever move
    // to the one task, at any corpus scale. Pinned in ReportSpec.
    val offsets = streamOffsets(base)
    val timed = base
      .withColumn("rk", row_number().over(
        Window.partitionBy("stream_ord").orderBy("batch_id")) - 1)
      .join(broadcast(offsets), Seq("stream_ord"))
      .withColumn("time", col("offset") + col("rk"))
    val detectorFeed = detectorEnd.fold(timed)(end =>
      timed.filter(col("stream_ord") < end))
    // Keyed by `time` (one row per point; the one-key scan's output is one
    // partition, so the groupBy adds no exchange). The unique key lets
    // Catalyst drop the outer join, and with it the typed scan it cannot
    // otherwise prune, when nothing reads `detection` (a row count).
    val signals = Drift.ddmSequential(
        detectorFeed.select(lit("report").as("det"), col("time"),
          (lit(1.0) - col("accuracy")).as("err")),
        "det", "time", "err")
      .groupBy(col("batch_id").as("time")).agg(max("signal").as("signal"))
    timed.join(signals, Seq("time"), "left")
      .select(col("time"), col("stream"), round(col("accuracy"), 6).as("accuracy"),
        when(col("signal") === "D", "Drift")
          .when(col("signal") === "W", "Warning")
          .otherwise("None").as("detection"))
      .orderBy("time")
  }

  /** Per-stream timeline offsets: one row per stream, offset = total rows of
    * all earlier streams. The input to the single-partition window is the
    * `groupBy(stream_ord)` aggregate — ≤ |streams| rows at ANY corpus scale,
    * the proven bound ReportSpec pins (plan: HashAggregate strictly below
    * the window's single-partition exchange). */
  private[graft] def streamOffsets(base: DataFrame): DataFrame =
    base.groupBy("stream_ord").count()
      .withColumn("offset",
        coalesce(sum("count").over(
          Window.orderBy("stream_ord").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("stream_ord"), col("offset"))
}
