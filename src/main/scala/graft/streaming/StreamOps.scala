package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VecFns
import graft.ml.GaussianNB

/** Event-time streaming operators (engine capability beyond the reference's
  * ordinal time — SURVEY §2.6 note) and the prequential trainer (ST4/ST5). */
object StreamOps {

  /** Watermarked tumbling-window aggregation over an event stream: the
    * canonical `readStream → withWatermark → window → agg` shape. Works on both
    * streaming and batch DataFrames (Spark unifies the plan). */
  def windowedEventCounts(events: DataFrame, watermark: String = "10 minutes",
                          win: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), win), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Watermarked per-user session windows (gap-based): the streaming twin of
    * the batch q13_sessions query — same `session_window` operator, so batch
    * and stream share semantics by construction. Sessions finalize (append
    * mode) once the watermark passes their close. */
  def sessionizedUserActivity(events: DataFrame, watermark: String = "10 minutes",
                              gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Streaming exactly-once ingestion dedup: drops re-deliveries of the same
    * `idCol` arriving within the watermark horizon (state for an id is
    * dropped once the watermark passes it, so state size is bounded by the
    * horizon × arrival rate, not by stream history — the property that lets
    * this run forever at ingest scale). The batch twin of the engine's
    * dedup_exact; at-least-once sources (Kafka, file re-listing) become
    * effectively exactly-once through it. */
  def dedupWithinWatermark(events: DataFrame, idCol: String,
                           watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** ST4: prequential (test-then-train) Gaussian-NB over a micro-batched
    * stream — the reference's `predict; partial_fit` loop
    * (models/wos_train_nb.py:65-114) in `foreachBatch` form.
    *
    * Model state lives on the driver as per-class Welford accumulators; each
    * micro-batch is (1) scored against the *current* model — broadcast join, no
    * state on executors — then (2) folded into the accumulators via one
    * aggregated pass (the executors reduce to ≤ nClasses rows; only those cross
    * to the driver). Consistency contract: state advances once per trigger, in
    * trigger order — the same contract the reference's sequential loop has.
    */
  final class PrequentialNB(dim: Int, nClasses: Int,
                            varSmoothing: Double = GaussianNB.DefaultVarSmoothing)
      extends Serializable {
    import breeze.linalg.DenseVector

    // per-class (n, mean, m2)
    private val n = Array.fill(nClasses)(0L)
    private val mean = Array.fill(nClasses)(DenseVector.zeros[Double](dim))
    private val m2 = Array.fill(nClasses)(DenseVector.zeros[Double](dim))

    def totalCount: Long = n.sum

    def stats(c: Int): (Long, Array[Double], Array[Double]) =
      (n(c), mean(c).toArray, m2(c).toArray.map(v => if (n(c) == 0) 0.0 else v / n(c)))

    /** Score a batch with the current model; rows seen before any training get
      * prediction -1 (the reference's first batch is likewise untrained). */
    def predictBatch(batch: DataFrame, idCol: String, vecCol: String): DataFrame = {
      val spark = batch.sparkSession
      if (totalCount == 0L)
        return batch.select(col(idCol), lit(-1).as("pred"))
      import spark.implicits._
      val varsAll = (0 until nClasses).filter(n(_) > 0).flatMap { c =>
        val (_, _, v) = stats(c); v
      }
      val eps = varSmoothing * (if (varsAll.nonEmpty) varsAll.max else 1.0)
      val total = totalCount.toDouble
      val statRows = (0 until nClasses).filter(n(_) > 0).flatMap { c =>
        val (cn, mu, v) = stats(c)
        val logprior = math.log(cn / total)
        (0 until dim).map(i => (c, i, mu(i), v(i) + eps, logprior))
      }
      val statsDf = statRows.toDF("label", "i", "mu", "ve", "logprior")
      // GaussianNB.predict consumes (label, i, mu, v, eps) and scores with
      // v + eps; smoothing is already folded into ve here, so eps = 0.
      GaussianNB.predict(batch,
        statsDf.select(col("label"), col("i"), col("mu"),
          col("ve").as("v"), lit(0.0).as("eps")),
        statsDf.select("label", "logprior").distinct(),
        idCol, vecCol)
    }

    /** Fold one labeled micro-batch into the accumulators (partial_fit). */
    def update(batch: DataFrame, labelCol: String, vecCol: String, dimN: Int): Unit = {
      val agg = GaussianNB.fitStatsWelford(batch, labelCol, vecCol, dimN).collect()
      agg.foreach { r =>
        val c = r.getInt(0)
        val bn = r.getLong(1)
        val bMean = DenseVector(r.getSeq[Double](2).toArray)
        val bM2 = DenseVector(r.getSeq[Double](3).toArray.map(_ * bn)) // var→M2
        if (n(c) == 0L) { n(c) = bn; mean(c) = bMean; m2(c) = bM2 }
        else {
          val na = n(c); val nTot = na + bn
          val d = bMean - mean(c)
          mean(c) = mean(c) + d * (bn.toDouble / nTot)
          m2(c) = m2(c) + bM2 + (d *:* d) * (na.toDouble * bn / nTot)
          n(c) = nTot
        }
      }
    }

    /** Prequential step: score-then-train; returns scored rows with labels. */
    def step(batch: DataFrame, idCol: String, labelCol: String, vecCol: String,
             dimN: Int): DataFrame = {
      val scored = batch.select(col(idCol), col(labelCol).cast("int").as("label"))
        .join(predictBatch(batch, idCol, vecCol), Seq(idCol))
      val out = scored.cache()
      out.count() // pin scoring before the model advances
      update(batch, labelCol, vecCol, dimN)
      out
    }
  }

  /** Mini-batch k-means over a micro-batched stream (Sculley, "Web-Scale
    * K-Means Clustering", WWW 2010 — the Structured-Streaming twin of the
    * legacy DStream StreamingKMeans): the continuously-refreshed coarse
    * quantizer a streaming ingest pipeline pairs with the IVF/PQ operators.
    *
    * Centroids live on the driver (model-sized, like [[PrequentialNB]]'s
    * accumulators); each micro-batch contributes ONE narrow assignment
    * projection — the plan-constant `NearestCentroids` kernel, no join, no
    * ×k blow-up — feeding a combinable groupBy whose shuffle carries at most
    * k×(dim+1) partial sums per upstream partition. The decayed update
    *   w_j ← λ·w_j (all j);  c_j ← (w_j·c_j + m_j·x̄_j)/(w_j + m_j);
    *   w_j ← w_j + m_j (batch-hit j)
    * makes the quantizer track drift: λ=1 weights all history equally, λ→0
    * forgets it. Seeding = farthest-point k-means on the first batch
    * ([[graft.ml.KMeansQuantizer.fit]]). State advances once per trigger, in
    * trigger order — the foreachBatch consistency contract. */
  final class StreamingKMeans(k: Int, decay: Double = 0.9, seed: Long = 42L,
                              seedIters: Int = 2) extends Serializable {
    require(decay >= 0.0 && decay <= 1.0, s"decay in [0,1], got $decay")
    @volatile private var cents: Array[Array[Double]] = _
    private var weights: Array[Double] = _

    /** Snapshot of the current centroids (empty before the first batch). */
    def centroids: Array[Array[Double]] =
      if (cents == null) Array.empty else cents.map(_.clone())

    def processBatch(batch: DataFrame, idCol: String, vecCol: String): Unit = {
      if (batch.isEmpty) return
      if (cents == null) {
        cents = graft.ml.KMeansQuantizer.fit(batch, idCol, vecCol, k,
          seedIters, seed)
        weights = Array.fill(cents.length)(0.0)
      }
      val dim = cents.head.length
      val v = batch.select(col(vecCol).cast("array<double>").as("v"))
      val aggCols = (0 until dim)
        .map(i => sum(element_at(col("v"), i + 1)).as(s"s$i")) :+
        count(lit(1)).as("n")
      val rows = v.select(
          element_at(graft.expressions.NearestCentroids.column(col("v"),
            cents, 1), 1).as("cl"), col("v"))
        .groupBy("cl").agg(aggCols.head, aggCols.tail: _*)
        .collect()
      val next = cents.map(_.clone())
      var j = 0
      while (j < weights.length) { weights(j) *= decay; j += 1 }
      rows.foreach { r =>
        val cl = r.getAs[Number](0).intValue - 1 // list_id is 1-based
        val m = r.getLong(dim + 1).toDouble
        val w = weights(cl)
        var i = 0
        while (i < dim) {
          val batchMean = r.getDouble(i + 1) / m
          next(cl)(i) = (w * next(cl)(i) + m * batchMean) / (w + m)
          i += 1
        }
        weights(cl) = w + m
      }
      cents = next
    }

    /** `writeStream.foreachBatch(sink(...))` adapter. */
    def sink(idCol: String, vecCol: String): (DataFrame, Long) => Unit =
      (df, _) => processBatch(df, idCol, vecCol)
  }
}
