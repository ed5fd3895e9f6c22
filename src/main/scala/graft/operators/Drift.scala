package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DDM concept-drift detection (SURVEY ST1/ST2).
  *
  * The reference consumes scikit-multiflow 0.4.1's `DDM` (Gama et al., "Learning
  * with Drift Detection", SBIA 2004), feeding it `1 - accuracy` per reporting batch
  * (reference: streams/run_stream_supervised.py:75-83,
  * drift_detection/drift_experiments_supervised.py:100). Semantics reproduced here
  * from the published algorithm: running mean error p_i with σ_i = sqrt(p_i(1-p_i)/i),
  * minima tracked as the (p, σ) at the i minimizing p_i+σ_i (ties → latest),
  * warning when p_i+σ_i > p_min + 2·σ_min, drift when > p_min + 3·σ_min, with a
  * 30-sample warm-up and a full state reset after each drift.
  *
  * One detector, two drivers of it:
  *  - [[ddmSequential]]: the batch form — an order-sensitive scan *with reset*,
  *    the exact reference semantics. The input is per-batch error rates, i.e.
  *    already aggregated upstream to one row per batch; a detector is inherently
  *    a single sequential state machine, so we sort each detector's (tiny) feed
  *    into one partition per detector key and scan it.
  *  - graft.streaming.DdmStream: the streaming twin, the same [[Ddm]] state
  *    carried across micro-batches by `flatMapGroupsWithState`.
  * The DuckDB oracle replays the same recurrence as a recursive CTE
  * (graft.queries.Duck.ddmRecursive), bit for bit.
  */
object Drift {

  val MinNumInstances = 30
  val WarningLevel = 2.0
  val OutControlLevel = 3.0

  /** skmultiflow-compatible DDM state machine (public algorithm; see header). */
  final class Ddm(minNumInstances: Int = MinNumInstances,
                  warningLevel: Double = WarningLevel,
                  outControlLevel: Double = OutControlLevel) extends Serializable {
    var sampleCount: Int = 1
    var missProb: Double = 1.0
    var missStd: Double = 0.0
    var missProbSdMin: Double = Double.PositiveInfinity
    var missProbMin: Double = Double.PositiveInfinity
    var missSdMin: Double = Double.PositiveInfinity
    var inWarningZone: Boolean = false
    var inConceptChange: Boolean = false

    def reset(): Unit = {
      sampleCount = 1; missProb = 1.0; missStd = 0.0
      missProbSdMin = Double.PositiveInfinity
      missProbMin = Double.PositiveInfinity
      missSdMin = Double.PositiveInfinity
      inWarningZone = false; inConceptChange = false
    }

    /** Feed one error value; returns the signal: "N", "W", or "D". */
    def addElement(x: Double): String = {
      if (inConceptChange) reset()
      missProb += (x - missProb) / sampleCount.toDouble
      missStd = math.sqrt(missProb * (1 - missProb) / sampleCount.toDouble)
      sampleCount += 1
      inConceptChange = false
      inWarningZone = false
      if (sampleCount < minNumInstances) return "N"
      if (missProb + missStd <= missProbSdMin) {
        missProbMin = missProb
        missSdMin = missStd
        missProbSdMin = missProb + missStd
      }
      if (missProb + missStd > missProbMin + outControlLevel * missSdMin) {
        inConceptChange = true; "D"
      } else if (missProb + missStd > missProbMin + warningLevel * missSdMin) {
        inWarningZone = true; "W"
      } else "N"
    }

    /** Feed a RUN of `k` identical error values; returns true iff any
      * element of the run fired "D". The batch-aggregate entry for
      * foreachBatch callers that only hold per-trigger (bad, n) counts —
      * the per-element recurrence is retained DELIBERATELY: a closed-form
      * two-segment fold exists for the running mean (it telescopes to
      * p·(sc−1)/(sc+k−1)), but it reorders the floating-point ops, and the
      * detector's fire decisions are threshold comparisons on those exact
      * bits — a closed form could flip a marginal decision vs the
      * sequential reference semantics this class pins bit-exactly
      * (AnnRecenterSpec pins addRun ≡ an addElement loop, state and
      * signals). Cost is ~10 ns/element of pure driver arithmetic, bounded
      * by the caller's trigger size — no per-element allocation, Range
      * boxing, or closure dispatch. */
    def addRun(x: Double, k: Long): Boolean = {
      var fired = false
      var i = 0L
      while (i < k) {
        if (addElement(x) == "D") fired = true
        i += 1
      }
      fired
    }
  }

  /** One detector-scan output row. */
  case class DdmOut(detector: String, batch_id: Long, error: Double,
                    p: Double, s: Double, signal: String)

  /** Faithful DDM over a batch DataFrame of per-batch errors.
    *
    * @param feeds columns: detectorCol (group key), batchIdCol (order), errCol.
    *              Each detector's rows are shuffled to one partition and scanned
    *              in batch order — correct because a detector feed is one row per
    *              reporting batch (tiny by construction), while the heavy per-row
    *              scoring stays fully distributed upstream.
    */
  def ddmSequential(feeds: DataFrame, detectorCol: String, batchIdCol: String,
                    errCol: String): DataFrame = {
    val spark = feeds.sparkSession
    import spark.implicits._
    val prepared = feeds.select(
        col(detectorCol).cast("string").as("detector"),
        col(batchIdCol).cast("long").as("batch_id"),
        col(errCol).cast("double").as("error"))
      .repartition(col("detector"))
      .sortWithinPartitions("detector", "batch_id")
      .as[(String, Long, Double)]
    prepared.mapPartitions { it =>
      var current: String = null
      var ddm: Ddm = null
      it.map { case (det, bid, err) =>
        if (det != current) { current = det; ddm = new Ddm() }
        val sig = ddm.addElement(err)
        DdmOut(det, bid, err, ddm.missProb, ddm.missStd, sig)
      }
    }.toDF()
  }
}
