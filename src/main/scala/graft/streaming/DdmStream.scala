package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Drift

/** ST1 as a Structured Streaming stateful operator: DDM over a keyed error
  * stream with state carried across micro-batches via the state store.
  *
  * Design (SURVEY §4 "hard parts"): a detector is a single sequential state
  * machine, so each detector id is one group key — per-key ordering is pinned
  * by sorting each micro-batch's rows by `batch_id` before scanning, and state
  * (the full DDM accumulator) survives trigger boundaries. Many independent
  * detectors scale horizontally across executors; one detector's feed is tiny
  * by construction (one row per reporting batch, ST2).
  *
  * This is the one streaming DDM; it runs on the default state store. The
  * batch twin is [[graft.operators.Drift.ddmSequential]] (the same [[Drift.Ddm]]
  * state machine); the spec asserts the streaming scan over multiple
  * micro-batches equals the batch scan.
  */
object DdmStream {

  case class Feed(detector: String, batch_id: Long, error: Double)
  case class Signal(detector: String, batch_id: Long, error: Double,
                    p: Double, s: Double, signal: String)

  /** Serializable snapshot of the DDM accumulator for the state store. */
  case class DdmState(sampleCount: Int, missProb: Double, missStd: Double,
                      missProbSdMin: Double, missProbMin: Double, missSdMin: Double,
                      inWarningZone: Boolean, inConceptChange: Boolean)

  private def restore(s: DdmState): Drift.Ddm = {
    val d = new Drift.Ddm()
    d.sampleCount = s.sampleCount; d.missProb = s.missProb; d.missStd = s.missStd
    d.missProbSdMin = s.missProbSdMin; d.missProbMin = s.missProbMin
    d.missSdMin = s.missSdMin
    d.inWarningZone = s.inWarningZone; d.inConceptChange = s.inConceptChange
    d
  }

  private def snapshot(d: Drift.Ddm): DdmState =
    DdmState(d.sampleCount, d.missProb, d.missStd,
      d.missProbSdMin, d.missProbMin, d.missSdMin,
      d.inWarningZone, d.inConceptChange)

  val scanGroup: (String, Iterator[Feed], GroupState[DdmState]) => Iterator[Signal] =
    (detector, rows, state) => {
      val ddm = state.getOption.map(restore).getOrElse(new Drift.Ddm())
      // Micro-batch rows arrive unordered: pin detector order by batch_id.
      val out = rows.toSeq.sortBy(_.batch_id).map { f =>
        val sig = ddm.addElement(f.error)
        Signal(detector, f.batch_id, f.error, ddm.missProb, ddm.missStd, sig)
      }
      state.update(snapshot(ddm))
      out.iterator
    }

  /** Streaming form: append-mode flatMapGroupsWithState over detector keys. */
  def signals(feeds: Dataset[Feed]): Dataset[Signal] = {
    val spark = feeds.sparkSession
    import spark.implicits._
    feeds.groupByKey(_.detector)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(scanGroup)
  }
}
