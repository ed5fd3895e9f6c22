package graft.operators

/** Epoch-cadenced auto-compaction policy for the engine's persisted,
  * appender-maintained stores (fingerprints, packed shards, IVF lists,
  * MinHash signatures). Every committed epoch leaves a parquet file (in
  * the log of an [[EpochLog]] store, per touched partition in the packed
  * shards), so a long-lived sink degrades a store into thousands of tiny
  * files — and every store grew a manual `compact` for
  * exactly that, but a continuous deployment has no natural place to call
  * it. This hook IS that place: the sink calls [[tick]] AFTER an epoch
  * fully commits (marker written, publish finished), which is precisely
  * the between-epochs window the stores' single-writer compaction contract
  * demands — the compact runs on the sink's own foreachBatch thread, so it
  * can never race an in-flight epoch of the same stream.
  *
  * Policy: every `checkEvery` committed epochs (cadence, so the file-count
  * listing itself stays off the per-epoch hot path), compare the store's
  * data-file count against `factor × live partitions` and compact only
  * when it exceeds the bound — a freshly compacted store (≈1 file per
  * partition) never re-compacts, so the full-table rewrite cost amortizes
  * over at least `(factor − 1) × partitions` epoch-appended files. A crash
  * mid-compact heals through each store's aside-publish-heal protocol
  * (reads included — see [[SignatureStore]]); markers and staging are
  * untouched, so epoch idempotence survives. `checkEvery ≤ 0` disables
  * the hook (the manual-maintenance deployments keep their old behavior).
  *
  * Stores with an [[EpochLog]] (fingerprints, signatures, IVF lists) pass
  * its fold as `fold`: it runs at EVERY cadence boundary, before the bound
  * check, so the log holds at most `checkEvery` epochs and the bound is
  * judged on the folded base (each fold adds a file per touched
  * partition).
  *
  * In-memory cadence state only: a restarted sink starts its count at the
  * bound check again from zero, which at worst delays one check by
  * `checkEvery` epochs — never a correctness concern.
  */
final class AutoCompact(checkEvery: Int, factor: Int) extends Serializable {
  require(checkEvery <= 0 || factor > 0,
    "autoCompact factor must be positive when the hook is enabled")
  private var sinceCheck = 0

  /** Call once per COMMITTED epoch. `fold`, `fileCount` and `partitions`
    * are evaluated lazily (only on a cadence boundary, in that order);
    * `compact` only past the bound. */
  def tick(fileCount: => Int, partitions: => Int, fold: => Unit = ())
          (compact: => Unit): Unit =
    if (checkEvery > 0) {
      sinceCheck += 1
      if (sinceCheck >= checkEvery) {
        sinceCheck = 0
        fold
        if (fileCount > factor.toLong * math.max(1, partitions)) compact
      }
    }
}

object AutoCompact {
  /** Default cadence/bound: check every 32 committed epochs, compact past
    * 8 files per live partition — at the default epoch≈file rate this
    * bounds any partition's file count at ~8× its compacted size while
    * costing at most one full-table rewrite per 32 epochs. */
  val DefaultCheckEvery = 32
  val DefaultFactor = 8
}
