package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dsir, Quality}

/** Streaming admission gate: score each micro-batch's documents against
  * (1) broadcast DSIR bucket stats from a reference corpus and (2) the
  * engine's quality gate, BEFORE anything reaches the persisted stores
  * ([[graft.operators.FingerprintStore]], [[graft.operators.AnnIndex]]'s PQ
  * appender). The batch pipeline selects (dsir_select) and gates
  * (text_quality) before training; a continuous-crawl ingest must apply the
  * same judgment at the door or the stores fill with documents the batch
  * pipeline would immediately discard.
  *
  * Construction: `Dsir.bucketStats` over the historical corpus → a
  * ≤ buckets-row stats table, localCheckpointed here so every micro-batch
  * re-broadcasts the model-sized artifact instead of re-scanning history;
  * quality thresholds come from the deployment's `quality_quantiles`
  * calibration (defaults = the batch gate's constants).
  *
  * Per batch: ONE tokenize pass ([[Quality.tokens]], checkpointed) feeds
  * both the bigram-bucket counting ([[Dsir.affinityAgainstTokens]]) and the
  * quality signals ([[Quality.signalsFromTokens]]) — the clean+split regex
  * chain, the most expensive per-byte work at the door, runs once per
  * trigger, not once per consumer. Both derived frames are batch-sized and
  * join back by id; the split into admitted/quarantined reads one gated
  * checkpoint twice. Nothing corpus-sized shuffles, nothing beyond the
  * stats table broadcasts, so the gate adds O(|batch|) work per trigger
  * regardless of store size. Per-batch checkpoint blocks are explicitly
  * unpersisted after both consumers finish (a long-running ingest must not
  * depend on GC + ContextCleaner to bound block-manager growth).
  */
final class IngestGate(stats: DataFrame, minAffinity: Double,
                       thresholds: Quality.Thresholds = Quality.Thresholds(),
                       buckets: Int = 256) extends Serializable {

  private val statsPinned = stats.localCheckpoint()

  /** The input rows plus (affinity, quality_ok, admitted). A document with
    * no scorable bigram gets affinity null and is NOT admitted — no
    * evidence of target affinity is a reject at the door (it is also a
    * quality reject at any sane min-token threshold). */
  def gate(batch: DataFrame, idCol: String, textCol: String): DataFrame =
    gateImpl(batch, idCol, textCol)._1

  /** [[gate]] over a CALLER-tokenized (idCol, toks) frame
    * ([[Quality.tokens]] shape, checkpointed by the caller) — the
    * shared-scan entry for jobs whose one tokenize pass already feeds other
    * consumers (the batch `gate_admission` builds the bucket stats and the
    * gate's scoring from the SAME pass; a streaming deployment scoring
    * against precomputed stats has no second consumer and uses [[gate]]).
    * The caller owns the checkpoint's lifecycle. */
  def gateFromTokens(batch: DataFrame, toks: DataFrame,
                     idCol: String): DataFrame = {
    val aff = Dsir.affinityAgainstTokens(toks, idCol, statsPinned, buckets)
      .select(col("id").as(idCol), col("affinity"))
    val sig = Quality.signalsFromTokens(toks, idCol)
      .select(col(idCol), Quality.okCol(thresholds).as("quality_ok"))
    batch
      .join(aff, Seq(idCol), "left")
      .join(sig, Seq(idCol), "left")
      .withColumn("admitted",
        coalesce(col("affinity") >= minAffinity, lit(false)) &&
          coalesce(col("quality_ok"), lit(false)))
  }

  /** [[gate]] plus a release handle that unpersists the batch's tokenize
    * checkpoint once every consumer is done with the gated frame. The
    * public [[gate]] leaves release to GC + ContextCleaner (fine for
    * one-shot batch callers); the streaming sinks MUST release explicitly —
    * a continuous ingest otherwise accumulates pinned blocks between GCs. */
  private def gateImpl(batch: DataFrame, idCol: String,
                       textCol: String): (DataFrame, () => Unit) = {
    val toks = Quality.tokens(batch, idCol, textCol).localCheckpoint()
    (gateFromTokens(batch, toks, idCol),
      () => graft.SessionMemo.unpersistLeaves(toks))
  }

  /** `writeStream.foreachBatch` adapter: admitted rows (original columns)
    * flow to `accept` — typically a [[graft.operators.FingerprintStore]]
    * dedup sink — and rejected rows, still carrying their gate columns for
    * audit, to `quarantine`. The gated batch is checkpointed once and read
    * twice, so scoring never runs per consumer. */
  def sink(idCol: String, textCol: String)
          (accept: DataFrame => Unit)
          (quarantine: DataFrame => Unit): (DataFrame, Long) => Unit =
    sinkEpoch(idCol, textCol)((df, _) => accept(df))((df, _) => quarantine(df))

  /** Like [[sink]] but threads the trigger's epoch through to both
    * consumers — the composition shape for epoch-idempotent store sinks
    * ([[graft.operators.FingerprintStore.dedupSink]],
    * [[graft.operators.AnnIndex.ivfAppender]], both on the engine's one
    * epoch-commit protocol) mounted DOWNSTREAM of the gate: gate → dedup
    * store → index appender as one foreachBatch, with each store's replay
    * markers still keyed by the stream's own epochs. */
  def sinkEpoch(idCol: String, textCol: String)
               (accept: (DataFrame, Long) => Unit)
               (quarantine: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, epoch: Long) => {
      if (!batch.isEmpty) {
        val (g, releaseToks) = gateImpl(batch, idCol, textCol)
        val gated = g.localCheckpoint()
        try {
          accept(gated.filter(col("admitted"))
            .drop("affinity", "quality_ok", "admitted"), epoch)
          quarantine(gated.filter(!col("admitted")), epoch)
        } finally {
          // Release THIS trigger's checkpoint blocks now that both consumers
          // have read the gated frame — block-manager occupancy stays
          // O(one batch) over an unbounded stream instead of riding GC.
          releaseToks()
          graft.SessionMemo.unpersistLeaves(gated)
        }
      }
    }
}

