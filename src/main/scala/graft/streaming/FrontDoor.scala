package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}

import graft.operators.{AnnIndex, FingerprintStore, SignatureStore}

/** The COMPLETE ingest front door as one `writeStream.foreachBatch` sink —
  * the four-layer admission chain every continuous-crawl deployment of this
  * engine wires by hand otherwise (and the StreamingSpec front-door tests
  * wire by hand deliberately, to pin each layer in isolation):
  *
  *  1. [[IngestGate]] — DSIR affinity + quality gate: is this document
  *     worth anything at all? Rejects route to `quarantine` with their
  *     score columns for audit.
  *  2. [[FingerprintStore.dedupSink]] — exact dedup: the byte-identical
  *     re-delivery / re-crawl, killed by a broadcast Bloom + shard-pruned
  *     verify. Cheapest per-doc, so it runs before anything hashes text.
  *  3. [[SignatureStore.screenSink]] — MinHash near-dup screen: the
  *     re-crawl that changed one timestamp token.
  *  4. [[AnnIndex.semanticScreenSink]] — semantic screen: the PARAPHRASE
  *     (same meaning, disjoint shingles, near-identical embedding) that
  *     sails past both text layers.
  *
  * Survivors of all four layers flow to `accept` (original columns).
  * Duplicate kills at layers 2–4 are silent drops, not quarantines — a
  * duplicate is already represented in the stores; only the GATE's rejects
  * carry information a human reviews. The batch must already carry the
  * embedding column (the door screens, it does not embed — run the
  * [[graft.embed.EmbeddingProvider]] transform upstream in the same
  * `foreachBatch` read or as a prior select).
  *
  * Ordering is rejection-cost order: each layer only pays for what the
  * cheaper layers above it admitted, so at steady state (most re-crawls are
  * byte-identical) the expensive layers see a trickle. All four layers keep
  * their own per-epoch idempotence markers under the shared `streamTag`, so
  * the composed door inherits every individual crash-window guarantee the
  * specs pin: a replay from ANY point re-derives identical admissions and
  * bit-identical stores. Single door stream per store set (the usual
  * single-maintainer contract).
  *
  * CALLBACK CONTRACT — foreachBatch is at-least-once, and the stores'
  * markers protect the STORES, not the callbacks: `accept` re-fires with
  * identical survivors if a crash lands before the semantic screen's epoch
  * marker commits, and `quarantine` (the markerless gate-reject path)
  * re-fires on ANY replay of its epoch. Both must be idempotent under
  * epoch re-delivery — keyed/overwriting writes or their own
  * marker-protected sinks, mirroring the CONTRACT note in
  * [[AnnIndex.semanticScreenSink]] — or an external consumer will
  * duplicate rows on replay.
  *
  * Scale: per trigger, the gate's work is O(|batch|) (broadcast stats), the
  * fp probe is Bloom + pruned shards, the signature probe reads only
  * colliding band buckets, and the semantic probe only the batch's nprobe
  * nearest list partitions — nothing scales with store age except the
  * pruned partitions' own growth (BENCH_screen / BENCH_semscreen measure
  * both at 10× stores). Writes track the batch too: the fp, signature
  * and semantic layers append ONE log file per table per epoch (base +
  * epoch log, [[graft.operators.EpochLog]]) instead of one file per
  * touched partition — on a local FS without native Hadoop IO each created
  * file and dir forks a `chmod`, and the partitioned appends wrote ~290 of
  * them per 100-doc trigger. Probes read base ∪ log; the stores' auto-compact
  * cadence folds the log into the partitioned base. Every store sink
  * applies [[graft.Tuning.mountDefaults]] at mount, so these reads list
  * their directories on the driver instead of in a distributed job
  * (unless the session set the threshold itself). */
object FrontDoor {

  /** Build the composed sink. `gate` carries the deployment's reference
    * stats + thresholds; the three store dirs must exist (seed the ANN
    * index via [[AnnIndex.ivfIndexDir]] — the screen needs its trained
    * coarse centroids; fp/sig stores may start empty). */
  def sink(spark: SparkSession, gate: IngestGate, fpDir: String,
           sigDir: String, ivfDir: String, idCol: String, textCol: String,
           vecCol: String, sigThreshold: Double = 0.5,
           semThreshold: Double = 0.99, nprobe: Int = 4,
           streamTag: String = "door")
          (accept: DataFrame => Unit)
          (quarantine: DataFrame => Unit): (DataFrame, Long) => Unit = {
    // Epoch threading: inner sinks are built once (their heal sweeps and
    // Bloom loads run at mount, like a recovered driver would), and each
    // trigger's epoch reaches the inner layers through this cell — set
    // before the first inner sink runs, in the gate's accept callback.
    val cur = new AtomicLong(-1L)
    val chain = storeChain(spark, fpDir, sigDir, ivfDir, idCol, textCol,
      vecCol, sigThreshold, semThreshold, nprobe, streamTag, cur)(accept)
    gate.sinkEpoch(idCol, textCol)(
      { (df, e) => cur.set(e); chain(df) })(
      { (df, _) => quarantine(df) })
  }

  /** The three store layers behind the gate as one epoch-threaded sink.
    * Package-private so the guard below is pinnable; production callers use
    * [[sink]], which owns `cur` and sets it in the gate's accept path. The
    * `require` makes a mis-wired door (a layer fed directly, no gate epoch)
    * fail LOUDLY instead of silently running every inner store at epoch −1
    * — where one shared marker would swallow every subsequent batch. */
  private[graft] def storeChain(spark: SparkSession, fpDir: String,
      sigDir: String, ivfDir: String, idCol: String, textCol: String,
      vecCol: String, sigThreshold: Double, semThreshold: Double,
      nprobe: Int, streamTag: String, cur: AtomicLong)
      (accept: DataFrame => Unit): DataFrame => Unit = {
    def epochNow(): Long = {
      val e = cur.get()
      require(e >= 0,
        s"FrontDoor($streamTag): store layer invoked before any gate epoch " +
          "— wire batches through FrontDoor.sink, never into a layer directly")
      e
    }
    val sem = AnnIndex.semanticScreenSink(spark, ivfDir, idCol, vecCol,
      semThreshold, nprobe, streamTag)(accept)
    val sig = SignatureStore.screenSink(spark, sigDir, idCol, textCol,
      sigThreshold, streamTag = streamTag) { df => sem(df, epochNow()) }
    val fp = FingerprintStore.dedupSink(spark, fpDir, idCol, textCol,
      streamTag = streamTag) { df => sig(df, epochNow()) }
    df => fp(df, epochNow())
  }

  /** READ-ONLY corpus-membership probe — the door's question ("have we
    * seen this content?") answered WITHOUT the writer lock: no append, no
    * marker, no gate. One row per input doc with a verdict per layer:
    * `(id, dup_exact, dup_near, dup_semantic)` — the pre-flight a crawl
    * scheduler runs before fetching, the dry-run an operator uses to see
    * what a batch WOULD do at the door, and the read half the takedown
    * verifiers use ("is it really gone?"). Each layer runs its store's
    * own pruned read path (Bloom + shard-pruned fp verify, band-bucket +
    * sig-shard pruned MinHash probe, statically pruned IVF list probe),
    * so cost tracks the batch's collision footprint, never store age.
    * Thresholds/params must match the door's sink wiring (same defaults)
    * or the verdicts answer a different question than ingest asks. Safe
    * concurrent with a live sink between ITS epochs (reads heal compact
    * asides and finish a committed log fold, never touching a fold still
    * in progress); not a sink replacement — it admits nothing. A fold
    * deletes the log files it moved into the base, so collect the result
    * within one fold window of the sink: a probe planned before a fold and
    * run after it fails on a missing file — retry it. */
  def probe(spark: SparkSession, fpDir: String, sigDir: String,
            ivfDir: String, docs: DataFrame, idCol: String, textCol: String,
            vecCol: String, sigThreshold: Double = 0.5,
            semThreshold: Double = 0.99, nprobe: Int = 4): DataFrame = {
    val (keyed, sigs) = probePrep(docs, idCol, textCol, vecCol)
    probeKeyed(spark, fpDir, sigDir, ivfDir, keyed, sigs, sigThreshold,
      semThreshold, nprobe)
  }

  /** The batch-side half of [[probe]], shard-invariant: one projection +
    * checkpoint, one MinHash signature pass. [[graft.streaming
    * .ShardedDoor.probe]] computes this ONCE and fans only the pruned
    * store probes across its k shards. */
  private[streaming] def probePrep(docs: DataFrame, idCol: String,
      textCol: String, vecCol: String): (DataFrame, DataFrame) = {
    val keyed = docs.select(col(idCol).cast("long").as("id"),
        col(textCol).cast("string").as("text"), col(vecCol).as("vec"))
      .localCheckpoint()
    val sigs = graft.operators.Dedup.minHashSignatures(
      keyed, "id", "text", numHashes = 32, shingleSize = 3).localCheckpoint()
    (keyed, sigs)
  }

  /** The store-side half of [[probe]]: verdicts for one door trio from a
    * prepared (keyed, sigs) pair. */
  private[streaming] def probeKeyed(spark: SparkSession, fpDir: String,
      sigDir: String, ivfDir: String, keyed: DataFrame, sigs: DataFrame,
      sigThreshold: Double, semThreshold: Double,
      nprobe: Int): DataFrame = {
    val exact = FingerprintStore.probeTexts(spark, fpDir, keyed, "id", "text")
      .withColumn("dup_exact", lit(true))
    // a door whose sig store never committed an epoch (fresh shard) has
    // nothing to collide with — probeStored's loud no-params check is for
    // MISMATCHED stores, not empty ones
    val near =
      if (!SignatureStore.hasSigs(spark, sigDir))
        keyed.select(col("id"), lit(true).as("dup_near")).limit(0)
      else
        SignatureStore.probeStored(spark, sigDir, sigs,
            numHashes = 32, bands = 8, threshold = sigThreshold)
          .select(col("doc_id").as("id"), lit(true).as("dup_near"))
    val sem = AnnIndex.probeStoredVectors(spark, ivfDir, keyed, "id", "vec",
        semThreshold, nprobe)
      .select(col("id"), lit(true).as("dup_semantic"))
    keyed.select("id")
      .join(exact, Seq("id"), "left")
      .join(near, Seq("id"), "left")
      .join(sem, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("dup_exact"), lit(false)).as("dup_exact"),
        coalesce(col("dup_near"), lit(false)).as("dup_near"),
        coalesce(col("dup_semantic"), lit(false)).as("dup_semantic"))
  }

  /** Takedown across the door's three stores in one call — the lifecycle
    * complement of [[sink]]: after a retract, the SAME document (exact
    * bytes, near-dup re-crawl, or paraphrase) must be re-admittable through
    * every layer, because each store forgets it independently
    * ([[FingerprintStore.retract]] needs the docs' TEXT — fingerprints are
    * derived, not stored by id; the signature and vector stores retract by
    * id). `docs` is the request-sized takedown batch carrying (idCol,
    * textCol); run between epochs with the door's stream down — the
    * single-writer maintenance contract every per-store retract already
    * states. Each store's own staged/heal discipline applies unchanged, so
    * a crash mid-sequence leaves at worst SOME stores already forgetting
    * the docs — re-running the same takedown batch is idempotent and
    * finishes the rest. For a deployment that also runs BM25/LM stores and
    * packed training shards, [[graft.operators.Forget]] composes this
    * sequence with those stores under a durable request ledger — ONE call
    * for the whole corpus footprint, every cross-store crash window
    * pinned. */
  def retract(spark: SparkSession, fpDir: String, sigDir: String,
              ivfDir: String, docs: DataFrame, idCol: String,
              textCol: String): Unit = {
    val ids = docs.select(idCol).distinct().collect()
      .map(_.getAs[Number](0).longValue).toSeq // takedown batch: bounded
    FingerprintStore.retract(spark, fpDir, docs, textCol)
    SignatureStore.retract(spark, sigDir, ids)
    AnnIndex.retract(spark, ivfDir, ids)
  }
}
