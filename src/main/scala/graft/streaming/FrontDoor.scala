package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}

import graft.operators.{AnnIndex, EpochLog, FingerprintStore, ScreenEpoch,
  SignatureStore}

/** The COMPLETE ingest front door as one `writeStream.foreachBatch` sink —
  * the four-layer admission chain every continuous-crawl deployment of this
  * engine wires by hand otherwise (and the StreamingSpec front-door tests
  * chain the per-layer sinks by hand deliberately, to pin each layer in
  * isolation; those sinks run the same per-store steps):
  *
  *  1. [[IngestGate]] — DSIR affinity + quality gate: is this document
  *     worth anything at all? Rejects route to `quarantine` with their
  *     score columns for audit.
  *  2. [[FingerprintStore.dedupSink]] — exact dedup: the byte-identical
  *     re-delivery / re-crawl, killed by a broadcast Bloom + shard-pruned
  *     verify; byte-identical docs within a batch keep the least id.
  *  3. [[SignatureStore.screenSink]] — MinHash near-dup screen: the
  *     re-crawl that changed one timestamp token.
  *  4. [[AnnIndex.semanticScreenSink]] — semantic screen: the PARAPHRASE
  *     (same meaning, disjoint shingles, near-identical embedding) that
  *     sails past both text layers.
  *
  * Survivors of all four layers flow to `accept` (original columns, id
  * first). Duplicate kills at layers 2–4 are silent drops, not
  * quarantines — a duplicate is already represented in the stores; only
  * the GATE's rejects carry information a human reviews. The batch must
  * already carry the embedding column (the door screens, it does not
  * embed — run the [[graft.embed.EmbeddingProvider]] transform upstream in
  * the same `foreachBatch` read or as a prior select).
  *
  * One door epoch per trigger ([[graft.operators.ScreenEpoch]]): the
  * gate's admitted rows are checkpointed once with their fingerprint and
  * MinHash signature (one row per distinct text, min id), one job collects
  * the three probes' partition keys (fingerprint shards of the Bloom
  * candidates, band buckets, nearest lists), and all three stores are
  * probed over those rows. A row dies at the first layer that flags it:
  * each verdict is batch-vs-store, so probing a row a cheaper layer kills
  * changes no other verdict. Each store then stages the rows that passed
  * its own layer — the fingerprint store every fp survivor and its Bloom
  * sidecar, the signature store the signature-layer survivors, the index
  * the final survivors — in `.door_stage_<tag>_<e>` under its own dir, ONE
  * marker `_door_<tag>_epoch_<e>` in the fingerprint dir commits all
  * three, the stages publish, and the post-commit steps run once (band
  * census fold, auto-compact ticks). A crash before the marker leaves
  * orphan stages the next mount discards, and the epoch replays whole
  * against stores without its rows (no probe ever matches its own epoch);
  * after it, the mount finishes the publish in every dir and the replay
  * only heals. Single door stream per store set (the usual
  * single-maintainer contract).
  *
  * Stores written by the per-layer chain (each layer under its own
  * marker, the fingerprint layer's `_ingested_<tag>_epoch_<e>` last) mount
  * as they are: an epoch with that marker replays as a no-op, and one with
  * only the later layers' markers is finished without those layers.
  *
  * CALLBACK CONTRACT — foreachBatch is at-least-once, and the door marker
  * protects the STORES, not the callbacks: `accept` runs before the
  * marker, so it fires again, with identical survivors, on a replay of an
  * epoch whose door marker is absent; `quarantine`, the gate's reject path,
  * has no marker and fires again on ANY replay of its epoch. Both must be
  * idempotent under epoch re-delivery — keyed/overwriting writes or their
  * own marker-protected sinks — or an external consumer will duplicate
  * rows on replay.
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
    // Epoch threading: the store half is mounted once (its heal sweeps and
    // Bloom load run at mount, like a recovered driver would), and each
    // trigger's epoch reaches it through this cell — set in the gate's
    // accept callback, before the store half runs.
    val cur = new AtomicLong(-1L)
    val chain = storeChain(spark, fpDir, sigDir, ivfDir, idCol, textCol,
      vecCol, sigThreshold, semThreshold, nprobe, streamTag, cur)(accept)
    gate.sinkEpoch(idCol, textCol)(
      { (df, e) => cur.set(e); chain(df) })(
      { (df, _) => quarantine(df) })
  }

  /** The door epoch's store half: the three store layers on one commit.
    * Package-private so the guard below is pinnable; production callers use
    * [[sink]], which owns `cur` and sets it in the gate's accept path. The
    * `require` makes a mis-wired door (a layer fed directly, no gate epoch)
    * fail LOUDLY instead of silently running every store at epoch −1 —
    * where one shared marker would swallow every subsequent batch.
    *
    * Mount heals every namespace the stores may hold for `streamTag`: the
    * door's own (all three dirs against its one marker) first, so that a
    * committed epoch's Bloom sidecar is published before the fingerprint
    * layer loads its Bloom list, then the per-layer sinks' that earlier
    * versions of this door committed under. */
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
    // the door epoch's namespace: `.door_stage_<tag>_<e>` in each store
    // dir, where that store's own sink publishes; one marker
    // `_door_<tag>_epoch_<e>` in the fingerprint dir
    val commit = EpochLog.Commit(s".door_stage_${streamTag}_",
      s"_door_${streamTag}_epoch_", Seq(
        FingerprintStore.sinkCommit(fpDir, streamTag),
        SignatureStore.screenCommit(sigDir, streamTag),
        AnnIndex.screenCommit(ivfDir, streamTag)).map(_.parts.head))
    val fs = new Path(fpDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    commit.heal(fs)
    val layers = Seq(
      FingerprintStore.screen(spark, fpDir, idCol, textCol, streamTag),
      SignatureStore.screen(spark, sigDir, idCol, textCol, sigThreshold,
        streamTag = streamTag),
      new AnnIndex.Screen(spark, ivfDir, idCol, vecCol, semThreshold, nprobe,
        streamTag))
    df => {
      val e = epochNow()
      // A store trio written by the per-layer chain commits each layer
      // under its own marker, the fingerprint layer's last: with it, epoch
      // e committed whole. With only the later layers' markers, that chain
      // crashed mid-epoch; finish it as it would have — without the layers
      // whose markers exist and, once the semantic layer has committed,
      // without firing `accept` again. Recomputing such a layer would match
      // the epoch's own stored rows.
      if (commit.committed(fs, e) || layers.head.commit.committed(fs, e))
        commit.heal(fs)
      else {
        val live = layers.indexWhere(_.commit.committed(fs, e)) match {
          case -1 => layers.size
          case k => k
        }
        ScreenEpoch.run(fs, commit, layers.take(live), df, e)(
          if (live == layers.size) accept else _ => ())
      }
    }
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
