package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash signature store — the near-dup sibling of
  * [[FingerprintStore]] (exact text there; set similarity here). A
  * continuous crawl needs BOTH: a re-crawled page with one changed
  * timestamp token sails past the fingerprint store but not past a
  * signature screen, and [[Dedup.minHashDelta]]'s own scale story says the
  * base snapshot's signatures are a computed-once artifact. This store IS
  * that artifact: seed it from a snapshot, extend it per ingest epoch, and
  * every delta run hashes ONLY the incoming documents (reference anchor:
  * the memoized-artifact discipline of `adaptation/dataset.py:131-147`,
  * applied to MinHash signatures).
  *
  * Layout under `dir` — both tables are [[EpochLog]] tables, a
  * partitioned BASE plus a flat LOG of one parquet file per committed sink
  * epoch, every read going through base ∪ log:
  *  - `sigs/shard=K/` + `sigs_log/` — (id, sig ARRAY<BIGINT>, shard),
  *    sharded on the id's hash (`NumShards` partitions): the verify join
  *    prunes to candidate shards.
  *  - `bands/bucket=K/` + `bands_log/` — (id, band_id, band_hash, bucket)
  *    band index, partitioned on the band hash (`NumBuckets` partitions): a
  *    probe batch reads ONLY its colliding buckets of the base (the
  *    [[AnnIndex]] `partitionBy(list_id)` + static-prune discipline) and
  *    the log's few files, never the whole store — per-trigger probe cost
  *    tracks the batch's bucket footprint and the unfolded epochs, not
  *    store age.
  *  - Why a log: one epoch's 8 band rows per survivor land in ~8 buckets
  *    each, so a partitioned append wrote a file per touched bucket and
  *    shard (~250 for a 20-survivor epoch) — and on a local FS without
  *    native Hadoop IO every created file and dir forks a `chmod`. One file
  *    per table per epoch keeps the append's cost on the batch; seed, fold
  *    ([[AutoCompact]]'s cadence), compact and retract write the base.
  *  - `_params` — pins (numHashes, shingleSize, bands): signatures from
  *    different parameters never mix; a mismatched probe is a loud error,
  *    not silent zero-overlap estimates.
  *  - `_sigapp_<tag>_epoch_<e>` / `_sigscr_<tag>_epoch_<e>` — idempotence
  *    markers, one namespace PER SINK KIND: an appender and a screen
  *    mounted on the same store can never suppress each other's epochs.
  *  - `.sigapp_stage_<tag>_<e>` / `.sigscr_stage_<tag>_<e>` — per-epoch
  *    staging dirs ([[EpochLog.Commit]], every store sink's protocol); the
  *    ingest door stages under `.door_stage_<tag>_<e>` and commits with
  *    one marker in its fingerprint store ([[graft.streaming.FrontDoor]]).
  *  - `_fold_pending` / `.fold_stage` — a log fold's commit marker and
  *    stage ([[EpochLog.fold]]).
  *
  * Sink crash discipline (both sinks): the epoch's sigs + band rows land
  * in a staging dir first (one file per table), the marker commits the
  * epoch, and only then do the files move into the logs. A crash before
  * the marker discards staging and replays the epoch whole — a replayed
  * SCREEN epoch re-probes a store that does NOT contain its own staged
  * signatures, so it recomputes identical survivors instead of
  * self-matching to an empty frame. A crash after the marker replays as a
  * heal sweep that finishes the pending file moves. A direct
  * append-then-marker would instead double the epoch's (id, sig) rows,
  * silently inflating every later delta's n_base_dups.
  */
object SignatureStore {

  private val NumShards = 64
  private[operators] val NumBuckets = 256

  private def shardCol(id: Column) = pmod(xxhash64(id), lit(NumShards))
  private def bucketCol(bandHash: Column) = pmod(bandHash, lit(NumBuckets))

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Parameter sidecar: written once at seed, checked on every read. */
  private def writeParams(fs: FileSystem, dir: String, numHashes: Int,
                          shingleSize: Int, bands: Int): Unit = {
    val p = new Path(s"$dir/_params")
    if (!fs.exists(p)) {
      val out = fs.create(p, true)
      try out.write(s"$numHashes,$shingleSize,$bands".getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Loud params check, field-wise: a negative argument means the caller
    * cannot know that field and it is skipped — `bands < 0` for plain sig
    * reads (only numHashes + shingleSize must match), `shingleSize < 0`
    * for [[probeStored]] (the probe takes pre-computed signatures, so the
    * shingling happened at the caller; numHashes + bands must match). A
    * checked field that is ABSENT from the sidecar (a pre-index 2-field
    * `_params` asked for bands) still fails loudly. */
  private def checkParams(fs: FileSystem, dir: String, numHashes: Int,
                          shingleSize: Int, bands: Int = -1): Unit = {
    val p = new Path(s"$dir/_params")
    if (fs.exists(p)) {
      val in = fs.open(p)
      val txt = try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        if (n <= 0) "" else new String(buf, 0, n, "UTF-8").trim
      } finally in.close()
      val stored = txt.split(",")
      def field(i: Int): String = if (stored.length > i) stored(i) else ""
      val mismatch =
        field(0) != numHashes.toString ||
        (shingleSize >= 0 && field(1) != shingleSize.toString) ||
        (bands >= 0 && field(2) != bands.toString)
      val asked = s"${numHashes}," +
        s"${if (shingleSize >= 0) shingleSize else "*"}," +
        s"${if (bands >= 0) bands else "*"}"
      require(!mismatch,
        s"SignatureStore $dir holds params ($txt), probe asked ($asked) — " +
          "signatures from different params never compare")
    }
  }

  /** Seed (or extend) the store from a static corpus — the bulk "hash the
    * snapshot once" pass: one signature computation feeds both the sharded
    * sig table and the band index. Not marker-protected: run it through
    * [[storeDir]] (atomic build-aside) or re-run it whole on failure. */
  def seed(docs: DataFrame, idCol: String, textCol: String, dir: String,
           numHashes: Int = 32, shingleSize: Int = 3, bands: Int = 8): Unit = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val spark = docs.sparkSession
    val fs = fsOf(spark, dir)
    checkParams(fs, dir, numHashes, shingleSize, bands)
    val sigs = Dedup.minHashSignatures(docs, idCol, textCol, numHashes,
      shingleSize).localCheckpoint()
    // repartition on the partition column BEFORE the partitioned write:
    // without it every write task emits a file into every partition dir it
    // touches (tasks x partitions files per pass — measured 40k files and
    // a 5x probe penalty on a 5-write store in BENCH_skew_sig), and the
    // store is born needing the compaction that should be rare
    sigs.withColumn("shard", shardCol(col("id")))
      .repartition(col("shard"))
      .write.mode("append").partitionBy("shard").parquet(s"$dir/sigs")
    Dedup.bandedSigs(sigs, "id", numHashes, bands)
      .withColumn("bucket", bucketCol(col("band_hash")))
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(s"$dir/bands")
    writeParams(fs, dir, numHashes, shingleSize, bands)
    writeBandCensus(spark, dir)
  }

  /** Band-value CENSUS sidecar: every (band_id, band_hash) group with
    * df > [[CensusMinDf]], refreshed at the store's natural full-scan
    * moments — seed, compact (which auto-compaction runs periodically on
    * live sinks), retract (staged INSIDE the Takedown swap: a post-swap
    * refresh would leave an overcounting crash window) — and incrementally
    * FOLDED per committed append/screen epoch ([[mergeBandCensus]]), so a
    * band that becomes hot purely through appends is cappable before any
    * compact. [[probeStored]]'s `maxBandDf` guard reads this
    * tiny table instead of re-scanning the band index per probe — without
    * it the cap costs one extra band-table pass per trigger, more than the
    * candidate explosion it prevents at moderate store sizes. Staleness
    * (epochs appended since the last refresh) only costs cap PRECISION: an
    * undercounted group stays cold and merely costs probe time; flagged
    * results are exact-estimate-verified either way, so the sidecar can
    * never corrupt a result. Atomic tmp+rename overwrite. */
  private val CensusMinDf = 32

  private def writeBandCensus(spark: SparkSession, dir: String): Unit = {
    if (!Log.hasRows(fsOf(spark, dir), dir, "bands")) return
    publishCensus(spark, dir,
      Log.read(spark, dir, "bands")
        .groupBy("band_id", "band_hash").agg(count(lit(1)).as("df"))
        .filter(col("df") > CensusMinDf))
  }

  private def publishCensus(spark: SparkSession, dir: String,
                            census: DataFrame): Unit = {
    val fs = fsOf(spark, dir)
    val tmp = new Path(s"$dir/.hotbands.tmp")
    fs.delete(tmp, true)
    census.coalesce(1).write.parquet(tmp.toString)
    val dest = new Path(s"$dir/hotbands")
    fs.delete(dest, true)
    require(fs.rename(tmp, dest), s"SignatureStore: cannot publish $dest")
  }

  /** The census sidecar's schema, supplied on read (no inference job). */
  private val CensusSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("band_id", IntegerType),
      StructField("band_hash", LongType), StructField("df", LongType)))
  }

  /** Groups below this per-epoch merged floor are dropped from the
    * incremental census fold — see [[mergeBandCensus]]'s size bound. */
  private val CensusMergeFloor = 4

  /** INCREMENTAL census fold for one committed append/screen epoch (r16
    * verdict #5): without it, a band that becomes hot purely through
    * appends is invisible to [[probeStored]]'s sidecar-answered cap until
    * the next compact — on a fast-growing templated store the capped
    * probe's cost regresses toward the uncapped figure (the measured 1.9×
    * of BENCH_skew_sig) for however long the compact cadence is. The fold
    * sums the epoch's (band_id, band_hash) counts into the sidecar, so a
    * crawl dump that lands a 45-copy template across a few epochs is
    * droppable by the cap BEFORE any full-scan refresh.
    *
    * Bounds and honesty:
    *  - runs AFTER the epoch marker commits — a crash loses at most this
    *    epoch's fold, an UNDERCOUNT, which the census contract already
    *    absorbs (a cold-looking group only costs probe time; flagged
    *    results stay exact-verified). A pre-marker crash replays the whole
    *    epoch, fold included — never applied twice.
    *  - merged groups under [[CensusMergeFloor]] are dropped, so the
    *    sidecar tracks only REPEATED band values (duplicate families),
    *    never the singleton bulk: its size is bounded by the family count
    *    appended since the last full refresh, not by ingest volume. The
    *    cost: a group accumulating < floor per epoch with no sidecar entry
    *    stays invisible until the compact-cadence full refresh — the
    *    documented undercount-only staleness, now with a floor instead of
    *    a whole-store blind spot.
    *  - runs BEFORE the auto-compact tick: compact's full refresh then
    *    simply overwrites the fold (the epoch's rows are in the table it
    *    scans) — folding after it would double-count them. */
  private def mergeBandCensus(spark: SparkSession, dir: String,
                              epochBands: DataFrame): Unit = {
    val fs = fsOf(spark, dir)
    val epochRows = epochBands.select(col("band_id"), col("band_hash"),
      lit(1L).as("df"))
    val censusP = new Path(s"$dir/hotbands")
    val rows =
      if (fs.exists(censusP))
        spark.read.schema(CensusSchema).parquet(censusP.toString)
          .unionByName(epochRows)
      else epochRows
    // census-sized input: one task sums it, no shuffle
    publishCensus(spark, dir, rows.coalesce(1)
      .groupBy("band_id", "band_hash").agg(sum("df").as("df"))
      .filter(col("df") > CensusMergeFloor))
  }

  /** The stored signature table: (id, sig, shard). Empty frame (same
    * schema) for a store that has no sigs yet, so screens over a fresh
    * store admit everything instead of failing on a missing path. */
  def read(spark: SparkSession, dir: String, numHashes: Int = 32,
           shingleSize: Int = 3): DataFrame = {
    checkParams(fsOf(spark, dir), dir, numHashes, shingleSize)
    readSigsRaw(spark, dir)
  }

  /** The two tables' FIXED schemas, supplied on every read: a takedown
    * that retracts a store's every row swaps in an EMPTY partitioned table
    * (no data files → nothing to infer from), and a schema-less read would
    * throw where the correct answer is simply zero rows. */
  private val SigsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("id", LongType),
      StructField("sig", ArrayType(LongType)),
      StructField("shard", LongType)))
  }
  private val BandsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("id", LongType),
      StructField("band_id", IntegerType),
      StructField("band_hash", LongType),
      StructField("bucket", LongType)))
  }

  private val Log = new EpochLog(Seq(
    EpochLog.Table("sigs", "shard", SigsSchema),
    EpochLog.Table("bands", "bucket", BandsSchema)))

  /** True when the store holds any signature row, in the base or the
    * unfolded log — the "has this store ever committed?" test of callers
    * that must tell a fresh store (nothing to collide with) from a
    * mismatched one. */
  def hasSigs(spark: SparkSession, dir: String): Boolean =
    Log.hasRows(fsOf(spark, dir), dir, "sigs")

  /** NO-HEAL reads for [[Fsck]]: the audit's contract is "report, mutate
    * nothing", but [[readBands]]/the sigs read heal `.X_precompact`
    * asides by RENAMING on entry — running those under an audit would
    * both change disk state mid-diagnosis and hide the very
    * crash-residue finding the operator came for. These read the tables
    * as they lie: live base ∪ log (an aside-only crash state reads the
    * base as empty and surfaces through the audit's residue listing
    * instead; a pending fold's `_fold_pending` is listed there too).
    * Schema-supplied like every read. */
  private[operators] def readSigsIdsNoHeal(spark: SparkSession,
                                           dir: String): DataFrame =
    Log.read(spark, dir, "sigs").select("id")

  private[operators] def readBandsNoHeal(spark: SparkSession,
                                         dir: String): DataFrame =
    Log.read(spark, dir, "bands")

  private def readSigsRaw(spark: SparkSession, dir: String): DataFrame =
    Log.readHealed(spark, dir, "sigs")

  /** The stored band index: (id, band_id, band_hash, bucket); empty frame
    * for a fresh store. A store holding sigs WITHOUT a band index (a
    * pre-index layout) is a loud error — a silent empty index would admit
    * every near-dup. [[backfillBands]] migrates such a store in place. */
  def readBands(spark: SparkSession, dir: String): DataFrame = {
    val fs = fsOf(spark, dir)
    TableSwap.heal(fs, dir, "bands")
    TableSwap.heal(fs, dir, "sigs") // the pre-index check below must not
                                      // misread a mid-compact sigs table
    Log.finishFold(fs, dir)
    if (!Log.hasRows(fs, dir, "bands") && Log.hasRows(fs, dir, "sigs"))
      throw new IllegalStateException(
        s"SignatureStore $dir holds sigs but no band index — a pre-index " +
          "store; run backfillBands before probing")
    Log.read(spark, dir, "bands")
  }

  /** Rebuild the band index from the stored sigs in one pass (migration
    * for a pre-index store; also a repair tool): build aside, swap in
    * atomically. Single-writer, like [[compact]]. */
  def backfillBands(spark: SparkSession, dir: String, numHashes: Int = 32,
                    shingleSize: Int = 3, bands: Int = 8): Unit = {
    val fs = fsOf(spark, dir)
    checkParams(fs, dir, numHashes, shingleSize)
    if (!hasSigs(spark, dir)) return
    // fold first: the rebuilt index replaces the whole bands base, so no
    // band row may stay behind in the log to double it
    Log.fold(spark, dir)
    val tmp = new Path(s"$dir/.bands_backfill.tmp")
    fs.delete(tmp, true)
    Dedup.bandedSigs(readSigsRaw(spark, dir).select("id", "sig"), "id",
        numHashes, bands)
      .withColumn("bucket", bucketCol(col("band_hash")))
      .write.partitionBy("bucket").parquet(tmp.toString)
    fs.delete(new Path(s"$dir/bands"), true)
    require(fs.rename(tmp, new Path(s"$dir/bands")),
      s"backfillBands: cannot publish $tmp")
    // Complete the migration in the params sidecar too: a pre-index store
    // pinned the 2-field "numHashes,shingleSize" format, and writeParams is
    // write-once — without an explicit rewrite to the 3-field format every
    // later appender/screen epoch would fail checkParams against the old
    // pin with no supported way to finish the migration.
    fs.delete(new Path(s"$dir/_params"), false)
    writeParams(fs, dir, numHashes, shingleSize, bands)
  }

  // ---------------------------------------------------------------- sinks

  /** Write one epoch's signatures into a staging dir, ONE file per table:
    * sigs (with their shard) under `stage/sigs`, band-index rows (with
    * their bucket) under `stage/bands`. */
  private def writeStage(sigs: DataFrame, numHashes: Int, bands: Int,
                         stage: Path): Unit = {
    Log.stage(sigs.withColumn("shard", shardCol(col("id"))), stage, "sigs")
    Log.stage(Dedup.bandedSigs(sigs, "id", numHashes, bands)
      .withColumn("bucket", bucketCol(col("band_hash"))), stage, "bands")
  }

  /** [[screenSink]]'s epoch namespace on stream `tag`. */
  private[graft] def screenCommit(dir: String, tag: String): EpochLog.Commit =
    EpochLog.commit(dir, "sigscr", tag, Log.subs)

  /** The between-epochs window after a committed epoch: fold the log at
    * the cadence, compact past the bound. */
  private def autoTick(spark: SparkSession, dir: String,
                       auto: AutoCompact): Unit =
    auto.tick(fileCount(spark, dir), partitionDirCount(spark, dir),
      Log.fold(spark, dir))(compact(spark, dir))

  /** foreachBatch sink extending the store: each epoch's docs are hashed
    * once and their signatures + band rows stage, commit (marker), and
    * publish. Exactly-once under at-least-once re-delivery; a RESTARTED
    * appender heals pending publishes and resumes — the store is
    * append-only parquet, no in-memory state to rebuild. Single appender
    * stream per store, the maintainer contract of the other stores. */
  def appender(spark: SparkSession, dir: String, idCol: String,
               textCol: String, numHashes: Int = 32, shingleSize: Int = 3,
               bands: Int = 8, streamTag: String = "stream",
               autoCompactEvery: Int = AutoCompact.DefaultCheckEvery,
               autoCompactFactor: Int = AutoCompact.DefaultFactor):
      (DataFrame, Long) => Unit = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val commit = EpochLog.commit(dir, "sigapp", streamTag, Log.subs)
    Log.mount(spark, commit)
    val auto = new AutoCompact(autoCompactEvery, autoCompactFactor)
    (batch: DataFrame, epoch: Long) => {
      val fs = fsOf(batch.sparkSession, dir)
      checkParams(fs, dir, numHashes, shingleSize, bands)
      commit.run(fs, batch, epoch) { stage =>
        val sigs = Dedup.minHashSignatures(batch, idCol, textCol, numHashes,
          shingleSize).localCheckpoint()
        writeStage(sigs, numHashes, bands, stage)
        writeParams(fs, dir, numHashes, shingleSize, bands)
        sigs
      } { sigs =>
        // epoch fully committed: fold its band counts into the census (an
        // append-grown hot band must be cappable BEFORE any compact), then
        // the between-epochs single-writer auto-compact window
        mergeBandCensus(spark, dir,
          Dedup.bandedSigs(sigs, "id", numHashes, bands))
        autoTick(spark, dir, auto)
      }
    }
  }

  /** Batch-vs-store near-dup probe on the PRUNED path: band the probe
    * sigs, read ONLY the store buckets those bands hash into (static
    * partition filter over the band index), then verify the candidate
    * pairs, each carrying its probe signature, against ONLY their sig
    * shards (static partition filter + broadcast join, the
    * [[FingerprintStore.dedupSink]] verify shape). Returns
    * (doc_id, n_base_dups, max_est) — [[Dedup.minHashDeltaOverSigs]]
    * semantics. The only collects are the two distinct partition-value
    * lists, bounded by NumBuckets (256) and NumShards (64). The probe's
    * band rows are broadcast carrying their signature, so a probe batch
    * must be broadcast-sized (a door trigger, a delta's incoming slice).
    * `eager=false`
    * skips the intermediate localCheckpoints so the returned plan exposes
    * both pruned scans (plan pins); production callers keep the default.
    *
    * `maxBandDf` caps the per-(band_id, band_hash) candidate group — the
    * [[Dedup.hammingPairsFromSigs]] `maxBlockDf` guard applied to the band
    * index: a TEMPLATED store (thousands of sub-threshold documents
    * sharing one band, the 100 TB crawl shape) makes every probe that
    * collides on the hot band verify against the whole family, so the
    * probe's cost tracks the template's population instead of the batch.
    * Groups over the cap are DROPPED before the candidate join; a true
    * near-dup still surfaces through any of its other, cold bands — only
    * pairs whose EVERY shared band is hot are lost (the same documented
    * recall trade as the hamming cap; exactness keepers use the default
    * ∞). */
  def probeStored(spark: SparkSession, dir: String, probeSigs: DataFrame,
                  numHashes: Int, bands: Int, threshold: Double,
                  eager: Boolean = true,
                  maxBandDf: Int = Int.MaxValue): DataFrame = {
    // public API: a direct caller probing with mismatched numHashes/bands
    // must get the module's promised loud error, not silent zero-overlap
    // (band hashes that never collide admit everything). shingleSize is
    // unknowable here (the probe takes pre-computed signatures) — the
    // sig-computing callers (screenSink, appender, seed) pin it.
    checkParams(fsOf(spark, dir), dir, numHashes, -1, bands)
    def pin(df: DataFrame) = if (eager) df.localCheckpoint() else df
    // Pin the SIGNATURE frame, not the banded view: the probe consumes the
    // sigs twice (the bucket list, then the candidate bands), and a
    // caller handing a raw plan (the delta queries) would otherwise re-run
    // the whole shingle+hash chain for the verify side — one full batch
    // hash pass saved per probe (r17 StageProfile: the verify re-hash was
    // 7.5 s of executor time on dedup_delta_minhash_capped). Banding over
    // the pinned sigs is a cheap projection, recomputed per consumer. A
    // caller that already checkpointed its sigs is not re-pinned — its
    // frame is already a materialized leaf.
    val callerPinned = probeSigs.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    val sigsP = if (callerPinned) probeSigs.select("id", "sig")
                else pin(probeSigs.select("id", "sig"))
    val buckets = ScreenEpoch.distinctLongs(bandBuckets(sigsP, numHashes,
      bands)).toSeq.sorted // ≤ NumBuckets values
    verified(spark, dir, sigsP, numHashes, bands, threshold, buckets,
        maxBandDf, pairs => pin(pairs.distinct()))
      .groupBy(col("id_in").as("doc_id"))
      .agg(count(lit(1)).as("n_base_dups"),
        round(max("est_jaccard"), 6).as("max_est"))
  }

  /** The band buckets (column `bucket`) the probe of `sigs` reads. */
  private def bandBuckets(sigs: DataFrame, numHashes: Int,
                          bands: Int): DataFrame =
    Dedup.bandedSigs(sigs, "id_in", numHashes, bands)
      .select(bucketCol(col("band_hash")).as("bucket"))

  /** Candidate pairs against the store: each stored band row in buckets
    * `buckets` that matches a probe band of `bandsI` (band_id, band_hash,
    * id_in, ...), as (id_base, id_in, ...) — one row per colliding band.
    * The hot list comes from the census sidecar when it can answer the
    * asked cap (tiny broadcast, zero extra band-table scans); a store
    * without one — or a cap below the census floor — falls back to an
    * on-the-fly group count over the already-pruned slice (a (band_id,
    * band_hash) group lives entirely inside one bucket, so the slice's
    * group df IS the store-wide df). */
  private def candidates(spark: SparkSession, dir: String,
                         bandsI: DataFrame, buckets: Seq[Long],
                         maxBandDf: Int): DataFrame = {
    val storeBands = readBands(spark, dir)
    val slice0 = if (buckets.isEmpty) storeBands.limit(0)
                 else storeBands.filter(col("bucket").isin(buckets: _*))
    val slice = if (maxBandDf == Int.MaxValue) slice0 else {
      val censusP = new Path(s"$dir/hotbands")
      val hot =
        if (maxBandDf >= CensusMinDf && fsOf(spark, dir).exists(censusP))
          spark.read.parquet(censusP.toString)
            .filter(col("df") > maxBandDf)
        else slice0.groupBy("band_id", "band_hash")
          .agg(count(lit(1)).as("df")).filter(col("df") > maxBandDf)
      slice0.join(broadcast(hot.select("band_id", "band_hash")),
        Seq("band_id", "band_hash"), "left_anti")
    }
    slice.select(col("id").as("id_base"), col("band_id"), col("band_hash"))
      .join(broadcast(bandsI), Seq("band_id", "band_hash"))
      .drop("band_id", "band_hash")
  }

  /** The (probe, stored) candidate pairs of `sigsP` (id, sig) at
    * estimated Jaccard ≥ `threshold`, as (id_in, est_jaccard): the
    * candidates come from band buckets `buckets` and carry their probe
    * signature, so the verify is one scan of only their sig shards joined
    * to the broadcast pairs. `ready` takes the candidates, one row per
    * colliding band, before their shard list is collected: it pins them,
    * and makes them distinct where the caller counts pairs. */
  private def verified(spark: SparkSession, dir: String, sigsP: DataFrame,
                       numHashes: Int, bands: Int, threshold: Double,
                       buckets: Seq[Long], maxBandDf: Int,
                       ready: DataFrame => DataFrame): DataFrame = {
    val bandsI = Dedup.bandedSigs(sigsP, "id_in", numHashes, bands,
        keep = Seq("sig")).withColumnRenamed("sig", "sig_in")
    val cands = ready(candidates(spark, dir, bandsI, buckets, maxBandDf))
    val shards = ScreenEpoch.distinctLongs(
      cands.select(shardCol(col("id_base")))).toSeq // ≤ NumShards values
    val est = Dedup.estJaccard(col("sig_in"), col("sig"), numHashes)
    if (shards.isEmpty) cands.select(col("id_in"), lit(0.0).as("est_jaccard"))
      .limit(0)
    else readSigsRaw(spark, dir).filter(col("shard").isin(shards.sorted: _*))
      .join(broadcast(cands), col("id") === col("id_base"))
      .select(col("id_in"), est.as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** foreachBatch sink SCREENING each micro-batch against the store before
    * admitting: documents that are MinHash near-duplicates (estimated
    * Jaccard ≥ `threshold`) of anything already stored are dropped;
    * survivors' signatures stage-commit-publish and the surviving rows
    * (original columns) flow to `out`. Mount DOWNSTREAM of
    * [[FingerprintStore.dedupSink]]: the fp store kills byte-identical
    * re-deliveries cheaply, this screen catches the re-crawl that changed
    * one timestamp token.
    *
    * Per epoch the batch's text is hashed ONCE ([[Dedup.minHashSignatures]])
    * and that signature frame feeds the probe, the append, and nothing
    * else re-reads the text. The probe runs the [[probeStored]] pruned
    * path — colliding band buckets + candidate sig shards only, so
    * per-trigger cost tracks the batch's collision footprint, not store
    * age. Near-dups WITHIN one batch admit together (documented: the
    * screen compares batch vs store; intra-batch near-dup at micro-batch
    * size is the batch pipeline's job).
    *
    * Crash windows (all pinned in StreamingSpec): `out(survivors)` runs
    * BEFORE anything persists, and the epoch's sigs are invisible until
    * the marker commits — a replay from any pre-marker crash re-probes a
    * store without this epoch's sigs and recomputes identical survivors
    * (never a self-match); a post-marker crash replays as a heal that
    * finishes the publish. */
  def screenSink(spark: SparkSession, dir: String, idCol: String,
                 textCol: String, threshold: Double = 0.5,
                 numHashes: Int = 32, bands: Int = 8, shingleSize: Int = 3,
                 streamTag: String = "stream",
                 autoCompactEvery: Int = AutoCompact.DefaultCheckEvery,
                 autoCompactFactor: Int = AutoCompact.DefaultFactor,
                 maxBandDf: Int = Int.MaxValue)
                (out: DataFrame => Unit): (DataFrame, Long) => Unit = {
    val s = screen(spark, dir, idCol, textCol, threshold, numHashes, bands,
      shingleSize, streamTag, autoCompactEvery, autoCompactFactor, maxBandDf)
    ScreenEpoch.sink(s.commit, Seq(s))(out)
  }

  /** The near-dup layer of [[screenSink]] and the ingest door
    * ([[ScreenLayer]]), mounted on [[screenSink]]'s namespace of
    * `streamTag`: the batch gains its MinHash signature `__sig` (hashed
    * once per id), the [[probeStored]] pruned path flags ids with a stored
    * near-duplicate, and a passing id's signature and band rows stage into
    * the logs. After the commit the survivors' band counts fold into the
    * census (append-grown hot bands cappable before any compact), then the
    * auto-compact tick runs. */
  private[graft] def screen(spark: SparkSession, dir: String, idCol: String,
                            textCol: String, threshold: Double,
                            numHashes: Int = 32, bands: Int = 8,
                            shingleSize: Int = 3, streamTag: String,
                            autoCompactEvery: Int = AutoCompact.DefaultCheckEvery,
                            autoCompactFactor: Int = AutoCompact.DefaultFactor,
                            maxBandDf: Int = Int.MaxValue): ScreenLayer = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val own = screenCommit(dir, streamTag)
    Log.mount(spark, own)
    val auto = new AutoCompact(autoCompactEvery, autoCompactFactor)
    def sigsOf(rows: DataFrame): DataFrame =
      rows.select(col(idCol).as("id"), col("__sig").as("sig"))
        .filter(col("sig").isNotNull)
    new ScreenLayer {
      val commit: EpochLog.Commit = own
      val key: String = idCol
      def prepare(rows: DataFrame): DataFrame = {
        checkParams(fsOf(spark, dir), dir, numHashes, shingleSize, bands)
        val sigs = Dedup.minHashSignatures(rows, idCol, textCol, numHashes,
          shingleSize)
        rows.join(sigs.select(col("id").as(idCol), col("sig").as("__sig")),
            Seq(idCol), "left")
          .select(rows.columns.map(col) :+ col("__sig"): _*)
      }
      def keys(prep: DataFrame): DataFrame =
        bandBuckets(sigsOf(prep), numHashes, bands)
      def flagged(prep: DataFrame, buckets: Set[Long]): DataFrame =
        verified(spark, dir, sigsOf(prep), numHashes, bands, threshold,
            buckets.toSeq.sorted, maxBandDf, _.localCheckpoint())
          .select(col("id_in").as(idCol))
      def stage(passed: DataFrame, stage: Path, epoch: Long): () => Unit = {
        // one row per id, as the probe hashed them (one task: batch-sized)
        val sigs = sigsOf(passed).coalesce(1).dropDuplicates("id")
        writeStage(sigs, numHashes, bands, stage)
        writeParams(fsOf(spark, dir), dir, numHashes, shingleSize, bands)
        () => {
          mergeBandCensus(spark, dir,
            Dedup.bandedSigs(sigs, "id", numHashes, bands))
          autoTick(spark, dir, auto)
        }
      }
    }
  }

  // ----------------------------------------------------------- maintenance

  /** Compact the store: a long-lived appender/screen leaves one log file
    * per epoch and each fold one base file per touched partition; fold the
    * log, then rewrite each `sigs/shard=` and `bands/bucket=` partition
    * back to one file (the [[AnnIndex.compact]] disease, same cure). The
    * fold runs first under its own marker, so the swaps below only ever
    * replace the base — base and log never disagree at a crash point.
    * Each sub-table swaps in whole through [[TableSwap]]: build the
    * rewrite in a dot-temp while the live table still serves, move the old
    * table aside, publish, delete the aside; a crash between aside and
    * publish heals at the next call (or read) by restoring the aside.
    * Markers and staging dirs are untouched — epoch idempotence survives
    * compaction. Single-writer: run between epochs of a live sink, never
    * racing an in-flight one. */
  def compact(spark: SparkSession, dir: String): Unit = {
    Takedown.heal(spark, dir) // a crashed retract finishes before we rewrite
    Log.fold(spark, dir)
    compactTable(spark, dir, "sigs", "shard")
    compactTable(spark, dir, "bands", "bucket")
    writeBandCensus(spark, dir) // the census' periodic refresh point
  }

  private def compactTable(spark: SparkSession, dir: String, sub: String,
                           partCol: String): Unit = {
    val fs = fsOf(spark, dir) // the fold before it healed the aside
    if (!fs.exists(new Path(s"$dir/$sub"))) return
    // schema supplied: compacting a table a takedown emptied must rewrite
    // zero rows, not fail schema inference
    val schema = if (sub == "sigs") SigsSchema else BandsSchema
    TableSwap.rewrite(fs, dir, sub)(tmp =>
      spark.read.schema(schema).parquet(s"$dir/$sub")
        .repartition(col(partCol))
        .write.partitionBy(partCol).parquet(tmp.toString))
  }

  /** Takedown: drop the given doc ids' signatures AND band-index rows —
    * the store retains per-document derived content (MinHash sketches of
    * the text's shingle set), so a DMCA/GDPR removal must reach it (r13
    * verdict #3). Both sub-tables rewrite WITHOUT the ids' rows under the
    * staged [[Takedown]] protocol: the whole rewrite builds aside, a marker
    * commits, each table swaps in atomically and its aside (which still
    * held the retracted rows) is deleted — no crash point leaves the store
    * half-retracted without a heal path, and a re-crawl of the retracted
    * content is then correctly screened-in as NEW. Retraction is
    * compact-class maintenance: single-writer, between epochs, batch the
    * requests. Markers/staging of the sinks are untouched. */
  def retract(spark: SparkSession, dir: String, ids: Seq[Long]): Unit = {
    Takedown.heal(spark, dir)
    val fs = fsOf(spark, dir)
    TableSwap.heal(fs, dir, "sigs")  // a compact/retract crash residue
    TableSwap.heal(fs, dir, "bands") // heals before we rewrite
    if (ids.isEmpty) return
    if (!hasSigs(spark, dir)) return
    // the log folds first (its own marker), so the staged swap below
    // rewrites the WHOLE store and no retracted row survives in the log
    Log.fold(spark, dir)
    import spark.implicits._
    // takedown batches are request-sized by contract — broadcast the list
    val gone = ids.toDF("id")
    // The census swaps ATOMICALLY with the band rewrite (a third staged
    // sub-table under the same marker): a post-swap refresh would leave a
    // crash window in which the census still counts retracted rows — an
    // OVERCOUNT, which (unlike append staleness) can wrongly drop a group
    // whose real df is under the cap, losing recall until the next
    // compact. Computed from the staged bands rewrite, so the published
    // census is exact for the published index by construction.
    Takedown.runDynamic(spark, dir) { stage =>
      readSigsRaw(spark, dir)
        .join(broadcast(gone), Seq("id"), "left_anti")
        .repartition(col("shard"))
        .write.partitionBy("shard").parquet(s"$stage/sigs")
      if (Log.hasRows(fs, dir, "bands")) {
        readBands(spark, dir)
          .join(broadcast(gone), Seq("id"), "left_anti")
          .repartition(col("bucket"))
          .write.partitionBy("bucket").parquet(s"$stage/bands")
        spark.read.schema(BandsSchema).parquet(s"$stage/bands")
          .groupBy("band_id", "band_hash").agg(count(lit(1)).as("df"))
          .filter(col("df") > CensusMinDf)
          .coalesce(1).write.parquet(s"$stage/hotbands")
        Seq("sigs", "bands", "hotbands")
      } else Seq("sigs")
    }
  }

  /** Live base partition-dir count across both tables — the
    * [[AutoCompact]] bound's denominator: a healthy compacted store holds
    * ~1 file per partition dir, so `fileCount > k × partitionDirCount`
    * means ≈k appended files per partition. */
  def partitionDirCount(spark: SparkSession, dir: String): Int = {
    val fs = fsOf(spark, dir)
    Seq("sigs", "bands").map(Log.partitionDirCount(fs, dir, _)).sum
  }

  /** Data-file count across both tables, base and log (compaction
    * telemetry, the [[Pack.shardFileCount]] twin). [[autoTick]] folds
    * before it counts, so the bound is judged on the base alone. */
  def fileCount(spark: SparkSession, dir: String): Int = {
    val fs = fsOf(spark, dir)
    Seq("sigs", "bands").map(Log.fileCount(fs, dir, _)).sum
  }

  /** Build (or reuse) a persisted store for a static base corpus; returns
    * its dir — the [[AnnIndex.ivfIndexDir]] content-digest contract:
    * `corpusPath` keys the digest, the build is atomic (write aside +
    * rename), and every session sharing the cache root reuses one build.
    * This is how a batch delta query gets the "snapshot signatures are
    * computed once" shape without managing dirs itself. The digest carries
    * a layout-format token: stores built before the band index never
    * collide with (and silently miss probes against) the indexed layout. */
  def storeDir(base: DataFrame, corpusPath: String, idCol: String,
               textCol: String, numHashes: Int = 32, shingleSize: Int = 3,
               bands: Int = 8, variant: String = ""): String = {
    val spark = base.sparkSession
    val digest = AdaptCache.digestOf(Seq("sigstore_v2", corpusPath,
      AdaptCache.corpusToken(spark, corpusPath), idCol, textCol,
      numHashes.toString, shingleSize.toString, bands.toString, variant))
    val dir = new Path(AdaptCache.cacheRoot(spark), s"sig_store_$digest")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) AdaptCache.synchronized {
      if (!fs.exists(dir)) {
        val tmp = new Path(dir.getParent, s".sig_store_$digest.tmp")
        fs.delete(tmp, true)
        seed(base, idCol, textCol, tmp.toString, numHashes, shingleSize,
          bands)
        if (!fs.rename(tmp, dir)) fs.delete(tmp, true) // lost a race: reuse
      }
    }
    dir.toString
  }
}
