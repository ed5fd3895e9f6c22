package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Persisted exact-dedup fingerprint store for streaming ingest: drop every
  * document whose text was EVER seen before — in corpus history, not just
  * inside the stream's watermark (which is all
  * [[graft.streaming.StreamOps.dedupWithinWatermark]] can promise). The
  * continuous-crawl shape: yesterday's 100 TB corpus is history, today's
  * micro-batches must not re-admit its documents.
  *
  * Layout: 64-bit text fingerprints with their `shard` (the fingerprint's
  * low byte) as an [[EpochLog]] table — a base `fps/shard=K/` written by
  * seed, fold, compact and retract, plus a flat `fps_log/` holding one
  * parquet file per committed ingest epoch — and one Bloom-filter sidecar
  * per seed or epoch. The log exists for the per-file cost: an epoch's
  * survivors touch one shard each, so a partitioned append wrote one file
  * (plus its dirs, each a forked `chmod` on a local FS without native
  * Hadoop IO) per survivor; one log file per epoch tracks the batch. Every
  * read is base ∪ log ([[read]]); [[AutoCompact]]'s cadence folds the log
  * into the base.
  *
  * Scale design — the point is what each micro-batch does NOT do:
  *  - No full-store join. The per-seed/per-epoch Bloom filters (each sized
  *    to its own insert count, ~1.2 GB per 10⁹ keys at 1% FPP in total,
  *    loaded once per sink and broadcast to executors) screen the batch
  *    first; only possible-hits go to disk verification.
  *  - Verification reads ONLY the store shards that contain a candidate —
  *    `shard IN (...)` is a static partition filter over the candidates'
  *    low bytes (a handful of base dirs for a small candidate set, a
  *    row-group filter on the few log files), pinned by the same
  *    partition-pruning contract as [[AnnIndex]].
  *  - Survivors append as ONE new log file per epoch; nothing is
  *    rewritten between folds. A fold (every `autoCompactEvery` epochs)
  *    moves the log into the base and deletes the folded log files, so a
  *    reader beside the live sink ([[probeTexts]], FrontDoor.probe) must
  *    collect its result within one fold window: a plan listed before a
  *    fold and run after it fails on a missing file — retry it.
  *  - Idempotent under foreachBatch at-least-once re-delivery: the epoch's
  *    fps stage, the `_ingested_<tag>_epoch_<e>` marker commits, then the
  *    staged file publishes into the log. A replayed epoch that finds its
  *    marker is skipped (its fps are already stored — replaying would drop
  *    the whole batch as "dup" AND double-append fingerprints); a crash
  *    before the marker discards the stage and the epoch replays whole
  *    against a store without its own fps.
  */
object FingerprintStore {

  private val NumShards = 256

  /** The fps table's FIXED schema, supplied on every read: a takedown can
    * retract the store's every fingerprint, and an empty partitioned table
    * (no data files) must read as zero rows, not fail schema inference. */
  private val FpsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("fp", LongType), StructField("shard", LongType)))
  }

  private val Log = new EpochLog(Seq(EpochLog.Table("fps", "shard", FpsSchema)))

  /** [[dedupSink]]'s epoch namespace: `_ingested_<tag>_epoch_<e>`. */
  private def sinkCommit(dir: String, tag: String): EpochLog.Commit =
    EpochLog.commit(dir, "ingested", tag, Log.subs)

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The stored fingerprints, (fp, shard): base ∪ log. Heals a crashed
    * compact's aside and finishes a committed fold first, so a reader never
    * sees a silently empty table or a folded row twice. Empty store → zero
    * rows. */
  def read(spark: SparkSession, dir: String): DataFrame =
    Log.readHealed(spark, dir, "fps")

  /** Fingerprint = xxhash64 of the raw text (the [[Dedup.fingerprint]]
    * exact-dup key); shard = its low byte. */
  private def fpCol(textCol: String) = xxhash64(col(textCol))

  /** Seed (or extend) a store from a static corpus — the "yesterday's
    * corpus" bulk load. One narrow projection + sharded write; the corpus
    * is scanned once (checkpointed before its two consumers). Each seed
    * call writes its own uniquely-named Bloom sidecar sized to its own
    * fingerprint count, so repeated seeds extend the screen instead of
    * overwriting it. */
  def seed(docs: DataFrame, textCol: String, dir: String): Unit = {
    val spark = docs.sparkSession
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fps = docs.select(fpCol(textCol).as("fp"))
      .withColumn("shard", pmod(col("fp"), lit(NumShards)))
      .distinct().localCheckpoint()
    // one file per touched shard (the repartition-before-partitioned-write
    // layout rule — without it each write task emits a file per shard)
    fps.repartition(col("shard"))
      .write.mode("append").partitionBy("shard").parquet(s"$dir/fps")
    val n = fps.count()
    if (n > 0) {
      val tag = s"seed_${java.util.UUID.randomUUID().toString.take(8)}"
      writeBloom(fs, dir, tag,
        fps.stat.bloomFilter("fp", math.max(1024L, 2 * n), 0.01))
    }
  }

  private def writeBloom(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                         tag: String, bf: BloomFilter): Unit = {
    val out = fs.create(new Path(s"$dir/bloom_$tag"), true)
    try bf.writeTo(out) finally out.close()
  }

  /** All persisted Bloom sidecars, one filter per seed/epoch. Kept as a
    * LIST (a lookup checks each): Spark Bloom filters only merge at equal
    * bit size, and each sidecar is sized to its own insert count — merging
    * would force one global capacity and re-create the saturation problem
    * sizing solves. Long-lived stores with many epochs compact by
    * re-seeding into a fresh dir. */
  private def loadBlooms(spark: SparkSession, dir: String): Seq[BloomFilter] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("bloom_"))
      .map { p =>
        val in = fs.open(p)
        try BloomFilter.readFrom(in) finally in.close()
      }.toSeq
  }

  /** The ONE sanctioned udf in the engine: Bloom membership over a
    * broadcast sidecar list has no native-expression equivalent (the
    * filters are opaque sketch objects). Shared by the ingest screen and
    * the [[Fsck]] audit so the probe semantics can never diverge. */
  private def bloomProbe(bc: org.apache.spark.broadcast.Broadcast[Array[BloomFilter]]) =
    udf((fp: Long) => bc.value.exists(_.mightContainLong(fp)))

  /** Audit view for [[Fsck]]: stored fingerprints NO Bloom sidecar claims.
    * Such rows are screen FALSE NEGATIVES — the ingest sink's Bloom pass
    * would wave their duplicates through to disk verification that never
    * triggers, re-admitting known content. A consistent store has zero
    * (Bloom filters have no false-negative side); a lost/partial sidecar
    * (or fps rows appended outside the sink protocol) shows up here.
    * Read-only; one broadcast probe per stored row. */
  private[operators] def bloomMisses(spark: SparkSession,
                                     dir: String): DataFrame = {
    val fps = Log.read(spark, dir, "fps") // no heal: the audit mutates nothing
    val bc = spark.sparkContext.broadcast(loadBlooms(spark, dir).toArray)
    fps.filter(!bloomProbe(bc)(col("fp"))).select("fp")
  }

  /** READ-ONLY membership probe: ids of `docs` whose text fingerprint is
    * already stored — the ingest screen's exact-dup question answered
    * without the writer lock, an append, or a marker (dry-run pre-flight,
    * dashboards, the [[graft.streaming.FrontDoor.probe]] read path). Same
    * pipeline as the sink: Bloom screen first (definite-new rows never
    * touch disk), then candidate verification against ONLY the candidate
    * shards (static partition filter). Empty store → empty result. */
  def probeTexts(spark: SparkSession, dir: String, docs: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    val keyed = docs.select(col(idCol).cast("long").as("id"),
      fpCol(textCol).as("fp")).localCheckpoint()
    if (!Log.hasRows(fsOf(spark, dir), dir, "fps"))
      return keyed.select("id").limit(0)
    val bc = spark.sparkContext.broadcast(loadBlooms(spark, dir).toArray)
    val cand = keyed.filter(bloomProbe(bc)(col("fp")))
      .select("fp").distinct()
      .withColumn("shard", pmod(col("fp"), lit(NumShards)))
      .localCheckpoint()
    val shards = cand.select("shard").distinct() // ≤ NumShards rows
      .collect().map(_.getLong(0)).toSeq
    if (shards.isEmpty) return keyed.select("id").limit(0)
    val confirmed = read(spark, dir)
      .filter(col("shard").isin(shards: _*))
      .join(broadcast(cand.select("fp")), Seq("fp"), "left_semi")
    keyed.join(broadcast(confirmed.select("fp")), Seq("fp"), "left_semi")
      .select("id")
  }

  /** Compact a long-lived store in place: fold the per-epoch Bloom sidecars
    * into ONE filter sized to the store's true distinct count, fold the
    * log into the base, and rewrite the base one file per shard (each fold
    * adds a file per touched shard — after 10⁴ epochs the screen is 10⁴
    * filter probes per lookup and the verify scan is file-opens, not bytes;
    * same disease [[AnnIndex.compact]] cures for inverted lists).
    *
    * Crash ordering: the merged Bloom publishes BEFORE the old sidecars are
    * deleted — at every instant the union of on-disk filters covers every
    * stored fingerprint (extra filters only cost false positives, which the
    * disk verify absorbs; a coverage GAP would let true dups through
    * unverified). The fps rewrite then swaps in through [[TableSwap]]
    * (aside, publish, heal on read), after the log has folded under its own
    * marker (so the swap only ever replaces the base: no crash point can
    * resurrect or double a logged row). Single-writer: run while no sink
    * is active, like the index compactor; epoch markers are untouched. */
  def compact(spark: SparkSession, dir: String): Unit =
    rewriteFps(spark, dir, exclude = None)

  private def rewriteFps(spark: SparkSession, dir: String,
                         exclude: Option[DataFrame]): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fpsDir = new Path(s"$dir/fps")
    Log.fold(spark, dir)
    if (!fs.exists(fpsDir)) return
    val kept0 = spark.read.schema(FpsSchema).parquet(fpsDir.toString)
      .select("fp", "shard").distinct()
    val fps = exclude.fold(kept0)(gone =>
        kept0.join(broadcast(gone.select("fp")), Seq("fp"), "left_anti"))
      .repartition(col("shard")).localCheckpoint()
    val n = fps.count()
    val oldBlooms = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("bloom_")).toSeq
    // n == 0 (a takedown retracted the store's every fingerprint — a small
    // shard of a sharded door hits this routinely): Spark's bloomFilter
    // aggregate over zero rows yields a null buffer, so build the empty
    // filter directly — the screen then correctly rejects nothing
    val bloom =
      if (n == 0L) BloomFilter.create(1024L, 0.01)
      else fps.stat.bloomFilter("fp", math.max(1024L, 2 * n), 0.01)
    writeBloom(fs, dir,
      s"compact_${java.util.UUID.randomUUID().toString.take(8)}", bloom)
    oldBlooms.foreach(fs.delete(_, false))
    TableSwap.rewrite(fs, dir, "fps")(tmp =>
      fps.write.partitionBy("shard").parquet(tmp.toString))
  }

  /** Takedown: remove the given texts' fingerprints from the store — the
    * content-removal request (DMCA/GDPR shape) a long-lived crawl store
    * must honor. Implemented as [[compact]] with an exclusion list: the
    * whole-table rewrite runs under the SAME [[TableSwap]]
    * (one atomic swap — no window where a partially-drained table admits
    * dups), the merged Bloom is rebuilt WITHOUT the retracted fps first
    * (publish-before-delete, the compact coverage rule), and a re-crawl of
    * the retracted content is then correctly admitted as NEW and re-stored.
    * Retraction is compact-class maintenance: batch takedown requests and
    * run between epochs under the single-writer contract — at store scale
    * the rewrite amortizes over the batch exactly like a compaction. */
  def retract(spark: SparkSession, dir: String, docs: DataFrame,
              textCol: String): Unit = {
    val gone = docs.select(fpCol(textCol).as("fp")).distinct().localCheckpoint()
    if (gone.isEmpty) return
    rewriteFps(spark, dir, exclude = Some(gone))
  }

  /** Bloom-sidecar count (compaction telemetry: the screen costs one probe
    * per sidecar per lookup). */
  def bloomCount(spark: SparkSession, dir: String): Int = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) 0
    else fs.listStatus(root).count(_.getPath.getName.startsWith("bloom_"))
  }

  /** foreachBatch sink: pass each micro-batch's never-seen-before documents
    * to `out` (at most one survivor per distinct text, min id wins) and
    * record their fingerprints. `out` receives the batch's surviving rows
    * with their original columns.
    *
    * `streamTag` scopes the idempotence markers to one logical stream:
    * epoch ids restart at 0 for every NEW query, so a fresh stream over the
    * same store must carry a fresh tag (a checkpoint-restarted query keeps
    * both its epoch numbering and its tag, which is exactly when the marker
    * must suppress the replay). */
  def dedupSink(spark: SparkSession, dir: String, idCol: String,
                textCol: String, streamTag: String = "stream",
                autoCompactEvery: Int = AutoCompact.DefaultCheckEvery,
                autoCompactFactor: Int = AutoCompact.DefaultFactor)
               (out: DataFrame => Unit): (DataFrame, Long) => Unit = {
    graft.Tuning.mountDefaults(spark) // the store reads list on the driver
    // A restarted sink finishes (or discards) what a crash left staged
    // before it reads anything: committed epochs publish into the log, a
    // committed fold completes.
    val fs0 = fsOf(spark, dir)
    val commit = sinkCommit(dir, streamTag)
    commit.heal(fs0)
    Log.healFold(fs0, dir)
    // The Bloom list is loaded once per sink start, BROADCAST to executors
    // (a closure-captured filter would re-serialize with every task), and
    // re-broadcast only when an epoch extends it.
    val sc = spark.sparkContext
    var blooms: Seq[BloomFilter] = loadBlooms(spark, dir)
    var bloomBc = sc.broadcast(blooms.toArray)
    // auto-compaction keys on the Bloom-sidecar count here: every committed
    // non-empty epoch adds one sidecar, each costs a probe per lookup, and
    // compact() merges them to one (the base's fold files are rewritten in
    // the same pass) — so sidecars, not fps files, are this store's growth
    // telemetry. The log folds at every cadence boundary regardless.
    val auto = new AutoCompact(autoCompactEvery, autoCompactFactor)
    (batch: DataFrame, epoch: Long) => {
      val fs = fsOf(batch.sparkSession, dir)
      commit.run(fs, batch, epoch) { stage =>
        // one survivor per distinct text within the batch (min id; the
        // dropDuplicates guards against byte-identical re-delivered rows,
        // which the min-id join alone would emit twice)
        val keyed = batch.withColumn("__fp", fpCol(textCol))
        val firsts = keyed.groupBy("__fp").agg(min(col(idCol)).as(idCol))
          .join(keyed, Seq("__fp", idCol)) // tiny: batch-sized
          .dropDuplicates("__fp")
          .localCheckpoint()
        // Bloom screen: definite-new rows skip disk entirely. The disk
        // verify is a join pipeline:
        //   store (shard-pruned scan)  LEFT SEMI  broadcast(candidates)
        //   firsts                     LEFT ANTI  broadcast(confirmed)
        // What this buys on a mostly-duplicate replay (backlog re-delivery,
        // the crash-recovery shape): NO batch-sized literal expression ever
        // reaches the plan — the r8 isin shape grew an expression tree /
        // generated code with the batch. The driver still holds the compact
        // broadcast relations (8-byte fps of candidates / confirmed — the
        // usual driver residency of any broadcast build side), and the only
        // COLLECT is the distinct shard list, bounded by NumShards (256).
        // The store side streams just its candidate shards.
        val bc = bloomBc
        val candidates =
          if (bc.value.isEmpty) firsts.select("__fp").limit(0)
          else
            firsts.select("__fp").filter(bloomProbe(bc)(col("__fp")))
        val cand = candidates
          .select(col("__fp").as("fp"),
            pmod(col("__fp"), lit(NumShards)).as("shard"))
          .localCheckpoint()
        val shards = cand.select("shard").distinct() // ≤ NumShards rows
          .collect().map(_.getLong(0)).toSeq
        // verify candidates against ONLY their shards (static partition
        // filter); the semi-join keeps one store row per confirmed dup
        val confirmed: DataFrame =
          if (shards.isEmpty) cand.select("fp")
          else read(spark, dir)
            .filter(col("shard").isin(shards: _*))
            .join(broadcast(cand.select("fp")), Seq("fp"), "left_semi")
        val survivors = firsts
          .join(broadcast(confirmed.select(col("fp").as("__fp"))),
            Seq("__fp"), "left_anti")
          .localCheckpoint()
        out(survivors.drop("__fp"))
        val newFps = survivors
          .select(col("__fp").as("fp"),
            pmod(col("__fp"), lit(NumShards)).as("shard"))
        val n = survivors.count()
        if (n > 0) {
          // stage the epoch's fps as one file (invisible until published)
          // and write its Bloom sidecar, both before the marker: a replay
          // of an uncommitted epoch overwrites the sidecar, and until then
          // the extra filter only costs false positives
          Log.stage(newFps, stage, "fps")
          val epochBloom = newFps.stat.bloomFilter("fp",
            math.max(1024L, 2 * n), 0.01)
          writeBloom(fs, dir, s"${streamTag}_epoch_$epoch", epochBloom)
          blooms = blooms :+ epochBloom
          val old = bloomBc
          bloomBc = sc.broadcast(blooms.toArray)
          old.unpersist()
        }
      } { _ =>
        // epoch fully committed: the between-epochs single-writer window
        auto.tick(bloomCount(spark, dir), 1, Log.fold(spark, dir)) {
          compact(spark, dir)
          // the store's content is unchanged but its sidecars merged: swap
          // the in-memory list for the merged one (holding the old
          // per-epoch filters would be correct but never reclaim memory)
          blooms = loadBlooms(spark, dir)
          val old = bloomBc
          bloomBc = sc.broadcast(blooms.toArray)
          old.unpersist()
        }
      }
    }
  }
}
