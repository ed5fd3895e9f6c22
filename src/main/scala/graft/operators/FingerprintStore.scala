package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  *    fps and its Bloom sidecar stage, the `_ingested_<tag>_epoch_<e>`
  *    marker (or the ingest door's own, [[graft.streaming.FrontDoor]])
  *    commits, then the staged files publish. A replayed epoch that finds its
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

  /** [[dedupSink]]'s epoch namespace: `_ingested_<tag>_epoch_<e>`; a
    * stage's `bloom` file publishes as the sidecar `bloom_<tag>_epoch_<e>`. */
  private[graft] def sinkCommit(dir: String, tag: String): EpochLog.Commit =
    EpochLog.commit(dir, "ingested", tag, Log.subs,
      files = Seq("bloom" -> s"bloom_${tag}_epoch_"))

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
      .withColumn("shard", shardOf(col("fp")))
      .distinct().localCheckpoint()
    // one file per touched shard (the repartition-before-partitioned-write
    // layout rule — without it each write task emits a file per shard)
    fps.repartition(col("shard"))
      .write.mode("append").partitionBy("shard").parquet(s"$dir/fps")
    val n = fps.count()
    if (n > 0) {
      val tag = s"seed_${java.util.UUID.randomUUID().toString.take(8)}"
      writeBloom(fs, new Path(s"$dir/bloom_$tag"),
        fps.stat.bloomFilter("fp", math.max(1024L, 2 * n), 0.01))
    }
  }

  private def writeBloom(fs: org.apache.hadoop.fs.FileSystem, p: Path,
                         bf: BloomFilter): Unit = {
    val out = fs.create(p, true)
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
  private def bloomProbe(bc: Broadcast[Array[BloomFilter]]) =
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
      fpCol(textCol).as("__fp")).localCheckpoint()
    if (!Log.hasRows(fsOf(spark, dir), dir, "fps"))
      return keyed.select("id").limit(0)
    val cands = bloomCands(
        spark.sparkContext.broadcast(loadBlooms(spark, dir).toArray), keyed)
      .distinct().localCheckpoint()
    val shards = ScreenEpoch.distinctLongs(cands.select(shardOf(col("__fp"))))
    keyed.join(broadcast(storedFps(spark, dir, cands, shards)), Seq("__fp"),
      "left_semi").select("id")
  }

  private def shardOf(fp: Column): Column = pmod(fp, lit(NumShards))

  /** The Bloom candidates among `fps` (column `__fp`): the possible hits
    * of sidecar list `bc`; definite-new rows never touch disk. */
  private def bloomCands(bc: Broadcast[Array[BloomFilter]],
                         fps: DataFrame): DataFrame =
    if (bc.value.isEmpty) fps.select("__fp").limit(0)
    else fps.select("__fp").filter(bloomProbe(bc)(col("__fp")))

  /** The fps of `cands` (column `__fp`) the store holds, reading only
    * shards `shards` (static partition filter):
    *   store (shard-pruned scan)  LEFT SEMI  broadcast(candidates)
    * and the caller masks with the broadcast result. No batch-sized literal
    * reaches a plan (an `isin` over the batch's fingerprints grew an
    * expression tree and its generated code with the batch). */
  private def storedFps(spark: SparkSession, dir: String, cands: DataFrame,
                        shards: Set[Long]): DataFrame =
    if (shards.isEmpty) cands.select("__fp").limit(0)
    else read(spark, dir).filter(col("shard").isin(shards.toSeq.sorted: _*))
      .join(broadcast(cands.select(col("__fp").as("fp"))), Seq("fp"),
        "left_semi")
      .select(col("fp").as("__fp"))

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
    writeBloom(fs, new Path(
      s"$dir/bloom_compact_${java.util.UUID.randomUUID().toString.take(8)}"),
      bloom)
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
    * with their original columns, id first.
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
    val s = screen(spark, dir, idCol, textCol, streamTag, autoCompactEvery,
      autoCompactFactor)
    ScreenEpoch.sink(s.commit, Seq(s))(out)
  }

  /** The exact-dup layer of [[dedupSink]] and the ingest door
    * ([[ScreenLayer]]), mounted on [[dedupSink]]'s namespace of
    * `streamTag`. The batch keeps one row per distinct text (min id;
    * byte-identical re-delivered rows, which share the id too, keep one),
    * keyed by its fingerprint `__fp`; the probe is [[probeTexts]]'s Bloom
    * screen and shard-pruned verify.
    *
    * A passing row's fingerprint stages into the log with the epoch's
    * Bloom sidecar, built on the driver from the passing fingerprints (one
    * batch-sized collect; the filter the `bloomFilter` aggregate builds).
    * The Bloom list is loaded once per mount, BROADCAST to executors (a
    * closure-captured filter would re-serialize with every task), and
    * re-broadcast as soon as an epoch stages a sidecar, before the marker:
    * an epoch that then never commits only leaves a filter that costs
    * false positives, while a list missing a committed epoch's filter would
    * wave its duplicates through. */
  private[graft] def screen(spark: SparkSession, dir: String, idCol: String,
                            textCol: String, streamTag: String,
                            autoCompactEvery: Int = AutoCompact.DefaultCheckEvery,
                            autoCompactFactor: Int = AutoCompact.DefaultFactor):
      ScreenLayer = {
    val own = sinkCommit(dir, streamTag)
    val fs = Log.mount(spark, own)
    val sc = spark.sparkContext
    var blooms: Seq[BloomFilter] = loadBlooms(spark, dir)
    var bloomBc = sc.broadcast(blooms.toArray)
    def swap(next: Seq[BloomFilter]): Unit = {
      blooms = next
      val old = bloomBc
      bloomBc = sc.broadcast(blooms.toArray)
      old.unpersist()
    }
    // auto-compaction keys on the Bloom-sidecar count here: every committed
    // non-empty epoch adds one sidecar, each costs a probe per lookup, and
    // compact() merges them to one (the base's fold files are rewritten in
    // the same pass) — so sidecars, not fps files, are this store's growth
    // telemetry. The log folds at every cadence boundary regardless.
    val auto = new AutoCompact(autoCompactEvery, autoCompactFactor)
    new ScreenLayer {
      val commit: EpochLog.Commit = own
      val key = "__fp"
      def prepare(rows: DataFrame): DataFrame = {
        // one aggregate: per text, the row with the least (non-null) id
        val cols = idCol +: rows.columns.filterNot(_ == idCol).toSeq
        rows.groupBy(fpCol(textCol).as("__fp"))
          .agg(min_by(struct(cols.map(c => col(s"`$c`")): _*), col(idCol))
            .as("__r"))
          .filter(col("__r").isNotNull)
          .select(col("__fp") +: cols.map(c => col("__r").getField(c).as(c)): _*)
      }
      def keys(prep: DataFrame): DataFrame =
        bloomCands(bloomBc, prep).select(shardOf(col("__fp")))
      def flagged(prep: DataFrame, shards: Set[Long]): DataFrame =
        storedFps(spark, dir, bloomCands(bloomBc, prep), shards)
      def stage(passed: DataFrame, stage: Path, epoch: Long): () => Unit = {
        val fps = passed.select("__fp").collect().map(_.getLong(0))
        if (fps.nonEmpty) {
          Log.stage(passed.select(col("__fp").as("fp"),
            shardOf(col("__fp")).as("shard")), stage, "fps")
          val bloom = BloomFilter.create(math.max(1024L, 2L * fps.length), 0.01)
          fps.foreach(bloom.putLong)
          writeBloom(fs, new Path(stage, "bloom"), bloom)
          swap(blooms :+ bloom)
        }
        () => auto.tick(bloomCount(spark, dir), 1, Log.fold(spark, dir)) {
          compact(spark, dir)
          // the store's content is unchanged but its sidecars merged: swap
          // the in-memory list for the merged one (holding the old
          // per-epoch filters would be correct but never reclaim memory)
          swap(loadBlooms(spark, dir))
        }
      }
    }
  }
}
