package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: assign documents to fixed-token-budget training blocks
  * (the concatenate-and-chunk packing LLM pre-training pipelines run before
  * batching — docs concatenate in corpus order, the token stream chunks into
  * `budget`-sized blocks, and a doc belongs to the block holding its first
  * token).
  *
  * Scale design: the global token cumsum is composed per partition like
  * [[ZipIndex]] — `repartitionByRange(order)` gives a total order across
  * range partitions, a window PARTITIONED BY the physical partition id
  * computes intra-partition cumsums in parallel (never a global
  * single-partition window), per-partition totals (numPartitions rows,
  * model-sized) collect to the driver for prefix offsets, and a broadcast
  * join composes the global position. [SQL oracle: a window cumsum]. */
object Pack {

  /** Per-doc packing assignment: (orderCol, tokCol untouched) +
    * `bin_id` = block index of the doc's first token (0-based) and
    * `bin_offset` = position of that token inside the block.
    *
    * @param orderCol unique corpus order key (doc id)
    * @param tokCol   per-doc token count
    */
  def packByBudget(docs: DataFrame, orderCol: String, tokCol: String,
                   budget: Long, startTok: Long = 0L): DataFrame = {
    require(budget > 0)
    val spark = docs.sparkSession
    // Freeze the range layout: spark_partition_id is physical, and BOTH
    // branches below (per-partition totals + intra-partition cumsum) must
    // see the same pid assignment.
    val sorted = docs.select(col(orderCol).as("ord"),
        col(tokCol).cast("long").as("n_tokens"))
      .repartitionByRange(col("ord")).sortWithinPartitions("ord")
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    // Prefix offsets per partition: numPartitions rows — model-sized by
    // contract (same job shape as ZipIndex's per-partition count pass).
    val totals = sorted.groupBy("pid").agg(sum("n_tokens").as("ptot"))
      .orderBy("pid").collect()
    var acc = 0L
    val offs = totals.map { r =>
      val row = (r.getInt(0), acc); acc += r.getLong(1); row
    }.toSeq
    import spark.implicits._
    val offDf = offs.toDF("pid", "poff")
    // Intra-partition cumsum: the window is PARTITIONED (by pid) — every
    // range partition ranks in parallel; no global-order window anywhere.
    val w = Window.partitionBy("pid").orderBy("ord")
      .rowsBetween(Window.unboundedPreceding, 0)
    sorted
      .withColumn("cum", sum("n_tokens").over(w))
      .join(broadcast(offDf), Seq("pid"))
      .select(col("ord").as(orderCol), col("n_tokens"),
        (lit(startTok) + col("poff") + col("cum") - col("n_tokens"))
          .as("first_tok"))
      .select(col(orderCol), col("n_tokens"),
        expr(s"first_tok DIV $budget").as("bin_id"),
        pmod(col("first_tok"), lit(budget)).as("bin_offset"))
  }

  /** Keyed packing: every `keyCol` group is an INDEPENDENT concatenation
    * stream packed into its own `budget`-sized blocks — the length-bucketed
    * batching trick (group similar-length docs, pack within the group) that
    * bounds per-batch padding waste when a trainer pads to the block max.
    *
    * Same scale shape as [[packByBudget]], generalized: range-partition on
    * (key, order) so each group's stream is contiguous across partitions,
    * cumsum in parallel per physical partition, and compose with per-
    * (key, partition) prefix offsets — the driver sees ≤ |keys|·partitions
    * rows (model-sized by contract: length bucketing uses a handful of
    * keys), never the corpus. The contract is ENFORCED: more than `maxKeys`
    * distinct keys fails loudly before anything collects (the Tsne
    * sample-limit / Bpe maxWords discipline) — a high-cardinality key here
    * means the caller wanted a per-group [[packByBudget]], not a collect of
    * |keys|·partitions offset rows. [SQL oracle: a key-partitioned window
    * cumsum]. */
  def packByBudgetKeyed(docs: DataFrame, keyCol: String, orderCol: String,
                        tokCol: String, budget: Long,
                        maxKeys: Int = 1024): DataFrame = {
    require(budget > 0)
    val spark = docs.sparkSession
    val sorted = docs.select(col(keyCol).as("key"), col(orderCol).as("ord"),
        col(tokCol).cast("long").as("n_tokens"))
      .repartitionByRange(col("key"), col("ord"))
      .sortWithinPartitions("key", "ord")
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    // per-(key, partition) totals — |keys| × numPartitions rows. The key-
    // cardinality contract is enforced on the COLLECT itself (the KeyedRank
    // bounded-collect discipline): `limit(cap + 1)` bounds driver memory
    // even against a corpus-cardinality key, and the loud require below
    // fires before anything downstream consumes a truncated table. This
    // replaces the r17 shape's separate distinct().count() gate — one fewer
    // full pass + scheduler round-trip per pack (guide §5).
    val numParts = sorted.rdd.getNumPartitions
    val cap = maxKeys.toLong * math.max(numParts, 1)
    val capInt = math.min(cap, Int.MaxValue - 1L).toInt
    val totalsRaw = sorted.groupBy("key", "pid")
      .agg(sum("n_tokens").as("ptot"))
      .limit(capInt + 1).collect()
    require(totalsRaw.length <= capInt,
      s"packByBudgetKeyed: over $capInt ('$keyCol', partition) offset rows " +
        s"(maxKeys=$maxKeys × $numParts partitions) — the offset collect is " +
        "model-sized only for bucket-grade keys; pack per group or raise " +
        "maxKeys deliberately")
    val nKeys = totalsRaw.iterator.map(_.get(0)).toSet.size
    require(nKeys <= maxKeys,
      s"packByBudgetKeyed: $nKeys distinct '$keyCol' keys exceed maxKeys=" +
        s"$maxKeys — the per-(key, partition) offset collect is model-sized " +
        "only for bucket-grade keys; pack per group or raise maxKeys deliberately")
    val totals = totalsRaw.sortWith { (a, b) =>
      val ka = a.get(0); val kb = b.get(0)
      val kc = (ka, kb) match {
        case (null, null) => 0
        case (null, _)    => -1
        case (_, null)    => 1
        case (x: Comparable[_], y) =>
          x.asInstanceOf[Comparable[Any]].compareTo(y)
        case (x, y) => x.toString.compareTo(y.toString)
      }
      if (kc != 0) kc < 0 else a.getInt(1) < b.getInt(1)
    }
    val offs = scala.collection.mutable.ArrayBuffer[(Any, Int, Long)]()
    var curKey: Any = null
    var acc = 0L
    totals.foreach { r =>
      val k = r.get(0)
      if (k != curKey) { curKey = k; acc = 0L }
      offs += ((k, r.getInt(1), acc))
      acc += r.getLong(2)
    }
    import spark.implicits._
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offs.toSeq.map(t =>
        org.apache.spark.sql.Row(t._1, t._2, t._3)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        sorted.schema("key"),
        org.apache.spark.sql.types.StructField("pid",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("poff",
          org.apache.spark.sql.types.LongType))))
    val w = Window.partitionBy("key", "pid").orderBy("ord")
      .rowsBetween(Window.unboundedPreceding, 0)
    sorted
      .withColumn("cum", sum("n_tokens").over(w))
      .join(broadcast(offDf), Seq("key", "pid"))
      .select(col("key").as(keyCol), col("ord").as(orderCol), col("n_tokens"),
        (col("poff") + col("cum") - col("n_tokens")).as("first_tok"))
      .select(col(keyCol), col(orderCol), col("n_tokens"),
        expr(s"first_tok DIV $budget").as("bin_id"),
        pmod(col("first_tok"), lit(budget)).as("bin_offset"))
  }

  /** Export packed training shards: the docs (payload columns intact) land
    * under `shard=K/` dirs of `binsPerShard` consecutive blocks each, sorted
    * by (bin_id, bin_offset) inside every file — so a trainer streams one
    * shard dir sequentially and sees its blocks' docs in concatenation
    * order. The write is one range shuffle on (shard, bin_id): each task
    * emits whole shards, files never interleave shards, and shard count
    * scales with the corpus while each dir stays trainer-loadable. */
  def writeShards(docs: DataFrame, orderCol: String, tokCol: String,
                  budget: Long, binsPerShard: Long, dir: String): Unit = {
    require(binsPerShard > 0)
    val packed = packByBudget(docs, orderCol, tokCol, budget)
      .select(col(orderCol), col("bin_id"), col("bin_offset"))
      .join(docs, Seq(orderCol))
    packed
      .withColumn("shard", expr(s"bin_id DIV $binsPerShard"))
      .repartitionByRange(col("shard"), col("bin_id"), col("bin_offset"))
      .sortWithinPartitions("shard", "bin_id", "bin_offset")
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
    // seed the token-stream state so a shardAppender can CONTINUE the
    // global token stream where this bulk export ended
    val spark = docs.sparkSession
    val total = docs.agg(sum(col(tokCol).cast("long"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r                  => r.getLong(0)
    }
    writeTokenMarker(spark, dir, "_packed_seed", total)
    // the packing geometry is part of the store: appender and retract reads
    // check it loudly (the other stores' `_params` token discipline)
    writeParams(spark, dir, budget, binsPerShard)
  }

  private val ParamsName = "_pack_params"

  private def writeParams(spark: SparkSession, dir: String, budget: Long,
                          binsPerShard: Long): Unit = {
    val p = new Path(s"$dir/$ParamsName")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"budget=$budget,bins_per_shard=$binsPerShard"
      .getBytes("UTF-8")) finally out.close()
  }

  /** Check the caller's packing geometry against the store's `_pack_params`
    * token — a mismatched budget would silently interleave two incompatible
    * token streams. Seeds the token on a pre-params store (bulk exports
    * written before the token existed). */
  private def checkOrSeedParams(spark: SparkSession, dir: String,
                                budget: Long, binsPerShard: Long): Unit = {
    val p = new Path(s"$dir/$ParamsName")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(dir))) return
    val want = s"budget=$budget,bins_per_shard=$binsPerShard"
    if (fs.exists(p)) {
      val in = fs.open(p)
      val got = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      require(got == want,
        s"Pack store $dir was packed with '$got' but the caller passed " +
          s"'$want' — mixed packing geometry corrupts the token stream")
    } else writeParams(spark, dir, budget, binsPerShard)
  }

  private def writeTokenMarker(spark: SparkSession, dir: String,
                               name: String, total: Long): Unit = {
    val p = new Path(s"$dir/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(total.toString.getBytes("UTF-8")) finally out.close()
  }

  /** RAW token coordinate recorded by the store's markers (the post-epoch
    * counts [[writeShards]] seeds and [[shardAppender]] advances): the MAX
    * across markers is where the raw stream currently ends. The raw axis is
    * APPEND-ONLY — [[retractDocs]] never rewrites a marker; it records the
    * cumulative leftward shift separately ([[retractShiftDelta]]) so the
    * max over markers stays monotone across retractions and appends. */
  private def rawTokenMax(spark: SparkSession, dir: String): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0L
    fs.listStatus(root).filter(_.getPath.getName.startsWith("_packed_"))
      .map { st =>
        val in = fs.open(st.getPath)
        try {
          val buf = new Array[Byte](64)
          val n = in.read(buf)
          if (n <= 0) 0L else new String(buf, 0, n, "UTF-8").trim.toLong
        } finally in.close()
      }.foldLeft(0L)(math.max)
  }

  private val RetractMetaName = "_retract_meta"

  /** Cumulative tokens removed by [[retractDocs]] repacks: the stored bins'
    * EFFECTIVE stream end is [[rawTokenMax]] minus this delta. Lives in its
    * own staged sub-table so it swaps atomically with the shard rewrites
    * under the retract marker. */
  def retractShiftDelta(spark: SparkSession, dir: String): Long = {
    val p = new Path(s"$dir/$RetractMetaName/delta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0L
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    if (txt.nonEmpty && txt.forall(_.isDigit)) txt.toLong else 0L
  }

  /** Where the stored token stream ends (effective coordinate): the next
    * appended doc's first token lands here. */
  def storedTokenTotal(spark: SparkSession, dir: String): Long =
    rawTokenMax(spark, dir) - retractShiftDelta(spark, dir)

  /** foreachBatch sink appending each micro-batch as packed blocks that
    * CONTINUE the store's global token stream — the streaming tail of the
    * [[writeShards]] bulk export: new docs pack into the bins after
    * everything already stored, land as new files under their `shard=` dirs
    * (existing files never rewritten), and a trainer's sequential-shard
    * contract keeps holding as the corpus grows.
    *
    * The running token total persists in the epoch markers themselves
    * (`_packed_<tag>_epoch_<e>` holds the POST-epoch total), so a restarted
    * sink resumes the stream where it ended. EXACTLY-once under
    * at-least-once re-delivery through the shared [[EpochLog.Commit]]: the
    * epoch's rows land in a staging dir first, the marker commits the
    * epoch, and only then do the files move into the `shard=` dirs, which
    * sit at the store root. Every crash point replays clean: before the
    * marker → staging is discarded and the epoch re-runs whole; after the
    * marker → the epoch is committed, and the heal sweep (at sink start and
    * on any marker-found replay) finishes the pending file moves — a
    * direct append-then-marker would instead DOUBLE the epoch's rows at the
    * same (shard, bin_id, bin_offset) when the crash fell between append
    * and marker, silently duplicating trainer content. Single appender
    * stream per store, the maintainer contract of the other stores. */
  def shardAppender(spark: SparkSession, dir: String, orderCol: String,
                    tokCol: String, budget: Long, binsPerShard: Long,
                    streamTag: String = "stream",
                    autoCompactEvery: Int = AutoCompact.DefaultCheckEvery,
                    autoCompactFactor: Int = AutoCompact.DefaultFactor):
      (DataFrame, Long) => Unit = {
    require(budget > 0 && binsPerShard > 0)
    // restart heals: a crashed retract finishes first (its marker owns the
    // shard dirs), then committed epochs finish publishing and uncommitted
    // staging is discarded (its epoch will replay in full)
    Takedown.heal(spark, dir)
    val commit = appendCommit(dir, streamTag)
    commit.heal(fsOf(spark, dir))
    checkOrSeedParams(spark, dir, budget, binsPerShard)
    val auto = new AutoCompact(autoCompactEvery, autoCompactFactor)
    // raw marker coordinate vs effective packing position: markers advance
    // on the append-only raw axis; bins pack at raw − shift delta. The
    // delta is constant for the sink's lifetime — retract is single-writer
    // maintenance run with the appender DOWN (remount after a retract).
    val shiftDelta = retractShiftDelta(spark, dir)
    var total = rawTokenMax(spark, dir)
    (batch: DataFrame, epoch: Long) => {
      // the marker IS the commit point, holding the post-epoch total
      commit.run(fsOf(batch.sparkSession, dir), batch, epoch,
          markerText = total.toString) { stage =>
        val b = batch.localCheckpoint()
        val packed = packByBudget(b, orderCol, tokCol, budget,
            startTok = total - shiftDelta)
          .select(col(orderCol), col("bin_id"), col("bin_offset"))
          .join(b, Seq(orderCol))
        packed
          .withColumn("shard", expr(s"bin_id DIV $binsPerShard"))
          .repartitionByRange(col("shard"), col("bin_id"), col("bin_offset"))
          .sortWithinPartitions("shard", "bin_id", "bin_offset")
          .write.partitionBy("shard").parquet(stage.toString)
        val n = b.agg(sum(col(tokCol).cast("long"))).head().getLong(0)
        total += n
      } { _ =>
        // epoch fully committed: the between-epochs single-writer window
        auto.tick(shardFileCount(spark, dir), shardDirCount(spark, dir))(
          compactShards(spark, dir))
      }
    }
  }

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** [[shardAppender]]'s epoch namespace on stream `tag`: stages
    * `.pack_stage_<tag>_<e>`, markers `_packed_<tag>_epoch_<e>`, publishing
    * the `shard=K/` dirs at the store root. */
  private def appendCommit(dir: String, tag: String): EpochLog.Commit =
    EpochLog.Commit(dir, s".pack_stage_${tag}_", s"_packed_${tag}_epoch_",
      Seq("" -> "shard"))

  /** The appender heal across EVERY stream tag — the retract entry point
    * must fold committed-but-unpublished epochs of any appender into the
    * shard dirs before repacking (their rows are logically in the store),
    * and may discard uncommitted staging (that epoch never committed; its
    * re-delivery will pack at the post-retract stream end, which is
    * exactly right). */
  private def healAllStaging(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    if (!fs.exists(new Path(dir))) return
    fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith(".pack_stage_"))
      .map(_.stripPrefix(".pack_stage_"))
      .flatMap { rest =>
        val cut = rest.lastIndexOf('_')
        if (cut <= 0) None else Some(rest.take(cut))
      }.distinct.foreach(appendCommit(dir, _).heal(fs))
  }

  /** Drop `shard=` dirs holding no data files — the residue of a retract
    * that emptied the tail of the token stream (their staged replacements
    * publish empty so the swap protocol stays uniform). Idempotent and safe
    * at any crash point: an empty dir carries no rows. */
  private def sweepEmptyShards(spark: SparkSession, dir: String): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    fs.listStatus(root).filter(st =>
        st.isDirectory && st.getPath.getName.startsWith("shard=")).foreach {
      st => if (fs.listStatus(st.getPath).isEmpty) fs.delete(st.getPath, true)
    }
  }

  /** Takedown for the packed training-shard export: remove `ids`' documents
    * from the token stream and close the gap — the post-retract store is
    * byte-identical to a from-scratch [[writeShards]] of the same corpus
    * without those docs (same bins, offsets, shard assignment), and a
    * subsequent [[shardAppender]] continues from the shrunken end exactly
    * as it would on that from-scratch store. The one artifact that retains
    * full document payloads (reference keeps corpora immutable on disk —
    * datasets/loaders in `utils/datasets.py` — so removal-with-history is
    * engine-new) thereby honors the same DMCA/GDPR shape as the five
    * derived stores ([[Takedown]]).
    *
    * Scale shape — the blast radius is the SUFFIX from the first affected
    * shard, never the whole store: removal shifts every later token left,
    * so shards before the first retracted doc are untouched (partition-
    * pruned out of the rewrite scan), and retracting recent content — the
    * common takedown case for a crawl store — rewrites only the tail.
    * Retracting the oldest doc honestly approaches a full re-export; the
    * affected-shard scan is cheap and runs first, so an operator sees the
    * blast radius before paying for it.
    *
    * The repack orders survivors by their STORED stream position
    * (`bin_id·budget + bin_offset`), not by `orderCol` — an appended store
    * interleaves epochs on the stream axis, and the stream, not the id
    * order, is the trainer-visible concatenation being preserved.
    *
    * Protocol: [[Takedown.runDynamic]] — the whole suffix repack (plus the
    * shift-delta meta table and empty placeholders for shard dirs the
    * shrunken stream no longer reaches) stages under `.retract_stage`, the
    * marker commits the exact sub list, every dir swaps via the aside
    * discipline, asides are deleted (they retain the retracted payloads).
    * Every crash point heals: pre-marker → stage discarded, store intact,
    * retract re-runs whole; post-marker → [[Takedown.heal]] (wired into the
    * appender mount, [[compactShards]], and this entry point) finishes the
    * swaps. Markers are never rewritten — the raw token axis stays
    * append-only and [[retractShiftDelta]] carries the cumulative shift, so
    * `rawTokenMax − delta` is the effective end at every point in history.
    * Single-writer maintenance: run between epochs with the appender down,
    * like compaction; remount the appender afterwards. */
  def retractDocs(spark: SparkSession, dir: String, orderCol: String,
                  tokCol: String, budget: Long, binsPerShard: Long,
                  ids: Seq[Any]): Unit = {
    require(budget > 0 && binsPerShard > 0)
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (ids.isEmpty || !fs.exists(root)) return
    Takedown.heal(spark, dir)
    healAllStaging(spark, dir)
    sweepEmptyShards(spark, dir)
    checkOrSeedParams(spark, dir, budget, binsPerShard)
    if (shardDirCount(spark, dir) == 0) return
    // ids is a takedown batch — bounded by contract, so the isin literal is
    // legal (the one sanctioned literal-membership shape)
    val store = spark.read.parquet(dir)
    val hit = store.where(col(orderCol).isin(ids: _*))
      .select(col("shard").cast("long")).distinct()
      .collect().map(_.getLong(0))
    if (hit.isEmpty) return // nothing stored for these ids
    val s0 = hit.min
    // effective stream position where shard s0's doc run begins = the
    // stored first_tok of its first doc (single partition-pruned shard scan)
    val pfx = store.where(col("shard") === s0)
      .agg(min(col("bin_id").cast("long") * budget + col("bin_offset")))
      .head().getLong(0)
    val payloadCols = store.columns.toSeq
      .filterNot(Set("bin_id", "bin_offset", "shard"))
    val suffix = store
      .where(col("shard") >= s0 && !col(orderCol).isin(ids: _*))
      .withColumn("__stream_pos",
        col("bin_id").cast("long") * budget + col("bin_offset"))
      .select((payloadCols :+ "__stream_pos").map(col): _*)
    val oldSuffixShards = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("shard="))
      .map(_.stripPrefix("shard="))
      .filter(s => s.nonEmpty && s.forall(_.isDigit))
      .map(_.toLong).filter(_ >= s0).toSet
    Takedown.runDynamic(spark, dir) { stage =>
      val packed = packByBudget(suffix, "__stream_pos", tokCol, budget,
          startTok = pfx)
        .select(col("__stream_pos"), col("bin_id"), col("bin_offset"))
        .join(suffix, Seq("__stream_pos"))
      packed
        .withColumn("shard", expr(s"bin_id DIV $binsPerShard"))
        .repartitionByRange(col("shard"), col("bin_id"), col("bin_offset"))
        .sortWithinPartitions("shard", "bin_id", "bin_offset")
        .drop("__stream_pos")
        .write.partitionBy("shard").parquet(stage)
      val stagedShards = fs.listStatus(new Path(stage))
        .map(_.getPath.getName).filter(_.startsWith("shard="))
        .map(_.stripPrefix("shard=").toLong).toSet
      // old suffix shards the shrunken stream no longer reaches swap
      // against empty placeholders (swept after the run)
      (oldSuffixShards -- stagedShards).foreach { k =>
        fs.mkdirs(new Path(s"$stage/shard=$k"))
      }
      // new effective end = prefix + surviving suffix tokens; the delta is
      // whatever closes the gap back from the append-only raw axis
      val sfxToks = suffix.agg(sum(col(tokCol).cast("long"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r                  => r.getLong(0)
      }
      val newDelta = rawTokenMax(spark, dir) - (pfx + sfxToks)
      require(newDelta >= 0,
        s"retractDocs: store $dir has live tokens past its marker max — " +
          "markers are the stream-end record; a marker-less or hand-built " +
          "store cannot be retracted")
      val metaDir = new Path(s"$stage/$RetractMetaName")
      fs.mkdirs(metaDir)
      val out = fs.create(new Path(metaDir, "delta"), true)
      try out.write(newDelta.toString.getBytes("UTF-8")) finally out.close()
      ((stagedShards | oldSuffixShards).toSeq.sorted.map(k => s"shard=$k")
        :+ RetractMetaName)
    }
    sweepEmptyShards(spark, dir)
  }

  /** Compact the shard store: every appended epoch leaves one parquet file
    * per touched `shard=` dir, so a long-running appender turns each shard
    * into thousands of tiny files and the trainer's sequential read becomes
    * file opens, not bytes (the [[AnnIndex.compact]] disease, same cure).
    * Rewrites each shard as ONE file with rows sorted by
    * (bin_id, bin_offset) — the in-shard concatenation order [[writeShards]]
    * promises.
    *
    * Swap protocol (per-shard aside-publish-heal): the full rewrite lands
    * under a dot-temp dir, each old `shard=` dir moves aside, the new one
    * publishes, then the aside copies delete. A crash mid-publish leaves
    * some shards swapped and others aside; the recovery sweep at the next
    * call restores any aside shard the root is missing, so no interleaving
    * of crashes loses rows. Markers are untouched — the token stream and
    * epoch idempotence survive compaction. Single-writer: run between
    * epochs of the live appender, never racing an in-flight one. The one
    * swap not on [[TableSwap]]: the shards are many dirs at the store root
    * sharing ONE aside dir, `.shards_precompact/shard=K`, where TableSwap
    * swaps one named table through its own `.<sub>_precompact`. */
  def compactShards(spark: SparkSession, dir: String): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    Takedown.heal(spark, dir) // a crashed retract owns the dirs — finish it
    val prev = new Path(s"$dir/.shards_precompact")
    // crash recovery: restore any shard moved aside but never re-published
    if (fs.exists(prev)) {
      fs.listStatus(prev).foreach { st =>
        val back = new Path(root, st.getPath.getName)
        if (!fs.exists(back)) require(fs.rename(st.getPath, back),
          s"compact: cannot heal ${st.getPath}")
      }
      fs.delete(prev, true)
    }
    val shardDirs = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("shard="))
    if (shardDirs.isEmpty) return
    val tmp = new Path(s"$dir/.shards_compact.tmp")
    fs.delete(tmp, true)
    spark.read.parquet(dir)
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "bin_id", "bin_offset")
      .write.partitionBy("shard").parquet(tmp.toString)
    fs.mkdirs(prev)
    shardDirs.foreach { sd =>
      require(fs.rename(sd, new Path(prev, sd.getName)),
        s"compact: cannot move $sd aside")
    }
    fs.listStatus(tmp).filter(_.getPath.getName.startsWith("shard="))
      .foreach { st =>
        require(fs.rename(st.getPath, new Path(root, st.getPath.getName)),
          s"compact: cannot publish ${st.getPath}")
      }
    fs.delete(prev, true)
    fs.delete(tmp, true)
  }

  /** Live `shard=` dir count (the [[AutoCompact]] bound's denominator). */
  def shardDirCount(spark: SparkSession, dir: String): Int = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    fs.listStatus(root).count(st =>
      st.isDirectory && st.getPath.getName.startsWith("shard="))
  }

  /** Data-file count across shard dirs (compaction telemetry, the
    * [[AnnIndex.listFileCount]] twin). */
  def shardFileCount(spark: SparkSession, dir: String): Int = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    fs.listStatus(root).filter(_.getPath.getName.startsWith("shard="))
      .map { sd =>
        fs.listStatus(sd.getPath)
          .count(_.getPath.getName.endsWith(".parquet"))
      }.sum
  }

  /** Deterministic training-order shuffle: every example gets a seeded
    * pseudorandom (shard, shard_pos) — the "shuffle the corpus before
    * training" step, WITHOUT a global sort. The 52-bit draw
    * ([[Sample.drawCol]]) assigns shard = draw mod `nShards` and orders
    * within the shard by (draw desc, id); a trainer reading the shards in
    * any interleaving sees a seeded permutation of the corpus, and a new
    * seed is a fresh epoch permutation with zero data rewritten.
    *
    * Scale shape: ONE hash-keyed shuffle into `nShards` window partitions —
    * size nShards so a shard's rows fit an executor (the same knob as any
    * shard writer; at 100 TB that is 10⁴–10⁵ shards, each a parallel window
    * partition), never a single global window. Deterministic across runs
    * and cluster sizes — xxhash64 arithmetic, no rand(). [SQL oracle:
    * row_number over the replayed draw]. */
  def shuffleOrder(df: DataFrame, idCol: String, nShards: Int,
                   seed: Long): DataFrame =
    shuffleOrderWithin(df, idCol, nShards, seed, Seq.empty)

  /** [[shuffleOrder]] with the permutation scoped WITHIN `within` columns —
    * shards and positions are per-(within, shard), so a phased consumer
    * (e.g. a curriculum) reads each group's shards as an independent seeded
    * permutation. Same one-hash-keyed-shuffle shape; the extra columns ride
    * the window partition key. */
  def shuffleOrderWithin(df: DataFrame, idCol: String, nShards: Int,
                         seed: Long, within: Seq[String]): DataFrame = {
    require(nShards > 0)
    val w = Window.partitionBy((within :+ "shard").map(col): _*)
      .orderBy(col("draw").desc, col(idCol))
    df.select((within :+ idCol).map(col) :+
        Sample.drawCol(col(idCol), seed).as("draw"): _*)
      .withColumn("shard", pmod(col("draw"), lit(nShards.toLong)))
      .select((within :+ idCol).map(col) ++ Seq(col("shard"),
        row_number().over(w).cast("long").as("shard_pos")): _*)
  }
}
