package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Persisted add-one-smoothed bigram LM — the trained fluency model behind
  * `lm_fluency` (CCNet's filtering LM, Wenzek et al. 2020 §4.3) as a
  * long-lived store, so scoring a crawl batch costs O(batch bigrams ∩
  * touched buckets) instead of re-counting the whole corpus per trigger,
  * and the model GROWS with ingest through the engine's exactly-once epoch
  * protocol (the [[Bm25Store]] story applied to the n-gram LM).
  *
  * Layout under `dir`:
  *  - `bigrams/wb=K/` — (prev, cur, cb) PARTIAL counts, partitioned by
  *    `wb = xxhash64(prev) mod 64`; seed and each appended epoch write
  *    their own rows, probes/compaction sum per (prev, cur) — bigram
  *    counts are additive over disjoint doc sets.
  *  - `prefix/wb=K/` — (prev, cp) partials, same bucketing and additivity.
  *  - `vocab/wb=K/` — (word) rows, GLOBALLY distinct: the seed writes the
  *    corpus-distinct vocab and each appended epoch anti-joins its words
  *    against the store (reading only the epoch's own buckets) before
  *    staging, so the smoothing denominator V is a metadata-only count(*)
  *    at probe time — never a store-sized count-DISTINCT. (V is the one
  *    model scalar that is not additive — vocabularies overlap — so it
  *    rides as a table whose INSERTS are made disjoint, not a ledger;
  *    lm2_v1 stores paid a full vocab scan per probe, measured 2.5× for a
  *    10× store in BENCH_probe.json before the v2 layout flattened it.)
  *  - `vocabrc/wb=K/` — (word, rc) PARTIAL per-word doc-reference counts
  *    (how many stored docs contain the word), additive like the other
  *    counts. Probes never read it; it exists so [[retract]] can tell
  *    which vocab words vanish with a takedown — distinct-insert vocab
  *    rows alone are not subtractable (v3 layout addition).
  *  - `_params` — layout/tokenizer contract token, checked loudly.
  *
  * Probe shape: the batch's bigrams name their prev-hash buckets up front
  * (bounded distinct → ≤ 64 values), BOTH count scans carry a static
  * `wb IN (...)` partition filter, unseen bigrams smooth to
  * (0+1)/(0+V) via left joins, and the per-doc mean is the SAME
  * order-pinned fold as the inline query — so a store-scored corpus
  * hash-matches `lm_fluency`'s DuckDB twin exactly (`lm_fluency_stored`,
  * and `lm_fluency_appended` for the seed+append+replay build).
  *
  * Maintenance contract: ONE appender stream per store; epochs are
  * exactly-once (the shared [[EpochLog.Commit]]: stage → marker → publish,
  * numeric-suffix staging heal); [[compact]] swaps through [[TableSwap]]
  * with reads healing the crash window; the [[AutoCompact]] hook bounds
  * file growth. */
object LmStore {

  /** prev-hash partition fan-out; part of the `_params` layout contract. */
  val Buckets = 64

  /** Largest probe prev-vocabulary pushed into the count scans as an IN
    * predicate (small-probe regime); larger batches fall back to the
    * bucket filter alone. */
  val PrevPushdownCap = 1024

  /** Batches above this doc count skip the pushdown probe entirely
    * (corpus-scale scoring would pay a corpus-wide distinct only to find
    * the cap exceeded). */
  val ProbeBatchMaxDocs = 2048L

  private val ParamsToken = s"lm2_v3,clean_punct_ws,$Buckets"

  private def bucketCol(w: Column): Column =
    pmod(xxhash64(w), lit(Buckets.toLong))

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeText(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](128)
      val n = in.read(buf)
      if (n <= 0) "" else new String(buf, 0, n, "UTF-8").trim
    } finally in.close()
  }

  /** (id, arr) token-array projection — the exact `lm_fluency` tokenizer
    * (clean → normalize-whitespace → split, empties dropped), projected
    * once per the TextFns HOF note. */
  private def tokArr(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val arr0 = TextFns.normTokens(TextFns.cleanText(col(textCol),
      removePunctuation = true))
    docs.select(col(idCol).as("id"), arr0.as("arr0"))
      .select(col("id"), filter(col("arr0"), w => length(w) > 0).as("arr"))
  }

  /** (id, pos, prev, cur) transition rows of a doc batch. */
  private def bigramsOf(docsArr: DataFrame): DataFrame = {
    val nArr = size(col("arr"))
    docsArr.select(col("id"), posexplode(
        when(nArr < 2, array().cast("array<struct<prev:string,cur:string>>"))
          .otherwise(arrays_zip(
            slice(col("arr"), lit(1), nArr - 1).as("prev"),
            slice(col("arr"), lit(2), nArr - 1).as("cur")))))
      .select(col("id"), col("pos"),
        col("col.prev").as("prev"), col("col.cur").as("cur"))
  }

  /** One batch's count partials: (bigram rows, prefix rows, distinct-word
    * rows, per-word doc-refcount rows), each already carrying its `wb`
    * partition column. ONE tokenize pass feeds all four. */
  private def batchParts(docs: DataFrame, idCol: String, textCol: String):
      (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val arr = tokArr(docs, idCol, textCol).localCheckpoint()
    val big = bigramsOf(arr)
    val bc = big.groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
      .withColumn("wb", bucketCol(col("prev")))
    val pc = big.groupBy("prev").agg(count(lit(1)).as("cp"))
      .withColumn("wb", bucketCol(col("prev")))
    val docWords = arr.select(col("id"), explode(col("arr")).as("word"))
      .distinct().localCheckpoint()
    val words = docWords.select("word").distinct()
      .withColumn("wb", bucketCol(col("word")))
    val rc = docWords.groupBy("word").agg(count(lit(1)).as("rc"))
      .withColumn("wb", bucketCol(col("word")))
    (bc, pc, words, rc)
  }

  /** Seed the store from a static base corpus. Not marker-protected — run
    * through [[storeDir]] (atomic build-aside) or re-run whole on
    * failure. */
  def seed(docs: DataFrame, idCol: String, textCol: String,
           dir: String): Unit = {
    val fs = fsOf(docs.sparkSession, dir)
    val (bc, pc, words, rc) = batchParts(docs, idCol, textCol)
    bc.write.mode("overwrite").partitionBy("wb").parquet(s"$dir/bigrams")
    pc.write.mode("overwrite").partitionBy("wb").parquet(s"$dir/prefix")
    words.write.mode("overwrite").partitionBy("wb").parquet(s"$dir/vocab")
    rc.write.mode("overwrite").partitionBy("wb").parquet(s"$dir/vocabrc")
    writeText(fs, new Path(s"$dir/_params"), ParamsToken)
  }

  private def checkParams(fs: FileSystem, dir: String): Unit = {
    val p = new Path(s"$dir/_params")
    require(fs.exists(p), s"LmStore $dir has no _params — not a store?")
    val txt = readText(fs, p)
    require(txt == ParamsToken,
      s"LmStore $dir holds layout ($txt), probe expects ($ParamsToken) — " +
        "counts from a different tokenizer/layout never match silently")
  }

  // ------------------------------------------------------------------ probe

  /** Score a doc batch against the stored LM: (id, n_trans, lm_score) —
    * the `lm_fluency` output contract (transition-less docs score 0.0,
    * every batch doc present). Count scans are pruned to the batch's
    * prev-hash buckets; unseen transitions smooth through the left joins;
    * the per-doc mean is the order-pinned fold, so same-corpus scoring is
    * bit-identical to the inline query. */
  def scoreStored(spark: SparkSession, dir: String, docs: DataFrame,
                  idCol: String, textCol: String): DataFrame = {
    val fs = fsOf(spark, dir)
    checkParams(fs, dir)
    Seq("bigrams", "prefix", "vocab").foreach(TableSwap.heal(fs, dir, _))
    val arr = tokArr(docs, idCol, textCol).localCheckpoint()
    // Regime gate FIRST (one cheap count over the checkpointed arr): bulk
    // scoring (lm_fluency_stored — the whole corpus) touches essentially
    // every bucket, so the bucket census would be a full corpus-bigram
    // pass that prunes nothing, and the bigram frame has only ONE consumer
    // (the scoring join) so its checkpoint would be a pure extra
    // materialization. Both are probe-batch optimizations — r17 moved them
    // behind the gate: the bulk regime now runs one bigram pass total.
    val bulk = arr.count() > ProbeBatchMaxDocs
    val big = if (bulk) bigramsOf(arr) else bigramsOf(arr).localCheckpoint()
    // bounded: ≤ Buckets distinct partition values, one narrow agg pass
    val wbs =
      if (bulk) Seq.empty[Long]
      else big.select(bucketCol(col("prev")).as("wb")).distinct()
        .collect().map(_.getLong(0)).toSeq
    // a transition-less batch names no buckets: read nothing, not IN ().
    // Bulk regime: no pruning filter at all — the left joins ignore
    // unmatched store rows, so the filter is cost-only, never semantics.
    val wbFilter =
      if (bulk) lit(true)
      else if (wbs.isEmpty) lit(false)
      else col("wb").isin(wbs: _*)
    // SMALL-probe regime: when the batch's prev-vocabulary is bounded, push
    // it into the scans as an IN predicate — parquet dictionary/row-group
    // stats then prune WITHIN the touched buckets (compact() sorts rows by
    // prev for exactly this), making the probe O(probe vocab) instead of
    // O(rows in touched buckets). Capped: a corpus-sized literal list in
    // the plan is the r8 FingerprintStore failure shape (generated code
    // grows with the batch) — past the cap the bucket filter alone rules,
    // the saturated regime BENCH_probe.json documents.
    val prevs =
      if (bulk) Seq.empty[String]
      else big.select("prev").distinct()
        .limit(PrevPushdownCap + 1).collect().map(_.getString(0)).toSeq
    val prevFilter =
      if (prevs.nonEmpty && prevs.size <= PrevPushdownCap)
        col("prev").isin(prevs: _*)
      else lit(true)
    val bc = spark.read.parquet(s"$dir/bigrams")
      .filter(wbFilter && prevFilter)
      .groupBy("prev", "cur").agg(sum("cb").as("cb"))
    val pc = spark.read.parquet(s"$dir/prefix")
      .filter(wbFilter && prevFilter)
      .groupBy("prev").agg(sum("cp").as("cp"))
    // vocab is globally distinct by layout contract (v2): count(*) is a
    // parquet-footer read, flat in store size
    val vv = spark.read.parquet(s"$dir/vocab")
      .agg(count(lit(1)).as("vsz"))
    val scored = big.join(bc, Seq("prev", "cur"), "left")
      .join(pc, Seq("prev"), "left")
      .crossJoin(broadcast(vv))
      .select(col("id"), col("pos"),
        ((coalesce(col("cb"), lit(0L)).cast("double") + 1.0) /
          (coalesce(col("cp"), lit(0L)).cast("double") +
            col("vsz").cast("double"))).as("p"))
    val perDoc = scored.groupBy("id").agg(
      count(lit(1)).as("n_trans"),
      aggregate(sort_array(collect_list(struct(col("pos"), col("p")))),
        lit(0.0), (acc, x) => acc + x.getField("p")).as("sump"))
    arr.select("id").join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_trans"), lit(0L)).as("n_trans"),
        round(when(col("n_trans").isNull, 0.0)
          .otherwise(col("sump") / col("n_trans")), 6).as("lm_score"))
  }

  // ------------------------------------------------------------- incremental

  private val Subs = Seq("bigrams", "prefix", "vocab", "vocabrc")

  /** foreachBatch sink growing the LM with each crawl epoch's docs —
    * count partials + epoch-distinct vocab stage, commit (marker), and
    * publish. Exactly-once under at-least-once re-delivery; append
    * contract: NEW doc ids only (count additivity needs disjoint doc
    * sets). Single appender stream per store. */
  def appender(spark: SparkSession, dir: String, idCol: String,
               textCol: String, streamTag: String = "stream",
               autoCompactEvery: Int = AutoCompact.DefaultCheckEvery,
               autoCompactFactor: Int = AutoCompact.DefaultFactor):
      (DataFrame, Long) => Unit = {
    // `.lmapp_stage_<tag>_<e>` / `_lmapp_<tag>_epoch_<e>`, publishing `wb=`
    // files into every sub-table
    val commit = EpochLog.commit(dir, "lmapp", streamTag, Subs.map(_ -> "wb"))
    commit.heal(fsOf(spark, dir))
    val auto = new AutoCompact(autoCompactEvery, autoCompactFactor)
    (batch: DataFrame, epoch: Long) => {
      val fs = fsOf(batch.sparkSession, dir)
      checkParams(fs, dir)
      commit.run(fs, batch, epoch) { stage =>
        val (bc, pc, words, rc) = batchParts(batch, idCol, textCol)
        bc.write.partitionBy("wb").parquet(s"$stage/bigrams")
        pc.write.partitionBy("wb").parquet(s"$stage/prefix")
        // refcounts are plain additive partials: EVERY batch word stages
        rc.write.partitionBy("wb").parquet(s"$stage/vocabrc")
        // vocab stays GLOBALLY distinct (the scoreStored flat-count
        // contract): anti-join the epoch's words against the store,
        // reading only the epoch's own wb buckets — cost bounded by the
        // batch footprint, never store size. Safe under replay: the store
        // never holds this epoch's rows at staging time (publish happens
        // after the marker; a marker-present replay republishes the
        // existing stage without recomputing).
        val spark0 = batch.sparkSession
        val wbs = words.select("wb").distinct()
          .collect().map(_.getLong(0)).toSeq // bounded by Buckets
        val newWords =
          if (wbs.isEmpty || !fs.exists(new Path(s"$dir/vocab"))) words
          else words.join(
            spark0.read.parquet(s"$dir/vocab")
              .filter(col("wb").isin(wbs: _*)).select("word"),
            Seq("word"), "left_anti")
        newWords.write.partitionBy("wb").parquet(s"$stage/vocab")
      } { _ =>
        auto.tick(fileCount(spark, dir), partitionDirCount(spark, dir))(
          compact(spark, dir))
      }
    }
  }

  // -------------------------------------------------------------- compaction

  /** Compact: MERGE count partials per key, dedup the vocab rows, fold
    * each `wb=` partition back toward one file — per sub-table via the
    * [[TableSwap]] whole-table swap; markers/staging untouched. Single-writer:
    * run between epochs (the [[AutoCompact]] hook's window). */
  def compact(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    Takedown.heal(spark, dir) // a crashed retract finishes before we rewrite
    Subs.foreach(TableSwap.heal(fs, dir, _))
    def rewrite(sub: String)(fold: DataFrame => DataFrame): Unit =
      if (fs.exists(new Path(s"$dir/$sub")))
        TableSwap.rewrite(fs, dir, sub)(tmp =>
          fold(spark.read.parquet(s"$dir/$sub"))
            .repartition(col("wb"))
            .write.partitionBy("wb").parquet(tmp.toString))
    // rows sorted by prev/word inside each bucket file: parquet row-group
    // stats + dictionaries then serve the probe's IN pushdown
    rewrite("bigrams")(df =>
      df.groupBy("wb", "prev", "cur").agg(sum("cb").as("cb"))
        .sortWithinPartitions("prev"))
    rewrite("prefix")(df => df.groupBy("wb", "prev").agg(sum("cp").as("cp"))
      .sortWithinPartitions("prev"))
    rewrite("vocab")(_.distinct().sortWithinPartitions("word"))
    rewrite("vocabrc")(df =>
      df.groupBy("wb", "word").agg(sum("rc").as("rc"))
        .sortWithinPartitions("word"))
  }

  /** Takedown: subtract the given documents' contribution from the trained
    * LM — the store retains per-document derived content (every bigram of
    * the text, with counts; r13 verdict #3). The retract batch must carry
    * the documents AS STORED ((id, text) — a DMCA/GDPR request names the
    * work): their count partials recompute through the same
    * [[batchParts]] tokenizer and SUBTRACT from the merged tables; vocab
    * words whose doc-refcount hits zero drop (the `vocabrc` table exists
    * for exactly this — distinct-insert vocab rows are not subtractable),
    * so a post-retract store is count-identical to one seeded without the
    * docs. Subset-ness is enforced LOUDLY: any count that would go
    * negative aborts before anything swaps. All four rewrites build aside
    * and commit under the staged [[Takedown]] protocol (a crash between
    * table swaps could otherwise strand inconsistent counts). Single-
    * writer, compact-class maintenance; batch the requests.
    *
    * UNLIKE the exclude-by-key retracts (fp/sig/ANN/BM25/pack), this
    * subtraction is NOT re-run idempotent: bigrams the retracted docs share
    * with SURVIVORS keep a positive count, so a blind replay would silently
    * subtract them twice. A composed driver ([[Forget]]) passes `receipt` —
    * committed atomically with the subtraction via the [[Takedown]] marker
    * — and skips the call when `dir/<receipt>` already exists. */
  def retract(spark: SparkSession, dir: String, docs: DataFrame,
              idCol: String, textCol: String,
              receipt: Option[String] = None): Unit = {
    Takedown.heal(spark, dir)
    val fs = fsOf(spark, dir)
    checkParams(fs, dir)
    Subs.foreach(TableSwap.heal(fs, dir, _))
    if (docs.isEmpty || !fs.exists(new Path(s"$dir/bigrams"))) return
    val (bcR, pcR, _, rcR) = batchParts(docs, idCol, textCol)
    def subtracted(sub: String, keys: Seq[String], cnt: String,
                   goneDf0: DataFrame): DataFrame = {
      val goneDf = goneDf0.localCheckpoint()
      val merged = spark.read.parquet(s"$dir/$sub")
        .groupBy((col("wb") +: keys.map(col)): _*).agg(sum(cnt).as(cnt))
        .join(goneDf.withColumnRenamed(cnt, "__gone"), keys, "left")
        .select((col("wb") +: keys.map(col)) :+
          (col(cnt) - coalesce(col("__gone"), lit(0L))).as(cnt): _*)
        .localCheckpoint()
      // subset-ness, both directions: a batch key the store never held, or
      // a shared key whose count would go negative, is a retract of content
      // that was not stored as claimed — abort before anything swaps
      val missing = goneDf
        .join(merged.select(keys.map(col): _*), keys, "left_anti").count()
      val neg = merged.filter(col(cnt) < 0).count()
      require(missing == 0 && neg == 0,
        s"LmStore.retract: $missing unknown + $neg would-go-negative $sub " +
          s"rows — the retract batch is not a subset of $dir")
      merged.filter(col(cnt) > 0)
    }
    val bigrams2 = subtracted("bigrams", Seq("prev", "cur"), "cb",
      bcR.drop("wb"))
    val prefix2 = subtracted("prefix", Seq("prev"), "cp", pcR.drop("wb"))
    val vocabrc2 = subtracted("vocabrc", Seq("word"), "rc", rcR.drop("wb"))
      .localCheckpoint()
    Takedown.run(spark, dir, Subs, receipt) { stage =>
      def out(df: DataFrame, sub: String, sortCol: String): Unit =
        df.repartition(col("wb")).sortWithinPartitions(sortCol)
          .write.partitionBy("wb").parquet(s"$stage/$sub")
      out(bigrams2, "bigrams", "prev")
      out(prefix2, "prefix", "prev")
      out(vocabrc2, "vocabrc", "word")
      // vocab keeps exactly the words still referenced by a stored doc
      out(spark.read.parquet(s"$dir/vocab")
        .join(vocabrc2.select("word"), Seq("word"), "left_semi")
        .distinct(), "vocab", "word")
    }
  }

  /** Live `wb=` partition-dir count — the [[AutoCompact]] denominator. */
  def partitionDirCount(spark: SparkSession, dir: String): Int = {
    val fs = fsOf(spark, dir)
    Subs.map { sub =>
      val root = new Path(s"$dir/$sub")
      if (!fs.exists(root)) 0
      else fs.listStatus(root).count(st =>
        st.isDirectory && st.getPath.getName.startsWith("wb="))
    }.sum
  }

  /** Data-file count across the partitioned tables. */
  def fileCount(spark: SparkSession, dir: String): Int = {
    val fs = fsOf(spark, dir)
    Subs.map { sub =>
      val root = new Path(s"$dir/$sub")
      if (!fs.exists(root)) 0
      else fs.listStatus(root)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("wb="))
        .map(sd => fs.listStatus(sd.getPath)
          .count(_.getPath.getName.endsWith(".parquet")))
        .sum
    }.sum
  }

  // ------------------------------------------------------------ cached builds

  /** Build (or reuse) a store for a static corpus — the content-digest
    * cache contract shared by every persisted index. */
  def storeDir(docs: DataFrame, corpusPath: String, idCol: String,
               textCol: String, variant: String = ""): String =
    cachedBuild(docs.sparkSession, corpusPath,
        s"$idCol|$textCol|$variant", "lm_store") {
      tmp => seed(docs, idCol, textCol, tmp)
    }

  /** Build (or reuse) a store grown INCREMENTALLY from `parts` — seed from
    * the first slice, one appended epoch per remaining slice, LAST epoch
    * re-delivered (the replay the exactly-once protocol must absorb).
    * Backs `lm_fluency_appended`. */
  def appendedStoreDir(parts: Seq[DataFrame], corpusPath: String,
                       idCol: String, textCol: String,
                       variant: String = ""): String = {
    require(parts.nonEmpty, "appendedStoreDir needs at least one slice")
    cachedBuild(parts.head.sparkSession, corpusPath,
        s"$idCol|$textCol|$variant", "lm_store_app") { tmp =>
      seed(parts.head, idCol, textCol, tmp)
      val app = appender(parts.head.sparkSession, tmp, idCol, textCol,
        autoCompactEvery = 0)
      parts.tail.zipWithIndex.foreach { case (p, e) => app(p, e.toLong) }
      if (parts.tail.nonEmpty)                    // replayed delivery: no-op
        app(parts.last, (parts.size - 2).toLong)
    }
  }

  private def cachedBuild(spark: SparkSession, corpusPath: String,
                          variant: String, prefix: String)(
                          build: String => Unit): String = {
    // v3: the vocabrc sub-table joined the layout — stale v2 cache dirs
    // must never collide with (and loudly fail) the new reader
    val digest = AdaptCache.digestOf(Seq(s"${prefix}_v3", corpusPath,
      AdaptCache.corpusToken(spark, corpusPath), variant))
    val dir = new Path(AdaptCache.cacheRoot(spark), s"${prefix}_$digest")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) AdaptCache.synchronized {
      if (!fs.exists(dir)) {
        val tmp = new Path(dir.getParent, s".${prefix}_$digest.tmp")
        fs.delete(tmp, true)
        build(tmp.toString)
        if (!fs.rename(tmp, dir)) fs.delete(tmp, true) // lost a race: reuse
      }
    }
    dir.toString
  }
}
