package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 postings index — the build-once-probe-many artifact that
  * makes repeated corpus probes (per-crawl decontamination triage, recurring
  * quality audits) cost O(matched postings) instead of re-tokenizing and
  * re-aggregating the corpus per query batch (the [[SignatureStore]] /
  * [[AnnIndex]] story applied to [[Bm25]]) — and, since the corpus a crawl
  * pipeline probes GROWS, an INCREMENTAL store: [[appender]] folds each new
  * crawl batch's postings in under the engine's exactly-once epoch protocol,
  * so the index keeps pace with ingest without ever rebuilding from scratch.
  *
  * Layout under `dir`:
  *  - `postings/wb=K/` — (word, doc_id, tf, dlen) rows, partitioned by
  *    `wb = xxhash64(word) mod 64`. dlen is DENORMALIZED into the posting
  *    row (the classic impact-ordered-postings trick): a probe never joins
  *    the corpus-sized doc-length table — everything per-posting is in the
  *    pruned partitions it reads.
  *  - `df/wb=K/` — (word, df) PARTIAL counts, same bucketing: the seed and
  *    each appended epoch contribute their own rows, and probes/compaction
  *    sum per word (document frequency is additive over disjoint doc sets —
  *    the append contract is NEW doc ids only, the other stores' contract).
  *  - `scalars/` — one tiny "nDocs,nTok" delta file per seed/epoch (the two
  *    corpus constants, also additive); probes sum the ledger, [[compact]]
  *    folds it back to one line.
  *  - `_params` — layout/tokenizer contract token; probes and appenders
  *    check it loudly (the [[SignatureStore]] checkParams lesson: a dialect
  *    mismatch must never degrade to silent zero matches).
  *
  * Probe shape at 100 TB: the query terms' buckets are computed up front
  * (bounded collect over the literal query terms), BOTH store scans carry
  * a static `wb IN (...)` partition filter (pinned in Bm25Spec), the term
  * probe and summed df rows ride as broadcasts, and the scoring tail is the
  * shared [[Bm25.rank]] — identical expression trees, so the stored path
  * (seeded OR incrementally appended) hash-matches the same DuckDB twin as
  * the inline one (`text_bm25_stored` / `text_bm25_appended`).
  *
  * Maintenance contract (shared with the other persisted stores): ONE
  * appender stream per store; epochs are exactly-once under at-least-once
  * re-delivery (the shared [[EpochLog.Commit]]: stage → marker → publish,
  * numeric-suffix-scoped staging heal); compaction runs between epochs
  * under the single-writer contract — manually or via the [[AutoCompact]]
  * hook — with the [[TableSwap]] whole-table swap, reads healing a
  * mid-compact crash window. */
object Bm25Store {

  /** Word-hash partition fan-out. Fixed for the store's lifetime (it is
    * part of the layout contract recorded in `_params`). */
  val Buckets = 64

  /** The layout/tokenizer contract this code writes and expects. v2: df is
    * a partial-count table (sum per word), scalars are a delta ledger. */
  private val ParamsToken = s"bm25_v2,clean_punct_ws,$Buckets"

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

  // ------------------------------------------------------------- epoch parts

  /** (postings rows, df partial rows, nDocs, nTok) for one doc batch — the
    * shared per-batch build used by [[seed]] and every appended epoch: ONE
    * tokenize pass feeds the tf aggregation; dlen and df both derive from
    * tf (no second scan); the only extra pass is the doc count (an
    * id-column scan — ALL docs, empty included: the BM25 N). */
  private def batchParts(docs: DataFrame, idCol: String, textCol: String):
      (DataFrame, DataFrame, Long, Long) = {
    val tf = Bm25.docWords(docs, idCol, textCol)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dlen = tf.groupBy("doc_id").agg(sum("tf").as("dlen"))
    val postings = tf.join(dlen, Seq("doc_id"))
      .withColumn("wb", bucketCol(col("word")))
    val dfPart = tf.groupBy("word").agg(count(lit(1)).as("df"))
      .withColumn("wb", bucketCol(col("word")))
    val nTokRow = tf.agg(sum("tf")).collect()(0)
    val nTok = if (nTokRow.isNullAt(0)) 0L else nTokRow.getLong(0)
    (postings, dfPart, docs.count(), nTok)
  }

  /** Seed the store from a static base corpus. Not marker-protected — run
    * through [[storeDir]] (atomic build-aside) or re-run whole on failure. */
  def seed(docs: DataFrame, idCol: String, textCol: String,
           dir: String): Unit = {
    val spark = docs.sparkSession
    val fs = fsOf(spark, dir)
    val (postings, dfPart, nDocs, nTok) = batchParts(docs, idCol, textCol)
    // one word-sorted file per bucket from birth (compact's layout): an
    // unrepartitioned partitioned write emits tasks x buckets files
    postings.repartition(col("wb")).sortWithinPartitions("word")
      .write.mode("overwrite").partitionBy("wb")
      .parquet(s"$dir/postings")
    dfPart.repartition(col("wb")).sortWithinPartitions("word")
      .write.mode("overwrite").partitionBy("wb").parquet(s"$dir/df")
    writeText(fs, new Path(s"$dir/scalars/base"), s"$nDocs,$nTok")
    writeText(fs, new Path(s"$dir/_params"), ParamsToken)
  }

  private def checkParams(fs: FileSystem, dir: String): Unit = {
    val p = new Path(s"$dir/_params")
    require(fs.exists(p), s"Bm25Store $dir has no _params — not a store?")
    val txt = readText(fs, p)
    require(txt == ParamsToken,
      s"Bm25Store $dir holds layout ($txt), probe expects ($ParamsToken) — " +
        "postings from a different tokenizer/layout never match silently")
  }

  /** Sum the scalar-delta ledger: (nDocs, nTok) over the `scalars` files.
    * Bounded
    * by epochs-since-compact ([[compact]] folds the ledger to one file). */
  private def readScalars(fs: FileSystem, dir: String): (Long, Long) = {
    TableSwap.heal(fs, dir, "scalars")
    val root = new Path(s"$dir/scalars")
    if (!fs.exists(root)) (0L, 0L)
    else fs.listStatus(root).map(_.getPath).filterNot(_.getName.startsWith("."))
      .map { p =>
        val Array(d, t) = readText(fs, p).split(",").map(_.toLong)
        (d, t)
      }.foldLeft((0L, 0L)) { case ((d0, t0), (d, t)) => (d0 + d, t0 + t) }
  }

  // ------------------------------------------------------------------ probe

  /** Probe the store: same output contract as [[Bm25.topK]] —
    * (qid, doc_id, bm25, rk 1..k). The probe reads ONLY the partitions the
    * query terms' buckets name (bounded collect over the literal terms),
    * broadcasts the term list and the per-word-SUMMED df rows (partial
    * counts from seed + appended epochs), and runs the shared scoring
    * tail. */
  def probeStored(spark: SparkSession, dir: String,
                  queries: Seq[(Long, String)], k: Int = 5,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val fs = fsOf(spark, dir)
    checkParams(fs, dir)
    val (nDocs, nTok) = readScalars(fs, dir)
    TableSwap.heal(fs, dir, "postings")
    TableSwap.heal(fs, dir, "df")
    // Query terms, buckets and the term IN-list all derive from the
    // caller-typed literal query strings — computed on the driver (zero
    // jobs; the old shape paid a checkpoint + two collect jobs for ~10
    // literal rows). The bucket uses the exact Spark xxhash64 arithmetic
    // (XxHash64Function, seed 42 — bucketCol's expression twin; pinned in
    // Bm25Spec), so the partition prune is unchanged.
    val termPairs = Bm25.qtermRows(queries)
    import spark.implicits._
    val qterms = termPairs.toDF("qid", "word")
    val qwords = termPairs.map(_._2).distinct
    val wbs = qwords.map(w => Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(w),
        org.apache.spark.sql.types.StringType, 42L),
      Buckets.toLong)).distinct
    val scanFilter = col("wb").isin(wbs: _*) && col("word").isin(qwords: _*)
    val post = spark.read.parquet(s"$dir/postings")
      .filter(scanFilter)
      .join(broadcast(qterms), Seq("word"))
    val dfreq = spark.read.parquet(s"$dir/df")
      .filter(scanFilter)
      .join(broadcast(qwords.toDF("word")), Seq("word"))
      .groupBy("word").agg(sum("df").as("df"))
    val matched = post.join(broadcast(dfreq), Seq("word"))
      .withColumn("n_docs", lit(nDocs))
      .withColumn("n_tok", lit(nTok))
    Bm25.rank(matched, k, k1, b)
  }

  // ------------------------------------------------------------- incremental

  /** [[appender]]'s epoch namespace on stream `tag`:
    * `.bm25app_stage_<tag>_<e>`, `_bm25app_<tag>_epoch_<e>`. A committed
    * stage's `wb=` files move into postings and df, and its `scalars_delta`
    * becomes the ledger file `scalars/<tag>_<e>`. */
  private def appendCommit(dir: String, tag: String): EpochLog.Commit =
    EpochLog.commit(dir, "bm25app", tag, Seq("postings" -> "wb", "df" -> "wb"),
      files = Seq("scalars_delta" -> s"scalars/${tag}_"))

  /** foreachBatch sink extending the store with each crawl epoch's docs:
    * the batch's postings, df partials, and scalar delta stage, commit
    * (marker), and publish. Exactly-once under at-least-once re-delivery;
    * a RESTARTED appender heals pending publishes and resumes. Append
    * contract: NEW doc ids only (df/scalars additivity needs disjoint doc
    * sets — the same contract as the signature/fingerprint appenders).
    * Single appender stream per store. */
  def appender(spark: SparkSession, dir: String, idCol: String,
               textCol: String, streamTag: String = "stream",
               autoCompactEvery: Int = AutoCompact.DefaultCheckEvery,
               autoCompactFactor: Int = AutoCompact.DefaultFactor):
      (DataFrame, Long) => Unit = {
    val commit = appendCommit(dir, streamTag)
    commit.heal(fsOf(spark, dir))
    val auto = new AutoCompact(autoCompactEvery, autoCompactFactor)
    (batch: DataFrame, epoch: Long) => {
      val fs = fsOf(batch.sparkSession, dir)
      checkParams(fs, dir)
      commit.run(fs, batch, epoch) { stage =>
        val (postings, dfPart, nDocs, nTok) =
          batchParts(batch, idCol, textCol)
        postings.repartition(col("wb")).sortWithinPartitions("word")
          .write.partitionBy("wb").parquet(s"$stage/postings")
        dfPart.repartition(col("wb")).sortWithinPartitions("word")
          .write.partitionBy("wb").parquet(s"$stage/df")
        writeText(fs, new Path(stage, "scalars_delta"), s"$nDocs,$nTok")
      } { _ =>
        // epoch fully committed: the between-epochs single-writer window
        auto.tick(fileCount(spark, dir), partitionDirCount(spark, dir))(
          compact(spark, dir))
      }
    }
  }

  // -------------------------------------------------------------- compaction

  /** Compact the store: fold each `postings/wb=` partition back toward one
    * file, MERGE df partials per word, and fold the scalar ledger to one
    * line — each sub-table swapped in whole through [[TableSwap]] (reads
    * heal the crash window).
    * Markers and staging dirs are untouched — epoch idempotence survives.
    * Single-writer: run between epochs of a live sink (the [[AutoCompact]]
    * hook's window), never racing an in-flight one. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    Takedown.heal(spark, dir) // a crashed retract finishes before we rewrite
    Seq("postings", "df", "scalars").foreach(TableSwap.heal(fs, dir, _))
    if (fs.exists(new Path(s"$dir/postings")))
      TableSwap.rewrite(fs, dir, "postings")(tmp =>
        spark.read.parquet(s"$dir/postings").repartition(col("wb"))
          .sortWithinPartitions("word")  // word-sorted row groups: the probe's
          .write.partitionBy("wb").parquet(tmp.toString))  // IN pushdown prunes
    if (fs.exists(new Path(s"$dir/df")))
      TableSwap.rewrite(fs, dir, "df")(tmp =>
        spark.read.parquet(s"$dir/df")
          .groupBy("wb", "word").agg(sum("df").as("df"))
          .repartition(col("wb"))
          .sortWithinPartitions("word")
          .write.partitionBy("wb").parquet(tmp.toString))
    if (fs.exists(new Path(s"$dir/scalars"))) {
      val (nDocs, nTok) = readScalars(fs, dir)
      TableSwap.rewrite(fs, dir, "scalars")(tmp =>
        writeText(fs, new Path(tmp, "base"), s"$nDocs,$nTok"))
    }
  }

  /** Takedown: drop the given doc ids' contribution from ALL THREE
    * sub-tables — postings literally retain the documents' term
    * frequencies (per-document derived content; r13 verdict #3), and the
    * df partials / scalars ledger must drop the docs' counts too or every
    * later probe scores against inflated statistics (a from-scratch build
    * without the docs would differ). The deltas derive from the store
    * itself: the retracted ids' posting rows give the per-word df
    * decrements, their tf sum gives the token decrement, and their
    * distinct-id count the doc decrement — no text needed.
    *
    * All three rewrites build aside and swap under the staged [[Takedown]]
    * protocol (a crash between table swaps could otherwise strand a store
    * whose df delta is no longer derivable — the postings that defined it
    * are gone). Caveat, documented: a stored doc with ZERO tokens leaves no
    * postings, so its +1 on N cannot be attributed and stays; it retains no
    * content and only nudges every score's idf identically. Single-writer,
    * compact-class maintenance; batch the requests. */
  def retract(spark: SparkSession, dir: String, ids: Seq[Long]): Unit = {
    Takedown.heal(spark, dir)
    if (ids.isEmpty) return
    val fs = fsOf(spark, dir)
    checkParams(fs, dir)
    Seq("postings", "df", "scalars").foreach(TableSwap.heal(fs, dir, _))
    if (!fs.exists(new Path(s"$dir/postings"))) return
    import spark.implicits._
    val gone = ids.toDF("doc_id") // request-sized by contract: broadcast
    val post = spark.read.parquet(s"$dir/postings")
    val gonePost = post.join(broadcast(gone), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val goneStats = gonePost.agg(
      countDistinct("doc_id").as("d"), sum("tf").as("t")).collect()(0)
    val dGone = goneStats.getLong(0)
    val tGone = if (goneStats.isNullAt(1)) 0L else goneStats.getLong(1)
    val dfGone = gonePost.groupBy("word").agg(count(lit(1)).as("gone"))
    val (nDocs, nTok) = readScalars(fs, dir)
    require(nDocs - dGone >= 0 && nTok - tGone >= 0,
      s"Bm25Store.retract: ledger would go negative ($nDocs-$dGone docs, " +
        s"$nTok-$tGone tokens) — the retract batch is not a subset of $dir")
    Takedown.run(spark, dir, Seq("postings", "df", "scalars")) { stage =>
      post.join(broadcast(gone), Seq("doc_id"), "left_anti")
        .repartition(col("wb"))
        .sortWithinPartitions("word") // keep the probe's IN pushdown serving
        .write.partitionBy("wb").parquet(s"$stage/postings")
      val merged = spark.read.parquet(s"$dir/df")
        .groupBy("wb", "word").agg(sum("df").as("df"))
        .join(broadcast(dfGone), Seq("word"), "left")
        .select(col("wb"), col("word"),
          (col("df") - coalesce(col("gone"), lit(0L))).as("df"))
        .localCheckpoint()
      val neg = merged.filter(col("df") < 0).count()
      require(neg == 0,
        s"Bm25Store.retract: $neg df rows would go negative — the retract " +
          s"batch is not a subset of $dir")
      // a word whose df hits 0 has no postings left: its row (the word
      // itself is derived content) must go too
      merged.filter(col("df") > 0)
        .repartition(col("wb")).sortWithinPartitions("word")
        .write.partitionBy("wb").parquet(s"$stage/df")
      writeText(fs, new Path(s"$stage/scalars/base"),
        s"${nDocs - dGone},${nTok - tGone}")
    }
  }

  /** Live `wb=` partition-dir count across postings + df — the
    * [[AutoCompact]] bound's denominator. */
  def partitionDirCount(spark: SparkSession, dir: String): Int = {
    val fs = fsOf(spark, dir)
    Seq("postings", "df").map { sub =>
      val root = new Path(s"$dir/$sub")
      if (!fs.exists(root)) 0
      else fs.listStatus(root).count(st =>
        st.isDirectory && st.getPath.getName.startsWith("wb="))
    }.sum
  }

  /** Data-file count across both partitioned tables (compaction
    * telemetry). */
  def fileCount(spark: SparkSession, dir: String): Int = {
    val fs = fsOf(spark, dir)
    Seq("postings", "df").map { sub =>
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

  /** Build (or reuse) a persisted store for a static corpus; returns its
    * dir — the [[SignatureStore.storeDir]] content-digest contract:
    * `corpusPath` + its content token key the digest, the build is atomic
    * (seed into a dot-temp, rename), every session sharing the cache root
    * reuses one build. */
  def storeDir(docs: DataFrame, corpusPath: String, idCol: String,
               textCol: String, variant: String = ""): String =
    cachedBuild(docs.sparkSession, corpusPath,
        s"$idCol|$textCol|$variant", "bm25_store") {
      tmp => seed(docs, idCol, textCol, tmp)
    }

  /** Build (or reuse) a store grown INCREMENTALLY from `parts` — seed from
    * the first slice, then one appended epoch per remaining slice, with the
    * LAST epoch deliberately re-delivered (the at-least-once replay the
    * exactly-once protocol must absorb). Content-keyed like [[storeDir]];
    * backs `text_bm25_appended`, whose probe must hash-match the
    * whole-corpus DuckDB twin — incremental build ≡ batch build ≡ oracle. */
  def appendedStoreDir(parts: Seq[DataFrame], corpusPath: String,
                       idCol: String, textCol: String,
                       variant: String = ""): String = {
    require(parts.nonEmpty, "appendedStoreDir needs at least one slice")
    cachedBuild(parts.head.sparkSession, corpusPath,
        s"$idCol|$textCol|$variant", "bm25_store_app") { tmp =>
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
    val digest = AdaptCache.digestOf(Seq(s"${prefix}_v2", corpusPath,
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
