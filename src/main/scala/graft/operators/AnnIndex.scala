package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.NearestCentroids
import graft.functions.VecFns

/** Persisted IVF index: the build-once / query-many ANN workflow a 100 TB
  * corpus actually runs (FAISS's on-disk IVF layout re-expressed as a
  * partitioned parquet table).
  *
  * Build = ONE pass: train the coarse quantizer
  * ([[graft.ml.KMeansQuantizer]]), assign every vector with the plan-constant
  * [[NearestCentroids]] kernel (narrow projection, no join), and write the
  * inverted file `partitionBy(list_id)` next to a centroids sidecar —
  * atomically (temp dir + rename), keyed by a content digest like the S7
  * cache, so rebuilding is a no-op until the corpus or params change.
  *
  * Query = read ONLY the probed partitions: the probe set is known on the
  * driver (|Q|·nprobe ints, model-sized), so `list_id IN (...)` is a STATIC
  * partition filter — the scan touches nprobe/nlist of the data files and
  * the plan shows it (`PartitionFilters` on the parquet scan, pinned in
  * PlanSpec). Scoring joins the probed lists against the broadcast query
  * set; the rank is the bounded [[TopK]] aggregator. */
object AnnIndex {

  /** Build (or reuse) the persisted index for `corpus`; returns its dir.
    * `corpusPath` keys the content digest (the same staleness contract as
    * [[AdaptCache.memo]]: regenerating the corpus in place is a miss). */
  def ivfIndexDir(corpus: DataFrame, corpusPath: String, idCol: String,
                  vecCol: String, nlist: Int = 16, iters: Int = 3,
                  seed: Long = 42L, variant: String = ""): String = {
    val spark = corpus.sparkSession
    val digest = AdaptCache.digestOf(Seq(corpusPath,
      AdaptCache.corpusToken(spark, corpusPath), idCol, vecCol,
      nlist.toString, iters.toString, seed.toString, variant))
    val dir = new Path(AdaptCache.cacheRoot(spark), s"ivf_index_$digest")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) AdaptCache.synchronized {
      if (!fs.exists(dir)) {
        val tmp = new Path(dir.getParent, s".ivf_index_$digest.tmp")
        fs.delete(tmp, true)
        buildIvfInto(corpus, idCol, vecCol, nlist, iters, seed, tmp.toString)
        if (!fs.rename(tmp, dir)) fs.delete(tmp, true) // lost a race: reuse
      }
    }
    dir.toString
  }

  /** Build a raw-vector IVF index's lists + centroids under `dest` — the
    * body of [[ivfIndexDir]] without the content-digest/cache-root
    * placement, for callers that own the destination layout (the sharded
    * front door's per-shard indexes, [[graft.streaming.ShardedDoor]]).
    * NOT atomic by itself: write into a temp dir and rename, as both
    * callers do. */
  private[graft] def buildIvfInto(corpus: DataFrame, idCol: String,
                                  vecCol: String, nlist: Int, iters: Int,
                                  seed: Long, dest: String): Unit = {
    val spark = corpus.sparkSession
    val cents = graft.ml.KMeansQuantizer.fit(corpus, idCol, vecCol,
      nlist, iters, seed)
    corpus.select(
        element_at(NearestCentroids.column(col(vecCol), cents, 1), 1)
          .as("list_id"),
        col(idCol).as("cid"), col(vecCol).as("cvec"))
      .repartition(col("list_id")) // one file per list, not per (task, list)
      .write.partitionBy("list_id").parquet(s"$dest/lists")
    val spark2 = spark
    import spark2.implicits._
    cents.zipWithIndex
      .map { case (c, i) => (i + 1, c.toSeq) }.toSeq
      .toDF("list_id", "cvec")
      .coalesce(1).write.parquet(s"$dest/centroids")
  }

  /** Build (or reuse) a persisted IVF+PQ index: the on-disk FAISS IVFPQ
    * layout. Unlike [[ivfIndexDir]] — whose inverted lists store raw vectors —
    * the lists here store only (cid, c0..c{m-1}) PQ codes, shrinking on-disk
    * bytes by ~dim·8 / m (≈ 64× at dim=64, m=8): the layout that makes a
    * 100 TB corpus' index fit on local disks. Codebook + coarse centroids
    * ride as model-sized sidecars. One corpus pass: coarse-assign,
    * residual-compute ([[residualCol]]) and PQ-encode in the SAME narrow
    * projection, then `partitionBy(list_id)`; the codebook is trained on
    * the residuals it encodes (IVFADC), so the codes spend their bits on
    * local displacement, not on position the coarse cells already capture.
    * Content-digest keyed (format token `res1`) and atomically renamed
    * like [[ivfIndexDir]]. */
  /** residual = vec − coarse_centroid(list_id): what the PQ codes encode
    * (Jégou et al. 2011's IVFADC). Residuals cluster around the origin
    * regardless of which cell a vector sits in, so one codebook spends its
    * ksub^m codewords on the local displacement instead of on the global
    * position the coarse quantizer already captured — materially better
    * codes at identical bytes. The centroid table rides as a plan-constant
    * array literal (model-sized); the subtraction is one codegen'd
    * zip_with. */
  private def residualCol(vec: Column, cents: Array[Array[Double]],
                          listId: Column): Column =
    zip_with(vec,
      element_at(typedLit(cents.map(_.toSeq).toSeq), listId.cast("int")),
      (a, c) => a - c)

  def ivfPqIndexDir(corpus: DataFrame, corpusPath: String, idCol: String,
                    vecCol: String, nlist: Int = 16, m: Int = 8,
                    ksub: Int = 16, iters: Int = 3, seed: Long = 42L,
                    variant: String = ""): String = {
    val spark = corpus.sparkSession
    val digest = AdaptCache.digestOf(Seq(corpusPath,
      AdaptCache.corpusToken(spark, corpusPath), idCol, vecCol,
      nlist.toString, m.toString, ksub.toString, iters.toString,
      seed.toString, "res1", variant)) // res1: residual-coded lists format
    val dir = new Path(AdaptCache.cacheRoot(spark), s"ivfpq_index_$digest")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) AdaptCache.synchronized {
      if (!fs.exists(dir)) {
        val cents = graft.ml.KMeansQuantizer.fit(corpus, idCol, vecCol,
          nlist, iters, seed)
        val tmp = new Path(dir.getParent, s".ivfpq_index_$digest.tmp")
        fs.delete(tmp, true)
        val assigned = corpus.select(
            element_at(NearestCentroids.column(col(vecCol), cents, 1), 1)
              .as("list_id"),
            col(idCol).as("cid"),
            col(vecCol).cast("array<double>").as("cvec"))
          .withColumn("res", residualCol(col("cvec"), cents, col("list_id")))
          // one corpus pass: fitProduct makes iters+1 passes over its input
          // and the lists write one more — without the checkpoint each pass
          // would re-run the coarse assignment + residual subtraction
          .localCheckpoint()
        // codebook trained on the residuals it will encode
        val cb = graft.ml.KMeansQuantizer.fitProduct(assigned, "cid", "res",
          m, ksub, iters, seed)
        require(cb.length * cb(0)(0).length == cents(0).length,
          s"trained codebook ${cb.length}x${cb(0)(0).length} does not cover " +
            s"dim ${cents(0).length} — a build must never persist bad codes")
        val codeCols = Similarity.pqCodeCols(col("res"), cb)
          .map(_.cast("int"))
        assigned.select(Seq(col("list_id"), col("cid")) ++ codeCols: _*)
          .repartition(col("list_id"))
          .write.partitionBy("list_id").parquet(s"$tmp/lists")
        val spark2 = spark
        import spark2.implicits._
        cents.zipWithIndex
          .map { case (c, i) => (i + 1, c.toSeq) }.toSeq
          .toDF("list_id", "cvec")
          .coalesce(1).write.parquet(s"$tmp/centroids")
        cb.zipWithIndex.flatMap { case (sub, b) =>
            sub.zipWithIndex.map { case (cent, j) => (b, j, cent.toSeq) }
          }.toSeq
          .toDF("b", "j", "cent")
          .coalesce(1).write.parquet(s"$tmp/codebook")
        if (!fs.rename(tmp, dir)) fs.delete(tmp, true) // lost a race: reuse
      }
    }
    dir.toString
  }

  /** Top-k over the persisted IVF+PQ index: ADC over the probed lists' codes
    * builds a `rerank`-deep shortlist per query (the index's raw bytes never
    * hold a vector), then the shortlist — |Q|·rerank ids, broadcast — is
    * re-scored with exact cosine against `corpus` (the FAISS refine stage):
    * one more corpus scan with a broadcast semi-join, raw vectors never
    * shuffle. Returns (qid, rk, cid, cos). */
  /** The index's coarse centroids, ordered by list id (model-sized). */
  private def loadCentroids(spark: SparkSession,
                            indexDir: String): Array[Array[Double]] =
    spark.read.parquet(s"$indexDir/centroids").orderBy("list_id")
      .select(col("cvec").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)

  /** The index's PQ codebook as cb(b)(j) = sub-centroid (model-sized). */
  private def loadCodebook(spark: SparkSession,
                           indexDir: String): Array[Array[Array[Double]]] = {
    val cbRows = spark.read.parquet(s"$indexDir/codebook")
      .orderBy("b", "j")
      .select(col("b"), col("j"), col("cent").cast("array<double>")).collect()
    val m = cbRows.map(_.getInt(0)).max + 1
    val ksub = cbRows.map(_.getInt(1)).max + 1
    val cb = Array.ofDim[Array[Double]](m, ksub)
    cbRows.foreach(r => cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    cb
  }

  def queryIvfPq(spark: SparkSession, indexDir: String, corpus: DataFrame,
                 queries: DataFrame, qidCol: String, idCol: String,
                 vecCol: String, k: Int, nprobe: Int = 4,
                 rerank: Int = 50): DataFrame = {
    val cents = loadCentroids(spark, indexDir)
    val cb = loadCodebook(spark, indexDir)
    val m = cb.length
    val ksub = cb(0).length
    val qRows = queries.select(col(qidCol).cast("long").as("qid"),
        col(vecCol).cast("array<double>").as("qvec"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(qRows.nonEmpty, "queryIvfPq requires a non-empty query set")
    // Probe set is driver-known (|Q|·nprobe ints) → static partition filter.
    val probed = qRows.flatMap { case (_, qv) =>
      NearestCentroids.nearest(qv, cents, math.min(nprobe, cents.length))
    }.distinct
    val lists = spark.read.parquet(s"$indexDir/lists")
      .filter(col("list_id").isin(probed.map(Int.box): _*))
    // Codes encode residuals, so the ADC table is per (query, probed list):
    // dtable over (q − centroid_l) against the residual codebook. Still
    // |Q|·nprobe·m·ksub doubles — model-sized, broadcastable.
    val qProbe = spark.createDataFrame(
        qRows.flatMap { case (qid, qv) =>
          NearestCentroids.nearest(qv, cents, math.min(nprobe, cents.length))
            .map { l =>
              val qres = Array.tabulate(qv.length)(i => qv(i) - cents(l - 1)(i))
              (qid, l, Similarity.adcTableFor(qres, cb))
            }
        }.toSeq).toDF("qid", "list_id", "dtable")
    // ADC over probed codes only: the join key is the partition column, the
    // broadcast side is model-sized, and each row costs m array lookups.
    val scored = lists.join(broadcast(qProbe), Seq("list_id"))
      .select(col("qid"), col("cid"),
        (-Similarity.adcDist(m, ksub)).as("cos"))
    val shortlist = TopK.topKPerQuery(scored, rerank).select("qid", "cid")
    // Refine: exact cosine on just the shortlist vectors.
    val q = queries.select(col(qidCol).cast("long").as("qid"),
      col(vecCol).as("qvec"))
    val cand = shortlist.join(q, Seq("qid"))
    val rescored = corpus
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cvec"))
      .join(broadcast(cand), Seq("cid"))
      .select(col("qid"), col("cid"),
        VecFns.cosine(col("qvec"), col("cvec")).as("cos"))
    TopK.topKPerQuery(rescored, k)
  }

  /** Where every sink's epoch stage publishes: the `lists/list_id=K/`
    * partitions. */
  private val Lists = Seq("lists" -> "list_id")

  /** Mount a sink on its epoch namespace: heal a crashed compact's aside,
    * then publish or discard what a crashed epoch left staged. */
  private def mount(spark: SparkSession,
                    commit: EpochLog.Commit): EpochLog.Commit = {
    graft.Tuning.mountDefaults(spark) // the index reads list on the driver
    val fs = fsOf(spark, commit.dir)
    TableSwap.heal(fs, commit.dir, "lists")
    commit.heal(fs)
    commit
  }

  /** The appenders' epoch namespace: stages `.ingested_stage_<e>`, markers
    * `_ingested_epoch_<e>` (one maintainer stream per index, so no tag). */
  private def mountAppender(spark: SparkSession,
                            indexDir: String): EpochLog.Commit =
    mount(spark, EpochLog.Commit(indexDir, ".ingested_stage_",
      "_ingested_epoch_", Lists))

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Streaming index maintenance: a `writeStream.foreachBatch` sink that
    * assigns each newly ingested micro-batch with the index's own coarse
    * centroids (read once per sink, model-sized) and appends it into the
    * partitioned inverted file — closing the ingest loop on the build-once /
    * query-many index. Each append adds new parquet files under the matching
    * `list_id=` partition dirs; existing files are never rewritten, and
    * queries pick the new rows up on their next scan (plain
    * partition-discovery semantics — no index rebuild). Vectors are cast to
    * `array<double>`, the lists' built schema.
    *
    * Exactly-once under foreachBatch's at-least-once re-delivery through
    * [[EpochLog.Commit]]: the epoch's list files stage, its marker commits,
    * then they move into the lists. A replayed epoch that finds its marker
    * is skipped, and a crash before the marker discards the stage at the
    * next mount — a replayed batch never doubles its vectors in the lists,
    * where duplicate ids would crowd true neighbors out of top-k results.
    * One maintainer stream per index (epoch ids are the stream's own).
    * Re-centering over drift: watch with
    * [[graft.streaming.StreamOps.StreamingKMeans]] and either rebuild under
    * a new variant token or swap in place with [[recenter]] (between
    * epochs, appender down) — the screen sink automates the latter. */
  def ivfAppender(spark: SparkSession, indexDir: String, idCol: String,
                  vecCol: String,
                  autoCompactEvery: Int = AutoCompact.DefaultCheckEvery,
                  autoCompactFactor: Int = AutoCompact.DefaultFactor):
      (DataFrame, Long) => Unit = {
    val commit = mountAppender(spark, indexDir)
    val cents = loadCentroids(spark, indexDir)
    val auto = new AutoCompact(autoCompactEvery, autoCompactFactor)
    (batch: DataFrame, epoch: Long) => {
      commit.run(fsOf(batch.sparkSession, indexDir), batch, epoch) { stage =>
        batch.select(col(idCol).cast("long").as("cid"),
            col(vecCol).cast("array<double>").as("cvec"))
          .select(
            element_at(NearestCentroids.column(col("cvec"), cents, 1), 1)
              .as("list_id"),
            col("cid"), col("cvec"))
          .repartition(col("list_id")) // one file per touched list per epoch
          .write.partitionBy("list_id").parquet(s"$stage/lists")
      } { _ =>
        // epoch fully committed: the between-epochs single-writer window
        auto.tick(listFileCount(spark, indexDir), cents.length)(
          compact(spark, indexDir))
      }
    }
  }

  /** Streaming maintenance for the PQ-coded index ([[ivfPqIndexDir]]): same
    * epoch protocol and marker namespace as [[ivfAppender]], but each appended
    * row is the coarse list assignment plus `m` sub-quantizer codes — the
    * ingested vector itself never lands in the index, so on-disk growth
    * stays ~50–100× below raw-vector appends at ingest rate. The refine
    * stage ([[queryIvfPq]]) re-scores against the caller's corpus table,
    * which the ingest pipeline appends separately; codebook and centroids
    * are read once per sink (model-sized, plan constants thereafter).
    * Codes drift as the data does — when [[graft.streaming.StreamOps.StreamingKMeans]]
    * reports centroid wander, run [[recenterPq]] between epochs (the PQ
    * codebook is trained on residuals, so an in-place [[recenter]] of the
    * coarse layer alone would orphan the codes — recenterPq retrains
    * coarse + codebook and re-encodes as one staged swap). */
  def ivfPqAppender(spark: SparkSession, indexDir: String, idCol: String,
                    vecCol: String,
                    autoCompactEvery: Int = AutoCompact.DefaultCheckEvery,
                    autoCompactFactor: Int = AutoCompact.DefaultFactor):
      (DataFrame, Long) => Unit = {
    val commit = mountAppender(spark, indexDir)
    val cents = loadCentroids(spark, indexDir)
    val cb = loadCodebook(spark, indexDir)
    val auto = new AutoCompact(autoCompactEvery, autoCompactFactor)
    (batch: DataFrame, epoch: Long) => {
      commit.run(fsOf(batch.sparkSession, indexDir), batch, epoch) { stage =>
        val vec = col(vecCol).cast("array<double>")
        val assigned = batch.select(
            element_at(NearestCentroids.column(vec, cents, 1), 1)
              .as("list_id"),
            col(idCol).cast("long").as("cid"), vec.as("cvec"))
          .withColumn("res", residualCol(col("cvec"), cents, col("list_id")))
        val codeCols = Similarity.pqCodeCols(col("res"), cb).map(_.cast("int"))
        assigned.select(Seq(col("list_id"), col("cid")) ++ codeCols: _*)
          .repartition(col("list_id")) // one file per touched list per epoch
          .write.partitionBy("list_id").parquet(s"$stage/lists")
      } { _ =>
        // epoch fully committed: the between-epochs single-writer window
        auto.tick(listFileCount(spark, indexDir), cents.length)(
          compact(spark, indexDir))
      }
    }
  }

  /** [[ivfPqAppender]] that RECENTERS ITSELF under embedding drift — the
    * [[recenteringScreenSink]] discipline applied to the PQ-coded
    * retrieval index, closing the last store-maintenance loop the engine
    * had open: the raw-vector screen self-recenters, the PQ index now has
    * the [[recenterPq]] verb, and this sink wires the §2.6 detector to it
    * so the index repairs itself instead of waiting for an operator.
    *
    * Drift signal: per ingested vector, a quantization-miss Bernoulli —
    * cosine to its nearest coarse centroid < `fitCosine` — folded into a
    * driver-side [[Drift.Ddm]] as two deterministic runs (zeros before
    * ones). The feed is the epoch's post-commit step: a re-delivered
    * epoch feeds nothing, and a crash between the append commit and the
    * feed loses only that epoch's detector samples (an undercount the
    * detector absorbs — it just fires an epoch later). On a DDM fire whose
    * trigger error rate also clears `minErrRate`, [[recenterPq]] retrains
    * coarse + codebook + codes in the same between-epochs single-writer
    * window and swaps all three sub-tables as one staged [[Takedown]]
    * commit; the sink then reloads both model sidecars and resets the
    * detector (new regime, fresh baseline). Epoch markers are untouched —
    * replay idempotence survives the rebuild. Single maintainer stream per
    * index, sharing [[ivfPqAppender]]'s marker namespace. */
  def recenteringPqAppender(spark: SparkSession, indexDir: String,
                            idCol: String, vecCol: String,
                            fitCosine: Double = 0.7,
                            minErrRate: Double = 0.3,
                            kmIters: Int = 3, kmSeed: Long = 42L,
                            autoCompactEvery: Int =
                              AutoCompact.DefaultCheckEvery,
                            autoCompactFactor: Int = AutoCompact.DefaultFactor,
                            onRebuild: Long => Unit = _ => ()):
      (DataFrame, Long) => Unit = {
    Takedown.heal(spark, indexDir) // a crashed recenter owns all three subs
    val commit = mountAppender(spark, indexDir)
    val cents = new java.util.concurrent.atomic.AtomicReference(
      loadCentroids(spark, indexDir))
    val cb = new java.util.concurrent.atomic.AtomicReference(
      loadCodebook(spark, indexDir))
    val ddm = new Drift.Ddm()
    val auto = new AutoCompact(autoCompactEvery, autoCompactFactor)
    (batch: DataFrame, epoch: Long) => {
      commit.run(fsOf(batch.sparkSession, indexDir), batch, epoch) { stage =>
        val c = cents.get()
        val vec = col(vecCol).cast("array<double>")
        val assigned = batch.select(
            element_at(NearestCentroids.column(vec, c, 1), 1).as("list_id"),
            col(idCol).cast("long").as("cid"), vec.as("cvec"))
          .withColumn("res", residualCol(col("cvec"), c, col("list_id")))
          .localCheckpoint() // two consumers: the append and the drift feed
        val codeCols = Similarity.pqCodeCols(col("res"), cb.get())
          .map(_.cast("int"))
        assigned.select(Seq(col("list_id"), col("cid")) ++ codeCols: _*)
          .repartition(col("list_id")) // one file per touched list per epoch
          .write.partitionBy("list_id").parquet(s"$stage/lists")
        (assigned, c)
      } { case (assigned, c) =>
        // epoch committed — now the drift feed (see scaladoc for ordering)
        val centTable = typedLit(c.map(_.toSeq).toSeq)
        val fitRow = assigned.select(
            (VecFns.cosine(col("cvec"),
              element_at(centTable, col("list_id").cast("int")))
              < fitCosine).cast("long").as("miss"))
          .agg(sum("miss"), count(lit(1))).head()
        val bad = if (fitRow.isNullAt(0)) 0L else fitRow.getLong(0)
        val n = fitRow.getLong(1)
        var fire = ddm.addRun(0.0, n - bad)
        if (ddm.addRun(1.0, bad)) fire = true
        if (fire && n > 0 && bad.toDouble / n >= minErrRate) {
          cents.set(recenterPq(spark, indexDir, kmIters, kmSeed + epoch))
          cb.set(loadCodebook(spark, indexDir))
          ddm.reset()
          onRebuild(epoch)
        }
        auto.tick(listFileCount(spark, indexDir), cents.get().length)(
          compact(spark, indexDir))
        // release the pinned batch (appends recur on an unbounded stream)
        try assigned.queryExecution.logical.collect {
          case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
        }.foreach(_.unpersist(blocking = false))
        catch { case _: Throwable => () }
      }
    }
  }

  // ------------------------------------------------------ semantic screen

  /** Batch-vs-store SEMANTIC near-dup probe on the pruned path: assign each
    * probe vector its `nprobe` nearest coarse cells, read ONLY those list
    * partitions (the probe set is driver-known — ≤ nlist ints — so
    * `list_id IN (...)` is a STATIC partition filter, the [[queryIvf]]
    * discipline), and flag every probe id with ANY stored vector at cosine
    * ≥ `threshold`. Returns distinct flagged ids as (`id`). The probe side
    * broadcasts (batch-sized by contract); the store never re-keys — the
    * only corpus-touching work is the pruned list scan.
    *
    * Approximation contract: like every IVF probe, recall is governed by
    * `nprobe` — a duplicate at high cosine lands in its twin's own nearest
    * cell except within quantizer-boundary noise, which extra probes cover
    * (the reason SemDeDup [`dedup_semantic`] compares within coarse
    * clusters at all). */
  def probeStoredVectors(spark: SparkSession, indexDir: String,
                         queries: DataFrame, qidCol: String, vecCol: String,
                         threshold: Double, nprobe: Int = 4): DataFrame = {
    val cents = loadCentroids(spark, indexDir)
    val qLists = queries.select(
      col(qidCol).cast("long").as("qid"),
      col(vecCol).cast("array<double>").as("qvec"),
      explode(NearestCentroids.column(col(vecCol).cast("array<double>"),
        cents, math.min(nprobe, cents.length))).as("list_id"))
    val probed = qLists.select("list_id").distinct().collect()
      .map(_.getAs[Number](0).intValue) // ≤ nlist rows by construction
    val lists = spark.read.parquet(s"$indexDir/lists")
      .filter(col("list_id").isin(probed.map(Int.box): _*))
    lists.join(broadcast(qLists), Seq("list_id"))
      .filter(VecFns.cosine(col("qvec"), col("cvec")) >= threshold)
      .select(col("qid").as("id")).distinct()
  }

  /** foreachBatch sink SCREENING each micro-batch's embeddings against the
    * persisted IVF index before admitting: documents whose vector is a
    * semantic near-duplicate (cosine ≥ `threshold`) of anything already
    * indexed are dropped; survivors' vectors stage-commit-publish into the
    * inverted file and the surviving rows (original columns) flow to `out`.
    * The third front door: [[FingerprintStore.dedupSink]] kills the
    * byte-identical re-delivery, [[SignatureStore.screenSink]] the
    * one-token re-crawl, and this screen the PARAPHRASE — same meaning,
    * disjoint shingles, near-identical embedding — that sails past both
    * (the SemDeDup observation, applied at ingest time instead of as a
    * batch sweep).
    *
    * Per epoch the batch probes via [[probeStoredVectors]] (statically
    * pruned list scan, probe cost tracks the batch's cell footprint × list
    * depth, never whole-store age) and survivors append under the shared
    * stage→marker→publish protocol ([[EpochLog.Commit]]), because a screen
    * must never re-probe a store containing its own epoch's staged
    * vectors: a replay from any
    * pre-marker crash re-probes a store WITHOUT this epoch's vectors and
    * recomputes identical survivors (never a self-match); a post-marker
    * crash replays as a heal that finishes the publish. Near-dups WITHIN
    * one batch admit together (screen compares batch vs store; intra-batch
    * semantic dedup at micro-batch size is the batch pipeline's job —
    * `dedup_semantic`). Single screen stream per index; re-centering over
    * drift is a rebuild under a new variant token, as for the appenders. */
  def semanticScreenSink(spark: SparkSession, indexDir: String,
                         idCol: String, vecCol: String, threshold: Double,
                         nprobe: Int = 4, streamTag: String = "stream",
                         autoCompactEvery: Int = AutoCompact.DefaultCheckEvery,
                         autoCompactFactor: Int = AutoCompact.DefaultFactor)
                        (out: DataFrame => Unit): (DataFrame, Long) => Unit = {
    val commit = mountScreen(spark, indexDir, streamTag)
    val cents = loadCentroids(spark, indexDir)
    val auto = new AutoCompact(autoCompactEvery, autoCompactFactor)
    screenEpoch(spark, idCol, vecCol, threshold, nprobe, commit, cents,
      auto)(out, _ => ())
  }

  /** The screens' epoch namespace on stream `tag`:
    * `.annscr_stage_<tag>_<e>`, `_annscr_<tag>_epoch_<e>`. */
  private def mountScreen(spark: SparkSession, indexDir: String,
                          tag: String): EpochLog.Commit =
    mount(spark, EpochLog.commit(indexDir, "annscr", tag, Lists))

  /** One screen trigger (shared by [[semanticScreenSink]] and
    * [[recenteringScreenSink]]): probe → `out(survivors)` → stage, commit,
    * publish → auto-compact tick → `after(survivors)`. A re-delivered (or
    * empty) epoch reaches neither, so a caller's post-epoch bookkeeping
    * (the recentering sink's drift feed) never double-counts it. */
  private def screenEpoch(spark: SparkSession, idCol: String, vecCol: String,
                          threshold: Double, nprobe: Int,
                          commit: EpochLog.Commit,
                          cents: Array[Array[Double]], auto: AutoCompact)
                         (out: DataFrame => Unit, after: DataFrame => Unit)
                         (batch: DataFrame, epoch: Long): Unit = {
    val indexDir = commit.dir
    commit.run(fsOf(batch.sparkSession, indexDir), batch, epoch) { stage =>
      val b = batch.localCheckpoint()
      val flagged = probeStoredVectors(spark, indexDir, b, idCol, vecCol,
          threshold, nprobe)
        .select(col("id").as(idCol)).localCheckpoint()
      val survivors = b.join(broadcast(flagged), Seq(idCol), "left_anti")
        .localCheckpoint()
      // CONTRACT: a pre-marker crash replays this epoch and re-invokes
      // `out` with identical survivors — `out` must be idempotent under
      // epoch re-delivery (marker-protected, like every sink here).
      out(survivors)
      survivors.select(col(idCol).cast("long").as("cid"),
          col(vecCol).cast("array<double>").as("cvec"))
        .select(
          element_at(NearestCentroids.column(col("cvec"), cents, 1), 1)
            .as("list_id"),
          col("cid"), col("cvec"))
        .repartition(col("list_id")) // one file per touched list per epoch
        .write.partitionBy("list_id").parquet(s"$stage/lists")
      survivors
    } { survivors =>
      // epoch fully committed: the between-epochs single-writer window
      auto.tick(listFileCount(spark, indexDir), cents.length)(
        compact(spark, indexDir))
      after(survivors)
    }
  }

  /** [[semanticScreenSink]] that RECENTERS ITSELF under embedding drift —
    * closing the loop between the engine's drift-detection heritage (DDM,
    * SURVEY §2.6) and its store layer. The plain screen's coarse centroids
    * are frozen at mount; when the embedding distribution drifts (a new
    * encoder version, a topic shift), fresh vectors quantize badly — they
    * crowd into a few far-away cells, the probe's nprobe cells stop
    * covering true neighbors, and paraphrase recall decays. The documented
    * remedy was a MANUAL rebuild under a new variant token; this sink
    * watches for the drift and performs the rebuild itself.
    *
    * Drift signal: per admitted survivor, a Bernoulli "quantization miss"
    * — cosine to its nearest coarse centroid < `fitCosine` — fed into a
    * driver-side [[Drift.Ddm]] (zeros before ones within a trigger, a
    * fixed order so the scan is deterministic). Re-delivered epochs feed
    * NOTHING ([[screenEpoch]] skips its post-commit step), so the
    * detector composes with the marker replay discipline. On a DDM drift
    * signal whose trigger
    * error rate also clears `minErrRate` (one bad doc after a long clean
    * run must not thrash a petabyte index), the sink — in the SAME
    * between-epochs single-writer window auto-compaction already owns —
    * retrains k-means on the store's CURRENT vectors and swaps lists +
    * centroids under the staged [[Takedown]] protocol: both sub-tables
    * rewrite aside, a marker commits them, and every crash point heals
    * (pre-marker → old index intact, the detector simply refires later;
    * post-marker → the next mount's [[Takedown.heal]] finishes the swap) —
    * the [[graft.streaming.ModelRefit]] publish discipline (train, persist,
    * then swap; never a half-built model) applied to an on-disk index.
    * Epoch markers are untouched, so replay idempotence survives the
    * rebuild. The DDM resets after a rebuild (new regime, fresh baseline).
    *
    * `onRebuild(epoch)` is telemetry (tests, ops counters) — called after
    * the swap commits. Single screen stream per index, as ever. */
  def recenteringScreenSink(spark: SparkSession, indexDir: String,
                            idCol: String, vecCol: String, threshold: Double,
                            nprobe: Int = 4, streamTag: String = "stream",
                            fitCosine: Double = 0.7,
                            minErrRate: Double = 0.3,
                            kmIters: Int = 3, kmSeed: Long = 42L,
                            autoCompactEvery: Int =
                              AutoCompact.DefaultCheckEvery,
                            autoCompactFactor: Int = AutoCompact.DefaultFactor,
                            onRebuild: Long => Unit = _ => ())
                           (out: DataFrame => Unit): (DataFrame, Long) => Unit = {
    Takedown.heal(spark, indexDir) // a crashed recenter owns lists+centroids
    val commit = mountScreen(spark, indexDir, streamTag)
    val cents = new java.util.concurrent.atomic.AtomicReference(
      loadCentroids(spark, indexDir))
    val ddm = new Drift.Ddm()
    val auto = new AutoCompact(autoCompactEvery, autoCompactFactor)
    (batch: DataFrame, epoch: Long) => {
      val c = cents.get()
      screenEpoch(spark, idCol, vecCol, threshold, nprobe, commit, c,
          auto)(out, { survivors =>
        val vec = col(vecCol).cast("array<double>")
        val centTable = typedLit(c.map(_.toSeq).toSeq)
        val fitRow = survivors.select(
            (VecFns.cosine(vec, element_at(centTable,
              element_at(NearestCentroids.column(vec, c, 1), 1)))
              < fitCosine).cast("long").as("miss"))
          .agg(sum("miss"), count(lit(1))).head()
        val bad = if (fitRow.isNullAt(0)) 0L else fitRow.getLong(0)
        val n = fitRow.getLong(1)
        // two-segment batch feed, zeros before ones (deterministic order):
        // the detector's addRun keeps the reference recurrence bit-exact
        var fire = ddm.addRun(0.0, n - bad)
        if (ddm.addRun(1.0, bad)) fire = true
        if (fire && n > 0 && bad.toDouble / n >= minErrRate) {
          cents.set(rebuildScreen(spark, indexDir, c.length, kmIters,
            kmSeed + epoch))
          ddm.reset()
          onRebuild(epoch)
        }
      })(batch, epoch)
    }
  }

  /** Manual recenter — the maintenance entry behind
    * [[recenteringScreenSink]]'s drift path, for operators who want to
    * retrain on their own schedule (a new encoder version shipped, a
    * planned rebuild window): retrain k-means at the index's CURRENT nlist
    * on its current vectors and swap lists + centroids as one staged
    * [[Takedown]] commit. Run between epochs with the screen down — the
    * single-writer compact contract; epoch markers are untouched.
    * Compact-class cost (one fit pass × iters + one full rewrite),
    * measured at two decades in BENCH_maint.json. */
  def recenter(spark: SparkSession, indexDir: String, kmIters: Int = 3,
               seed: Long = 42L): Array[Array[Double]] = {
    Takedown.heal(spark, indexDir)
    TableSwap.heal(fsOf(spark, indexDir), indexDir, "lists")
    val nlist = loadCentroids(spark, indexDir).length
    rebuildScreen(spark, indexDir, nlist, kmIters, seed)
  }

  /** Recenter verb for the PQ-coded (residual IVFADC) index — the
    * [[recenter]] protocol applied to the layout whose lists hold CODES,
    * not vectors. Under the same embedding drift that decays the raw
    * screen, this index decays TWICE: freshly appended vectors crowd into
    * far coarse cells AND their residuals fall outside what the codebook's
    * codewords cover, so ADC distances go mushy and the shortlist stops
    * containing true neighbors; until this verb the only remedy was a full
    * manual rebuild under a new variant token (discarding epoch markers
    * and the dir identity).
    *
    * Protocol: reconstruct every stored vector from its own codes — coarse
    * centroid + per-subspace codeword, the PQ decode, exact up to
    * quantization error — then retrain the coarse quantizer on the
    * reconstructions, recompute residuals against the NEW centroids,
    * retrain the codebook on those residuals (IVFADC: bits spend on local
    * displacement), re-encode, and swap lists + centroids + codebook as
    * ONE staged [[Takedown]] commit: a pre-marker crash leaves the old
    * index intact, a post-marker crash finishes at the next mount's heal —
    * identical crash surface to [[recenter]], one more sub-table. Training
    * on decoded vectors is the FAISS reconstruct-and-retrain shape;
    * quantization noise is near-zero-mean within a cell, so cluster means
    * track the true drift. Run between epochs with the appender down
    * (single-writer); epoch markers are untouched. m/ksub are preserved
    * from the stored codebook (the on-disk bytes-per-code contract).
    * Returns the new coarse centroids. Cost is compact-class: one decode
    * pass + k-means fits (driver-sampled) + one full list rewrite —
    * measured at two store decades in BENCH_maint.json (`ann_pq_recenter`). */
  def recenterPq(spark: SparkSession, indexDir: String, kmIters: Int = 3,
                 seed: Long = 42L): Array[Array[Double]] = {
    Takedown.heal(spark, indexDir)
    TableSwap.heal(fsOf(spark, indexDir), indexDir, "lists")
    val cents = loadCentroids(spark, indexDir)
    val cb = loadCodebook(spark, indexDir)
    val m = cb.length
    val ksub = cb(0).length
    // decode: vec ≈ coarse(list_id) + concat_b cb(b)(code_b) — codes are
    // 1-based (NearestCentroids indices), element_at is 1-based: aligned
    val cbLits = (0 until m).map(b => typedLit(cb(b).map(_.toSeq).toSeq))
    val recon = zip_with(
      element_at(typedLit(cents.map(_.toSeq).toSeq),
        col("list_id").cast("int")),
      concat((0 until m).map(b => element_at(cbLits(b), col(s"c$b"))): _*),
      (coarse, res) => coarse + res)
    // pin the pre-rebuild reconstruction: the swap rewrites what we read
    val cur = spark.read.parquet(s"$indexDir/lists")
      .select(col("cid"), recon.as("cvec")).localCheckpoint()
    val newCents = graft.ml.KMeansQuantizer.fit(cur, "cid", "cvec",
      cents.length, kmIters, seed)
    val assigned = cur.select(
        element_at(NearestCentroids.column(col("cvec"), newCents, 1), 1)
          .as("list_id"),
        col("cid"), col("cvec"))
      .withColumn("res", residualCol(col("cvec"), newCents, col("list_id")))
      .localCheckpoint()
    val newCb = graft.ml.KMeansQuantizer.fitProduct(assigned, "cid", "res",
      m, ksub, kmIters, seed)
    val codeCols = Similarity.pqCodeCols(col("res"), newCb).map(_.cast("int"))
    val spark2 = spark
    import spark2.implicits._
    Takedown.run(spark, indexDir, Seq("lists", "centroids", "codebook")) {
      stage =>
        assigned.select(Seq(col("list_id"), col("cid")) ++ codeCols: _*)
          .repartition(col("list_id"))
          .write.partitionBy("list_id").parquet(s"$stage/lists")
        newCents.zipWithIndex.map { case (cv, i) => (i + 1, cv.toSeq) }.toSeq
          .toDF("list_id", "cvec")
          .coalesce(1).write.parquet(s"$stage/centroids")
        newCb.zipWithIndex.flatMap { case (sub, b) =>
            sub.zipWithIndex.map { case (cent, j) => (b, j, cent.toSeq) }
          }.toSeq
          .toDF("b", "j", "cent")
          .coalesce(1).write.parquet(s"$stage/codebook")
    }
    // release the pinned blocks (the rebuildScreen unpersist discipline)
    Seq(cur, assigned).foreach { df =>
      try df.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }.foreach(_.unpersist(blocking = false))
      catch { case _: Throwable => () }
    }
    newCents
  }

  /** Retrain the coarse quantizer on the store's current vectors and swap
    * lists + centroids as ONE staged commit (see [[recenteringScreenSink]]).
    * Deterministic per (store content, seed). Returns the new centroids. */
  private def rebuildScreen(spark: SparkSession, indexDir: String,
                            nlist: Int, iters: Int,
                            seed: Long): Array[Array[Double]] = {
    // pin the pre-rebuild rows: the swap below rewrites what we read
    val cur = spark.read.parquet(s"$indexDir/lists")
      .select(col("cid"), col("cvec")).localCheckpoint()
    val newCents = graft.ml.KMeansQuantizer.fit(cur, "cid", "cvec", nlist,
      iters, seed)
    val spark2 = spark
    import spark2.implicits._
    Takedown.run(spark, indexDir, Seq("lists", "centroids")) { stage =>
      cur.select(
          element_at(NearestCentroids.column(col("cvec"), newCents, 1), 1)
            .as("list_id"),
          col("cid"), col("cvec"))
        .repartition(col("list_id"))
        .write.partitionBy("list_id").parquet(s"$stage/lists")
      newCents.zipWithIndex.map { case (cv, i) => (i + 1, cv.toSeq) }.toSeq
        .toDF("list_id", "cvec")
        .coalesce(1).write.parquet(s"$stage/centroids")
    }
    // release the pinned blocks (rebuilds recur on an unbounded stream):
    // localCheckpoint blocks live at the RDD layer — the IngestGate
    // unpersistLeaves shape, not Dataset.unpersist
    try cur.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))
    catch { case _: Throwable => () }
    newCents
  }

  /** Compact the inverted file: every appended micro-batch leaves one
    * parquet file per touched list partition, so a long-running ingest
    * turns each list into thousands of tiny files — and the per-query cost
    * becomes file opens, not bytes scanned (the small-file problem; FAISS
    * solves it by merging on-disk segments, log-structured stores by
    * leveled compaction). Rewrites `lists/` with ONE file per list: a
    * hash-repartition on `list_id` puts each list in exactly one task, so
    * the write emits one file per (task, list). Schema-agnostic — raw
    * (cid, cvec) and PQ-coded (cid, c0..cm) layouts compact identically.
    *
    * Swap protocol ([[TableSwap]]): the full rewrite lands in a temp dir
    * first, then two renames publish it; a crash between them is healed by
    * the recovery check on the next call or mount. Run from the maintenance
    * path that owns the index while no appender is active — same
    * single-writer contract as
    * rebuilding under a new variant; epoch markers are untouched, so an
    * appender restarted afterwards still skips ingested epochs. */
  def compact(spark: SparkSession, indexDir: String): Unit =
    rewriteLists(spark, indexDir, exclude = Seq.empty)

  /** Takedown for the vector index: remove the given ids' postings — the
    * content-removal shape [[FingerprintStore.retract]] gives the crawl
    * store, applied to embeddings (a retracted document's vectors must stop
    * being retrievable). [[compact]] with an exclusion list under the same
    * one-atomic-swap protocol; the centroids sidecar is untouched (it is a
    * trained model, not per-doc state). Batch takedowns and run between
    * epochs — the single-writer compact contract. */
  def retract(spark: SparkSession, indexDir: String, ids: Seq[Long]): Unit =
    if (ids.nonEmpty) rewriteLists(spark, indexDir, exclude = ids)

  private def rewriteLists(spark: SparkSession, indexDir: String,
                           exclude: Seq[Long]): Unit = {
    val fs = fsOf(spark, indexDir)
    // crash recovery: a previous compact moved lists/ aside but died before
    // publishing the rewrite — the original data is intact under the aside
    TableSwap.heal(fs, indexDir, "lists")
    val kept0 = spark.read.parquet(s"$indexDir/lists")
    val kept =
      if (exclude.isEmpty) kept0
      // bounded takedown batch: the id list rides as a NOT-IN predicate
      // (never a corpus-sized literal — takedowns are request-sized)
      else kept0.filter(!col("cid").isin(exclude: _*))
    // a retract must never EMPTY the index: an empty partitioned write
    // leaves a schema-less table every later probe chokes on, and the
    // trained centroids would be a model of nothing — deleting the index
    // dir (and reseeding) is the right verb for that request. Loud here
    // beats a silently broken store later.
    if (exclude.nonEmpty)
      require(!kept.isEmpty,
        s"AnnIndex.retract would remove $indexDir's every vector — delete " +
          "the index dir and reseed instead of retracting the whole store")
    TableSwap.rewrite(fs, indexDir, "lists")(tmp =>
      kept.repartition(col("list_id"))
        .write.partitionBy("list_id").parquet(tmp.toString))
  }

  /** Data-file count of the index's inverted file (compaction telemetry —
    * the appender's files-per-epoch growth is what [[compact]] resets). */
  def listFileCount(spark: SparkSession, indexDir: String): Int = {
    val lists = new Path(s"$indexDir/lists")
    val fs = lists.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(lists, true)
    var n = 0
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** Top-k cosine over the persisted index, probing `nprobe` lists per query.
    * Returns (qid, rk, cid, cos) like the other similarity operators. */
  def queryIvf(spark: SparkSession, indexDir: String, queries: DataFrame,
               qidCol: String, vecCol: String, k: Int,
               nprobe: Int = 4): DataFrame = {
    val cents: Array[Array[Double]] = spark.read
      .parquet(s"$indexDir/centroids").orderBy("list_id")
      .select(col("cvec").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec"))
    val qLists = q.select(col("qid"), col("qvec"),
      explode(NearestCentroids.column(col("qvec"), cents,
        math.min(nprobe, cents.length))).as("list_id"))
    // The probe set is driver-known (the query side is small by contract) —
    // materialize it so the list scan carries a static partition filter.
    val probed = qLists.select("list_id").distinct().collect()
      .map(_.getAs[Number](0).intValue)
    val lists = spark.read.parquet(s"$indexDir/lists")
      .filter(col("list_id").isin(probed.map(Int.box): _*))
    val scored = lists.join(broadcast(qLists), Seq("list_id"))
      .select(col("qid"), col("cid"),
        VecFns.cosine(col("qvec"), col("cvec")).as("cos"))
    TopK.topKPerQuery(scored, k)
  }
}
