package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}

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
  * Layout: the inverted file is an [[EpochLog]] table, the fingerprint and
  * signature stores' layout. Its base, `lists/list_id=K/`, is written by the
  * build, [[compact]], [[retract]] and the recenters; its log, `lists_log/`,
  * holds ONE parquet file per committed sink epoch whose rows carry
  * `list_id` as a plain column, and the sinks' auto-compact cadence folds it
  * into the base. The columns are the index's own — (cid, cvec) for a
  * raw-vector index, (cid, c0..c{m-1}) for a PQ one — read from a stored
  * file's footer. Only this object knows that layout: every read goes
  * through [[read]] (heals, then base ∪ log), or for the audit
  * [[readNoHeal]].
  *
  * Query = read ONLY the probed lists: the probe set is known on the
  * driver (|Q|·nprobe ints, model-sized), so `list_id IN (...)` is a STATIC
  * partition filter on the base — the scan touches nprobe/nlist of its data
  * files and the plan shows it (`PartitionFilters` on the parquet scan,
  * pinned in PlanSpec) — and a row-group filter on the log's few files.
  * Scoring joins the probed lists against the broadcast query set; the rank
  * is the bounded [[TopK]] aggregator. */
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
    writeBase(corpus.select(nearestList(col(vecCol), cents).as("list_id"),
      col(idCol).as("cid"), col(vecCol).as("cvec")), s"$dest/lists")
    writeCentroids(spark, cents, s"$dest/centroids")
  }

  /** Write `rows` as a lists base partitioned by `list_id`; the
    * repartition makes it one file per list, not per (task, list). */
  private def writeBase(rows: DataFrame, path: String): Unit =
    rows.repartition(col("list_id")).write.partitionBy("list_id").parquet(path)

  /** The centroids sidecar: (list_id, cvec), list ids 1-based. */
  private def writeCentroids(spark: SparkSession, cents: Array[Array[Double]],
                             path: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i + 1, c.toSeq) }.toSeq
      .toDF("list_id", "cvec").coalesce(1).write.parquet(path)
  }

  /** The codebook sidecar: (b, j, cent), cb(b)(j) = sub-centroid. */
  private def writeCodebook(spark: SparkSession,
                            cb: Array[Array[Array[Double]]], path: String): Unit = {
    import spark.implicits._
    cb.zipWithIndex.flatMap { case (sub, b) =>
        sub.zipWithIndex.map { case (cent, j) => (b, j, cent.toSeq) }
      }.toSeq
      .toDF("b", "j", "cent").coalesce(1).write.parquet(path)
  }

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

  /** The nearest coarse list of `vec` (1-based, the `list_id` key). */
  private def nearestList(vec: Column, cents: Array[Array[Double]]): Column =
    element_at(NearestCentroids.column(vec, cents, 1), 1)

  /** (list_id, cid, c0..c{m-1}): `assigned`'s residuals PQ-encoded. */
  private def pqRows(assigned: DataFrame,
                     cb: Array[Array[Array[Double]]]): DataFrame =
    assigned.select(Seq(col("list_id"), col("cid")) ++
      Similarity.pqCodeCols(col("res"), cb).map(_.cast("int")): _*)

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
            nearestList(col(vecCol), cents).as("list_id"), col(idCol).as("cid"),
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
        writeBase(pqRows(assigned, cb), s"$tmp/lists")
        writeCentroids(spark, cents, s"$tmp/centroids")
        writeCodebook(spark, cb, s"$tmp/codebook")
        if (!fs.rename(tmp, dir)) fs.delete(tmp, true) // lost a race: reuse
      }
    }
    dir.toString
  }

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

  // ------------------------------------------------------- the lists table

  /** The lists' schema, from one stored file's footer (driver-side, no
    * job): a base file first, else a log file; `list_id` last, where a
    * partitioned read puts it. None when the index stores neither. */
  private def listsSchema(fs: FileSystem, dir: String): Option[StructType] = {
    def under(p: Path): Iterator[Path] =
      if (!fs.exists(p)) Iterator.empty
      else fs.listStatus(p).iterator.map(_.getPath)
    (under(new Path(dir, "lists")).filter(_.getName.startsWith("list_id="))
        .flatMap(under) ++ under(new Path(dir, "lists_log")))
      .find(_.getName.endsWith(".parquet")).map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, fs.getConf))
        val json =
          try reader.getFooter.getFileMetaData.getKeyValueMetaData
            .get("org.apache.spark.sql.parquet.row.metadata")
          finally reader.close()
        StructType(DataType.fromJson(json).asInstanceOf[StructType]
          .filterNot(_.name == "list_id") :+ StructField("list_id", IntegerType))
      }
  }

  private def logOf(schema: StructType): EpochLog =
    new EpochLog(Seq(EpochLog.Table("lists", "list_id", schema)))

  /** The lists table of `dir`, after healing a crashed compact's aside
    * (the base it restores is where the schema is read). */
  private def listsLog(fs: FileSystem, dir: String): EpochLog = {
    TableSwap.heal(fs, dir, "lists")
    logOf(listsSchema(fs, dir).getOrElse(throw new IllegalStateException(
      s"AnnIndex: $dir holds no inverted lists")))
  }

  /** The stored lists, (cid, <vector or codes>, list_id): base ∪ log. Heals
    * a crashed compact's aside and finishes a committed fold first, so a
    * reader never sees a silently empty table or a folded row twice. */
  def read(spark: SparkSession, indexDir: String): DataFrame =
    listsLog(fsOf(spark, indexDir), indexDir).readHealed(spark, indexDir,
      "lists")

  /** [[read]] without the heal, for the audit, which mutates nothing (an
    * aside or a pending fold surfaces as residue). None for an index with
    * no list files. */
  private[graft] def readNoHeal(spark: SparkSession,
                                indexDir: String): Option[DataFrame] =
    listsSchema(fsOf(spark, indexDir), indexDir)
      .map(logOf(_).read(spark, indexDir, "lists"))

  /** Fold the log into the base (single writer, between epochs): what
    * every whole-table rewrite runs before it reads, so no logged row
    * survives a swap twice. */
  private def fold(spark: SparkSession, indexDir: String): Unit =
    listsLog(fsOf(spark, indexDir), indexDir).fold(spark, indexDir)

  /** The stored rows of lists `ids` only — a STATIC `list_id IN (...)`
    * partition filter on the base. */
  private def listsIn(spark: SparkSession, indexDir: String,
                      ids: Seq[Int]): DataFrame =
    read(spark, indexDir).filter(col("list_id").isin(ids.map(Int.box): _*))

  /** The probe step of [[queryIvf]] and [[probeStoredVectors]]: each query
    * row (qid, qvec) explodes onto its `nprobe` nearest lists, and the
    * stored rows of exactly those lists join it (broadcast probe side). The
    * probe set is collected first (≤ nlist ints), so the list scan is
    * statically pruned. */
  private def probeJoin(spark: SparkSession, indexDir: String, q: DataFrame,
                        cents: Array[Array[Double]], nprobe: Int): DataFrame = {
    val qLists = q.select(col("qid"), col("qvec"),
      explode(NearestCentroids.column(col("qvec"), cents,
        math.min(nprobe, cents.length))).as("list_id"))
    val probed = qLists.select("list_id").distinct().collect()
      .map(_.getAs[Number](0).intValue).toSeq
    listsIn(spark, indexDir, probed).join(broadcast(qLists), Seq("list_id"))
  }

  /** Top-k over the persisted IVF+PQ index: ADC over the probed lists' codes
    * builds a `rerank`-deep shortlist per query (the index's raw bytes never
    * hold a vector), then the shortlist — |Q|·rerank ids, broadcast — is
    * re-scored with exact cosine against `corpus` (the FAISS refine stage):
    * one more corpus scan with a broadcast semi-join, raw vectors never
    * shuffle. Returns (qid, rk, cid, cos). */
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
    // Codes encode residuals, so the ADC table is per (query, probed list):
    // dtable over (q − centroid_l) against the residual codebook. Still
    // |Q|·nprobe·m·ksub doubles — model-sized, broadcastable.
    val probes = qRows.toSeq.flatMap { case (qid, qv) =>
      NearestCentroids.nearest(qv, cents, math.min(nprobe, cents.length))
        .map { l =>
          val qres = Array.tabulate(qv.length)(i => qv(i) - cents(l - 1)(i))
          (qid, l, Similarity.adcTableFor(qres, cb))
        }
    }
    val qProbe = spark.createDataFrame(probes).toDF("qid", "list_id", "dtable")
    // Probe set is driver-known (|Q|·nprobe ints) → static partition filter.
    val lists = listsIn(spark, indexDir, probes.map(_._2).distinct)
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

  // ------------------------------------------------------------------ sinks

  /** Where every sink's epoch stage publishes: an epoch's one flat file to
    * `lists_log/`, and `list_id=K/` dirs (a fold's, or a stage written
    * partitioned) to the base. */
  private val Lists = Seq("lists" -> "list_id")

  /** Mount a sink on its epoch namespace: heal a crashed compact's aside,
    * publish or discard what a crashed epoch left staged, then finish or
    * discard a crashed fold. Returns the lists table the sink stages into. */
  private def mount(spark: SparkSession, commit: EpochLog.Commit): EpochLog = {
    graft.Tuning.mountDefaults(spark) // the index reads list on the driver
    val fs = fsOf(spark, commit.dir)
    val log = listsLog(fs, commit.dir)
    commit.heal(fs)
    log.healFold(fs, commit.dir)
    log
  }

  /** The appenders' epoch namespace: stages `.ingested_stage_<e>`, markers
    * `_ingested_epoch_<e>` (one maintainer stream per index, so no tag). */
  private def appenderCommit(indexDir: String): EpochLog.Commit =
    EpochLog.Commit(indexDir, ".ingested_stage_", "_ingested_epoch_", Lists)

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A sink's post-commit step, the between-epochs single-writer window:
    * the auto-compact tick, whose cadence boundary folds the log and
    * compacts the base past the file bound. */
  private def autoTick(spark: SparkSession, log: EpochLog, indexDir: String,
                       auto: AutoCompact, nlist: Int): Unit =
    auto.tick(log.fileCount(fsOf(spark, indexDir), indexDir, "lists"), nlist,
      log.fold(spark, indexDir))(compact(spark, indexDir))

  /** The recentering sinks' drift feed: per row, a quantization miss is
    * cosine(`vec`, its list `listId`'s centroid) < `fitCosine`. The epoch's
    * misses feed `ddm` as two runs, zeros before ones (a fixed order: the
    * detector's addRun keeps the reference recurrence bit-exact). On a fire
    * whose miss rate also clears `minErrRate`, `rebuild` runs, the detector
    * resets (new regime, fresh baseline) and `onRebuild(epoch)` reports it. */
  private def feedMisses(ddm: Drift.Ddm, rows: DataFrame, vec: Column,
                         listId: Column, cents: Array[Array[Double]],
                         fitCosine: Double, minErrRate: Double, epoch: Long,
                         onRebuild: Long => Unit)(rebuild: => Unit): Unit = {
    val fitRow = rows.select(
        (VecFns.cosine(vec, element_at(typedLit(cents.map(_.toSeq).toSeq),
          listId)) < fitCosine).cast("long").as("miss"))
      .agg(sum("miss"), count(lit(1))).head()
    val bad = if (fitRow.isNullAt(0)) 0L else fitRow.getLong(0)
    val n = fitRow.getLong(1)
    var fire = ddm.addRun(0.0, n - bad)
    if (ddm.addRun(1.0, bad)) fire = true
    if (fire && n > 0 && bad.toDouble / n >= minErrRate) {
      rebuild
      ddm.reset()
      onRebuild(epoch)
    }
  }

  /** Streaming index maintenance: a `writeStream.foreachBatch` sink that
    * assigns each newly ingested micro-batch with the index's own coarse
    * centroids (read once per sink, model-sized) and appends it to the
    * inverted file — closing the ingest loop on the build-once /
    * query-many index. Each epoch stages ONE parquet file (its rows carry
    * their `list_id`) that publishes into `lists_log/`; nothing is
    * rewritten between folds, and queries pick the new rows up on their
    * next [[read]] (base ∪ log — no index rebuild). The auto-compact
    * cadence folds the log into the base. Vectors are cast to
    * `array<double>`, the lists' built schema.
    *
    * Exactly-once under foreachBatch's at-least-once re-delivery through
    * [[EpochLog.Commit]]: the epoch's list file stages, its marker commits,
    * then it moves into the log. A replayed epoch that finds its marker
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
      (DataFrame, Long) => Unit =
    appendSink(spark, indexDir, autoCompactEvery, autoCompactFactor)(
      (batch, cents) => assign(batch, idCol, vecCol, cents).drop("res"))

  /** The plain appenders' sink: each epoch stages `rows(batch, centroids)`
    * into the log, then ticks the auto-compact. */
  private def appendSink(spark: SparkSession, indexDir: String,
                         autoCompactEvery: Int, autoCompactFactor: Int)
                        (rows: (DataFrame, Array[Array[Double]]) => DataFrame):
      (DataFrame, Long) => Unit = {
    val commit = appenderCommit(indexDir)
    val log = mount(spark, commit)
    val cents = loadCentroids(spark, indexDir)
    val auto = new AutoCompact(autoCompactEvery, autoCompactFactor)
    (batch: DataFrame, epoch: Long) =>
      commit.run(fsOf(batch.sparkSession, indexDir), batch, epoch)(stage =>
        log.stage(rows(batch, cents), stage, "lists"))(_ =>
        autoTick(spark, log, indexDir, auto, cents.length))
  }

  /** Streaming maintenance for the PQ-coded index ([[ivfPqIndexDir]]): same
    * epoch protocol, log file per epoch and marker namespace as
    * [[ivfAppender]], but each appended
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
    val cb = loadCodebook(spark, indexDir)
    appendSink(spark, indexDir, autoCompactEvery, autoCompactFactor)(
      (batch, cents) => pqRows(assign(batch, idCol, vecCol, cents), cb))
  }

  /** (list_id, cid, cvec, res): `batch`'s vectors assigned to their
    * nearest list, with the residual the PQ codes encode. */
  private def assign(batch: DataFrame, idCol: String, vecCol: String,
                     cents: Array[Array[Double]]): DataFrame = {
    val vec = col(vecCol).cast("array<double>")
    batch.select(nearestList(vec, cents).as("list_id"),
        col(idCol).cast("long").as("cid"), vec.as("cvec"))
      .withColumn("res", residualCol(col("cvec"), cents, col("list_id")))
  }

  /** [[ivfPqAppender]] that RECENTERS ITSELF under embedding drift — the
    * [[recenteringScreenSink]] discipline applied to the PQ-coded
    * retrieval index, closing the last store-maintenance loop the engine
    * had open: the raw-vector screen self-recenters, the PQ index now has
    * the [[recenterPq]] verb, and this sink wires the §2.6 detector to it
    * so the index repairs itself instead of waiting for an operator.
    *
    * Drift signal: every ingested vector feeds [[feedMisses]] in the
    * epoch's post-commit step: a re-delivered epoch feeds nothing, and a
    * crash between the append commit and the feed loses only that epoch's
    * detector samples (an undercount the detector absorbs — it just fires
    * an epoch later). On a fire, [[recenterPq]] retrains coarse + codebook
    * + codes in the same between-epochs single-writer window and swaps all
    * three sub-tables as one staged [[Takedown]] commit; the sink then
    * reloads both model sidecars. Epoch markers are untouched — replay
    * idempotence survives the rebuild. Single maintainer stream per index,
    * sharing [[ivfPqAppender]]'s marker namespace. */
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
    val commit = appenderCommit(indexDir)
    val log = mount(spark, commit)
    val cents = new java.util.concurrent.atomic.AtomicReference(
      loadCentroids(spark, indexDir))
    val cb = new java.util.concurrent.atomic.AtomicReference(
      loadCodebook(spark, indexDir))
    val ddm = new Drift.Ddm()
    val auto = new AutoCompact(autoCompactEvery, autoCompactFactor)
    (batch: DataFrame, epoch: Long) => {
      commit.run(fsOf(batch.sparkSession, indexDir), batch, epoch) { stage =>
        val c = cents.get()
        val assigned = assign(batch, idCol, vecCol, c)
          .localCheckpoint() // two consumers: the append and the drift feed
        log.stage(pqRows(assigned, cb.get()), stage, "lists")
        (assigned, c)
      } { case (assigned, c) =>
        // epoch committed — now the drift feed (see scaladoc for ordering)
        feedMisses(ddm, assigned, col("cvec"), col("list_id").cast("int"), c,
            fitCosine, minErrRate, epoch, onRebuild) {
          cents.set(recenterPq(spark, indexDir, kmIters, kmSeed + epoch))
          cb.set(loadCodebook(spark, indexDir))
        }
        autoTick(spark, log, indexDir, auto, cents.get().length)
        // release the pinned batch (appends recur on an unbounded stream)
        graft.SessionMemo.unpersistLeaves(assigned)
      }
    }
  }

  // ------------------------------------------------------ semantic screen

  /** Batch-vs-store SEMANTIC near-dup probe on the pruned path: assign each
    * probe vector its `nprobe` nearest coarse cells, read ONLY those lists
    * (the probe set is driver-known — ≤ nlist ints — so
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
                         threshold: Double, nprobe: Int = 4): DataFrame =
    probeWith(spark, indexDir, loadCentroids(spark, indexDir), queries,
      qidCol, vecCol, threshold, nprobe)

  /** [[probeStoredVectors]] with the caller's centroids (a sink holds
    * them from its mount). */
  private def probeWith(spark: SparkSession, indexDir: String,
                        cents: Array[Array[Double]], queries: DataFrame,
                        qidCol: String, vecCol: String, threshold: Double,
                        nprobe: Int): DataFrame =
    probeJoin(spark, indexDir,
        queries.select(col(qidCol).cast("long").as("qid"),
          col(vecCol).cast("array<double>").as("qvec")), cents, nprobe)
      .filter(VecFns.cosine(col("qvec"), col("cvec")) >= threshold)
      .select(col("qid").as("id")).distinct()

  /** foreachBatch sink SCREENING each micro-batch's embeddings against the
    * persisted IVF index before admitting: documents whose vector is a
    * semantic near-duplicate (cosine ≥ `threshold`) of anything already
    * indexed are dropped; survivors' vectors stage-commit-publish into the
    * inverted file's log and the surviving rows (original columns) flow to
    * `out`.
    * The third front door: [[FingerprintStore.dedupSink]] kills the
    * byte-identical re-delivery, [[SignatureStore.screenSink]] the
    * one-token re-crawl, and this screen the PARAPHRASE — same meaning,
    * disjoint shingles, near-identical embedding — that sails past both
    * (the SemDeDup observation, applied at ingest time instead of as a
    * batch sweep).
    *
    * Per epoch the batch probes via [[probeStoredVectors]] (probe cost
    * tracks the batch's cell footprint × list depth, never store age) and
    * survivors append under [[EpochLog.Commit]]: a replay from a
    * pre-marker crash re-probes a store WITHOUT this epoch's vectors
    * (never a self-match); a post-marker one heals the publish. Near-dups
    * WITHIN
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
    val commit = screenCommit(indexDir, streamTag)
    val log = mount(spark, commit)
    val cents = loadCentroids(spark, indexDir)
    val auto = new AutoCompact(autoCompactEvery, autoCompactFactor)
    screenEpoch(spark, idCol, vecCol, threshold, nprobe, commit, log, cents,
      auto)(out, _ => ())
  }

  /** The screens' epoch namespace on stream `tag`:
    * `.annscr_stage_<tag>_<e>`, `_annscr_<tag>_epoch_<e>`. */
  private def screenCommit(indexDir: String, tag: String): EpochLog.Commit =
    EpochLog.commit(indexDir, "annscr", tag, Lists)

  /** One screen trigger (shared by [[semanticScreenSink]] and
    * [[recenteringScreenSink]]): probe → `out(survivors)` → stage, commit,
    * publish → auto-compact tick → `after(survivors)`. A re-delivered (or
    * empty) epoch reaches neither, so a caller's post-epoch bookkeeping
    * (the recentering sink's drift feed) never double-counts it. */
  private def screenEpoch(spark: SparkSession, idCol: String, vecCol: String,
                          threshold: Double, nprobe: Int,
                          commit: EpochLog.Commit, log: EpochLog,
                          cents: Array[Array[Double]], auto: AutoCompact)
                         (out: DataFrame => Unit, after: DataFrame => Unit)
                         (batch: DataFrame, epoch: Long): Unit = {
    val indexDir = commit.dir
    commit.run(fsOf(batch.sparkSession, indexDir), batch, epoch) { stage =>
      val b = batch.localCheckpoint()
      val flagged = probeWith(spark, indexDir, cents, b, idCol, vecCol,
          threshold, nprobe)
        .select(col("id").as(idCol)).localCheckpoint()
      val survivors = b.join(broadcast(flagged), Seq(idCol), "left_anti")
        .localCheckpoint()
      // CONTRACT: a pre-marker crash replays this epoch and re-invokes
      // `out` with identical survivors — `out` must be idempotent under
      // epoch re-delivery (marker-protected, like every sink here).
      out(survivors)
      val vec = col(vecCol).cast("array<double>")
      log.stage(survivors.select(nearestList(vec, cents).as("list_id"),
        col(idCol).cast("long").as("cid"), vec.as("cvec")), stage, "lists")
      survivors
    } { survivors =>
      autoTick(spark, log, indexDir, auto, cents.length)
      after(survivors)
    }
  }

  /** [[semanticScreenSink]] that RECENTERS ITSELF under embedding drift —
    * DDM (SURVEY §2.6) applied to the store layer. The plain screen's
    * centroids are frozen at mount; under embedding drift (a new encoder
    * version, a topic shift) fresh vectors crowd into a few far cells, the
    * nprobe cells stop covering true neighbors and paraphrase recall
    * decays. This sink watches for that and rebuilds itself.
    *
    * Drift signal: every admitted survivor feeds [[feedMisses]].
    * Re-delivered epochs feed NOTHING ([[screenEpoch]] skips its
    * post-commit step), so the detector composes with the marker replay
    * discipline. On a fire (`minErrRate` keeps one bad doc after a long
    * clean run from thrashing a petabyte index), the sink — in the SAME
    * between-epochs single-writer window auto-compaction already owns —
    * retrains k-means on the store's CURRENT vectors and swaps lists +
    * centroids under the staged [[Takedown]] protocol: both sub-tables
    * rewrite aside, a marker commits them, and every crash point heals
    * (pre-marker → old index intact, the detector simply refires later;
    * post-marker → the next mount's [[Takedown.heal]] finishes the swap) —
    * the [[graft.streaming.ModelRefit]] publish discipline (train, persist,
    * then swap; never a half-built model) applied to an on-disk index.
    * Epoch markers are untouched, so replay idempotence survives the
    * rebuild.
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
    val commit = screenCommit(indexDir, streamTag)
    val log = mount(spark, commit)
    val cents = new java.util.concurrent.atomic.AtomicReference(
      loadCentroids(spark, indexDir))
    val ddm = new Drift.Ddm()
    val auto = new AutoCompact(autoCompactEvery, autoCompactFactor)
    (batch: DataFrame, epoch: Long) => {
      val c = cents.get()
      screenEpoch(spark, idCol, vecCol, threshold, nprobe, commit, log, c,
          auto)(out, { survivors =>
        val vec = col(vecCol).cast("array<double>")
        feedMisses(ddm, survivors, vec, nearestList(vec, c), c, fitCosine,
            minErrRate, epoch, onRebuild) {
          cents.set(rebuildScreen(spark, indexDir, c.length, kmIters,
            kmSeed + epoch))
        }
      })(batch, epoch)
    }
  }

  // ------------------------------------------------------------ maintenance

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
    val nlist = loadCentroids(spark, indexDir).length
    rebuildScreen(spark, indexDir, nlist, kmIters, seed)
  }

  /** Recenter verb for the PQ-coded (residual IVFADC) index — the
    * [[recenter]] protocol applied to the layout whose lists hold CODES,
    * not vectors. Under drift this index decays twice: appended vectors
    * crowd into far coarse cells AND their residuals fall outside the
    * codebook's cover, so the ADC shortlist stops holding true neighbors.
    *
    * Protocol: fold the log, then reconstruct every stored vector from its
    * own codes — coarse centroid + per-subspace codeword, exact up to
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
    fold(spark, indexDir)
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
    val cur = read(spark, indexDir)
      .select(col("cid"), recon.as("cvec")).localCheckpoint()
    val newCents = graft.ml.KMeansQuantizer.fit(cur, "cid", "cvec",
      cents.length, kmIters, seed)
    val assigned = cur.select(nearestList(col("cvec"), newCents).as("list_id"),
        col("cid"), col("cvec"))
      .withColumn("res", residualCol(col("cvec"), newCents, col("list_id")))
      .localCheckpoint()
    val newCb = graft.ml.KMeansQuantizer.fitProduct(assigned, "cid", "res",
      m, ksub, kmIters, seed)
    Takedown.run(spark, indexDir, Seq("lists", "centroids", "codebook")) {
      stage =>
        writeBase(pqRows(assigned, newCb), s"$stage/lists")
        writeCentroids(spark, newCents, s"$stage/centroids")
        writeCodebook(spark, newCb, s"$stage/codebook")
    }
    Seq(cur, assigned).foreach(graft.SessionMemo.unpersistLeaves)
    newCents
  }

  /** Retrain the coarse quantizer on the store's current vectors and swap
    * lists + centroids as ONE staged commit (see [[recenteringScreenSink]]);
    * the log folds first, so the swap replaces every stored row.
    * Deterministic per (store content, seed). Returns the new centroids. */
  private def rebuildScreen(spark: SparkSession, indexDir: String,
                            nlist: Int, iters: Int,
                            seed: Long): Array[Array[Double]] = {
    fold(spark, indexDir)
    // pin the pre-rebuild rows: the swap below rewrites what we read
    val cur = read(spark, indexDir).select(col("cid"), col("cvec"))
      .localCheckpoint()
    val newCents = graft.ml.KMeansQuantizer.fit(cur, "cid", "cvec", nlist,
      iters, seed)
    Takedown.run(spark, indexDir, Seq("lists", "centroids")) { stage =>
      writeBase(cur.select(nearestList(col("cvec"), newCents).as("list_id"),
        col("cid"), col("cvec")), s"$stage/lists")
      writeCentroids(spark, newCents, s"$stage/centroids")
    }
    // release the pinned blocks (rebuilds recur on an unbounded stream)
    graft.SessionMemo.unpersistLeaves(cur)
    newCents
  }

  /** Compact the inverted file: fold the log into the base, then rewrite
    * the base with ONE file per list. Each fold adds a file per touched
    * list, so a long ingest turns each list into many small files and the
    * per-query cost into file opens (the small-file problem; FAISS merges
    * on-disk segments, log-structured stores compact by level).
    * Schema-agnostic — raw and PQ-coded lists compact identically.
    *
    * Swap protocol ([[TableSwap]]): the rewrite lands in a temp dir, then
    * two renames publish it; a crash between them heals at the next call,
    * read or mount. The log folds first, so the swap only ever replaces
    * the base and no logged row survives it twice. Single writer, between
    * epochs; epoch markers are untouched, so a restarted appender still
    * skips ingested epochs. */
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
    // the fold heals a crashed compact's aside first: the original data is
    // intact under it
    fold(spark, indexDir)
    val kept0 = read(spark, indexDir)
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
    TableSwap.rewrite(fsOf(spark, indexDir), indexDir, "lists")(tmp =>
      writeBase(kept, tmp.toString))
  }

  /** Data-file count of the index's inverted file, base plus log
    * (compaction telemetry — the files the epochs and folds add are what
    * [[compact]] resets). */
  def listFileCount(spark: SparkSession, indexDir: String): Int = {
    val fs = fsOf(spark, indexDir)
    listsLog(fs, indexDir).fileCount(fs, indexDir, "lists")
  }

  /** Top-k cosine over the persisted index, probing `nprobe` lists per query.
    * Returns (qid, rk, cid, cos) like the other similarity operators. */
  def queryIvf(spark: SparkSession, indexDir: String, queries: DataFrame,
               qidCol: String, vecCol: String, k: Int,
               nprobe: Int = 4): DataFrame = {
    val scored = probeJoin(spark, indexDir,
        queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec")),
        loadCentroids(spark, indexDir), nprobe)
      .select(col("qid"), col("cid"),
        VecFns.cosine(col("qvec"), col("cvec")).as("cos"))
    TopK.topKPerQuery(scored, k)
  }
}
