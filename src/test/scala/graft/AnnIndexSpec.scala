package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIndex, Similarity}

/** Persisted-IVF-index contracts: build-once reuse, probe-pruned scans
  * (partition pruning visible in the executed plan), and recall against the
  * exact brute-force ground truth on clustered data. */
class AnnIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mix(a: Long, b: Long): Double =
    (Math.floorMod(a * 2654435761L + b * 40503L + 12345L, 100000L)
      .toDouble / 100000.0 - 0.5) * 2.0

  /** 8 separated clusters of 40 points in R^16 (same family as
    * DedupSimilaritySpec's recall gates). */
  private def clustered = (for (c <- 0 until 8; p <- 0 until 40) yield {
    val id = (c * 40 + p).toLong
    (id, (0 until 16).map(i => mix(c * 31L + 7, i) + 0.1 * mix(id * 131L + 3, i)))
  }).toDF("vec_id", "embedding")

  test("IVF index: build once, query via pruned partitions, recall@10 >= 0.9") {
    val corpus = clustered.cache()
    val queries = corpus.filter($"vec_id" % 40 === 0)
    val dir = AnnIndex.ivfIndexDir(corpus, "mem://ann_index_spec", "vec_id",
      "embedding", nlist = 8, iters = 3, seed = 42L, variant = "spec_v1")
    // build is idempotent: a second call must reuse the same directory
    assert(dir == AnnIndex.ivfIndexDir(corpus, "mem://ann_index_spec",
      "vec_id", "embedding", nlist = 8, iters = 3, seed = 42L,
      variant = "spec_v1"))

    val got = AnnIndex.queryIvf(spark, dir, queries, "vec_id", "embedding",
      k = 10, nprobe = 2)
    // probe pruning is structural: the inverted-file scan must carry a static
    // list_id partition filter (only nprobe/nlist of the files are touched)
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [list_id"), p)

    val exact = Similarity.bruteForceTopK(queries, corpus,
        "vec_id", "vec_id", "embedding", k = 10)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val approx = got.select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.length
    assert(recall >= 0.9, s"index recall@10 $recall < 0.9")
    corpus.unpersist()
  }

  test("IVF+PQ index: lists hold codes only, pruned ADC + refine, recall@10 >= 0.9") {
    val corpus = clustered.cache()
    val queries = corpus.filter($"vec_id" % 40 === 0)
    val dir = AnnIndex.ivfPqIndexDir(corpus, "mem://ann_index_spec", "vec_id",
      "embedding", nlist = 8, m = 8, ksub = 16, iters = 3, seed = 42L,
      variant = "spec_pq_v1")
    assert(dir == AnnIndex.ivfPqIndexDir(corpus, "mem://ann_index_spec",
      "vec_id", "embedding", nlist = 8, m = 8, ksub = 16, iters = 3,
      seed = 42L, variant = "spec_pq_v1"))

    // The space win is structural: the inverted lists persist ONLY
    // (cid, c0..c{m-1}) — no vector column anywhere in the on-disk schema.
    val listCols = AnnIndex.read(spark, dir).columns.toSet
    assert(listCols == (Set("cid", "list_id") ++ (0 until 8).map(b => s"c$b")),
      listCols.toString)

    val got = AnnIndex.queryIvfPq(spark, dir, corpus, queries,
      "vec_id", "vec_id", "embedding", k = 10, nprobe = 2, rerank = 30)
    val p = got.queryExecution.executedPlan.toString
    // ADC scan: static partition pruning on list_id; refine: broadcast join
    // fetching only shortlist vectors (no shuffle of the corpus side).
    assert(p.contains("PartitionFilters: [list_id"), p)
    assert(p.contains("BroadcastHashJoin"), p)

    val exact = Similarity.bruteForceTopK(queries, corpus,
        "vec_id", "vec_id", "embedding", k = 10)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val approx = got.select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.length
    assert(recall >= 0.9, s"ivfpq index recall@10 $recall < 0.9")
    corpus.unpersist()
  }

  test("compact merges per-epoch append files into one per list; " +
    "results are byte-identical before and after") {
    val corpus = clustered.cache()
    val initial = corpus.filter($"vec_id" % 40 < 20)
    // fresh variant per run: the dir (and its epoch markers) is content-keyed
    // and outlives the JVM — a reused dir would no-op the appends below
    val dir = AnnIndex.ivfIndexDir(initial, "mem://ann_compact_spec",
      "vec_id", "embedding", nlist = 8, iters = 3, seed = 42L,
      variant = s"compact_${java.util.UUID.randomUUID().toString.take(8)}")
    // five appended epochs — each leaves a file per touched list
    val append = AnnIndex.ivfAppender(spark, dir, "vec_id", "embedding")
    for (e <- 0 until 5)
      append(corpus.filter($"vec_id" % 40 === 20 + e), e.toLong)
    val before = AnnIndex.listFileCount(spark, dir)
    assert(before > 8, s"appends should fragment the lists, saw $before files")

    val queries = corpus.filter($"vec_id" % 40 === 0)
    def results() = AnnIndex.queryIvf(spark, dir, queries, "vec_id",
        "embedding", k = 10, nprobe = 2)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

    val pre = results()
    AnnIndex.compact(spark, dir)
    assert(AnnIndex.listFileCount(spark, dir) <= 8,
      s"compact must leave at most one file per list")
    assert(results() == pre, "compaction changed query results")
    // idempotent: compacting a compacted index is a no-op rewrite
    AnnIndex.compact(spark, dir)
    assert(results() == pre)
    corpus.unpersist()
  }

  test("retract removes the ids' postings only: taken-down vectors stop " +
    "being retrievable, everything else is byte-identical, and a " +
    "mid-retract crash window heals") {
    val corpus = clustered.cache()
    val dir = AnnIndex.ivfIndexDir(corpus, "mem://ann_retract_spec",
      "vec_id", "embedding", nlist = 8, iters = 3, seed = 42L,
      variant = s"retract_${java.util.UUID.randomUUID().toString.take(8)}")
    val queries = corpus.filter($"vec_id" % 40 === 0)
    def results() = AnnIndex.queryIvf(spark, dir, queries, "vec_id",
        "embedding", k = 10, nprobe = 2)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pre = results()
    val gone = Seq(1L, 41L, 200L)
    assert(gone.exists(g => pre.exists(_._2 == g)),
      "fixture: retracted ids should appear in some top-10 before retract")
    AnnIndex.retract(spark, dir, gone)
    val post = results()
    assert(post.forall { case (_, cid) => !gone.contains(cid) },
      s"retracted ids still retrievable: ${post.filter(p => gone.contains(p._2))}")
    assert(pre.filter(p => !gone.contains(p._2)).subsetOf(post),
      "retract disturbed postings it should not have touched")
    // mid-retract crash window: lists moved aside, publish not yet done —
    // the next maintenance call heals from the aside
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/lists"),
      new org.apache.hadoop.fs.Path(s"$dir/.lists_precompact")))
    AnnIndex.retract(spark, dir, Seq(2L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/lists")))
    assert(results().forall { case (_, cid) =>
      !gone.contains(cid) && cid != 2L })
    corpus.unpersist()
  }

  test("a retract that would empty the index fails loudly (delete + " +
    "reseed is the verb for that) and leaves the store intact") {
    val two = Seq((1L, Seq.fill(16)(1.0)), (2L, (0 until 16).map(_.toDouble)))
      .toDF("vec_id", "embedding")
    val dir = AnnIndex.ivfIndexDir(two, "mem://ann_empty_guard", "vec_id",
      "embedding", nlist = 2, iters = 2, seed = 42L,
      variant = s"eg_${java.util.UUID.randomUUID().toString.take(8)}")
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.retract(spark, dir, Seq(1L, 2L))
    }
    assert(ex.getMessage.contains("every vector"))
    assert(AnnIndex.read(spark, dir).count() == 2L,
      "the refused retract must leave the store untouched")
    AnnIndex.retract(spark, dir, Seq(1L)) // a non-emptying retract still works
    assert(AnnIndex.read(spark, dir).select("cid")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("semantic probe flags stored near-duplicates through a statically " +
    "pruned list scan") {
    val corpus = clustered.cache()
    val dir = AnnIndex.ivfIndexDir(corpus, "mem://ann_semprobe_spec",
      "vec_id", "embedding", nlist = 8, iters = 3, seed = 42L,
      variant = "semprobe_v1")
    // probe 900: vec_id 0's vector nudged by 1e-3 on dim 0 — a semantic
    // near-dup (cos ~ 0.9999); probe 901: a constant vector no stored point
    // is within 0.999 of
    val v0 = corpus.filter($"vec_id" === 0L).select("embedding")
      .head().getSeq[Double](0)
    val near = v0.zipWithIndex.map { case (x, i) => if (i == 0) x + 1e-3 else x }
    val far = Seq.fill(16)(2.0)
    val probes = Seq((900L, near), (901L, far)).toDF("vec_id", "embedding")
    // the same probe over an index whose vec_id 0 sits only in the log:
    // built without it, then appended
    val logged = AnnIndex.ivfIndexDir(corpus.filter($"vec_id" =!= 0L),
      "mem://ann_semprobe_spec", "vec_id", "embedding", nlist = 8, iters = 3,
      seed = 42L,
      variant = s"semprobe_log_${java.util.UUID.randomUUID().toString.take(8)}")
    AnnIndex.ivfAppender(spark, logged, "vec_id", "embedding",
      autoCompactEvery = 0)(corpus.filter($"vec_id" === 0L), 0L)
    for (d <- Seq(dir, logged)) {
      val flagged = AnnIndex.probeStoredVectors(spark, d, probes, "vec_id",
        "embedding", threshold = 0.999, nprobe = 2)
      // probe pruning is structural, same pin as queryIvf: the inverted-file
      // scan must carry a static list_id partition filter
      val p = flagged.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters: [list_id"), p)
      assert(flagged.collect().map(_.getLong(0)).toSeq == Seq(900L), d)
    }
    corpus.unpersist()
  }

  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem, d: String) = {
    val p = new org.apache.hadoop.fs.Path(d)
    if (!fs.exists(p)) Seq.empty[org.apache.hadoop.fs.Path]
    else fs.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
  }

  private def listDirs(fs: org.apache.hadoop.fs.FileSystem, dir: String) =
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/lists"))
      .map(_.getPath.getName).filter(_.startsWith("list_id=")).toSet

  /** vec_id `id`'s vector nudged by 1e-3 on dim 0: a paraphrase at cosine
    * 1 − 1e-7, where two points of one cluster stay below 1 − 1e-6. */
  private def nudged(id: Long, as: Long) =
    clustered.filter($"vec_id" === id).select(lit(as).as("vec_id"),
      transform($"embedding", (x, i) => when(i === 0, x + 1e-3).otherwise(x))
        .as("embedding"))

  test("semantic screen epoch appends ONE log file, the next epoch screens " +
    "against it, and a fold moves it into the base with no cid twice") {
    val (dir, fs, _) = crashFixture("ann_screen_log")
    val listsBefore = listDirs(fs, dir)
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    def screen(tag: String, every: Int) = AnnIndex.semanticScreenSink(spark,
        dir, "vec_id", "embedding", threshold = 0.999999, nprobe = 2,
        streamTag = tag, autoCompactEvery = every) { df =>
      admitted ++= df.select("vec_id").collect().map(_.getLong(0)) }
    val sink = screen("log", 0)
    // epoch 0: two novel vectors from clusters 0 and 3
    sink(clustered.filter($"vec_id".isin(30L, 150L)), 0L)
    val logged = dataFiles(fs, s"$dir/lists_log")
    assert(logged.size == 1, logged.mkString(","))
    assert(spark.read.parquet(logged.head.toString).select("list_id")
      .distinct().count() >= 2, "fixture: the epoch must touch two lists")
    assert(listDirs(fs, dir) == listsBefore, "an epoch must add no list dir")
    assert(admitted.toSet == Set(30L, 150L))
    // epoch 1: a paraphrase of vec 30, stored only in the log, is killed
    sink(nudged(30L, 900L).unionByName(clustered.filter($"vec_id" === 190L)),
      1L)
    assert(admitted.toSet == Set(30L, 150L, 190L), admitted.mkString(","))
    assert(dataFiles(fs, s"$dir/lists_log").size == 2)
    // a sink folding every epoch: its first tick moves the log into the base
    screen("fold", 1)(clustered.filter($"vec_id" === 270L), 0L)
    assert(dataFiles(fs, s"$dir/lists_log").isEmpty, "the fold empties the log")
    val base = spark.read.parquet(s"$dir/lists").select("cid").collect()
      .map(_.getLong(0)).toSeq
    assert(Seq(30L, 150L, 190L, 270L).forall(base.contains))
    val stored = storedCids(dir)
    assert(stored.size == stored.distinct.size, "a cid is stored twice")
    assert(stored.toSet == base.toSet)
  }

  test("ANN lists: a crash after a log fold published its base files but " +
    "before it removed the folded log heals on the next read — no cid " +
    "doubles and the probe is unchanged") {
    val (dir, fs, _) = crashFixture("ann_fold_crash")
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    // three appended epochs, never folded: their rows sit in the log
    val app = AnnIndex.ivfAppender(spark, dir, "vec_id", "embedding",
      autoCompactEvery = 0)
    Seq(30L, 150L, 270L).zipWithIndex.foreach { case (id, e) =>
      app(clustered.filter($"vec_id" === id), e.toLong) }
    val logged = dataFiles(fs, s"$dir/lists_log")
      .map(p => s"lists_log/${p.getName}")
    assert(logged.size == 3, logged.mkString(","))
    def probe() = AnnIndex.probeStoredVectors(spark, dir,
        nudged(150L, 900L).unionByName(nudged(31L, 901L)), "vec_id",
        "embedding", threshold = 0.999999, nprobe = 2)
      .collect().map(_.getLong(0)).toSeq
    val rowsBefore = storedCids(dir).sorted
    assert(probe() == Seq(900L))
    // the crash window, rebuilt on disk: keep copies of the log files, let
    // compact fold them into the base (and remove them), then put the
    // copies back under a committed `_fold_pending` naming them
    val keep = java.nio.file.Files.createTempDirectory("annfoldkeep").toString
    logged.foreach(n => org.apache.hadoop.fs.FileUtil.copy(fs, path(s"$dir/$n"),
      fs, path(s"$keep/$n"), false, spark.sparkContext.hadoopConfiguration))
    AnnIndex.compact(spark, dir)
    assert(logged.forall(n => !fs.exists(path(s"$dir/$n"))))
    logged.foreach(n => require(fs.rename(path(s"$keep/$n"), path(s"$dir/$n"))))
    val m = fs.create(path(s"$dir/_fold_pending"), true)
    m.write(logged.mkString("\n").getBytes("UTF-8")); m.close()
    // the next read heals: the named log files go, each cid is stored once
    assert(storedCids(dir).sorted == rowsBefore, "a fold crash doubled a cid")
    assert(!fs.exists(path(s"$dir/_fold_pending")))
    assert(logged.forall(n => !fs.exists(path(s"$dir/$n"))))
    assert(probe() == Seq(900L))
  }

  /** A fresh index over clusters' first 20 points, the filesystem, and
    * `stageRows(ids, shift)`: the stored rows of `ids` re-keyed to
    * `cid + shift` — an epoch's staged list rows, each in the list its
    * vector already sits in. */
  private def crashFixture(name: String) = {
    val dir = AnnIndex.ivfIndexDir(clustered.filter($"vec_id" % 40 < 20),
      s"mem://$name", "vec_id", "embedding", nlist = 8, iters = 3,
      seed = 42L,
      variant = s"${name}_${java.util.UUID.randomUUID().toString.take(8)}")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def stageRows(ids: Seq[Long], shift: Long, stage: String): Unit =
      spark.read.parquet(s"$dir/lists").filter($"cid".isin(ids: _*))
        .withColumn("cid", $"cid" + shift)
        .repartition($"list_id")
        .write.partitionBy("list_id").parquet(s"$stage/lists")
    (dir, fs, stageRows _)
  }

  private def storedCids(dir: String): Seq[Long] =
    AnnIndex.read(spark, dir).select("cid").collect()
      .map(_.getLong(0)).toSeq

  /** The epoch batch whose staged rows `stageRows(ids, shift)` plants. */
  private def epochBatch(ids: Seq[Long], shift: Long) =
    clustered.filter($"vec_id".isin(ids: _*))
      .select(($"vec_id" + shift).as("vec_id"), $"embedding")

  test("IVF appender crash windows: a pre-marker orphan stage is discarded, " +
    "a committed stage publishes at mount, and no cid is stored twice") {
    val (dir, fs, stageRows) = crashFixture("ann_append_crash")
    def path(p: String) = new org.apache.hadoop.fs.Path(p)
    val base = storedCids(dir).toSet
    val committed = Seq(0L, 41L, 82L)
    val orphaned = Seq(5L, 46L)
    // committed, unpublished: stage + marker, the crash before the publish
    stageRows(committed, 1000L, s"$dir/.ingested_stage_3")
    fs.create(path(s"$dir/_ingested_epoch_3"), true).close()
    // orphan: staged rows but no marker, the crash before the commit
    stageRows(orphaned, 2000L, s"$dir/.ingested_stage_7")
    assert(storedCids(dir).toSet == base, "staging must be invisible")
    val app = AnnIndex.ivfAppender(spark, dir, "vec_id", "embedding",
      autoCompactEvery = 0)
    assert(!fs.exists(path(s"$dir/.ingested_stage_3")),
      "the committed stage must publish at mount")
    assert(!fs.exists(path(s"$dir/.ingested_stage_7")),
      "the orphan stage must be discarded, not published")
    val healed = storedCids(dir)
    assert(healed.size == healed.distinct.size, "a cid is stored twice")
    assert(healed.toSet == base ++ committed.map(_ + 1000L))
    // the replayed committed epoch is a marker-guarded no-op
    app(epochBatch(committed, 1000L), 3L)
    assert(storedCids(dir).sorted == healed.sorted)
    // the orphan's epoch, re-delivered, appends its rows exactly once
    app(epochBatch(orphaned, 2000L), 7L)
    val after = storedCids(dir)
    assert(after.size == after.distinct.size)
    assert(after.toSet == healed.toSet ++ orphaned.map(_ + 2000L))
  }

  test("semantic screen: a committed stage whose publish crashed halfway " +
    "finishes at mount, stores no row twice, and leaves no stage") {
    val (dir, fs, stageRows) = crashFixture("ann_halfpub")
    def path(p: String) = new org.apache.hadoop.fs.Path(p)
    val base = storedCids(dir).toSet
    val ids = Seq(0L, 1L, 41L, 82L, 123L, 164L, 205L, 246L, 287L)
    val stage = s"$dir/.annscr_stage_t_5"
    stageRows(ids, 1000L, stage)
    fs.create(path(s"$dir/_annscr_t_epoch_5"), true).close()
    // the crash fell mid-publish: one list's files already renamed in
    val listDirs = fs.listStatus(path(s"$stage/lists"))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("list_id="))
    assert(listDirs.length >= 2, "fixture: the epoch must span two lists")
    val moved = listDirs.head.getPath
    fs.listStatus(moved).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        assert(fs.rename(f, path(s"$dir/lists/${moved.getName}/${f.getName}")))
      }
    val sink = AnnIndex.semanticScreenSink(spark, dir, "vec_id", "embedding",
      threshold = 0.99, streamTag = "t", autoCompactEvery = 0)(_ => ())
    assert(!fs.exists(path(stage)), "the healed stage must be removed")
    val healed = storedCids(dir)
    assert(healed.size == healed.distinct.size, "a row is stored twice")
    assert(healed.toSet == base ++ ids.map(_ + 1000L))
    // the replayed epoch is a marker-guarded no-op
    sink(epochBatch(ids, 1000L), 5L)
    assert(storedCids(dir).sorted == healed.sorted)
  }
}
