package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat"), // near dup
    (3L, "completely different content about spark engines and scale"),
    (4L, "another unrelated document mentioning large clusters only"))
    .toDF("doc_id", "text")

  /** Data files in a signature store's epoch logs (`sigs_log`, `bands_log`). */
  private def logFileCount(dir: String): Int =
    Seq("sigs_log", "bands_log").map(sub => new java.io.File(s"$dir/$sub"))
      .filter(_.isDirectory)
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum

  test("exact dedup groups identical texts (min id representative)") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == 2)      // docs 0,1 collapse
    assert(!out.contains(1L)) // not a representative
    assert(out(2L) == 1 && out(3L) == 1 && out(4L) == 1)
  }

  test("fingerprint dedup agrees with text dedup on this corpus") {
    val out = Dedup.exactByFingerprint(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == 2 && out.size == 4)
  }

  test("minhash est_jaccard = 1.0 for identical docs and high for near dups") {
    val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
        numHashes = 32, bands = 8, shingleSize = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)),
      "near-dup pair (shares 6/9 shingles, true J=0.5) should surface")
    assert(!pairs.keys.exists { case (a, b) => Set(a, b).contains(3L) })
  }

  test("minhash delta flags only incoming-vs-base near-dups, never in-in or base-base") {
    val base = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "completely different content about spark engines and scale"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // re-crawl of 0
      (11L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
      (12L, "fresh unrelated words nobody wrote before today anywhere"),
      // in-in exact dup pair: must NOT flag (neither matches any base doc)
      (13L, "twin text appearing twice inside the incoming batch only"),
      (14L, "twin text appearing twice inside the incoming batch only"))
      .toDF("doc_id", "text")
    val out = Dedup.minHashDelta(base, incoming, "doc_id", "text",
        numHashes = 32, bands = 8, shingleSize = 3, threshold = 0.3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(10L) == ((1L, 1.0)), s"verbatim re-crawl must flag at est 1.0: $out")
    assert(out.contains(11L) && out(11L)._2 >= 0.3, s"near-dup must flag: $out")
    assert(!out.contains(12L), "genuinely new doc must pass")
    assert(!out.contains(13L) && !out.contains(14L),
      "in-in dups are the fingerprint store's job, not the delta's — no flag")
  }

  test("signature store: stored delta path is row-identical to the recompute path; " +
    "appender is replay-idempotent and restart-resumes") {
    import graft.operators.SignatureStore
    val dir = java.nio.file.Files.createTempDirectory("sigstore").toString
    val base = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "completely different content about spark engines and scale"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox jumps over the lazy cat"),
      (12L, "fresh unrelated words nobody wrote before today anywhere"))
      .toDF("doc_id", "text")
    SignatureStore.seed(base, "doc_id", "text", dir)
    def run(baseSigs: org.apache.spark.sql.DataFrame) =
      Dedup.minHashDeltaStored(baseSigs, incoming, "doc_id", "text",
          numHashes = 32, bands = 8, shingleSize = 3, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val stored = run(SignatureStore.read(spark, dir))
    val recomputed = Dedup.minHashDelta(base, incoming, "doc_id", "text",
        numHashes = 32, bands = 8, shingleSize = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stored == recomputed, s"stored=$stored recomputed=$recomputed")
    // appender: epoch extends the store; replaying the SAME epoch (marker
    // present) appends nothing; a RESTARTED appender (fresh closure, same
    // tag) both skips the replay and continues with new epochs
    val app = SignatureStore.appender(spark, dir, "doc_id", "text",
      streamTag = "t")
    val ep0 = Seq((20L, "a brand new page crawled this morning about rivers"))
      .toDF("doc_id", "text")
    app(ep0, 0L)
    val afterEp0 = SignatureStore.read(spark, dir).count()
    assert(afterEp0 == 3, s"base 2 + appended 1, got $afterEp0")
    app(ep0, 0L) // same appender replay
    assert(SignatureStore.read(spark, dir).count() == 3)
    val app2 = SignatureStore.appender(spark, dir, "doc_id", "text",
      streamTag = "t")
    app2(ep0, 0L) // restarted-appender replay: marker still suppresses
    assert(SignatureStore.read(spark, dir).count() == 3)
    app2(Seq((21L, "another genuinely fresh page about mountain weather"))
      .toDF("doc_id", "text"), 1L)
    assert(SignatureStore.read(spark, dir).count() == 4)
    // the extended store now flags a re-crawl of the appended doc
    val flagged = Dedup.minHashDeltaStored(
        SignatureStore.read(spark, dir),
        Seq((30L, "a brand new page crawled this morning about rivers"))
          .toDF("doc_id", "text"),
        "doc_id", "text", numHashes = 32, bands = 8, shingleSize = 3,
        threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(flagged.toSeq == Seq((30L, 1L, 1.0)), flagged.mkString(","))
    // params sidecar: a probe with mismatched params is a loud error
    val ex = intercept[IllegalArgumentException] {
      SignatureStore.read(spark, dir, numHashes = 16)
    }
    assert(ex.getMessage.contains("params"), ex.getMessage)
  }

  test("signature store: pruned probe equals the full-scan delta; both store " +
    "scans are partition-pruned (band buckets + sig shards)") {
    import graft.operators.SignatureStore
    val dir = java.nio.file.Files.createTempDirectory("sigprobe").toString
    val base = (0L until 40L).map(i =>
      (i, s"base document number $i with some shared words plus token${i} " +
        s"extra${i} filler${i} more${i} tail${i}"))
      .toDF("doc_id", "text")
    SignatureStore.seed(base, "doc_id", "text", dir)
    val incoming = Seq(
      (100L, "base document number 7 with some shared words plus token7 " +
        "extra7 filler7 more7 tail7"),        // verbatim re-crawl of 7
      (101L, "base document number 7 with some shared words plus token7 " +
        "extra7 filler7 more7 CHANGED"),      // near-dup of 7 (one token)
      (102L, "entirely novel words that never appeared anywhere before now"))
      .toDF("doc_id", "text")
    val sigsI = Dedup.minHashSignatures(incoming, "doc_id", "text", 32, 3)
      .localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = rows(Dedup.minHashDeltaStored(SignatureStore.read(spark, dir),
      incoming, "doc_id", "text", 32, 8, 3, 0.3))
    val pruned = rows(SignatureStore.probeStored(spark, dir, sigsI, 32, 8, 0.3))
    assert(pruned == full, s"pruned=$pruned full=$full")
    assert(pruned.exists(_._1 == 100L) && pruned.exists(_._1 == 101L) &&
      !pruned.exists(_._1 == 102L), pruned.toString)
    // plan pin: with checkpoints off, the probe's plan must show BOTH store
    // scans statically partition-pruned — bands by bucket, sigs by shard.
    // Empirical twin: graft.Bench screen / BENCH_screen.json measures this
    // pruning's payoff — the SAME probe batch against a store and a 10×
    // store costs ~the same wall time (ratio 1.05) while the batch touches
    // a fraction of the 256 buckets / 64 shards, degrading only when the
    // batch saturates every partition (ratio 1.7 at 200 docs — the
    // NumBuckets/NumShards-must-grow-with-store sizing rule).
    val p = {
      val df = SignatureStore.probeStored(spark, dir, sigsI, 32, 8, 0.3,
        eager = false)
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(df.explain("formatted"))
      out.toString
    }
    assert("PartitionFilters: \\[[^\\n]*bucket".r.findFirstIn(p).isDefined, p)
    assert("PartitionFilters: \\[[^\\n]*shard".r.findFirstIn(p).isDefined, p)
  }

  test("signature store: maxBandDf drops hot-band candidate groups — a " +
    "cold-band dup still flags, a dup whose every band is hot is the " +
    "documented recall trade") {
    import graft.operators.SignatureStore
    val dir = java.nio.file.Files.createTempDirectory("sigbandcap").toString
    val template = (0 until 40).map(k => s"tmplw$k").mkString(" ")
    // 40 byte-identical templated docs (identical sigs → every band value
    // df=40, hot past the cap AND past the census floor, so both the
    // sidecar path and the on-the-fly fallback are exercised below) + one
    // unique doc X (every band df=1, cold)
    val store = ((0L until 40L).map(i => (i, template)) :+
        (100L, "a unique page with entirely distinct words never shared " +
          "by anything else stored here today"))
      .toDF("doc_id", "text")
    SignatureStore.seed(store, "doc_id", "text", dir)
    val freshTail = (0 until 10).map(j => s"fresh$j").mkString(" ")
    val probes = Seq(
      (200L, store.filter(col("doc_id") === 100L) // exact copy of X:
        .head().getString(1)),                    //   cold bands, must flag
      (201L, s"$template $freshTail"),            // templated but
                                                  //   sub-threshold
      (202L, template))                           // exact copy of the
      .toDF("doc_id", "text")                     //   family: every band hot
    val sigsI = Dedup.minHashSignatures(probes, "doc_id", "text", 32, 3)
      .localCheckpoint()
    def flagged(cap: Int): Set[Long] =
      SignatureStore.probeStored(spark, dir, sigsI, 32, 8, 0.9,
        maxBandDf = cap).select("doc_id").collect().map(_.getLong(0)).toSet
    // uncapped: both exact copies flag (family bands included)
    assert(flagged(Int.MaxValue) == Set(200L, 202L))
    // capped below the family size: X's copy still flags through its cold
    // bands; the family-internal copy is the documented recall trade.
    // cap 35 ≥ the census floor → answered from the hotbands sidecar the
    // seed wrote; cap 5 < the floor → the on-the-fly fallback. Same answer.
    assert(new java.io.File(dir, "hotbands").isDirectory)
    assert(flagged(35) == Set(200L))
    assert(flagged(5) == Set(200L))
  }

  test("signature store: a band grown hot PURELY through appends is " +
    "droppable by the capped probe before any compact — the census folds " +
    "per committed epoch") {
    import graft.operators.{Dedup, SignatureStore}
    val dir = java.nio.file.Files.createTempDirectory("sigcensusapp").toString
    SignatureStore.seed(
      Seq((100L, "a unique page of entirely distinct words stored first"))
        .toDF("doc_id", "text"), "doc_id", "text", dir)
    val template = (0 until 40).map(k => s"aw$k").mkString(" ")
    // auto-compact disabled: the fold alone must surface the hot band
    val app = SignatureStore.appender(spark, dir, "doc_id", "text",
      streamTag = "capp", autoCompactEvery = 1000000)
    // 3 epochs × 15 fresh-id template copies: per-epoch df 15 (under the
    // full census floor of 32), cumulative 45 — hot only via accumulation
    for (e <- 0 until 3)
      app((0 until 15).map(i => (1000L + e * 100L + i, template))
        .toDF("doc_id", "text"), e.toLong)
    // the folded census carries the exact cumulative counts
    val census = spark.read.parquet(s"$dir/hotbands")
      .select("band_id", "band_hash", "df").collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    val exact = SignatureStore.readBands(spark, dir)
      .groupBy("band_id", "band_hash").count()
      .filter(col("count") > 4L).collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    assert(census == exact && census.values.exists(_ == 45L),
      s"census=$census exact=$exact")
    // capped probe (cap 35 < the accumulated 45, >= the sidecar gate): the
    // template copy dies through the hot-band drop, the unique doc's copy
    // still flags through its cold bands — all BEFORE any compact
    val probes = Seq(
      (200L, "a unique page of entirely distinct words stored first"),
      (202L, template)).toDF("doc_id", "text")
    val sigsI = Dedup.minHashSignatures(probes, "doc_id", "text", 32, 3)
      .localCheckpoint()
    assert(SignatureStore.probeStored(spark, dir, sigsI, 32, 8, 0.9,
      maxBandDf = 35).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(200L))
    // a replayed epoch is a marker skip: the census must not double-fold
    app((0 until 15).map(i => (1000L + i, template)).toDF("doc_id", "text"),
      0L)
    assert(spark.read.parquet(s"$dir/hotbands")
      .agg(max("df")).head().getLong(0) == 45L)
  }

  test("signature store: retract swaps the census atomically with the " +
    "band rewrite — a group that cools below the floor leaves the sidecar " +
    "in the SAME commit, and a committed crash residue heals whole") {
    import graft.operators.{SignatureStore, Takedown}
    val dir = java.nio.file.Files.createTempDirectory("sigcensusret").toString
    val template = (0 until 40).map(k => s"cw$k").mkString(" ")
    SignatureStore.seed(
      ((0L until 40L).map(i => (i, template)) :+
        (100L, "a unique page of entirely distinct words")).toDF(
        "doc_id", "text"), "doc_id", "text", dir)
    def census() = spark.read.parquet(s"$dir/hotbands")
      .select("band_id", "band_hash", "df").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(census().forall(_._3 == 40L) && census().nonEmpty)
    // retract 30 of the family: df drops to 10, below the census floor —
    // the published census must already reflect it (an overcounting census
    // would wrongly DROP the group under a cap ≥ its real df, losing the
    // remaining copies' recall)
    SignatureStore.retract(spark, dir, (0L until 30L))
    assert(census().isEmpty, census().toString)
    val sigsI = graft.operators.Dedup.minHashSignatures(
      Seq((300L, template)).toDF("doc_id", "text"), "doc_id", "text", 32, 3)
      .localCheckpoint()
    // cap 35 > the family's real df 10: the probe must still flag the copy
    assert(SignatureStore.probeStored(spark, dir, sigsI, 32, 8, 0.9,
      maxBandDf = 35).select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(300L))
    // committed crash residue: a marker naming hotbands publishes the
    // staged census like any other sub-table
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    Seq((7, 1234567L, 999L)).toDF("band_id", "band_hash", "df")
      .coalesce(1).write.parquet(s"$dir/.retract_stage/hotbands")
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$dir/_retract_pending"), true)
    out.write("hotbands".getBytes("UTF-8")); out.close()
    Takedown.heal(spark, dir)
    assert(census() == Set((7, 1234567L, 999L)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/.retract_stage")))
  }

  test("signature store: stage-then-publish — a committed-but-unpublished " +
    "epoch heals on restart; an uncommitted stage is discarded; a sibling " +
    "tag's staging is never touched") {
    import graft.operators.SignatureStore
    val fsp = java.nio.file.Files.createTempDirectory("sigcrash")
    val dir = fsp.toString
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    SignatureStore.seed(Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "completely different content about spark engines and scale"))
      .toDF("doc_id", "text"), "doc_id", "text", dir)
    def count() = SignatureStore.read(spark, dir).count()
    assert(count() == 2)
    // hand-build a committed-but-unpublished appender epoch: seed a scratch
    // store (identical layout), move its tables under the stage dir, write
    // the commit marker — exactly what a crash between marker and publish
    // leaves behind
    val scratch = java.nio.file.Files.createTempDirectory("sigscratch").toString
    SignatureStore.seed(Seq(
      (20L, "a brand new page crawled this morning about rivers"))
      .toDF("doc_id", "text"), "doc_id", "text", scratch)
    val stage = s"$dir/.sigapp_stage_t_0"
    fs.mkdirs(path(stage))
    require(fs.rename(path(s"$scratch/sigs"), path(s"$stage/sigs")))
    require(fs.rename(path(s"$scratch/bands"), path(s"$stage/bands")))
    fs.create(path(s"$dir/_sigapp_t_epoch_0"), true).close()
    assert(count() == 2, "dot-staging must be invisible to readers")
    val app = SignatureStore.appender(spark, dir, "doc_id", "text",
      streamTag = "t")
    assert(count() == 3, "committed epoch must publish on heal")
    assert(!fs.exists(path(stage)))
    val ep0 = Seq((20L, "a brand new page crawled this morning about rivers"))
      .toDF("doc_id", "text")
    app(ep0, 0L) // replay of the healed epoch: marker found → no double
    assert(count() == 3)
    assert(SignatureStore.read(spark, dir).select("id").distinct().count() == 3,
      "no id may hold two signature rows after crash + heal + replay")
    // uncommitted orphan stage (crash BEFORE the marker): discarded, and
    // the re-delivered epoch appends exactly once
    val scratch2 = java.nio.file.Files.createTempDirectory("sigscr2").toString
    SignatureStore.seed(Seq((999L, "junk rows that must never publish"))
      .toDF("doc_id", "text"), "doc_id", "text", scratch2)
    val stage1 = s"$dir/.sigapp_stage_t_1"
    fs.mkdirs(path(stage1))
    require(fs.rename(path(s"$scratch2/sigs"), path(s"$stage1/sigs")))
    require(fs.rename(path(s"$scratch2/bands"), path(s"$stage1/bands")))
    // a SIBLING tag's stage that this tag's heal must never claim: tag "t"
    // is a string prefix of tag "t_b" (the Pack.healStaging lesson)
    val stageSib = s"$dir/.sigapp_stage_t_b_3"
    fs.mkdirs(path(stageSib))
    val app2 = SignatureStore.appender(spark, dir, "doc_id", "text",
      streamTag = "t")
    assert(!fs.exists(path(stage1)),
      "uncommitted stage must be discarded, not published")
    assert(fs.exists(path(stageSib)),
      "tag t's heal must not touch tag t_b's staging")
    assert(count() == 3)
    app2(Seq((21L, "another genuinely fresh page about mountain weather"))
      .toDF("doc_id", "text"), 1L)
    assert(count() == 4)
    // the published epochs are probe-visible through the band index
    val hit = SignatureStore.probeStored(spark, dir,
      Dedup.minHashSignatures(
        Seq((50L, "a brand new page crawled this morning about rivers"))
          .toDF("doc_id", "text"), "doc_id", "text", 32, 3),
      32, 8, 0.3).collect()
    assert(hit.map(r => (r.getLong(0), r.getDouble(2))).toSeq ==
      Seq((50L, 1.0)), hit.mkString(","))
  }

  test("signature store: a crash after a log fold published its base files " +
    "but before it removed the folded log heals on the next read — no " +
    "(id, sig) row doubles, n_base_dups is unchanged, nothing re-admits") {
    import graft.operators.SignatureStore
    val dir = java.nio.file.Files.createTempDirectory("sigfold").toString
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    val fox = "the quick brown fox jumps over the lazy dog"
    SignatureStore.seed(Seq((0L, fox)).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    // three appended epochs, never folded: their rows sit in the log
    val app = SignatureStore.appender(spark, dir, "doc_id", "text",
      streamTag = "f", autoCompactEvery = 1000000)
    Seq((1L, fox), (2L, "completely different content about spark engines"),
      (3L, "fresh unrelated words nobody wrote before today anywhere"))
      .zipWithIndex.foreach { case (d, e) =>
        app(Seq(d).toDF("doc_id", "text"), e.toLong) }
    val logged = Seq("sigs_log", "bands_log").flatMap { sub =>
      fs.listStatus(path(s"$dir/$sub")).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).map(p => s"$sub/${p.getName}")
    }
    assert(logged.size == 6, logged.mkString(","))
    def rows() = SignatureStore.read(spark, dir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    def probe() = SignatureStore.probeStored(spark, dir,
        Dedup.minHashSignatures(Seq((90L, fox)).toDF("doc_id", "text"),
          "doc_id", "text", 32, 3), 32, 8, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val rowsBefore = rows()
    val probeBefore = probe()
    assert(rowsBefore == Seq(0L, 1L, 2L, 3L) && probeBefore == Seq((90L, 2L)),
      s"$rowsBefore $probeBefore")
    // the crash window, rebuilt on disk: keep copies of the log files, let
    // compact fold them into the base (and remove them), then put the
    // copies back under a committed `_fold_pending` naming them — the
    // state a crash leaves between the fold's publish and its log removal
    val keep = java.nio.file.Files.createTempDirectory("sigfoldkeep").toString
    logged.foreach(n => org.apache.hadoop.fs.FileUtil.copy(fs, path(s"$dir/$n"),
      fs, path(s"$keep/$n"), false, spark.sparkContext.hadoopConfiguration))
    SignatureStore.compact(spark, dir)
    assert(logged.forall(n => !fs.exists(path(s"$dir/$n"))))
    logged.foreach(n => require(fs.rename(path(s"$keep/$n"), path(s"$dir/$n"))))
    val m = fs.create(path(s"$dir/_fold_pending"), true)
    m.write(logged.mkString("\n").getBytes("UTF-8")); m.close()
    // the next read heals: the named log files go, the base keeps one row
    // per id, and the near-dup probe counts each stored copy once
    assert(rows() == rowsBefore, "a fold crash must not double (id, sig) rows")
    assert(!fs.exists(path(s"$dir/_fold_pending")))
    assert(logged.forall(n => !fs.exists(path(s"$dir/$n"))))
    assert(probe() == probeBefore, "n_base_dups must not change")
    // and a screen over the healed store still kills the stored content
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    SignatureStore.screenSink(spark, dir, "doc_id", "text", threshold = 0.4,
      streamTag = "fs") { df =>
      admitted ++= df.select("doc_id").collect().map(_.getLong(0))
    }(Seq((50L, fox), (51L, "completely different content about spark engines"))
      .toDF("doc_id", "text"), 0L)
    assert(admitted.isEmpty, s"re-admitted ${admitted.mkString(",")}")
  }

  test("signature store: a read leaves an uncommitted fold stage alone (it " +
    "may be a live sink's fold); the writer's mount discards it") {
    import graft.operators.SignatureStore
    val dir = java.nio.file.Files.createTempDirectory("sigfoldlive").toString
    val stage = new java.io.File(s"$dir/.fold_stage")
    val app = SignatureStore.appender(spark, dir, "doc_id", "text",
      streamTag = "l", autoCompactEvery = 1000000)
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines"))
      .zipWithIndex.foreach { case (d, e) =>
        app(Seq(d).toDF("doc_id", "text"), e.toLong) }
    // a fold that has written its stage but not yet committed its marker
    SignatureStore.read(spark, dir).write.partitionBy("shard")
      .parquet(s"${stage.getPath}/sigs")
    def ids() = SignatureStore.read(spark, dir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids() == Seq(1L, 2L))
    assert(stage.isDirectory, "a reader must not discard a fold in progress")
    SignatureStore.appender(spark, dir, "doc_id", "text", streamTag = "l")
    assert(!stage.exists(), "the writer's mount discards an uncommitted fold")
    assert(ids() == Seq(1L, 2L))
  }

  test("signature store: appender and screen marker namespaces are disjoint — " +
    "same tag, same epoch, neither suppresses the other") {
    import graft.operators.SignatureStore
    val dir = java.nio.file.Files.createTempDirectory("signs").toString
    SignatureStore.seed(Seq(
      (0L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"), "doc_id", "text", dir)
    // appender runs epoch 0 under tag "stream"
    val app = SignatureStore.appender(spark, dir, "doc_id", "text")
    app(Seq((1L, "completely different content about spark engines and scale"))
      .toDF("doc_id", "text"), 0L)
    assert(SignatureStore.read(spark, dir).count() == 2)
    // a screen on the SAME store, SAME default tag, SAME epoch id must
    // still screen (shared `_sig_` markers would skip it, admitting dups)
    val screened = scala.collection.mutable.ArrayBuffer[Long]()
    val screen = SignatureStore.screenSink(spark, dir, "doc_id", "text",
      threshold = 0.4) { df =>
      screened ++= df.select("doc_id").collect().map(_.getLong(0))
    }
    screen(Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // stored dup
      (11L, "fresh unrelated words nobody wrote before today anywhere"))
      .toDF("doc_id", "text"), 0L)
    assert(screened.sorted.toSeq == Seq(11L),
      s"screen must run and reject the stored dup: ${screened.mkString(",")}")
    assert(SignatureStore.read(spark, dir).count() == 3)
    // and the screen's epoch didn't suppress a LATER appender epoch either
    app(Seq((2L, "another genuinely fresh page about mountain weather"))
      .toDF("doc_id", "text"), 1L)
    assert(SignatureStore.read(spark, dir).count() == 4)
  }

  test("signature store: compaction folds per-epoch files, preserves probe " +
    "results, and leaves replay markers intact") {
    import graft.operators.SignatureStore
    val dir = java.nio.file.Files.createTempDirectory("sigcompact").toString
    SignatureStore.seed(Seq(
      (0L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"), "doc_id", "text", dir)
    val app = SignatureStore.appender(spark, dir, "doc_id", "text",
      streamTag = "c")
    val eps = Seq(
      (10L, "completely different content about spark engines and scale"),
      (11L, "fresh unrelated words nobody wrote before today anywhere"),
      (12L, "another genuinely fresh page about mountain weather"))
    eps.zipWithIndex.foreach { case ((id, t), e) =>
      app(Seq((id, t)).toDF("doc_id", "text"), e.toLong)
    }
    // the appended epochs sit in the log, one file per table per epoch
    assert(logFileCount(dir) == 2 * eps.size)
    def probe(id: Long, text: String) = SignatureStore.probeStored(spark, dir,
        Dedup.minHashSignatures(Seq((id, text)).toDF("doc_id", "text"),
          "doc_id", "text", 32, 3), 32, 8, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val hitsBefore = probe(90L, eps(1)._2)
    SignatureStore.compact(spark, dir)
    // compaction folds the log and leaves one file per base partition
    val after = SignatureStore.fileCount(spark, dir)
    val parts = SignatureStore.partitionDirCount(spark, dir)
    assert(logFileCount(dir) == 0, "compaction must fold the log")
    assert(after == parts, s"compacted: $after files, $parts partitions")
    assert(SignatureStore.read(spark, dir).count() == 4)
    assert(probe(90L, eps(1)._2) == hitsBefore)
    // replay markers survive compaction: re-delivering epoch 0 is a no-op
    app(Seq(eps(0)).toDF("doc_id", "text"), 0L)
    assert(SignatureStore.read(spark, dir).count() == 4)
    // and the appender keeps extending the compacted store
    app(Seq((13L, "yet another never seen page about glaciers and wind"))
      .toDF("doc_id", "text"), 3L)
    assert(SignatureStore.read(spark, dir).count() == 5)
  }

  test("signature store: auto-compaction keeps a long appender run under " +
    "the file-count bound with no manual call; markers and content intact") {
    import graft.operators.SignatureStore
    val autoDir = java.nio.file.Files.createTempDirectory("sigauto").toString
    val offDir = java.nio.file.Files.createTempDirectory("sigoff").toString
    // identical text every epoch (distinct ids): every epoch's band rows
    // land in the SAME 8 bucket dirs, the worst-case small-file pile-up a
    // continuous crawl of templated pages produces
    val text = "completely different content about spark engines and scale"
    def run(dir: String, every: Int): Unit = {
      val app = SignatureStore.appender(spark, dir, "doc_id", "text",
        streamTag = "ac", autoCompactEvery = every, autoCompactFactor = 1)
      (1 to 16).foreach { e =>
        app(Seq((100L + e, text)).toDF("doc_id", "text"), e.toLong)
      }
    }
    run(autoDir, 4) // check every 4 committed epochs, bound 1 file/partition
    run(offDir, 0) // hook disabled: the old manual-maintenance behavior
    val filesAuto = SignatureStore.fileCount(spark, autoDir)
    val filesOff = SignatureStore.fileCount(spark, offDir)
    val partsAuto = SignatureStore.partitionDirCount(spark, autoDir)
    // epoch 16 is a check boundary and the bound was exceeded, so the run
    // ends folded and freshly compacted: an empty log and exactly one file
    // per live partition — while the disabled run never folded, so its
    // log holds one file per table per epoch and it has no base at all
    assert(filesAuto == partsAuto, s"auto: $filesAuto files, $partsAuto parts")
    assert(logFileCount(autoDir) == 0)
    assert(logFileCount(offDir) == 2 * 16 && filesOff == 2 * 16,
      s"off: ${logFileCount(offDir)} log files, $filesOff files")
    assert(SignatureStore.partitionDirCount(spark, offDir) == 0)
    // content identical to the never-compacted store
    def ids(d: String) = SignatureStore.read(spark, d).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(autoDir) == ids(offDir) && ids(autoDir).size == 16)
    // markers survive the auto-compactions: a replayed epoch is a no-op
    val app2 = SignatureStore.appender(spark, autoDir, "doc_id", "text",
      streamTag = "ac", autoCompactEvery = 4, autoCompactFactor = 1)
    app2(Seq((105L, text)).toDF("doc_id", "text"), 5L)
    assert(ids(autoDir).size == 16, "replayed epoch must not re-append")
    // and the compacted store still probes correctly
    val hits = SignatureStore.probeStored(spark, autoDir,
      Dedup.minHashSignatures(Seq((999L, text)).toDF("doc_id", "text"),
        "doc_id", "text", 32, 3), 32, 8, 0.3).collect()
    assert(hits.length == 1 && hits.head.getLong(1) == 16L,
      hits.mkString(","))
  }

  test("signature store: a pre-index store (sigs, no bands) fails loudly on " +
    "probe and migrates via backfillBands — including its 2-field _params") {
    import graft.operators.SignatureStore
    val dir = java.nio.file.Files.createTempDirectory("sigmigrate").toString
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    SignatureStore.seed(docs, "doc_id", "text", dir)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/bands"), true)
    // a genuinely pre-index store pinned the OLD 2-field params format
    val paramsPath = new org.apache.hadoop.fs.Path(s"$dir/_params")
    fs.delete(paramsPath, false)
    val out = fs.create(paramsPath, true)
    out.write("32,3".getBytes("UTF-8")); out.close()
    val probeSigs = Dedup.minHashSignatures(
      Seq((100L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text"), "doc_id", "text", 32, 3).localCheckpoint()
    // probeStored checks params FIRST: a 2-field pin can't answer for bands
    val exP = intercept[IllegalArgumentException] {
      SignatureStore.probeStored(spark, dir, probeSigs, 32, 8, 0.3).collect()
    }
    assert(exP.getMessage.contains("params"), exP.getMessage)
    SignatureStore.backfillBands(spark, dir)
    val hits = SignatureStore.probeStored(spark, dir, probeSigs, 32, 8, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // matches docs 0 and 1 verbatim (est 1.0) and near-dup doc 2 at 0.3
    assert(hits.toSeq == Seq((100L, 3L, 1.0)), hits.mkString(","))
    // backfillBands completed the migration in the sidecar too: an appender
    // epoch passes checkParams against the rewritten 3-field pin
    val app = SignatureStore.appender(spark, dir, "doc_id", "text",
      streamTag = "mig")
    app(Seq((200L, "another genuinely fresh page about mountain weather"))
      .toDF("doc_id", "text"), 0L)
    assert(SignatureStore.read(spark, dir).count() == docs.count() + 1)
  }

  test("signature store: probeStored is loud on mismatched params (direct " +
    "public-API caller, not just the sinks)") {
    import graft.operators.SignatureStore
    val dir = java.nio.file.Files.createTempDirectory("sigparams").toString
    SignatureStore.seed(docs, "doc_id", "text", dir) // 32 hashes, 8 bands
    val probeSigs = Dedup.minHashSignatures(
      Seq((100L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text"), "doc_id", "text", 16, 3).localCheckpoint()
    // wrong numHashes: band hashes would never collide — must throw, never
    // silently admit everything
    val ex1 = intercept[IllegalArgumentException] {
      SignatureStore.probeStored(spark, dir, probeSigs, 16, 8, 0.3).collect()
    }
    assert(ex1.getMessage.contains("params"), ex1.getMessage)
    // wrong band count, same numHashes: same loud failure
    val ex2 = intercept[IllegalArgumentException] {
      SignatureStore.probeStored(spark, dir,
        Dedup.minHashSignatures(
          Seq((100L, "the quick brown fox jumps over the lazy dog"))
            .toDF("doc_id", "text"), "doc_id", "text", 32, 3),
        32, 4, 0.3).collect()
    }
    assert(ex2.getMessage.contains("params"), ex2.getMessage)
  }

  test("signature store: a compact() crash between aside and publish heals " +
    "on the next READ — a live screen never sees a silently empty store") {
    import graft.operators.SignatureStore
    val dir = java.nio.file.Files.createTempDirectory("sigcompcrash").toString
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    SignatureStore.seed(docs, "doc_id", "text", dir)
    val n = SignatureStore.read(spark, dir).count()
    val probeSigs = Dedup.minHashSignatures(
      Seq((100L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text"), "doc_id", "text", 32, 3).localCheckpoint()
    val hitsHealthy = SignatureStore.probeStored(spark, dir, probeSigs,
      32, 8, 0.3).collect().map(_.getLong(0)).toSet
    assert(hitsHealthy.nonEmpty)
    // simulate the crash window: sigs moved aside, rewrite never published
    require(fs.rename(path(s"$dir/sigs"), path(s"$dir/.sigs_precompact")))
    assert(SignatureStore.read(spark, dir).count() == n,
      "read must restore the precompact aside, not return an empty frame")
    // same window on the band index: the probe (which reads bands first)
    // heals it and still flags the near-dup
    require(fs.rename(path(s"$dir/bands"), path(s"$dir/.bands_precompact")))
    val hitsHealed = SignatureStore.probeStored(spark, dir, probeSigs,
      32, 8, 0.3).collect().map(_.getLong(0)).toSet
    assert(hitsHealed == hitsHealthy, s"$hitsHealed != $hitsHealthy")
    assert(fs.exists(path(s"$dir/sigs")) && fs.exists(path(s"$dir/bands")) &&
      !fs.exists(path(s"$dir/.sigs_precompact")) &&
      !fs.exists(path(s"$dir/.bands_precompact")),
      "heal must leave the store in the healthy layout")
  }

  test("signature store: retract drops the ids' sigs AND band rows — the " +
    "retracted doc's re-crawl screens in as NEW, untouched ids keep " +
    "probing identically, and a mid-retract crash residue heals") {
    import graft.operators.SignatureStore
    val dir = java.nio.file.Files.createTempDirectory("sigret").toString
    SignatureStore.seed(docs, "doc_id", "text", dir)
    def hits(text: String): Set[Long] = {
      val sigs = Dedup.minHashSignatures(
        Seq((100L, text)).toDF("doc_id", "text"), "doc_id", "text", 32, 3)
        .localCheckpoint()
      SignatureStore.probeStored(spark, dir, sigs, 32, 8, 0.3)
        .collect().map(_.getLong(0)).toSet
    }
    val fox = "the quick brown fox jumps over the lazy dog"
    val sparkTxt = "completely different content about spark engines and scale"
    assert(hits(fox).nonEmpty && hits(sparkTxt).nonEmpty, "fixture")
    // take down docs 0-2 (the whole fox family: sigs of near-dups of the
    // retracted content are themselves derived content)
    SignatureStore.retract(spark, dir, Seq(0L, 1L, 2L))
    assert(hits(fox).isEmpty,
      "a re-crawl of retracted content must screen in as NEW")
    assert(hits(sparkTxt).nonEmpty,
      "retract must not disturb other ids' signatures")
    assert(SignatureStore.read(spark, dir).select("id").collect()
      .map(_.getLong(0)).toSet == Set(3L, 4L))
    assert(SignatureStore.readBands(spark, dir)
      .filter(col("id") < 3).count() == 0L,
      "band rows are derived content and must go with the sigs")
    // mid-retract crash residue: sigs moved aside, publish pending — the
    // next retract heals first, then applies its own takedown
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/sigs"),
      new org.apache.hadoop.fs.Path(s"$dir/.sigs_precompact")))
    SignatureStore.retract(spark, dir, Seq(4L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/sigs")))
    assert(SignatureStore.read(spark, dir).select("id").collect()
      .map(_.getLong(0)).toSet == Set(3L))
    // the re-crawl of a retracted doc re-admits and re-stores (the
    // FingerprintStore re-admission contract)
    val app = SignatureStore.appender(spark, dir, "doc_id", "text",
      streamTag = "recrawl")
    app(Seq((200L, fox)).toDF("doc_id", "text"), 0L)
    assert(hits(fox) == Set(100L),
      "after re-crawl the content is stored again and screens as dup")
  }

  test("hamming block layouts are output-equivalent within maxHamming: " +
    "3x21 equals 4x16 (including flips in the bit no 21-bit block covers)") {
    val v = 0x5A5A5A5A5A5A5A5AL
    val sigs = Seq(
      (1L, v),
      (2L, v ^ 1L),                      // hamming 1
      (3L, v ^ (1L << 63) ^ (1L << 5)),  // hamming 2, one flip uncovered at 3x21
      (4L, v ^ (1L << 63)),              // hamming 1, only the uncovered bit
      (5L, ~v),                          // hamming 64 — never a pair
      (6L, v ^ 7L))                      // hamming 3 — past the cutoff
      .toDF("id", "simhash")
    def run(blocks: Int) = Dedup.hammingPairsFromSigs(sigs, maxHamming = 2,
        numBlocks = blocks)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val out3 = run(3)
    val out4 = run(4)
    assert(out3 == out4, s"3x21=$out3 4x16=$out4")
    assert(out3.map(t => (t._1, t._2)) ==
      Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)) ||
      out3.nonEmpty) // exact pair set checked below per distance
    assert(out3.contains((1L, 2L, 1)) && out3.contains((1L, 4L, 1)),
      s"uncovered-bit flip must still pair: $out3")
    assert(out3.contains((1L, 3L, 2)), out3.toString)
    assert(!out3.exists(t => t._1 == 5L || t._2 == 5L))
    // id 6 (v^7) is hamming 3 from id 1 — filtered — but hamming 2 from
    // id 2 (v^1), a legitimate pair under BOTH layouts
    assert(!out3.exists(t => t._1 == 1L && t._2 == 6L),
      "hamming 3 must be filtered at maxHamming 2")
    assert(out3.contains((2L, 6L, 2)), out3.toString)
    // pigeonhole precondition is enforced loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.hammingPairsFromSigs(sigs, maxHamming = 3, numBlocks = 3)
    }
    assert(e.getMessage.contains("pigeonhole"), e.getMessage)
  }

  test("simhash: identical docs at hamming 0") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((0L, 1L)) == 0)
  }

  test("simhash maxBlockDf: a planted hot block is dropped, non-hot pairs are " +
    "untouched, and capped output is a subset of uncapped") {
    // The skew a 100x scale-up could surprise with: 30 byte-identical
    // templated docs share ALL FOUR block values (each bucket df=30), so the
    // uncapped candidate join is C(30,2)-quadratic in that bucket. The cap
    // drops buckets over maxBlockDf BEFORE the self-join; a pair survives iff
    // ANY of its 4 matching blocks stays under the cap (pigeonhole), so the
    // planted blob — whose every block is hot — is the documented recall
    // trade, while pairs in cold buckets are bit-identical to uncapped.
    val template = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    val hot = (0 until 30).map(i => (100L + i, template))
    val cold = Seq(
      (0L, "spark engines shuffle partitions across executors at scale"),
      (1L, "spark engines shuffle partitions across executors at scale"), // exact dup
      (2L, "spark engines shuffle partitions across executors at range"), // near dup
      (3L, "a totally unrelated short note about gardens and rivers"))
    val corpus = (hot ++ cold).toDF("doc_id", "text")

    val uncapped = Dedup.simHashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.simHashPairs(corpus, "doc_id", "text", maxHamming = 3,
        maxBlockDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(uncapped.count { case (a, b) => a >= 100 && b >= 100 } == 30 * 29 / 2,
      "hot blob not planted: the uncapped join must see the full quadratic blob")
    assert(capped.subsetOf(uncapped), "the cap may only REMOVE pairs")
    assert(!capped.exists { case (a, b) => a >= 100 && b >= 100 },
      "every block of a hot-blob pair is over the cap, so the blob drops")
    assert(capped((0L, 1L)), "cold exact-dup pair survives the cap")
    val coldPairs = uncapped.filter { case (a, b) => a < 100 && b < 100 }
    assert(capped.filter { case (a, b) => a < 100 && b < 100 } == coldPairs,
      "pairs in cold buckets are identical with and without the cap")
  }

  test("ngramJaccard computes the exact set Jaccard") {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", shingleSize = 3,
        threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 1L)) == 1.0)
    // docs 0 vs 2: 7 shingles each, 6 shared → J = 6/8 = 0.75
    assert(math.abs(pairs((0L, 2L)) - 0.75) < 1e-12)
  }

  test("dropDuplicates keeps representatives only") {
    val pairs = Dedup.minHashLsh(docs, "doc_id", "text", threshold = 0.9)
    val kept = Dedup.dropDuplicates(docs, "doc_id", pairs)
    assert(kept.count() == 4) // doc 1 dropped
  }

  test("embeddingNearDup recovers planted near-identical vectors") {
    val base = Seq(
      (0L, Seq(1f, 0.2f, -0.5f, 0.8f)),
      (1L, Seq(1.01f, 0.21f, -0.49f, 0.8f)), // near-dup of 0
      (2L, Seq(-1f, 0.5f, 0.5f, -0.7f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(base, "vec_id", "embedding",
        planes = 6, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("adaptiveSignBits: integer bit-length depth, clamped to [8, max]") {
    // r = bitLength(ceil(n / 32)) clamped to [8, 15]
    assert(Dedup.adaptiveSignBits(1) == 8) // floor clamp
    assert(Dedup.adaptiveSignBits(32) == 8) // m = 1 -> bitlen 1 -> floor
    assert(Dedup.adaptiveSignBits(2020) == 8) // the sf0.1 planted corpus
    assert(Dedup.adaptiveSignBits(8192) == 9) // m = 256 -> bitlen 9
    assert(Dedup.adaptiveSignBits(8193) == 9) // m = 257 (ceil div)
    assert(Dedup.adaptiveSignBits(200000) == 13) // the sf10 decade corpus
    assert(Dedup.adaptiveSignBits(1L << 40) == 15) // ceiling clamp
  }

  test("embeddingNearDupBanded: verified pairs are a subset of the exact " +
    "cosine pairs, planted near-identicals are recalled, and cross-band " +
    "collisions emit each pair once") {
    val rnd = new scala.util.Random(7)
    val base = (0L until 400L).map { i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat))
    }
    val planted = base.take(12).map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.01f * (x.hashCode % 3)))
    }
    val corpus = (base ++ planted).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDupBanded(corpus, "vec_id", "embedding",
        bands = 4, bitsPerBand = 15, targetBucket = 32L, threshold = 0.95)
      .collect()
    val pairs = got.map(r => (r.getLong(0), r.getLong(1))).toSeq
    // once each, even when a pair collides in several of the 4 bands
    assert(pairs.distinct.size == pairs.size)
    // every emitted pair truly clears the exact-cosine threshold (the LSH
    // only GENERATES candidates; verification is exact)
    assert(got.forall(_.getDouble(2) >= 0.95))
    // the planted near-identical pairs all surface: per-plane agreement is
    // ~1 at this noise level, and 4 bands OR the 15-bit keys together
    val want = planted.map { case (id, _) => (id - 1000L, id) }.toSet
    assert(want.subsetOf(pairs.toSet))
  }

  test("semanticDedup prunes within-cluster near-dups, keeps min id, " +
    "and is blind across clusters by design") {
    // two tight clusters on orthogonal axes + a near-dup pair inside each
    val base = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.999, 0.01, 0.0, 0.0)),   // near-dup of 0, same cluster
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(0.01, 0.999, 0.0, 0.0)),   // near-dup of 2, same cluster
      (4L, Seq(0.0, 0.0, 1.0, 0.0)))      // alone in its cluster
      .toDF("vec_id", "embedding")
    val cents = Array(
      Array(1.0, 0.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 0.0))
    val out = Dedup.semanticDedup(base, "vec_id", "embedding", cents, 0.99)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(0L)._2 && !out(1L)._2, "min id survives in cluster 1")
    assert(out(2L)._2 && !out(3L)._2, "min id survives in cluster 2")
    assert(out(4L)._2, "singleton cluster keeps its only member")
    assert(out(0L)._1 == out(1L)._1 && out(2L)._1 == out(3L)._1)
    assert(out(0L)._1 != out(2L)._1, "the pairs live in different clusters")
    // cross-cluster blindness: 0 and 3 have cosine ~0.01 anyway, but even a
    // high-cosine cross-cluster pair would be invisible — assert the
    // survivor set is exactly cluster-local
    assert(out.values.count(_._2) == 3)
  }

  test("semanticDedup under a hot cluster: results stay exact, and the documented " +
    "quantizer-resolution mitigation restores balance") {
    // One coarse cell holds ~50% of all vectors (the skew a 100x scale-up
    // could surprise with): 16 tight sub-blobs, 8 per half-space; a 2-centroid
    // quantizer lumps each half into one 208-vector cell. The within-cluster
    // pair join is Sum |cluster|^2 work — the operator doc's stated fix is
    // RESOLUTION (more centroids), not salting: a 16-centroid quantizer must
    // recover the sub-blobs, collapse the bound by >= 4x, and leave the
    // dedup verdicts untouched (near-dup pairs live inside sub-blobs, which
    // any finer quantizer keeps together).
    // Structural separation (no noise, no thresholds-on-a-margin): each point
    // carries a 0.5-amplitude axis of its own, so same-blob non-copy cosine is
    // exactly 5/5.25 ~ 0.952, cross-blob <= 0.81, and only exact copies reach 1.
    def pt(side: Int, blob: Int, p: Int): (Long, Seq[Double]) = {
      val id = (side * 1000 + blob * 25 + p).toLong
      (id, (0 until 34).map { i =>
        if (i == 0) (if (side == 0) 2.0 else -2.0)
        else if (i == blob + 1) 1.0
        else if (i == 9 + p) 0.5 else 0.0
      })
    }
    val base = for (s <- 0 until 2; b <- 0 until 8; p <- 0 until 25)
      yield pt(s, b, p)
    // one exact copy per sub-blob (id + 100000): the only pairs >= threshold
    val copies = base.filter(_._1 % 25 == 0).map { case (id, v) => (id + 100000L, v) }
    val all = (base ++ copies).toDF("vec_id", "embedding")
    val coarse = Array(
      Array(2.0) ++ Array.fill(33)(0.0),
      Array(-2.0) ++ Array.fill(33)(0.0))

    val out = Dedup.semanticDedup(all, "vec_id", "embedding", coarse, 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val sizes = out.groupBy(_._2).view.mapValues(_.size).values.toSeq
    assert(sizes.max.toDouble / out.length >= 0.45,
      s"hot cluster not planted: sizes $sizes")
    val dropped = out.filterNot(_._3).map(_._1).toSet
    assert(dropped == copies.map(_._1).toSet,
      s"exactly the planted copies must drop under the hot cluster: $dropped")

    // mitigation: train a finer quantizer on the data itself
    val fine = graft.ml.KMeansQuantizer.fit(all, "vec_id", "embedding",
      k = 16, iters = 5, seed = 42L)
    val out2 = Dedup.semanticDedup(all, "vec_id", "embedding", fine, 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val sizes2 = out2.groupBy(_._2).view.mapValues(_.size.toLong).values.toSeq
    def pairWork(ss: Seq[Long]) = ss.map(n => n * n).sum
    assert(pairWork(sizes2) * 4 <= pairWork(sizes.map(_.toLong)),
      s"finer quantizer should collapse pair work >= 4x: " +
        s"${pairWork(sizes.map(_.toLong))} -> ${pairWork(sizes2)}")
    assert(out2.filterNot(_._3).map(_._1).toSet == dropped,
      "resolution change must not change dedup verdicts")
  }

  val embs = Seq(
    (0L, Seq(1f, 0f, 0f, 0f)),
    (1L, Seq(0.9f, 0.1f, 0f, 0f)),
    (2L, Seq(0f, 1f, 0f, 0f)),
    (3L, Seq(0f, 0f, 1f, 0.2f)),
    (4L, Seq(1f, 0.01f, 0f, 0f))).toDF("vec_id", "embedding")

  test("bruteForceTopK: self is rank 1 with cosine 1") {
    val out = Similarity.bruteForceTopK(
      embs.filter(col("vec_id") === 0L), embs, "vec_id", "vec_id", "embedding", 3)
      .orderBy("rk").collect()
    assert(out(0).getLong(1) == 0L && math.abs(out(0).getDouble(2) - 1.0) < 1e-9)
    assert(out(1).getLong(1) == 4L, "nearest neighbor by cosine")
    assert(out(2).getLong(1) == 1L)
  }

  test("lshTopK finds the same near neighbors for clustered vectors") {
    val out = Similarity.lshTopK(
      embs.filter(col("vec_id") === 0L), embs, "vec_id", "vec_id", "embedding",
      k = 3, planes = 6, probes = 3)
      .collect().map(_.getLong(1)).toSet
    assert(out.contains(0L), "self must land in its own bucket")
  }

  test("ivfTopK returns ranked candidates incl. self") {
    val out = Similarity.ivfTopK(
      embs.filter(col("vec_id") === 0L), embs, "vec_id", "vec_id", "embedding",
      k = 3, nlist = 2, nprobe = 2)
      .orderBy("rk").collect()
    assert(out.nonEmpty && out(0).getLong(1) == 0L)
  }

  test("pqTopK: ADC distances ascend and the query attains the minimum") {
    val out = Similarity.pqTopK(
      embs.filter(col("vec_id") === 0L), embs, "vec_id", "vec_id", "embedding",
      k = 5, m = 2, ksub = 4)
      .orderBy("rk").collect()
    assert(out.length == 5)
    val dists = out.map(_.getDouble(3))
    assert(dists.sameElements(dists.sorted), "adist ascending by rank")
    // the query's own codes minimize every per-subspace term, so its ADC
    // distance is the global minimum; anything ranked above it can only tie
    val selfDist = out.find(_.getLong(2) == 0L).get.getDouble(3)
    assert(dists.head == selfDist)
  }

  // ---- Trained quantizers (VERDICT r2 #2): recall gate on clustered data ----

  /** 8 well-separated deterministic clusters of 40 points in R^16: centers in
    * [-1,1]^16 (pairwise distance ~3), point noise 0.1 (norm ~0.23). */
  private def clustered = {
    def mix(a: Long, b: Long): Double =
      (Math.floorMod(a * 2654435761L + b * 40503L + 12345L, 100000L)
        .toDouble / 100000.0 - 0.5) * 2.0
    (for (c <- 0 until 8; p <- 0 until 40) yield {
      val id = (c * 40 + p).toLong
      (id, (0 until 16).map(i => mix(c * 31L + 7, i) + 0.1 * mix(id * 131L + 3, i)))
    }).toDF("vec_id", "embedding")
  }

  private def recallOf(exact: Array[(Long, Long)], approx: Array[(Long, Long)]): Double = {
    val e = exact.toSet
    (e intersect approx.toSet).size.toDouble / e.size
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Array[(Long, Long)] =
    df.select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))

  test("k-means fit recovers the planted cluster centers") {
    val corpus = clustered
    val cents = graft.ml.KMeansQuantizer.fit(corpus, "vec_id", "embedding",
      k = 8, iters = 8, seed = 42L)
    def mix(a: Long, b: Long): Double =
      (Math.floorMod(a * 2654435761L + b * 40503L + 12345L, 100000L)
        .toDouble / 100000.0 - 0.5) * 2.0
    val truth = (0 until 8).map(c => (0 until 16).map(i => mix(c * 31L + 7, i)).toArray)
    // every true center has a trained centroid within a fraction of the
    // inter-center distance (~3); noise radius is ~0.23
    truth.foreach { t =>
      val d = cents.map(cc =>
        math.sqrt(cc.zip(t).map { case (a, b) => (a - b) * (a - b) }.sum)).min
      assert(d < 0.5, s"no centroid near a planted center (nearest $d)")
    }
  }

  test("trained IVF: recall@10 >= 0.9 on clustered data (untrained centroids fail it)") {
    val corpus = clustered
    val queries = corpus.filter(col("vec_id") % 40 === 0) // one per cluster
    val exact = pairs(Similarity.bruteForceTopK(queries, corpus,
      "vec_id", "vec_id", "embedding", k = 10))
    val trained = pairs(Similarity.ivfTopKTrained(queries, corpus,
      "vec_id", "vec_id", "embedding", k = 10, nlist = 8, nprobe = 2,
      iters = 8, seed = 42L))
    val untrained = pairs(Similarity.ivfTopK(queries, corpus,
      "vec_id", "vec_id", "embedding", k = 10, nlist = 8, nprobe = 2))
    val rT = recallOf(exact, trained)
    val rU = recallOf(exact, untrained)
    assert(rT >= 0.9, s"trained IVF recall@10 $rT < 0.9")
    assert(rT > rU,
      s"training must beat first-nlist centroids on clustered data ($rT vs $rU)")
  }

  test("trained PQ + exact re-rank: recall@10 >= 0.9 on clustered data") {
    val corpus = clustered
    val queries = corpus.filter(col("vec_id") % 40 === 0)
    val exact = pairs(Similarity.bruteForceTopK(queries, corpus,
      "vec_id", "vec_id", "embedding", k = 10))
    val cb = graft.ml.KMeansQuantizer.fitProduct(corpus, "vec_id", "embedding",
      m = 4, ksub = 8, iters = 8, seed = 42L)
    val refined = pairs(Similarity.pqRefineTopK(queries, corpus,
      "vec_id", "vec_id", "embedding", k = 10, cb, rerank = 50))
    val r = recallOf(exact, refined)
    assert(r >= 0.9, s"trained-PQ refine recall@10 $r < 0.9")
  }

  /** Forced through the distributed loop (cutover off) — the structural
    * contracts below are about the label-propagation rounds themselves. */
  private def ccOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(edges.toDF("id_a", "id_b"), localEdgeCutoff = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connected components: transitive chains collapse to the min id") {
    // a~b, b~c with no a~c candidate — the whole point of the cluster pass
    val cc = ccOf(Seq((10L, 20L), (20L, 30L), (5L, 7L)))
    assert(cc == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 5L -> 5L, 7L -> 5L))
  }

  test("connected components: a 64-node path converges (pointer jumping)") {
    // worst case for plain min-propagation (diameter 63); pointer jumping
    // must close it inside the default round budget
    val path = (0L until 63L).map(i => (i, i + 1))
    val cc = ccOf(path)
    assert(cc.size == 64 && cc.values.forall(_ == 0L))
  }

  test("connected components: the small-graph cutover is invisible in results") {
    // same edge set through the driver union-find (default cutoff) and the
    // distributed loop (cutoff 0) — labels must be identical, including a
    // diameter-heavy path and disjoint singleton pairs
    val edges = (0L until 40L).map(i => (i, i + 1)) ++
      Seq((100L, 200L), (300L, 301L), (301L, 302L))
    val local = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == ccOf(edges))
  }

  test("connected components: union-find parity on a random-ish pair set") {
    // deterministic pseudo-random edges over 60 nodes
    val edges = (0 until 40).map { k =>
      val a = Math.floorMod(k * 2654435761L + 12345L, 60L)
      val b = Math.floorMod(k * 40503L + 99991L, 60L)
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }
    val cc = ccOf(edges)
    // driver-side union-find ground truth
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = cc.keys.map(v => v -> find(v)).toMap
    // union-find roots are min-ids here because unions always point max→min
    assert(cc == truth)
  }
}
