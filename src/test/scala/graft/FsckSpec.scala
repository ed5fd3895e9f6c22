package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Read-only store audit ([[Fsck]]): every check detects its planted
  * inconsistency, a clean API-built deployment reports an empty frame, and
  * fsck never mutates what it reads (the residue it lists is still there
  * afterwards — healing stays with the store verbs). Corruption plants go
  * through raw file manipulation on purpose: the public API cannot produce
  * these states (that is the point of the staged-swap protocols), but disk
  * bit-rot, a mis-targeted rsync, or an operator's stray delete can. */
class FsckSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def uuid: String =
    java.util.UUID.randomUUID().toString.replace("-", "")

  private def w(v: String, i: Int) = f"$v${i % 80}%02d"
  private def doc(v: String, salt: Int) =
    (0 until 24).map(i => w(v, salt + i)).mkString(" ")

  private def docsDf(ids: Seq[Long]) =
    ids.map(i => (i, doc("alpha", i.toInt))).toDF("id", "text")

  private def vec(i: Long): Seq[Double] =
    (0 until 8).map(d => math.sin(0.7 * i + d).abs + 0.1)

  private def seedSig(ids: Seq[Long]): String = {
    val dir = tmp("fsck_sig")
    SignatureStore.seed(docsDf(ids), "id", "text", dir)
    dir
  }

  private def buildIvf(ids: Seq[Long]): String = {
    val vecs = ids.map(i => (i, vec(i))).toDF("id", "embedding")
    AnnIndex.ivfIndexDir(vecs, s"mem://fsck_$uuid", "id", "embedding",
      nlist = 4, iters = 2, seed = 42L)
  }

  private def findings(df: org.apache.spark.sql.DataFrame) =
    df.select("check_name", "layer", "id", "detail")
      .collect().map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet

  test("clean deployment: every check reports an empty frame") {
    val ids = (0L until 40L).toSeq
    val sigDir = seedSig(ids)
    val ivfDir = buildIvf(ids.filter(_ % 2 == 0)) // ann ⊆ sig: consistent
    val rep = Fsck.report(spark,
      CorpusStores(sigDir = Some(sigDir), ivfDir = Some(ivfDir)))
    assert(rep.count() === 0L)
  }

  test("door_membership: ann ids absent from sig are named exactly") {
    val sigDir = seedSig((0L until 30L).toSeq)
    val ivfDir = buildIvf((20L until 40L).toSeq) // 30..39 not in sig
    val got = findings(Fsck.doorMembership(spark, sigDir, ivfDir))
    assert(got === (30L until 40L).map(("door_membership", "ann", _)).toSet)
  }

  test("door_membership: an ann-only id stored only in the index's log is " +
    "named") {
    val sigDir = seedSig((0L until 30L).toSeq)
    val ivfDir = buildIvf((20L until 30L).toSeq)
    AnnIndex.ivfAppender(spark, ivfDir, "id", "embedding",
      autoCompactEvery = 0)(Seq((77L, vec(77L))).toDF("id", "embedding"), 0L)
    val fs = new Path(ivfDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new Path(s"$ivfDir/lists_log"))
      .exists(_.getPath.getName.endsWith(".parquet")), "fixture: 77 is logged")
    assert(findings(Fsck.doorMembership(spark, sigDir, ivfDir)) ===
      Set(("door_membership", "ann", 77L)))
  }

  test("sig_bands_missing: a sigs row without band rows is unscreenable") {
    val sigDir = seedSig((0L until 20L).toSeq)
    // plant: append a signature for id 999 with NO band index rows — the
    // state a lost bands file leaves behind
    Seq((999L, Seq.fill(32)(7L)))
      .toDF("id", "sig").withColumn("shard", pmod(col("id"), lit(16L)))
      .repartition(col("shard"))
      .write.mode("append").partitionBy("shard").parquet(s"$sigDir/sigs")
    val got = findings(Fsck.sigInternal(spark, sigDir))
    assert(got === Set(("sig_bands_missing", "sig", 999L)))
  }

  test("sig_bands_ghost: band rows with no backing signature") {
    val sigDir = seedSig((0L until 20L).toSeq)
    Seq((998L, 1, 12345L))
      .toDF("id", "band_id", "band_hash")
      .withColumn("bucket", pmod(col("band_hash"), lit(64L)))
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(s"$sigDir/bands")
    val got = findings(Fsck.sigInternal(spark, sigDir))
    assert(got === Set(("sig_bands_ghost", "sig", 998L)))
  }

  test("census_overcount: an inflated sidecar group is flagged; " +
      "undercount (documented staleness) is not") {
    val sigDir = seedSig((0L until 20L).toSeq)
    // overwrite the sidecar: one fabricated hot group the band table does
    // not back (df=100 vs actual 0) — the post-crash overcount shape
    val fs = new Path(sigDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$sigDir/hotbands"), true)
    Seq((0, 424242L, 100L)).toDF("band_id", "band_hash", "df")
      .coalesce(1).write.parquet(s"$sigDir/hotbands")
    val got = findings(Fsck.censusAudit(spark, sigDir))
    assert(got === Set(("census_overcount", "sig", 424242L)))
    // undercount: an EMPTY census over a store with real bands is clean
    fs.delete(new Path(s"$sigDir/hotbands"), true)
    Seq.empty[(Int, Long, Long)].toDF("band_id", "band_hash", "df")
      .coalesce(1).write.parquet(s"$sigDir/hotbands")
    assert(Fsck.censusAudit(spark, sigDir).count() === 0L)
  }

  test("ann_orphan_list: lists rows whose centroid is gone") {
    val ivfDir = buildIvf((0L until 24L).toSeq)
    // plant: drop the centroids table's data files and republish a
    // centroid subset (list_id 1 only) — every other list goes dark
    val lists = AnnIndex.read(spark, ivfDir)
      .select("cid", "list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val keep = 1
    val fs = new Path(ivfDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val cents = spark.read.parquet(s"$ivfDir/centroids")
      .filter(col("list_id") === keep).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    fs.delete(new Path(s"$ivfDir/centroids"), true)
    cents.toSeq.toDF("list_id", "cvec")
      .coalesce(1).write.parquet(s"$ivfDir/centroids")
    val expect = lists.filter(_._2 != keep)
      .map(x => ("ann_orphan_list", "ann", x._1)).toSet
    assert(expect.nonEmpty)
    assert(findings(Fsck.annInternal(spark, ivfDir)) === expect)
  }

  test("crash_residue: pending markers and asides are listed, not healed") {
    val sigDir = seedSig((0L until 10L).toSeq)
    val fs = new Path(sigDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(s"$sigDir/_retract_pending"), true).close()
    fs.mkdirs(new Path(s"$sigDir/.sigs_precompact"))
    // a crashed door epoch's stages: the signature and semantic screens'
    val annDir = tmp("fsck_ann_residue")
    fs.mkdirs(new Path(s"$sigDir/.sigscr_stage_door_3"))
    fs.mkdirs(new Path(s"$annDir/.annscr_stage_door_3"))
    val rep = Fsck.residue(spark, Seq("sig" -> sigDir, "ann" -> annDir))
    val got = rep.select("detail").collect().map(_.getString(0)).toSet
    assert(got === Set("unhealed: _retract_pending",
      "unhealed: .sigs_precompact", "unhealed: .sigscr_stage_door_3",
      "unhealed: .annscr_stage_door_3"))
    // read-only contract: every residue still on disk after the audit
    assert(fs.exists(new Path(s"$sigDir/_retract_pending")))
    assert(fs.exists(new Path(s"$sigDir/.sigs_precompact")))
    assert(fs.exists(new Path(s"$sigDir/.sigscr_stage_door_3")))
    assert(fs.exists(new Path(s"$annDir/.annscr_stage_door_3")))
  }

  test("fsck reads never heal: a crashed-compact aside (root moved away) " +
      "stays exactly where it lay through every check that reads the store") {
    val sigDir = seedSig((0L until 15L).toSeq)
    val fs = new Path(sigDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // the mid-compact crash state: live table moved aside, rewrite never
    // published — store verbs heal this on entry; the AUDIT must not
    assert(fs.rename(new Path(s"$sigDir/sigs"),
      new Path(s"$sigDir/.sigs_precompact")))
    Fsck.sigInternal(spark, sigDir).count() // sigs absent -> short-circuit
    Fsck.censusAudit(spark, sigDir).count()
    assert(!fs.exists(new Path(s"$sigDir/sigs")),
      "an fsck read healed the aside back into place")
    assert(fs.exists(new Path(s"$sigDir/.sigs_precompact")))
    // and the residue listing still shows the operator the crash
    val res = Fsck.residue(spark, Seq("sig" -> sigDir))
      .select("detail").collect().map(_.getString(0)).toSet
    assert(res === Set("unhealed: .sigs_precompact"))
    // a bands-side aside exercises the read path itself (sigs present):
    // restore sigs, move bands aside — sigInternal must report every sig
    // id as missing its band rows, not resurrect the bands table
    assert(fs.rename(new Path(s"$sigDir/.sigs_precompact"),
      new Path(s"$sigDir/sigs")))
    assert(fs.rename(new Path(s"$sigDir/bands"),
      new Path(s"$sigDir/.bands_precompact")))
    val findings2 = Fsck.sigInternal(spark, sigDir)
      .select("check_name").collect().map(_.getString(0)).toSet
    assert(findings2 === Set("sig_bands_missing"))
    assert(!fs.exists(new Path(s"$sigDir/bands")))
    assert(fs.exists(new Path(s"$sigDir/.bands_precompact")))
  }

  test("misrouted: a shard holding ids that route elsewhere") {
    val k = 2
    val all = (0L until 30L).toSeq
    // seed shard 0's stores with ALL ids — the misrouted set is exactly
    // those whose DoorRoute hash names shard 1
    val sigDir = seedSig(all)
    val ivfDir = buildIvf(all)
    val expected = docsDf(all)
      .select(col("id"), DoorRoute.shardOf(col("id"), k).as("s"))
      .filter(col("s") =!= 0).select("id").collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty && expected.size < all.size)
    val got = findings(Fsck.routeAudit(spark, sigDir, ivfDir, 0, k))
    assert(got === expected.flatMap(i => Seq(
      ("misrouted", "shard=0/sig", i), ("misrouted", "shard=0/ann", i))))
  }

  test("fp_bloom_miss: a fingerprint appended outside the sink protocol " +
      "has no sidecar claiming it; an API-built store is clean") {
    val dir = tmp("fsck_fp")
    FingerprintStore.seed(docsDf((0L until 25L).toSeq), "text", dir)
    assert(Fsck.fpBloomAudit(spark, dir).count() === 0L)
    // plant: an fps row no Bloom sidecar ever saw (out-of-protocol append
    // or a lost sidecar file) — the screen would re-admit its duplicates
    Seq((123456789L, 123456789L % 256))
      .toDF("fp", "shard").repartition(col("shard"))
      .write.mode("append").partitionBy("shard").parquet(s"$dir/fps")
    val got = findings(Fsck.fpBloomAudit(spark, dir))
    assert(got === Set(("fp_bloom_miss", "fp", 123456789L)))
  }

  test("bm25 internal: df partials, scalars ledger and postings agree on " +
      "an API-built store; planted drift in each is flagged") {
    val dir = tmp("fsck_bm25")
    Bm25Store.seed(docsDf((0L until 15L).toSeq), "id", "text", dir)
    assert(Fsck.bm25Internal(spark, dir).count() === 0L)
    // plant 1: an extra df partial for one real word — idf for that word
    // silently skews
    val word = spark.read.parquet(s"$dir/postings")
      .select("word").limit(1).collect()(0).getString(0)
    Seq((word, 5L, 0L)).toDF("word", "df", "wb")
      .write.mode("append").partitionBy("wb").parquet(s"$dir/df")
    // plant 2: a stray scalars delta (nDocs -2, nTok +7)
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(s"$dir/scalars/stray"), true)
    out.write("-2,7".getBytes("UTF-8")); out.close()
    // plant 3: an unparseable ledger file — the audit must report it,
    // never crash on it
    val out2 = fs.create(new Path(s"$dir/scalars/garbage"), true)
    out2.write("not,a number".getBytes("UTF-8")); out2.close()
    val got = Fsck.bm25Internal(spark, dir)
      .select("check_name").collect().map(_.getString(0)).toSet
    assert(got === Set("bm25_df_mismatch", "bm25_ntok_mismatch",
      "bm25_ndocs_undercount", "bm25_scalars_corrupt"))
  }

  test("lm internal: prefix marginals match bigram sums on an API-built " +
      "store; planted denominator drift and a negative count are flagged") {
    val dir = tmp("fsck_lm")
    LmStore.seed(docsDf((0L until 15L).toSeq), "id", "text", dir)
    assert(Fsck.lmInternal(spark, dir).count() === 0L)
    // plant 1: an extra prefix partial — P(cur|prev) denominators drift
    val prev = spark.read.parquet(s"$dir/prefix")
      .select("prev").limit(1).collect()(0).getString(0)
    Seq((prev, 3L, 0L)).toDF("prev", "cp", "wb")
      .write.mode("append").partitionBy("wb").parquet(s"$dir/prefix")
    // plant 2: a vocabrc key summing negative — the double-subtraction
    // signature the retract receipt exists to prevent
    Seq(("zzz_never_seen", -5L, 0L)).toDF("word", "rc", "wb")
      .write.mode("append").partitionBy("wb").parquet(s"$dir/vocabrc")
    val got = Fsck.lmInternal(spark, dir)
      .select("check_name").collect().map(_.getString(0))
    assert(got.count(_ == "lm_prefix_mismatch") === 1)
    assert(got.count(_ == "lm_negative_count") === 1)
    assert(got.length === 2)
  }

  test("layout: shard dirs disagreeing with the _layout sidecar") {
    val root = tmp("fsck_layout")
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(s"$root/_layout"), true)
    out.write("k=2,hash=xxh64v1".getBytes("UTF-8")); out.close()
    fs.mkdirs(new Path(s"$root/shard=0")) // shard=1 missing
    fs.mkdirs(new Path(s"$root/shard=5")) // past k
    val got = Fsck.shardLayout(spark, root)
      .select("layer", "detail").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(
      ("shard=1", "layout k=2 but shard dir missing"),
      ("shard=5", "shard dir past layout k=2")))
    // a corrupt sidecar is a finding, not an exception
    val out2 = fs.create(new Path(s"$root/_layout"), true)
    out2.write("k=banana".getBytes("UTF-8")); out2.close()
    val corrupt = Fsck.shardLayout(spark, root).collect()
    assert(corrupt.length === 1 &&
      corrupt(0).getString(3).contains("unparseable _layout"))
  }
}
