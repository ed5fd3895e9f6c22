package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.streaming.{FrontDoor, IngestGate}

/** The ONE-CALL corpus-wide takedown ([[Forget.forget]]): a request staged
  * durably, then walked across the door trio + BM25 + LM + packed shards
  * under per-store progress tokens. Pins the two crash windows the
  * composition adds over the per-store retracts: (1) a crash BETWEEN the
  * door group and the text-store group — heal must finish exactly the
  * remaining stores; (2) a crash after the LM store's own commit but before
  * the ledger token — the receipt (committed atomically with the LM's
  * Takedown marker) must stop the non-idempotent subtraction from running
  * twice. Plus the user-visible contract: after forget, the SAME bytes and
  * a fresh paraphrase re-admit through the full four-layer door. */
class ForgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // FrontDoorSpec's disjoint-window page design
  private def w(v: String, i: Int) = f"$v${i % 80}%02d"
  private def doc(v: String, salt: Int) =
    (0 until 24).map(i => w(v, salt + i)).mkString(" ")
  private def vec(axis: Int, off: Double, offAxis: Int): Seq[Double] =
    (0 until 16).map(i =>
      (if (i == axis) 1.0 else 0.0) + (if (i == offAxis) off else 0.0))
  private def nudge(v: Seq[Double], axis: Int): Seq[Double] =
    v.zipWithIndex.map { case (x, i) => if (i == axis) x + 0.01 else x }

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def mkGate() = {
    val ref = ((0 until 60).map(i => (i.toLong, doc("alpha", i), true)) ++
        (0 until 60).map(i => (200L + i, doc("beta", i), false)))
      .toDF("doc_id", "text", "is_target")
    new IngestGate(Dsir.bucketStats(ref, "doc_id", "text", col("is_target")),
      minAffinity = 2.0)
  }

  private def mkIvf(tag: String): String = {
    val seed = (for (c <- 0 until 8; k <- 0 until 6) yield
      ((100 + c * 6 + k).toLong, vec(c, 0.15 * k, (c + 1) % 8)))
      .toDF("doc_id", "embedding")
    AnnIndex.ivfIndexDir(seed, s"mem://forget_$tag", "doc_id", "embedding",
      nlist = 8, iters = 3, seed = 42L,
      variant = s"${tag}_${java.util.UUID.randomUUID().toString.take(8)}")
  }

  private def ingest(stores: CorpusStores, tag: String,
                     rows: Seq[(Long, String, Seq[Double])]): Seq[Long] = {
    val acc = scala.collection.mutable.ArrayBuffer[Long]()
    val door = FrontDoor.sink(spark, mkGate(), stores.fpDir.get,
      stores.sigDir.get, stores.ivfDir.get, "doc_id", "text", "embedding",
      sigThreshold = 0.45, semThreshold = 0.99, nprobe = 2,
      streamTag = tag) { df =>
      acc ++= df.select("doc_id").collect().map(_.getLong(0))
    } { _ => () }
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Seq[Double])]
    val q = mem.toDF().toDF("doc_id", "text", "embedding")
      .writeStream.foreachBatch(door).start()
    try { mem.addData(rows: _*); q.processAllAvailable() } finally q.stop()
    acc.sorted.toSeq
  }

  /** The LM store's whole observable state, wb-agnostic and
    * partial-row-agnostic: per-key summed counts + the vocab set. */
  private def lmState(dir: String): (Map[String, Long], Map[String, Long],
      Set[String], Map[String, Long]) = {
    def m(sub: String, keys: Seq[String], cnt: String): Map[String, Long] =
      spark.read.parquet(s"$dir/$sub")
        .groupBy(keys.map(col): _*).agg(sum(cnt).as("c")).collect()
        .map(r => keys.map(r.getAs[String](_)).mkString("|") ->
          r.getAs[Long]("c")).toMap
    (m("bigrams", Seq("prev", "cur"), "cb"),
      m("prefix", Seq("prev"), "cp"),
      spark.read.parquet(s"$dir/vocab").select("word").collect()
        .map(_.getString(0)).toSet,
      m("vocabrc", Seq("word"), "rc"))
  }

  // doc 1 (words 04..27) and doc 2 (words 20..43) share words 20..27 —
  // 7 shared bigrams, the shape a double-subtraction corrupts silently;
  // shingle Jaccard ~0.16 (under the 0.45 screen) and disjoint vector axes,
  // so the door admits both
  private val d1 = doc("alpha", 4)
  private val d2 = doc("alpha", 20)
  private val v1 = vec(0, 0.5, 2)
  private val v2 = vec(7, 0.5, 5)

  test("crash between the door group and the text-store group: heal " +
    "finishes exactly bm25/lm/pack, and the same bytes + a fresh " +
    "paraphrase then re-admit through the full door") {
    val fpDir = tmp("fg_fp"); val sigDir = tmp("fg_sig")
    val ivfDir = mkIvf("fg1")
    val bm25Dir = tmp("fg_bm25"); val lmDir = tmp("fg_lm")
    val packDir = tmp("fg_pack"); val ledger = tmp("fg_ledger")
    val stores = CorpusStores(Some(fpDir), Some(sigDir), Some(ivfDir),
      Some(bm25Dir), Some(lmDir),
      Some(PackTarget(packDir, "doc_id", "n_toks", 32L, 2L)))
    assert(ingest(stores, "f1", Seq((1L, d1, v1), (2L, d2, v2)))
      == Seq(1L, 2L))
    val corpus = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    Bm25Store.seed(corpus, "doc_id", "text", bm25Dir)
    LmStore.seed(corpus, "doc_id", "text", lmDir)
    Pack.writeShards(Seq((1L, 24L), (2L, 24L)).toDF("doc_id", "n_toks"),
      "doc_id", "n_toks", budget = 32L, binsPerShard = 2L, packDir)

    val gone = Seq((1L, d1)).toDF("doc_id", "text")
    val ex = intercept[IllegalStateException] {
      Forget.forgetImpl(spark, ledger, stores, gone, "doc_id", "text",
        Some("ann"))
    }
    assert(ex.getMessage.contains("after ann"))
    // the door group already forgot…
    assert(FingerprintStore.read(spark, fpDir).count() == 1L)
    assert(SignatureStore.read(spark, sigDir).select("id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(AnnIndex.read(spark, ivfDir).filter(col("cid") < 100L)
      .select("cid").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // …the text stores and shards have not
    assert(spark.read.parquet(s"$bm25Dir/postings")
      .filter(col("doc_id") === 1L).count() > 0L)
    assert(spark.read.parquet(packDir)
      .filter(col("doc_id") === 1L).count() == 1L)

    Forget.heal(spark, ledger, stores)
    assert(spark.read.parquet(s"$bm25Dir/postings")
      .filter(col("doc_id") === 1L).count() == 0L)
    assert(spark.read.parquet(packDir)
      .filter(col("doc_id") === 1L).count() == 0L)
    // LM is count-identical to a from-scratch seed without doc 1
    val freshDir = tmp("fg_lm_fresh")
    LmStore.seed(Seq((2L, d2)).toDF("doc_id", "text"), "doc_id", "text",
      freshDir)
    assert(lmState(lmDir) == lmState(freshDir))
    // ledger fully swept; a second heal is a no-op
    val residue = new java.io.File(ledger).listFiles().map(_.getName)
      .filter(n => n.startsWith("_forget") || n.startsWith("request_") ||
        n.startsWith(".done_"))
    assert(residue.isEmpty, residue.mkString(","))
    // …except the audit tombstone: ids + configured stores, never text
    val audits = new java.io.File(ledger, "audit").listFiles()
      .filterNot(_.getName.startsWith("."))
    assert(audits.length == 1)
    val audit = new String(java.nio.file.Files.readAllBytes(
      audits.head.toPath), "UTF-8")
    assert(audit.contains("ids=1\n") &&
      audit.contains("stores=fp,sig,ann,bm25,lm,pack"), audit)
    assert(!audit.contains("alpha"), "an audit record must never retain text")
    Forget.heal(spark, ledger, stores)
    // re-admission: doc 1's exact bytes and a fresh-text paraphrase of its
    // vector pass all four layers again
    assert(ingest(stores, "f2",
      Seq((8L, d1, v1), (9L, doc("alpha", 56), nudge(v1, 3))))
      == Seq(8L, 9L))
  }

  test("a crash after the LM store's own commit but before the ledger " +
    "token: the receipt stops heal from double-subtracting shared bigrams") {
    val lmDir = tmp("fgr_lm"); val ledger = tmp("fgr_ledger")
    val stores = CorpusStores(lmDir = Some(lmDir))
    LmStore.seed(Seq((1L, d1), (2L, d2)).toDF("doc_id", "text"),
      "doc_id", "text", lmDir)
    intercept[IllegalStateException] {
      Forget.forgetImpl(spark, ledger, stores,
        Seq((1L, d1)).toDF("doc_id", "text"), "doc_id", "text",
        Some("lm:pre-done"))
    }
    // the subtraction committed and its receipt stands in the store dir
    assert(new java.io.File(lmDir).listFiles()
      .exists(_.getName.startsWith("_forget_done_")))
    Forget.heal(spark, ledger, stores)
    val freshDir = tmp("fgr_lm_fresh")
    LmStore.seed(Seq((2L, d2)).toDF("doc_id", "text"), "doc_id", "text",
      freshDir)
    assert(lmState(lmDir) == lmState(freshDir))
    // the completed request swept its receipt with the rest of the ledger
    assert(!new java.io.File(lmDir).listFiles()
      .exists(_.getName.startsWith("_forget_done_")))
  }

  test("learned-artifact boundary: forget fires the post-forget retrain, " +
    "the new version trains on the forgotten corpus, the superseded " +
    "version stays readable for audit, and the tombstone records both " +
    "sides of the boundary") {
    val lmDir = tmp("fgl_lm"); val ledger = tmp("fgl_ledger")
    val modelsDir = java.io.File.createTempFile("fgl_models", "")
    modelsDir.delete(); modelsDir.mkdirs()
    LmStore.seed(Seq((1L, d1), (2L, d2)).toDF("doc_id", "text"),
      "doc_id", "text", lmDir)
    // a versioned vocab "model": fit = the LM store's CURRENT vocab — the
    // simplest artifact whose parameters visibly embed the corpus
    def vfile(v: Long) = new java.io.File(modelsDir, s"v$v.txt")
    val store = graft.streaming.ModelRefit.Store[Set[String]](
      save = (m, v) => java.nio.file.Files.write(vfile(v).toPath,
        m.toSeq.sorted.mkString("\n").getBytes("UTF-8")),
      loadLatest = () => modelsDir.listFiles()
        .filter(_.getName.matches("v\\d+\\.txt"))
        .map(f => f.getName.stripPrefix("v").stripSuffix(".txt").toLong -> f)
        .sortBy(_._1).lastOption.map { case (v, f) =>
          (v, new String(java.nio.file.Files.readAllBytes(f.toPath),
            "UTF-8").split("\n").toSet)
        })
    val hook = new graft.streaming.ModelRefit[Set[String]](
      "fgl_vocab", refitEvery = 4L, Some(store))({ (s, _) =>
      s.read.parquet(s"$lmDir/vocab").select("word").collect()
        .map(_.getString(0)).toSet
    })
    val v0 = hook.current(spark)
    assert(hook.currentVersion == 0L && v0.contains(w("alpha", 4)))
    val stores = CorpusStores(lmDir = Some(lmDir), learned = Seq(
      LearnedArtifact("vocab_model", Some { s =>
        val v = hook.refitNow(s); hook.awaitRefits(); v
      }),
      LearnedArtifact("w2v", None))) // no retrain hook: stays stale
    Forget.forget(spark, ledger, stores,
      Seq((1L, d1)).toDF("doc_id", "text"), "doc_id", "text")
    // the retrain published a NEW version trained on the post-forget store:
    // words unique to doc 1 (alpha04..alpha19) are gone, shared words stay
    assert(hook.currentVersion == 1L)
    val v1 = hook.current(spark)
    assert(!v1.contains(w("alpha", 4)) && v1.contains(w("alpha", 20)), v1)
    // …and the superseded, still-embedding version remains readable for
    // audit in the versioned store
    assert(vfile(0L).isFile && vfile(1L).isFile)
    assert(new String(java.nio.file.Files.readAllBytes(vfile(0L).toPath),
      "UTF-8").contains(w("alpha", 4)))
    // the tombstone states the unlearning boundary explicitly
    val audit = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(ledger, "audit").listFiles()
        .filterNot(_.getName.startsWith(".")).head.toPath), "UTF-8")
    assert(audit.contains("learned_refit=vocab_model:v1\n"), audit)
    assert(audit.contains("learned_stale=w2v\n"), audit)
    // ledger swept its retrain-result file with the rest
    assert(!new java.io.File(ledger).listFiles()
      .exists(_.getName.startsWith(".learned_")))
  }

  test("sharded-door forget: ONE call routes the request by ingest's own " +
    "hash — only the owning shard's stores forget, the other shard is " +
    "untouched, and the tombstone records the layout") {
    import graft.streaming.ShardedDoor
    val K = 2
    val shardMap: Map[Long, Int] = spark.range(1L, 100L)
      .select(col("id"), ShardedDoor.shardOf(col("id"), K).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    val idA = shardMap.collectFirst { case (id, 0) => id }.get
    val idB = shardMap.collectFirst { case (id, 1) => id }.get
    val seed = (for (c <- 0 until 8; k <- 0 until 6) yield
      ((100 + c * 6 + k).toLong, vec(c, 0.15 * k, (c + 1) % 8)))
      .toDF("doc_id", "embedding")
    val root = tmp("fgs_door")
    val door = ShardedDoor.create(spark, root, K, seed, "doc_id",
      "embedding", nlist = 8, iters = 3, seed = 42L)
    def sinkFor(i: Int, tag: String) =
      door.shardSink(i, mkGate(), "doc_id", "text", "embedding",
        sigThreshold = 0.45, semThreshold = 0.99, nprobe = 2,
        streamTag = tag)(_ => ())(_ => ())
    val both = Seq((idA, d1, v1), (idB, d2, v2))
      .toDF("doc_id", "text", "embedding")
    (0 until K).foreach(i => sinkFor(i, "fg1")(both, 0L))
    assert(SignatureStore.read(spark, door.sigDir(0)).select("id")
      .collect().map(_.getLong(0)).toSeq == Seq(idA))
    assert(SignatureStore.read(spark, door.sigDir(1)).select("id")
      .collect().map(_.getLong(0)).toSeq == Seq(idB))

    val lmDir = tmp("fgs_lm"); val ledger = tmp("fgs_ledger")
    LmStore.seed(Seq((idA, d1), (idB, d2)).toDF("doc_id", "text"),
      "doc_id", "text", lmDir)
    val stores = CorpusStores(lmDir = Some(lmDir),
      doorShards = (0 until K).map(i =>
        DoorShardDirs(door.fpDir(i), door.sigDir(i), door.ivfDir(i))))
    Forget.forget(spark, ledger, stores,
      Seq((idA, d1)).toDF("doc_id", "text"), "doc_id", "text")

    // shard 0 forgot idA across all three layers…
    assert(SignatureStore.read(spark, door.sigDir(0)).count() == 0L)
    assert(AnnIndex.read(spark, door.ivfDir(0))
      .filter(col("cid") === idA).count() == 0L)
    // …shard 1's stores are byte-for-byte untouched
    assert(SignatureStore.read(spark, door.sigDir(1)).select("id")
      .collect().map(_.getLong(0)).toSeq == Seq(idB))
    assert(AnnIndex.read(spark, door.ivfDir(1))
      .filter(col("cid") === idB).count() == 1L)
    // the LM store subtracted exactly doc A
    val freshDir = tmp("fgs_lm_fresh")
    LmStore.seed(Seq((idB, d2)).toDF("doc_id", "text"), "doc_id", "text",
      freshDir)
    assert(lmState(lmDir) == lmState(freshDir))
    // tombstone records the sharded layout and the door layers
    val audit = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(ledger, "audit").listFiles()
        .filterNot(_.getName.startsWith(".")).head.toPath), "UTF-8")
    assert(audit.contains(s"ids=$idA\n") &&
      audit.contains("stores=fp,sig,ann,lm\n") &&
      audit.contains("door_shards=2\n"), audit)
    // idA's exact bytes re-admit through shard 0's full chain
    val acc = scala.collection.mutable.ArrayBuffer[Long]()
    door.shardSink(0, mkGate(), "doc_id", "text", "embedding",
      sigThreshold = 0.45, semThreshold = 0.99, nprobe = 2,
      streamTag = "fg2") { df =>
      acc ++= df.select("doc_id").collect().map(_.getLong(0))
    }(_ => ())(Seq((idA, d1, v1)).toDF("doc_id", "text", "embedding"), 0L)
    assert(acc.toSeq == Seq(idA))
    // mixing single and sharded door config is a loud error
    assert(intercept[IllegalArgumentException] {
      Forget.forget(spark, ledger,
        stores.copy(fpDir = Some(tmp("fgs_bad"))),
        Seq((idB, d2)).toDF("doc_id", "text"), "doc_id", "text")
    }.getMessage.contains("never both"))
  }

  test("a request that would empty a semantic index fails BEFORE anything " +
      "durable: clean ledger, untouched store, and a partial request " +
      "still walks") {
    val ledger = tmp("fge_ledger")
    val seed = (1L to 6L).map(i => (i, vec((i % 8).toInt, 0.3, 2)))
      .toDF("doc_id", "embedding")
    val ivfDir = AnnIndex.ivfIndexDir(seed, "mem://forget_empty", "doc_id",
      "embedding", nlist = 2, iters = 2, seed = 42L,
      variant = s"fge_${java.util.UUID.randomUUID().toString.take(8)}")
    val stores = CorpusStores(ivfDir = Some(ivfDir))
    val all = (1L to 6L).map(i => (i, doc("alpha", i.toInt)))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Forget.forget(spark, ledger, stores, all, "doc_id", "text")
    }
    assert(ex.getMessage.contains("EVERY vector"))
    // nothing durable: no pending marker, no request dir, store intact —
    // the ledger is NOT wedged (the mid-walk alternative would replay
    // this same failure on every later forget/heal forever)
    val residue = new java.io.File(ledger).listFiles()
    assert(residue == null || residue.isEmpty, residue.mkString(","))
    assert(AnnIndex.read(spark, ivfDir).count() === 6L)
    // a partial request (leaves the index non-empty) walks normally
    Forget.forget(spark, ledger, stores,
      all.filter(col("doc_id") <= 3L), "doc_id", "text")
    assert(AnnIndex.read(spark, ivfDir)
      .select("cid").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(4L, 5L, 6L))
  }

  test("a replayed complete() with the tombstone already published skips " +
    "the rewrite instead of wedging the ledger (rename-to-existing is not " +
    "portable)") {
    val lmDir = tmp("fgw_lm"); val ledger = tmp("fgw_ledger")
    val stores = CorpusStores(lmDir = Some(lmDir))
    LmStore.seed(Seq((1L, d1), (2L, d2)).toDF("doc_id", "text"),
      "doc_id", "text", lmDir)
    intercept[IllegalStateException] {
      Forget.forgetImpl(spark, ledger, stores,
        Seq((1L, d1)).toDF("doc_id", "text"), "doc_id", "text", Some("lm"))
    }
    // simulate the crash window between the audit rename and the marker
    // delete: publish the tombstone BY HAND while the marker still stands
    val reqId = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(ledger, "_forget_pending").toPath), "UTF-8").trim
    val auditDir = new java.io.File(ledger, "audit"); auditDir.mkdirs()
    val sentinel = "ids=1\nstores=lm\nsentinel=1\n"
    java.nio.file.Files.write(new java.io.File(auditDir, reqId).toPath,
      sentinel.getBytes("UTF-8"))
    Forget.heal(spark, ledger, stores) // must complete, not wedge
    assert(!new java.io.File(ledger, "_forget_pending").exists())
    // the already-published tombstone was preserved, never rewritten
    assert(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(auditDir, reqId).toPath), "UTF-8") == sentinel)
    Forget.heal(spark, ledger, stores) // clean-ledger no-op
  }
}
