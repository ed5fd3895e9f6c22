package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIndex, Dsir, FingerprintStore, SignatureStore}
import graft.streaming.{FrontDoor, IngestGate, ShardedDoor}

/** The composed four-layer ingest door ([[FrontDoor.sink]]): one sink, each
  * layer's kill demonstrably ITS OWN — gate reject quarantined, exact dup /
  * near-dup / paraphrase silently dropped at their respective layers, the
  * genuinely new page admitted, and all three stores holding exactly the
  * admitted documents. The per-layer crash windows are pinned by the
  * individual front-door tests in StreamingSpec; this spec pins the
  * composition contract (epoch threading + rejection-cost ordering). */
class FrontDoorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // disjoint-window page design (StreamingSpec's): salts 4/30/56 share zero
  // shingles; axis-separated vectors with clean margins around cos 0.99
  private def w(v: String, i: Int) = f"$v${i % 80}%02d"
  private def doc(v: String, salt: Int) =
    (0 until 24).map(i => w(v, salt + i)).mkString(" ")
  private def recrawl(v: String, salt: Int) =
    (0 until 23).map(i => w(v, salt + i)).mkString(" ") + " " + w(v, salt + 40)
  private def vec(axis: Int, off: Double, offAxis: Int): Seq[Double] =
    (0 until 16).map(i =>
      (if (i == axis) 1.0 else 0.0) + (if (i == offAxis) off else 0.0))
  private def nudge(v: Seq[Double], axis: Int): Seq[Double] =
    v.zipWithIndex.map { case (x, i) => if (i == axis) x + 0.01 else x }

  test("every layer of the composed door kills exactly its own class of " +
    "duplicate; only gate rejects reach quarantine") {
    val ref = ((0 until 60).map(i => (i.toLong, doc("alpha", i), true)) ++
        (0 until 60).map(i => (200L + i, doc("beta", i), false)))
      .toDF("doc_id", "text", "is_target")
    val gate = new IngestGate(
      Dsir.bucketStats(ref, "doc_id", "text", col("is_target")),
      minAffinity = 2.0)
    val seed = (for (c <- 0 until 8; k <- 0 until 6) yield
      ((100 + c * 6 + k).toLong, vec(c, 0.15 * k, (c + 1) % 8)))
      .toDF("doc_id", "embedding")
    val ivfDir = AnnIndex.ivfIndexDir(seed, "mem://frontdoor_spec",
      "doc_id", "embedding", nlist = 8, iters = 3, seed = 42L,
      variant = s"fd_${java.util.UUID.randomUUID().toString.take(8)}")
    val fpDir = java.nio.file.Files.createTempDirectory("fd_fp").toString
    val sigDir = java.nio.file.Files.createTempDirectory("fd_sig").toString
    val accepted = scala.collection.mutable.ArrayBuffer[Long]()
    val quarantined = scala.collection.mutable.ArrayBuffer[Long]()
    val door = FrontDoor.sink(spark, gate, fpDir, sigDir, ivfDir,
      "doc_id", "text", "embedding", sigThreshold = 0.45,
      semThreshold = 0.99, nprobe = 2) { df =>
      accepted ++= df.select("doc_id").collect().map(_.getLong(0))
    } { df =>
      quarantined ++= df.select("doc_id").collect().map(_.getLong(0))
    }
    val v1 = vec(0, 0.5, 2)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Seq[Double])]
    val query = mem.toDF().toDF("doc_id", "text", "embedding")
      .writeStream.foreachBatch(door).start()
    try {
      // epoch 0: a target page (admitted) and an off-topic page (gate kill)
      mem.addData((1L, doc("alpha", 4), v1),
        (2L, doc("beta", 7), vec(1, 0.5, 3)))
      query.processAllAvailable()
      // epoch 1: one kill per remaining layer + one genuinely new page
      mem.addData(
        (3L, doc("alpha", 4), v1),                        // fp: identical
        (4L, recrawl("alpha", 4), nudge(v1, 4)),          // sig: one token
        (5L, doc("alpha", 56), nudge(v1, 3)),             // sem: paraphrase
        (6L, doc("alpha", 30), vec(7, 0.5, 5)))           // new: admitted
      query.processAllAvailable()
    } finally query.stop()

    assert(accepted.sorted.toSeq == Seq(1L, 6L), accepted.mkString(","))
    assert(quarantined.sorted.toSeq == Seq(2L),
      s"only the gate's reject is quarantined: ${quarantined.mkString(",")}")
    // each store holds exactly what its layer admitted: fp fingerprints for
    // every gate survivor except the byte-identical dup (4 and 5 passed the
    // fp layer before dying downstream)…
    assert(FingerprintStore.read(spark, fpDir).count() == 4L)
    // …signatures for sig-layer survivors (paraphrase 5 died later)…
    val sigIds = SignatureStore.read(spark, sigDir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(sigIds == Seq(1L, 5L, 6L), sigIds.mkString(","))
    // …and index vectors for the fully admitted set only
    val cids = AnnIndex.read(spark, ivfDir)
      .filter(col("cid") < 100L).select("cid")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(cids == Seq(1L, 6L), cids.mkString(","))
    // the kills of epoch 1 came from the epoch log alone: both stores
    // started empty and no fold ran, so no partitioned base exists yet
    assert(!exists(s"$fpDir/fps") && !exists(s"$sigDir/sigs") &&
      !exists(s"$sigDir/bands"), "epochs must append to the log, not the base")
  }

  private def exists(p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  test("composed takedown: after FrontDoor.retract the same bytes and a " +
    "fresh paraphrase are re-admittable through every layer") {
    val ref = ((0 until 60).map(i => (i.toLong, doc("alpha", i), true)) ++
        (0 until 60).map(i => (200L + i, doc("beta", i), false)))
      .toDF("doc_id", "text", "is_target")
    def mkGate() = new IngestGate(
      Dsir.bucketStats(ref, "doc_id", "text", col("is_target")),
      minAffinity = 2.0)
    val seed = (for (c <- 0 until 8; k <- 0 until 6) yield
      ((100 + c * 6 + k).toLong, vec(c, 0.15 * k, (c + 1) % 8)))
      .toDF("doc_id", "embedding")
    val ivfDir = AnnIndex.ivfIndexDir(seed, "mem://frontdoor_retract",
      "doc_id", "embedding", nlist = 8, iters = 3, seed = 42L,
      variant = s"fdr_${java.util.UUID.randomUUID().toString.take(8)}")
    val fpDir = java.nio.file.Files.createTempDirectory("fdr_fp").toString
    val sigDir = java.nio.file.Files.createTempDirectory("fdr_sig").toString
    val v1 = vec(0, 0.5, 2)
    implicit val sqlCtx = spark.sqlContext

    // a fresh door per phase: MemoryStream epochs restart at 0, so each
    // phase needs its own marker namespace (a production door is ONE
    // checkpointed stream and never renumbers)
    def ingest(tag: String, rows: Seq[(Long, String, Seq[Double])]*): Seq[Long] = {
      val acc = scala.collection.mutable.ArrayBuffer[Long]()
      val door = FrontDoor.sink(spark, mkGate(), fpDir, sigDir, ivfDir,
        "doc_id", "text", "embedding", sigThreshold = 0.45,
        semThreshold = 0.99, nprobe = 2, streamTag = tag) { df =>
        acc ++= df.select("doc_id").collect().map(_.getLong(0))
      } { _ => () }
      val mem = MemoryStream[(Long, String, Seq[Double])]
      val q = mem.toDF().toDF("doc_id", "text", "embedding")
        .writeStream.foreachBatch(door).start()
      try rows.foreach { r => mem.addData(r: _*); q.processAllAvailable() }
      finally q.stop()
      acc.sorted.toSeq
    }

    // phase 1: doc 1 admitted; its exact copy, one-token re-crawl, and
    // paraphrase all die at their respective layers
    assert(ingest("p1",
      Seq((1L, doc("alpha", 4), v1)),
      Seq((3L, doc("alpha", 4), v1),
        (4L, recrawl("alpha", 4), nudge(v1, 4)),
        (5L, doc("alpha", 56), nudge(v1, 3)))) == Seq(1L))

    // doc 1's fp and sig rows sit only in the unfolded epoch log
    assert(!exists(s"$fpDir/fps") && !exists(s"$sigDir/sigs"))
    assert(SignatureStore.read(spark, sigDir).filter(col("id") === 1L)
      .count() == 1L)

    // takedown doc 1 across all three stores in one call
    FrontDoor.retract(spark, fpDir, sigDir, ivfDir,
      Seq((1L, doc("alpha", 4))).toDF("doc_id", "text"), "doc_id", "text")
    assert(AnnIndex.read(spark, ivfDir)
      .filter(col("cid") < 100L).count() == 0L)
    // …and the retract reached the logged rows: no sig or band row of doc
    // 1 is left, and the fp layer keeps only docs 4 and 5's fingerprints
    assert(SignatureStore.read(spark, sigDir).filter(col("id") === 1L)
      .count() == 0L)
    assert(SignatureStore.readBands(spark, sigDir).filter(col("id") === 1L)
      .count() == 0L)
    assert(FingerprintStore.read(spark, fpDir).count() == 2L)

    // phase 2: the exact bytes re-admit (fp forgot them) and a FRESH-text
    // paraphrase re-admits (the index forgot v1). Docs 4/5's own derived
    // rows stay — only doc 1 was retracted, and their fps/sigs are theirs
    // (re-sending 4's bytes would correctly die at the fp layer). 8 and 9
    // are intra-batch semantic near-dups and admit together by the screens'
    // batch-vs-STORE contract.
    assert(ingest("p2",
      Seq((8L, doc("alpha", 4), v1),
        (9L, doc("alpha", 30), nudge(v1, 5)))) == Seq(8L, 9L))
  }

  test("sharded door: no cross-shard traffic, bit-identical admissions to " +
    "the single door on co-routing input, and a crash in one shard never " +
    "blocks the others") {
    val K = 4
    // id → shard, precomputed so the fixture can CHOOSE co-routing ids (a
    // re-delivery/re-crawl carries its original's stable key in production;
    // here we pick fresh ids from the same shard)
    val shardMap: Map[Long, Int] = spark.range(1L, 600L)
      .select(col("id"), ShardedDoor.shardOf(col("id"), K).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    val byShard: Map[Int, Seq[Long]] =
      shardMap.groupBy(_._2).map { case (s, m) => s -> m.keys.toSeq.sorted }
    def ids(shard: Int, from: Int, n: Int): Seq[Long] =
      byShard(shard).slice(from, from + n)

    // fully disjoint vocab per shard original (no accidental sig overlap in
    // the single door), distinct axes; the gate is permissive-affinity so
    // admission is vocabulary-free — quality kills the 1-token page only
    def sdoc(tag: String, salt: Int) =
      (0 until 24).map(j => s"$tag${salt + j}").mkString(" ")
    val origText = (0 until K).map(i => sdoc(s"s${i}w", 0))
    val origVec = (0 until K).map(i => vec(i, 0.5, i + 2))
    val refStats = Dsir.bucketStats(
      origText.zipWithIndex.map { case (t, i) => (i.toLong, t, i % 2 == 0) }
        .toDF("doc_id", "text", "is_target"),
      "doc_id", "text", col("is_target"))
    def mkGate() = new IngestGate(refStats, minAffinity = -1e18)

    val seed = (for (c <- 0 until 8; k <- 0 until 6) yield
      ((100 + c * 6 + k).toLong, vec(c, 0.15 * k, (c + 1) % 8)))
      .toDF("doc_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("shdoor").toString
    val door = ShardedDoor.create(spark, root, K, seed, "doc_id",
      "embedding", nlist = 8, iters = 3, seed = 42L)
    // mounting with the wrong k is a loud error, not silent misrouting
    assert(intercept[IllegalArgumentException] {
      ShardedDoor.mount(spark, root, expectK = 8)
    }.getMessage.contains("migration"))

    // single-door control over its own store trio, same seed vectors
    val ivf1 = AnnIndex.ivfIndexDir(seed, "mem://sharded_ctl", "doc_id",
      "embedding", nlist = 8, iters = 3, seed = 42L,
      variant = s"ctl_${java.util.UUID.randomUUID().toString.take(8)}")
    val fp1 = java.nio.file.Files.createTempDirectory("shctl_fp").toString
    val sig1 = java.nio.file.Files.createTempDirectory("shctl_sig").toString
    val accSingle = scala.collection.mutable.ArrayBuffer[Long]()
    val single = FrontDoor.sink(spark, mkGate(), fp1, sig1, ivf1,
      "doc_id", "text", "embedding", sigThreshold = 0.45,
      semThreshold = 0.99, nprobe = 2, streamTag = "ctl") { df =>
      accSingle ++= df.select("doc_id").collect().map(_.getLong(0))
    } { _ => () }
    val accShard = Array.fill(K)(scala.collection.mutable.ArrayBuffer[Long]())
    def mkShardSink(i: Int, boom: Boolean = false) =
      door.shardSink(i, mkGate(), "doc_id", "text", "embedding",
        sigThreshold = 0.45, semThreshold = 0.99, nprobe = 2,
        streamTag = "sd") { df =>
        if (boom) throw new IllegalStateException("injected shard crash")
        accShard(i) ++= df.select("doc_id").collect().map(_.getLong(0))
      } { _ => () }
    val shardSinks = (0 until K).map(mkShardSink(_)).toArray

    // epoch 0: one original per shard + one quality reject per shard
    val e0 = (0 until K).flatMap { i =>
      Seq((ids(i, 0, 1).head, origText(i), origVec(i)),
        (ids(i, 1, 1).head, "x", vec(7, 0.9, 6)))
    }.toDF("doc_id", "text", "embedding").localCheckpoint()
    // epoch 1: per shard — exact re-delivery (fp), one-token re-crawl
    // (sig), fresh-text paraphrase (sem), genuinely new page (admit); all
    // dup ids co-route with their originals by construction
    val e1 = (0 until K).flatMap { i =>
      Seq(
        (ids(i, 2, 1).head, origText(i), origVec(i)),
        (ids(i, 3, 1).head,
          (0 until 23).map(j => s"s${i}w$j").mkString(" ") + s" s${i}w40",
          nudge(origVec(i), 14)),
        (ids(i, 4, 1).head, sdoc(s"p${i}w", 0), nudge(origVec(i), 15)),
        (ids(i, 5, 1).head, sdoc(s"n${i}w", 0), vec(4 + i, 0.5, (i + 6) % 8)))
    }.toDF("doc_id", "text", "embedding").localCheckpoint()

    single(e0, 0L); single(e1, 1L)
    shardSinks.foreach(s => s(e0, 0L))
    shardSinks.foreach(s => s(e1, 1L))
    // (b) bit-identical admissions, epoch-wise: originals then new pages
    val expect0 = (0 until K).map(i => ids(i, 0, 1).head).sorted
    val expect1 = (0 until K).map(i => ids(i, 5, 1).head).sorted
    assert(accSingle.sorted.toSeq == (expect0 ++ expect1).sorted)
    assert(accShard.flatten.sorted.toSeq == accSingle.sorted.toSeq,
      s"sharded admissions diverge: ${accShard.flatten.sorted.mkString(",")}" +
        s" vs ${accSingle.sorted.mkString(",")}")

    // (a) no cross-shard traffic: every stored row in shard i hashes to i
    (0 until K).foreach { i =>
      val sigIds = SignatureStore.read(spark, door.sigDir(i))
        .select("id").collect().map(_.getLong(0))
      assert(sigIds.nonEmpty && sigIds.forall(shardMap(_) == i),
        s"shard $i sig store holds foreign ids: ${sigIds.mkString(",")}")
      val cids = AnnIndex.read(spark, door.ivfDir(i))
        .select("cid").collect().map(_.getLong(0))
      assert(cids.forall(shardMap(_) == i),
        s"shard $i index holds foreign ids")
    }

    // (c) crash isolation: shard 1's accept explodes on epoch 2 — shards
    // 0/2/3 commit theirs, and shard 1 replays to completion on remount
    // (the screen's out runs pre-marker: a crashed epoch replays whole)
    val e2 = (0 until K).map(i =>
      (ids(i, 6, 1).head, sdoc(s"z${i}w", 0), vec((i + 2) % 4, 0.5, i + 9)))
      .toDF("doc_id", "text", "embedding").localCheckpoint()
    val crashing = mkShardSink(1, boom = true)
    Seq(0, 2, 3).foreach(i => shardSinks(i)(e2, 2L))
    intercept[IllegalStateException] { crashing(e2, 2L) }
    assert(!accShard(1).contains(ids(1, 6, 1).head))
    Seq(0, 2, 3).foreach(i => assert(accShard(i).contains(ids(i, 6, 1).head),
      s"a crash in shard 1 must not block shard $i"))
    mkShardSink(1)(e2, 2L) // remount + replay
    assert(accShard(1).sorted.toSeq ==
      Seq(ids(1, 0, 1), ids(1, 5, 1), ids(1, 6, 1)).flatten.sorted)

    // takedown routes by the same hash: retract shard 2's original, then
    // its exact bytes re-admit through shard 2's full chain
    door.retract(Seq((ids(2, 0, 1).head, origText(2)))
      .toDF("doc_id", "text"), "doc_id", "text")
    accShard(2).clear()
    mkShardSink(2)(Seq((ids(2, 7, 1).head, origText(2), origVec(2)))
      .toDF("doc_id", "text", "embedding"), 3L)
    assert(accShard(2).toSeq == Seq(ids(2, 7, 1).head))
  }

  test("door read path: FrontDoor.probe answers every layer's question " +
    "without admitting anything, and the sharded probe finds the " +
    "cross-shard twin the shard-local write screen is blind to") {
    // ---- single door: ingest one page, probe the four verdict classes
    val ref = ((0 until 60).map(i => (i.toLong, doc("alpha", i), true)) ++
        (0 until 60).map(i => (200L + i, doc("beta", i), false)))
      .toDF("doc_id", "text", "is_target")
    val gate = new IngestGate(
      Dsir.bucketStats(ref, "doc_id", "text", col("is_target")),
      minAffinity = -1e18)
    val seed = (for (c <- 0 until 8; k <- 0 until 6) yield
      ((100 + c * 6 + k).toLong, vec(c, 0.15 * k, (c + 1) % 8)))
      .toDF("doc_id", "embedding")
    val ivfDir = AnnIndex.ivfIndexDir(seed, "mem://fd_probe",
      "doc_id", "embedding", nlist = 8, iters = 3, seed = 42L,
      variant = s"fdp_${java.util.UUID.randomUUID().toString.take(8)}")
    val fpDir = java.nio.file.Files.createTempDirectory("fdp_fp").toString
    val sigDir = java.nio.file.Files.createTempDirectory("fdp_sig").toString
    val acc = scala.collection.mutable.ArrayBuffer[Long]()
    val sink = FrontDoor.sink(spark, gate, fpDir, sigDir, ivfDir,
      "doc_id", "text", "embedding", sigThreshold = 0.45,
      semThreshold = 0.99, nprobe = 2, streamTag = "fdp") { df =>
      acc ++= df.select("doc_id").collect().map(_.getLong(0))
    } { _ => () }
    val d0 = doc("alpha", 4); val v0 = vec(0, 0.5, 2)
    sink(Seq((1L, d0, v0)).toDF("doc_id", "text", "embedding"), 0L)
    assert(acc.toSeq == Seq(1L))
    def storeState() = (
      FingerprintStore.read(spark, fpDir).count(),
      SignatureStore.read(spark, sigDir).count(),
      AnnIndex.read(spark, ivfDir).count())
    val before = storeState()
    val verdicts = FrontDoor.probe(spark, fpDir, sigDir, ivfDir,
      Seq(
        (101L, d0, v0), // the exact bytes: every layer fires
        (102L, recrawl("alpha", 4), nudge(v0, 14)), // 1-token re-crawl
        (103L, doc("gamma", 0), nudge(v0, 15)), // fresh-text paraphrase
        (104L, doc("delta", 0), vec(3, 0.5, 9))) // genuinely new
        .toDF("doc_id", "text", "embedding"),
      "doc_id", "text", "embedding", sigThreshold = 0.45,
      semThreshold = 0.99, nprobe = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(verdicts(101L) == ((true, true, true)), s"exact: ${verdicts(101L)}")
    assert(verdicts(102L) == ((false, true, true)), s"recrawl: ${verdicts(102L)}")
    assert(verdicts(103L) == ((false, false, true)), s"para: ${verdicts(103L)}")
    assert(verdicts(104L) == ((false, false, false)), s"new: ${verdicts(104L)}")
    // read-only: the probe admitted and persisted NOTHING
    assert(storeState() == before)

    // ---- sharded: the write screen is shard-local (documented trade),
    // the read probe fans to every shard and finds the foreign twin
    val K = 2
    val shardMap: Map[Long, Int] = spark.range(1L, 200L)
      .select(col("id"), ShardedDoor.shardOf(col("id"), K).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    val id0 = shardMap.collectFirst { case (id, 0) => id }.get
    val id1 = shardMap.collectFirst { case (id, 1) => id }.get
    val root = java.nio.file.Files.createTempDirectory("shprobe").toString
    val door = ShardedDoor.create(spark, root, K, seed, "doc_id",
      "embedding", nlist = 8, iters = 3, seed = 42L)
    val accS = Array.fill(K)(scala.collection.mutable.ArrayBuffer[Long]())
    def mkSink(i: Int) = door.shardSink(i, gate, "doc_id", "text",
      "embedding", sigThreshold = 0.45, semThreshold = 0.99, nprobe = 2,
      streamTag = "sdp") { df =>
      accS(i) ++= df.select("doc_id").collect().map(_.getLong(0))
    } { _ => () }
    // shard 0 ingests the original
    mkSink(0)(Seq((id0, d0, v0)).toDF("doc_id", "text", "embedding"), 0L)
    assert(accS(0).toSeq == Seq(id0))
    // the twin: a 1-token re-crawl whose id routes to shard 1
    val twin = Seq((id1, recrawl("alpha", 4), nudge(v0, 14)))
      .toDF("doc_id", "text", "embedding")
    // write-side view (shard 1's own trio): blind — every verdict false
    val local = FrontDoor.probe(spark, door.fpDir(1), door.sigDir(1),
        door.ivfDir(1), twin, "doc_id", "text", "embedding",
        sigThreshold = 0.45, semThreshold = 0.99, nprobe = 2)
      .collect()(0)
    assert(!local.getBoolean(1) && !local.getBoolean(2))
    // read-side: the all-shard probe sees shard 0's original
    val fanned = door.probe(twin, "doc_id", "text", "embedding",
        sigThreshold = 0.45, semThreshold = 0.99, nprobe = 2)
      .collect()(0)
    assert(!fanned.getBoolean(1) && fanned.getBoolean(2) &&
      fanned.getBoolean(3),
      s"cross-shard twin must flag near+semantic: $fanned")
    // and the write screen indeed ADMITS it — the documented trade the
    // read path compensates
    mkSink(1)(twin, 0L)
    assert(accS(1).toSeq == Seq(id1))
  }

  test("door read path over the epoch log: FrontDoor.probe verdicts equal " +
    "the sink's kills, layer by layer, for a batch whose duplicates sit " +
    "only in unfolded log files") {
    val ref = ((0 until 60).map(i => (i.toLong, doc("alpha", i), true)) ++
        (0 until 60).map(i => (200L + i, doc("beta", i), false)))
      .toDF("doc_id", "text", "is_target")
    val gate = new IngestGate(
      Dsir.bucketStats(ref, "doc_id", "text", col("is_target")),
      minAffinity = -1e18)
    val seed = (for (c <- 0 until 8; k <- 0 until 6) yield
      ((100 + c * 6 + k).toLong, vec(c, 0.15 * k, (c + 1) % 8)))
      .toDF("doc_id", "embedding")
    val ivfDir = AnnIndex.ivfIndexDir(seed, "mem://fd_logprobe",
      "doc_id", "embedding", nlist = 8, iters = 3, seed = 42L,
      variant = s"fdl_${java.util.UUID.randomUUID().toString.take(8)}")
    val fpDir = java.nio.file.Files.createTempDirectory("fdl_fp").toString
    val sigDir = java.nio.file.Files.createTempDirectory("fdl_sig").toString
    val acc = scala.collection.mutable.ArrayBuffer[Long]()
    val sink = FrontDoor.sink(spark, gate, fpDir, sigDir, ivfDir,
      "doc_id", "text", "embedding", sigThreshold = 0.45,
      semThreshold = 0.99, nprobe = 2, streamTag = "fdl") { df =>
      acc ++= df.select("doc_id").collect().map(_.getLong(0))
    } { _ => () }
    // epoch 0 admits two pages into empty stores: log files only
    val (d0, v0) = (doc("alpha", 4), vec(0, 0.5, 2))
    val (d1, v1) = (doc("alpha", 30), vec(5, 0.5, 7))
    sink(Seq((1L, d0, v0), (2L, d1, v1))
      .toDF("doc_id", "text", "embedding"), 0L)
    assert(acc.sorted.toSeq == Seq(1L, 2L))
    assert(!exists(s"$fpDir/fps") && !exists(s"$sigDir/sigs") &&
      !exists(s"$sigDir/bands"), "epoch 0 must sit in the log only")
    val batch = Seq(
      (11L, d0, v0),                               // exact copy of 1
      (12L, recrawl("alpha", 30), nudge(v1, 14)),  // 1-token re-crawl of 2
      (13L, doc("gamma", 0), nudge(v0, 15)),       // paraphrase of 1
      (14L, doc("delta", 0), vec(3, 0.5, 9)))      // genuinely new
      .toDF("doc_id", "text", "embedding")
    val verdicts = FrontDoor.probe(spark, fpDir, sigDir, ivfDir, batch,
        "doc_id", "text", "embedding", sigThreshold = 0.45,
        semThreshold = 0.99, nprobe = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(verdicts(11L)._1 && verdicts(12L)._2 && verdicts(13L)._3 &&
      verdicts(14L) == ((false, false, false)), verdicts.toString)
    // the sink's kills, layer by layer, read off each store's growth: a
    // layer stores exactly the docs it passed
    val fpBefore = FingerprintStore.read(spark, fpDir).count()
    val sigBefore = SignatureStore.read(spark, sigDir).select("id")
      .collect().map(_.getLong(0)).toSet
    acc.clear()
    sink(batch, 1L)
    val passFp = verdicts.filter(!_._2._1).keySet
    val passSig = verdicts.filter(v => !v._2._1 && !v._2._2).keySet
    val passAll = verdicts.filter(v => v._2 == ((false, false, false))).keySet
    assert(FingerprintStore.read(spark, fpDir).count() - fpBefore ==
      passFp.size.toLong, s"fp layer must pass exactly $passFp")
    assert(SignatureStore.read(spark, sigDir).select("id").collect()
      .map(_.getLong(0)).toSet -- sigBefore == passSig,
      s"sig layer must pass exactly $passSig")
    assert(acc.toSet == passAll, s"admitted $acc, probe predicted $passAll")
  }

  test("a create that crashed mid-build refuses a retry with a DIFFERENT " +
    "k: early shards were sliced by the old k and the new route would " +
    "never visit their vectors") {
    val seed = (for (c <- 0 until 8; k <- 0 until 6) yield
      ((100 + c * 6 + k).toLong, vec(c, 0.15 * k, (c + 1) % 8)))
      .toDF("doc_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("shintent").toString
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // the crashed-create state: intent committed, no _layout yet
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$root/._layout.intent"), true)
    out.write("k=2".getBytes("UTF-8")); out.close()
    val ex = intercept[IllegalArgumentException] {
      ShardedDoor.create(spark, root, 4, seed, "doc_id", "embedding",
        nlist = 8, iters = 2, seed = 42L)
    }
    assert(ex.getMessage.contains("k=4") && ex.getMessage.contains("k=2"))
    // resuming with the ORIGINAL k completes and retires the intent
    val door = ShardedDoor.create(spark, root, 2, seed, "doc_id",
      "embedding", nlist = 8, iters = 2, seed = 42L)
    assert(door.k == 2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/._layout.intent")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/_layout")))
  }

  /** Counts the jobs started under one job group (broadcast and AQE stage
    * jobs inherit the caller's group) and drains like a bench harness: it
    * waits until no job is open and the bus has been quiet for 500 ms. */
  private final class JobCounter(group: String)
      extends org.apache.spark.scheduler.SparkListener {
    private val open = scala.collection.mutable.Set[Int]()
    @volatile private var lastEventMs = System.currentTimeMillis()
    @volatile var jobs = 0
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = synchronized {
      lastEventMs = System.currentTimeMillis()
      if (Option(e.properties).exists(p =>
          p.getProperty("spark.jobGroup.id") == group)) {
        jobs += 1; open += e.jobId
      }
    }
    override def onJobEnd(
        e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = synchronized {
      lastEventMs = System.currentTimeMillis(); open -= e.jobId
    }
    def drain(): Unit = {
      val deadline = System.currentTimeMillis() + 20000
      while (System.currentTimeMillis() < deadline &&
        (synchronized(open.nonEmpty) ||
          System.currentTimeMillis() - lastEventMs < 500)) Thread.sleep(50)
    }
  }

  test("one warm 100-doc door trigger runs at most 40 Spark jobs") {
    // the bench door's mix: 20 gate rejects, 20 exact copies of stored
    // docs, 20 one-token re-crawls, 20 paraphrases, 20 novel docs
    val n = 20
    def words(k: Int, r: scala.util.Random) =
      Seq.fill(k)(Seq.fill(8)(('a' + r.nextInt(26)).toChar).mkString)
        .mkString(" ")
    def randVec(r: scala.util.Random) = Seq.fill(16)(r.nextDouble() * 2 - 1)
    val r0 = new scala.util.Random(7)
    val stored = (0 until n).map(i => (i.toLong, words(24, r0), randVec(r0)))
    val others = (0 until 40).map(i =>
      (1000L + i, words(24, r0), randVec(r0)))
    val all = (stored ++ others).toDF("doc_id", "text", "embedding")
    val gate = new IngestGate(
      Dsir.bucketStats(all.withColumn("is_target", col("doc_id") % 2 === 0),
        "doc_id", "text", col("is_target")), minAffinity = -1e18)
    val fpDir = java.nio.file.Files.createTempDirectory("fdj_fp").toString
    val sigDir = java.nio.file.Files.createTempDirectory("fdj_sig").toString
    FingerprintStore.seed(all, "text", fpDir)
    SignatureStore.seed(all, "doc_id", "text", sigDir)
    val ivfDir = AnnIndex.ivfIndexDir(all, "mem://fd_jobs", "doc_id",
      "embedding", nlist = 8, iters = 3, seed = 42L,
      variant = s"fdj_${java.util.UUID.randomUUID().toString.take(8)}")
    // the callbacks count outside the measured job group: to the door they
    // are no-ops
    val counts = Array(0L, 0L)
    val sc = spark.sparkContext
    def countAside(i: Int, df: org.apache.spark.sql.DataFrame): Unit = {
      val g = sc.getLocalProperty("spark.jobGroup.id")
      sc.clearJobGroup()
      try counts(i) += df.count()
      finally if (g != null) sc.setJobGroup(g, "one warm door trigger")
    }
    val door = FrontDoor.sink(spark, gate, fpDir, sigDir, ivfDir, "doc_id",
      "text", "embedding", sigThreshold = 0.45, semThreshold = 0.99,
      nprobe = 4, streamTag = "jobs")(countAside(0, _))(countAside(1, _))
    def batch(t: Int) = {
      val r = new scala.util.Random(100 + t)
      def nudge(v: Seq[Double]) = v.updated(0, v.head + 1e-3)
      val id0 = 10000L * t
      ((0 until n).map(i => (id0 + i, "x", randVec(r))) ++
        stored.map { case (i, tx, v) => (id0 + 100 + i, tx, nudge(v)) } ++
        stored.map { case (i, tx, v) =>
          (id0 + 200 + i, tx + " " + words(1, r), nudge(v)) } ++
        stored.map { case (i, _, v) => (id0 + 300 + i, words(24, r), nudge(v)) } ++
        (0 until n).map(i => (id0 + 400 + i, words(24, r), randVec(r))))
        .toDF("doc_id", "text", "embedding").localCheckpoint()
    }
    door(batch(1), 1L) // cold
    assert(counts.toSeq == Seq(n.toLong, n.toLong), counts.mkString(","))
    val warm = batch(2)
    counts(0) = 0L; counts(1) = 0L
    val group = s"door_jobs_${java.util.UUID.randomUUID().toString.take(8)}"
    val counter = new JobCounter(group)
    sc.addSparkListener(counter)
    try {
      sc.setJobGroup(group, "one warm door trigger")
      try door(warm, 2L) finally sc.clearJobGroup()
      counter.drain()
    } finally sc.removeSparkListener(counter)
    assert(counts.toSeq == Seq(n.toLong, n.toLong), counts.mkString(","))
    info(s"warm trigger: ${counter.jobs} jobs")
    assert(counter.jobs <= 40, s"a warm door trigger ran ${counter.jobs} jobs")
  }

  test("a mis-wired store chain (layer fed with no gate epoch) fails " +
    "loudly instead of running the stores at epoch -1") {
    val seed = (for (c <- 0 until 8; k <- 0 until 6) yield
      ((100 + c * 6 + k).toLong, vec(c, 0.15 * k, (c + 1) % 8)))
      .toDF("doc_id", "embedding")
    val ivfDir = AnnIndex.ivfIndexDir(seed, "mem://frontdoor_guard",
      "doc_id", "embedding", nlist = 8, iters = 3, seed = 42L,
      variant = s"fdg_${java.util.UUID.randomUUID().toString.take(8)}")
    val fpDir = java.nio.file.Files.createTempDirectory("fdg_fp").toString
    val sigDir = java.nio.file.Files.createTempDirectory("fdg_sig").toString
    val chain = FrontDoor.storeChain(spark, fpDir, sigDir, ivfDir,
      "doc_id", "text", "embedding", 0.45, 0.99, 2, "guard",
      new java.util.concurrent.atomic.AtomicLong(-1L))(_ => ())
    val ex = intercept[IllegalArgumentException] {
      chain(Seq((1L, doc("alpha", 4), vec(0, 0.5, 2)))
        .toDF("doc_id", "text", "embedding"))
    }
    assert(ex.getMessage.contains("before any gate epoch"))
  }

  // ---- the door epoch against the per-layer chain, and its crash windows

  /** Three epochs holding every door outcome: e0 admits 1 and 3 and
    * rejects 2 at the gate; e1 holds an exact copy of 1 (11), an
    * intra-batch byte-identical pair (13 and 12: min id 12 survives), a
    * one-token re-crawl of 3 (14), a paraphrase of 1 (15), a novel page
    * (16) and a gate reject (17); e2 an exact copy of the pair's text
    * (21), a re-crawl of 16 (22), a paraphrase of 3 (23), a novel page
    * (24) and a gate reject (25). Distinct pages share no shingle: each
    * has its own vocabulary or a disjoint window of one. Each of e0 and e1
    * also admits a band family ([[familyA]], [[familyB]]): six one-token
    * variants of one page, which share bands often enough to put groups
    * into the band census. */
  private def doorEpochs: Seq[Seq[(Long, String, Seq[Double])]] = {
    val (v1, v3, ve) = (vec(0, 0.5, 2), vec(5, 0.5, 7), vec(6, 0.5, 1))
    val (n1, n2) = (vec(7, 0.5, 5), vec(3, 0.5, 6))
    def family(ids: Seq[Long], v: String, offAxis: Int) =
      ids.zipWithIndex.map { case (id, j) =>
        (id, (0 until 23).map(i => w(v, 56 + i)).mkString(" ") + " " +
          w(v, Seq(0, 1, 2, 3, 28, 29)(j)), vec(8 + j, 0.5, offAxis)) }
    Seq(
      Seq((1L, doc("alpha", 4), v1), (2L, doc("beta", 7), vec(1, 0.5, 3)),
        (3L, doc("gamma", 4), v3)) ++ family(familyA, "kappa", 15),
      Seq((11L, doc("alpha", 4), v1), (13L, doc("delta", 4), ve),
        (12L, doc("delta", 4), ve), (14L, recrawl("gamma", 4), nudge(v3, 4)),
        (15L, doc("kappa", 4), nudge(v1, 3)), (16L, doc("alpha", 30), n1),
        (17L, doc("beta", 30), vec(2, 0.5, 4))) ++ family(familyB, "delta", 14),
      Seq((21L, doc("delta", 4), ve), (22L, recrawl("alpha", 30), nudge(n1, 3)),
        (23L, doc("gamma", 30), nudge(v3, 2)), (24L, doc("delta", 30), n2),
        (25L, doc("beta", 56), vec(4, 0.5, 0))))
  }
  private val familyA = 41L to 46L
  private val familyB = 51L to 56L

  /** [[doorEpochs]]' admissions per epoch. */
  private val doorAccepted: Seq[Seq[Long]] =
    Seq(Seq(1L, 3L) ++ familyA, Seq(12L, 16L) ++ familyB, Seq(24L))

  private def doorGate(): IngestGate = {
    val ref = (Seq("alpha", "gamma", "delta", "kappa").zipWithIndex.flatMap {
        case (v, k) => (0 until 60).map(i => (k * 100L + i, doc(v, i), true))
      } ++ (0 until 60).map(i => (900L + i, doc("beta", i), false)))
      .toDF("doc_id", "text", "is_target")
    new IngestGate(Dsir.bucketStats(ref, "doc_id", "text", col("is_target")),
      minAffinity = 2.0)
  }

  /** A fresh (fp, sig, ivf) store trio; every trio's index is trained on
    * the same seed vectors with the same seed, so all start identical. */
  private def doorTrio(name: String): (String, String, String) = {
    val seed = (for (c <- 0 until 8; k <- 0 until 6) yield
      ((100 + c * 6 + k).toLong, vec(c, 0.15 * k, (c + 1) % 8)))
      .toDF("doc_id", "embedding")
    (java.nio.file.Files.createTempDirectory(s"${name}_fp").toString,
      java.nio.file.Files.createTempDirectory(s"${name}_sig").toString,
      AnnIndex.ivfIndexDir(seed, s"mem://door_$name", "doc_id", "embedding",
        nlist = 8, iters = 3, seed = 42L,
        variant = s"${name}_${java.util.UUID.randomUUID().toString.take(8)}"))
  }

  /** The per-layer sinks chained by hand, wired as the door chained them
    * before it ran one epoch: gate -> fp -> sig -> sem, each layer
    * committing under its own marker. */
  private def layerChain(gate: IngestGate, trio: (String, String, String),
                         tag: String, afterSem: Long => Unit = _ => ())
                        (accept: org.apache.spark.sql.DataFrame => Unit)
                        (quarantine: org.apache.spark.sql.DataFrame => Unit) = {
    val (fpDir, sigDir, ivfDir) = trio
    val cur = new java.util.concurrent.atomic.AtomicLong(-1L)
    val sem = AnnIndex.semanticScreenSink(spark, ivfDir, "doc_id",
      "embedding", 0.99, 2, tag)(accept)
    val sig = SignatureStore.screenSink(spark, sigDir, "doc_id", "text",
      0.45, streamTag = tag) { df => sem(df, cur.get()); afterSem(cur.get()) }
    val fp = FingerprintStore.dedupSink(spark, fpDir, "doc_id", "text",
      streamTag = tag) { df => sig(df, cur.get()) }
    gate.sinkEpoch("doc_id", "text")({ (df, e) => cur.set(e); fp(df, e) })(
      { (df, _) => quarantine(df) })
  }

  private def doorSink(trio: (String, String, String), tag: String)
                      (accept: org.apache.spark.sql.DataFrame => Unit)
                      (quarantine: org.apache.spark.sql.DataFrame => Unit) =
    FrontDoor.sink(spark, doorGate(), trio._1, trio._2, trio._3, "doc_id",
      "text", "embedding", sigThreshold = 0.45, semThreshold = 0.99,
      nprobe = 2, streamTag = tag)(accept)(quarantine)

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSeq

  /** The trio's four tables and the band census, each as sorted rows. */
  private def doorTables(trio: (String, String, String)): Seq[Seq[String]] = {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq.sorted
    val census = new org.apache.hadoop.fs.Path(s"${trio._2}/hotbands")
    Seq(rows(FingerprintStore.read(spark, trio._1)),
      rows(SignatureStore.read(spark, trio._2)),
      rows(SignatureStore.readBands(spark, trio._2)),
      rows(AnnIndex.read(spark, trio._3)),
      if (!exists(census.toString)) Nil
      else rows(spark.read.parquet(census.toString)))
  }

  private def leftStages(trio: (String, String, String)): Seq[String] =
    Seq(trio._1, trio._2, trio._3).flatMap { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
        .map(_.getPath.getName).filter(_.contains("_stage_")).toSeq
    }

  test("the door epoch equals the per-layer chain: the same admissions and " +
    "quarantines per epoch and the same rows in every store table") {
    val (doorT, chainT) = (doorTrio("eqd"), doorTrio("eqc"))
    def run(sink: ((org.apache.spark.sql.DataFrame => Unit),
                   (org.apache.spark.sql.DataFrame => Unit)) =>
                  ((org.apache.spark.sql.DataFrame, Long) => Unit)) = {
      val acc = Array.fill(3)(Seq.empty[Long])
      val quar = Array.fill(3)(Seq.empty[Long])
      var e = 0
      val s = sink(df => acc(e) ++= ids(df), df => quar(e) ++= ids(df))
      doorEpochs.zipWithIndex.foreach { case (rows, i) =>
        e = i
        s(rows.toDF("doc_id", "text", "embedding"), i.toLong)
      }
      (acc.map(_.sorted).toSeq, quar.map(_.sorted).toSeq)
    }
    val door = run((a, q) => doorSink(doorT, "eq")(a)(q))
    val chain = run((a, q) => layerChain(doorGate(), chainT, "eq")(a)(q))
    assert(door._1 == doorAccepted, door._1.toString)
    assert(door._2 == Seq(Seq(2L), Seq(17L), Seq(25L)), door._2.toString)
    assert(door == chain, s"door $door vs chain $chain")
    val (dt, ct) = (doorTables(doorT), doorTables(chainT))
    Seq("fps", "sigs", "bands", "lists", "census").zipWithIndex.foreach {
      case (name, i) => assert(dt(i) == ct(i), s"$name differs")
    }
    assert(dt(4).nonEmpty, "fixture: no band group reaches the census")
    // the fp layer stored every fp survivor (14, 15, 22 and 23 died
    // later), the signature layer its own survivors (15 and 23 too)
    assert(dt.head.size == 21, dt.head.toString)
    assert(SignatureStore.read(spark, doorT._2).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq ==
      (Seq(1L, 3L, 12L, 15L, 16L, 23L, 24L) ++ familyA ++ familyB).sorted)
    assert(leftStages(doorT).isEmpty)
  }

  /** [[doorEpochs]] as a file source's input dir, one file per epoch. */
  private def doorInput(name: String): String = {
    val inDir = java.nio.file.Files.createTempDirectory(s"${name}_in").toFile
    doorEpochs.zipWithIndex.foreach { case (rows, i) =>
      val f = new java.io.File(inDir, f"b$i%02d.json")
      java.nio.file.Files.write(f.toPath, rows.map { case (id, t, v) =>
        s"""{"doc_id":$id,"text":"$t","embedding":[${v.mkString(",")}]}"""
      }.mkString("\n").getBytes("UTF-8"))
      f.setLastModified(1700000000000L + i * 60000L)
    }
    inDir.getAbsolutePath
  }

  /** Runs a checkpointed file-source query over `inDir` into
    * `mkSink(crashPoint)`, one input file per epoch, restarting it after
    * every crash until it completes; `beforeRestart` repairs what a crash
    * point planted. A fresh sink per start: Bloom lists and heals reload
    * from disk, as in a recovered driver. */
  private def doorStream(inDir: String, ckpt: String,
                         mkSink: (String => Unit) =>
                           ((org.apache.spark.sql.DataFrame, Long) => Unit),
                         crashPlan: Set[String] = Set.empty,
                         beforeRestart: () => Unit = () => ()): Unit = {
    val crashed = scala.collection.mutable.Set[String]()
    def crashPoint(p: String): Unit =
      if (crashPlan.contains(p) && crashed.add(p))
        throw new IllegalStateException(s"injected crash at $p")
    var (done, attempts) = (false, 0)
    while (!done && attempts < 8) {
      attempts += 1
      if (attempts > 1) beforeRestart()
      val q = spark.readStream
        .schema("doc_id BIGINT, text STRING, embedding ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", 1).json(inDir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(mkSink(crashPoint)).start()
      try { q.processAllAvailable(); done = true }
      catch { case _: Throwable => () }
      finally { try q.stop() catch { case _: Throwable => () } }
    }
    assert(done, s"the stream never completed in $attempts attempts")
    assert(crashed == crashPlan,
      s"crash points never reached: ${(crashPlan -- crashed).mkString(",")}")
  }

  test("door epoch crash replay: a crash in accept, a crash after the " +
    "commit, and a committed epoch whose publish reached one store dir " +
    "only all replay to the crash-free admissions and tables; the census " +
    "loses only the fold of the epoch that crashed after its commit") {
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def path(p: String) = new org.apache.hadoop.fs.Path(p)
    // accept records (epoch, ids); for the post-commit crash it corrupts
    // the band census, so the census fold after the commit fails: a crash
    // between the commit and the post-commit steps
    def run(name: String, acceptCrash: Set[String], censusCrash: Long) = {
      val trio = doorTrio(name)
      val fired = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]()
      val aside = path(s"${trio._2}/.hotbands.aside")
      var planted = false
      def mk(crashPoint: String => Unit) = {
        val cur = new java.util.concurrent.atomic.AtomicLong(-1L)
        val door = doorSink(trio, "cr") { df =>
          val e = cur.get()
          fired += e -> ids(df).sorted
          crashPoint(s"accept-$e")
          if (e == censusCrash && !planted) {
            planted = true
            assert(fs.rename(path(s"${trio._2}/hotbands"), aside))
            val out = fs.create(path(s"${trio._2}/hotbands/part-0.parquet"))
            out.write("not parquet".getBytes("UTF-8")); out.close()
          }
        } { _ => () }
        (df: org.apache.spark.sql.DataFrame, e: Long) => {
          cur.set(e)
          door(df, e)
        }
      }
      val restoreCensus: () => Unit = () => if (fs.exists(aside)) {
        fs.delete(path(s"${trio._2}/hotbands"), true)
        assert(fs.rename(aside, path(s"${trio._2}/hotbands")))
      }
      val (inDir, ckpt) = (doorInput(name),
        java.nio.file.Files.createTempDirectory(s"${name}_ck").toString)
      doorStream(inDir, ckpt, mk, acceptCrash, restoreCensus)
      assert(planted == (censusCrash >= 0))
      (trio, fired, inDir, ckpt, mk _)
    }
    val (cleanT, cleanFired, _, _, _) = run("crc", Set.empty, -1L)
    val (t, fired, inDir, ckpt, mk) = run("crx", Set("accept-0"), 1L)
    assert(cleanFired.map(_._2) == doorAccepted, cleanFired.toString)
    // accept fired again only for the epoch whose marker was absent
    assert(fired == cleanFired.head +: cleanFired, fired.toString)
    // The census fold runs after the commit, so the crash there lost epoch
    // 1's fold (the census's undercount; a replay of a committed epoch only
    // heals) and never applied it twice. Epoch 0 crashed before its commit
    // and replayed whole, its fold included: exactly once. So the census
    // is the crash-free one without family B's groups, and holds family
    // A's.
    val clean = doorTables(cleanT)
    val famB = SignatureStore.readBands(spark, cleanT._2)
      .filter(col("id").isin(familyB: _*)).select("band_id", "band_hash")
    val census = spark.read.parquet(s"${cleanT._2}/hotbands")
      .join(famB, Seq("band_id", "band_hash"), "left_anti")
      .select("band_id", "band_hash", "df")
      .collect().map(_.toString).toSeq.sorted
    assert(census.nonEmpty && census != clean(4),
      s"fixture: census $census, crash-free ${clean(4)}")
    def replayed = doorTables(t)
    assert(replayed == clean.take(4) :+ census, replayed.toString)
    assert(leftStages(t).isEmpty, leftStages(t).toString)

    // epoch 2 committed, but its publish reached the fp dir only: move the
    // signature and list rows it published back into its stages, and roll
    // the query's commit back so that epoch 2 is delivered again
    def newest(d: String) = fs.listStatus(path(d))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .maxBy(_.getModificationTime).getPath
    Seq((t._2, "sigs"), (t._2, "bands"), (t._3, "lists")).foreach {
      case (d, table) =>
        val f = newest(s"$d/${table}_log")
        fs.mkdirs(path(s"$d/.door_stage_cr_2/$table"))
        assert(fs.rename(f, path(s"$d/.door_stage_cr_2/$table/${f.getName}")))
    }
    assert(fs.exists(path(s"${t._1}/_door_cr_epoch_2")))
    assert(replayed != clean.take(4) :+ census, "fixture: nothing unpublished")
    assert(fs.delete(path(s"$ckpt/commits/2"), false))
    fired.clear()
    doorStream(inDir, ckpt, mk)
    assert(fired.isEmpty, s"a committed epoch fired accept: $fired")
    assert(replayed == clean.take(4) :+ census, replayed.toString)
    assert(leftStages(t).isEmpty, leftStages(t).toString)
  }

  test("door restart on stores the per-layer chain wrote: a fully committed " +
    "epoch replays as a no-op, and a chain that crashed after its semantic " +
    "or signature layer committed finishes without recomputing them") {
    val cleanT = doorTrio("pc")
    val cleanAcc = scala.collection.mutable.ArrayBuffer[Long]()
    val clean = doorSink(cleanT, "pc")(cleanAcc ++= ids(_))(_ => ())
    doorEpochs.zipWithIndex.foreach { case (rows, e) =>
      clean(rows.toDF("doc_id", "text", "embedding"), e.toLong) }

    val t = doorTrio("pl")
    val acc = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def batch(e: Int) = doorEpochs(e).toDF("doc_id", "text", "embedding")
    // the per-layer chain commits epoch 0 whole; epoch 1 crashes after its
    // semantic layer committed (accept fired), before the signature layer
    // staged
    var cur = -1L
    def chain(crashAfterSem: Boolean) = layerChain(doorGate(), t, "pc",
        afterSem = e => if (crashAfterSem && e == 1L)
          throw new IllegalStateException("crash after the semantic layer")) {
      df => acc ++= ids(df).map(cur -> _) } { _ => () }
    cur = 0L; chain(false)(batch(0), 0L)
    cur = 1L
    intercept[IllegalStateException] { chain(true)(batch(1), 1L) }
    val fs = new org.apache.hadoop.fs.Path(t._1).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"${t._3}/_annscr_pc_epoch_1")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${t._2}/_sigscr_pc_epoch_1")))
    val admitted = doorAccepted.take(2).flatten.sorted
    assert(acc.map(_._2).sorted == admitted)
    // the door mounts on that trio and the stream replays epochs 0 and 1
    val door = doorSink(t, "pc") { df => acc ++= ids(df).map(cur -> _) }(_ => ())
    cur = 0L; door(batch(0), 0L)
    cur = 1L; door(batch(1), 1L)
    assert(acc.map(_._2).sorted == admitted,
      s"a committed layer re-fired accept: $acc")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"${t._1}/_door_pc_epoch_1")))
    // the signature layer committed, the fp layer not: a chain that
    // crashed there finishes the fp layer alone
    val t2 = doorTrio("pl2")
    acc.clear()
    val chain2 = layerChain(doorGate(), t2, "pc")(
      df => acc ++= ids(df).map(cur -> _))(_ => ())
    cur = 0L; chain2(batch(0), 0L)
    // epoch 1 whole through the per-layer chain, then its fp layer's log
    // file and marker undone: the state of a crash after the signature
    // layer's marker. Epoch 1's Bloom sidecar stays, as a chain that wrote
    // it into the store before its marker left it; the replay publishes its
    // own over it.
    cur = 1L; chain2(batch(1), 1L)
    val fpMarker = new org.apache.hadoop.fs.Path(s"${t2._1}/_ingested_pc_epoch_1")
    val fpLogs = fs.listStatus(new org.apache.hadoop.fs.Path(s"${t2._1}/fps_log"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
    val epoch1Log = fs.listStatus(new org.apache.hadoop.fs.Path(s"${t2._1}/fps_log"))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .maxBy(_.getModificationTime).getPath
    assert(fpLogs.length == 2)
    assert(fs.delete(fpMarker, false) && fs.delete(epoch1Log, false))
    val door2 = doorSink(t2, "pc") { df => acc ++= ids(df).map(cur -> _) }(_ => ())
    cur = 1L; door2(batch(1), 1L)
    assert(acc.map(_._2).sorted == admitted, acc.toString)
    // both trios then run epoch 2 through the door and equal the door-only
    // run in every table
    Seq(t, t2).foreach { tr =>
      val d = doorSink(tr, "pc")(_ => ())(_ => ())
      d(batch(2), 2L)
      assert(doorTables(tr) == doorTables(cleanT), tr.toString)
      assert(leftStages(tr).isEmpty)
    }
  }

  test("door remount: a committed epoch whose fingerprint stage (fps and " +
    "Bloom sidecar) never published is published before the Bloom list " +
    "loads, so the next epoch's byte copy still dies at the fp layer") {
    def batch(e: Int) = doorEpochs(e).toDF("doc_id", "text", "embedding")
    val cleanT = doorTrio("bc")
    val clean = doorSink(cleanT, "bh")(_ => ())(_ => ())
    doorEpochs.indices.foreach(e => clean(batch(e), e.toLong))
    val t = doorTrio("bl")
    val acc = scala.collection.mutable.ArrayBuffer[Long]()
    val first = doorSink(t, "bh")(acc ++= ids(_))(_ => ())
    Seq(0, 1).foreach(e => first(batch(e), e.toLong))
    // epoch 1 committed, but the fp dir's share of its publish never ran:
    // move its fps log file and its Bloom sidecar back into its stage
    def path(p: String) = new org.apache.hadoop.fs.Path(p)
    val fs = path(t._1).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = s"${t._1}/.door_stage_bh_1"
    val log = fs.listStatus(path(s"${t._1}/fps_log"))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .maxBy(_.getModificationTime).getPath
    assert(fs.mkdirs(path(s"$stage/fps")))
    assert(fs.rename(log, path(s"$stage/fps/${log.getName}")))
    assert(fs.rename(path(s"${t._1}/bloom_bh_epoch_1"), path(s"$stage/bloom")))
    assert(fs.exists(path(s"${t._1}/_door_bh_epoch_1")))
    // the remount heals, and epoch 2 holds 21, a byte copy of epoch 1's 12
    val door = doorSink(t, "bh")(acc ++= ids(_))(_ => ())
    door(batch(2), 2L)
    assert(acc.sorted == doorAccepted.flatten.sorted, acc.toString)
    def fps(d: String) = FingerprintStore.read(spark, d).collect()
      .map(_.toString).toSeq.sorted
    assert(fps(t._1) == fps(cleanT._1))
    assert(doorTables(t) == doorTables(cleanT))
    assert(leftStages(t).isEmpty, leftStages(t).toString)
  }

}
