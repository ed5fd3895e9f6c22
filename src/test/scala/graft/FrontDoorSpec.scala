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
}
