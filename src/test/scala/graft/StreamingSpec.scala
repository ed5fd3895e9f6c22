package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Drift
import graft.streaming.{DdmStream, StreamOps}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val errs: Seq[Double] =
    Seq.fill(40)(0.1) ++ (1 to 20).map(k => 0.1 + 0.04 * k) ++
      Seq.fill(10)(0.9) ++ Seq.fill(20)(0.1)

  test("streaming DDM across micro-batches equals the batch scan (ST1)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DdmStream.Feed]
    val query = DdmStream.signals(mem.toDS())
      .writeStream.format("memory").queryName("ddm_out")
      .outputMode("append").start()
    try {
      // feed in 4 uneven micro-batches, unordered within each batch
      val feeds = errs.zipWithIndex.map { case (e, i) => DdmStream.Feed("d", i, e) }
      val chunks = Seq(feeds.slice(0, 13).reverse, feeds.slice(13, 47),
        feeds.slice(47, 48), feeds.slice(48, 90).reverse)
      chunks.foreach { c => mem.addData(c: _*); query.processAllAvailable() }
      val streamed = spark.table("ddm_out")
        .select("batch_id", "signal").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val batch = Drift.ddmSequential(
          feeds.toDF("detector", "batch_id", "error"), "detector", "batch_id", "error")
        .collect().map(r => r.getLong(1) -> r.getString(5)).toMap
      assert(streamed.size == errs.size)
      assert(streamed == batch)
      assert(batch(55L) == "D")
    } finally query.stop()
  }

  test("watermarked tumbling windows emit finalized groups (event-time capability)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val query = StreamOps.windowedEventCounts(events, "2 minutes", "5 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
      mem.addData((ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(6), "b", 3.0))
      query.processAllAvailable()
      // advance the watermark past the first window to finalize it
      mem.addData((ts(20), "a", 4.0))
      query.processAllAvailable()
      val rows = spark.table("win_out")
        .select("win_start", "event_type", "n", "sum_value").collect()
      val first = rows.find(r => r.getString(1) == "a" &&
        r.getTimestamp(0) == java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      assert(first.isDefined, s"finalized 00:00 window missing: ${rows.mkString(",")}")
      assert(first.get.getLong(2) == 2 && first.get.getDouble(3) == 3.0)
    } finally query.stop()
  }

  test("streaming session windows finalize after the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "value")
    val query = StreamOps.sessionizedUserActivity(events,
        watermark = "1 minute", gap = "10 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
      // user 1: two events 5 min apart (one session), then a 20-min silence
      mem.addData((ts(0), 1L, 1.0), (ts(5), 1L, 2.0))
      query.processAllAvailable()
      // advance watermark far past session close (05 + 10min gap + 1min wm)
      mem.addData((ts(40), 1L, 9.0))
      query.processAllAvailable()
      val rows = spark.table("sess_out")
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
        .collect()
      val s = rows.find(_.getTimestamp(1) == ts(0))
      assert(s.isDefined, s"finalized session missing: ${rows.mkString(",")}")
      assert(s.get.getLong(3) == 2 && s.get.getDouble(4) == 3.0)
      // session end = last event + gap
      assert(s.get.getTimestamp(2) == ts(15))
    } finally query.stop()
  }

  test("streaming dedup drops cross-micro-batch re-deliveries within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val events = mem.toDF().toDF("ts", "event_id", "value")
    val query = StreamOps.dedupWithinWatermark(events, "event_id", "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
      mem.addData((ts(1), 100L, 1.0), (ts(1), 100L, 1.0), (ts(2), 200L, 2.0))
      query.processAllAvailable()
      // re-delivery of id 100 in a LATER micro-batch, still inside the horizon
      mem.addData((ts(3), 100L, 1.0), (ts(4), 300L, 3.0))
      query.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(100L, 200L, 300L), ids.mkString(","))
    } finally query.stop()
  }

  test("prequential NB learns a separable stream (ST4 test-then-train)") {
    // two Gaussian-ish clusters: label 0 near (+1,+1,..), label 1 near (-1,-1,..)
    val dim = 8
    val rnd = new scala.util.Random(7)
    def mk(id: Long, label: Int): (Long, Int, Seq[Float]) = {
      val center = if (label == 0) 1.0 else -1.0
      (id, label, Seq.fill(dim)((center + rnd.nextGaussian() * 0.3).toFloat))
    }
    val batches = (0 until 6).map { b =>
      (0 until 40).map(i => mk(b * 40L + i, i % 2))
    }
    val model = new StreamOps.PrequentialNB(dim, 2)
    val accs = batches.map { rows =>
      val df = rows.toDF("id", "label", "vec")
      val scored = model.step(df, "id", "label", "vec", dim)
      val acc = scored.agg(avg(when(col("label") === col("pred"), 1.0).otherwise(0.0)))
        .collect()(0).getDouble(0)
      scored.unpersist()
      acc
    }
    assert(accs.head < 0.5, s"first batch is untrained (pred=-1): $accs")
    assert(accs.last > 0.95, s"later batches should be near-perfect: $accs")
    // accumulators equal the one-shot Welford fit over all data
    val all = batches.flatten.toDF("id", "label", "vec")
    val oneShot = graft.ml.GaussianNB.fitStatsWelford(all, "label", "vec", dim)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getSeq[Double](2))).toMap
    (0 until 2).foreach { c =>
      val (n, mu, _) = model.stats(c)
      assert(n == oneShot(c)._1)
      mu.zip(oneShot(c)._2).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    }
  }

  test("streaming mini-batch k-means tracks drifting cluster centers") {
    implicit val sqlCtx = spark.sqlContext
    val dim = 8
    def mix(a: Long, b: Long): Double =
      (Math.floorMod(a * 2654435761L + b * 40503L + 12345L, 100000L)
        .toDouble / 100000.0 - 0.5) * 2.0
    def center(c: Int, shift: Double): Seq[Double] =
      (0 until dim).map(i => mix(c * 31L + 7, i) + (if (i == 0) shift else 0.0))
    def wave(w: Int, shift: Double): Seq[(Long, Seq[Double])] =
      for (c <- 0 until 4; p <- 0 until 50) yield {
        val id = (w * 1000 + c * 50 + p).toLong
        (id, center(c, shift).zipWithIndex.map { case (x, i) =>
          x + 0.1 * mix(id * 131L + 3, i)
        })
      }
    def maxGap(cents: Array[Array[Double]], shift: Double): Double =
      (0 until 4).map { c =>
        val t = center(c, shift)
        cents.map(cc => math.sqrt(
          cc.zip(t).map { case (a, b) => (a - b) * (a - b) }.sum)).min
      }.max
    val skm = new StreamOps.StreamingKMeans(k = 4, decay = 0.5)
    val mem = MemoryStream[(Long, Seq[Double])]
    val query = mem.toDF().toDF("id", "vec")
      .writeStream.foreachBatch(skm.sink("id", "vec")).start()
    try {
      mem.addData(wave(0, 0.0): _*); query.processAllAvailable()
      assert(maxGap(skm.centroids, 0.0) < 0.25,
        s"seeded centroids off the planted centers: ${maxGap(skm.centroids, 0.0)}")
      // concept drift: all four centers shift +0.6 along dim 0; with λ=0.5
      // two decayed waves bring every centroid within noise of the new spot
      mem.addData(wave(1, 0.6): _*); query.processAllAvailable()
      mem.addData(wave(2, 0.6): _*); query.processAllAvailable()
      assert(maxGap(skm.centroids, 0.6) < 0.25,
        s"centroids failed to track the drift: ${maxGap(skm.centroids, 0.6)}")
    } finally query.stop()
  }

  test("streaming ingest appends into the persisted IVF index; " +
    "vectors from later micro-batches are retrievable (recall@10 >= 0.9)") {
    import graft.operators.{AnnIndex, Similarity}
    def mix(a: Long, b: Long): Double =
      (Math.floorMod(a * 2654435761L + b * 40503L + 12345L, 100000L)
        .toDouble / 100000.0 - 0.5) * 2.0
    // 8 separated clusters in R^16; the first 15 points of each cluster are
    // the build-time corpus, the remaining 25 arrive as two micro-batches.
    def pt(c: Int, p: Int): (Long, Seq[Double]) = {
      val id = (c * 40 + p).toLong
      (id, (0 until 16).map(i => mix(c * 31L + 7, i) + 0.1 * mix(id * 131L + 3, i)))
    }
    val initial = (for (c <- 0 until 8; p <- 0 until 15) yield pt(c, p))
      .toDF("vec_id", "embedding")
    val batch1 = for (c <- 0 until 8; p <- 15 until 28) yield pt(c, p)
    val batch2 = for (c <- 0 until 8; p <- 28 until 40) yield pt(c, p)

    val dir = AnnIndex.ivfIndexDir(initial, "mem://stream_append_spec",
      "vec_id", "embedding", nlist = 8, iters = 3, seed = 42L,
      variant = "stream_v2") // v2: fresh dir after the pre-marker append format
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Double])]
    val query = mem.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch(AnnIndex.ivfAppender(spark, dir, "vec_id", "embedding"))
      .start()
    try {
      mem.addData(batch1: _*); query.processAllAvailable()
      mem.addData(batch2: _*); query.processAllAvailable()
    } finally query.stop()

    // Ground truth over the FULL corpus (built + both ingested batches): the
    // exact top-10 of each cluster center is dominated by late-arriving
    // points, so recall requires the appended rows to be found in the index.
    val full = (for (c <- 0 until 8; p <- 0 until 40) yield pt(c, p))
      .toDF("vec_id", "embedding")
    val queries = full.filter($"vec_id" % 40 === 39) // ingested-in-batch-2 ids
    val exact = Similarity.bruteForceTopK(queries, full,
        "vec_id", "vec_id", "embedding", k = 10)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val got = AnnIndex.queryIvf(spark, dir, queries, "vec_id", "embedding",
        k = 10, nprobe = 2)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(got.contains).toDouble / exact.length
    assert(recall >= 0.9, s"post-append recall@10 $recall < 0.9")
  }

  test("streaming ingest appends PQ codes into the persisted IVF+PQ index; " +
    "later micro-batches retrievable through ADC + refine (recall@10 >= 0.9)") {
    import graft.operators.{AnnIndex, Similarity}
    def mix(a: Long, b: Long): Double =
      (Math.floorMod(a * 2654435761L + b * 40503L + 12345L, 100000L)
        .toDouble / 100000.0 - 0.5) * 2.0
    def pt(c: Int, p: Int): (Long, Seq[Double]) = {
      val id = (c * 40 + p).toLong
      (id, (0 until 16).map(i => mix(c * 31L + 7, i) + 0.1 * mix(id * 131L + 3, i)))
    }
    val initial = (for (c <- 0 until 8; p <- 0 until 15) yield pt(c, p))
      .toDF("vec_id", "embedding")
    val batch1 = for (c <- 0 until 8; p <- 15 until 28) yield pt(c, p)
    val batch2 = for (c <- 0 until 8; p <- 28 until 40) yield pt(c, p)

    val dir = AnnIndex.ivfPqIndexDir(initial, "mem://stream_pq_append_spec",
      "vec_id", "embedding", nlist = 8, m = 8, ksub = 16, iters = 3,
      seed = 42L, variant = "stream_pq_v1")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Double])]
    val query = mem.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch(AnnIndex.ivfPqAppender(spark, dir, "vec_id", "embedding"))
      .start()
    try {
      mem.addData(batch1: _*); query.processAllAvailable()
      mem.addData(batch2: _*); query.processAllAvailable()
    } finally query.stop()

    val full = (for (c <- 0 until 8; p <- 0 until 40) yield pt(c, p))
      .toDF("vec_id", "embedding")
    val queries = full.filter($"vec_id" % 40 === 39) // ingested-in-batch-2 ids
    val exact = Similarity.bruteForceTopK(queries, full,
        "vec_id", "vec_id", "embedding", k = 10)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    // refine reads raw vectors from the caller-maintained corpus (built +
    // ingested), the index itself holds only codes
    val got = AnnIndex.queryIvfPq(spark, dir, full, queries, "vec_id",
        "vec_id", "embedding", k = 10, nprobe = 2, rerank = 40)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(got.contains).toDouble / exact.length
    assert(recall >= 0.9, s"post-append PQ recall@10 $recall < 0.9")
  }

  test("fingerprint store: ingest dedup drops corpus-history, in-batch, and cross-batch dups") {
    import graft.operators.FingerprintStore
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fpstore").toString
    // "yesterday's corpus": doc text that must never be re-admitted
    FingerprintStore.seed(
      Seq((100L, "seen before")).toDF("doc_id", "text"), "text", dir)
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val sink = FingerprintStore.dedupSink(spark, dir, "doc_id", "text",
      streamTag = "run1") { df =>
      got ++= df.select("doc_id").collect().map(_.getLong(0))
    }
    val query = mem.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(sink).start()
    try {
      // 2 dups of history, an in-batch dup pair (min id 1 survives)
      mem.addData((1L, "fresh one"), (2L, "seen before"), (3L, "fresh one"))
      query.processAllAvailable()
      // cross-batch dup of id 1's text + one genuinely new doc, delivered
      // twice byte-identically (the foreachBatch replay shape)
      mem.addData((4L, "fresh one"), (5L, "another new"), (5L, "another new"))
      query.processAllAvailable()
    } finally query.stop()
    assert(got.sorted.toSeq == Seq(1L, 5L), got.mkString(","))
    // a restarted sink reloads the persisted sidecars: same history applies
    val got2 = scala.collection.mutable.ArrayBuffer[Long]()
    val sink2 = FingerprintStore.dedupSink(spark, dir, "doc_id", "text",
      streamTag = "run2") { df =>
      got2 ++= df.select("doc_id").collect().map(_.getLong(0))
    }
    val mem2 = MemoryStream[(Long, String)]
    val q2 = mem2.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(sink2).start()
    try {
      mem2.addData((6L, "another new"), (7L, "brand new"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(got2.sorted.toSeq == Seq(7L), got2.mkString(","))

    // compact: sidecars fold to one, the fps table rewrites one file per
    // shard — and a fresh sink over the compacted store must still reject
    // every text it has ever admitted and admit genuinely new ones
    assert(FingerprintStore.bloomCount(spark, dir) >= 3,
      "seed + two committed epochs should have left >= 3 sidecars")
    FingerprintStore.compact(spark, dir)
    assert(FingerprintStore.bloomCount(spark, dir) == 1)
    val got3 = scala.collection.mutable.ArrayBuffer[Long]()
    val sink3 = FingerprintStore.dedupSink(spark, dir, "doc_id", "text",
      streamTag = "run3") { df =>
      got3 ++= df.select("doc_id").collect().map(_.getLong(0))
    }
    val mem3 = MemoryStream[(Long, String)]
    val q3 = mem3.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(sink3).start()
    try {
      mem3.addData((8L, "seen before"), (9L, "fresh one"),
        (10L, "brand new"), (11L, "post compact"))
      q3.processAllAvailable()
    } finally q3.stop()
    assert(got3.sorted.toSeq == Seq(11L), got3.mkString(","))
    // idempotent: a second compact preserves behavior
    FingerprintStore.compact(spark, dir)
    assert(FingerprintStore.bloomCount(spark, dir) == 1)
  }

  test("fingerprint store: mostly-duplicate replay batch dedups without a driver round-trip blowup") {
    // The backlog re-delivery shape: a batch where EVERY row Bloom-screens
    // as a candidate (all but a handful are true history dups). The verify
    // path must be the shard-pruned semi/anti join pipeline — correctness
    // here pins that a batch-sized candidate set flows through joins, with
    // the only driver materialization being the <=256-row shard list.
    import graft.operators.FingerprintStore
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fpstore_replay").toString
    val history = (0 until 500).map(i => (i.toLong, s"historical doc $i"))
    FingerprintStore.seed(history.toDF("doc_id", "text"), "text", dir)
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val sink = FingerprintStore.dedupSink(spark, dir, "doc_id", "text",
      streamTag = "replay") { df =>
      got ++= df.select("doc_id").collect().map(_.getLong(0))
    }
    val mem = MemoryStream[(Long, String)]
    val query = mem.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(sink).start()
    try {
      // 500 re-delivered history docs (new ids, same text) + 3 fresh docs:
      // every history row is a TRUE Bloom positive, so candidates == batch
      val replay = history.map { case (i, t) => (1000L + i, t) }
      mem.addData(replay ++ Seq(
        (2000L, "genuinely new A"), (2001L, "genuinely new B"),
        (2002L, "genuinely new C")): _*)
      query.processAllAvailable()
      // second wave: re-deliver the fresh docs too (cross-batch dup) plus
      // one more new doc — candidates again ~= batch
      mem.addData(
        (3000L, "genuinely new A"), (3001L, "genuinely new B"),
        (3002L, "genuinely new C"), (3003L, "late arrival"))
      query.processAllAvailable()
    } finally query.stop()
    assert(got.sorted.toSeq == Seq(2000L, 2001L, 2002L, 3003L),
      s"only the 4 fresh texts may survive: ${got.sorted.mkString(",")}")
    // the store grew by exactly the 4 admitted fingerprints
    val fps = FingerprintStore.read(spark, dir).select("fp").collect()
      .map(_.getLong(0))
    assert(fps.length == 504 && fps.distinct.length == 504,
      s"store must hold 500 history + 4 admitted distinct fps, got ${fps.length}")
  }

  test("fingerprint store: compaction interleaved with a live appender stream loses nothing") {
    import graft.operators.FingerprintStore
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("fpstore_race").toString
    FingerprintStore.seed(
      Seq((0L, "from history")).toDF("doc_id", "text"), "text", dir)
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val sink = FingerprintStore.dedupSink(spark, dir, "doc_id", "text",
      streamTag = "race") { df =>
      got ++= df.select("doc_id").collect().map(_.getLong(0))
    }
    val mem = MemoryStream[(Long, String)]
    val query = mem.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(sink).start()
    try {
      mem.addData((1L, "first epoch doc"), (2L, "from history"))
      query.processAllAvailable()
      // compact BETWEEN epochs of the still-active stream (the single-writer
      // contract forbids racing an in-flight epoch, not a live query): the
      // sink's in-memory Bloom list and the on-disk state must both stay
      // sound across the swap
      FingerprintStore.compact(spark, dir)
      assert(FingerprintStore.bloomCount(spark, dir) == 1)
      mem.addData((3L, "first epoch doc"), (4L, "post compact doc"))
      query.processAllAvailable()
      // second compact with one more epoch after it
      FingerprintStore.compact(spark, dir)
      mem.addData((5L, "post compact doc"), (6L, "late doc"))
      query.processAllAvailable()
    } finally query.stop()
    assert(got.sorted.toSeq == Seq(1L, 4L, 6L), got.mkString(","))
    // no fingerprint lost or duplicated across the swaps: the store holds
    // exactly the distinct admitted texts (history + the three survivors)
    val fps = FingerprintStore.read(spark, dir).select("fp").collect()
      .map(_.getLong(0))
    assert(fps.length == 4 && fps.distinct.length == 4, fps.mkString(","))
    // a restarted sink over the compacted store sees the same history
    val got2 = scala.collection.mutable.ArrayBuffer[Long]()
    val sink2 = FingerprintStore.dedupSink(spark, dir, "doc_id", "text",
      streamTag = "race2") { df =>
      got2 ++= df.select("doc_id").collect().map(_.getLong(0))
    }
    val mem2 = MemoryStream[(Long, String)]
    val q2 = mem2.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(sink2).start()
    try {
      mem2.addData((7L, "late doc"), (8L, "from history"), (9L, "never seen"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(got2.sorted.toSeq == Seq(9L), got2.mkString(","))
  }

  test("ivf index: compaction interleaved with a live appender keeps every appended row") {
    import graft.operators.AnnIndex
    implicit val sqlCtx = spark.sqlContext
    def mix(a: Long, b: Long): Double =
      (Math.floorMod(a * 2654435761L + b * 40503L + 12345L, 100000L)
        .toDouble / 100000.0 - 0.5) * 2.0
    def pt(c: Int, p: Int): (Long, Seq[Double]) = {
      val id = (c * 60 + p).toLong
      (id, (0 until 8).map(i => mix(c * 31L + 7, i) + 0.1 * mix(id * 131L + 3, i)))
    }
    val initial = (for (c <- 0 until 4; p <- 0 until 10) yield pt(c, p))
      .toDF("vec_id", "embedding")
    val dir = AnnIndex.ivfIndexDir(initial, "mem://compact_race_spec",
      "vec_id", "embedding", nlist = 4, iters = 2, seed = 42L,
      variant = "race_v1")
    val mem = MemoryStream[(Long, Seq[Double])]
    val query = mem.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch(AnnIndex.ivfAppender(spark, dir, "vec_id", "embedding"))
      .start()
    try {
      mem.addData((for (c <- 0 until 4; p <- 10 until 20) yield pt(c, p)): _*)
      query.processAllAvailable()
      val filesBefore = AnnIndex.listFileCount(spark, dir)
      AnnIndex.compact(spark, dir) // between epochs of the live stream
      assert(AnnIndex.listFileCount(spark, dir) <= filesBefore)
      mem.addData((for (c <- 0 until 4; p <- 20 until 30) yield pt(c, p)): _*)
      query.processAllAvailable()
    } finally query.stop()
    // every row from the build + both epochs (one pre-, one post-compact)
    // is present exactly once
    val ids = AnnIndex.read(spark, dir).select("cid").collect()
      .map(_.getLong(0))
    val expected = (for (c <- 0 until 4; p <- 0 until 30) yield (c * 60 + p).toLong)
    assert(ids.length == expected.length && ids.toSet == expected.toSet,
      s"${ids.length} rows, ${ids.distinct.length} distinct, want ${expected.length}")
    // and the compacted + appended index still answers queries over both epochs
    val queries = (for (c <- 0 until 4) yield pt(c, 29)).toDF("vec_id", "embedding")
    val got = AnnIndex.queryIvf(spark, dir, queries, "vec_id", "embedding",
        k = 5, nprobe = 2)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.groupBy(_._1).size == 4 &&
      queries.collect().forall(r => got.contains((r.getLong(0), r.getLong(0)))),
      s"each query vector must retrieve itself: ${got.mkString(",")}")
  }

  test("streaming prep front door: quality gate + watermark dedup compose on a stream") {
    import graft.functions.TextFns
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val good = ("worker value " * 15).trim                 // 30 tokens, len-5/5 words
    val bad = "tiny doc"                                   // fails the n_tokens >= 20 gate
    // the batch quality expressions run unchanged on the stream (stateless
    // projection), feeding the stateful watermark dedup — the ingest shape of
    // the pipeline_prep front stages
    val docs = mem.toDF().toDF("ts", "doc_id", "text")
    val gated = StreamOps.dedupWithinWatermark(docs, "doc_id", "10 minutes")
      .withColumn("n_tokens", TextFns.tokenCount(col("text")))
      .withColumn("quality_ok", col("n_tokens") >= 20)
    val query = gated.writeStream.format("memory").queryName("prep_stream")
      .outputMode("append").start()
    try {
      mem.addData((ts(1), 1L, good), (ts(1), 2L, bad))
      query.processAllAvailable()
      mem.addData((ts(2), 1L, good), (ts(3), 3L, good)) // id 1 re-delivered
      query.processAllAvailable()
    } finally query.stop()
    val rows = spark.table("prep_stream")
      .select("doc_id", "quality_ok").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((1L, true), (2L, false), (3L, true)), rows.mkString(","))
  }

  test("ingest gate quarantines low-affinity and low-quality docs across micro-batches") {
    import graft.operators.Dsir
    import graft.streaming.IngestGate
    implicit val sqlCtx = spark.sqlContext
    def w(v: String, i: Int) = f"$v${i % 40}%02d"
    // 24 distinct ~7-char words per doc: clears every quality threshold
    def doc(v: String, salt: Int) = (0 until 24).map(i => w(v, salt + i)).mkString(" ")
    // reference corpus: alpha-vocab docs are the target domain, beta-vocab the raw pool
    val ref = ((0 until 20).map(i => (i.toLong, doc("alpha", i), true)) ++
        (0 until 20).map(i => (100L + i, doc("beta", i), false)))
      .toDF("doc_id", "text", "is_target")
    val stats = Dsir.bucketStats(ref, "doc_id", "text", col("is_target"))
    val gate = new IngestGate(stats, minAffinity = 2.0)
    val accepted = scala.collection.mutable.ArrayBuffer[Long]()
    val rejected = scala.collection.mutable.Map[Long, (Boolean, Boolean)]()
    val mem = MemoryStream[(Long, String)]
    val query = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(gate.sink("doc_id", "text") { df =>
        accepted ++= df.select("doc_id").collect().map(_.getLong(0))
      } { df =>
        // quarantined rows keep their audit columns: which arm rejected them
        df.select(col("doc_id"), coalesce(col("affinity") >= 2.0, lit(false)),
            coalesce(col("quality_ok"), lit(false))).collect()
          .foreach(r => rejected(r.getLong(0)) = (r.getBoolean(1), r.getBoolean(2)))
      })
      .start()
    // doc 3: on-domain words but one dominant unigram — quality-only reject
    val spammy = ((w("alpha", 0) + " " + w("alpha", 1) + " ") * 15).trim
    try {
      mem.addData((1L, doc("alpha", 3)), (2L, doc("beta", 5)), (3L, spammy))
      query.processAllAvailable()
      mem.addData((4L, doc("alpha", 9)), (5L, "tiny doc"))
      query.processAllAvailable()
    } finally query.stop()
    assert(accepted.sorted.toSeq == Seq(1L, 4L), accepted.mkString(","))
    assert(rejected.keySet == Set(2L, 3L, 5L), rejected.toString)
    val (aff2, q2) = rejected(2L)
    assert(!aff2 && q2, s"doc 2 must fail affinity only: $rejected") // off-domain, clean text
    val (aff3, q3) = rejected(3L)
    assert(aff3 && !q3, s"doc 3 must fail quality only: $rejected")  // on-domain, spammy
    assert(rejected(5L)._2 == false, s"doc 5 must fail quality: $rejected")
  }

  test("full front door: gate -> fingerprint store as one foreachBatch chain") {
    import graft.operators.{Dsir, FingerprintStore}
    import graft.streaming.IngestGate
    implicit val sqlCtx = spark.sqlContext
    def w(v: String, i: Int) = f"$v${i % 40}%02d"
    def doc(v: String, salt: Int) = (0 until 24).map(i => w(v, salt + i)).mkString(" ")
    val ref = ((0 until 20).map(i => (i.toLong, doc("alpha", i), true)) ++
        (0 until 20).map(i => (100L + i, doc("beta", i), false)))
      .toDF("doc_id", "text", "is_target")
    val gate = new IngestGate(
      Dsir.bucketStats(ref, "doc_id", "text", col("is_target")), minAffinity = 2.0)
    val dir = java.nio.file.Files.createTempDirectory("frontdoor").toString
    val stored = scala.collection.mutable.ArrayBuffer[Long]()
    val quarantined = scala.collection.mutable.ArrayBuffer[Long]()
    val fpSink = FingerprintStore.dedupSink(spark, dir, "doc_id", "text",
      streamTag = "door") { df =>
      stored ++= df.select("doc_id").collect().map(_.getLong(0))
    }
    val mem = MemoryStream[(Long, String)]
    val query = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(gate.sinkEpoch("doc_id", "text")(fpSink) { (df, _) =>
        quarantined ++= df.select("doc_id").collect().map(_.getLong(0))
      })
      .start()
    try {
      // batch 1: two byte-identical on-domain docs (store keeps min id),
      // one off-domain doc (gate quarantines it before the store sees it)
      mem.addData((1L, doc("alpha", 4)), (2L, doc("alpha", 4)), (3L, doc("beta", 7)))
      query.processAllAvailable()
      // batch 2: cross-batch re-delivery of the admitted text (store drops
      // it) + one genuinely new on-domain doc
      mem.addData((4L, doc("alpha", 4)), (5L, doc("alpha", 11)))
      query.processAllAvailable()
    } finally query.stop()
    assert(stored.sorted.toSeq == Seq(1L, 5L),
      s"store should hold min-id first-seen admitted docs: ${stored.mkString(",")}")
    assert(quarantined.sorted.toSeq == Seq(3L),
      s"gate should quarantine the off-domain doc: ${quarantined.mkString(",")}")
  }

  test("refit hook: gate stream publishes epoch-tagged model versions, " +
    "old version evicted, replayed epochs are no-ops") {
    import graft.operators.Dsir
    import graft.streaming.{IngestGate, ModelRefit}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def w(v: String, i: Int) = f"$v${i % 40}%02d"
    def doc(v: String, salt: Int) =
      (0 until 24).map(i => w(v, salt + i)).mkString(" ")
    // a later-vocabulary doc: on-domain alpha words + four DISTINCT q-blob
    // words the v0 tokenizer has never seen (distinct so the quality gate's
    // top-unigram / dup-bigram ratios stay clean; still passes affinity:
    // 4 unknown bigrams against ~20 strongly-target ones)
    def qdoc(salt: Int) =
      (0 until 20).map(i => w("alpha", salt + i)).mkString(" ") +
        " qqqqqqqa qqqqqqqb qqqqqqqc qqqqqqqd"
    val ref = ((0 until 20).map(i => (i.toLong, doc("alpha", i), true)) ++
        (0 until 20).map(i => (100L + i, doc("beta", i), false)))
      .toDF("doc_id", "text", "is_target")
    val gate = new IngestGate(
      Dsir.bucketStats(ref, "doc_id", "text", col("is_target")),
      minAffinity = 2.0)
    val corpusDir = java.nio.file.Files.createTempDirectory("refit").toString +
      "/corpus"
    val refit = new ModelRefit[graft.functions.Bpe.Model]("bpe_live",
      refitEvery = 2)((s, _) =>
      graft.functions.Bpe.train(s.read.parquet(corpusDir), "text",
        numMerges = 30, minCount = 2, maxWords = 10000))
    val sink = gate.sinkEpoch("doc_id", "text")({ (df, e) =>
      df.write.mode("append").parquet(corpusDir)
      refit.onEpoch(spark, e)
    })((_, _) => ())
    val mem = MemoryStream[(Long, String)]
    val query = mem.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(sink).start()
    try {
      // epoch 0: pure-alpha corpus → version 0 fits on it (async: drain
      // the worker before asserting the publish)
      mem.addData((1L, doc("alpha", 1)), (2L, doc("alpha", 5)),
        (3L, doc("alpha", 9)))
      query.processAllAvailable()
      refit.awaitRefits()
      assert(refit.currentVersion == 0L)
      val v0 = refit.current(spark)
      assert(v0.encodeWord("qqqqqqqa").length == 8,
        "v0 trained before any q-doc: the q-blob must stay char-split")
      // epoch 1: q-docs land but no refit boundary → still version 0
      mem.addData((11L, qdoc(2)), (12L, qdoc(6)), (13L, qdoc(10)))
      query.processAllAvailable()
      assert(refit.currentVersion == 0L && (refit.current(spark) eq v0),
        "between boundaries consumers keep the published version")
      // epoch 2: refit boundary → version 2 trains on the grown corpus,
      // and the new model has learned the q vocabulary. Keep-last-two
      // eviction: v0 stays memoized alongside v2 (the read-race guard).
      mem.addData((21L, qdoc(3)), (22L, qdoc(7)), (23L, qdoc(11)))
      query.processAllAvailable()
      refit.awaitRefits()
      assert(refit.currentVersion == 2L, "boundary epoch must publish")
      assert(refit.liveVersions == 2,
        "current + immediately superseded stay live (read-race guard)")
      val v2 = refit.current(spark)
      assert(v2 ne v0)
      assert(v2.encodeWord("qqqqqqqa").length < 8,
        "refit corpus holds the q vocabulary: the tokenizer must merge them")
      // epochs 3-4: the next boundary publishes v4 and drops v0 (k-2) —
      // live versions stay bounded at two on an unbounded stream
      mem.addData((31L, doc("alpha", 17)))
      query.processAllAvailable()
      mem.addData((32L, doc("alpha", 21)))
      query.processAllAvailable()
      refit.awaitRefits()
      assert(refit.currentVersion == 4L)
      assert(refit.liveVersions == 2,
        "publishing k drops k-2: O(1) live versions on an unbounded stream")
    } finally query.stop()
    // replayed epoch (fresh stream, same hook): epoch ids restart at 0,
    // all ≤ published version → version must NOT regress
    val sink2 = gate.sinkEpoch("doc_id", "text")({ (df, e) =>
      refit.onEpoch(spark, e)
    })((_, _) => ())
    val mem2 = MemoryStream[(Long, String)]
    val q2 = mem2.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(sink2).start()
    try {
      mem2.addData((31L, doc("alpha", 13)))
      q2.processAllAvailable()
    } finally q2.stop()
    refit.awaitRefits()
    assert(refit.currentVersion == 4L && refit.liveVersions == 2,
      "replayed/old epochs must never regress the published version")
  }

  test("refit hook: a slow fit never stalls ingest epochs, publishes only when " +
    "it lands, and queued boundary requests collapse to the newest") {
    import graft.streaming.ModelRefit
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val fitStarted = new java.util.concurrent.CountDownLatch(1)
    val fitGate = new java.util.concurrent.CountDownLatch(1)
    val trained = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    val refit = new ModelRefit[String]("slow_fit", refitEvery = 1)((_, v) => {
      trained.add(v)
      fitStarted.countDown()
      require(fitGate.await(60, java.util.concurrent.TimeUnit.SECONDS))
      s"model-v$v"
    })
    val mem = MemoryStream[Long]
    var epochsDone = 0
    val q = mem.toDF().writeStream.foreachBatch {
      (df: org.apache.spark.sql.DataFrame, e: Long) =>
        df.count(); refit.onEpoch(spark, e); epochsDone += 1
    }.start()
    try {
      mem.addData(1L); q.processAllAvailable() // epoch 0: refit requested
      require(fitStarted.await(60, java.util.concurrent.TimeUnit.SECONDS))
      // the v0 fit is now BLOCKED in flight — ingest must keep completing
      mem.addData(2L); q.processAllAvailable()
      mem.addData(3L); q.processAllAvailable()
      assert(epochsDone == 3,
        "ingest epochs must complete while the refit trains off the hot path")
      assert(refit.currentVersion == -1L,
        "nothing publishes until the fit lands")
      assert(refit.refitInFlight)
      fitGate.countDown()
      refit.awaitRefits()
      // epochs 1 and 2 both hit the boundary while v0 trained: the requests
      // collapse — v2 trains next, v1 NEVER exists
      assert(refit.currentVersion == 2L, s"trained=${trained}")
      assert(trained.toArray.toSeq == Seq(0L, 2L),
        s"superseded request must collapse, got ${trained}")
      assert(refit.current(spark) == "model-v2")
    } finally q.stop()
  }

  test("refit hook: a failing fit poisons the hook loudly — one attempt, " +
    "no background hot-retry loop, the next epoch rethrows") {
    import graft.streaming.ModelRefit
    val fits = new java.util.concurrent.atomic.AtomicInteger(0)
    val refit = new ModelRefit[String]("poison_fit", refitEvery = 1)((_, v) => {
      fits.incrementAndGet()
      sys.error(s"broken training data for v$v")
    })
    refit.onEpoch(spark, 0L) // requests v0; the worker fit throws
    // the failure surfaces on awaitRefits instead of spinning forever
    val exAwait = intercept[IllegalStateException](refit.awaitRefits())
    assert(exAwait.getCause.getMessage.contains("broken training data"),
      exAwait.toString)
    // the next ingest epoch fails the stream loudly (the synchronous-fit
    // contract), and a pre-publish consumer cannot get a model either
    val exEpoch = intercept[IllegalStateException](refit.onEpoch(spark, 1L))
    assert(exEpoch.getMessage.contains("poison_fit"), exEpoch.getMessage)
    intercept[IllegalStateException](refit.current(spark))
    // exactly ONE training attempt ever ran: the finally-block re-arm must
    // not respin the same failing fit as an unbounded background loop
    Thread.sleep(200)
    assert(fits.get() == 1, s"failing fit must not hot-loop: ${fits.get()}")
    assert(refit.currentVersion == -1L, "a failed fit never publishes")
  }

  test("refit hook: the first consumer's v0 fit runs on the worker — a " +
    "concurrent boundary request never double-trains v0") {
    import graft.streaming.ModelRefit
    val fitStarted = new java.util.concurrent.CountDownLatch(1)
    val fitGate = new java.util.concurrent.CountDownLatch(1)
    val trained = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    val refit = new ModelRefit[String]("v0_race", refitEvery = 1)((_, v) => {
      trained.add(v)
      fitStarted.countDown()
      require(fitGate.await(60, java.util.concurrent.TimeUnit.SECONDS))
      s"model-v$v"
    })
    // the ingest side requests v0 and the worker starts training it
    refit.onEpoch(spark, 0L)
    require(fitStarted.await(60, java.util.concurrent.TimeUnit.SECONDS))
    // a consumer arrives MID-FIT: it must wait for the worker's publish,
    // not fit its own v0 inline against a possibly-grown corpus
    val got = new java.util.concurrent.atomic.AtomicReference[String]()
    val consumer = new Thread(() => got.set(refit.current(spark)))
    consumer.start()
    Thread.sleep(100)
    assert(got.get() == null, "the consumer must block until v0 publishes")
    fitGate.countDown()
    consumer.join(60000)
    assert(got.get() == "model-v0")
    assert(trained.toArray.toSeq == Seq(0L),
      s"v0 must train exactly once, got $trained")
    // and a COLD consumer with no request in flight also routes through
    // the worker: one more fit total, not an inline duplicate
    val refit2 = new ModelRefit[String]("v0_cold", refitEvery = 1)((_, v) =>
      s"cold-v$v")
    assert(refit2.current(spark) == "cold-v0")
    assert(refit2.currentVersion == 0L,
      "the first-consumer fit must publish v0 through the worker")
  }

  test("refit hook: the first-consumer v0 wait uses its own generous bound, " +
    "not the 2-minute awaitRefits maintenance default") {
    import graft.streaming.ModelRefit
    // the default bound must comfortably exceed the awaitRefits default: a
    // slow-but-healthy first full-corpus fit is not a stream failure
    assert(ModelRefit.FirstFitTimeoutMs > 120000L)
    // the bound is plumbed: a deployment's own (here: tiny) bound trips the
    // in-flight require instead of waiting forever on a stuck fit
    val refit = new ModelRefit[String]("v0_deadline", refitEvery = 1,
      firstFitTimeoutMs = 100L)((_, v) => {
      Thread.sleep(2000); s"slow-v$v"
    })
    val ex = intercept[IllegalArgumentException] { refit.current(spark) }
    assert(ex.getMessage.contains("in flight"), ex.getMessage)
    // the fit itself is healthy: once it lands, the consumer gets v0
    refit.awaitRefits(30000L)
    assert(refit.current(spark) == "slow-v0")
  }

  test("refit hook: a restarted hook resumes the persisted version without refitting") {
    import graft.functions.Bpe
    import graft.streaming.ModelRefit
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("refit_store").toString
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // merges persist as parquet rows (the ModelIO relational discipline),
    // one dir per version, published by rename — loadLatest only ever sees
    // fully written versions
    def save(m: Bpe.Model, v: Long): Unit = {
      val tmp = s"$root/.v$v.tmp"
      m.merges.toSeq.zipWithIndex
        .map { case ((a, b), i) => (i, a, b) }
        .toDF("rank", "left", "right")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      require(fs.rename(new org.apache.hadoop.fs.Path(tmp),
        new org.apache.hadoop.fs.Path(s"$root/v$v")))
    }
    def loadLatest(): Option[(Long, Bpe.Model)] = {
      val vs = fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .map(_.getPath.getName).filter(_.matches("v\\d+")).map(_.drop(1).toLong)
      if (vs.isEmpty) None
      else {
        val v = vs.max
        val merges = spark.read.parquet(s"$root/v$v").orderBy("rank")
          .collect().map(r => (r.getString(1), r.getString(2)))
        Some((v, Bpe.Model(merges)))
      }
    }
    val store = ModelRefit.Store[Bpe.Model](save, () => loadLatest())
    var corpus = Seq((0L, "aa aa aa bb bb")).toDF("doc_id", "text")
    var fits = 0
    val hookA = new ModelRefit[Bpe.Model]("bpe_dur", refitEvery = 2,
      Some(store))((_, _) => { fits += 1
        Bpe.train(corpus, "text", numMerges = 5, minCount = 2, maxWords = 100) })
    hookA.onEpoch(spark, 0)
    hookA.awaitRefits() // v0 must train on the PRE-growth corpus
    corpus = corpus.unionByName(
      Seq((1L, "cccc cccc cccc dd dd")).toDF("doc_id", "text"))
    hookA.onEpoch(spark, 1) // not a boundary
    hookA.onEpoch(spark, 2) // boundary: v2 trains on the grown corpus + saves
    hookA.awaitRefits()
    assert(fits == 2 && hookA.currentVersion == 2L)
    val v2Merges = hookA.current(spark).merges.toSeq
    assert(v2Merges.contains(("c", "c")), s"v2 must know the epoch-1 vocab: $v2Merges")
    // "driver restart": a fresh hook over the same store must resume v2
    // from BYTES — the poison fit proves no retrain happens (a refit here
    // would silently move v2's semantics onto rows it never saw)
    val hookB = new ModelRefit[Bpe.Model]("bpe_dur", refitEvery = 2,
      Some(store))((_, _) => sys.error("resume must not refit"))
    assert(hookB.currentVersion == 2L, "restart must resume the saved version tag")
    assert(hookB.current(spark).merges.toSeq == v2Merges,
      "resumed model must be the persisted bytes, bit-identical")
    // replayed epochs on the restarted hook stay no-ops
    hookB.onEpoch(spark, 0); hookB.onEpoch(spark, 2)
    assert(hookB.currentVersion == 2L)
  }

  test("crash replay: gate -> fp store -> ivf appender recovers bit-identical stores") {
    // The composed front door under failure: a checkpointed file-source query
    // crashes at three different points (before the store chain ran; after
    // the IVF append but before the fingerprint write; after every store
    // committed but before the epoch did) and restarts from the checkpoint
    // each time. Exactly-once contract: final store CONTENT matches an
    // uncrashed run of the same input bit for bit — replayed epochs either
    // recompute identical survivors (nothing was persisted) or are skipped
    // wholesale by the epoch markers (everything was).
    import graft.operators.{AnnIndex, Dsir, FingerprintStore}
    import graft.streaming.IngestGate
    def w(v: String, i: Int) = f"$v${i % 40}%02d"
    def doc(v: String, salt: Int) = (0 until 24).map(i => w(v, salt + i)).mkString(" ")
    val ref = ((0 until 20).map(i => (i.toLong, doc("alpha", i), true)) ++
        (0 until 20).map(i => (100L + i, doc("beta", i), false)))
      .toDF("doc_id", "text", "is_target")
    // deterministic embedding per doc: the appended-vector side of the chain
    val embCol = transform(sequence(lit(0), lit(7)), i =>
      (pmod(col("doc_id") * 2654435761L + i.cast("long") * 40503L + 12345L,
        lit(100000L)).cast("double") / 100000.0 - 0.5) * 2.0)
    val epochs = Seq(
      Seq((1L, doc("alpha", 4)), (2L, doc("alpha", 4)), (3L, doc("beta", 7))),
      Seq((4L, doc("alpha", 11)), (5L, doc("alpha", 4)), (6L, doc("beta", 9))),
      Seq((7L, doc("alpha", 17)), (8L, doc("beta", 3)), (9L, doc("alpha", 11))))
    val initialVecs = (1000 until 1016).map { id =>
      (id.toLong, (0 until 8).map(i =>
        (Math.floorMod(id * 2654435761L + i * 40503L + 12345L, 100000L)
          .toDouble / 100000.0 - 0.5) * 2.0))
    }.toDF("doc_id", "embedding")

    def runScenario(tag: String, crashPlan: Set[String]):
        (String, String, Set[Long], Set[Long]) = {
      val inDir = java.nio.file.Files.createTempDirectory(s"cr_in_$tag").toFile
      epochs.zipWithIndex.foreach { case (rows, i) =>
        val f = new java.io.File(inDir, f"b$i%02d.json")
        val js = rows.map { case (id, t) =>
          s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n")
        java.nio.file.Files.write(f.toPath, js.getBytes("UTF-8"))
        f.setLastModified(1700000000000L + i * 60000L)
      }
      val ckpt = java.nio.file.Files.createTempDirectory(s"cr_ck_$tag").toString
      val fpDir = java.nio.file.Files.createTempDirectory(s"cr_fp_$tag").toString
      val ivfDir = AnnIndex.ivfIndexDir(initialVecs, s"mem://crash_spec_$tag",
        "doc_id", "embedding", nlist = 4, iters = 2, seed = 42L,
        variant = s"crash_$tag")
      val crashed = scala.collection.mutable.Set[String]()
      def crashPoint(p: String): Unit =
        if (crashPlan.contains(p) && crashed.add(p))
          throw new RuntimeException(s"injected crash at $p")
      val accepted = scala.collection.mutable.Set[Long]()
      val quarantined = scala.collection.mutable.Set[Long]()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      var done = false
      var attempts = 0
      while (!done && attempts < 8) {
        attempts += 1
        // fresh gate + sinks per restart: blooms and stats reload from disk,
        // exactly like a recovered driver process
        val gate = new IngestGate(
          Dsir.bucketStats(ref, "doc_id", "text", col("is_target")),
          minAffinity = 2.0)
        val curEpoch = new java.util.concurrent.atomic.AtomicLong(-1L)
        val ivfApp = AnnIndex.ivfAppender(spark, ivfDir, "doc_id", "embedding")
        val fpSink = FingerprintStore.dedupSink(spark, fpDir, "doc_id", "text",
          streamTag = "cr") { df =>
          accepted ++= df.select("doc_id").collect().map(_.getLong(0))
          ivfApp(df.withColumn("embedding", embCol), curEpoch.get())
          crashPoint(s"after-ivf-${curEpoch.get()}")
        }
        val sink = gate.sinkEpoch("doc_id", "text")(
          { (df, e) => crashPoint(s"accept-entry-$e"); curEpoch.set(e); fpSink(df, e) })(
          { (df, e) =>
            crashPoint(s"quarantine-$e")
            quarantined ++= df.select("doc_id").collect().map(_.getLong(0)) })
        val query = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .json(inDir.getAbsolutePath)
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch(sink)
          .start()
        try { query.processAllAvailable(); done = true }
        catch { case _: Throwable => () }
        finally { try query.stop() catch { case _: Throwable => () } }
      }
      assert(done, s"$tag: stream never completed after $attempts attempts")
      (fpDir, ivfDir, accepted.toSet, quarantined.toSet)
    }

    val (fpC, ivfC, accC, quaC) = runScenario("crash", Set(
      "quarantine-0",   // every store + marker committed; epoch replays as no-op
      "accept-entry-1", // nothing persisted; epoch recomputes from scratch
      "after-ivf-2"))   // ivf rows + marker down, fp rows not yet
    val (fpN, ivfN, accN, quaN) = runScenario("clean", Set.empty)

    def fpRows(d: String) = graft.operators.FingerprintStore.read(spark, d)
      .select("fp", "shard").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).sorted.toSeq
    def listRows(d: String) = AnnIndex.read(spark, d)
      .select("cid", "list_id", "cvec").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
        r.getSeq[Double](2).toList)).sortBy(_._1).toSeq
    assert(fpRows(fpC) == fpRows(fpN),
      "fingerprint store must match the uncrashed run exactly")
    assert(fpRows(fpC).map(_._1).distinct.size == fpRows(fpC).size,
      "no fingerprint may be stored twice across replays")
    // lists dir = initial build + appended epochs; compare appended rows only
    val appC = listRows(ivfC).filter(_._1 < 1000L)
    val appN = listRows(ivfN).filter(_._1 < 1000L)
    assert(appC == appN, "ivf appends must match the uncrashed run exactly")
    assert(appC.map(_._1).distinct.size == appC.size,
      "no vector may be appended twice across replays")
    assert(accC == accN && quaC == quaN,
      s"admitted/quarantined sets must match: $accC vs $accN; $quaC vs $quaN")
    // sanity on the scenario itself: dups deduped, off-domain quarantined
    assert(accN == Set(1L, 4L, 7L), accN.toString)
    assert(quaN == Set(3L, 6L, 8L), quaN.toString)
  }

  test("full front door with signature screen: the one-token-changed re-crawl " +
    "passes the gate AND the fingerprint store but is rejected at the screen") {
    import graft.operators.{Dsir, FingerprintStore, SignatureStore}
    import graft.streaming.IngestGate
    implicit val sqlCtx = spark.sqlContext
    // 80-token vocab, ref salts 0..59: every bigram is covered (gate
    // affinity), and 24-token pages at salts 4/30/56 are pairwise DISJOINT
    // windows — genuinely-new pages share zero shingles with stored ones
    def w(v: String, i: Int) = f"$v${i % 80}%02d"
    def doc(v: String, salt: Int) =
      (0 until 24).map(i => w(v, salt + i)).mkString(" ")
    // the re-crawl: same page, ONE trailing token changed — different bytes
    // (fp store admits), 19/25 shared shingles (J=0.76, screen rejects)
    def recrawl(v: String, salt: Int) =
      (0 until 23).map(i => w(v, salt + i)).mkString(" ") + " " + w(v, salt + 40)
    val ref = ((0 until 60).map(i => (i.toLong, doc("alpha", i), true)) ++
        (0 until 60).map(i => (200L + i, doc("beta", i), false)))
      .toDF("doc_id", "text", "is_target")
    val gate = new IngestGate(
      Dsir.bucketStats(ref, "doc_id", "text", col("is_target")),
      minAffinity = 2.0)
    val fpDir = java.nio.file.Files.createTempDirectory("door_fp").toString
    val sigDir = java.nio.file.Files.createTempDirectory("door_sig").toString
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val pastFp = scala.collection.mutable.ArrayBuffer[Long]()
    val curEpoch = new java.util.concurrent.atomic.AtomicLong(-1L)
    val screen = SignatureStore.screenSink(spark, sigDir, "doc_id", "text",
      threshold = 0.45, streamTag = "door") { df =>
      admitted ++= df.select("doc_id").collect().map(_.getLong(0))
    }
    val fpSink = FingerprintStore.dedupSink(spark, fpDir, "doc_id", "text",
      streamTag = "door") { df =>
      pastFp ++= df.select("doc_id").collect().map(_.getLong(0))
      screen(df, curEpoch.get())
    }
    val mem = MemoryStream[(Long, String)]
    val query = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(gate.sinkEpoch("doc_id", "text")(
        { (df, e) => curEpoch.set(e); fpSink(df, e) })((_, _) => ()))
      .start()
    try {
      // epoch 0: first crawl of the page + an off-topic doc
      mem.addData((1L, doc("alpha", 4)), (2L, doc("beta", 7)))
      query.processAllAvailable()
      // epoch 1: byte-identical re-delivery (fp store's kill), the
      // one-token-changed re-crawl (screen's kill), and a genuinely new page
      mem.addData((3L, doc("alpha", 4)), (4L, recrawl("alpha", 4)),
        (5L, doc("alpha", 30)))
      query.processAllAvailable()
    } finally query.stop()
    assert(pastFp.sorted.toSeq == Seq(1L, 4L, 5L),
      s"fp store alone ADMITS the changed re-crawl: ${pastFp.mkString(",")}")
    assert(admitted.sorted.toSeq == Seq(1L, 5L),
      s"screen must reject the re-crawl the fp store admitted: " +
        admitted.mkString(","))
    // the store holds one signature per admitted doc, none for rejects
    val ids = SignatureStore.read(spark, sigDir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 5L), ids.mkString(","))
  }

  test("crash replay: gate -> fp store -> signature screen recovers " +
    "bit-identical stores and never self-matches a replayed epoch") {
    // Screen-specific crash windows on a checkpointed file-source query:
    //  - screen-out (survivors delivered, NOTHING persisted): the replay
    //    re-probes a store WITHOUT the epoch's own sigs — it must recompute
    //    the SAME nonempty survivor set, never self-match to empty;
    //  - accept-entry (nothing ran): plain whole-epoch replay;
    //  - quarantine (every store + marker committed): replay is a no-op.
    import graft.operators.{Dsir, FingerprintStore, SignatureStore}
    import graft.streaming.IngestGate
    // disjoint-window page design: see the front-door screen test above
    def w(v: String, i: Int) = f"$v${i % 80}%02d"
    def doc(v: String, salt: Int) =
      (0 until 24).map(i => w(v, salt + i)).mkString(" ")
    def recrawl(v: String, salt: Int) =
      (0 until 23).map(i => w(v, salt + i)).mkString(" ") + " " + w(v, salt + 40)
    val ref = ((0 until 60).map(i => (i.toLong, doc("alpha", i), true)) ++
        (0 until 60).map(i => (200L + i, doc("beta", i), false)))
      .toDF("doc_id", "text", "is_target")
    val epochs = Seq(
      Seq((1L, doc("alpha", 4)), (3L, doc("beta", 7))),
      Seq((4L, recrawl("alpha", 4)), (5L, doc("alpha", 30))),
      Seq((7L, doc("alpha", 56)), (9L, recrawl("alpha", 30))))

    def runScenario(tag: String, crashPlan: Set[String]):
        (String, String, Set[Long], Set[Long]) = {
      val inDir = java.nio.file.Files.createTempDirectory(s"scr_in_$tag").toFile
      epochs.zipWithIndex.foreach { case (rows, i) =>
        val f = new java.io.File(inDir, f"b$i%02d.json")
        val js = rows.map { case (id, t) =>
          s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n")
        java.nio.file.Files.write(f.toPath, js.getBytes("UTF-8"))
        f.setLastModified(1700000000000L + i * 60000L)
      }
      val ckpt = java.nio.file.Files.createTempDirectory(s"scr_ck_$tag").toString
      val fpDir = java.nio.file.Files.createTempDirectory(s"scr_fp_$tag").toString
      val sigDir = java.nio.file.Files.createTempDirectory(s"scr_sg_$tag").toString
      val crashed = scala.collection.mutable.Set[String]()
      def crashPoint(p: String): Unit =
        if (crashPlan.contains(p) && crashed.add(p))
          throw new RuntimeException(s"injected crash at $p")
      val admitted = scala.collection.mutable.Set[Long]()
      val quarantined = scala.collection.mutable.Set[Long]()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      var done = false
      var attempts = 0
      while (!done && attempts < 8) {
        attempts += 1
        // fresh gate + sinks per restart: blooms, heal sweeps, and stats
        // reload from disk, exactly like a recovered driver process
        val gate = new IngestGate(
          Dsir.bucketStats(ref, "doc_id", "text", col("is_target")),
          minAffinity = 2.0)
        val curEpoch = new java.util.concurrent.atomic.AtomicLong(-1L)
        val screen = SignatureStore.screenSink(spark, sigDir, "doc_id",
          "text", threshold = 0.45, streamTag = "cr") { df =>
          val ids = df.select("doc_id").collect().map(_.getLong(0))
          admitted ++= ids
          crashPoint(s"screen-out-${curEpoch.get()}")
        }
        val fpSink = FingerprintStore.dedupSink(spark, fpDir, "doc_id",
          "text", streamTag = "cr") { df =>
          screen(df, curEpoch.get())
        }
        val sink = gate.sinkEpoch("doc_id", "text")(
          { (df, e) =>
            crashPoint(s"accept-entry-$e"); curEpoch.set(e); fpSink(df, e) })(
          { (df, e) =>
            crashPoint(s"quarantine-$e")
            quarantined ++= df.select("doc_id").collect().map(_.getLong(0)) })
        val query = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .json(inDir.getAbsolutePath)
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch(sink)
          .start()
        try { query.processAllAvailable(); done = true }
        catch { case _: Throwable => () }
        finally { try query.stop() catch { case _: Throwable => () } }
      }
      assert(done, s"$tag: stream never completed after $attempts attempts")
      (fpDir, sigDir, admitted.toSet, quarantined.toSet)
    }

    val (fpC, sigC, accC, quaC) = runScenario("crash", Set(
      "quarantine-0",   // everything committed; epoch replays as no-op
      "accept-entry-1", // nothing persisted; epoch recomputes from scratch
      "screen-out-2"))  // survivors delivered, sigs staged nowhere: the
                        // self-match window — replay must re-admit 7
    val (fpN, sigN, accN, quaN) = runScenario("clean", Set.empty)

    def sigRows(d: String) = SignatureStore.read(spark, d)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    def fpRows(d: String) = graft.operators.FingerprintStore.read(spark, d)
      .select("fp").collect().map(_.getLong(0)).sorted.toSeq
    assert(sigRows(sigC) == sigRows(sigN),
      s"sig store must match the uncrashed run: ${sigRows(sigC)} vs ${sigRows(sigN)}")
    assert(sigRows(sigC).distinct.size == sigRows(sigC).size,
      "no id may hold two signature rows across replays")
    assert(fpRows(fpC) == fpRows(fpN),
      "fp store must match the uncrashed run exactly")
    assert(accC == accN && quaC == quaN,
      s"admitted/quarantined sets must match: $accC vs $accN")
    // scenario sanity: re-crawls 4 and 9 die at the screen, never stored
    assert(accN == Set(1L, 5L, 7L), accN.toString)
    assert(sigRows(sigN) == Seq(1L, 5L, 7L), sigRows(sigN).mkString(","))
  }

  test("screen out feeds a marker-protected downstream sink: the pre-marker " +
    "crash replay re-delivers survivors and the downstream store holds " +
    "exactly one copy") {
    // The executable form of screenSink's `out`-idempotence contract: `out`
    // runs BEFORE the screen's own marker commits, so a crash in that
    // window re-invokes `out` with identical survivors on replay. A
    // marker-protected downstream (here: a SignatureStore.appender on its
    // own store) absorbs the re-delivery; this pin makes the documented
    // contract a test instead of a comment.
    import graft.operators.SignatureStore
    val screenDir = java.nio.file.Files.createTempDirectory("scrout_s").toString
    val downDir = java.nio.file.Files.createTempDirectory("scrout_d").toString
    SignatureStore.seed(Seq(
      (0L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"), "doc_id", "text", screenDir)
    val down = SignatureStore.appender(spark, downDir, "doc_id", "text",
      streamTag = "dn")
    val curEpoch = new java.util.concurrent.atomic.AtomicLong(-1L)
    var crashArmed = true
    val outCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    def mkScreen() = SignatureStore.screenSink(spark, screenDir, "doc_id",
      "text", threshold = 0.4, streamTag = "sc") { df =>
      outCalls.incrementAndGet()
      down(df, curEpoch.get()) // downstream persists + its marker commits
      if (crashArmed) { crashArmed = false
        throw new RuntimeException("injected crash after out, before marker")
      }
    }
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // stored dup
      (11L, "fresh unrelated words nobody wrote before today anywhere"))
      .toDF("doc_id", "text")
    curEpoch.set(0L)
    intercept[RuntimeException] { mkScreen()(batch, 0L) }
    // downstream committed its epoch; the screen's marker never did
    assert(SignatureStore.read(spark, downDir).count() == 1)
    assert(SignatureStore.read(spark, screenDir).count() == 1,
      "the screen's own epoch must not have published")
    // replay (fresh sink per restart): out re-delivers the SAME survivors;
    // the downstream's marker makes the second delivery a no-op
    mkScreen()(batch, 0L)
    assert(outCalls.get() == 2, "the crash window must re-invoke out")
    val downIds = SignatureStore.read(spark, downDir).select("id")
      .collect().map(_.getLong(0)).toSeq
    assert(downIds == Seq(11L),
      s"downstream must hold exactly one copy of the survivor: $downIds")
    assert(SignatureStore.read(spark, screenDir).count() == 2,
      "the replayed screen epoch publishes once")
    // a re-delivery AFTER the marker is a no-op end to end
    mkScreen()(batch, 0L)
    assert(outCalls.get() == 2, "post-marker replay must not re-invoke out")
    assert(SignatureStore.read(spark, downDir).count() == 1)
  }

  test("full front door + refit hook in one foreachBatch: crash-replay " +
    "across a refit boundary keeps stores bit-identical and the version " +
    "monotone (replayed epoch <= published version refits nothing)") {
    import graft.operators.{Dsir, FingerprintStore, SignatureStore}
    import graft.streaming.{IngestGate, ModelRefit}
    def w(v: String, i: Int) = f"$v${i % 80}%02d"
    def doc(v: String, salt: Int) =
      (0 until 24).map(i => w(v, salt + i)).mkString(" ")
    def recrawl(v: String, salt: Int) =
      (0 until 23).map(i => w(v, salt + i)).mkString(" ") + " " + w(v, salt + 40)
    val ref = ((0 until 60).map(i => (i.toLong, doc("alpha", i), true)) ++
        (0 until 60).map(i => (200L + i, doc("beta", i), false)))
      .toDF("doc_id", "text", "is_target")
    val epochs = Seq(
      Seq((1L, doc("alpha", 4)), (3L, doc("beta", 7))),
      Seq((4L, recrawl("alpha", 4)), (5L, doc("alpha", 30))),
      Seq((7L, doc("alpha", 56)), (9L, recrawl("alpha", 30))))

    def runScenario(tag: String, crashPlan: Set[String]):
        (String, String, Int, Seq[Long]) = {
      val inDir = java.nio.file.Files.createTempDirectory(s"rf_in_$tag").toFile
      epochs.zipWithIndex.foreach { case (rows, i) =>
        val f = new java.io.File(inDir, f"b$i%02d.json")
        val js = rows.map { case (id, t) =>
          s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n")
        java.nio.file.Files.write(f.toPath, js.getBytes("UTF-8"))
        f.setLastModified(1700000000000L + i * 60000L)
      }
      val ckpt = java.nio.file.Files.createTempDirectory(s"rf_ck_$tag").toString
      val fpDir = java.nio.file.Files.createTempDirectory(s"rf_fp_$tag").toString
      val sigDir = java.nio.file.Files.createTempDirectory(s"rf_sg_$tag").toString
      val verDir = java.nio.file.Files.createTempDirectory(s"rf_vs_$tag").toString
      val vfs = new org.apache.hadoop.fs.Path(verDir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      // durable version store: one atomically-renamed file per version,
      // payload = the model string (count of stored sigs at fit time)
      def save(m: String, v: Long): Unit = {
        val tmp = new org.apache.hadoop.fs.Path(s"$verDir/.v$v.tmp")
        val out = vfs.create(tmp, true)
        out.write(m.getBytes("UTF-8")); out.close()
        require(vfs.rename(tmp, new org.apache.hadoop.fs.Path(s"$verDir/v$v")))
      }
      def loadLatest(): Option[(Long, String)] = {
        val vs = vfs.listStatus(new org.apache.hadoop.fs.Path(verDir))
          .map(_.getPath.getName).filter(_.matches("v\\d+")).map(_.drop(1).toLong)
        if (vs.isEmpty) None
        else {
          val v = vs.max
          val in = vfs.open(new org.apache.hadoop.fs.Path(s"$verDir/v$v"))
          val buf = new Array[Byte](256)
          val n = in.read(buf); in.close()
          Some((v, new String(buf, 0, n, "UTF-8")))
        }
      }
      val fits = new java.util.concurrent.atomic.AtomicInteger(0)
      val versionsSeen = scala.collection.mutable.ArrayBuffer[Long]()
      val crashed = scala.collection.mutable.Set[String]()
      def crashPoint(p: String): Unit =
        if (crashPlan.contains(p) && crashed.add(p))
          throw new RuntimeException(s"injected crash at $p")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      var done = false
      var attempts = 0
      while (!done && attempts < 8) {
        attempts += 1
        // fresh EVERYTHING per restart, the recovered-driver discipline:
        // gate stats, sinks' heal sweeps, and a refit hook resumed from the
        // durable version store (never a refit-from-scratch)
        val gate = new IngestGate(
          Dsir.bucketStats(ref, "doc_id", "text", col("is_target")),
          minAffinity = 2.0)
        val refit = new ModelRefit[String](s"door_refit_$tag", refitEvery = 2,
          Some(ModelRefit.Store(save, () => loadLatest())))((s, v) => {
          fits.incrementAndGet()
          s"v$v:" + SignatureStore.read(s, sigDir).count()
        })
        val curEpoch = new java.util.concurrent.atomic.AtomicLong(-1L)
        val screen = SignatureStore.screenSink(spark, sigDir, "doc_id",
          "text", threshold = 0.45, streamTag = "rf") { _ => () }
        val fpSink = FingerprintStore.dedupSink(spark, fpDir, "doc_id",
          "text", streamTag = "rf") { df =>
          screen(df, curEpoch.get())
        }
        val sink = gate.sinkEpoch("doc_id", "text")(
          { (df, e) =>
            curEpoch.set(e); fpSink(df, e)
            // refit hook AFTER the epoch's rows land (the class contract);
            // awaitRefits only to make the crash window deterministic here
            refit.onEpoch(spark, e)
            refit.awaitRefits()
            versionsSeen.synchronized { versionsSeen += refit.currentVersion }
            crashPoint(s"post-refit-$e") })(
          (_, _) => ())
        val query = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .json(inDir.getAbsolutePath)
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch(sink)
          .start()
        try { query.processAllAvailable(); done = true }
        catch { case _: Throwable => () }
        finally { try query.stop() catch { case _: Throwable => () } }
      }
      assert(done, s"$tag: stream never completed after $attempts attempts")
      (fpDir, sigDir, fits.get(), versionsSeen.toSeq)
    }

    // crash AFTER epoch 2's refit published and persisted: the replayed
    // epoch re-runs the whole chain with every store marker present and an
    // epoch tag <= the resumed published version
    val (fpC, sigC, fitsC, versC) = runScenario("crash", Set("post-refit-2"))
    val (fpN, sigN, fitsN, versN) = runScenario("clean", Set.empty)

    def sigRows(d: String) = SignatureStore.read(spark, d)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    def fpRows(d: String) = graft.operators.FingerprintStore.read(spark, d)
      .select("fp").collect().map(_.getLong(0)).sorted.toSeq
    assert(sigRows(sigC) == sigRows(sigN) && fpRows(fpC) == fpRows(fpN),
      "stores must match the uncrashed run bit-for-bit across the replay")
    // refit boundaries at epochs 0 and 2 -> exactly two fits, crash or not:
    // the replayed epoch 2 (<= resumed version 2) must refit NOTHING
    assert(fitsN == 2, s"clean run must fit v0 and v2, got $fitsN")
    assert(fitsC == 2,
      s"the replayed boundary epoch must not refit (monotonicity): $fitsC")
    // version tags never regress in either run
    assert(versN == versN.sorted && versC == versC.sorted,
      s"published version must be monotone: $versC / $versN")
    assert(versC.last == 2L && versN.last == 2L)
  }

  test("streaming quantiles track exact batch quantiles within the GK rank bound") {
    import graft.streaming.StreamingQuantiles
    implicit val sqlCtx = spark.sqlContext
    val eps = 0.01
    val sq = new StreamingQuantiles(relativeError = eps)
    // deterministic pseudo-uniform values, three uneven micro-batches
    val values = (0 until 3000)
      .map(i => Math.floorMod(i * 2654435761L + 12345L, 10000L).toDouble)
    val mem = MemoryStream[Double]
    val query = mem.toDF().toDF("value")
      .writeStream.foreachBatch(sq.sink("value")).start()
    try {
      Seq(values.slice(0, 700), values.slice(700, 2100), values.slice(2100, 3000))
        .foreach { c => mem.addData(c: _*); query.processAllAvailable() }
    } finally query.stop()
    assert(sq.count == values.length)
    val sorted = values.sorted
    val n = values.length
    Seq(0.05, 0.25, 0.5, 0.75, 0.95).foreach { q =>
      val est = sq.quantile(q).get
      val lo = sorted.count(_ < est)
      val hi = sorted.count(_ <= est)
      val target = q * n
      val slack = 3 * eps * n // merge keeps the GK invariant; 3x for edges
      assert(target >= lo - slack && target <= hi + slack,
        s"q=$q est=$est rank window [$lo,$hi] vs target $target")
    }
  }

  test("streaming HLL folds micro-batch sketches to the one-shot stream estimate") {
    import graft.streaming.StreamingHll
    implicit val sqlCtx = spark.sqlContext
    val hll = new StreamingHll(lgK = 12)
    val mem = MemoryStream[String]
    val query = mem.toDF().toDF("token")
      .writeStream.foreachBatch(hll.sink("token")).start()
    val wave1 = (0 until 900).map(i => s"tok${i % 300}")
    val wave2 = (0 until 1200).map(i => s"tok${100 + (i % 500)}") // overlaps wave1
    try {
      mem.addData(wave1: _*); query.processAllAvailable()
      mem.addData(wave2: _*); query.processAllAvailable()
    } finally query.stop()
    // the fold tracks the one-shot sketch of the concatenated stream inside
    // the same error band (not bit-identical: union promotes sparse-mode
    // state differently than direct building)
    val whole = (wave1 ++ wave2).toDF("token")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("token"), 12)))
      .first().getLong(0)
    assert(math.abs(hll.estimate - whole) * 50 <= whole,
      s"folded ${hll.estimate} drifted from one-shot $whole")
    // distinct truth: tok0..tok599 → 600; both sit within the 5% band
    assert(math.abs(hll.estimate - 600L) * 20 <= 600L, s"estimate ${hll.estimate}")
    assert(math.abs(whole - 600L) * 20 <= 600L, s"one-shot $whole")
  }

  test("streaming count-min sketch folds micro-batches to the whole-corpus sketch") {
    import graft.operators.Sketch
    implicit val sqlCtx = spark.sqlContext
    val cms = new Sketch.StreamingCms(depth = 4, width = 128)
    val mem = MemoryStream[String]
    val query = mem.toDF().toDF("token")
      .writeStream.foreachBatch(cms.sink("token")).start()
    val wave1 = (0 until 200).map(i => s"tok${i % 40}")
    val wave2 = (0 until 300).map(i => s"tok${i % 60}")
    try {
      mem.addData(wave1: _*); query.processAllAvailable()
      mem.addData(wave2: _*); query.processAllAvailable()
    } finally query.stop()
    // accumulated cells == the batch sketch of the concatenated corpus
    val batch = Sketch.cmsCounters(
        (wave1 ++ wave2).toDF("token").groupBy("token").agg(count(lit(1)).as("cnt")),
        depth = 4, width = 128)
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    assert(cms.counters == batch)
    // point estimates never undercount the true frequency
    val truth = (wave1 ++ wave2).groupBy(identity).view.mapValues(_.size.toLong)
    truth.foreach { case (tok, n) =>
      assert(cms.estimate(tok) >= n, s"undercount for $tok")
    }
    assert(cms.estimate("never-seen-prefix-miss") >= 0L)
  }

  test("prequential LSTM over foreachBatch equals the driver-loop wrapper bit-for-bit (M2/ST4)") {
    // the streaming twin of the reference's run_stream_* LSTM loop: each
    // trigger scores-then-trains via ONE treeAggregate (Lstm.stepDf) — rows
    // never reach the driver; with one input partition in row order the
    // result must be bit-identical to the in-memory wrapper Lstm.step
    import graft.ml.Lstm
    val dim = 6
    def tok(id: Int): Seq[Float] = Seq.tabulate(dim) { d =>
      val x = java.lang.Long.rotateLeft(id.toLong * 0x9E3779B97F4A7C15L ^ d, 13)
      ((x.toDouble / Long.MaxValue) * 0.8).toFloat
    }
    val rnd = new scala.util.Random(41)
    val rows = (0 until 80).map { i =>
      val label = i % 2
      val core = if (label == 1) Seq(0, 1) else Seq(1, 0)
      val fillers = Seq.fill(4)(2 + rnd.nextInt(6))
      (i.toLong, label, (core ++ fillers).map(tok))
    }
    val batches = rows.grouped(16).toSeq

    var st = Lstm.initState(dim, 8, 2, 2, seed = 3L)
    val accs = scala.collection.mutable.ArrayBuffer.empty[Double]
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Int, Seq[Seq[Float]])]
    val q = mem.toDS().toDF("id", "label", "seq")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val one = b.orderBy("id").coalesce(1)
        val (next, _, acc) = Lstm.stepDf(st, one, "label", "seq", lr = 5e-2)
        st = next; accs += acc; ()
      }.start()
    try {
      batches.foreach { bt => mem.addData(bt: _*); q.processAllAvailable() }
    } finally q.stop()

    // driver twin over the same batches in the same order
    var st2 = Lstm.initState(dim, 8, 2, 2, seed = 3L)
    val accs2 = batches.map { bt =>
      val in = bt.map { case (_, y, s) =>
        (y, s.map(_.toArray.map(_.toDouble)).toArray)
      }
      val (next, _, acc) = Lstm.step(st2, in, lr = 5e-2)
      st2 = next; acc
    }
    assert(accs.toSeq == accs2, s"prequential accuracy trajectories diverge: $accs vs $accs2")
    assert(st.params.bf.toSeq == st2.params.bf.toSeq)
    assert(st.params.wf.flatten.toSeq == st2.params.wf.flatten.toSeq)
    assert(st.params.layers(0).wx.flatten.toSeq == st2.params.layers(0).wx.flatten.toSeq)
    assert(st.params.layers(1).wh.flatten.toSeq == st2.params.layers(1).wh.flatten.toSeq)
    assert(st.m.wf.flatten.toSeq == st2.m.wf.flatten.toSeq, "Adam moment state diverged")
  }

  test("supervised drift experiment end-to-end with the real LSTM: " +
      "stream -> prequential model -> error feed -> DDM fires on the flip") {
    // The reference's headline loop (streams/run_stream_supervised.py +
    // models/wos_train_lstm.py) with the REAL architecture: a labeled
    // sequence stream arrives in micro-batches; each trigger scores then
    // trains the LSTM (distributed stepDf — the partial_fit loop), the
    // per-batch error feeds DDM, and the label flip mid-stream must drive
    // error -> warning/drift signals -> recovery as the model relearns.
    import graft.ml.Lstm
    val dim = 6
    def tok(id: Int): Seq[Float] = Seq.tabulate(dim) { d =>
      val x = java.lang.Long.rotateLeft(id.toLong * 0x9E3779B97F4A7C15L ^ d, 13)
      ((x.toDouble / Long.MaxValue) * 0.8).toFloat
    }
    val DriftAt = 36 // DDM needs its 30-sample warmup before the flip
    val NBatches = 54
    val rnd = new scala.util.Random(59)
    val batches = (0 until NBatches).map { b =>
      (0 until 24).map { i =>
        val orderAB = rnd.nextBoolean()
        val core = if (orderAB) Seq(0, 1) else Seq(1, 0)
        // concept drift: the order -> label mapping flips at DriftAt
        val label = if (b < DriftAt) { if (orderAB) 1 else 0 }
                    else { if (orderAB) 0 else 1 }
        val fillers = Seq.fill(4)(2 + rnd.nextInt(6))
        (b * 24L + i, label, (core ++ fillers).map(tok))
      }
    }

    var st = Lstm.initState(dim, 8, 2, 2, seed = 3L)
    // per-EXAMPLE 0/1 misses in stream order — DDM is a per-sample detector
    // (the reference drives skmultiflow's DDM element-wise); the per-batch
    // reporting feed is the ST2-gated view, pinned elsewhere
    val misses = scala.collection.mutable.ArrayBuffer.empty[Double]
    val errs = scala.collection.mutable.ArrayBuffer.empty[Double]
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Int, Seq[Seq[Float]])]
    val q = mem.toDS().toDF("id", "label", "seq")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val one = b.orderBy("id").coalesce(1).localCheckpoint()
        // score (pre-update, prequential) ...
        val scored = Lstm.predict(Lstm.Model(st.params), one, "id", "label", "seq")
          .collect().sortBy(_.getLong(0))
          .map(r => if (r.getInt(1) == r.getInt(2)) 0.0 else 1.0)
        misses ++= scored
        errs += scored.sum / scored.length
        // ... then train: a few within-batch epochs — the reference's
        // per-batch Adam step amortized over a stream far longer than ours
        (0 until 6).foreach { _ => st = Lstm.stepDf(st, one, "label", "seq", lr = 5e-2)._1 }
        ()
      }.start()
    try {
      batches.foreach { bt => mem.addData(bt: _*); q.processAllAvailable() }
    } finally q.stop()

    assert(errs.length == NBatches)
    val preLearned = errs.slice(DriftAt - 5, DriftAt)
    assert(preLearned.sum / 5 <= 0.2,
      s"model should have learned pre-drift: last-5 errors $preLearned")
    val atDrift = errs.slice(DriftAt, DriftAt + 3)
    assert(atDrift.max >= 0.6,
      s"flipped labels should spike the error: $atDrift")
    val tail = errs.takeRight(4)
    assert(tail.sum / 4 <= 0.35,
      s"model should relearn the flipped concept: tail errors $tail")

    // the engine's own detector over the engine's own error feed — DDM must
    // stay quiet through learning + plateau and fire on the flip
    val ddm = new Drift.Ddm()
    val signals = misses.toSeq.map(ddm.addElement)
    val firstDrift = signals.indexWhere(_ == "D")
    assert(firstDrift >= 0, "DDM never fired D on the planted flip")
    val driftBatch = firstDrift / 24
    assert(driftBatch >= DriftAt,
      s"DDM fired before the planted drift: batch $driftBatch")
    assert(driftBatch <= DriftAt + 3,
      s"DDM missed the drift window: first D in batch $driftBatch, expected in [$DriftAt, ${DriftAt + 3}]")
  }

  test("crash replay: a checkpointed crawl stream maintains the BM25 postings " +
    "store exactly-once — the final store probes identically to a " +
    "batch-seeded twin of the whole corpus") {
    import graft.operators.Bm25Store
    def doc(v: String, salt: Int) =
      (0 until 20).map(i => s"$v${(salt + i) % 13}").mkString(" ")
    val epochs = Seq(
      Seq((1L, doc("alpha", 0)), (2L, doc("beta", 3))),
      Seq((3L, doc("alpha", 5)), (4L, doc("gamma", 1))),
      Seq((5L, doc("beta", 8)), (6L, doc("alpha", 2))))
    val seedDocs = Seq((100L, doc("alpha", 7)), (101L, doc("beta", 11)))
    val qs = Seq(1L -> "alpha3 beta5", 2L -> "gamma2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))

    def runScenario(tag: String, crashPlan: Set[String]): String = {
      val inDir = java.nio.file.Files.createTempDirectory(s"bm_in_$tag").toFile
      epochs.zipWithIndex.foreach { case (rows, i) =>
        val f = new java.io.File(inDir, f"b$i%02d.json")
        val js = rows.map { case (id, t) =>
          s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n")
        java.nio.file.Files.write(f.toPath, js.getBytes("UTF-8"))
        f.setLastModified(1700000000000L + i * 60000L)
      }
      val ckpt = java.nio.file.Files.createTempDirectory(s"bm_ck_$tag").toString
      val dir = java.nio.file.Files.createTempDirectory(s"bm_st_$tag").toString
      Bm25Store.seed(seedDocs.toDF("doc_id", "text"), "doc_id", "text", dir)
      val crashed = scala.collection.mutable.Set[String]()
      def crashPoint(p: String): Unit =
        if (crashPlan.contains(p) && crashed.add(p))
          throw new RuntimeException(s"injected crash at $p")
      var done = false
      var attempts = 0
      while (!done && attempts < 8) {
        attempts += 1
        // fresh appender per restart: its construction runs the staging heal
        // sweep, exactly like a recovered driver process
        val app = Bm25Store.appender(spark, dir, "doc_id", "text",
          autoCompactEvery = 0)
        val query = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .json(inDir.getAbsolutePath)
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, e: Long) =>
            crashPoint(s"entry-$e")      // nothing persisted: replay recomputes
            app(df, e)
            crashPoint(s"after-append-$e") // fully committed: replay is a no-op
          }
          .start()
        try { query.processAllAvailable(); done = true }
        catch { case _: Throwable => () }
        finally { try query.stop() catch { case _: Throwable => () } }
      }
      assert(done, s"$tag: stream never completed after $attempts attempts")
      dir
    }

    val crashDir = runScenario("crash", Set("entry-0", "after-append-1", "entry-2"))
    val cleanDir = runScenario("clean", Set.empty)
    val batchDir = java.nio.file.Files.createTempDirectory("bm_batch").toString
    Bm25Store.seed((seedDocs ++ epochs.flatten).toDF("doc_id", "text"),
      "doc_id", "text", batchDir)
    def rows(d: String) = Bm25Store.probeStored(spark, d, qs, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val batch = rows(batchDir)
    assert(rows(crashDir) == batch,
      "crash-replayed incremental store must probe like the batch build")
    assert(rows(cleanDir) == batch)
    // and no posting may be stored twice across replays
    val posts = spark.read.parquet(s"$crashDir/postings")
      .select("doc_id", "word").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(posts.distinct.size == posts.size, "duplicated postings after replay")
  }

  test("crash replay: one crawl stream maintains fp store + BM25 postings + " +
    "bigram LM in a single foreachBatch — a crash BETWEEN the two index " +
    "appends replays without double-counting either") {
    // The triple-store front door: byte-exact dedup gates the survivors, and
    // the SAME survivor frame feeds both text-index appenders keyed by the
    // SAME epoch. Crash points: before anything persisted; between the BM25
    // append and the LM append (the torn-epoch window — BM25's marker is
    // down, LM's is not); after everything. Final contract: both indexes
    // equal batch-seeded twins of the accepted set, bit for bit.
    import graft.operators.{Bm25Store, FingerprintStore, LmStore}
    def doc(v: String, salt: Int) =
      (0 until 20).map(i => s"$v${(salt + i) % 13}").mkString(" ")
    val epochs = Seq(
      Seq((1L, doc("alpha", 0)), (2L, doc("alpha", 0))),   // 2 = dup of 1
      Seq((3L, doc("beta", 5)), (4L, doc("alpha", 0))),    // 4 = re-crawl dup
      Seq((5L, doc("gamma", 2)), (6L, doc("beta", 9))))
    val base = Seq((100L, doc("alpha", 7)), (101L, doc("beta", 11)))
    val qs = Seq(1L -> "alpha3 beta5", 2L -> "gamma2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))

    def runScenario(tag: String, crashPlan: Set[String]):
        (String, String, Set[Long]) = {
      val inDir = java.nio.file.Files.createTempDirectory(s"tx_in_$tag").toFile
      epochs.zipWithIndex.foreach { case (rows, i) =>
        val f = new java.io.File(inDir, f"b$i%02d.json")
        val js = rows.map { case (id, t) =>
          s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n")
        java.nio.file.Files.write(f.toPath, js.getBytes("UTF-8"))
        f.setLastModified(1700000000000L + i * 60000L)
      }
      val ckpt = java.nio.file.Files.createTempDirectory(s"tx_ck_$tag").toString
      val fpDir = java.nio.file.Files.createTempDirectory(s"tx_fp_$tag").toString
      val bmDir = java.nio.file.Files.createTempDirectory(s"tx_bm_$tag").toString
      val lmDir = java.nio.file.Files.createTempDirectory(s"tx_lm_$tag").toString
      Bm25Store.seed(base.toDF("doc_id", "text"), "doc_id", "text", bmDir)
      LmStore.seed(base.toDF("doc_id", "text"), "doc_id", "text", lmDir)
      val crashed = scala.collection.mutable.Set[String]()
      def crashPoint(p: String): Unit =
        if (crashPlan.contains(p) && crashed.add(p))
          throw new RuntimeException(s"injected crash at $p")
      val accepted = scala.collection.mutable.Set[Long]()
      var done = false
      var attempts = 0
      while (!done && attempts < 8) {
        attempts += 1
        // fresh sinks per restart: every store's heal sweep runs, exactly
        // like a recovered driver
        val curEpoch = new java.util.concurrent.atomic.AtomicLong(-1L)
        val bmApp = Bm25Store.appender(spark, bmDir, "doc_id", "text",
          autoCompactEvery = 0)
        val lmApp = LmStore.appender(spark, lmDir, "doc_id", "text",
          autoCompactEvery = 0)
        val fpSink = FingerprintStore.dedupSink(spark, fpDir, "doc_id",
          "text", streamTag = "tx") { df =>
          accepted ++= df.select("doc_id").collect().map(_.getLong(0))
          bmApp(df, curEpoch.get())
          crashPoint(s"between-indexes-${curEpoch.get()}")
          lmApp(df, curEpoch.get())
        }
        val query = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .json(inDir.getAbsolutePath)
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, e: Long) =>
            crashPoint(s"entry-$e")
            curEpoch.set(e)
            fpSink(df, e)
            crashPoint(s"after-all-$e")
          }
          .start()
        try { query.processAllAvailable(); done = true }
        catch { case _: Throwable => () }
        finally { try query.stop() catch { case _: Throwable => () } }
      }
      assert(done, s"$tag: stream never completed after $attempts attempts")
      (bmDir, lmDir, accepted.toSet)
    }

    val (bmC, lmC, accC) = runScenario("crash", Set(
      "entry-0",             // nothing persisted: epoch recomputes whole
      "between-indexes-1",   // bm25 marker down, lm not: the torn epoch
      "after-all-2"))        // everything committed: replay is a no-op
    val (bmN, lmN, accN) = runScenario("clean", Set.empty)
    assert(accC == accN, s"$accC vs $accN")
    assert(accN == Set(1L, 3L, 5L, 6L), accN.toString) // dups 2,4 dropped
    // both indexes must equal batch-seeded twins of base + accepted docs
    val all = (base ++ epochs.flatten.filter(d => accN(d._1)))
      .toDF("doc_id", "text")
    val bmB = java.nio.file.Files.createTempDirectory("tx_bmb").toString
    val lmB = java.nio.file.Files.createTempDirectory("tx_lmb").toString
    Bm25Store.seed(all, "doc_id", "text", bmB)
    LmStore.seed(all, "doc_id", "text", lmB)
    def bmRows(d: String) = Bm25Store.probeStored(spark, d, qs, k = 10)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    def lmRows(d: String) = LmStore.scoreStored(spark, d, all,
        "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(bmRows(bmC) == bmRows(bmB), "bm25: crashed run != batch twin")
    assert(bmRows(bmN) == bmRows(bmB))
    assert(lmRows(lmC) == lmRows(lmB), "lm: crashed run != batch twin")
    assert(lmRows(lmN) == lmRows(lmB))
  }

  test("budget gate: streamed admissions equal the batch prefix-fill twin " +
    "row-for-row, including the boundary-crossing doc") {
    import graft.streaming.BudgetGate
    implicit val sqlCtx = spark.sqlContext
    val budgets = Map("web" -> 100L, "books" -> 55L, "code" -> 0L)
    // (source, doc_id, n_toks): per-source doc_id-ordered arrival across
    // 3 micro-batches; "web" crosses its budget mid-epoch-2, "books" crosses
    // exactly at an epoch boundary, "code" has budget 0 (admits nothing)
    val epochs = Seq(
      Seq(("web", 1L, 30L), ("books", 2L, 25L), ("code", 3L, 10L)),
      Seq(("web", 4L, 40L), ("web", 5L, 35L), ("books", 6L, 30L)),
      Seq(("web", 7L, 20L), ("books", 8L, 5L), ("code", 9L, 1L)))
    val mem = MemoryStream[BudgetGate.Doc]
    val query = BudgetGate.admit(mem.toDS(), budgets)
      .writeStream.format("memory").queryName("bg_out")
      .outputMode("append").start()
    try {
      epochs.foreach { e =>
        mem.addData(e.map(BudgetGate.Doc.tupled): _*)
        query.processAllAvailable()
      }
      val streamed = spark.table("bg_out")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      // batch twin: the mix_token_fill prefix rule in the same doc_id order
      val all = epochs.flatten.toDF("source", "doc_id", "n_toks")
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
      val twin = all.withColumn("cum_toks", sum("n_toks").over(win))
        .withColumn("budget",
          element_at(typedLit(budgets), col("source")))
        .filter(col("cum_toks") - col("n_toks") < col("budget"))
        .select("source", "doc_id", "n_toks", "cum_toks")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(streamed == twin)
      // web: 30+40+35 crosses 100 at doc 5 → doc 7 dropped; books: 25+30
      // crosses 55 exactly → doc 8 dropped (fill == budget); code: nothing
      assert(streamed.map(_._2) == Set(1L, 2L, 4L, 5L, 6L))
    } finally query.stop()
  }

  test("budget gate: a crash-replayed epoch re-reads its pre-epoch state and " +
    "re-emits the SAME admissions — a marker-deduped sink ends bit-identical " +
    "to a clean run") {
    import graft.streaming.BudgetGate
    val budgets = Map("web" -> 100L, "books" -> 55L)
    val epochs = Seq(
      Seq(("web", 1L, 30L), ("books", 2L, 25L)),
      Seq(("web", 4L, 40L), ("web", 5L, 35L), ("books", 6L, 30L)),
      Seq(("web", 7L, 20L), ("books", 8L, 5L)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_toks",
        org.apache.spark.sql.types.LongType)))

    def run(tag: String, crashEpochs: Set[Long]): Map[Long, (Long, Int)] = {
      val inDir = java.nio.file.Files.createTempDirectory(s"bg_in_$tag").toFile
      epochs.zipWithIndex.foreach { case (rows, i) =>
        val f = new java.io.File(inDir, f"b$i%02d.json")
        val js = rows.map { case (src, id, t) =>
          s"""{"source":"$src","doc_id":$id,"n_toks":$t}""" }.mkString("\n")
        java.nio.file.Files.write(f.toPath, js.getBytes("UTF-8"))
        f.setLastModified(1700000000000L + i * 60000L)
      }
      val ckpt = java.nio.file.Files.createTempDirectory(s"bg_ck_$tag").toString
      val crashed = scala.collection.mutable.Set[Long]()
      // marker-idempotent sink: epoch → admitted rows, applied once per epoch;
      // value counts applications so a double-apply would show as count 2
      val applied = scala.collection.mutable.Map[Long, Seq[(Long, Long)]]()
      val admits = scala.collection.mutable.Map[Long, (Long, Int)]()
      var done = false
      var attempts = 0
      while (!done && attempts < 6) {
        attempts += 1
        val query = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .json(inDir.getAbsolutePath)
          .as[BudgetGate.Doc]
          .transform(ds => BudgetGate.admit(ds, budgets))
          .writeStream
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .foreachBatch {
            (df: org.apache.spark.sql.Dataset[BudgetGate.Admitted], e: Long) =>
              val rows = df.collect().map(a => (a.doc_id, a.cum_toks)).toSeq
              if (applied.contains(e)) {
                // replayed epoch must re-emit identically (same state read)
                assert(applied(e).toSet == rows.toSet,
                  s"epoch $e replayed differently: ${applied(e)} vs $rows")
              } else applied(e) = rows
              rows.foreach { case (id, cum) =>
                val (c0, n0) = admits.getOrElse(id, (cum, 0))
                admits(id) = (cum, n0 + (if (applied(e).toSet == rows.toSet &&
                  !admits.contains(id)) 1 else 0))
                assert(c0 == cum, s"doc $id cum changed: $c0 vs $cum")
              }
              if (crashEpochs.contains(e) && crashed.add(e))
                throw new RuntimeException(s"injected crash after epoch $e")
          }
          .start()
        try { query.processAllAvailable(); done = true }
        catch { case _: Throwable => () }
        finally { try query.stop() catch { case _: Throwable => () } }
      }
      assert(done, s"$tag never completed")
      admits.toMap
    }

    val crashRun = run("crash", Set(1L))   // crash right after the torn epoch
    val cleanRun = run("clean", Set.empty)
    assert(crashRun == cleanRun)
    assert(crashRun.keySet == Set(1L, 2L, 4L, 5L, 6L))
  }

  test("durable budget gate: crash windows replay byte-identical admissions, " +
    "the fill store matches the streaming twin, and snapshots stay pruned") {
    import graft.streaming.BudgetGate
    val budgets = Map("web" -> 100L, "books" -> 55L)
    val epochs = Seq(
      Seq(("web", 1L, 30L), ("books", 2L, 25L)),
      Seq(("web", 4L, 40L), ("web", 5L, 35L), ("books", 6L, 30L)),
      Seq(("web", 7L, 20L), ("books", 8L, 5L)),
      Seq(("web", 9L, 1L)),
      Seq(("books", 10L, 1L)),
      Seq(("web", 11L, 2L)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_toks",
        org.apache.spark.sql.types.LongType)))

    def run(tag: String, crashEpochs: Set[Long]):
        (Set[(Long, Long)], String) = {
      val inDir = java.nio.file.Files.createTempDirectory(s"bs_in_$tag").toFile
      epochs.zipWithIndex.foreach { case (rows, i) =>
        val f = new java.io.File(inDir, f"b$i%02d.json")
        val js = rows.map { case (src, id, t) =>
          s"""{"source":"$src","doc_id":$id,"n_toks":$t}""" }.mkString("\n")
        java.nio.file.Files.write(f.toPath, js.getBytes("UTF-8"))
        f.setLastModified(1700000000000L + i * 60000L)
      }
      val ckpt = java.nio.file.Files.createTempDirectory(s"bs_ck_$tag").toString
      val bDir = java.nio.file.Files.createTempDirectory(s"bs_st_$tag").toString
      val crashed = scala.collection.mutable.Set[Long]()
      // marker-idempotent downstream: epoch-keyed apply-once
      val applied = scala.collection.mutable.Map[Long, Set[(Long, Long)]]()
      var done = false
      var attempts = 0
      while (!done && attempts < 10) {
        attempts += 1
        val curEpoch = new java.util.concurrent.atomic.AtomicLong(-1L)
        val sink = BudgetGate.budgetSink(spark, bDir, budgets,
          "source", "doc_id", "n_toks", streamTag = "bs") { adm =>
          val rows = adm.collect()
            .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cum_toks")))
            .toSet
          val e = curEpoch.get()
          if (applied.contains(e))
            assert(applied(e) == rows,
              s"epoch $e replayed differently: ${applied(e)} vs $rows")
          else applied(e) = rows
          if (crashEpochs.contains(e) && crashed.add(e))
            throw new RuntimeException(s"crash inside out at epoch $e")
        }
        val query = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .json(inDir.getAbsolutePath)
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, e: Long) =>
            curEpoch.set(e)
            sink(df, e)
            if (crashEpochs.contains(-e) && crashed.add(-e))
              throw new RuntimeException(s"crash after commit of epoch $e")
          }
          .start()
        try { query.processAllAvailable(); done = true }
        catch { case _: Throwable => () }
        finally { try query.stop() catch { case _: Throwable => () } }
      }
      assert(done, s"$tag never completed after $attempts attempts")
      (applied.values.flatten.toSet, bDir)
    }

    // crash inside out (pre-marker) at epoch 1, and post-commit at epoch 2
    val (admC, dirC) = run("crash", Set(1L, -2L))
    val (admN, dirN) = run("clean", Set.empty)
    assert(admC == admN)
    assert(admC.map(_._1) == Set(1L, 2L, 4L, 5L, 6L))

    // fill store equals the streaming flatMapGroupsWithState twin's final fill
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[BudgetGate.Doc]
    val q = BudgetGate.admit(mem.toDS(), budgets)
      .writeStream.format("memory").queryName("bs_twin")
      .outputMode("append").start()
    try {
      epochs.foreach { e =>
        mem.addData(e.map(BudgetGate.Doc.tupled): _*); q.processAllAvailable()
      }
      val twinFill = spark.table("bs_twin")
        .groupBy("source").agg(org.apache.spark.sql.functions.sum("n_toks"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      for (d <- Seq(dirC, dirN)) {
        val last = new java.io.File(s"$d/fill").listFiles()
          .map(_.getName).filter(_.startsWith("epoch=")).map(_.drop(6).toLong)
          .max
        val stored = spark.read.parquet(s"$d/fill/epoch=$last")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(stored == twinFill, s"$d fill $stored vs twin $twinFill")
        // prune bound: at most keepSnapshots snapshot dirs remain
        val snaps = new java.io.File(s"$d/fill").listFiles()
          .count(_.getName.startsWith("epoch="))
        assert(snaps <= 4, s"$d holds $snaps snapshots")
      }
    } finally q.stop()
  }

  test("rebudgetable gate: a raised budget admits post-bump docs WITHOUT a " +
    "stream restart or replay; a replayed epoch admits under the budget " +
    "version its marker recorded, not the current one") {
    import graft.streaming.BudgetGate
    val bDir = java.nio.file.Files.createTempDirectory("rebudget").toString
    import spark.implicits._
    def batch(rows: (String, Long, Long)*) =
      rows.toSeq.toDF("source", "doc_id", "n_toks")
    val applied = scala.collection.mutable.Map[Long, Set[Long]]()
    var cur = -1L
    // mounting before any publish is a loud configuration error
    val noBudgets = intercept[IllegalArgumentException] {
      BudgetGate.rebudgetableSink(spark, bDir, "source", "doc_id",
        "n_toks", streamTag = "rb") { _ => () }
    }
    assert(noBudgets.getMessage.contains("publishBudgets"))
    assert(BudgetGate.publishBudgets(spark, bDir, Map("web" -> 10L)) == 1L)
    val sink = BudgetGate.rebudgetableSink(spark, bDir, "source", "doc_id",
      "n_toks", streamTag = "rb") { adm =>
      applied(cur) = adm.collect().map(_.getAs[Long]("doc_id")).toSet
    }
    // v1 (budget 10): doc 1 admits, doc 2 crosses the boundary and admits
    // (fill 16); epoch 1's doc is over budget
    cur = 0L; sink(batch(("web", 1L, 8L), ("web", 2L, 8L)), 0L)
    cur = 1L; sink(batch(("web", 3L, 5L)), 1L)
    assert(applied(0L) == Set(1L, 2L) && applied(1L) == Set.empty)
    // raise to 40 — the NEXT trigger admits, no restart, no replay
    assert(BudgetGate.publishBudgets(spark, bDir, Map("web" -> 40L)) == 2L)
    cur = 2L; sink(batch(("web", 4L, 5L)), 2L)
    assert(applied(2L) == Set(4L), applied.toString)
    // a replayed epoch 1 (marker present) still admits NOTHING: it runs
    // under recorded v1, not current v2
    cur = 1L; sink(batch(("web", 3L, 5L)), 1L)
    assert(applied(1L) == Set.empty,
      "replay must use the epoch's recorded budget version")
    // and replayed epoch 0 re-derives its original admissions byte-for-byte
    cur = 0L; sink(batch(("web", 1L, 8L), ("web", 2L, 8L)), 0L)
    assert(applied(0L) == Set(1L, 2L))
    // lowering stops admissions the same way (fill 21 >= budget 20); the
    // already-admitted fill is never revoked
    assert(BudgetGate.publishBudgets(spark, bDir, Map("web" -> 20L)) == 3L)
    cur = 3L; sink(batch(("web", 5L, 5L)), 3L)
    assert(applied(3L) == Set.empty)
  }

  test("front door chain: byte-exact dedup gate feeds the durable budget " +
    "gate in one foreachBatch — crashes inside and between the two commits " +
    "replay to the same admitted set, budget never spent on a dup") {
    import graft.streaming.BudgetGate
    import graft.operators.FingerprintStore
    val budgets = Map("web" -> 60L)
    def txt(v: String) = (0 until 25).map(i => s"$v$i").mkString(" ")
    // (doc_id, text, n_toks): 2 dups of 1 (same epoch), 4 re-crawls 1 (later
    // epoch); budget 60 fills mid-epoch-2 (doc 5 crosses, doc 6 rejected)
    val epochs = Seq(
      Seq((1L, txt("a"), 30L), (2L, txt("a"), 30L)),
      Seq((3L, txt("b"), 25L), (4L, txt("a"), 30L)),
      Seq((5L, txt("c"), 25L), (6L, txt("d"), 5L)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_toks",
        org.apache.spark.sql.types.LongType)))

    def run(tag: String, crashPlan: Set[String]): Set[(Long, Long)] = {
      val inDir = java.nio.file.Files.createTempDirectory(s"fd_in_$tag").toFile
      epochs.zipWithIndex.foreach { case (rows, i) =>
        val f = new java.io.File(inDir, f"b$i%02d.json")
        val js = rows.map { case (id, t, n) =>
          s"""{"doc_id":$id,"text":"$t","n_toks":$n}""" }.mkString("\n")
        java.nio.file.Files.write(f.toPath, js.getBytes("UTF-8"))
        f.setLastModified(1700000000000L + i * 60000L)
      }
      val ckpt = java.nio.file.Files.createTempDirectory(s"fd_ck_$tag").toString
      val fpDir = java.nio.file.Files.createTempDirectory(s"fd_fp_$tag").toString
      val bDir = java.nio.file.Files.createTempDirectory(s"fd_bs_$tag").toString
      val crashed = scala.collection.mutable.Set[String]()
      def crashPoint(pt: String): Unit =
        if (crashPlan.contains(pt) && crashed.add(pt))
          throw new RuntimeException(s"injected crash at $pt")
      val applied = scala.collection.mutable.Map[Long, Set[(Long, Long)]]()
      var done = false
      var attempts = 0
      while (!done && attempts < 10) {
        attempts += 1
        val curEpoch = new java.util.concurrent.atomic.AtomicLong(-1L)
        val bSink = BudgetGate.budgetSink(spark, bDir, budgets,
          "source", "doc_id", "n_toks", streamTag = "fd") { adm =>
          val e = curEpoch.get()
          val rows = adm.collect()
            .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cum_toks")))
            .toSet
          if (applied.contains(e))
            // a replay after the fp store already persisted this epoch
            // delivers an EMPTY survivor frame (the fp gate drops the
            // epoch's own fps) — the engine contract is that downstream
            // application is marker-idempotent, which this map models
            assert(rows.isEmpty || rows == applied(e),
              s"epoch $e replayed differently: ${applied(e)} vs $rows")
          else applied(e) = rows
          crashPoint(s"inside-budget-out-$e")
        }
        val fpSink = FingerprintStore.dedupSink(spark, fpDir, "doc_id",
          "text", streamTag = "fd") { survivors =>
          bSink(survivors.withColumn("source",
            org.apache.spark.sql.functions.lit("web")), curEpoch.get())
          crashPoint(s"between-commits-${curEpoch.get()}")
        }
        val query = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .json(inDir.getAbsolutePath)
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, e: Long) =>
            curEpoch.set(e)
            fpSink(df, e)
            crashPoint(s"after-all-$e")
          }
          .start()
        try { query.processAllAvailable(); done = true }
        catch { case _: Throwable => () }
        finally { try query.stop() catch { case _: Throwable => () } }
      }
      assert(done, s"$tag never completed after $attempts attempts")
      applied.values.flatten.toSet
    }

    val admC = run("crash", Set(
      "inside-budget-out-0",   // budget snapshot down, no markers
      "between-commits-1",     // budget committed, fp store torn
      "after-all-2"))          // everything committed: replay is a no-op
    val admN = run("clean", Set.empty)
    assert(admC == admN)
    // dups 2 and 4 never reached the budget (cum would show it): 30+25+25
    assert(admC == Set((1L, 30L), (3L, 55L), (5L, 80L)))
  }

  test("budget gate: three micro-batches admit each source's prefix") {
    import graft.streaming.BudgetGate
    implicit val sqlCtx = spark.sqlContext
    val budgets = Map("web" -> 100L, "books" -> 55L, "code" -> 0L)
    val epochs = Seq(
      Seq(("web", 1L, 30L), ("books", 2L, 25L), ("code", 3L, 10L)),
      Seq(("web", 4L, 40L), ("web", 5L, 35L), ("books", 6L, 30L)),
      Seq(("web", 7L, 20L), ("books", 8L, 5L), ("code", 9L, 1L)))
    val mem = MemoryStream[BudgetGate.Doc]
    val query = BudgetGate.admit(mem.toDS(), budgets)
      .writeStream.format("memory").queryName("bg_fm_out")
      .outputMode("append").start()
    try {
      epochs.foreach { e =>
        mem.addData(e.map(BudgetGate.Doc.tupled): _*)
        query.processAllAvailable()
      }
      val admitted = spark.table("bg_fm_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(admitted.map(_._2) == Set(1L, 2L, 4L, 5L, 6L))
      // the doc that crosses a budget is admitted; the fill is cumulative
      assert(admitted == Set(("web", 1L, 30L, 30L), ("books", 2L, 25L, 25L),
        ("web", 4L, 40L, 70L), ("web", 5L, 35L, 105L), ("books", 6L, 30L, 55L)))
    } finally query.stop()
  }

  test("fingerprint store retract: a taken-down text is re-admitted as new, " +
    "everything else stays rejected, the bloom rebuilds without it, and a " +
    "mid-retract crash window heals") {
    import graft.operators.FingerprintStore
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fpret").toString
    FingerprintStore.seed(Seq(
      (1L, "keep this page"), (2L, "takedown target"), (3L, "another keeper"))
      .toDF("doc_id", "text"), "text", dir)

    def admitted(id: Long, text: String, tag: String): Boolean = {
      val got = scala.collection.mutable.ArrayBuffer[Long]()
      val sink = FingerprintStore.dedupSink(spark, dir, "doc_id", "text",
        streamTag = tag, autoCompactEvery = 0) { df =>
        got ++= df.select("doc_id").collect().map(_.getLong(0))
      }
      sink(Seq((id, text)).toDF("doc_id", "text"), 0L)
      got.contains(id)
    }
    assert(!admitted(10L, "takedown target", "pre"))

    FingerprintStore.retract(spark, dir,
      Seq((0L, "takedown target")).toDF("doc_id", "text"), "text")
    // retracted content re-admits (and is re-stored); others still reject
    assert(admitted(11L, "takedown target", "r1"))
    assert(!admitted(12L, "takedown target", "r2"), "re-store after retract")
    assert(!admitted(13L, "keep this page", "r3"))
    assert(!admitted(14L, "another keeper", "r4"))
    // retract folded the blooms to one rebuilt filter
    assert(FingerprintStore.bloomCount(spark, dir) >= 1)
    // crash window: fps moved aside, publish not yet done — a read-side
    // heal (the compact protocol) restores the aside
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/fps"),
      new org.apache.hadoop.fs.Path(s"$dir/.fps_precompact")))
    FingerprintStore.retract(spark, dir,
      Seq((0L, "another keeper")).toDF("doc_id", "text"), "text")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/fps")))
    assert(admitted(15L, "another keeper", "r5"))
    assert(!admitted(16L, "keep this page", "r6"))
    // a takedown that retracts the store's EVERY fingerprint (a small
    // shard of a sharded door hits this routinely): the store stays
    // readable, screens admit everything again, and a fresh seed extends it
    FingerprintStore.retract(spark, dir,
      Seq((0L, "takedown target"), (1L, "keep this page"),
        (2L, "another keeper")).toDF("doc_id", "text"), "text")
    assert(admitted(17L, "keep this page", "r7"),
      "an emptied store must admit everything again")
    assert(!admitted(18L, "keep this page", "r8"), "…and re-store it")
    FingerprintStore.compact(spark, dir) // compacting the small store works
    assert(!admitted(19L, "keep this page", "r9"))
  }

  /** Axis-separated test vectors for the semantic screen: unit mass on
    * `axis` plus `off` on `offAxis`. cos(e_a + x·e_b, e_a + y·e_c) stays
    * ≤ ~0.9 for distinct construction params, while a +0.01 nudge keeps
    * cos ≥ 0.9999 — clean margins on both sides of a 0.99 threshold. */
  private def semVec(axis: Int, off: Double, offAxis: Int): Seq[Double] =
    (0 until 16).map(i =>
      (if (i == axis) 1.0 else 0.0) + (if (i == offAxis) off else 0.0))
  private def semNudge(v: Seq[Double], axis: Int): Seq[Double] =
    v.zipWithIndex.map { case (x, i) => if (i == axis) x + 0.01 else x }
  /** Seed corpus for the screen's index: 8 axis clusters × 6 points, none
    * within cos 0.99 of any [[semVec]] the tests admit. */
  private def semInitial = (for (c <- 0 until 8; k <- 0 until 6) yield
    ((100 + c * 6 + k).toLong, semVec(c, 0.15 * k, (c + 1) % 8)))
    .toDF("vec_id", "embedding")

  test("full front door with semantic screen: the PARAPHRASE passes the fp " +
    "store and the signature screen but is rejected at the semantic screen") {
    import graft.operators.{AnnIndex, FingerprintStore, SignatureStore}
    // disjoint-window page design (see the signature-screen test): salts
    // 4/30/56 share zero shingles, so only the EMBEDDING ties a paraphrase
    // to its original
    def w(v: String, i: Int) = f"$v${i % 80}%02d"
    def doc(v: String, salt: Int) =
      (0 until 24).map(i => w(v, salt + i)).mkString(" ")
    def recrawl(v: String, salt: Int) =
      (0 until 23).map(i => w(v, salt + i)).mkString(" ") + " " + w(v, salt + 40)
    // fresh dir per run: the index is digest-keyed under the persistent
    // warehouse, and a prior run's epoch markers would suppress this one's
    val ivfDir = AnnIndex.ivfIndexDir(semInitial.toDF("doc_id", "embedding"),
      "mem://semscreen_door", "doc_id", "embedding", nlist = 8, iters = 3,
      seed = 42L,
      variant = s"door_${java.util.UUID.randomUUID().toString.take(8)}")
    val fpDir = java.nio.file.Files.createTempDirectory("semdoor_fp").toString
    val sigDir = java.nio.file.Files.createTempDirectory("semdoor_sig").toString
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val pastSig = scala.collection.mutable.ArrayBuffer[Long]()
    val pastFp = scala.collection.mutable.ArrayBuffer[Long]()
    val curEpoch = new java.util.concurrent.atomic.AtomicLong(-1L)
    val semScreen = AnnIndex.semanticScreenSink(spark, ivfDir, "doc_id",
      "embedding", threshold = 0.99, nprobe = 2, streamTag = "door") { df =>
      admitted ++= df.select("doc_id").collect().map(_.getLong(0))
    }
    val sigScreen = SignatureStore.screenSink(spark, sigDir, "doc_id",
      "text", threshold = 0.45, streamTag = "door") { df =>
      pastSig ++= df.select("doc_id").collect().map(_.getLong(0))
      semScreen(df, curEpoch.get())
    }
    val fpSink = FingerprintStore.dedupSink(spark, fpDir, "doc_id", "text",
      streamTag = "door") { df =>
      pastFp ++= df.select("doc_id").collect().map(_.getLong(0))
      sigScreen(df, curEpoch.get())
    }
    val v1 = semVec(0, 0.5, 2)
    val v2 = semVec(1, 0.5, 3)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Seq[Double])]
    val door: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (df, e) => { curEpoch.set(e); fpSink(df, e) }
    val query = mem.toDF().toDF("doc_id", "text", "embedding")
      .writeStream
      .foreachBatch(door)
      .start()
    try {
      // epoch 0: two novel pages
      mem.addData((1L, doc("alpha", 4), v1), (2L, doc("beta", 7), v2))
      query.processAllAvailable()
      // epoch 1: byte-identical re-delivery (fp kill), one-token re-crawl
      // (sig kill), PARAPHRASE — disjoint words, near-identical embedding
      // (semantic kill) — and a genuinely new page
      mem.addData(
        (3L, doc("alpha", 4), v1),
        (4L, recrawl("alpha", 4), semNudge(v1, 4)),
        (5L, doc("alpha", 56), semNudge(v1, 3)),
        (6L, doc("alpha", 30), semVec(7, 0.5, 5)))
      query.processAllAvailable()
    } finally query.stop()
    assert(pastFp.sorted.toSeq == Seq(1L, 2L, 4L, 5L, 6L),
      s"fp store admits everything but the byte-identical re-delivery: " +
        pastFp.mkString(","))
    assert(pastSig.sorted.toSeq == Seq(1L, 2L, 5L, 6L),
      s"sig screen admits the paraphrase (disjoint shingles): " +
        pastSig.mkString(","))
    assert(admitted.sorted.toSeq == Seq(1L, 2L, 6L),
      s"semantic screen must reject the paraphrase both text screens " +
        s"admitted: ${admitted.mkString(",")}")
    // the index holds vectors for admitted docs only (plus the seed corpus)
    val stored = AnnIndex.read(spark, ivfDir)
      .filter(col("cid") < 100L).select("cid")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(stored == Seq(1L, 2L, 6L), stored.mkString(","))
  }

  test("crash replay: fp store -> semantic screen recovers bit-identical " +
    "stores and never self-matches a replayed epoch") {
    // Screen-specific crash windows on a checkpointed file-source query:
    //  - sem-out (survivors delivered, NOTHING persisted): the replay
    //    re-probes an index WITHOUT the epoch's own vectors — it must
    //    recompute the SAME nonempty survivor set, never self-match;
    //  - accept-entry (nothing ran): plain whole-epoch replay;
    //  - post-commit (both stores + markers committed): replay is a no-op.
    import graft.operators.{AnnIndex, FingerprintStore}
    val vA = semVec(0, 0.5, 2)
    val vB = semVec(1, 0.5, 3)
    val vC = semVec(2, 0.5, 4)
    val vD = semVec(3, 0.5, 5)
    val epochs = Seq(
      Seq((1L, "page one about storks", vA),
        (3L, "page three about rivers", vB)),
      Seq((4L, "page four paraphrases page one", semNudge(vA, 6)),
        (5L, "page five about mills", vC)),
      Seq((7L, "page seven about bridges", vD),
        (9L, "page nine paraphrases page three", semNudge(vB, 6))))

    def runScenario(tag: String, crashPlan: Set[String]):
        (String, String, Set[Long]) = {
      val inDir = java.nio.file.Files.createTempDirectory(s"sem_in_$tag").toFile
      epochs.zipWithIndex.foreach { case (rows, i) =>
        val f = new java.io.File(inDir, f"b$i%02d.json")
        val js = rows.map { case (id, t, v) =>
          s"""{"doc_id":$id,"text":"$t","embedding":[${v.mkString(",")}]}"""
        }.mkString("\n")
        java.nio.file.Files.write(f.toPath, js.getBytes("UTF-8"))
        f.setLastModified(1700000000000L + i * 60000L)
      }
      val ckpt = java.nio.file.Files.createTempDirectory(s"sem_ck_$tag").toString
      val fpDir = java.nio.file.Files.createTempDirectory(s"sem_fp_$tag").toString
      // fresh dir per scenario run (see the front-door test note); restart
      // ATTEMPTS within the scenario reuse it — that is the recovery axis
      val ivfDir = AnnIndex.ivfIndexDir(semInitial, s"mem://semcrash_$tag",
        "vec_id", "embedding", nlist = 8, iters = 3, seed = 42L,
        variant = s"crash_${tag}_${java.util.UUID.randomUUID().toString.take(8)}")
      val crashed = scala.collection.mutable.Set[String]()
      def crashPoint(p: String): Unit =
        if (crashPlan.contains(p) && crashed.add(p))
          throw new RuntimeException(s"injected crash at $p")
      val admitted = scala.collection.mutable.Set[Long]()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType))))
      var done = false
      var attempts = 0
      while (!done && attempts < 8) {
        attempts += 1
        // fresh sinks per restart: blooms, heal sweeps, and centroids
        // reload from disk, exactly like a recovered driver process
        val curEpoch = new java.util.concurrent.atomic.AtomicLong(-1L)
        val semScreen = AnnIndex.semanticScreenSink(spark, ivfDir, "doc_id",
          "embedding", threshold = 0.99, nprobe = 2, streamTag = "cr") { df =>
          admitted ++= df.select("doc_id").collect().map(_.getLong(0))
          crashPoint(s"sem-out-${curEpoch.get()}")
        }
        val fpSink = FingerprintStore.dedupSink(spark, fpDir, "doc_id",
          "text", streamTag = "cr") { df =>
          semScreen(df, curEpoch.get())
        }
        val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
          (df, e) => {
            crashPoint(s"accept-entry-$e")
            curEpoch.set(e)
            fpSink(df, e)
            crashPoint(s"post-commit-$e")
          }
        val query = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .json(inDir.getAbsolutePath)
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch(sink)
          .start()
        try { query.processAllAvailable(); done = true }
        catch { case _: Throwable => () }
        finally { try query.stop() catch { case _: Throwable => () } }
      }
      assert(done, s"$tag: stream never completed after $attempts attempts")
      (fpDir, ivfDir, admitted.toSet)
    }

    val (fpC, ivfC, accC) = runScenario("crash", Set(
      "post-commit-0",  // everything committed; epoch replays as no-op
      "accept-entry-1", // nothing persisted; epoch recomputes from scratch
      "sem-out-2"))     // survivors delivered, vectors staged nowhere: the
                        // self-match window — replay must re-admit 7
    val (fpN, ivfN, accN) = runScenario("clean", Set.empty)

    def listRows(d: String) = AnnIndex.read(spark, d)
      .select("cid").collect().map(_.getLong(0)).sorted.toSeq
    def fpRows(d: String) = graft.operators.FingerprintStore.read(spark, d)
      .select("fp").collect().map(_.getLong(0)).sorted.toSeq
    assert(listRows(ivfC) == listRows(ivfN),
      s"index must match the uncrashed run: ${listRows(ivfC).mkString(",")}" +
        s" vs ${listRows(ivfN).mkString(",")}")
    assert(listRows(ivfC).distinct.size == listRows(ivfC).size,
      "no id may hold two index rows across replays")
    assert(fpRows(fpC) == fpRows(fpN),
      "fp store must match the uncrashed run exactly")
    assert(accC == accN, s"admitted sets must match: $accC vs $accN")
    // scenario sanity: paraphrases 4 and 9 die at the screen, never indexed
    assert(accN == Set(1L, 3L, 5L, 7L), accN.toString)
    assert(listRows(ivfN).filter(_ < 100L) == Seq(1L, 3L, 5L, 7L))
  }
}
