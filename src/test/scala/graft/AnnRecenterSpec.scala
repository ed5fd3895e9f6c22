package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIndex, Drift}

/** The drift-triggered self-recentering semantic screen
  * ([[AnnIndex.recenteringScreenSink]]): a planted embedding-distribution
  * shift must fire the DDM and rebuild the index IN PLACE (staged
  * lists+centroids swap), after which a paraphrase of the drifted content
  * is still killed and every stored row's assignment is consistent with
  * the new centroids. Crash windows ride the Takedown protocol: a
  * committed-but-unswapped rebuild finishes at the next mount, a
  * pre-commit orphan stage is discarded. */
class AnnRecenterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def vec(axis: Int, off: Double, offAxis: Int): Seq[Double] =
    (0 until 16).map(i =>
      (if (i == axis) 1.0 else 0.0) + (if (i == offAxis) off else 0.0))
  private def nudge(v: Seq[Double], axis: Int): Seq[Double] =
    v.zipWithIndex.map { case (x, i) => if (i == axis) x + 0.01 else x }

  // in-distribution seed: axes 0..7 (the FrontDoorSpec design)
  private def mkIndex(tag: String): String = {
    val seed = (for (c <- 0 until 8; k <- 0 until 6) yield
      ((100 + c * 6 + k).toLong, vec(c, 0.15 * k, (c + 1) % 8)))
      .toDF("doc_id", "embedding")
    AnnIndex.ivfIndexDir(seed, s"mem://recenter_$tag", "doc_id", "embedding",
      nlist = 8, iters = 3, seed = 42L,
      variant = s"${tag}_${java.util.UUID.randomUUID().toString.take(8)}")
  }

  // drifted distribution: axes 8..15, unique (axis, offAxis) combos so no
  // pair is a semantic near-dup (same-axis pairs sit at cos = 0.8) while
  // every one misses the axes-0..7 centroids entirely (cos 0 < fitCosine)
  private def drifted(g: Int): (Long, Seq[Double]) =
    (2000L + g, vec(8 + g % 8, 0.5, 8 + (g % 8 + 1 + g / 8) % 8))

  test("planted distribution shift fires the DDM, the index recenters in " +
    "place, and a paraphrase of drifted content is killed post-rebuild") {
    val dir = mkIndex("rc1")
    val rebuilds = scala.collection.mutable.ArrayBuffer[Long]()
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val sink = AnnIndex.recenteringScreenSink(spark, dir, "doc_id",
      "embedding", threshold = 0.99, nprobe = 2, streamTag = "rc",
      fitCosine = 0.7, minErrRate = 0.3,
      onRebuild = e => { rebuilds += e; () }) { df =>
      admitted ++= df.select("doc_id").collect().map(_.getLong(0))
    }
    // trigger 0: 20 in-distribution docs — the DDM's clean baseline
    // (distinct off-axis from the seeds, so none is a semantic dup)
    val base = (0 until 20).map(i =>
      (1000L + i, vec(i % 8, 0.3 + 0.01 * i, (i + 3) % 8)))
    sink(base.toDF("doc_id", "embedding"), 0L)
    assert(admitted.size == 20 && rebuilds.isEmpty)
    // triggers 1-2: drifted docs — all quantization misses; DDM warm-up
    // (30 samples) completes during trigger 1, the drift level during 2
    sink((0 until 15).map(drifted).toDF("doc_id", "embedding"), 1L)
    assert(rebuilds.isEmpty, "drift must not fire inside the warm-up window")
    sink((15 until 30).map(drifted).toDF("doc_id", "embedding"), 2L)
    assert(rebuilds.toSeq == Seq(2L),
      s"the shift must fire exactly one rebuild: ${rebuilds.mkString(",")}")
    assert(admitted.size == 50, "every drifted doc is novel → admitted")

    // post-rebuild: every stored row's list assignment is the nearest NEW
    // centroid (the staged swap left no stale assignment behind)
    val cents = spark.read.parquet(s"$dir/centroids").orderBy("list_id")
      .select(col("cvec").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val rows = AnnIndex.read(spark, dir)
      .select(col("list_id").cast("int"), col("cid"),
        col("cvec").cast("array<double>")).collect()
    assert(rows.length == 48 + 50)
    rows.foreach { r =>
      val v = r.getSeq[Double](2).toArray
      def cos(c: Array[Double]) = {
        val dot = v.zip(c).map { case (a, b) => a * b }.sum
        dot / (math.sqrt(v.map(x => x * x).sum) *
          math.sqrt(c.map(x => x * x).sum))
      }
      val best = (1 to cents.length).maxBy(l => cos(cents(l - 1)))
      assert(r.getInt(0) == best,
        s"cid ${r.get(1)}: stored in list ${r.getInt(0)}, nearest is $best")
    }

    // trigger 3: a paraphrase of a drifted doc (admitted pre-rebuild) must
    // be killed by the recentered probe; a genuinely new drifted-axis doc
    // admits — and, post-reset, must not re-fire the detector
    admitted.clear()
    val para = nudge(drifted(0)._2, 0)
    val novel = (9000L, vec(8, 0.5, 14))
    sink(Seq((3000L, para), novel).toDF("doc_id", "embedding"), 3L)
    assert(admitted.toSeq == Seq(9000L),
      s"paraphrase must die, novel must admit: ${admitted.mkString(",")}")
    assert(rebuilds.toSeq == Seq(2L))

    // a re-delivered epoch is a marker skip: no admissions, no DDM feed
    admitted.clear()
    sink((0 until 15).map(drifted).toDF("doc_id", "embedding"), 1L)
    assert(admitted.isEmpty && rebuilds.toSeq == Seq(2L))
  }

  private def mix(a: Long, b: Long): Double =
    (Math.floorMod(a * 2654435761L + b * 40503L + 12345L, 100000L)
      .toDouble / 100000.0 - 0.5) * 2.0

  test("recenterPq: after a planted embedding drift the PQ index recenters " +
    "in place — coarse cells, codebook and codes all retrain, and recall " +
    "over the drifted population recovers to >= 0.9") {
    // 8 in-distribution clusters in [-1,1]^16 (the AnnIndexSpec family)
    val base = (for (c <- 0 until 8; p <- 0 until 40) yield {
      val id = (c * 40 + p).toLong
      (id, (0 until 16).map(i =>
        mix(c * 31L + 7, i) + 0.1 * mix(id * 131L + 3, i)))
    }).toDF("vec_id", "embedding").cache()
    val dir = AnnIndex.ivfPqIndexDir(base, "mem://pq_recenter", "vec_id",
      "embedding", nlist = 8, m = 8, ksub = 16, iters = 3, seed = 42L,
      variant = s"pqrc_${java.util.UUID.randomUUID().toString.take(8)}")
    val cbBefore = spark.read.parquet(s"$dir/codebook")
      .orderBy("b", "j").collect().map(_.toString).toSeq

    // planted drift: 8 NEW clusters at 3× the magnitude with fresh
    // directional patterns (no common offset — cosine identity per cluster
    // stays crisp) — appended through the live appender, so their codes
    // encode residuals against the STALE coarse centroids (the decay
    // recenterPq exists to repair: far cells + codewords that never
    // covered this region)
    val drifted = (for (c <- 0 until 8; p <- 0 until 25) yield {
      val id = (1000 + c * 25 + p).toLong
      (id, (0 until 16).map(i =>
        3.0 * mix(c * 77L + 13, i) + 0.1 * mix(id * 131L + 3, i)))
    }).toDF("vec_id", "embedding").cache()
    val append = AnnIndex.ivfPqAppender(spark, dir, "vec_id", "embedding")
    (0 until 5).foreach(e =>
      append(drifted.filter(pmod(col("vec_id"), lit(5)) === e), e.toLong))
    val corpus = base.union(drifted).cache()
    val queries = drifted.filter(col("vec_id") % 25 === 0)

    def recall(): Double = {
      val exact = graft.operators.Similarity.bruteForceTopK(queries, corpus,
          "vec_id", "vec_id", "embedding", k = 10)
        .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
      val approx = AnnIndex.queryIvfPq(spark, dir, corpus, queries,
          "vec_id", "vec_id", "embedding", k = 10, nprobe = 2, rerank = 50)
        .select("qid", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.count(approx.contains).toDouble / exact.length
    }
    val pre = recall()
    val newCents = AnnIndex.recenterPq(spark, dir, kmIters = 3, seed = 7L)
    assert(newCents.length == 8, "nlist is preserved across a recenter")
    val post = recall()
    assert(post >= 0.9, s"post-recenter recall $post < 0.9 (pre was $pre)")

    // the swap retrained all three sub-tables: codebook rows changed, the
    // lists still hold ONLY codes, row count intact, and no residue
    assert(spark.read.parquet(s"$dir/codebook").orderBy("b", "j")
      .collect().map(_.toString).toSeq != cbBefore, "codebook must retrain")
    assert(AnnIndex.read(spark, dir).columns.toSet ==
      (Set("list_id", "cid") ++ (0 until 8).map(b => s"c$b")))
    assert(AnnIndex.read(spark, dir).count() == 320L + 200L)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$dir/.retract_stage")) &&
      !fs.exists(new Path(s"$dir/_retract_pending")))
    Seq(base, drifted, corpus).foreach(_.unpersist())
  }

  test("recenteringPqAppender: planted drift arriving through the live " +
    "appender fires exactly one in-place rebuild, recall over the drifted " +
    "population recovers, and re-delivered epochs feed nothing") {
    val base = (for (c <- 0 until 8; p <- 0 until 40) yield {
      val id = (c * 40 + p).toLong
      (id, (0 until 16).map(i =>
        mix(c * 31L + 7, i) + 0.1 * mix(id * 131L + 3, i)))
    }).toDF("vec_id", "embedding").cache()
    val dir = AnnIndex.ivfPqIndexDir(base, "mem://pq_autorc", "vec_id",
      "embedding", nlist = 8, m = 8, ksub = 16, iters = 3, seed = 42L,
      variant = s"pqau_${java.util.UUID.randomUUID().toString.take(8)}")
    val rebuilds = scala.collection.mutable.ArrayBuffer[Long]()
    val sink = AnnIndex.recenteringPqAppender(spark, dir, "vec_id",
      "embedding", fitCosine = 0.7, minErrRate = 0.3,
      onRebuild = e => { rebuilds += e; () })
    // trigger 0: 20 fresh IN-distribution points — the clean baseline
    val fresh = (0 until 20).map { i =>
      val id = 3000L + i
      (id, (0 until 16).map(j =>
        mix((i % 8) * 31L + 7, j) + 0.1 * mix(id * 131L + 3, j)))
    }
    sink(fresh.toDF("vec_id", "embedding"), 0L)
    assert(rebuilds.isEmpty)
    // the drifted population (the recenterPq fixture's 8 scaled clusters)
    val driftedRows = (for (c <- 0 until 8; p <- 0 until 25) yield {
      val id = (1000 + c * 25 + p).toLong
      (id, (0 until 16).map(i =>
        3.0 * mix(c * 77L + 13, i) + 0.1 * mix(id * 131L + 3, i)))
    })
    sink(driftedRows.slice(0, 15).toDF("vec_id", "embedding"), 1L)
    assert(rebuilds.isEmpty, "no fire inside the DDM warm-up window")
    sink(driftedRows.slice(15, 30).toDF("vec_id", "embedding"), 2L)
    assert(rebuilds.toSeq == Seq(2L),
      s"exactly one rebuild: ${rebuilds.mkString(",")}")
    // trigger 3 ships the REST of the drifted population. The first
    // rebuild trained on only 30 drifted reconstructions among 370 — under
    // CONTINUING drift the detector may legitimately re-fire once more and
    // retrain with the drifted mass now dominant; what must hold is that
    // the fires all trace to this shift (none before it, none after the
    // store absorbs it below).
    sink(driftedRows.slice(30, 200).toDF("vec_id", "embedding"), 3L)
    assert(rebuilds.head == 2L && rebuilds.size <= 2,
      s"rebuilds must trace to the shift: ${rebuilds.mkString(",")}")
    val rebuildsAfterShift = rebuilds.size

    val drifted = driftedRows.toDF("vec_id", "embedding").cache()
    val corpus = base
      .union(fresh.toDF("vec_id", "embedding")).union(drifted).cache()
    val queries = drifted.filter(col("vec_id") % 25 === 0)
    val exact = graft.operators.Similarity.bruteForceTopK(queries, corpus,
        "vec_id", "vec_id", "embedding", k = 10)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val approx = AnnIndex.queryIvfPq(spark, dir, corpus, queries,
        "vec_id", "vec_id", "embedding", k = 10, nprobe = 2, rerank = 50)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.length
    assert(recall >= 0.9, s"post-auto-recenter recall $recall < 0.9")

    // a small in-regime trigger post-absorption: appended, no new fire
    sink(Seq(
      (9000L, (0 until 16).map(i => 3.0 * mix(2 * 77L + 13, i) + 0.02)),
      (9001L, (0 until 16).map(i => 3.0 * mix(5 * 77L + 13, i) - 0.02)))
      .toDF("vec_id", "embedding"), 4L)
    assert(rebuilds.size == rebuildsAfterShift,
      "an in-regime trigger must not re-fire the reset detector")

    // re-delivered epoch: marker skip — no rows doubled, no detector feed
    val rows = AnnIndex.read(spark, dir).count()
    sink(driftedRows.slice(0, 15).toDF("vec_id", "embedding"), 1L)
    assert(AnnIndex.read(spark, dir).count() == rows &&
      rebuilds.size == rebuildsAfterShift)
    Seq(base, drifted, corpus).foreach(_.unpersist())
  }

  test("Ddm.addRun ≡ an addElement loop: bit-identical state and fire " +
    "decisions on the recentering sink's two-segment feed shape") {
    // the planted-shift scenario's feed (clean triggers, then drifted ones)
    // plus mixed segments spanning warm-up, min-updates, W and D zones
    val segments = Seq((0.0, 20L), (0.0, 15L), (1.0, 15L), (1.0, 15L),
      (0.0, 2L), (1.0, 1L), (0.0, 40L), (1.0, 3L), (0.0, 25L), (1.0, 60L),
      (0.0, 1L), (1.0, 200L))
    val viaRun = new Drift.Ddm()
    val viaLoop = new Drift.Ddm()
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    segments.zipWithIndex.foreach { case ((x, k), i) =>
      val firedRun = viaRun.addRun(x, k)
      var firedLoop = false
      (1L to k).foreach(_ =>
        if (viaLoop.addElement(x) == "D") firedLoop = true)
      assert(firedRun == firedLoop, s"segment $i: fire decision diverged")
      assert(viaRun.sampleCount == viaLoop.sampleCount &&
        bits(viaRun.missProb) == bits(viaLoop.missProb) &&
        bits(viaRun.missStd) == bits(viaLoop.missStd) &&
        bits(viaRun.missProbMin) == bits(viaLoop.missProbMin) &&
        bits(viaRun.missSdMin) == bits(viaLoop.missSdMin) &&
        bits(viaRun.missProbSdMin) == bits(viaLoop.missProbSdMin) &&
        viaRun.inWarningZone == viaLoop.inWarningZone &&
        viaRun.inConceptChange == viaLoop.inConceptChange,
        s"segment $i: detector state diverged")
    }
    // the scenario must actually exercise a drift fire, not just clean runs
    val check = new Drift.Ddm()
    assert(segments.exists { case (x, k) => check.addRun(x, k) },
      "feed shape never fired — parity would be vacuous")
  }

  test("recenter crash windows: a committed rebuild heals at the next " +
    "mount; a pre-commit orphan stage is discarded") {
    val dir = mkIndex("rc2")
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // hand-crafted COMMITTED rebuild residue: staged lists + recognizable
    // staged centroids, marker naming both subs — the state a crash right
    // after the marker commit leaves behind
    val stage = s"$dir/.retract_stage"
    val staged = (1 to 8).map(l => (l, vec(7 + l, 0.25, 8).map(_ * 2.0)))
    staged.toDF("list_id", "cvec").coalesce(1)
      .write.parquet(s"$stage/centroids")
    spark.read.parquet(s"$dir/lists")
      .write.partitionBy("list_id").parquet(s"$stage/lists")
    val out = fs.create(new Path(s"$dir/_retract_pending"), true)
    try out.write("lists,centroids".getBytes("UTF-8")) finally out.close()

    AnnIndex.recenteringScreenSink(spark, dir, "doc_id", "embedding",
      threshold = 0.99, streamTag = "rch1")(_ => ())
    val healed = spark.read.parquet(s"$dir/centroids").orderBy("list_id")
      .select(col("cvec").cast("array<double>")).collect()
      .map(_.getSeq[Double](0))
    assert(healed.toSeq == staged.map(_._2),
      "mount must finish the committed swap")
    assert(!fs.exists(new Path(stage)))

    // pre-commit orphan: a stage with NO marker is discarded at mount and
    // the live tables stay exactly as they were
    Seq((1, Seq.fill(16)(9.9))).toDF("list_id", "cvec").coalesce(1)
      .write.parquet(s"$stage/centroids")
    AnnIndex.recenteringScreenSink(spark, dir, "doc_id", "embedding",
      threshold = 0.99, streamTag = "rch2")(_ => ())
    assert(!fs.exists(new Path(stage)))
    val after = spark.read.parquet(s"$dir/centroids").orderBy("list_id")
      .select(col("cvec").cast("array<double>")).collect()
      .map(_.getSeq[Double](0))
    assert(after.toSeq == staged.map(_._2))
  }
}
