package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.AnnIndex

/** Measures the SEMANTIC screen's per-trigger probe cost against store size
  * — the [[BenchScreen]] discipline applied to the third front door
  * ([[AnnIndex.semanticScreenSink]]): probing the SAME micro-batch of
  * embeddings against an IVF index and a ~10× larger one, where the probe
  * reads ONLY the batch's nprobe nearest list partitions (static partition
  * filter, pinned structurally in AnnIndexSpec).
  *
  * Unlike the MinHash screen — whose bucket footprint is content-hash-sized
  * — an IVF probe's cost tracks the BYTES IN THE PROBED LISTS, and each
  * list grows linearly with the store. The measured ratio therefore
  * documents the real sizing rule, not a flatness miracle: with nlist
  * fixed, a 10× store makes each probed list ~10× deeper, and the
  * production knob is growing nlist with the corpus (the standard IVF
  * nlist ~ sqrt(N) rule; a rebuild under a new variant token). What must
  * NOT grow is the non-probed remainder's contribution — the pruning
  * guarantees the probe never scans the (nlist − touched)/nlist of the
  * store outside the batch's cells, so the ratio stays well under 10× for
  * a small batch touching a fraction of the lists.
  *
  * Setup mirrors BenchScreen: store S = copy-0 embeddings (the 1/10
  * slice), store L = all; fixed probe batch = near-dup re-encodes of
  * copy-0 vectors (+1e-3 nudge on one dim — flagged in BOTH stores, cos
  * ~1 vs the 0.95 copy-twin / 0.65 stranger ceilings) plus novel vectors
  * (flag nowhere). Times are min-of-`Reps` after an untimed warm probe.
  * Returns ONE JSON line (`graft.Bench semscreen` writes
  * BENCH_semscreen.json). */
object BenchSemScreen {
  private val Reps = 5
  private val Threshold = 0.99
  private val NList = 64
  private val NProbe = 4

  def run(spark: SparkSession): String = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/bench-sf1")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint()
    val small = emb.filter(col("vec_id") < ScaleCorpus.Offset)
      .localCheckpoint()

    val run = java.util.UUID.randomUUID().toString.take(8)
    val dirS = AnnIndex.ivfIndexDir(small, s"$sfDir/embeddings.parquet",
      "vec_id", "embedding", nlist = NList, iters = 3, seed = 42L,
      variant = s"semscr_small_$run")
    val dirL = AnnIndex.ivfIndexDir(emb, s"$sfDir/embeddings.parquet",
      "vec_id", "embedding", nlist = NList, iters = 3, seed = 42L,
      variant = s"semscr_large_$run")

    // fixed probe batch: 100 near-dup re-encodes of copy-0 vectors
    // (identical flag footprint in both stores) + 100 novel vectors
    val nearDups = small.orderBy("vec_id").limit(100)
      .select((col("vec_id") + 900000000L).as("vec_id"),
        transform(col("embedding").cast("array<double>"),
          (x, i) => x + when(i === 0, lit(1e-3)).otherwise(lit(0.0)))
          .as("embedding"))
    val novels = spark.range(100)
      .select((col("id") + 910000000L).as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          j => pmod(xxhash64(col("id"), j), lit(2000L)).cast("double")
            / 1000.0 - 1.0).as("embedding"))
    val batchL = nearDups.unionByName(novels).localCheckpoint()
    // 5 near-dups + 5 novels, derived by limit from each side — never by
    // hardcoded id windows, which assume copy-0 vec_ids start at 0
    val batchS = nearDups.orderBy("vec_id").limit(5)
      .unionByName(novels.orderBy("vec_id").limit(5))
      .localCheckpoint()

    def measure(dir: String,
                batch: org.apache.spark.sql.DataFrame): (Double, Long, Long) = {
      val stored = AnnIndex.read(spark, dir).count()
      AnnIndex.probeStoredVectors(spark, dir, batch, "vec_id", "embedding",
        Threshold, NProbe).count() // warm
      var flagged = 0L
      val t = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        flagged = AnnIndex.probeStoredVectors(spark, dir, batch, "vec_id",
          "embedding", Threshold, NProbe).count()
        (System.nanoTime() - t0) / 1e9
      }.min
      (t, stored, flagged)
    }

    def regime(name: String,
               batch: org.apache.spark.sql.DataFrame): String = {
      val nProbes = batch.count() // counted from the batch, never a label
      val (tS, rowsS, flagS) = measure(dirS, batch)
      val (tL, rowsL, flagL) = measure(dirL, batch)
      require(flagS == flagL && flagS > 0,
        s"$name: probe must flag the same near-dups in both stores: " +
          s"$flagS vs $flagL")
      require(rowsL == 10 * rowsS, s"store sizes: $rowsS vs $rowsL")
      f""""$name":{"probe_vecs":$nProbes,"flagged":$flagS,""" +
      f""""small_store_sec":$tS%.4f,"large_store_sec":$tL%.4f,""" +
      f""""probe_ratio":${tL / tS}%.3f}"""
    }

    val rows = AnnIndex.read(spark, dirS).count()
    f"""{"metric":"semantic_screen_probe","unit":"sec","sf":"$sfDir",""" +
      f""""nlist":$NList,"nprobe":$NProbe,"threshold":$Threshold,""" +
      f""""small_store_rows":$rows,"large_store_rows":${rows * 10},""" +
      f""""store_ratio":10.0,""" +
      regime("small_batch", batchS) + "," +
      regime("large_batch", batchL) + "}"
  }
}
