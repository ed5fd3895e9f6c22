package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SignatureStore}

/** Measures the signature screen's per-trigger FLATNESS in store size — the
  * empirical half of the claim the plan pin in DedupSimilaritySpec makes
  * structurally (both [[SignatureStore.probeStored]] store scans are
  * partition-pruned): probing the SAME micro-batch against a store and a
  * ~10× larger store must cost roughly the same wall time, because the
  * probe reads only the batch's colliding band buckets + candidate sig
  * shards, never the whole store.
  *
  * Setup: seed store S from the scale dir's copy-0 documents (doc_id below
  * [[ScaleCorpus.Offset]] — exactly the 1/10 slice) and store L from ALL
  * its documents. The probe batch is fixed: near-dup re-crawls of copy-0
  * docs (one appended token — collide in BOTH stores with identical
  * footprints) plus novel docs (collide in neither). Times are
  * min-of-`Reps` after an untimed warm probe per store (the
  * [[Bench]] steady-state discipline: first probe pays codegen + footer
  * reads).
  *
  * TWO probe sizes, because the pruning has two regimes:
  *  - `small_batch` (10 docs, 80 band hashes): touches a FRACTION of the
  *    256 bucket / 64 shard partitions — the regime the partition pruning
  *    targets; flat ⇒ ratio ≈ 1 within noise.
  *  - `large_batch` (200 docs, 1600 band hashes): saturates every
  *    partition, so pruning cannot bite and the probe's scan cost tracks
  *    the bytes in the touched partitions — the measured ratio documents
  *    the degradation and the knob: at production scale NumBuckets /
  *    NumShards must grow with the store so a trigger batch keeps touching
  *    a fraction (the same sizing rule as any LSH/IVF partition count).
  *
  * Returns ONE JSON line (`graft.Bench screen` writes BENCH_screen.json):
  * per-store sig rows and per-regime probe seconds + large/small-store
  * ratios. */
object BenchScreen {
  private val Reps = 5

  def run(spark: SparkSession): String = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/bench-sf1")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val small = docs.filter(col("doc_id") < ScaleCorpus.Offset)

    val dirS = Bench.tmp("scr_small")
    val dirL = Bench.tmp("scr_large")
    SignatureStore.seed(small, "doc_id", "text", dirS)
    SignatureStore.seed(docs, "doc_id", "text", dirL)

    // fixed probe batch: 100 one-token-changed re-crawls of copy-0 docs
    // (identical collision footprint in both stores) + 100 novel docs
    val recrawls = small.orderBy("doc_id").limit(100)
      .select((col("doc_id") + 900000000L).as("doc_id"),
        concat(col("text"), lit(" zzrecrawltail")).as("text"))
    val novels = spark.range(100)
      .select((col("id") + 910000000L).as("doc_id"),
        concat(lit("entirely novel probe page number "), col("id"),
          lit(" with words that never appeared in any stored document "),
          col("id") * 7919L).as("text"))
    val batchL = recrawls.unionByName(novels).localCheckpoint()
    // 5 re-crawls + 5 novels, derived by limit from each side — never by
    // hardcoded id windows, which assume copy-0 doc_ids start at 0
    val batchS = recrawls.orderBy("doc_id").limit(5)
      .unionByName(novels.orderBy("doc_id").limit(5))
      .localCheckpoint()
    def sigsOf(b: org.apache.spark.sql.DataFrame) =
      Dedup.minHashSignatures(b, "doc_id", "text", 32, 3).localCheckpoint()
    val sigsL = sigsOf(batchL)
    val sigsS = sigsOf(batchS)

    def measure(dir: String,
                sigs: org.apache.spark.sql.DataFrame): (Double, Long, Long) = {
      val stored = SignatureStore.read(spark, dir).count()
      SignatureStore.probeStored(spark, dir, sigs, 32, 8, 0.4).count() // warm
      var flagged = 0L
      val t = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        flagged = SignatureStore.probeStored(spark, dir, sigs, 32, 8, 0.4)
          .count()
        (System.nanoTime() - t0) / 1e9
      }.min
      (t, stored, flagged)
    }

    def regime(name: String, nDocs: Int,
               sigs: org.apache.spark.sql.DataFrame): String = {
      val (tS, rowsS, flagS) = measure(dirS, sigs)
      val (tL, rowsL, flagL) = measure(dirL, sigs)
      require(flagS == flagL && flagS > 0,
        s"$name: probe must flag the same re-crawls in both stores: " +
          s"$flagS vs $flagL")
      require(rowsL == 10 * rowsS, s"store sizes: $rowsS vs $rowsL")
      f""""$name":{"probe_docs":$nDocs,"flagged":$flagS,""" +
      f""""small_store_sec":$tS%.4f,"large_store_sec":$tL%.4f,""" +
      f""""probe_ratio":${tL / tS}%.3f}"""
    }

    val rows = SignatureStore.read(spark, dirS).count()
    f"""{"metric":"screen_probe_flatness","unit":"sec","sf":"$sfDir",""" +
      f""""small_store_rows":$rows,"large_store_rows":${rows * 10},""" +
      f""""store_ratio":10.0,""" +
      regime("small_batch", 10, sigsS) + "," +
      regime("large_batch", 200, sigsL) + "}"
  }
}
