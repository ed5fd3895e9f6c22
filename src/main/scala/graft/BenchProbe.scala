package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Bm25Store, LmStore}

/** Measures the TEXT-INDEX probes' per-call flatness in store size — the
  * [[BenchScreen]] methodology applied to the round-12 stores: probing the
  * SAME fixed input against a store and a ~10× larger store must cost
  * roughly the same wall time, because both probes carry static word-hash
  * partition filters (`wb IN (...)` for the BM25 postings/df scans, the
  * prev-hash buckets for the LM count scans — both plan-pinned in their
  * specs) and read only the input's buckets, never the whole store.
  *
  * Setup mirrors BenchScreen: store S seeds from the scale dir's copy-0
  * documents (the 1/10 slice), store L from ALL documents. The BM25 probe
  * is a fixed 8-query batch; the LM probe scores a fixed 50-doc batch.
  * Both regimes touch a term/bucket footprint FIXED by the input — so the
  * cost that is allowed to grow with the store is only the bytes inside
  * the touched buckets (≈10× rows per bucket in L, but the scored
  * postings/count rows per term stay bounded by the input's vocabulary).
  * Times are min-of-`Reps` after an untimed warm probe per store.
  *
  * Returns ONE JSON line (`graft.Bench probe` writes BENCH_probe.json). */
object BenchProbe {
  private val Reps = 5

  def run(spark: SparkSession): String = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/bench-sf1")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val small = docs.filter(col("doc_id") < ScaleCorpus.Offset)

    val bmS = Bench.tmp("bm_small")
    val bmL = Bench.tmp("bm_large")
    Bm25Store.seed(small, "doc_id", "text", bmS)
    Bm25Store.seed(docs, "doc_id", "text", bmL)
    val lmS = Bench.tmp("lm_small")
    val lmL = Bench.tmp("lm_large")
    LmStore.seed(small, "doc_id", "text", lmS)
    LmStore.seed(docs, "doc_id", "text", lmL)
    // measure the steady state: a production store is compacted (the
    // AutoCompact hook keeps it so) — seeding alone leaves one part file
    // per shuffle task per partition, and the probe's footer reads would
    // measure file-count growth, not row growth
    Seq(bmS, bmL).foreach(Bm25Store.compact(spark, _))
    Seq(lmS, lmL).foreach(LmStore.compact(spark, _))

    // fixed probes: 8 BM25 term queries drawn from the corpus's own tokens
    // (identical postings footprint in both stores up to the stored-rows
    // growth); 50 fixed docs re-scored against the LM counts
    val qs = small
      .select(explode(graft.functions.TextFns.normTokens(
        graft.functions.TextFns.cleanText(col("text"),
          removePunctuation = true))).as("w"))
      .filter(length(col("w")) > 3)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("w")).limit(16)
      .collect().map(_.getString(0))
    require(qs.length >= 16,
      s"BenchProbe: corpus at $sfDir has only ${qs.length} distinct >3-char " +
        "tokens — the fixed 8x2-term probe needs 16")
    val bmQueries = (0 until 8).map(i =>
      (i.toLong, s"${qs(2 * i)} ${qs(2 * i + 1)}"))
    val lmBatch = small.orderBy("doc_id").limit(50).localCheckpoint()

    def timeIt(warmAndRun: () => Long): (Double, Long) = {
      warmAndRun() // untimed warm: codegen + footer reads
      var rows = 0L
      val t = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        rows = warmAndRun()
        (System.nanoTime() - t0) / 1e9
      }.min
      (t, rows)
    }

    def regime(name: String, dirS: String, dirL: String,
               run: String => Long): String = {
      val (tS, rS) = timeIt(() => run(dirS))
      val (tL, rL) = timeIt(() => run(dirL))
      require(rS > 0 && rL > 0, s"$name: empty probe result")
      f""""$name":{"rows_small":$rS,"rows_large":$rL,""" +
      f""""small_store_sec":$tS%.4f,"large_store_sec":$tL%.4f,""" +
      f""""probe_ratio":${tL / tS}%.3f}"""
    }

    // LM regimes ([[BenchScreen]]'s two-regime structure): a 5-doc batch's
    // bigram vocab touches a fraction of the count buckets — the pruned
    // regime; the 50-doc batch saturates them, so its cost tracks the rows
    // inside the touched buckets and the measured ratio documents the
    // degradation + the sizing knob (bucket fan-out must grow with the
    // store so a trigger batch keeps touching a fraction).
    val lmSmallBatch = small.orderBy("doc_id").limit(5).localCheckpoint()
    // narrow-vocab regime: 5 docs over a 4-word vocabulary touch ≤ 4 of the
    // 64 prev-hash buckets — the regime where the partition filter bites
    // regardless of store size (natural-language batches saturate a 64-way
    // fan-out with their prev-vocab alone; at production store sizes the
    // fan-out grows so a trigger batch keeps touching a fraction)
    val narrowBatch = spark.range(5)
      .select((col("id") + 950000000L).as("doc_id"),
        lit("alpha beta gamma delta alpha beta gamma delta alpha beta")
          .as("text"))
      .localCheckpoint()

    val bm = regime("bm25_probe", bmS, bmL,
      d => Bm25Store.probeStored(spark, d, bmQueries, k = 5).count())
    // catalog-overhead CONTROL: a transition-less batch names zero buckets
    // (`lit(false)` filter — zero rows read), so this prices the per-call
    // fixed costs alone: file-index builds for the three store tables +
    // job scheduling. Diagnosed (ProbeDiag, r13): at these store sizes the
    // per-call wall is dominated by exactly that — inside the big store a
    // whole-bucket scan costs the same as a 0-row pruned scan — and the
    // file count it tracks is CEILINGED at the 64-bucket fan-out (the
    // small seed populates ~25 buckets, the big one all 64; two at-scale
    // stores both sit at the ceiling). The honest flatness number is
    // therefore work = probe − control, reported per regime.
    val noTrans = spark.range(1)
      .select((col("id") + 960000000L).as("doc_id"), lit("word").as("text"))
      .localCheckpoint()
    def lmRun(d: String, b: org.apache.spark.sql.DataFrame): Long =
      LmStore.scoreStored(spark, d, b, "doc_id", "text").count()
    val (ctlS, _) = timeIt(() => lmRun(lmS, noTrans))
    val (ctlL, _) = timeIt(() => lmRun(lmL, noTrans))

    def lmRegime(name: String, b: org.apache.spark.sql.DataFrame): String = {
      val (tS, rS) = timeIt(() => lmRun(lmS, b))
      val (tL, rL) = timeIt(() => lmRun(lmL, b))
      require(rS > 0 && rL > 0, s"$name: empty probe result")
      // RAW control-subtracted deltas, signed: when the 0-row control is
      // slower than the measured probe the regime is control-dominated —
      // data work is below the fixed-cost noise floor and a work_ratio
      // would be fabricated, so it is flagged instead of clamped (r13
      // ADVICE: math.max(1e-4, ·) manufactured 1.000 flatness).
      val wS = tS - ctlS; val wL = tL - ctlL
      val dominated = wS <= 0 || wL <= 0
      val ratioField =
        if (dominated) """"control_dominated":true"""
        else f""""work_ratio":${wL / wS}%.3f"""
      f""""$name":{"rows_small":$rS,"rows_large":$rL,""" +
      f""""small_store_sec":$tS%.4f,"large_store_sec":$tL%.4f,""" +
      f""""probe_ratio":${tL / tS}%.3f,""" +
      f""""work_small_sec":$wS%.4f,"work_large_sec":$wL%.4f,""" +
      ratioField + "}"
    }

    val lmNv = lmRegime("lm_score_narrow_vocab", narrowBatch)
    val lmSm = lmRegime("lm_score_small_batch", lmSmallBatch)
    val lm = lmRegime("lm_score_large_batch", lmBatch)

    f"""{"metric":"text_index_probe_flatness","unit":"sec","sf":"$sfDir",""" +
      f""""store_ratio":10.0,""" +
      f""""lm_catalog_control":{"small_store_sec":$ctlS%.4f,""" +
      f""""large_store_sec":$ctlL%.4f},$bm,$lmNv,$lmSm,$lm}"""
  }
}
