package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SignatureStore}

/** Skew proof for the SIGNATURE-shaped hot keys — the two skew-sensitive
  * shapes BENCH_skew's lang/source corpus cannot reach (r15 verdict #5):
  *
  *  1. The value-level hamming block join ([[Dedup.hammingPairsFromSigs]])
  *     under a planted single-signature cluster: 80 % of rows share ONE
  *     64-bit value (the templated-corpus / re-encoded-image shape). With
  *     the `maxBlockDf` cap engaged the hot value's blocks drop before the
  *     bucket self-join, so capped wall time on the clustered frame must
  *     sit within the ≤ 1.3 bar of the uniform frame at identical volume —
  *     for BOTH block layouts the engine ships (4×16 text simhash,
  *     3×21 perceptual dHash). The UNCAPPED run on a clustered frame is
  *     measured at reduced volume and reported with its pair count: its
  *     cost is the C(0.8N, 2) OUTPUT itself — inherent to all-pairs
  *     semantics, which is exactly why the cap exists (the documented
  *     recall trade: only pairs whose every shared block is hot are lost).
  *
  *  2. The signature-store band probe ([[SignatureStore.probeStored]])
  *     against a TEMPLATED store: 80 % of stored docs share a 40-word
  *     template, so per band ~40 % of the family concentrates on one
  *     band-hash value and every colliding probe verifies against the
  *     whole family. Measured four ways at identical store volume —
  *     uniform/templated × cap ∞/`maxBandDf` — the capped templated probe
  *     must sit within ≤ 1.3 of the uniform probe, the uncapped templated
  *     probe documents the attack, and a planted exact re-delivery of a
  *     NON-template doc must flag in every configuration (its band groups
  *     are cold — the cap's recall trade never touches it).
  *
  * Returns ONE JSON line (`graft.Bench skew_sig` writes
  * BENCH_skew_sig.json). Synthetic frames — no scale dir needed. */
object BenchSkewSig {
  private val Reps = 3
  private val HammingN = 200000L
  private val HammingSmallN = 10000L
  private val BlockCap = 1000
  private val HotSig = 0x5a5a1234abcdL
  private val StoreDocs = 200000L
  private val BandCap = 200
  private val Threshold = 0.7

  def run(spark: SparkSession): String = {
    def minOf(body: => Long): (Double, Long) = {
      body // warm
      var n = 0L
      val t = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        n = body
        (System.nanoTime() - t0) / 1e9
      }.min
      (t, n)
    }

    // ------------------------------------------------ hamming value join
    def sigFrame(n: Long, clustered: Boolean): DataFrame = {
      val sig = if (clustered)
        when(pmod(col("id"), lit(5L)) < 4L, lit(HotSig))
          .otherwise(xxhash64(col("id")))
      else xxhash64(col("id"))
      spark.range(n).select(col("id"), sig.as("simhash")).localCheckpoint()
    }
    val uni = sigFrame(HammingN, clustered = false)
    val clu = sigFrame(HammingN, clustered = true)

    def hammingJson(name: String, maxHamming: Int, numBlocks: Int): String = {
      val (tU, _) = minOf(Dedup.hammingPairsFromSigs(uni, maxHamming,
        BlockCap, numBlocks).count())
      val (tC, pairs) = minOf(Dedup.hammingPairsFromSigs(clu, maxHamming,
        BlockCap, numBlocks).count())
      f""""$name":{"rows":$HammingN,"cap":$BlockCap,""" +
      f""""uniform_sec":$tU%.3f,"clustered_sec":$tC%.3f,""" +
      f""""clustered_pairs":$pairs,"ratio":${tC / tU}%.3f}"""
    }
    val h416 = hammingJson("hamming_capped_4x16", 3, 4)
    val h321 = hammingJson("hamming_capped_3x21", 2, 3)
    // the uncapped clustered cost IS the quadratic pair output — measured
    // at reduced volume and reported, never silently skipped
    val uniS = sigFrame(HammingSmallN, clustered = false)
    val cluS = sigFrame(HammingSmallN, clustered = true)
    val (tUu, pU) = minOf(Dedup.hammingPairsFromSigs(uniS, 3).count())
    val (tCu, pC) = minOf(Dedup.hammingPairsFromSigs(cluS, 3).count())
    val hUnc =
      f""""hamming_uncapped_10k":{"rows":$HammingSmallN,""" +
      f""""uniform_sec":$tUu%.3f,"uniform_pairs":$pU,""" +
      f""""clustered_sec":$tCu%.3f,"clustered_pairs":$pC}"""

    // ------------------------------------------------ band probe vs store
    def words(prefix: String, n: Int): org.apache.spark.sql.Column =
      concat_ws(" ", (0 until n).map(j => concat(lit(s"$prefix"),
        col("id"), lit(s"w$j"))): _*)
    val template = (0 until 40).map(k => s"tmplw$k").mkString(" ")
    // uniform store: every doc 30 unique words — the SAME generator as the
    // templated store's unique branch, so the re-delivery target X exists
    // in BOTH stores and the flag invariant holds in every configuration
    val uniStore = spark.range(StoreDocs)
      .select(col("id").as("doc_id"), words("x", 30).as("text"))
      .localCheckpoint()
    // templated store: 80 % = template + 12 unique words; 20 % unique.
    // doc 0 (unique branch is ids % 5 == 4) is the re-delivery target X
    val hotStore = spark.range(StoreDocs)
      .select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(5L)) < 4L,
          concat(lit(template + " "), words("f", 12)))
          .otherwise(words("x", 30)).as("text"))
      .localCheckpoint()
    val xText = hotStore.filter(col("doc_id") === 4L)
      .select("text").head().getString(0) // ids ≡ 4 (mod 5): unique branch
    val uniDir = Bench.tmp("sks_uni")
    val hotDir = Bench.tmp("sks_hot")
    SignatureStore.seed(uniStore, "doc_id", "text", uniDir)
    SignatureStore.seed(hotStore, "doc_id", "text", hotDir)
    // probe: 50 fresh template-family docs + 49 novels + X re-delivered
    val probes = spark.range(50L)
      .select((col("id") + 900000000L).as("doc_id"),
        concat(lit(template + " "), words("pf", 12)).as("text"))
      .unionByName(spark.range(49L)
        .select((col("id") + 910000000L).as("doc_id"),
          words("pn", 30).as("text")))
      .unionByName(spark.range(1L)
        .select(lit(920000000L).as("doc_id"), lit(xText).as("text")))
    val probeSigs = Dedup.minHashSignatures(probes, "doc_id", "text", 32, 3)
      .localCheckpoint()

    def probeJson(name: String, dir: String, cap: Int): (String, Double) = {
      var flaggedX = false
      val (t, flagged) = minOf {
        val res = SignatureStore.probeStored(spark, dir, probeSigs, 32, 8,
          Threshold, maxBandDf = cap).localCheckpoint()
        flaggedX = res.filter(col("doc_id") === 920000000L).count() == 1L
        res.count()
      }
      require(flaggedX,
        s"$name: the re-delivered cold-band doc must flag (cap=$cap)")
      (f""""$name":{"sec":$t%.3f,"flagged":$flagged}""", t)
    }
    val (jUU, tUU) = probeJson("probe_uniform", uniDir, Int.MaxValue)
    val (jUC, _) = probeJson("probe_uniform_capped", uniDir, BandCap)
    val (jHU, tHU) = probeJson("probe_templated_uncapped", hotDir,
      Int.MaxValue)
    val (jHC, tHC) = probeJson("probe_templated_capped", hotDir, BandCap)

    // APPEND-GROWN templated store (r16 verdict #5): identical final
    // content to hotDir, but the template family arrives through the
    // APPENDER with compaction disabled — no full-scan census refresh ever
    // runs, so only the per-epoch incremental census fold can surface the
    // hot bands to the capped probe. Before the fold existed this probe
    // measured at the uncapped figure until the next compact.
    val appDir = Bench.tmp("sks_app")
    SignatureStore.seed(hotStore.filter(pmod(col("doc_id"), lit(5L)) === 4L),
      "doc_id", "text", appDir)
    val appSink = SignatureStore.appender(spark, appDir, "doc_id", "text",
      streamTag = "sks", autoCompactEvery = 1000000)
    (0 until 4).foreach(e =>
      appSink(hotStore.filter(pmod(col("doc_id"), lit(5L)) === e), e.toLong))
    // capped vs uncapped on the SAME append-grown store separates the two
    // costs: the epoch-file fragmentation (flat across both, cured by the
    // compact this scenario deliberately withholds) vs the hot-family
    // candidate explosion (what the census-answered cap removes)
    val (jAC, tAC) = probeJson("probe_append_grown_capped", appDir, BandCap)
    val (jAU, tAU) = probeJson("probe_append_grown_uncapped", appDir,
      Int.MaxValue)

    f"""{"metric":"skew_sig","unit":"sec",""" +
      h416 + "," + h321 + "," + hUnc + "," +
      f""""band_probe":{"store_docs":$StoreDocs,"cap":$BandCap,""" +
      f""""threshold":$Threshold,""" +
      jUU + "," + jUC + "," + jHU + "," + jHC + "," + jAC + "," + jAU + "," +
      f""""templated_capped_over_uniform":${tHC / tUU}%.3f,""" +
      f""""templated_uncapped_over_uniform":${tHU / tUU}%.3f,""" +
      f""""append_grown_capped_over_uniform":${tAC / tUU}%.3f,""" +
      f""""append_grown_capped_over_uncapped":${tAC / tAU}%.3f}}"""
  }
}
