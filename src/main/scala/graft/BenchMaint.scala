package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.{AnnIndex, Bm25Store, FingerprintStore, LmStore,
  Pack, SignatureStore}

/** Times the MAINTENANCE cycle — takedown (retract) then compaction — for
  * every persisted store that retains per-document derived content, at two
  * corpus decades (r13 verdict #6: the retract paths were unmeasured at
  * scale). Retraction is compact-class work by design (a staged whole-table
  * rewrite), so the claim under test is that a retract+compact cycle scales
  * like the store rewrite it is — LINEAR in store size with the same
  * constant as compact — and never like the corpus-squared shapes takedown
  * naively invites (per-id scans). The fixed 200-id/doc takedown batch is
  * identical at both decades; only store size grows.
  *
  * Returns ONE JSON line (`graft.Bench maint` writes BENCH_maint.json)
  * over the two decades `SPARK_GRAFT_SF1_DIR` and `SPARK_GRAFT_SF10_DIR`:
  * per store and decade, seed/retract/compact seconds
  * plus the retract and compact sf10/sf1 ratios (store-size scaling, 10×
  * data → the linearity envelope is ~≤10× with file-count fixed costs
  * keeping small stores flat). */
object BenchMaint {

  def run(spark: SparkSession): String = {
    val dirs = Seq(sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/bench-sf1"),
      sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "/tmp/bench-sf10"))
    import Bench.{timed, tmp}

    // one decade's measurements: Map(store -> (seed, retract, compact)),
    // plus the ANN recenter walls (raw + PQ — their own verbs)
    def measure(sfDir: String): (Map[String, (Double, Double, Double)],
                                 Double, Double) = {
      var recenterSec = 0.0
      var pqRecenterSec = 0.0
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").localCheckpoint()
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding").localCheckpoint()
      // the SAME request-sized takedown batch at every decade (copy-0 ids
      // exist at all scales); 200 ids ~ a real batched DMCA sweep
      val goneIds = docs.select("doc_id")
        .filter(col("doc_id") < ScaleCorpus.Offset &&
          pmod(col("doc_id"), lit(29L)) === 0L)
        .limit(200).collect().map(_.getLong(0)).toSeq
      val goneDocs = docs
        .join(broadcast(idsDf(spark, goneIds)), Seq("doc_id"), "left_semi")
        .localCheckpoint()
      val out = scala.collection.mutable.Map[String, (Double, Double, Double)]()

      val fpDir = tmp("maint_fp")
      val sFp = timed(FingerprintStore.seed(docs, "text", fpDir))
      val rFp = timed(FingerprintStore.retract(spark, fpDir, goneDocs, "text"))
      val cFp = timed(FingerprintStore.compact(spark, fpDir))
      out("fingerprint") = (sFp, rFp, cFp)

      val sigDir = tmp("maint_sig")
      val sSig = timed(SignatureStore.seed(docs, "doc_id", "text", sigDir))
      val rSig = timed(SignatureStore.retract(spark, sigDir, goneIds))
      val cSig = timed(SignatureStore.compact(spark, sigDir))
      out("signature") = (sSig, rSig, cSig)

      val bmDir = tmp("maint_bm25")
      val sBm = timed(Bm25Store.seed(docs, "doc_id", "text", bmDir))
      val rBm = timed(Bm25Store.retract(spark, bmDir, goneIds))
      val cBm = timed(Bm25Store.compact(spark, bmDir))
      out("bm25") = (sBm, rBm, cBm)

      val lmDir = tmp("maint_lm")
      val sLm = timed(LmStore.seed(docs, "doc_id", "text", lmDir))
      val rLm = timed(LmStore.retract(spark, lmDir, goneDocs, "doc_id", "text"))
      val cLm = timed(LmStore.compact(spark, lmDir))
      out("lm") = (sLm, rLm, cLm)

      var annDir = ""
      val sAnn = timed {
        annDir = AnnIndex.ivfIndexDir(emb, s"$sfDir/embeddings.parquet",
          "vec_id", "embedding", nlist = 16, iters = 3, seed = 42L,
          variant = s"maint_${java.util.UUID.randomUUID().toString.take(8)}")
      }
      val annGone = emb.select("vec_id")
        .filter(col("vec_id") < ScaleCorpus.Offset &&
          pmod(col("vec_id"), lit(29L)) === 0L)
        .limit(200).collect().map(_.getLong(0)).toSeq
      val rAnn = timed(AnnIndex.retract(spark, annDir, annGone))
      val cAnn = timed(AnnIndex.compact(spark, annDir))
      out("ann_ivf") = (sAnn, rAnn, cAnn)
      // the drift-triggered recenter's maintenance cost: retrain k-means at
      // the index's nlist + staged lists+centroids swap (compact-class)
      recenterSec = timed(AnnIndex.recenter(spark, annDir, kmIters = 3,
        seed = 7L))
      // the PQ-coded twin: decode pass + coarse/codebook retrain +
      // re-encode + three-table staged swap (r16 verdict #3)
      var pqDir = ""
      val sPq = timed {
        pqDir = AnnIndex.ivfPqIndexDir(emb, s"$sfDir/embeddings.parquet",
          "vec_id", "embedding", nlist = 16, m = 8, ksub = 16, iters = 3,
          seed = 42L,
          variant = s"maintpq_${java.util.UUID.randomUUID().toString.take(8)}")
      }
      pqRecenterSec = timed(AnnIndex.recenterPq(spark, pqDir, kmIters = 3,
        seed = 7L))
      val rPq = timed(AnnIndex.retract(spark, pqDir, annGone))
      val cPq = timed(AnnIndex.compact(spark, pqDir))
      out("ann_ivfpq") = (sPq, rPq, cPq)

      // the packed training-shard export: takedown ids sit in copy 0 (the
      // LOWEST stream positions), so retractDocs rewrites ~the whole shard
      // suffix — the honest worst case for the "retract scales like the
      // store rewrite it is" claim (best case = prefix-pruned no-op)
      val packDir = tmp("maint_pack")
      val packDocs = docs.select(col("doc_id"),
        TextFns.tokenCount(col("text")).cast("long").as("n_toks"),
        col("text")).localCheckpoint()
      val sPk = timed(Pack.writeShards(packDocs, "doc_id", "n_toks",
        budget = 4096L, binsPerShard = 64L, dir = packDir))
      val rPk = timed(Pack.retractDocs(spark, packDir, "doc_id", "n_toks",
        budget = 4096L, binsPerShard = 64L, ids = goneIds))
      val cPk = timed(Pack.compactShards(spark, packDir))
      out("pack") = (sPk, rPk, cPk)
      (out.toMap, recenterSec, pqRecenterSec)
    }

    val byDir0 = dirs.map(d => d -> measure(d)).toMap
    val byDir = byDir0.view.mapValues(_._1).toMap
    def f(v: Double) = f"$v%.3f"
    val stores = Seq("fingerprint", "signature", "bm25", "lm", "ann_ivf",
      "ann_ivfpq", "pack")
    val dirJson = dirs.map { d =>
      val m = byDir(d)
      val per = stores.map { st =>
        val (s, r, c) = m(st)
        s""""$st":{"seed":${f(s)},"retract":${f(r)},"compact":${f(c)}}"""
      }.mkString("{", ",", "}")
      s""""$d":$per"""
    }.mkString("{", ",", "}")
    val ratios =
      if (dirs.size == 2) {
        val (a, b) = (byDir(dirs.head), byDir(dirs.last))
        stores.flatMap { st =>
          val (_, r1, c1) = a(st); val (_, r10, c10) = b(st)
          Seq(s""""${st}_retract":${f(r10 / math.max(1e-9, r1))}""",
            s""""${st}_compact":${f(c10 / math.max(1e-9, c1))}""")
        }.mkString("{", ",", "}")
      } else "{}"
    val recenterJson =
      if (dirs.size == 2) {
        val r1 = byDir0(dirs.head)._2; val r10 = byDir0(dirs.last)._2
        val p1 = byDir0(dirs.head)._3; val p10 = byDir0(dirs.last)._3
        s""","ann_recenter":{"sf1":${f(r1)},"sf10":${f(r10)},""" +
          s""""decade_ratio":${f(r10 / math.max(1e-9, r1))}},""" +
          s""""ann_pq_recenter":{"sf1":${f(p1)},"sf10":${f(p10)},""" +
          s""""decade_ratio":${f(p10 / math.max(1e-9, p1))}}"""
      } else ""
    s"""{"metric":"store_maintenance","unit":"sec",""" +
      s""""batch_ids":200,"dirs":$dirJson,"decade_ratios":$ratios""" +
      recenterJson + "}"
  }

  /** Seq[Long] -> single-column DataFrame("doc_id"). */
  private def idsDf(spark: SparkSession, xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.toDF("doc_id")
  }
}
