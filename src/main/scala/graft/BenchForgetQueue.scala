package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Bm25Store, CorpusStores, FingerprintStore, Forget,
  ForgetQueue, LmStore}

/** Measures the [[graft.operators.ForgetQueue]] amortization claim: N
  * takedown requests drained as ONE coalesced [[Forget]] walk vs N
  * sequential walks over the same deployment (fp + BM25 + LM — the
  * stores whose retracts are whole-store rewrites). Same total id count
  * on both paths, disjoint id sets (a store can only forget a doc once),
  * same store instance (the 400 retracted ids are the JSON's
  * `retracted_share` of the corpus: 8% of a 10-copy sf0.01 corpus).
  *
  * The honest claim shape: a composed walk's cost is dominated by
  * per-store whole-table rewrites, so N requests coalesced into one walk
  * should cost ~1/N of N sequential walks — while `submit` (the half
  * that runs with ingest live) stays milliseconds. Returns ONE JSON line
  * (`graft.Bench forget_queue` writes BENCH_forget_queue.json). */
object BenchForgetQueue {

  private val Requests = 8
  private val IdsPerRequest = 25
  /** The pools are the residues 0 and 1 of `doc_id` mod this: a 10-copy
    * sf0.01 corpus (5,000 docs) gives 250 ids per pool, enough for every
    * request. */
  private val PoolModulus = 20L

  /** The two disjoint request pools (sequential, coalesced), each
    * `Requests` chunks of `IdsPerRequest` ids. Throws, naming the shortfall
    * and the corpus, when a pool is short: a comparison over fewer requests
    * does not measure the coalescing. */
  def requestPools(spark: SparkSession, sfDir: String): Seq[Seq[Array[Long]]] = {
    val want = Requests * IdsPerRequest
    val ids = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id")
    Seq(0L, 1L).map { res =>
      val pool = ids.filter(pmod(col("doc_id"), lit(PoolModulus)) === res)
        .orderBy("doc_id").limit(want).collect().map(_.getLong(0))
      require(pool.length == want,
        s"forget_queue: $sfDir holds ${pool.length} ids with doc_id mod " +
          s"$PoolModulus = $res, ${want - pool.length} short of the $want " +
          s"that $Requests requests of $IdsPerRequest ids need")
      pool.grouped(IdsPerRequest).toSeq
    }
  }

  def run(spark: SparkSession): String = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/bench-sf1")
    import Bench.{timed, tmp}

    val pools = requestPools(spark, sfDir)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").localCheckpoint()
    val nDocs = docs.count()
    val Seq(chunksSeq, chunksCoal) = pools.map(_.map(g =>
      docs.filter(col("doc_id").isin(g.map(Long.box): _*))))

    val fpDir = tmp("fq_fp"); val bmDir = tmp("fq_bm25")
    val lmDir = tmp("fq_lm")
    FingerprintStore.seed(docs, "text", fpDir)
    Bm25Store.seed(docs, "doc_id", "text", bmDir)
    LmStore.seed(docs, "doc_id", "text", lmDir)
    val stores = CorpusStores(fpDir = Some(fpDir), bm25Dir = Some(bmDir),
      lmDir = Some(lmDir))

    // N sequential composed walks, one per request
    val ledgerSeq = tmp("fq_ledger_seq")
    val perWalk = chunksSeq.map { c =>
      timed(Forget.forget(spark, ledgerSeq, stores, c, "doc_id", "text"))
    }
    val seqTotal = perWalk.sum

    // N submits (ingest-live half) + ONE coalesced drain
    val queueDir = tmp("fq_queue"); val ledgerQ = tmp("fq_ledger_q")
    val submitSecs = chunksCoal.map { c =>
      timed(ForgetQueue.submit(spark, queueDir, c, "doc_id", "text"))
    }
    val drainSec = timed {
      val drained = ForgetQueue.drain(spark, queueDir, ledgerQ, stores)
      require(drained.size == Requests, s"drained ${drained.size}, want $Requests")
    }

    def f(v: Double) = f"$v%.3f"
    s"""{"metric":"forget_queue","unit":"sec","sf":"$sfDir",""" +
      s""""requests":$Requests,"ids_per_request":$IdsPerRequest,""" +
      s""""retracted_share":${f(2.0 * Requests * IdsPerRequest / nDocs)},""" +
      s""""sequential_total":${f(seqTotal)},""" +
      s""""sequential_per_walk":[${perWalk.map(f).mkString(",")}],""" +
      s""""submit_total":${f(submitSecs.sum)},""" +
      s""""submit_max":${f(submitSecs.max)},""" +
      s""""drain":${f(drainSec)},""" +
      s""""amortization":${f(seqTotal / math.max(1e-9, submitSecs.sum + drainSec))}}"""
  }
}
