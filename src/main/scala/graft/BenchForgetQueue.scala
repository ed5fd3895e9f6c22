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
  * same store instance (the 400 retracted ids are ~1% of the corpus, so
  * store size is effectively constant across the comparison).
  *
  * The honest claim shape: a composed walk's cost is dominated by
  * per-store whole-table rewrites, so N requests coalesced into one walk
  * should cost ~1/N of N sequential walks — while `submit` (the half
  * that runs with ingest live) stays milliseconds. Returns ONE JSON line
  * (`graft.Bench forget_queue` writes BENCH_forget_queue.json). */
object BenchForgetQueue {

  private val Requests = 8
  private val IdsPerRequest = 25

  def run(spark: SparkSession): String = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/bench-sf1")
    import Bench.{timed, tmp}

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").localCheckpoint()
    // two disjoint request pools from copy-0 ids (present at any decade)
    def pool(res: Long) = docs
      .filter(col("doc_id") < ScaleCorpus.Offset &&
        pmod(col("doc_id"), lit(29L)) === res)
      .limit(Requests * IdsPerRequest).localCheckpoint()
    val seqPool = pool(0L)
    val coalPool = pool(1L)
    def chunks(poolDf: org.apache.spark.sql.DataFrame) = {
      val ids = poolDf.select("doc_id").collect().map(_.getLong(0)).sorted
      ids.grouped(IdsPerRequest).take(Requests).toSeq.map { g =>
        poolDf.filter(col("doc_id").isin(g.map(Long.box): _*))
      }
    }

    val fpDir = tmp("fq_fp"); val bmDir = tmp("fq_bm25")
    val lmDir = tmp("fq_lm")
    FingerprintStore.seed(docs, "text", fpDir)
    Bm25Store.seed(docs, "doc_id", "text", bmDir)
    LmStore.seed(docs, "doc_id", "text", lmDir)
    val stores = CorpusStores(fpDir = Some(fpDir), bm25Dir = Some(bmDir),
      lmDir = Some(lmDir))

    // the copy-0 residue pools may run short of requests×perReq at small
    // corpora — size the comparison to the full chunks both pools support
    val chunksSeq0 = chunks(seqPool)
    val chunksCoal0 = chunks(coalPool)
    val nReq = math.min(chunksSeq0.size, chunksCoal0.size)
    val chunksSeq = chunksSeq0.take(nReq)
    val chunksCoal = chunksCoal0.take(nReq)

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
      require(drained.size == nReq, s"drained ${drained.size}, want $nReq")
    }

    def f(v: Double) = f"$v%.3f"
    s"""{"metric":"forget_queue","unit":"sec","sf":"$sfDir",""" +
      s""""requests":$nReq,"ids_per_request":$IdsPerRequest,""" +
      s""""sequential_total":${f(seqTotal)},""" +
      s""""sequential_per_walk":[${perWalk.map(f).mkString(",")}],""" +
      s""""submit_total":${f(submitSecs.sum)},""" +
      s""""submit_max":${f(submitSecs.max)},""" +
      s""""drain":${f(drainSec)},""" +
      s""""amortization":${f(seqTotal / math.max(1e-9, submitSecs.sum + drainSec))}}"""
  }
}
