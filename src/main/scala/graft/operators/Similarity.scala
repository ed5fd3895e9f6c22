package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.NearestCentroids
import graft.functions.VecFns

/** Approximate-nearest-neighbor similarity search over an embedding column
  * (engine extension; BASELINE.json north star).
  *
  * Scale design:
  *  - [[bruteForceTopK]] broadcasts the (small) query set against the full corpus:
  *    one pass, no shuffle of the corpus; the per-query rank runs through the
  *    bounded [[TopK]] aggregator (≤ k rows per query cross the wire, not the
  *    whole scored corpus×|Q| set). Baseline and ground truth for the ANN
  *    variants.
  *  - [[lshTopK]] buckets both sides with random-hyperplane sign-LSH
  *    (deterministic seeded planes), probing `probes` neighboring buckets —
  *    candidate count is corpus/2^planes per bucket, so the cross product never
  *    materializes. The same pattern backs [[Dedup.embeddingNearDup]].
  *  - [[ivfTopK]] is a coarse-quantizer variant: k-means-style centroids chosen
  *    deterministically (first `nlist` vectors by id, picked with orderBy+limit
  *    → TakeOrderedAndProject, never a global window), every vector assigned to
  *    its nearest centroid by the [[NearestCentroids]] plan-constant kernel (one
  *    narrow projection — no crossJoin blowup, no re-shuffle), queries probe the
  *    `nprobe` nearest lists. This is the IVF layout FAISS uses.
  */
object Similarity {

  /** Sign-LSH bucket id from `planes` random hyperplanes: bit k = sign(v · r_k),
    * r_k = the [[planeComponent]] mix. Native codegen kernel
    * ([[graft.expressions.SignBits]]): the HOF formulation (`planes` stacked
    * `aggregate(zip_with(...))` trees) generated a Janino unit so large its
    * *compile* time dominated the query and evicted from the codegen cache;
    * the kernel is a planes×dims loop with the same ascending-dim fold order,
    * so bucket ids (and the SQL oracles replaying them) are bit-identical. */
  def signBits(vec: Column, planes: Int): Column =
    graft.expressions.SignBits.column(vec, planes)

  /** Exact cosine top-k for each query vector. [SQL]
    *
    * @param queries (qidCol, vecCol) — expected small (broadcast side).
    * @param corpus  (idCol, vecCol) — arbitrarily large; scanned once.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, qidCol: String,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("qid"), col("cid"),
        VecFns.cosine(col("qvec"), col("cvec")).as("cos"))
    TopK.topKPerQuery(scored, k)
  }

  /** LSH-bucketed approximate top-k: only candidates in the query's bucket (and
    * `probes` single-bit-flip neighbor buckets) are scored. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, qidCol: String,
              idCol: String, vecCol: String, k: Int,
              planes: Int = 10, probes: Int = 2): DataFrame = {
    require(probes <= planes)
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"),
      signBits(col(vecCol), planes).as("bucket"))
    val qBase = queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec"),
      signBits(col(vecCol), planes).as("qb"))
    // Multi-probe: the home bucket plus buckets at hamming distance 1 in the
    // first `probes` bits.
    val probeBuckets = array(
      (col("qb") +: (0 until probes).map(bit =>
        col("qb").bitwiseXOR(shiftleft(lit(1L), bit)))): _*)
    val q = qBase.select(col("qid"), col("qvec"),
      explode(probeBuckets).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .select(col("qid"), col("cid"),
        VecFns.cosine(col("qvec"), col("cvec")).as("cos"))
      .groupBy("qid", "cid").agg(max("cos").as("cos")) // dedupe multi-probe hits
    TopK.topKPerQuery(scored, k)
  }

  /** IVF-style approximate top-k with `nlist` coarse centroids and `nprobe`
    * probed lists per query. Centroids = the first `nlist` corpus vectors by id
    * (deterministic seeding — exactly SQL-replayable for the oracle gate; the
    * trained variant is [[ivfTopKTrained]]). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, qidCol: String,
              idCol: String, vecCol: String, k: Int,
              nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    // Centroid pick: orderBy+limit plans as TakeOrderedAndProject (per-partition
    // partial top-nlist, distributed) — never a window over the whole corpus.
    // The nlist rows collect to the driver in id order; list_id = 1-based rank,
    // exactly the old row_number numbering. Model-sized collect (nlist × dim).
    val cents: Array[Array[Double]] = c.orderBy("cid").limit(nlist)
      .select(col("cvec").cast("array<double>"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    ivfTopKWith(queries, corpus, qidCol, idCol, vecCol, k, cents, nprobe)
  }

  /** IVF top-k with seeded-k-means-trained coarse centroids
    * ([[graft.ml.KMeansQuantizer.fit]]) — what a real clustered 100 TB corpus
    * needs for recall. Training is fp-order-sensitive, so this variant is
    * verified by recall gates (ScalaTest + the sim_ivf_trained_recall verdict
    * oracle) instead of bit-replay. */
  def ivfTopKTrained(queries: DataFrame, corpus: DataFrame, qidCol: String,
                     idCol: String, vecCol: String, k: Int,
                     nlist: Int = 16, nprobe: Int = 4, iters: Int = 5,
                     seed: Long = 42L): DataFrame = {
    val cents = graft.ml.KMeansQuantizer.fit(corpus, idCol, vecCol, nlist,
      iters, seed)
    ivfTopKWith(queries, corpus, qidCol, idCol, vecCol, k, cents, nprobe)
  }

  /** IVF core with explicit centroids: assign every corpus vector to its
    * nearest centroid with the plan-constant [[NearestCentroids]] kernel (one
    * narrow projection — no ×nlist crossJoin blowup, no re-shuffle), probe the
    * query's `nprobe` nearest lists via a broadcast bucket join. */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, qidCol: String,
                  idCol: String, vecCol: String, k: Int,
                  cents: Array[Array[Double]], nprobe: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    val assigned = c.select(
      element_at(NearestCentroids.column(col("cvec"), cents, 1), 1).as("list_id"),
      col("cid"), col("cvec"))
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec"))
    val qLists = q.select(col("qid"), col("qvec"),
      explode(NearestCentroids.column(col("qvec"), cents,
        math.min(nprobe, cents.length))).as("list_id"))
    val scored = assigned.join(broadcast(qLists), Seq("list_id"))
      .select(col("qid"), col("cid"),
        VecFns.cosine(col("qvec"), col("cvec")).as("cos"))
    TopK.topKPerQuery(scored, k)
  }

  /** Deterministic PQ codebook: centroid `j` of subspace `b`, component `i` —
    * the planeComponent integer-mix family scaled to [-1, 1). Reproducible on
    * any engine (incl. the SQL oracle); trained k-means centroids would slot in
    * behind the same shape. */
  def pqCodebook(m: Int, ksub: Int, subDim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m, ksub, subDim) { (b, j, i) =>
      (Math.floorMod(b * 7919L + j * 2654435761L + i * 40503L + 12345L,
        100000L).toDouble / 100000.0 - 0.5) * 2.0
    }

  /** Product-quantization approximate top-k (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011 — the compressed
    * ANN layout FAISS pairs with IVF): each vector splits into `m` subspaces,
    * each slice quantizes to one of `ksub` codebook centroids, and candidates
    * rank by the asymmetric distance Σ_b dtable_b[code_b] where dtable_b is
    * the query's L2² table to subspace b's centroids.
    *
    * Scale design: the corpus encodes in ONE narrow projection to m·log2(ksub)
    * bits per vector (the compressed file a 100 TB corpus actually stores);
    * scoring touches only the codes plus per-query distance tables shipped as
    * plan constants (|Q|·m·ksub doubles), never the raw vectors; the rank is
    * the bounded [[TopK]] aggregator. Returns (qid, rk, cid, adist) with
    * adist ascending per query. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, qidCol: String,
             idCol: String, vecCol: String, k: Int,
             m: Int = 8, ksub: Int = 16): DataFrame = {
    // The deterministic codebook needs subDim before any Spark job; probe it
    // from the (small, driver-bound anyway) query set via pqTopKWith's collect
    // by building the codebook lazily per dim.
    pqTopKWith(queries, corpus, qidCol, idCol, vecCol, k, None, m, ksub)
  }

  /** ADC shortlist + exact re-rank (the FAISS "refine" stage): PQ codes give a
    * cheap `rerank`-deep candidate shortlist per query; the shortlist — and
    * only the shortlist — is re-scored with exact cosine. The shortlist is
    * |Q|·rerank ids (broadcast side); the corpus is scanned once more with a
    * broadcast semi-join to fetch just those vectors, so raw vectors still
    * never shuffle. */
  def pqRefineTopK(queries: DataFrame, corpus: DataFrame, qidCol: String,
                   idCol: String, vecCol: String, k: Int,
                   cb: Array[Array[Array[Double]]],
                   rerank: Int = 50): DataFrame = {
    val shortlist = pqTopKWith(queries, corpus, qidCol, idCol, vecCol,
        rerank, Some(cb))
      .select(col("qid"), col("cid"))
    val q = queries.select(col(qidCol).cast("long").as("qid"),
      col(vecCol).as("qvec"))
    val cand = shortlist.join(q, Seq("qid"))
    val scored = corpus
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cvec"))
      .join(broadcast(cand), Seq("cid"))
      .select(col("qid"), col("cid"),
        VecFns.cosine(col("qvec"), col("cvec")).as("cos"))
    TopK.topKPerQuery(scored, k)
  }

  /** Random-projection top-k (Johnson–Lindenstrauss): project both sides to
    * `targetDim` with a seeded dense matrix (the integer-mix family, shipped
    * as a plan constant through the [[graft.expressions.MatVecProduct]]
    * codegen kernel — one narrow projection, no join, no shuffle), take a
    * `rerank`-deep shortlist by cosine in the reduced space, then re-rank the
    * shortlist with exact full-dim cosine (broadcast fetch, as the PQ refine
    * stage). The dimensionality-reduction scale path for very high-dim
    * embeddings: the reduced corpus costs targetDim/dim of the scan + score,
    * and the full-dim vectors are touched only for |Q|·rerank rows.
    * Verified by recall gates (ScalaTest + the sim_rp_topk verdict oracle). */
  def rpTopK(queries: DataFrame, corpus: DataFrame, qidCol: String,
             idCol: String, vecCol: String, k: Int, targetDim: Int,
             seed: Long = 42L, rerank: Int = 50): DataFrame = {
    val dim = queries.select(col(vecCol)).head().getSeq[Double](0).length
    val scale = 1.0 / math.sqrt(targetDim.toDouble)
    val w = Array.tabulate(targetDim, dim) { (r, i) =>
      (Math.floorMod(seed * 7919L + r * 2654435761L + i * 40503L + 12345L,
        100000L).toDouble / 100000.0 - 0.5) * 2.0 * scale
    }
    def reduced(df: DataFrame, id: String, out: String): DataFrame =
      df.select(col(id), VecFns.matApply(w, col(vecCol).cast("array<double>"))
        .as(out))
    val shortlist = bruteForceTopK(
        reduced(queries, qidCol, "rvec"), reduced(corpus, idCol, "rvec"),
        qidCol, idCol, "rvec", rerank)
      .select("qid", "cid")
    val q = queries.select(col(qidCol).cast("long").as("qid"),
      col(vecCol).as("qvec"))
    val cand = shortlist.join(q, Seq("qid"))
    val rescored = corpus
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cvec"))
      .join(broadcast(cand), Seq("cid"))
      .select(col("qid"), col("cid"),
        VecFns.cosine(col("qvec"), col("cvec")).as("cos"))
    TopK.topKPerQuery(rescored, k)
  }

  /** PQ-ADC core with an optional explicit codebook (`None` → the
    * deterministic [[pqCodebook]] family sized from the query dim, keeping
    * the oracled [[pqTopK]] bit-replayable). */
  def pqTopKWith(queries: DataFrame, corpus: DataFrame, qidCol: String,
                 idCol: String, vecCol: String, k: Int,
                 cbOpt: Option[Array[Array[Array[Double]]]],
                 mArg: Int = 8, ksubArg: Int = 16): DataFrame = {
    cbOpt.foreach { c =>
      require(c.nonEmpty && c(0).nonEmpty, "explicit codebook must be non-empty")
    }
    val spark = corpus.sparkSession
    // Query distance tables, computed driver-side from the (small) query set;
    // the vector dimension comes from the same collect — no extra Spark job
    // against the corpus just to probe dim.
    val qRows = queries.select(col(qidCol).cast("long").as("qid"),
        col(vecCol).cast("array<double>").as("qvec"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(qRows.nonEmpty, "pqTopK requires a non-empty query set")
    val dim = qRows.head._2.length
    val (m, ksub) = cbOpt.fold((mArg, ksubArg))(c => (c.length, c(0).length))
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m
    val cb = cbOpt.getOrElse(pqCodebook(m, ksub, subDim))
    val encoded = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
      .select(col("cid") +: pqCodeCols(col("cvec"), cb): _*)
    val qTables = adcQueryTables(spark, qRows, cb)
    val scored = encoded.crossJoin(broadcast(qTables))
      .select(col("qid"), col("cid"), (-adcDist(m, ksub)).as("cos"))
    TopK.topKPerQuery(scored, k)
      .select(col("qid"), col("rk"), col("cid"), (-col("cos")).as("adist"))
  }

  /** c0..c{m-1} PQ code columns (1-based) for `vec` under `cb`: per subspace,
    * the plan-constant [[NearestCentroids]] argmin over the slice — m narrow
    * kernels in one projection, no join, no shuffle. Shared by the in-memory
    * ADC path and the persisted IVF+PQ index build. */
  private[operators] def pqCodeCols(vec: Column,
                                    cb: Array[Array[Array[Double]]]): Seq[Column] = {
    val m = cb.length
    val subDim = cb(0)(0).length
    (0 until m).map { b =>
      element_at(NearestCentroids.column(
        slice(vec, b * subDim + 1, subDim), cb(b), 1), 1).as(s"c$b")
    }
  }

  /** Broadcastable (qid, dtable) query-side distance tables, computed
    * driver-side: dtable(b)(j) = Σ_i (q_slice_i − cb(b)(j)(i))², accumulated
    * in i order (the same fold the oracle replays), flattened b-major. */
  private[operators] def adcQueryTables(spark: SparkSession,
                                        qRows: Array[(Long, Array[Double])],
                                        cb: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    qRows.map { case (qid, qv) => (qid, adcTableFor(qv, cb)) }
      .toSeq.toDF("qid", "dtable")
  }

  /** One query's flattened ADC table: dtable(b·ksub + j) = Σ_i
    * (q_slice_i − cb(b)(j)(i))², accumulated in i order. */
  private[operators] def adcTableFor(qv: Array[Double],
                                     cb: Array[Array[Array[Double]]]): Array[Double] = {
    val m = cb.length
    val ksub = cb(0).length
    val subDim = cb(0)(0).length
    require(qv.length == m * subDim,
      s"codebook shape ${m}x${ksub}x$subDim does not cover a ${qv.length}-dim query")
    val flat = new Array[Double](m * ksub)
    var b = 0
    while (b < m) {
      var j = 0
      while (j < ksub) {
        var s = 0.0
        var i = 0
        while (i < subDim) {
          val d = qv(b * subDim + i) - cb(b)(j)(i)
          s += d * d
          i += 1
        }
        flat(b * ksub + j) = s
        j += 1
      }
      b += 1
    }
    flat
  }

  /** ADC distance: Σ_b dtable[b·ksub + c_b], summed in subspace order. The
    * codes index a small broadcast-backed array — cheap per row; the heavy
    * vectors never reach the join this scores. */
  private[operators] def adcDist(m: Int, ksub: Int): Column =
    (0 until m).map(b =>
        element_at(col("dtable"), lit(b * ksub) + col(s"c$b")))
      .reduce(_ + _)
}
