package graft.operators

import breeze.linalg.{svd, DenseMatrix, DenseVector}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.embed.EmbeddingProvider
import graft.functions.{TextFns, VecFns}

/** Drift adaptation: cross-embedding-space alignment (SURVEY §2.7 M5/M6, A7, P8;
  * reference adaptation/mapping.py, adaptation/dataset.py).
  *
  * The word-pair dataset (A1→A2→A3) is fully distributed; the mapping fit
  * reduces to a 768×768 (here dim×dim) problem, so the gram matrix is
  * accumulated with `treeAggregate` (executors combine partial outer-product
  * sums; only dim² doubles cross the wire per partition) and the SVD runs on
  * the driver — the reference's scipy SVD (mapping.py:114) is likewise a
  * single-node dense op. The fitted W broadcasts back as a plan literal for P8.
  */
object Adaptation {

  /** A1→A2→A3: top-k corpus words embedded in two spaces.
    * Returns (word, n, source ARRAY<FLOAT>, target ARRAY<FLOAT>).
    * Mirrors adaptation/dataset.py:121-230 (word count → top-k → dual embed,
    * pooling method "first" over the single-token sequence). */
  def wordPairDataset(docs: DataFrame, textCol: String, topK: Int,
                      source: EmbeddingProvider, target: EmbeddingProvider): DataFrame = {
    val words = docs.select(
        explode(TextFns.words(TextFns.cleanText(col(textCol), removePunctuation = true)))
          .as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(topK)
    words
      .withColumn("source", EmbeddingProvider.embedWordCol(source)(col("word")))
      .withColumn("target", EmbeddingProvider.embedWordCol(target)(col("word")))
  }

  /** A7/M6: Orthogonal Procrustes. Finds orthogonal W minimizing ‖source·Wᵀ −
    * target‖_F: M = targetᵀ·source (dim×dim) via treeAggregate of per-row outer
    * products, then W = U·Vᵀ from SVD(M) (reference adaptation/mapping.py:101-124).
    */
  def procrustes(pairs: DataFrame, sourceCol: String, targetCol: String,
                 dim: Int): Array[Array[Double]] = {
    val rows = pairs.select(col(sourceCol).cast("array<double>"),
      col(targetCol).cast("array<double>"))
    val zero = DenseMatrix.zeros[Double](dim, dim)
    val m = rows.rdd.treeAggregate(zero)(
      seqOp = (acc, r: Row) => {
        val s = r.getSeq[Double](0)
        val t = r.getSeq[Double](1)
        var i = 0
        while (i < dim) {
          var j = 0
          val ti = t(i)
          while (j < dim) { acc(i, j) += ti * s(j); j += 1 }
          i += 1
        }
        acc
      },
      combOp = (a, b) => a += b)
    val svd.SVD(u, _, vt) = svd(m)
    val w = u * vt
    assert(w.rows == dim && w.cols == dim) // shape pin, as at mapping.py:116
    Array.tabulate(dim, dim)((i, j) => w(i, j))
  }

  /** M5: 2-layer MLP mapping source→target (Linear(dim,h)-ReLU-Linear(h,dim)),
    * trained driver-side with plain SGD+momentum on MSE over the (≤ topK)-row
    * pair dataset — the reference trains this exact shape with Adam for 10
    * epochs on a driver-scale dataset (models/adaptation_models.py:9-39,
    * adaptation/mapping.py:148-184). Deterministic init from `seed`. */
  class MlpMapping(val dim: Int, val hidden: Int, seed: Long) extends Serializable {
    private val rnd = new scala.util.Random(seed)
    private def init(r: Int, c: Int): DenseMatrix[Double] = {
      val lim = math.sqrt(6.0 / (r + c))
      DenseMatrix.tabulate(r, c)((_, _) => (rnd.nextDouble() * 2 - 1) * lim)
    }
    var w1: DenseMatrix[Double] = init(hidden, dim)
    var b1: DenseVector[Double] = DenseVector.zeros[Double](hidden)
    var w2: DenseMatrix[Double] = init(dim, hidden)
    var b2: DenseVector[Double] = DenseVector.zeros[Double](dim)

    def forward(x: DenseVector[Double]): DenseVector[Double] = {
      val h = (w1 * x) + b1
      val hr = h.map(v => math.max(v, 0.0))
      (w2 * hr) + b2
    }

    /** One SGD step on a single (x, y) pair; returns the pair's MSE before the
      * update. */
    def step(x: DenseVector[Double], y: DenseVector[Double], lr: Double): Double = {
      val h = (w1 * x) + b1
      val hr = h.map(v => math.max(v, 0.0))
      val out = (w2 * hr) + b2
      val err = out - y                      // d(MSE)/d(out) ∝ 2/dim * err
      val gScale = 2.0 / dim
      val gOut = err * gScale
      val gW2 = gOut * hr.t
      val gHr = w2.t * gOut
      val gH = DenseVector.tabulate(hidden)(i => if (h(i) > 0) gHr(i) else 0.0)
      val gW1 = gH * x.t
      w2 -= gW2 * lr; b2 -= gOut * lr
      w1 -= gW1 * lr; b1 -= gH * lr
      (err dot err) / dim
    }
  }

  /** Train an MLP mapping on the collected pair dataset (driver-local, like the
    * reference). Returns (model, per-epoch mean MSE). */
  /** Collected (source, target) vector pairs — the mapping-fit input is
    * model-sized (≤ topK words) by construction. Exposed so a caller that
    * both fits and evaluates pays ONE collect (guide §5): the row order is
    * the frame's deterministic partition order, identical to what two
    * back-to-back collects of the same select would each see. */
  def collectPairs(pairs: DataFrame, sourceCol: String, targetCol: String)
      : Array[(DenseVector[Double], DenseVector[Double])] =
    pairs.select(col(sourceCol).cast("array<double>"),
        col(targetCol).cast("array<double>"))
      .collect()
      .map(r => (DenseVector(r.getSeq[Double](0).toArray),
        DenseVector(r.getSeq[Double](1).toArray)))

  def fitMlp(pairs: DataFrame, sourceCol: String, targetCol: String, dim: Int,
             hidden: Int = 128, epochs: Int = 10, lr: Double = 0.05,
             seed: Long = 42L): (MlpMapping, Seq[Double]) =
    fitMlpData(collectPairs(pairs, sourceCol, targetCol), dim, hidden,
      epochs, lr, seed)

  /** [[fitMlp]] over already-collected pairs — same loop, same floats. */
  def fitMlpData(data: Array[(DenseVector[Double], DenseVector[Double])],
                 dim: Int, hidden: Int = 128, epochs: Int = 10,
                 lr: Double = 0.05, seed: Long = 42L)
      : (MlpMapping, Seq[Double]) = {
    val model = new MlpMapping(dim, hidden, seed)
    val losses = (1 to epochs).map { _ =>
      val epochLoss = data.map { case (x, y) => model.step(x, y, lr) }
      epochLoss.sum / math.max(epochLoss.length, 1)
    }
    (model, losses)
  }

  /** Evaluation: mean per-row MSE between (mapped) source and target. */
  def mappingMse(pairs: DataFrame, sourceCol: String, targetCol: String,
                 w: Option[Array[Array[Double]]]): Double = {
    val mapped = w match {
      case Some(m) => VecFns.matApply(m, col(sourceCol))
      case None => col(sourceCol)
    }
    pairs.select(avg(VecFns.mse(mapped, col(targetCol))).as("m"))
      .collect()(0).getDouble(0)
  }
}
