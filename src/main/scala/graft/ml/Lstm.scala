package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Real sequence model closing divergence M1 (SURVEY §2.7): the reference's
  * classifier is a 2-layer LSTM over ragged token-embedding sequences, abs-max
  * pooled over time, then a linear head with log-softmax + NLL
  * (reference models/wos_classifier.py:111-198, trained by
  * models/wos_train_lstm.py:20-176 with Adam). This is that network — forward
  * and full BPTT written against plain double arrays — trained with the
  * engine's corpus-scale step shape (VERDICT r6 #7, same contract as
  * [[DistLogReg]]): per step the parameters broadcast out, per-sequence BPTT
  * gradients combine on executors, and ONE `treeAggregate` (depth 2) brings
  * back only the model-sized gradient. Nothing row- or sequence-sized ever
  * reaches the driver, so the identical loop runs on a 1000-executor corpus:
  * cost per step = one scan of the minibatch + one |θ| tree reduction.
  *
  * Minibatches are the engine's deterministic hash-Bernoulli draw (no
  * `rand()`), rotated by step index so batches cycle. Adam state lives on the
  * driver (model-sized). Pooling is the abs-max of P6 — per hidden dim, the
  * value with the largest |·| across timesteps, sign kept — so the head
  * matches the reference bit-for-shape.
  *
  * Determinism: [[step]] over an in-memory batch (the M2 incremental wrapper,
  * reference models/wos_classifier.py:12-108 `LSTMStream.partial_fit`) is a
  * fixed-order sequential loop → bit-exact for a (params, batch, seed)
  * triple. The distributed [[fit]] sums float gradients in partition-combine
  * order, so two cluster layouts may differ at machine epsilon — specs pin
  * accuracy and gradient correctness (finite differences), the oracled
  * surface pins split counts and at-chance verdicts (the q15 pattern).
  */
object Lstm {

  /** Per-layer weights: `wx` [4h][din], `wh` [4h][h], `b` [4h].
    * Gate row order: i (0..h-1), f (h..2h-1), g (2h..3h-1), o (3h..4h-1). */
  final case class Layer(wx: Array[Array[Double]], wh: Array[Array[Double]],
                         b: Array[Double]) extends Serializable

  /** Full parameter set; `wf` [C][h] + `bf` [C] is the linear head. */
  final case class Params(layers: Array[Layer], wf: Array[Array[Double]],
                          bf: Array[Double]) extends Serializable {
    def hidden: Int = layers(0).wh(0).length
    def dim: Int = layers(0).wx(0).length
    def nClasses: Int = bf.length
  }

  final case class Model(params: Params) extends Serializable {
    def predict(seq: Array[Array[Double]]): Int = {
      val z = forwardLogits(params, seq)
      var best = 0; var k = 1
      while (k < z.length) { if (z(k) > z(best)) best = k; k += 1 }
      best
    }
  }

  // ---- init -----------------------------------------------------------------

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Seeded uniform(-a, a) — pure function of (seed, counter), reproducible
    * anywhere (same contract as HashingProvider). */
  private final class SeededUniform(seed: Long) {
    private var ctr = 0L
    def next(a: Double): Double = {
      ctr += 1
      a * (splitmix64(seed ^ ctr).toDouble / Long.MaxValue.toDouble)
    }
  }

  /** Glorot-ish seeded init; forget-gate bias +1 (standard LSTM practice, and
    * what torch users add for stable early training). */
  def init(dim: Int, hidden: Int, nLayers: Int, nClasses: Int,
           seed: Long = 42L): Params = {
    val rng = new SeededUniform(seed)
    val layers = Array.tabulate(nLayers) { l =>
      val din = if (l == 0) dim else hidden
      val ax = math.sqrt(1.0 / din)
      val ah = math.sqrt(1.0 / hidden)
      val b = new Array[Double](4 * hidden)
      var j = hidden
      while (j < 2 * hidden) { b(j) = 1.0; j += 1 }
      Layer(
        Array.fill(4 * hidden)(Array.fill(din)(rng.next(ax))),
        Array.fill(4 * hidden)(Array.fill(hidden)(rng.next(ah))),
        b)
    }
    val af = math.sqrt(1.0 / hidden)
    Params(layers, Array.fill(nClasses)(Array.fill(hidden)(rng.next(af))),
      new Array[Double](nClasses))
  }

  private def zeroLike(p: Params): Params = Params(
    p.layers.map(l => Layer(
      l.wx.map(r => new Array[Double](r.length)),
      l.wh.map(r => new Array[Double](r.length)),
      new Array[Double](l.b.length))),
    p.wf.map(r => new Array[Double](r.length)),
    new Array[Double](p.bf.length))

  /** a += b, elementwise over every parameter tensor. */
  private def addInPlace(a: Params, b: Params): Params = {
    def addM(x: Array[Array[Double]], y: Array[Array[Double]]): Unit = {
      var i = 0
      while (i < x.length) {
        val xi = x(i); val yi = y(i); var j = 0
        while (j < xi.length) { xi(j) += yi(j); j += 1 }
        i += 1
      }
    }
    def addV(x: Array[Double], y: Array[Double]): Unit = {
      var j = 0
      while (j < x.length) { x(j) += y(j); j += 1 }
    }
    var l = 0
    while (l < a.layers.length) {
      addM(a.layers(l).wx, b.layers(l).wx)
      addM(a.layers(l).wh, b.layers(l).wh)
      addV(a.layers(l).b, b.layers(l).b)
      l += 1
    }
    addM(a.wf, b.wf); addV(a.bf, b.bf)
    a
  }

  /** Walk (param, grad, m, v) tensors in lockstep applying `f` — the Adam
    * update visits every coordinate exactly once, in a fixed order. */
  private def zipApply(p: Params, g: Params, m: Params, v: Params)
                      (f: (Double, Double, Double, Double) => (Double, Double, Double)): Unit = {
    def doV(pv: Array[Double], gv: Array[Double], mv: Array[Double],
            vv: Array[Double]): Unit = {
      var j = 0
      while (j < pv.length) {
        val (np, nm, nv) = f(pv(j), gv(j), mv(j), vv(j))
        pv(j) = np; mv(j) = nm; vv(j) = nv; j += 1
      }
    }
    def doM(pm: Array[Array[Double]], gm: Array[Array[Double]],
            mm: Array[Array[Double]], vm: Array[Array[Double]]): Unit = {
      var i = 0
      while (i < pm.length) { doV(pm(i), gm(i), mm(i), vm(i)); i += 1 }
    }
    var l = 0
    while (l < p.layers.length) {
      doM(p.layers(l).wx, g.layers(l).wx, m.layers(l).wx, v.layers(l).wx)
      doM(p.layers(l).wh, g.layers(l).wh, m.layers(l).wh, v.layers(l).wh)
      doV(p.layers(l).b, g.layers(l).b, m.layers(l).b, v.layers(l).b)
      l += 1
    }
    doM(p.wf, g.wf, m.wf, v.wf); doV(p.bf, g.bf, m.bf, v.bf)
  }

  // ---- forward --------------------------------------------------------------

  private def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  private def logSoftmaxInPlace(z: Array[Double]): Unit = {
    var mx = z(0); var k = 1
    while (k < z.length) { if (z(k) > mx) mx = z(k); k += 1 }
    var s = 0.0; k = 0
    while (k < z.length) { s += math.exp(z(k) - mx); k += 1 }
    val lse = mx + math.log(s); k = 0
    while (k < z.length) { z(k) -= lse; k += 1 }
  }

  /** One layer's forward over the whole sequence; returns (i,f,g,o,c,tc,h)
    * caches, each [T][h]. `xs` is this layer's input sequence [T][din]. */
  private def layerForward(L: Layer, xs: Array[Array[Double]], h: Int):
      (Array[Array[Double]], Array[Array[Double]], Array[Array[Double]],
       Array[Array[Double]], Array[Array[Double]], Array[Array[Double]],
       Array[Array[Double]]) = {
    val T = xs.length
    val ci = Array.ofDim[Double](T, h); val cf = Array.ofDim[Double](T, h)
    val cg = Array.ofDim[Double](T, h); val co = Array.ofDim[Double](T, h)
    val cc = Array.ofDim[Double](T, h); val ctc = Array.ofDim[Double](T, h)
    val ch = Array.ofDim[Double](T, h)
    var hPrev = new Array[Double](h)
    var cPrev = new Array[Double](h)
    var t = 0
    while (t < T) {
      val x = xs(t)
      var j = 0
      while (j < h) {
        // the four gate pre-activations for hidden unit j
        var ai = L.b(j); var af = L.b(h + j)
        var ag = L.b(2 * h + j); var ao = L.b(3 * h + j)
        val wxi = L.wx(j); val wxf = L.wx(h + j)
        val wxg = L.wx(2 * h + j); val wxo = L.wx(3 * h + j)
        var d = 0
        while (d < x.length) {
          val xd = x(d)
          ai += wxi(d) * xd; af += wxf(d) * xd
          ag += wxg(d) * xd; ao += wxo(d) * xd
          d += 1
        }
        val whi = L.wh(j); val whf = L.wh(h + j)
        val whg = L.wh(2 * h + j); val who = L.wh(3 * h + j)
        d = 0
        while (d < h) {
          val hd = hPrev(d)
          ai += whi(d) * hd; af += whf(d) * hd
          ag += whg(d) * hd; ao += who(d) * hd
          d += 1
        }
        val iv = sigmoid(ai); val fv = sigmoid(af)
        val gv = math.tanh(ag); val ov = sigmoid(ao)
        val cv = fv * cPrev(j) + iv * gv
        val tcv = math.tanh(cv)
        ci(t)(j) = iv; cf(t)(j) = fv; cg(t)(j) = gv; co(t)(j) = ov
        cc(t)(j) = cv; ctc(t)(j) = tcv; ch(t)(j) = ov * tcv
        j += 1
      }
      hPrev = ch(t); cPrev = cc(t)
      t += 1
    }
    (ci, cf, cg, co, cc, ctc, ch)
  }

  /** Abs-max pool over time (P6: largest |value| per dim, sign kept) +
    * argmax timestep per dim for the backward route. */
  private def absMaxPool(hs: Array[Array[Double]], h: Int):
      (Array[Double], Array[Int]) = {
    val p = new Array[Double](h); val arg = new Array[Int](h)
    var j = 0
    while (j < h) {
      var best = hs(0)(j); var bi = 0; var t = 1
      while (t < hs.length) {
        val v = hs(t)(j)
        if (math.abs(v) > math.abs(best)) { best = v; bi = t }
        t += 1
      }
      p(j) = best; arg(j) = bi; j += 1
    }
    (p, arg)
  }

  /** Inference-only forward: logits for one sequence. */
  private def forwardLogits(P: Params, seq: Array[Array[Double]]): Array[Double] = {
    val h = P.hidden
    var xs = if (seq.isEmpty) Array(new Array[Double](P.dim)) else seq
    var l = 0
    while (l < P.layers.length) {
      xs = layerForward(P.layers(l), xs, h)._7
      l += 1
    }
    val (p, _) = absMaxPool(xs, h)
    val z = new Array[Double](P.nClasses)
    var k = 0
    while (k < z.length) {
      val wk = P.wf(k); var acc = P.bf(k); var j = 0
      while (j < h) { acc += wk(j) * p(j); j += 1 }
      z(k) = acc; k += 1
    }
    z
  }

  // ---- backward (full BPTT) -------------------------------------------------

  /** Accumulate one sequence's NLL gradient into `G`; returns (loss, correct).
    * Standard LSTM BPTT: layers backward top-down, each layer a reverse-time
    * loop, `dx` of layer l feeding `dh` of layer l-1. */
  private[graft] def accumulateGrad(P: Params, G: Params, seq: Array[Array[Double]],
                                 y: Int): (Double, Int) = {
    val h = P.hidden
    val nL = P.layers.length
    val xs0 = if (seq.isEmpty) Array(new Array[Double](P.dim)) else seq
    // forward, keeping every layer's caches
    val inputs = new Array[Array[Array[Double]]](nL)   // layer input seq
    val caches = new Array[(Array[Array[Double]], Array[Array[Double]],
      Array[Array[Double]], Array[Array[Double]], Array[Array[Double]],
      Array[Array[Double]], Array[Array[Double]])](nL)
    var xs = xs0
    var l = 0
    while (l < nL) {
      inputs(l) = xs
      val cache = layerForward(P.layers(l), xs, h)
      caches(l) = cache
      xs = cache._7
      l += 1
    }
    val T = xs.length
    val (pool, arg) = absMaxPool(xs, h)
    // head: logits, log-softmax, NLL
    val z = new Array[Double](P.nClasses)
    var k = 0
    while (k < z.length) {
      val wk = P.wf(k); var acc = P.bf(k); var j = 0
      while (j < h) { acc += wk(j) * pool(j); j += 1 }
      z(k) = acc; k += 1
    }
    var best = 0; k = 1
    while (k < z.length) { if (z(k) > z(best)) best = k; k += 1 }
    logSoftmaxInPlace(z)
    val loss = -z(y)
    // dz = softmax - onehot
    val dz = new Array[Double](z.length)
    k = 0
    while (k < z.length) {
      dz(k) = math.exp(z(k)) - (if (k == y) 1.0 else 0.0); k += 1
    }
    // head grads + dpool
    val dpool = new Array[Double](h)
    k = 0
    while (k < dz.length) {
      val gk = G.wf(k); val wk = P.wf(k); val dzk = dz(k)
      var j = 0
      while (j < h) { gk(j) += dzk * pool(j); dpool(j) += dzk * wk(j); j += 1 }
      G.bf(k) += dzk; k += 1
    }
    // route pool gradient to each dim's argmax timestep of the top layer
    var dhSeq = Array.fill(T)(new Array[Double](h))
    var j = 0
    while (j < h) { dhSeq(arg(j))(j) += dpool(j); j += 1 }
    // layers top-down
    l = nL - 1
    while (l >= 0) {
      val L = P.layers(l); val GL = G.layers(l)
      val (ci, cf, cg, co, cc, ctc, _) = caches(l)
      val xsL = inputs(l)
      val din = xsL(0).length
      val dxSeq = Array.fill(T)(new Array[Double](din))
      val dcNext = new Array[Double](h)
      val dhNext = new Array[Double](h)
      var t = T - 1
      while (t >= 0) {
        val da = new Array[Double](4 * h) // gate pre-activation grads at t
        var jj = 0
        while (jj < h) {
          val dh = dhSeq(t)(jj) + dhNext(jj)
          val ov = co(t)(jj); val tcv = ctc(t)(jj)
          var dc = dcNext(jj) + dh * ov * (1.0 - tcv * tcv)
          val iv = ci(t)(jj); val fv = cf(t)(jj); val gv = cg(t)(jj)
          val cPrev = if (t == 0) 0.0 else cc(t - 1)(jj)
          da(jj) = dc * gv * iv * (1.0 - iv)                 // d a_i
          da(h + jj) = dc * cPrev * fv * (1.0 - fv)          // d a_f
          da(2 * h + jj) = dc * iv * (1.0 - gv * gv)         // d a_g
          da(3 * h + jj) = dh * tcv * ov * (1.0 - ov)        // d a_o
          dcNext(jj) = dc * fv
          jj += 1
        }
        // accumulate weight grads; push dx and dh_{t-1}
        val x = xsL(t)
        val hPrev = if (t == 0) null else caches(l)._7(t - 1)
        java.util.Arrays.fill(dhNext, 0.0)
        var r = 0
        while (r < 4 * h) {
          val dar = da(r)
          if (dar != 0.0) {
            val gwx = GL.wx(r); val wxr = L.wx(r)
            var d = 0
            while (d < din) {
              gwx(d) += dar * x(d); dxSeq(t)(d) += dar * wxr(d); d += 1
            }
            val gwh = GL.wh(r); val whr = L.wh(r)
            if (hPrev != null) {
              d = 0
              while (d < h) {
                gwh(d) += dar * hPrev(d); dhNext(d) += dar * whr(d); d += 1
              }
            }
            GL.b(r) += dar
          }
          r += 1
        }
        t -= 1
      }
      dhSeq = dxSeq // becomes dh for the layer below
      l -= 1
    }
    (loss, if (best == y) 1 else 0)
  }

  // ---- training -------------------------------------------------------------

  /** Driver-side Adam over model-sized state. */
  final case class TrainState(params: Params, m: Params, v: Params, t: Int)
      extends Serializable

  def initState(dim: Int, hidden: Int, nLayers: Int, nClasses: Int,
                seed: Long = 42L): TrainState = {
    val p = init(dim, hidden, nLayers, nClasses, seed)
    TrainState(p, zeroLike(p), zeroLike(p), 0)
  }

  /** One Adam step from an already-summed gradient over `n` sequences. */
  private def adamStep(st: TrainState, grad: Params, n: Long, lr: Double,
                       reg: Double): TrainState = {
    val t = st.t + 1
    val b1 = 0.9; val b2 = 0.999; val eps = 1e-8
    val bc1 = 1.0 - math.pow(b1, t.toDouble)
    val bc2 = 1.0 - math.pow(b2, t.toDouble)
    val nd = n.toDouble
    zipApply(st.params, grad, st.m, st.v) { (p, gSum, m0, v0) =>
      val g = gSum / nd + reg * p
      val m1 = b1 * m0 + (1 - b1) * g
      val v1 = b2 * v0 + (1 - b2) * g * g
      (p - lr * (m1 / bc1) / (math.sqrt(v1 / bc2) + eps), m1, v1)
    }
    TrainState(st.params, st.m, st.v, t)
  }

  /** M2 incremental wrapper (reference `LSTMStream.partial_fit`,
    * models/wos_classifier.py:38-71): one Adam step over an in-memory batch.
    * Fixed-order sequential accumulation → bit-exact reproducible. Returns
    * (next state, batch NLL mean, batch accuracy). */
  def step(st: TrainState, batch: Seq[(Int, Array[Array[Double]])],
           lr: Double = 1e-2, reg: Double = 1e-4): (TrainState, Double, Double) = {
    require(batch.nonEmpty, "empty batch")
    val g = zeroLike(st.params)
    var loss = 0.0; var correct = 0
    batch.foreach { case (y, seq) =>
      val (lo, c) = accumulateGrad(st.params, g, seq, y)
      loss += lo; correct += c
    }
    val next = adamStep(st, g, batch.length.toLong, lr, reg)
    (next, loss / batch.length, correct.toDouble / batch.length)
  }

  /** The M2 wrapper's distributed twin — one Adam step over a micro-batch
    * DataFrame (the `foreachBatch` prequential update, reference
    * streams/run_stream_supervised.py + LSTMStream.partial_fit): params
    * broadcast, per-sequence BPTT in the executors, ONE model-sized
    * treeAggregate back, Adam on the driver. Rows never reach the driver, so
    * the trigger cost is O(|batch|) scan + |θ| reduction at any corpus size.
    * With a single input partition the gradient sums in row order and the
    * result is bit-identical to [[step]] over the same rows (pinned in
    * StreamingSpec). Returns (next state, batch mean NLL, batch accuracy);
    * the state is unchanged for an empty batch. */
  def stepDf(st: TrainState, batch: DataFrame, labelCol: String,
             seqCol: String, lr: Double = 1e-2, reg: Double = 1e-4):
      (TrainState, Double, Double) = {
    val rdd = batch.select(col(labelCol).cast("int").as("y"), col(seqCol))
      .rdd.map { r =>
        (r.getInt(0),
          r.getSeq[scala.collection.Seq[Float]](1)
            .map(_.toArray.map(_.toDouble)).toArray)
      }
    val bp = rdd.sparkContext.broadcast(st.params)
    val (grad, loss, correct, n) = rdd.treeAggregate(
      (zeroLike(st.params), 0.0, 0L, 0L))(
      seqOp = { case ((g, lo, c, n0), (y, x)) =>
        val (l1, c1) = accumulateGrad(bp.value, g, x, y)
        (g, lo + l1, c + c1, n0 + 1)
      },
      combOp = { case ((g1, l1, c1, n1), (g2, l2, c2, n2)) =>
        (addInPlace(g1, g2), l1 + l2, c1 + c2, n1 + n2)
      },
      depth = 2)
    bp.destroy()
    if (n == 0) (st, 0.0, 0.0)
    else (adamStep(st, grad, n, lr, reg), loss / n, correct.toDouble / n)
  }

  /** Distributed fit: `seqCol` is `array<array<float>>` token vectors,
    * `labelCol` an int class. Per step: params broadcast, per-sequence BPTT
    * in the seqOp, gradients combine executor-side, ONE model-sized
    * treeAggregate to the driver, Adam there. Minibatch membership is the
    * deterministic hash draw rotated by step (no rand()). */
  /** Checkpointed fit (the reference trainer's resume loop,
    * models/wos_train_lstm.py:60-68,158-173): every `every` steps the FULL
    * optimizer state persists via [[save]] keyed by the step counter; on
    * start, the latest checkpoint at `path` resumes and only the remaining
    * steps run. A crashed run re-launched with the same arguments continues
    * the identical trajectory (state round-trip is exact — LstmSpec). */
  def fitCheckpointed(train: DataFrame, labelCol: String, seqCol: String,
                      hidden: Int, nLayers: Int, nClasses: Int, steps: Int,
                      path: String, every: Int = 5, lr: Double = 1e-2,
                      reg: Double = 1e-4, batchFraction: Double = 1.0,
                      seed: Long = 42L): Model = {
    implicit val spark: org.apache.spark.sql.SparkSession = train.sparkSession
    val st0 = loadLatest(path).getOrElse(
      initState(seqDim(train, seqCol), hidden, nLayers, nClasses, seed))
    require(st0.t <= steps, s"checkpoint at step ${st0.t} is past steps=$steps")
    val fin = fitLoop(train, labelCol, seqCol, nClasses, steps, lr, reg,
      batchFraction, seed, st0, onStep = { s =>
        if (s.t % every == 0 && s.t < steps) save(s, s.t.toLong, path)
      })
    if (fin.t > st0.t) save(fin, fin.t.toLong, path)
    Model(fin.params)
  }

  /** Input dim from the first non-empty sequence. */
  private def seqDim(df: DataFrame, seqCol: String): Int = {
    val r = df.select(col(seqCol)).filter(size(col(seqCol)) > 0).head()
    r.getSeq[scala.collection.Seq[Float]](0).head.length
  }

  def fit(train: DataFrame, labelCol: String, seqCol: String, hidden: Int,
          nLayers: Int, nClasses: Int, steps: Int, lr: Double = 1e-2,
          reg: Double = 1e-4, batchFraction: Double = 1.0,
          seed: Long = 42L): Model = {
    val dim = seqDim(train, seqCol)
    val st = fitLoop(train, labelCol, seqCol, nClasses, steps, lr, reg,
      batchFraction, seed, initState(dim, hidden, nLayers, nClasses, seed),
      onStep = _ => ())
    Model(st.params)
  }

  /** The shared training loop: runs steps `st0.t until steps` (so a resumed
    * state continues its own trajectory — minibatch rotation is keyed by the
    * step counter, not loop position), calling `onStep` after each Adam
    * update. */
  private def fitLoop(train: DataFrame, labelCol: String, seqCol: String,
                      nClasses: Int, steps: Int, lr: Double, reg: Double,
                      batchFraction: Double, seed: Long, st0: TrainState,
                      onStep: TrainState => Unit): TrainState = {
    require(nClasses >= 2 && steps >= 1 && batchFraction > 0 && batchFraction <= 1)
    val raw = train
      .select(col(labelCol).cast("int").as("y"), col(seqCol).as("x"),
        xxhash64(col(labelCol), col(seqCol), lit(seed)).as("h"))
      .rdd
      .map { r =>
        val seq = r.getSeq[scala.collection.Seq[Float]](1)
          .map(_.toArray.map(_.toDouble)).toArray
        (r.getInt(0), seq, r.getLong(2))
      }
    // BPTT is the dominant cost and runs WHERE THE ROWS ARE: a single-file
    // parquet scan arrives in 1-2 partitions and would serialize training on
    // one core (measured 2.3 s/step vs 0.3 s at sf0.1). Spread once before
    // caching; float-sum combine order changes at machine epsilon only
    // (documented contract above).
    val want = train.sparkSession.sparkContext.defaultParallelism
    val data = (if (raw.getNumPartitions < want) raw.repartition(want) else raw)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var st = st0
      val threshold = (batchFraction * (1L << 32).toDouble).toLong
      while (st.t < steps) {
        val it = st.t
        val bp = data.sparkContext.broadcast(st.params)
        val (grad, n) = data
          .filter { case (_, _, hh) =>
            batchFraction >= 1.0 ||
              (java.lang.Long.rotateLeft(hh, it % 64) >>> 32) < threshold
          }
          .treeAggregate((zeroLike(st.params), 0L))(
            seqOp = { case ((g, n0), (y, x, _)) =>
              accumulateGrad(bp.value, g, x, y)
              (g, n0 + 1)
            },
            combOp = { case ((g1, n1), (g2, n2)) =>
              (addInPlace(g1, g2), n1 + n2)
            },
            depth = 2)
        bp.destroy()
        // an empty minibatch still advances the step counter, or resume
        // could loop forever on a pathological batchFraction
        st = if (n > 0) adamStep(st, grad, n, lr, reg)
             else TrainState(st.params, st.m, st.v, st.t + 1)
        onStep(st)
      }
      st
    } finally data.unpersist(blocking = false)
  }

  /** Score: (idCol, label, pred) — parameters ride as one broadcast into a
    * narrow map, same output contract as [[DistLogReg.predict]]. */
  def predict(model: Model, test: DataFrame, idCol: String, labelCol: String,
              seqCol: String): DataFrame = {
    val bm = test.sparkSession.sparkContext.broadcast(model)
    val p = udf { seq: Seq[Seq[Float]] =>
      bm.value.predict(seq.map(_.toArray.map(_.toDouble)).toArray)
    }
    test.select(col(idCol), col(labelCol).cast("int").as("label"),
      p(col(seqCol)).cast("int").as("pred"))
  }

  /** Holdout evaluation with the engine's shared multiclass metrics. */
  def holdoutMetrics(model: Model, test: DataFrame, idCol: String,
                     labelCol: String, seqCol: String, nLabels: Int): DataFrame =
    graft.operators.Metrics.multiclass(
      predict(model, test, idCol, labelCol, seqCol), "label", "pred", nLabels)

  // ---- persistence (S6/M4: checkpoint + resume) -----------------------------

  /** Relational model state: one row per (tensor, row) with the epoch/step id
    * as the checkpoint key — the reference's torch.save/resume
    * (models/wos_train_lstm.py:60-68,158-173) expressed as a parquet table. */
  def save(st: TrainState, ckptId: Long, path: String)
          (implicit spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    def rows(p: Params, which: String): Seq[(Long, String, Int, Int, Seq[Double])] = {
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, Int, Int, Seq[Double])]
      p.layers.zipWithIndex.foreach { case (l, li) =>
        l.wx.zipWithIndex.foreach { case (r, i) => out += ((ckptId, s"$which.wx", li, i, r.toSeq)) }
        l.wh.zipWithIndex.foreach { case (r, i) => out += ((ckptId, s"$which.wh", li, i, r.toSeq)) }
        out += ((ckptId, s"$which.b", li, 0, l.b.toSeq))
      }
      p.wf.zipWithIndex.foreach { case (r, i) => out += ((ckptId, s"$which.wf", -1, i, r.toSeq)) }
      out += ((ckptId, s"$which.bf", -1, 0, p.bf.toSeq))
      out.toSeq
    }
    (rows(st.params, "p") ++ rows(st.m, "m") ++ rows(st.v, "v") :+
      ((ckptId, "t", -1, st.t, Seq.empty[Double])))
      .toDF("ckpt", "tensor", "layer", "row", "vals")
      .write.mode("append").parquet(path)
  }

  /** Resume the latest checkpoint at `path` (None if the path doesn't exist
    * yet OR exists but holds no committed parquet data file — a first run,
    * or a crash during the very first save() that left only `_temporary`
    * debris; neither can mask a recoverable checkpoint). Any other failure
    * (corrupt footer, transient I/O, a duplicated ckpt id from a crashed
    * re-append) PROPAGATES: silently returning None there would restart
    * training from step 0 and overwrite a recoverable checkpoint with a
    * worse one. */
  def loadLatest(path: String)
                (implicit spark: org.apache.spark.sql.SparkSession): Option[TrainState] = {
    val hpath = new org.apache.hadoop.fs.Path(path)
    val fs = hpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hpath)) return None
    // committed data = at least one non-hidden *.parquet under the root
    // (save() writes flat, no partition dirs; _temporary/_SUCCESS are hidden)
    val hasData = fs.listStatus(hpath).exists { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }
    if (!hasData) return None
    val df = spark.read.parquet(path)
    val latest = df.agg(max("ckpt")).collect()(0)
    if (latest.isNullAt(0)) return None
    val ck = latest.getLong(0)
    val rows = df.filter(col("ckpt") === ck).collect()
    // save() appends; a retried/duplicated append of the same ckpt id would
    // reconstruct doubled matrices — fail loudly instead of garbling tensors.
    val dup = rows.groupBy(r => (r.getString(1), r.getInt(2), r.getInt(3)))
      .collectFirst { case (k, g) if g.length > 1 => k }
    require(dup.isEmpty,
      s"checkpoint $ck at $path has duplicated tensor rows ($dup) — " +
        "corrupt append; refuse to resume from it")
    val byTensor = rows.groupBy(_.getString(1))
    def mat(which: String, layer: Int): Array[Array[Double]] = {
      val rs = byTensor(which).filter(_.getInt(2) == layer).sortBy(_.getInt(3))
      // rows must be exactly 0..n-1 — a lost/partial write surfaces here
      // instead of as a silently truncated matrix
      require(rs.zipWithIndex.forall { case (r, i) => r.getInt(3) == i },
        s"checkpoint $ck tensor $which layer $layer has non-contiguous rows")
      rs.map(_.getSeq[Double](4).toArray)
    }
    def vec(which: String, layer: Int): Array[Double] =
      byTensor(which).filter(_.getInt(2) == layer).head.getSeq[Double](4).toArray
    def params(prefix: String): Params = {
      val nLayers = byTensor(s"$prefix.wx").map(_.getInt(2)).distinct.length
      Params(
        Array.tabulate(nLayers)(l =>
          Layer(mat(s"$prefix.wx", l), mat(s"$prefix.wh", l), vec(s"$prefix.b", l))),
        mat(s"$prefix.wf", -1), vec(s"$prefix.bf", -1))
    }
    val t = byTensor("t").head.getInt(3)
    Some(TrainState(params("p"), params("m"), params("v"), t))
  }

  // ---- sequence prep --------------------------------------------------------

  /** Reference cap MAX_SEQ_LEN = 512 (constants, SURVEY §2 params). Queries
    * use a lower engine cap for bounded per-row cost; the cap is an argument
    * everywhere so nothing hard-wires it. */
  val MaxSeqLen = 512

  /** Whitespace-tokenize `textCol`, cap at `maxLen` tokens, embed with the
    * provider → `array<array<float>>` ragged token-vector sequences (the
    * reference's [seq_len, 768] per-doc tensors, streams/stream_data.py:
    * 140-143). Truncation BEFORE embedding: per-row cost is O(maxLen·dim). */
  def sequenceCol(provider: graft.embed.EmbeddingProvider, textCol: Column,
                  maxLen: Int = MaxSeqLen): Column =
    graft.embed.EmbeddingProvider.embedTokensCol(provider)(
      concat_ws(" ", slice(split(textCol, "\\s+"), 1, maxLen)))
}
