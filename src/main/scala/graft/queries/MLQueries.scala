package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VecFns
import graft.ml.GaussianNB
import graft.operators.{Drift, Metrics}
import graft.sources.Tables

/** ML pipeline queries: Gaussian NB train/predict (A8/M3) and the abrupt-drift
  * experiment (ST8/E2) — a real model whose accuracy collapses when the
  * embedding space shifts, detected by the shared DDM detector. */
object MLQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Deterministic 80/20 split: vec_id % 5 (SQL-replayable stand-in for the
    * reference's seeded `train_test_split`, streams/stream_data.py:91-94; the
    * seeded `randomSplit` itself is exercised in ScalaTest where cardinality,
    * not row identity, is the contract). */
  private def train(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).filter(pmod(col("vec_id"), lit(5)) =!= 0)
  private def test(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).filter(pmod(col("vec_id"), lit(5)) === 0)

  /** Shared-artifact memo (the Pipelines pairsMemo contract): the base GNB
    * model is consumed by six declared queries and each detector feed by its
    * signals/report consumers — compute each once per (session, corpus) and
    * pin the (tiny: model-sized stats, detector-batch-count rows) result.
    * Deterministic per key up to double-sum combine order, which every
    * consumer already absorbs via the round-6 discipline — and a single
    * shared fit is strictly MORE stable than per-query refits. */
  private val artifactMemo = new graft.SessionMemo[AnyRef]
  // SessionMemo builds outside the map's compute hook, so feed builders may
  // recursively memo the model under another key of this same memo.
  private def memoArtifact[T <: AnyRef](s: SparkSession, dir: String,
                                        key: String)(build: => T): T =
    artifactMemo.getOrBuild(s, dir + "|" + key)(build).asInstanceOf[T]

  /** The experiment family's one shared classifier: GNB fit on the
    * deterministic 80% split. */
  private def baseModel(s: SparkSession, dir: String): GaussianNB.GnbModel =
    memoArtifact(s, dir, "gnb_base")(
      GaussianNB.fit(train(s, dir), "label", "embedding"))

  private def predictions(s: SparkSession, dir: String): DataFrame =
    memoArtifact(s, dir, "gnb_predictions") {
      val model = baseModel(s, dir)
      test(s, dir).select(col("vec_id"), col("label").cast("int").as("label"))
        .join(GaussianNB.predict(test(s, dir), model, "vec_id", "embedding"),
          Seq("vec_id"))
        .localCheckpoint()
    }

  val mlGnbPredict: Q = (s, dir) =>
    predictions(s, dir).select("vec_id", "label", "pred").orderBy("vec_id")

  val mlGnbMetrics: Q = (s, dir) =>
    Metrics.multiclass(predictions(s, dir), "label", "pred", Corpus.NClasses)

  // ---- shared SQL fragments for the DuckDB oracle ---------------------------

  /** Gaussian-NB scoring of `testExpr` rows in DuckDB, mirroring
    * fitStats/logPriors/predict exactly (var_pop, sklearn ε, min-label
    * tiebreak). `noise` optionally perturbs the test vectors with the same
    * deterministic pseudo-noise as VecFns.addPseudoNoise. */
  private def gnbPredictSql(testWhere: String, noiseSigma: Option[String]): String = {
    val eCol = noiseSigma match {
      case None => "e"
      case Some(sig) =>
        s"e + ($sig) * (((vec_id * 2654435761 + i * 40503) % 100000) / 100000.0 - 0.5)"
    }
    s"""trainset AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
       |testset AS (SELECT * FROM embeddings WHERE $testWhere),
       |tdims AS (SELECT CAST(label AS INT) AS label,
       |  CAST(unnest(embedding) AS DOUBLE) AS e,
       |  unnest(range(0, len(embedding))) AS i FROM trainset),
       |stats AS (SELECT label, i, avg(e) AS mu, var_pop(e) AS v FROM tdims GROUP BY label, i),
       |epsv AS (SELECT max(gv) * 1e-9 AS eps FROM
       |  (SELECT var_pop(e) AS gv FROM tdims GROUP BY i) g),
       |priors AS (SELECT CAST(label AS INT) AS label,
       |  ln(count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM trainset)) AS logprior
       |  FROM trainset GROUP BY 1),
       |qdims0 AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
       |  unnest(range(0, len(embedding))) AS i FROM testset),
       |qdims AS (SELECT vec_id, i, $eCol AS e FROM qdims0),
       |scores AS (SELECT q.vec_id, s.label,
       |  sum(-0.5 * ln(2 * pi() * (s.v + x.eps))
       |      - (q.e - s.mu) * (q.e - s.mu) / (2 * (s.v + x.eps))) AS ll
       |  FROM qdims q JOIN stats s ON q.i = s.i CROSS JOIN epsv x
       |  GROUP BY q.vec_id, s.label),
       |ranked AS (SELECT sc.vec_id, sc.label AS pred,
       |  row_number() OVER (PARTITION BY sc.vec_id
       |    ORDER BY sc.ll + p.logprior DESC, sc.label ASC) AS rk
       |  FROM scores sc JOIN priors p ON sc.label = p.label),
       |preds AS (SELECT t.vec_id, CAST(t.label AS INT) AS label, r.pred
       |  FROM testset t JOIN ranked r ON t.vec_id = r.vec_id AND r.rk = 1)""".stripMargin
  }

  val mlGnbPredictSql: String =
    s"""WITH ${gnbPredictSql("vec_id % 5 = 0", None)}
       |SELECT vec_id, label, pred FROM preds ORDER BY vec_id""".stripMargin

  val mlGnbMetricsSql: String =
    s"""WITH ${gnbPredictSql("vec_id % 5 = 0", None)},
       |cls AS (SELECT CAST(i AS INT) AS c FROM generate_series(0, ${Corpus.NClasses - 1}) t(i)),
       |st AS (SELECT c,
       |  sum(CASE WHEN p.label = c AND p.pred = c THEN 1 ELSE 0 END) AS tp,
       |  sum(CASE WHEN p.pred = c AND p.label <> c THEN 1 ELSE 0 END) AS fp,
       |  sum(CASE WHEN p.label = c AND p.pred <> c THEN 1 ELSE 0 END) AS fn
       |  FROM cls CROSS JOIN preds p GROUP BY c),
       |pr AS (SELECT c,
       |  CASE WHEN tp + fp = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS prec,
       |  CASE WHEN tp + fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS rec
       |  FROM st),
       |f AS (SELECT c, prec, rec,
       |  CASE WHEN prec + rec = 0 THEN 0.0 ELSE 2 * prec * rec / (prec + rec) END AS f1
       |  FROM pr)
       |SELECT
       |  round((SELECT avg(CASE WHEN label = pred THEN 1.0 ELSE 0.0 END) FROM preds), 6) AS accuracy,
       |  round(avg(prec), 6) AS macro_precision,
       |  round(avg(rec), 6) AS macro_recall,
       |  round(avg(f1), 6) AS macro_f1
       |FROM f""".stripMargin

  // ---- ST8: abrupt drift (embedding-space swap) -----------------------------

  val AbruptSigma = 2.0

  /** Phase-tagged scored stream: phase 1 = held-out set in the training space;
    * phase 2 = the same docs after an embedding-space shift (deterministic
    * pseudo-noise σ=2, the stand-in for the reference's BERT→SciBERT swap,
    * drift_detection/drift_experiments_supervised.py:62-77). The classifier is
    * fit once on phase-1 training data — its accuracy collapses in phase 2. */
  private def abruptScored(s: SparkSession, dir: String): DataFrame = {
    // Fit ONCE: the collected model is reused by both phase scorings — a
    // second collect would re-execute the whole fit aggregation (VERDICT r1 #4).
    val model = baseModel(s, dir)
    val te = test(s, dir)
    val shifted = te.select(col("vec_id"), col("label"),
      VecFns.addPseudoNoise(col("embedding"), col("vec_id"), lit(AbruptSigma))
        .as("embedding"))
    def scored(df: DataFrame, phase: Int): DataFrame =
      df.select(col("vec_id"), col("label").cast("int").as("label"))
        .join(GaussianNB.predict(df, model, "vec_id", "embedding"), Seq("vec_id"))
        .select(lit(phase).as("phase"), col("vec_id"), col("label"), col("pred"))
    scored(te, 1).unionByName(scored(shifted, 2))
  }

  /** Per-(phase, batch) accuracy — the detector feed for the abrupt-drift
    * experiment. Memoized: the feed query, the signals query, and the
    * q-report all consume the identical (batch-count-sized) table. [SQL] */
  val driftAbruptFeed: Q = (s, dir) =>
    memoArtifact(s, dir, "abrupt_feed") {
      val scored = abruptScored(s, dir)
        .withColumn("batch_id", floor(col("vec_id") / Corpus.DetectorBatch))
      scored.groupBy("phase", "batch_id")
        .agg(round(avg(when(col("label") === col("pred"), 1.0).otherwise(0.0)), 6)
          .as("accuracy"))
        .orderBy("phase", "batch_id")
        .localCheckpoint()
    }

  val driftAbruptFeedSql: String =
    s"""WITH ${gnbPredictSql("vec_id % 5 = 0", None)},
       |${gnbPredictSql("vec_id % 5 = 0", Some(AbruptSigma.toString))
          .replaceAll("\\btrainset\\b", "trainset2")
          .replaceAll("\\btestset\\b", "testset2")
          .replaceAll("\\btdims\\b", "tdims2")
          .replaceAll("\\bstats\\b", "stats2")
          .replaceAll("\\bepsv\\b", "epsv2")
          .replaceAll("\\bpriors\\b", "priors2")
          .replaceAll("\\bqdims0\\b", "qdims02")
          .replaceAll("\\bqdims\\b", "qdims2")
          .replaceAll("\\bscores\\b", "scores2")
          .replaceAll("\\branked\\b", "ranked2")
          .replaceAll("\\bpreds\\b", "preds2")},
       |feed AS (
       |  SELECT 1 AS phase, CAST(floor(vec_id / ${Corpus.DetectorBatch}) AS BIGINT) AS batch_id,
       |    CASE WHEN label = pred THEN 1.0 ELSE 0.0 END AS ok FROM preds
       |  UNION ALL
       |  SELECT 2 AS phase, CAST(floor(vec_id / ${Corpus.DetectorBatch}) AS BIGINT) AS batch_id,
       |    CASE WHEN label = pred THEN 1.0 ELSE 0.0 END AS ok FROM preds2)
       |SELECT phase, batch_id, round(avg(ok), 6) AS accuracy FROM feed
       |GROUP BY phase, batch_id ORDER BY phase, batch_id""".stripMargin

  /** Faithful shared-detector drift signals across the phase boundary (E2
    * semantics: state carries over the stream switch — the phase is encoded in
    * the ordering, not the detector key). [SQL: recursive reset-DDM replay] */
  val driftAbruptSignals: Q = (s, dir) => {
    val feed = driftAbruptFeed(s, dir)
      .withColumn("seq", col("phase") * lit(100000L) + col("batch_id"))
      .withColumn("err", lit(1.0) - col("accuracy"))
      .withColumn("det", lit("abrupt"))
    Drift.ddmSequential(feed, "det", "seq", "err")
      .select(col("batch_id").as("seq"), col("error"), col("p"), col("s"), col("signal"))
      .orderBy("seq")
  }

  /** Q-report (reference utils/visualization.py:38-107): the per-stream
    * accuracy/detection table behind the abrupt-drift figures — trained and
    * untrained streams concatenated on one global timeline, detector firings
    * attached per point by the reset detector, the same scan as
    * drift_abrupt_signals (scatter frame = WHERE detection <> 'None').
    * [SQL: Duck.experimentReport] */
  val qReportAbrupt: Q = (s, dir) => {
    val feed = driftAbruptFeed(s, dir).select(
      (col("phase") - 1).cast("int").as("streamOrd"),
      when(col("phase") === 1, "trained").otherwise("untrained").as("stream"),
      col("batch_id"), col("accuracy"))
    graft.operators.Report.experimentReport(feed)
  }

  val qReportAbruptSql: String = Duck.experimentReport(
    s"""SELECT CAST(phase - 1 AS INT) AS stream_ord,
       |  CASE WHEN phase = 1 THEN 'trained' ELSE 'untrained' END AS stream,
       |  batch_id, accuracy FROM ($driftAbruptFeedSql) f""".stripMargin)

  // ---- ST3: unsupervised (model-as-oracle) drift ----------------------------
  //
  // Reference semantics (streams/run_stream_unsupervised.py): pass 1 stores the
  // model's own predictions as pseudo-labels and feeds the detector a simulated
  // error 1-U(0.9, 1.0); pass 2 scores the drifted stream against those
  // pseudo-labels. Agreement is ~perfect until the space shifts, then collapses —
  // which makes drift detectable even when true labels are uninformative (as on
  // the i.i.d. synthetic corpus, where any classifier is at chance).

  /** Deterministic stand-in for the reference's U(0.9, 1.0) simulated pass-1
    * accuracy (streams/run_stream_unsupervised.py:60-66). */
  private def simAccuracy(batchId: Column): Column =
    lit(0.9) + pmod(batchId.cast("long") * 2654435761L + 12345L, lit(100000L))
      .cast("double") / 100000.0 * 0.1

  private val simAccuracySql =
    "0.9 + ((batch_id * 2654435761 + 12345) % 100000) / 100000.0 * 0.1"

  /** Detector feed for the unsupervised experiment: phase 1 = simulated
    * near-perfect accuracy; phase 2 = per-batch agreement between the model's
    * predictions on the shifted stream and its own pseudo-labels. [SQL] */
  val driftUnsupFeed: Q = (s, dir) => memoArtifact(s, dir, "unsup_feed") {
    val model = baseModel(s, dir)
    val te = test(s, dir)
    val pseudo = GaussianNB.predict(te, model, "vec_id", "embedding")
      .withColumnRenamed("pred", "pseudo_label")
    val shifted = te.select(col("vec_id"),
      VecFns.addPseudoNoise(col("embedding"), col("vec_id"), lit(AbruptSigma))
        .as("embedding"))
    val phase2 = GaussianNB.predict(shifted, model, "vec_id", "embedding")
      .join(pseudo, Seq("vec_id"))
      .withColumn("batch_id", floor(col("vec_id") / Corpus.DetectorBatch))
      .groupBy("batch_id")
      .agg(round(avg(when(col("pred") === col("pseudo_label"), 1.0).otherwise(0.0)), 6)
        .as("accuracy"))
      .select(lit(2).as("phase"), col("batch_id"), col("accuracy"))
    val phase1 = te
      .select(floor(col("vec_id") / Corpus.DetectorBatch).as("batch_id"))
      .distinct()
      .select(lit(1).as("phase"), col("batch_id"),
        round(simAccuracy(col("batch_id")), 6).as("accuracy"))
    phase1.unionByName(phase2).orderBy("phase", "batch_id").localCheckpoint()
  }

  val driftUnsupFeedSql: String =
    s"""WITH ${gnbPredictSql("vec_id % 5 = 0", None)},
       |${gnbPredictSql("vec_id % 5 = 0", Some(AbruptSigma.toString))
          .replaceAll("\\btrainset\\b", "trainset2")
          .replaceAll("\\btestset\\b", "testset2")
          .replaceAll("\\btdims\\b", "tdims2")
          .replaceAll("\\bstats\\b", "stats2")
          .replaceAll("\\bepsv\\b", "epsv2")
          .replaceAll("\\bpriors\\b", "priors2")
          .replaceAll("\\bqdims0\\b", "qdims02")
          .replaceAll("\\bqdims\\b", "qdims2")
          .replaceAll("\\bscores\\b", "scores2")
          .replaceAll("\\branked\\b", "ranked2")
          .replaceAll("\\bpreds\\b", "preds2")},
       |p1 AS (SELECT DISTINCT CAST(floor(vec_id / ${Corpus.DetectorBatch}) AS BIGINT) AS batch_id
       |  FROM testset),
       |phase1 AS (SELECT 1 AS phase, batch_id, round($simAccuracySql, 6) AS accuracy FROM p1),
       |agree AS (SELECT a.vec_id,
       |    CAST(floor(a.vec_id / ${Corpus.DetectorBatch}) AS BIGINT) AS batch_id,
       |    CASE WHEN b.pred = a.pred THEN 1.0 ELSE 0.0 END AS ok
       |  FROM preds a JOIN preds2 b ON a.vec_id = b.vec_id),
       |phase2 AS (SELECT 2 AS phase, batch_id, round(avg(ok), 6) AS accuracy
       |  FROM agree GROUP BY batch_id)
       |SELECT phase, batch_id, accuracy FROM phase1
       |UNION ALL SELECT phase, batch_id, accuracy FROM phase2
       |ORDER BY phase, batch_id""".stripMargin

  /** Faithful shared-detector DDM over the unsupervised feed [SQL]: the
    * flagship drift story — N through phase 1, W/D shortly after the boundary. */
  val driftUnsupSignals: Q = (s, dir) => {
    val feed = driftUnsupFeed(s, dir)
      .withColumn("seq", col("phase") * lit(100000L) + col("batch_id"))
      .withColumn("err", lit(1.0) - col("accuracy"))
      .withColumn("det", lit("unsup"))
    Drift.ddmSequential(feed, "det", "seq", "err")
      .select(col("batch_id").as("seq"), col("error"), col("p"), col("s"), col("signal"))
      .orderBy("seq")
  }

  // ---- A9/ST6: seeded random split + M4 trainer -----------------------------

  /** A9: seeded train/test split shape (reference test_size=0.2,
    * streams/stream_data.py:91-94), realized as [[graft.operators.Split.hashSplit]]
    * — test ⇔ pmod(xxhash64(vec_id, seed), 100) < 20. Hash assignment keeps
    * the reference's contract (seeded, reproducible, ~80/20) while being
    * independent of partitioning AND engine-replayable, so this row carries an
    * exact oracle (the DuckDB twin re-derives every bucket). Overlap is 0 by
    * construction (complementary filters); the literal is pinned honestly by
    * MLTrainerSpec's join-based disjointness check. [SQL] */
  val a9SplitCounts: Q = (s, dir) => {
    val bkt = graft.operators.Split.hashBucket(col("vec_id"), seed = 42L)
    Tables.embeddings(s, dir)
      .select(bkt.as("bkt"))
      .agg(count(when(col("bkt") >= 20L, 1)).as("train"),
        count(when(col("bkt") < 20L, 1)).as("test"),
        count(lit(1)).as("total"))
      .selectExpr("stack(4, 'train', train, 'test', test, 'total', total, " +
        "'overlap', CAST(0 AS BIGINT)) AS (split, n)")
  }

  /** DuckDB twin of [[a9SplitCounts]]: xxhash64(vec_id, 42) is hashLong(vec_id,
    * seed=42) re-seeded with hashLong(42L) — Spark threads each argument's hash
    * as the next seed — staged per [[Duck.xxhashLongStages]], then the same
    * pmod-100 banding. */
  val a9SplitCountsSql: String = {
    val staged = Duck.stagedSql(
      "SELECT CAST(vec_id AS HUGEINT) AS v, CAST(42 AS HUGEINT) AS sd FROM embeddings",
      Duck.xxhashLongStages("v", "42", "h1", "za") ++
        Duck.xxhashLongStages("sd", "h1", "h2", "zb"))
    s"""WITH hh AS ($staged),
       |bk AS (SELECT (((${Duck.toSigned("h2")} % 100) + 100) % 100) AS bkt FROM hh),
       |agg AS (SELECT count(*) FILTER (bkt >= 20) AS train,
       |  count(*) FILTER (bkt < 20) AS test, count(*) AS total FROM bk)
       |SELECT 'train' AS split, train AS n FROM agg
       |UNION ALL SELECT 'test', test FROM agg
       |UNION ALL SELECT 'total', total FROM agg
       |UNION ALL SELECT 'overlap', CAST(0 AS BIGINT)""".stripMargin
  }

  /** M4 stand-in: MLlib LogisticRegression on pooled vectors with a seeded A9
    * holdout (divergence M1 documented — no recurrent nets in idiomatic
    * Spark; capability = multiclass classifier over pooled embeddings).
    * LBFGS is host math, so the oracled surface is the q15 verdict pattern:
    * `n_test` replays the hash-Bernoulli split exactly in SQL, and the
    * verdicts pin the i.i.d.-label contract — on labels independent of the
    * features every holdout metric must sit at chance (NClasses = 10, so a
    * generous ≤ 0.35 band); learnability of the trainer itself is proven on
    * separable data in MLTrainerSpec, and the drift-recovery profile in the
    * M1-divergence test. [SQL] */
  val mlLogregHoldout: Q = (s, dir) => {
    val (tr, te) = graft.operators.Split.hashSplit(
      Tables.embeddings(s, dir), "vec_id", seed = 42L)
    // The corpus-scale trainer: per epoch, weights broadcast out and the
    // softmax gradient treeAggregates back — only model-sized state at the
    // driver (graft.ml.DistLogReg; MLlib's LBFGS variant stays available in
    // LogRegTrainer and is pinned equivalent-on-separable-data in
    // MLTrainerSpec).
    val model = graft.ml.DistLogReg.fit(tr, "label", "embedding",
      Corpus.NClasses, iters = 20)
    val m = graft.ml.DistLogReg.holdoutMetrics(model, te, "vec_id", "label",
      "embedding", Corpus.NClasses)
    te.agg(count(lit(1)).as("n_test")).crossJoin(m)
      .select(col("n_test"),
        (col("accuracy") <= 0.35).as("acc_at_chance"),
        (col("macro_f1") <= 0.35).as("f1_at_chance"))
  }

  /** DuckDB twin of [[mlLogregHoldout]]: the xxhash64 bucket replay of
    * [[a9SplitCountsSql]] counts the test side; verdicts pinned TRUE. */
  val mlLogregHoldoutSql: String = {
    val staged = Duck.stagedSql(
      "SELECT CAST(vec_id AS HUGEINT) AS v, CAST(42 AS HUGEINT) AS sd FROM embeddings",
      Duck.xxhashLongStages("v", "42", "h1", "za") ++
        Duck.xxhashLongStages("sd", "h1", "h2", "zb"))
    s"""WITH hh AS ($staged),
       |bk AS (SELECT (((${Duck.toSigned("h2")} % 100) + 100) % 100) AS bkt FROM hh)
       |SELECT count(*) FILTER (bkt < 20) AS n_test,
       |  TRUE AS acc_at_chance, TRUE AS f1_at_chance FROM bk""".stripMargin
  }

  /** M1 CLOSED (formerly a documented divergence): the reference's actual
    * architecture — 2-layer LSTM over ragged token-embedding sequences,
    * abs-max pool (P6), linear head, log-softmax NLL, Adam
    * (models/wos_classifier.py:111-198, wos_train_lstm.py:20-176) — trained
    * with the engine's corpus-scale step ([[graft.ml.Lstm]]: params broadcast
    * out, per-sequence BPTT gradients treeAggregate back, only model-sized
    * state at the driver). Labels here are pmod(doc_id) — independent of the
    * text by construction — so the oracled surface is the q15 verdict
    * pattern: `n_test` replays the hash-Bernoulli split exactly in SQL and
    * the verdicts pin holdout metrics at chance (NClasses = 10, generous
    * ≤ 0.35 band). That the network genuinely models SEQUENCE ORDER — the
    * thing no pooled-vector stand-in can — is pinned in LstmSpec: an
    * order-only task (same token multiset, label = order) learned to ≥ 0.9
    * while the pooled linear model sits at chance, plus finite-difference
    * gradient checks and bit-exact incremental (M2) reproducibility. [SQL] */
  val mlLstmHoldout: Q = (s, dir) => {
    val provider = graft.embed.HashingProvider("lstm", 16, seed = 101L)
    // repartition BEFORE the embed UDF: the single-file scan is 1-2
    // partitions, and both the token embedding and the per-sequence BPTT
    // must fan out across the cluster, not serialize on one core
    val docs = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(
        col("doc_id"),
        pmod(col("doc_id"), lit(Corpus.NClasses)).cast("int").as("label"),
        graft.ml.Lstm.sequenceCol(provider, col("text"), maxLen = 48).as("seq"))
    val (tr, te) = graft.operators.Split.hashSplit(docs, "doc_id", seed = 42L)
    val model = graft.ml.Lstm.fit(tr, "label", "seq", hidden = 16, nLayers = 2,
      nClasses = Corpus.NClasses, steps = 6, lr = 5e-2)
    val m = graft.ml.Lstm.holdoutMetrics(model, te, "doc_id", "label", "seq",
      Corpus.NClasses)
    te.agg(count(lit(1)).as("n_test")).crossJoin(m)
      .select(col("n_test"),
        (col("accuracy") <= 0.35).as("acc_at_chance"),
        (col("macro_f1") <= 0.35).as("f1_at_chance"))
  }

  /** DuckDB twin of [[mlLstmHoldout]]: the split replay of
    * [[mlLogregHoldoutSql]] over `documents.doc_id`; verdicts pinned TRUE. */
  val mlLstmHoldoutSql: String = {
    val staged = Duck.stagedSql(
      "SELECT CAST(doc_id AS HUGEINT) AS v, CAST(42 AS HUGEINT) AS sd FROM documents",
      Duck.xxhashLongStages("v", "42", "h1", "za") ++
        Duck.xxhashLongStages("sd", "h1", "h2", "zb"))
    s"""WITH hh AS ($staged),
       |bk AS (SELECT (((${Duck.toSigned("h2")} % 100) + 100) % 100) AS bkt FROM hh)
       |SELECT count(*) FILTER (bkt < 20) AS n_test,
       |  TRUE AS acc_at_chance, TRUE AS f1_at_chance FROM bk""".stripMargin
  }

  // ---- ST2: print_every feed gating -----------------------------------------

  /** The reference feeds the detector only on print_every boundaries
    * (streams/run_stream_supervised.py:69-83): gate batches to every 4th. [SQL] */
  private def detPred =
    pmod(col("vec_id"), lit(Corpus.NClasses)).cast("int").as("pred")
  private val detPredSql = s"CAST(vec_id % ${Corpus.NClasses} AS INT)"

  val st2GatedFeed: Q = (s, dir) => {
    val scored = Tables.embeddings(s, dir).select(
      floor(col("vec_id") / Corpus.DetectorBatch).as("batch_id"),
      col("label"), detPred)
    Metrics.batchAccuracy(scored, col("batch_id"), "label", "pred")
      .filter(pmod(col("batch_id"), lit(4)) === 3)
      .select(col("batch_id"), round(col("accuracy"), 6).as("accuracy"))
      .orderBy("batch_id")
  }

  val st2Sql: String =
    s"""SELECT batch_id, round(accuracy, 6) AS accuracy FROM
       |(SELECT CAST(floor(vec_id / ${Corpus.DetectorBatch}) AS BIGINT) AS batch_id,
       |  avg(CASE WHEN CAST(label AS INT) = $detPredSql THEN 1.0 ELSE 0.0 END) AS accuracy
       |  FROM embeddings GROUP BY 1) a
       |WHERE batch_id % 4 = 3 ORDER BY batch_id""".stripMargin

  // ---- ST7: gradual drift (σ ramp) ------------------------------------------

  /** Q-drift-gradual: pseudo-label agreement under a per-batch σ ramp — the
    * reference's linear noise schedule (drift_experiments_supervised.py:200-214)
    * over the whole corpus. [SQL] */
  // warm-start 30 batches at σ=0 (agreement = 1 by construction), then ramp —
  // gives DDM a clean baseline so the W zone precedes D mid-ramp.
  private val gradualSigmaSql =
    s"greatest(floor(vec_id / ${Corpus.DetectorBatch}) - 30, 0) * 2.0 / 33"

  val driftGradualFeed: Q = (s, dir) => memoArtifact(s, dir, "gradual_feed") {
    val model = baseModel(s, dir)
    val all = Tables.embeddings(s, dir)
    val pseudo = GaussianNB.predict(all, model, "vec_id", "embedding")
      .withColumnRenamed("pred", "pseudo_label")
    val sigma = greatest(floor(col("vec_id") / Corpus.DetectorBatch) - 30, lit(0)) * lit(2.0) / 33
    val noised = all.select(col("vec_id"),
      VecFns.addPseudoNoise(col("embedding"), col("vec_id"), sigma).as("embedding"))
    GaussianNB.predict(noised, model, "vec_id", "embedding")
      .join(pseudo, Seq("vec_id"))
      .withColumn("batch_id", floor(col("vec_id") / Corpus.DetectorBatch))
      .groupBy("batch_id")
      .agg(avg(when(col("pred") === col("pseudo_label"), 1.0).otherwise(0.0))
        .as("agreement"))
      // Warm window uses the reference's simulated noisy pass-1 accuracy
      // (U(0.9,1.0) stand-in) — a zero-variance baseline (exact 1.0 agreement)
      // would make DDM hair-triggered (s_min = 0) and skip the W zone.
      .select(col("batch_id"),
        round(when(col("batch_id") < 30, simAccuracy(col("batch_id")))
          .otherwise(col("agreement")), 6).as("accuracy"))
      .orderBy("batch_id")
      .localCheckpoint()
  }

  val driftGradualFeedSql: String =
    s"""WITH ${gnbPredictSql("vec_id >= 0", None)},
       |${gnbPredictSql("vec_id >= 0", Some(gradualSigmaSql))
          .replaceAll("\\btrainset\\b", "trainset2")
          .replaceAll("\\btestset\\b", "testset2")
          .replaceAll("\\btdims\\b", "tdims2")
          .replaceAll("\\bstats\\b", "stats2")
          .replaceAll("\\bepsv\\b", "epsv2")
          .replaceAll("\\bpriors\\b", "priors2")
          .replaceAll("\\bqdims0\\b", "qdims02")
          .replaceAll("\\bqdims\\b", "qdims2")
          .replaceAll("\\bscores\\b", "scores2")
          .replaceAll("\\branked\\b", "ranked2")
          .replaceAll("\\bpreds\\b", "preds2")},
       |agr AS (SELECT CAST(floor(a.vec_id / ${Corpus.DetectorBatch}) AS BIGINT) AS batch_id,
       |  avg(CASE WHEN b.pred = a.pred THEN 1.0 ELSE 0.0 END) AS agreement
       |  FROM preds a JOIN preds2 b ON a.vec_id = b.vec_id GROUP BY 1)
       |SELECT batch_id,
       |  round(CASE WHEN batch_id < 30 THEN $simAccuracySql ELSE agreement END, 6) AS accuracy
       |FROM agr ORDER BY batch_id""".stripMargin

  /** Faithful DDM over the gradual feed [SQL]: W precedes D as the σ
    * ramp degrades agreement — the gradual-vs-abrupt contrast. */
  val driftGradualSignals: Q = (s, dir) => {
    val feed = driftGradualFeed(s, dir)
      .withColumn("err", lit(1.0) - col("accuracy"))
      .withColumn("det", lit("gradual"))
    Drift.ddmSequential(feed, "det", "batch_id", "err")
      .select(col("batch_id"), col("error"), col("p"), col("s"), col("signal"))
      .orderBy("batch_id")
  }

  // ---- ST5: fine-tuning on the drifted stream -------------------------------

  /** Q-adapt-finetune (reference adaptation/fine_tuning.py:10-97): after the
    * space swap, re-enable training on the drifted stream using the model's
    * pseudo-labels (the labels available in the unsupervised regime) and score
    * the remainder with the fine-tuned model. Four-phase feed:
    *   1 source space (simulated near-perfect), 2 drifted+stale model
    *   (collapsed → D), 3 = fine-tune window, 4 drifted+fine-tuned (recovered).
    * [SQL: three chained GNB fits + recursive reset-DDM replay]; the
    * recovery invariant is additionally asserted in ScalaTest. */
  val driftFinetuneSignals: Q = (s, dir) => {
    val model = baseModel(s, dir)
    val te = test(s, dir)
    val pseudo = GaussianNB.predict(te, model, "vec_id", "embedding")
      .withColumnRenamed("pred", "pseudo_label")
    // Space swap = coordinate reversal (an orthogonal permutation): it breaks
    // the stale model completely but *preserves information*, so fine-tuning
    // on the drifted stream can genuinely recover — additive noise would cap
    // recovery at whatever channel capacity it destroyed.
    val shifted = te.select(col("vec_id"),
      reverse(col("embedding")).as("embedding")).localCheckpoint()
    // stale model on drifted stream (phase 2)
    val stalePred = GaussianNB.predict(shifted, model, "vec_id", "embedding")
    // fine-tune: refit sufficient statistics on the drifted stream with
    // pseudo-labels — the partial_fit analog of "re-enable training"
    val ftTrain = shifted.join(pseudo, Seq("vec_id"))
      .select(col("vec_id"), col("pseudo_label").as("label"), col("embedding"))
    val ftModel = GaussianNB.fit(ftTrain, "label", "embedding")
    val ftPred = GaussianNB.predict(shifted, ftModel, "vec_id", "embedding")
    def agree(pred: DataFrame, phase: Int): DataFrame =
      pred.join(pseudo, Seq("vec_id"))
        .withColumn("batch_id", floor(col("vec_id") / Corpus.DetectorBatch))
        .groupBy("batch_id")
        .agg(avg(when(col("pred") === col("pseudo_label"), 1.0).otherwise(0.0))
          .as("accuracy"))
        .select(lit(phase).as("phase"), col("batch_id"), col("accuracy"))
    val phase1 = te.select(floor(col("vec_id") / Corpus.DetectorBatch).as("batch_id"))
      .distinct()
      .select(lit(1).as("phase"), col("batch_id"),
        simAccuracy(col("batch_id")).as("accuracy"))
    val feed = phase1
      .unionByName(agree(stalePred, 2))
      .unionByName(agree(ftPred, 4))
      .withColumn("seq", col("phase") * lit(100000L) + col("batch_id"))
      .withColumn("err", lit(1.0) - col("accuracy"))
      .withColumn("det", lit("finetune"))
    Drift.ddmSequential(feed, "det", "seq", "err")
      .select(col("batch_id").as("seq"), col("error"), col("p"), col("s"), col("signal"))
      .orderBy("seq")
  }

  /** Generalized GNB CTE block for multi-model oracles: fit on `trainSql`
    * (vec_id, label, embedding), score `testSql` (vec_id, embedding) →
    * `preds$sfx` (vec_id, pred). Same text shape as [[gnbPredictSql]] (whose
    * parity is hash-proven); the suffix keys each fitted model's CTE chain. */
  private def gnbCtes(sfx: String, trainSql: String, testSql: String): String =
    s"""trainset$sfx AS ($trainSql),
       |testset$sfx AS ($testSql),
       |tdims$sfx AS (SELECT CAST(label AS INT) AS label,
       |  CAST(unnest(embedding) AS DOUBLE) AS e,
       |  unnest(range(0, len(embedding))) AS i FROM trainset$sfx),
       |stats$sfx AS (SELECT label, i, avg(e) AS mu, var_pop(e) AS v
       |  FROM tdims$sfx GROUP BY label, i),
       |epsv$sfx AS (SELECT max(gv) * 1e-9 AS eps FROM
       |  (SELECT var_pop(e) AS gv FROM tdims$sfx GROUP BY i) g),
       |priors$sfx AS (SELECT CAST(label AS INT) AS label,
       |  ln(count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM trainset$sfx)) AS logprior
       |  FROM trainset$sfx GROUP BY 1),
       |qdims$sfx AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
       |  unnest(range(0, len(embedding))) AS i FROM testset$sfx),
       |scores$sfx AS (SELECT q.vec_id, s.label,
       |  sum(-0.5 * ln(2 * pi() * (s.v + x.eps))
       |      - (q.e - s.mu) * (q.e - s.mu) / (2 * (s.v + x.eps))) AS ll
       |  FROM qdims$sfx q JOIN stats$sfx s ON q.i = s.i CROSS JOIN epsv$sfx x
       |  GROUP BY q.vec_id, s.label),
       |ranked$sfx AS (SELECT sc.vec_id, sc.label AS pred,
       |  row_number() OVER (PARTITION BY sc.vec_id
       |    ORDER BY sc.ll + p.logprior DESC, sc.label ASC) AS rk
       |  FROM scores$sfx sc JOIN priors$sfx p ON sc.label = p.label),
       |preds$sfx AS (SELECT r.vec_id, r.pred FROM ranked$sfx r WHERE r.rk = 1)"""
      .stripMargin

  /** DuckDB twin of [[driftFinetuneSignals]]: three GNB CTE chains (base fit →
    * pseudo-labels, stale scoring of the reversed-coordinate stream, refit on
    * pseudo-labeled drifted rows), the three-phase feed, then the recursive
    * reset-DDM replay. */
  val driftFinetuneSignalsSql: String = {
    val B = Corpus.DetectorBatch
    val trainSql = "SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 5 <> 0"
    val feed =
      s"""WITH
         |${gnbCtes("_b", trainSql,
           "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0")},
         |shifted AS (SELECT vec_id, list_reverse(embedding) AS embedding
         |  FROM embeddings WHERE vec_id % 5 = 0),
         |${gnbCtes("_st", trainSql, "SELECT vec_id, embedding FROM shifted")},
         |ftt AS (SELECT s.vec_id, p.pred AS label, s.embedding
         |  FROM shifted s JOIN preds_b p ON s.vec_id = p.vec_id),
         |${gnbCtes("_ft", "SELECT vec_id, label, embedding FROM ftt",
           "SELECT vec_id, embedding FROM shifted")},
         |p1 AS (SELECT DISTINCT CAST(floor(vec_id / $B) AS BIGINT) AS batch_id
         |  FROM embeddings WHERE vec_id % 5 = 0),
         |phase1 AS (SELECT 1 AS phase, batch_id, $simAccuracySql AS accuracy FROM p1),
         |ph2 AS (SELECT 2 AS phase, CAST(floor(a.vec_id / $B) AS BIGINT) AS batch_id,
         |  avg(CASE WHEN a.pred = p.pred THEN 1.0 ELSE 0.0 END) AS accuracy
         |  FROM preds_st a JOIN preds_b p ON a.vec_id = p.vec_id GROUP BY 2),
         |ph4 AS (SELECT 4 AS phase, CAST(floor(a.vec_id / $B) AS BIGINT) AS batch_id,
         |  avg(CASE WHEN a.pred = p.pred THEN 1.0 ELSE 0.0 END) AS accuracy
         |  FROM preds_ft a JOIN preds_b p ON a.vec_id = p.vec_id GROUP BY 2),
         |feedall AS (SELECT * FROM phase1
         |  UNION ALL SELECT * FROM ph2 UNION ALL SELECT * FROM ph4)
         |SELECT CAST(phase * 100000 + batch_id AS BIGINT) AS ord,
         |  1.0 - accuracy AS err FROM feedall""".stripMargin
    Duck.ddmRecursive(feed, "seq")
  }

  // ---- M7: PCA projection (adaptation/mapping.py:43-92 visualization) -------

  /** MLlib PCA(k=2) over the embedding column: the 2-D reduction behind the
    * reference's mapping scatter plots (t-SNE is out of idiomatic-Spark scope —
    * documented divergence M7). Eigen-decomposition is engine-specific (sign
    * and fp noise), so the oracled surface is the q15 verdict pattern:
    * `n_rows` replays exactly, and the spectral invariants — components
    * ordered by explained variance, the k=2 ratio mass inside (0, 1], a
    * non-degenerate projected extent — are pinned TRUE by the DuckDB twin.
    * Raw magnitudes stay asserted in ScalaTest. [SQL] */
  val m7PcaSummary: Q = (s, dir) => {
    import org.apache.spark.ml.feature.PCA
    val feats = graft.ml.LogRegTrainer.toFeatures(
      Tables.embeddings(s, dir), "embedding")
    val model = new PCA().setInputCol("features").setOutputCol("pca")
      .setK(2).fit(feats)
    val ev = model.explainedVariance.toArray
    val projected = model.transform(feats)
      .select(col("vec_id"), col("pca"))
    val extent = projected.select(
      max(abs(element_at(vec_to_array(col("pca")), 1))).as("max_pc1"),
      max(abs(element_at(vec_to_array(col("pca")), 2))).as("max_pc2"),
      count(lit(1)).as("n_rows"))
    extent.select(col("n_rows"),
      lit(ev(0) >= ev(1)).as("ev_ordered"),
      lit(ev(0) > 0 && ev(1) > 0 && ev(0) + ev(1) <= 1.0 + 1e-9).as("ev_in_unit"),
      (col("max_pc1") > 0.0 && col("max_pc2") > 0.0).as("extent_nondegenerate"))
  }

  val m7PcaSummarySql: String =
    """SELECT count(*) AS n_rows, TRUE AS ev_ordered, TRUE AS ev_in_unit,
      |TRUE AS extent_nondegenerate FROM embeddings""".stripMargin

  /** M7's second half, formerly documented out: exact t-SNE over the
    * deterministic viz sample (vec_id < 500 — plot-sized by id contract, so
    * the cost is CONSTANT in corpus scale; the distributed engine's job is
    * the sampling, the reduction is driver math like every scatter plot).
    * Gradient descent is seeded + fixed-order (reproducible), but float
    * details are engine-specific, so the oracle is the q15 verdict pattern:
    * n_rows replays, KL-decreased and a non-degenerate 2-D extent pin TRUE;
    * cluster-structure preservation is asserted in TsneSpec. [SQL] */
  val m7TsneSummary: Q = (s, dir) => {
    val rows = Tables.embeddings(s, dir).filter(col("vec_id") < 500)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
    val x = rows.map(_.getSeq[Float](1).toArray.map(_.toDouble))
    val (y, kl0, kl1) = graft.ml.Tsne.fitWithKl(x, dims = 2,
      perplexity = math.min(30.0, (x.length - 1) / 3.0), iters = 250)
    import s.implicits._
    Seq((rows.length.toLong, kl1 < kl0,
        y.map(p => math.abs(p(0))).max > 0.0 &&
          y.map(p => math.abs(p(1))).max > 0.0))
      .toDF("n_rows", "kl_decreased", "extent_nondegenerate")
  }

  val m7TsneSummarySql: String =
    """SELECT count(*) AS n_rows, TRUE AS kl_decreased,
      |TRUE AS extent_nondegenerate FROM embeddings WHERE vec_id < 500""".stripMargin

  private def vec_to_array(c: Column): Column = {
    val f = udf { v: org.apache.spark.ml.linalg.Vector => v.toArray }
    f(c)
  }

  val queries: Map[String, Q] = Map(
    "st2_gated_feed" -> st2GatedFeed,
    "drift_gradual_feed" -> driftGradualFeed,
    "drift_gradual_signals" -> driftGradualSignals,
    "drift_finetune_signals" -> driftFinetuneSignals,
    "m7_pca_summary" -> m7PcaSummary,
    "m7_tsne_summary" -> m7TsneSummary,
    "a9_split_counts" -> a9SplitCounts,
    "ml_logreg_holdout" -> mlLogregHoldout,
    "ml_lstm_holdout" -> mlLstmHoldout,
    "ml_gnb_predict" -> mlGnbPredict,
    "ml_gnb_metrics" -> mlGnbMetrics,
    "drift_abrupt_feed" -> driftAbruptFeed,
    "drift_abrupt_signals" -> driftAbruptSignals,
    "q_report_abrupt" -> qReportAbrupt,
    "drift_unsup_feed" -> driftUnsupFeed,
    "drift_unsup_signals" -> driftUnsupSignals)

  val oracles: Map[String, String] = Map(
    "a9_split_counts" -> a9SplitCountsSql,
    "st2_gated_feed" -> st2Sql,
    "drift_gradual_feed" -> driftGradualFeedSql,
    "ml_gnb_predict" -> mlGnbPredictSql,
    "ml_gnb_metrics" -> mlGnbMetricsSql,
    "drift_abrupt_feed" -> driftAbruptFeedSql,
    "q_report_abrupt" -> qReportAbruptSql,
    "drift_abrupt_signals" -> Duck.ddmRecursive(
      s"SELECT CAST(phase * 100000 + batch_id AS BIGINT) AS ord, " +
        s"1.0 - accuracy AS err FROM ($driftAbruptFeedSql) f", "seq"),
    "drift_gradual_signals" -> Duck.ddmRecursive(
      s"SELECT CAST(batch_id AS BIGINT) AS ord, 1.0 - accuracy AS err " +
        s"FROM ($driftGradualFeedSql) f", "batch_id"),
    "drift_unsup_signals" -> Duck.ddmRecursive(
      s"SELECT CAST(phase * 100000 + batch_id AS BIGINT) AS ord, " +
        s"1.0 - accuracy AS err FROM ($driftUnsupFeedSql) f", "seq"),
    "drift_finetune_signals" -> driftFinetuneSignalsSql,
    "drift_unsup_feed" -> driftUnsupFeedSql,
    "ml_logreg_holdout" -> mlLogregHoldoutSql,
    "ml_lstm_holdout" -> mlLstmHoldoutSql,
    "m7_pca_summary" -> m7PcaSummarySql,
    "m7_tsne_summary" -> m7TsneSummarySql)
}
