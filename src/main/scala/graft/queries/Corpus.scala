package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFns, VecFns}
import graft.operators.Metrics
import graft.sources.Tables

/** Reference-shaped corpus queries — the [SQL] rows of SURVEY §2 over the
  * `documents`/`embeddings` fixtures, each with an exact DuckDB oracle twin. */
object Corpus {

  type Q = (SparkSession, String) => DataFrame

  /** Batch granularity for the detector feed: floor(vec_id / DetectorBatch).
    * 8 (not the reference's 32) so even sf0.01's 500 vectors produce enough
    * batches (>30) to clear DDM's warm-up gate. */
  val DetectorBatch = 8
  val NClasses = 10

  /** The deterministic stand-in "model": pred = vec_id mod NClasses. Downstream
    * metric/drift operators only need *some* reproducible prediction stream. */
  private def pred = pmod(col("vec_id"), lit(NClasses)).cast("int").as("pred")
  private val predSqlExpr = s"CAST(vec_id % $NClasses AS INT)"

  // ---- P1: clean_text -------------------------------------------------------
  val p1CleanText: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.cleanText(col("text")).as("clean"))
      .orderBy("doc_id")

  val p1Sql: String =
    "SELECT doc_id, " + Duck.clean("text", punct = false) +
      " AS clean FROM documents ORDER BY doc_id"

  // ---- A1: word count (reference adaptation/dataset.py:193-201) -------------
  private def wordsDf(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      explode(TextFns.words(TextFns.cleanText(col("text"), removePunctuation = true)))
        .as("word"))

  val a1WordCount: Q = (s, dir) =>
    wordsDf(s, dir).groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)

  private[queries] val wordsSub =
    "(SELECT unnest(string_split(" + Duck.clean("text", punct = true) +
      ", ' ')) AS word FROM documents) t"

  val a1Sql: String =
    s"SELECT word, count(*) AS n FROM $wordsSub GROUP BY word ORDER BY n DESC, word"

  // ---- A2: top-k most common words (adaptation/dataset.py:203-212) ----------
  // Ties beyond the reference's (stable Python sort) are broken lexically — a
  // documented determinism choice so both engines agree.
  val a2TopWords: Q = (s, dir) =>
    wordsDf(s, dir).groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(100)

  val a2Sql: String =
    s"SELECT word, count(*) AS n FROM $wordsSub GROUP BY word ORDER BY n DESC, word LIMIT 100"

  // ---- P2: label parse / histogram (streams/loaders.py:48-51) ---------------
  val p2LabelHist: Q = (s, dir) =>
    Tables.embeddings(s, dir)
      .groupBy(col("label").cast("int").as("label"))
      .agg(count(lit(1)).as("n"))
      .orderBy("label")

  val p2Sql: String =
    "SELECT CAST(label AS INT) AS label, count(*) AS n FROM embeddings GROUP BY 1 ORDER BY 1"

  // ---- J1: line-aligned zip (streams/loaders.py:40-55) ----------------------
  // Positional alignment via ZipIndex (range-partition + per-partition offset
  // composition) — never a row_number over an unpartitioned window, which
  // would single-partition-sort both full tables (VERDICT r1 #3).
  val j1LineZip: Q = (s, dir) => {
    val x = graft.operators.ZipIndex.withOrderIndex(
      Tables.documents(s, dir).select("doc_id", "text"), "doc_id", "idx")
    val y = graft.operators.ZipIndex.withOrderIndex(
      Tables.embeddings(s, dir).select("vec_id", "label"), "vec_id", "idx")
    x.join(y, "idx")
      .select(col("doc_id"), col("vec_id"), col("label"),
        length(col("text")).cast("long").as("len"))
      .orderBy("doc_id")
  }

  val j1Sql: String =
    """SELECT doc_id, vec_id, label, length(text) AS len FROM
      |(SELECT doc_id, text, row_number() OVER (ORDER BY doc_id) AS idx FROM documents) x
      |JOIN (SELECT vec_id, label, row_number() OVER (ORDER BY vec_id) AS idx FROM embeddings) y
      |USING (idx) ORDER BY doc_id""".stripMargin

  // ---- J2: keyed join documents ⋈ embeddings (robust form of the positional
  // dual-stream alignment, streams/run_stream_unsupervised.py:41-99) ----------
  val j2KeyJoin: Q = (s, dir) =>
    Tables.documents(s, dir)
      .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"))
      .groupBy("lang", "label")
      .agg(count(lit(1)).as("n"), round(avg("n_chars"), 2).as("avg_chars"))
      .orderBy("lang", "label")

  val j2Sql: String =
    """SELECT lang, label, count(*) AS n, round(avg(n_chars), 2) AS avg_chars
      |FROM documents JOIN embeddings ON doc_id = vec_id
      |GROUP BY lang, label ORDER BY lang, label""".stripMargin

  // ---- J3/ST7: σ-schedule generated-dimension join
  // (drift_experiments_supervised.py:200-214) ---------------------------------
  val SigmaWarmStart = 5
  val SigmaNIter = 20
  val SigmaMax = 2.0

  val j3SigmaSchedule: Q = (s, dir) => {
    val batches = Tables.embeddings(s, dir)
      .select(floor(col("vec_id") / 32).as("batch_id"))
      .groupBy("batch_id").agg(count(lit(1)).as("n_docs"))
    val sched = s.range(SigmaWarmStart, SigmaNIter).select(
      col("id").as("batch_id"),
      round((col("id") - SigmaWarmStart) * lit(SigmaMax) / (SigmaNIter - SigmaWarmStart), 6)
        .as("sigma"))
    batches.join(broadcast(sched), "batch_id")
      .select("batch_id", "n_docs", "sigma")
      .orderBy("batch_id")
  }

  val j3Sql: String =
    s"""SELECT batch_id, n_docs, sigma FROM
       |(SELECT CAST(floor(vec_id / 32) AS BIGINT) AS batch_id, count(*) AS n_docs
       |  FROM embeddings GROUP BY 1) b
       |JOIN (SELECT i AS batch_id,
       |  round((i - $SigmaWarmStart) * $SigmaMax / ${SigmaNIter - SigmaWarmStart}, 6) AS sigma
       |  FROM generate_series($SigmaWarmStart, ${SigmaNIter - 1}) t(i)) s
       |USING (batch_id) ORDER BY batch_id""".stripMargin

  // ---- P5-adjacent: per-vector pooled scalars -------------------------------
  val p5PoolScalars: Q = (s, dir) =>
    Tables.embeddings(s, dir).select(
        col("vec_id"),
        round(VecFns.vecMax(col("embedding")).cast("double"), 4).as("vmax"),
        round(VecFns.vecMin(col("embedding")).cast("double"), 4).as("vmin"),
        round(VecFns.vecAvg(col("embedding")), 4).as("vavg"),
        size(col("embedding")).cast("long").as("dim"))
      .orderBy("vec_id")

  val p5Sql: String =
    """SELECT vec_id, round(max(e), 4) AS vmax, round(min(e), 4) AS vmin,
      |round(avg(e), 4) AS vavg, count(*) AS dim FROM
      |(SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e FROM embeddings) t
      |GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ---- P6: abs-max pooling (models/wos_classifier.py:181-198) ---------------
  // Scalar form over the stored vector: the element with max |value|, sign
  // kept — the same fold absMaxPool applies per-dim over the token axis.
  val p6AbsMax: Q = (s, dir) =>
    Tables.embeddings(s, dir).select(
        col("vec_id"),
        round(aggregate(col("embedding").cast("array<double>"),
          element_at(col("embedding"), 1).cast("double"),
          (acc, x) => when(abs(x) > abs(acc), x).otherwise(acc)), 4).as("absmax"))
      .orderBy("vec_id")

  // DuckDB: list_reduce seeds the fold with the first element — but then visits
  // element 1 AGAIN (fold over the full list), unlike Spark's aggregate(zero =
  // first, fold over all). Re-visiting the seed is idempotent for abs-max, so
  // both engines produce the same result; the Spark fold also revisits
  // element 1 here for exact structural parity.
  val p6Sql: String =
    """SELECT vec_id, round(list_reduce(
      |  [CAST(e AS DOUBLE) FOR e IN embedding],
      |  (acc, x) -> CASE WHEN abs(x) > abs(acc) THEN x ELSE acc END), 4) AS absmax
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ---- A5: multiclass metrics (utils/metrics.py:6-32) -----------------------
  val a5Metrics: Q = (s, dir) => {
    val scored = Tables.embeddings(s, dir).select(col("label"), pred)
    Metrics.multiclass(scored, "label", "pred", NClasses)
  }

  val a5Sql: String =
    s"""WITH p AS (SELECT CAST(label AS INT) AS label, $predSqlExpr AS pred FROM embeddings),
       |cls AS (SELECT CAST(i AS INT) AS c FROM generate_series(0, ${NClasses - 1}) t(i)),
       |stats AS (SELECT c,
       |  sum(CASE WHEN p.label = c AND p.pred = c THEN 1 ELSE 0 END) AS tp,
       |  sum(CASE WHEN p.pred = c AND p.label <> c THEN 1 ELSE 0 END) AS fp,
       |  sum(CASE WHEN p.label = c AND p.pred <> c THEN 1 ELSE 0 END) AS fn
       |  FROM cls CROSS JOIN p GROUP BY c),
       |pr AS (SELECT c,
       |  CASE WHEN tp + fp = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS prec,
       |  CASE WHEN tp + fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS rec
       |  FROM stats),
       |f AS (SELECT c, prec, rec,
       |  CASE WHEN prec + rec = 0 THEN 0.0 ELSE 2 * prec * rec / (prec + rec) END AS f1
       |  FROM pr)
       |SELECT
       |  round((SELECT avg(CASE WHEN label = pred THEN 1.0 ELSE 0.0 END) FROM p), 6) AS accuracy,
       |  round(avg(prec), 6) AS macro_precision,
       |  round(avg(rec), 6) AS macro_recall,
       |  round(avg(f1), 6) AS macro_f1
       |FROM f""".stripMargin

  // ---- A4/ST2: per-batch accuracy — the detector feed -----------------------
  def batchAccuracyDf(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.embeddings(s, dir).select(
      floor(col("vec_id") / DetectorBatch).as("batch_id"), col("label"), pred)
    Metrics.batchAccuracy(scored, col("batch_id"), "label", "pred")
  }

  val a4BatchAccuracy: Q = (s, dir) =>
    batchAccuracyDf(s, dir)
      .select(col("batch_id"), round(col("accuracy"), 6).as("accuracy"))
      .orderBy("batch_id")

  private[queries] val accSub =
    s"""(SELECT CAST(floor(vec_id / $DetectorBatch) AS BIGINT) AS batch_id,
       |avg(CASE WHEN CAST(label AS INT) = $predSqlExpr THEN 1.0 ELSE 0.0 END) AS accuracy
       |FROM embeddings GROUP BY 1)""".stripMargin

  val a4Sql: String =
    s"SELECT batch_id, round(accuracy, 6) AS accuracy FROM $accSub a ORDER BY batch_id"

  // ---- P7+A6: deterministic noise injection + MSE ---------------------------
  val NoiseWarm = 5
  val NoiseNIter = 64
  val NoiseMax = 2.0

  val p7NoiseMse: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
      .withColumn("batch_id", floor(col("vec_id") / DetectorBatch))
      .withColumn("sigma",
        when(col("batch_id") < NoiseWarm, 0.0)
          .otherwise((col("batch_id") - NoiseWarm) * lit(NoiseMax) / (NoiseNIter - NoiseWarm)))
    // NOTE: the mse must be computed in a separate projection from the
    // rounded-sigma alias — Spark 4's lateral column alias resolution would
    // otherwise bind `sigma` inside the mse expression to the *rounded* alias
    // in the same select list, silently changing the arithmetic.
    e.withColumn("mse_raw",
        VecFns.mse(col("embedding"),
          VecFns.addPseudoNoise(col("embedding"), col("vec_id"), col("sigma"))))
      .select(col("vec_id"), round(col("sigma"), 6).as("sigma"),
        round(col("mse_raw"), 6).as("mse"))
      .orderBy("vec_id")
  }

  val p7Sql: String =
    s"""WITH base AS (SELECT vec_id,
       |  CASE WHEN floor(vec_id / $DetectorBatch) < $NoiseWarm THEN 0.0
       |       ELSE (floor(vec_id / $DetectorBatch) - $NoiseWarm) * $NoiseMax / ${NoiseNIter - NoiseWarm}
       |  END AS sigma, embedding FROM embeddings),
       |dims AS (SELECT vec_id, sigma,
       |  CAST(unnest(embedding) AS DOUBLE) AS e,
       |  unnest(range(0, len(embedding))) AS i FROM base),
       |noised AS (SELECT vec_id, sigma, e,
       |  e + sigma * (((vec_id * 2654435761 + i * 40503) % 100000) / 100000.0 - 0.5) AS y
       |  FROM dims)
       |SELECT vec_id, round(sigma, 6) AS sigma,
       |  round(sum((e - y) * (e - y)) / count(*), 6) AS mse
       |FROM noised GROUP BY vec_id, sigma ORDER BY vec_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "p1_clean_text" -> p1CleanText,
    "a1_word_count" -> a1WordCount,
    "a2_top_words" -> a2TopWords,
    "p2_label_hist" -> p2LabelHist,
    "j1_line_zip" -> j1LineZip,
    "j2_key_join" -> j2KeyJoin,
    "j3_sigma_schedule" -> j3SigmaSchedule,
    "p5_pool_scalars" -> p5PoolScalars,
    "p6_absmax" -> p6AbsMax,
    "a5_metrics" -> a5Metrics,
    "a4_batch_accuracy" -> a4BatchAccuracy,
    "p7_noise_mse" -> p7NoiseMse)

  val oracles: Map[String, String] = Map(
    "p6_absmax" -> p6Sql,
    "p1_clean_text" -> p1Sql,
    "a1_word_count" -> a1Sql,
    "a2_top_words" -> a2Sql,
    "p2_label_hist" -> p2Sql,
    "j1_line_zip" -> j1Sql,
    "j2_key_join" -> j2Sql,
    "j3_sigma_schedule" -> j3Sql,
    "p5_pool_scalars" -> p5Sql,
    "a5_metrics" -> a5Sql,
    "a4_batch_accuracy" -> a4Sql,
    "p7_noise_mse" -> p7Sql)
}
