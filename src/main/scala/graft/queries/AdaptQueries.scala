package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.embed.{EmbeddingProvider, HashingProvider, RotatedProvider}
import graft.functions.VecFns
import graft.operators.{AdaptCache, Adaptation, Drift}
import graft.sources.Tables

/** Adaptation-suite queries (SURVEY §2.7 / Q-adapt-*): the word-pair dataset,
  * Procrustes and MLP mapping fits with MSE evaluation, and the end-to-end
  * mapped-stream recovery experiment. Provider + SVD are host-code, so each
  * query's oracle is either a full value replay (p3_embed_pool), a verdict
  * pin (the *_eval fits), or a feed-pinned exact-DDM replay (the stream
  * chains — see [[adaptBatchesSql]]); invariants also in AdaptationSpec. */
object AdaptQueries {

  type Q = (SparkSession, String) => DataFrame

  val Dim = 32
  val TopK = 200
  val SourceSeed = 101L

  def sourceProvider: EmbeddingProvider = HashingProvider("src", Dim, seed = SourceSeed)
  def targetProvider: EmbeddingProvider = RotatedProvider(sourceProvider, rotSeed = 7L)

  /** A1→A2→A3 behind the S7 cache: top-k words embedded in the source and
    * (drifted) target space; recomputed only on a (params, corpus) cache miss. */
  val adaptWordPairs: Q = (s, dir) =>
    AdaptCache.wordPairDataset(Tables.documents(s, dir), dir, "text", TopK,
        sourceProvider, targetProvider)
      .select(col("word"), col("n"),
        size(col("source")).as("dim_s"), size(col("target")).as("dim_t"))
      .orderBy(col("n").desc, col("word").asc)

  /** A7/M6 + A6: Procrustes alignment quality. The SVD is host math (not
    * bit-replayable), so the oracled surface is the q15 verdict pattern:
    * `n_pairs` replays exactly in SQL (the A1→A2 top-k chain), and the two
    * quality verdicts — near-total MSE recovery and orthogonality of W — are
    * pinned TRUE by the DuckDB twin, so a mapping regression hash-fails the
    * driver gate (raw MSE magnitudes stay asserted in AdaptationSpec). [SQL] */
  val adaptProcrustesEval: Q = (s, dir) => {
    val pairs = AdaptCache.wordPairDataset(Tables.documents(s, dir), dir, "text",
      TopK, sourceProvider, targetProvider).cache()
    val nPairs = pairs.count()
    val w = Adaptation.procrustes(pairs, "source", "target", Dim)
    val mseUnmapped = Adaptation.mappingMse(pairs, "source", "target", None)
    val mseMapped = Adaptation.mappingMse(pairs, "source", "target", Some(w))
    // max |WᵀW − I|
    val ortho = (0 until Dim).flatMap { i =>
      (0 until Dim).map { j =>
        val dot = (0 until Dim).map(k => w(k)(i) * w(k)(j)).sum
        math.abs(dot - (if (i == j) 1.0 else 0.0))
      }
    }.max
    pairs.unpersist()
    import s.implicits._
    // target space = orthogonal transform of source ⇒ Procrustes recovers it
    // near-exactly: mapped MSE under 1% of unmapped, W orthogonal to 1e-6.
    Seq((nPairs, mseMapped < 0.01 * mseUnmapped, ortho < 1e-6))
      .toDF("n_pairs", "mapped_recovers", "w_orthogonal")
  }

  /** M5 + A6: MLP mapping fit quality — verdict surface like
    * [[adaptProcrustesEval]] (the trained net is host math): the fit must
    * strictly beat the unmapped MSE and the epoch-loss curve must descend. [SQL] */
  val adaptMlpEval: Q = (s, dir) => {
    val pairs = AdaptCache.wordPairDataset(Tables.documents(s, dir), dir, "text",
      TopK, sourceProvider, targetProvider).cache()
    // ONE collect of the model-sized pair frame feeds n_pairs, the fit, and
    // the driver-side MLP evaluation (r17 shape: count + fit-collect +
    // eval-collect, three jobs over the same ≤ topK rows — guide §5). The
    // unmapped-MSE aggregate stays IN-ENGINE: its float-sum order is pinned
    // (AdaptationSpec) and must not move to the driver.
    val data = Adaptation.collectPairs(pairs, "source", "target")
    val nPairs = data.length.toLong
    val (model, losses) = Adaptation.fitMlpData(data, Dim,
      hidden = 64, epochs = 10, lr = 0.05)
    val mseUnmapped = Adaptation.mappingMse(pairs, "source", "target", None)
    val mseMlp = data.map { case (x, y) =>
      val e = model.forward(x) - y
      (e dot e) / Dim
    }.sum / data.length
    pairs.unpersist()
    import s.implicits._
    Seq((nPairs, mseMlp < mseUnmapped, losses.last < losses.head))
      .toDF("n_pairs", "mlp_improves", "loss_decreases")
  }

  /** Q-adapt-mapping end-to-end (E3 + ST3 recovery): three-phase stream —
    * (1) source space, simulated near-perfect agreement;
    * (2) drifted (rotated) space, agreement vs pseudo-labels collapses → drift;
    * (3) drifted space mapped back through the fitted Procrustes W → agreement
    * recovers. A shared DDM scans the whole feed: N…N | W,D | N…N. */
  val adaptStreamSignals: Q = (s, dir) => {
    val all = adaptFeed(s, dir)
      .withColumn("seq", col("phase") * lit(100000L) + col("batch_id"))
      .withColumn("err", lit(1.0) - col("accuracy"))
      .withColumn("det", lit("adapt"))
    val out = Drift.ddmSequential(all, "det", "seq", "err")
    out.select(col("batch_id").as("seq"), col("error"), col("p"), col("s"), col("signal"))
      .orderBy("seq")
  }

  /** The three-phase (source | drifted | mapped) per-batch agreement feed
    * behind [[adaptStreamSignals]] and the adaptation report. Memoized per
    * (session, corpus) with the MLQueries get/putIfAbsent discipline (the
    * builder reads the parquet-memoized caches — never this map). */
  private val feedMemo = new graft.SessionMemo[DataFrame]

  private def adaptFeed(s: SparkSession, dir: String): DataFrame =
    feedMemo.getOrBuild(s, dir)(adaptFeedBuild(s, dir).localCheckpoint())

  private def adaptFeedBuild(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    // Token pooling = mean (A3 "average"): mean-pooling commutes with the
    // linear space shift, so the mapped stream can recover exactly — max-pool
    // (P5) does not commute with a signed permutation and would leave phase 3
    // misaligned no matter how good the mapping is.
    // S3/S4: the pooled tables are parameter-keyed parquet memos — src feeds
    // three branches and tgt two, and every adapt/report query re-reads the
    // materialized embeddings instead of re-running the provider per branch.
    val src = AdaptCache.pooledDocEmbeddings(docs, dir, "text", sourceProvider)
    val tgt = AdaptCache.pooledDocEmbeddings(docs, dir, "text", targetProvider)
    // mapping fitted on the word-pair dataset maps source→target; to bring the
    // drifted stream back we need target→source: fit with roles swapped.
    val pairs = AdaptCache.wordPairDataset(docs, dir, "text", TopK,
      sourceProvider, targetProvider)
    val wBack = Adaptation.procrustes(pairs, "target", "source", Dim)
    // "model" = nearest-source-neighbor identity: pseudo-label for doc = its own
    // source vector; agreement = cosine(mapped/unmapped target vec, source vec)
    // thresholded — a deterministic stand-in for model-prediction agreement.
    def agreement(df: DataFrame, mapped: Boolean): DataFrame = {
      val vecCol = if (mapped) VecFns.matApply(wBack, col("vec")) else col("vec")
      df.join(src.select(col("doc_id"), col("vec").as("src_vec")), Seq("doc_id"))
        .select(col("doc_id"),
          when(VecFns.cosine(vecCol, col("src_vec")) > 0.95, 1.0).otherwise(0.0)
            .as("ok"))
    }
    val batch = floor(col("doc_id") / Corpus.DetectorBatch)
    def feed(df: DataFrame, phase: Int): DataFrame =
      df.groupBy(batch.as("batch_id"))
        .agg(avg("ok").as("accuracy"))
        .select(lit(phase).as("phase"), col("batch_id"), col("accuracy"))
    val f1 = feed(agreement(src, mapped = false), 1)     // self-agreement = 1
    val f2 = feed(agreement(tgt, mapped = false), 2)     // collapsed
    val f3 = feed(agreement(tgt, mapped = true), 3)      // recovered
    f1.unionByName(f2).unionByName(f3)
  }

  /** Q-report, adaptation instantiation (reference utils/visualization.py:
    * 240-349): the mapped stream is post-hoc — it ran through the fitted
    * mapping WITHOUT a live detector, so its points carry detection='None'
    * while the source|drifted timeline keeps the detector firings
    * (`detectorEnd = 2` cuts the DDM feed at the mapped stream's offset).
    * Rows-only: the feed is provider host-code, like every adapt query. */
  val qReportAdapt: Q = (s, dir) => {
    val feed = adaptFeed(s, dir).select(
      (col("phase") - 1).cast("int").as("streamOrd"),
      when(col("phase") === 1, "source")
        .when(col("phase") === 2, "drifted")
        .otherwise("mapped").as("stream"),
      col("batch_id"), round(col("accuracy"), 6).as("accuracy"))
    graft.operators.Report.experimentReport(feed, detectorEnd = Some(2))
  }

  /** P3+A3 plumbing: provider token embeddings pooled three ways (first/avg/
    * max), shape-checked output. */
  val p3EmbedPool: Q = (s, dir) => {
    val toks = EmbeddingProvider.embedTokensCol(sourceProvider)(col("text"))
    Tables.documents(s, dir)
      .withColumn("tokens", toks)
      .select(col("doc_id"),
        size(col("tokens")).as("seq_len"),
        round(VecFns.vecAvg(VecFns.firstPool(col("tokens"))), 4).as("first_avg"),
        round(VecFns.vecAvg(VecFns.meanPool(col("tokens"))), 4).as("mean_avg"),
        round(VecFns.vecAvg(VecFns.maxPool(col("tokens"))), 4).as("max_avg"))
      .orderBy("doc_id")
  }

  /** The LEARNED provider on the declared surface: MLlib Word2Vec fit on the
    * corpus (graft.embed.Word2VecProvider — the trained alternative to the
    * hashing stub, SURVEY §7 / VERDICT "missing #1"), then each source's top
    * word embedded and scored by cosine against the global top word. Skip-gram
    * negative sampling is partition-seeded, so the trained FLOATS are not
    * cross-engine replayable — but the query's deterministic spine is: the
    * per-source top words and counts replay as plain SQL, and the cosines
    * reduce to the q15/m7 verdict pattern (every cosine finite and in
    * [-1, 1]; the anchor's self-cosine 1.0 within rounding). Embedding-space
    * structure beyond the verdicts is pinned in AdaptationSpec. [SQL] */
  private val w2vMemo = new graft.SessionMemo[graft.embed.Word2VecProvider]()

  val w2vTopWordSims: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    // one fit per (session, corpus): the trained model is the reusable
    // artifact, same contract as the adaptation caches
    val p = w2vMemo.getOrBuild(s, s"w2v|$dir|$Dim|$SourceSeed") {
      graft.embed.Word2VecProvider.fit(docs, "text", dim = Dim,
        minCount = 2, maxIter = 1, seed = SourceSeed)
    }
    val words = docs
      .select(col("source"), explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val counts = words.groupBy("source", "w").agg(count(lit(1)).as("n"))
      .localCheckpoint() // one tokenize+count pass feeds top AND rare
    // Per-source top word by (n DESC, w ASC) as ONE map-side-combinable
    // aggregate — min of the (-n, w) struct, exactly the row_number tie-
    // break — collected once (≤ |sources| rows, model-sized). r17 shape ran
    // a per-source sort window THREE times over the checkpoint (anchor
    // head, exclusion-set collect, final verdict pass) plus a broadcast +
    // per-row UDFs; anchor, exclusion set, and verdict rows now all derive
    // from this single job and the cosines compute on the driver with the
    // same float→double sequential sums (bit-identical results).
    val topRows = counts
      .groupBy("source")
      .agg(min(struct((-col("n")).as("nn"), col("w"))).as("t"))
      .select(col("source"), col("t.w").as("w"), (-col("t.nn")).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val anchor = topRows.minBy { case (_, w, n) => (-n, w) }._2
    // the LEAST-trained in-vocab word (min global count >= minCount): a word
    // skip-gram barely updated, so it anchors the "training actually pulled
    // co-occurring words together" comparison below. Deterministic from the
    // counts spine alone — no floats involved in choosing it. The anchor and
    // every per-source top word are EXCLUDED explicitly (not just by the
    // tie-break): a degenerate corpus where the global-min word IS the
    // anchor would give rareCos = 1.0 and fail the strict > on the anchor's
    // own row, turning corpus shape into an oracle mismatch. The top-word
    // exclusion set is ≤ |sources| rows (model-sized).
    val topWords = topRows.map(_._2).toSet + anchor
    val rareWord = counts.groupBy("w").agg(sum("n").as("gn"))
      .filter(col("gn") >= 2 && !col("w").isInCollection(topWords))
      .orderBy(col("gn").asc, col("w").desc)
      .head().getString(0)
    val cosTo = (a: Array[Float], b: Array[Float]) => {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = ad.zip(bd).map { case (x, y) => x * y }.sum
      d / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val rareCos = cosTo(p.embedWord(rareWord), p.embedWord(anchor))
    // Verdict reduction (m7_tsne_summary precedent): the engine-specific
    // floats become deterministic booleans DuckDB replays as TRUE. The first
    // two are sanity bounds; the last two are the NON-VACUOUS pair a broken
    // embedding fails: `top_in_vocab` is false when the fit produced no
    // vector for a count>=minCount word (fallback leak / empty model), and
    // `closer_than_rare` demands cos(top, anchor) STRICTLY beat
    // cos(least-trained-word, anchor) — an untrained or constant embedding
    // gives equality (fails >), and only a fit that actually pulled
    // frequently-co-occurring words toward the anchor clears it. Pinned
    // empirically at sf0.001/sf0.01 and deterministic for the memoized
    // (input, partitioning, seed) triple, the m1/m7 verdict discipline.
    // SENSITIVITY: the trained floats (hence the strict inequality) are
    // stable per (corpus, core count/partitioning, seed) — a different
    // executor layout can legitimately move the cosines. The verdict's
    // guardrails are structural (anchor/top words excluded from the rare
    // baseline above), but re-pinning on a new environment is expected,
    // exactly like the other learned-artifact verdicts.
    val anchorInVocab = p.vocab.contains(anchor)
    val out = topRows.map { case (source, w, n) =>
      val cos = cosTo(p.embedWord(w), p.embedWord(anchor))
      (source, w, n,
        math.abs(cos) <= 1.0 + 1e-9,
        w != anchor || math.abs(cos - 1.0) < 1e-6,
        p.vocab.contains(w) && anchorInVocab,
        cos > rareCos)
    }.toSeq
    import s.implicits._
    out.toDF("source", "w", "n", "cos_in_range", "anchor_self_sim",
        "top_in_vocab", "closer_than_rare")
      .orderBy("source")
  }

  /** DuckDB replay of [[w2vTopWordSims]]'s deterministic spine: the raw
    * whitespace-regex tokenization (NOT the cleaned [[Corpus.wordsSub]] —
    * Word2Vec trains on raw tokens), per-source top word by (count desc,
    * word) ties, plus the four cosine/vocab verdicts as TRUE literals (the
    * last two non-vacuous: a broken fit fails them engine-side and the
    * hash mismatches). */
  private val w2vTopWordSimsSql: String =
    """WITH words AS (SELECT source,
      |    unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents),
      |f AS (SELECT source, w, count(*) AS n FROM words
      |  WHERE length(w) > 0 GROUP BY 1, 2),
      |rk AS (SELECT source, w, n,
      |    row_number() OVER (PARTITION BY source ORDER BY n DESC, w) AS rk
      |  FROM f)
      |SELECT source, w, n, TRUE AS cos_in_range, TRUE AS anchor_self_sim,
      |  TRUE AS top_in_vocab, TRUE AS closer_than_rare
      |FROM rk WHERE rk = 1 ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "w2v_top_word_sims" -> w2vTopWordSims,
    "adapt_word_pairs" -> adaptWordPairs,
    "adapt_procrustes_eval" -> adaptProcrustesEval,
    "adapt_mlp_eval" -> adaptMlpEval,
    "adapt_stream_signals" -> adaptStreamSignals,
    "q_report_adapt" -> qReportAdapt,
    "p3_embed_pool" -> p3EmbedPool)

  /** DuckDB twin of the FULL hashing-provider embed pipeline behind
    * p3_embed_pool (HashingProvider.embedTokens): splitmix64 re-expressed in
    * wrapped unsigned-HUGEINT arithmetic, the per-token character fold as a
    * recursive CTE (one step per character position, all tokens advancing in
    * lockstep), per-dim base + positional components, float cast, and the
    * three poolings as order-pinned folds — bit-identical to the Scala chain.
    * ASCII corpus ⇒ `unicode(c)` equals Java's UTF-16 `charAt`. */
  private def p3Sql: String = {
    val ts = Duck.toSigned("sm")
    val smTok = Duck.splitmix64(
      "SELECT f.token, f.pos, xor(f.h, c.code) AS x0 FROM fold f " +
        "JOIN chars c ON c.token = f.token AND c.cp = f.pos " +
        "WHERE f.pos < (SELECT m FROM maxlen)")
    val smDim = Duck.splitmix64(
      s"SELECT token, unnest(range(0, $Dim)) AS d, " +
        s"xor(h, CAST(unnest(range(0, $Dim)) AS HUGEINT)) AS x0 FROM thash")
    val smPos = Duck.splitmix64(
      s"SELECT doc_id, p, unnest(range(0, $Dim)) AS d, " +
        s"xor(xor(CAST($SourceSeed AS HUGEINT), CAST(p AS HUGEINT) * 4294967296), " +
        s"CAST(unnest(range(0, $Dim)) AS HUGEINT)) AS x0 " +
        "FROM (SELECT DISTINCT doc_id, p FROM inst)")
    s"""WITH RECURSIVE
       |docs AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
       |    t -> len(t) > 0) AS toks FROM documents),
       |docs2 AS (SELECT doc_id, CASE WHEN len(toks) = 0 THEN ['']
       |    ELSE toks END AS toks FROM docs),
       |inst AS (SELECT doc_id, unnest(range(0, len(toks))) AS p,
       |    unnest(toks) AS token FROM docs2),
       |tok AS (SELECT DISTINCT token FROM inst),
       |chars AS (SELECT token, unnest(range(0, length(token))) AS cp,
       |    unnest([CAST(unicode(c) AS HUGEINT) FOR c IN string_split(token, '')]) AS code
       |  FROM tok),
       |maxlen AS (SELECT max(length(token)) AS m FROM tok),
       |fold AS (
       |  SELECT token, 0 AS pos, CAST($SourceSeed AS HUGEINT) AS h FROM tok
       |  UNION ALL
       |  SELECT u.token, u.pos + 1, u.sm AS h FROM ($smTok) u
       |),
       |thash AS (SELECT f.token, f.h FROM fold f WHERE f.pos = length(f.token)),
       |tdim AS (SELECT token, d, CAST($ts AS DOUBLE) / ${Duck.MaxLongD} AS base
       |  FROM ($smDim)),
       |pdim AS (SELECT doc_id, p, d,
       |    0.05 * (CAST($ts AS DOUBLE) / ${Duck.MaxLongD}) AS poscomp
       |  FROM ($smPos)),
       |v AS (SELECT i.doc_id, i.p, t.d, CAST(t.base + pd.poscomp AS REAL) AS val
       |  FROM inst i JOIN tdim t ON t.token = i.token
       |  JOIN pdim pd ON pd.doc_id = i.doc_id AND pd.p = i.p AND pd.d = t.d),
       |nt AS (SELECT doc_id, len(toks) AS n FROM docs2),
       |agg1 AS (SELECT doc_id, d,
       |    ${Duck.foldSum("list(CAST(val AS DOUBLE) ORDER BY p)")} AS sumv,
       |    max(val) AS maxv,
       |    first(val ORDER BY p) AS firstv
       |  FROM v GROUP BY doc_id, d),
       |agg2 AS (SELECT a.doc_id, a.d, a.sumv / n.n AS meanv, a.maxv, a.firstv
       |  FROM agg1 a JOIN nt n ON n.doc_id = a.doc_id),
       |final AS (SELECT doc_id,
       |    ${Duck.foldSum("list(CAST(firstv AS DOUBLE) ORDER BY d)")} / $Dim AS first_avg,
       |    ${Duck.foldSum("list(meanv ORDER BY d)")} / $Dim AS mean_avg,
       |    ${Duck.foldSum("list(CAST(maxv AS DOUBLE) ORDER BY d)")} / $Dim AS max_avg
       |  FROM agg2 GROUP BY doc_id)
       |SELECT f.doc_id, CAST(n.n AS INT) AS seq_len,
       |  round(f.first_avg, 4) AS first_avg, round(f.mean_avg, 4) AS mean_avg,
       |  round(f.max_avg, 4) AS max_avg
       |FROM final f JOIN nt n ON n.doc_id = f.doc_id
       |ORDER BY f.doc_id""".stripMargin
  }

  /** adapt_word_pairs exposes only (word, n, vector sizes) — the A1→A2 chain
    * plus the provider's fixed dim — so it IS SQL-expressible even though the
    * vector VALUES are host-code: replay the tokenization/count/topK exactly
    * and emit the dims as constants. p3_embed_pool goes further and replays
    * the vector values themselves (see [[p3Sql]]). */
  /** The A1→A2 pair count, exactly replayed (LIMIT TopK over distinct words). */
  private val nPairsSql: String =
    s"""SELECT count(*) FROM (
       |  SELECT word FROM ${Corpus.wordsSub}
       |  WHERE length(word) > 0 GROUP BY word LIMIT $TopK)""".stripMargin

  /** Feed-pinned exact-DDM oracles for the two adaptation stream chains.
    *
    * The per-batch accuracies are provider host-math, but their VALUES are a
    * deterministic step profile by construction: phase 1 scores each source
    * vector against itself (cosine = 1 > 0.95 ⇒ accuracy exactly 1.0), phase
    * 2 scores rotated vectors against unrotated ones (cosine ≈ 0 ≪ 0.95 for
    * every doc ⇒ exactly 0.0), and phase 3 maps back through Procrustes
    * (recovery to ~1e-7 ⇒ exactly 1.0 again). The twin PINS that 1|0|1 feed
    * (phase-2 err = 1.0, else 0.0 — a real mapping regression breaks the
    * profile and hash-fails) and replays the DDM recurrence over it exactly
    * with the same recursive-CTE machinery as the drift_* signal oracles, so
    * error/p/s/signal are compared bit-for-bit, not just counted. */
  private def adaptBatchesSql: String =
    s"(SELECT DISTINCT CAST(doc_id // ${Corpus.DetectorBatch} AS BIGINT) " +
      "AS batch_id FROM documents)"

  private val adaptStreamSignalsSql: String = Duck.ddmRecursive(
    s"""SELECT CAST(phase * 100000 + batch_id AS BIGINT) AS ord,
       |  CASE WHEN phase = 2 THEN 1.0 ELSE 0.0 END AS err
       |FROM $adaptBatchesSql
       |CROSS JOIN (SELECT unnest([1, 2, 3]) AS phase)""".stripMargin, "seq")

  /** [[qReportAdapt]] twin: the same report reshape as q_report_abrupt's,
    * over the pinned 1|0|1 feed, with the detector cut at the mapped stream
    * (stream_ord < 2 — its rows LEFT-JOIN to NULL → detection 'None',
    * exactly the post-hoc contract). */
  private val qReportAdaptSql: String = Duck.experimentReport(
    s"""SELECT CAST(phase - 1 AS INT) AS stream_ord,
       |  CASE WHEN phase = 1 THEN 'source' WHEN phase = 2 THEN 'drifted'
       |       ELSE 'mapped' END AS stream,
       |  batch_id,
       |  CASE WHEN phase = 2 THEN 0.0 ELSE 1.0 END AS accuracy
       |FROM $adaptBatchesSql
       |CROSS JOIN (SELECT unnest([1, 2, 3]) AS phase)""".stripMargin,
    detectorEnd = Some(2))

  val oracles: Map[String, String] = Map(
    "w2v_top_word_sims" -> w2vTopWordSimsSql,
    "adapt_stream_signals" -> adaptStreamSignalsSql,
    "q_report_adapt" -> qReportAdaptSql,
    "adapt_word_pairs" ->
      s"""SELECT word, n, $Dim AS dim_s, $Dim AS dim_t FROM (
         |  SELECT word, count(*) AS n FROM ${Corpus.wordsSub}
         |  WHERE length(word) > 0 GROUP BY word
         |  ORDER BY n DESC, word LIMIT $TopK)
         |ORDER BY n DESC, word""".stripMargin,
    "adapt_procrustes_eval" ->
      s"""SELECT ($nPairsSql) AS n_pairs, TRUE AS mapped_recovers,
         |TRUE AS w_orthogonal""".stripMargin,
    "adapt_mlp_eval" ->
      s"""SELECT ($nPairsSql) AS n_pairs, TRUE AS mlp_improves,
         |TRUE AS loss_decreases""".stripMargin,
    "p3_embed_pool" -> p3Sql)
}
