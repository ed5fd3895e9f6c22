package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.{SessionMemo, SparkEntry}

/** `drift_pipeline`: the paper's experiment as 12 declared queries in paper
  * order, grouped into four layers by the module doing the work (`embed`,
  * `ml`, Drift, Adaptation). Set-up is JVM and session start. The cold op is
  * the first iteration: fresh JVM, fresh `newSession()`, empty
  * `spark.graft.adaptCacheDir`, so every memoized artifact is built and
  * class loading, JIT and code generation are paid. Warm ops re-run the
  * iteration on the same session. */
object Pipeline {
  val Layers: Seq[(String, Seq[String])] = Seq(
    "embed" -> Seq("p3_embed_pool"),
    "ml" -> Seq("ml_gnb_metrics", "ml_lstm_holdout"),
    "drift" -> Seq("drift_unsup_signals", "drift_abrupt_signals",
      "drift_gradual_signals", "q_report_abrupt"),
    "adapt" -> Seq("adapt_procrustes_eval", "adapt_mlp_eval",
      "adapt_stream_signals", "q_report_adapt", "drift_finetune_signals"))

  /** Expected row counts by input size (docs = embeddings = 500), measured
    * on this generator; they depend on the table sizes, not on the seed. */
  val ExpectedRows: Map[String, Long] = Map(
    "p3_embed_pool" -> 500, "ml_gnb_metrics" -> 1, "ml_lstm_holdout" -> 1,
    "drift_unsup_signals" -> 124, "drift_abrupt_signals" -> 124,
    "drift_gradual_signals" -> 63, "q_report_abrupt" -> 124,
    "adapt_procrustes_eval" -> 1, "adapt_mlp_eval" -> 1,
    "adapt_stream_signals" -> 189, "q_report_adapt" -> 189,
    "drift_finetune_signals" -> 186)

  /** Nominal wall of one warm iteration on 4 cores, in seconds: the run
    * makes `--seconds` over this many warm iterations. */
  val NominalWarmS = 8.0

  private val SignalKeys = Seq("seq", "batch_id", "signal")

  final case class Out(rows: Long, digest: Option[Int])

  /** Runs every query once on `s`; per-query outputs and wall times. */
  private def iteration(ctx: Ctx, s: SparkSession): (Map[String, Out], Map[String, Double]) = {
    val outs = Map.newBuilder[String, Out]
    val walls = Map.newBuilder[String, Double]
    for ((layer, qs) <- Layers) ctx.span(layer) {
      qs.foreach { name =>
        val t0 = System.nanoTime()
        val out = try {
          val df = SparkEntry.queries(name)(s, ctx.a.data)
          val keys = SignalKeys.filter(df.columns.contains)
          if (keys.contains("signal")) {
            // the DDM signal column with its batch key, order-free
            val rows = df.select(keys.map(col): _*).collect()
            Out(rows.length, Some(rows.map(_.mkString("|")).sorted.mkString(",").hashCode))
          } else Out(df.count(), None)
        } catch {
          case e: Exception =>
            ctx.check(s"$name.no_throw", ok = false, e.toString); Out(-1, None)
        }
        walls += name -> (System.nanoTime() - t0) / 1e9
        outs += name -> out
      }
    }
    (outs.result(), walls.result())
  }

  private def verify(ctx: Ctx, tag: String, outs: Map[String, Out]): Unit =
    outs.foreach { case (name, o) =>
      ctx.attempted += 1
      val want = ExpectedRows(name)
      if (!ctx.check(s"$name.rows", o.rows == want, s"$tag: ${o.rows} rows, want $want"))
        ctx.failed += 1
    }

  def run(ctx: Ctx): Unit = {
    val s = ctx.spark.newSession()
    s.conf.set("spark.graft.adaptCacheDir", s"${ctx.a.root}/cache")
    ctx.setupDone()
    val docs = ctx.a.docs

    var coldDigests = Map.empty[String, Option[Int]]
    val perQuery = scala.collection.mutable.Map.empty[String, List[Double]]
    def timed(kind: String): Unit = {
      val before = ctx.tracer.map(_ => (ctx.snapshot(), SessionMemo.totalEntries))
      val t0 = System.nanoTime()
      val (outs, walls) = ctx.span(kind)(iteration(ctx, s))
      val wall = (System.nanoTime() - t0) / 1e9
      ctx.log(f"$kind iteration $wall%.2f s")
      ctx.add(s"${kind}_s", wall)
      walls.foreach { case (q, w) => perQuery(s"$kind.$q") = w :: perQuery.getOrElse(s"$kind.$q", Nil) }
      before.foreach { case (snap, memo) =>
        val (files, mb) = ctx.written(snap, ctx.snapshot())
        ctx.add(s"$kind.files_written", files)
        ctx.add(s"$kind.mb_written", mb)
        ctx.add(s"$kind.memo.entries_built", SessionMemo.totalEntries - memo)
        Layers.zipWithIndex.foreach { case ((_, qs), i) =>
          ctx.add(s"$kind.layer${i + 1}.rows_out", qs.map(q => outs(q).rows).sum)
        }
      }
      verify(ctx, kind, outs)
      val digests = outs.map { case (q, o) => q -> o.digest }
      if (kind == "cold") coldDigests = digests
      else {
        ctx.attempted += 1
        val diff = digests.filter { case (q, d) => coldDigests.get(q) != Some(d) }.keys
        if (!ctx.check("ddm_signals_identical_cold_warm", diff.isEmpty,
          s"signal columns differ from the cold iteration: ${diff.mkString(",")}"))
          ctx.failed += 1
      }
    }
    ctx.measure(NominalWarmS)(timed("cold"), timed("warm"))
    ctx.liveHeap()
    ctx.throughput(docs)
    ctx.note("signal_digests", coldDigests.toSeq.sorted.collect {
      case (q, Some(h)) => "\"" + q + "\":" + h }.mkString("{", ",", "}"))
    ctx.note("query_wall_s", perQuery.toSeq.sortBy(_._1).map { case (q, ws) =>
      "\"" + q + "\":" + ws.reverse.map(w => f"$w%.4f").mkString("[", ",", "]")
    }.mkString("{", ",", "}"))
    Layered.report(ctx, Seq("cold", "warm"), Layers.map(_._1))
  }
}
