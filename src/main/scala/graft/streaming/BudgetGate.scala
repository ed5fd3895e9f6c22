package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming per-source token-budget admission gate — the arrival-order twin
  * of the batch `mix_token_fill` prefix rule (reference-shaped mixing turned
  * into a front-door control): a crawl stream keeps admitting a source's
  * documents until that source's token budget fills, then drops the rest of
  * the stream for that source. The admission rule is exactly the batch
  * query's `cum_before < budget` prefix — the doc that CROSSES the boundary
  * is admitted, everything after is not — so on identically-ordered input the
  * stream and the batch window agree row-for-row (pinned in StreamingSpec).
  * The streaming form, [[admit]], is `flatMapGroupsWithState` on the default
  * state store; [[budgetSink]] is the durable foreachBatch form.
  *
  * State/scale contract: ONE `Fill(filled)` long per source key lives in the
  * state store — state size tracks |sources| (dozens), never corpus size, so
  * the gate runs unchanged at 100 TB. Budgets arrive as a sources-sized map
  * captured into the group function (the same tiny-dim-broadcast shape the
  * batch query uses); rebudgeting is a stream restart, which the checkpointed
  * state survives. Within a micro-batch a source's rows are ordered by
  * doc_id before admission (iterator order is not deterministic); across
  * micro-batches arrival order is epoch order — replaying an epoch from the
  * checkpoint re-reads the SAME state snapshot, so a crash-replay re-emits
  * its epoch's admissions identically (at-least-once; downstream sinks are
  * marker-idempotent, like every store in this engine).
  */
object BudgetGate {

  case class Doc(source: String, doc_id: Long, n_toks: Long)

  /** An admitted doc plus the source's cumulative fill AFTER it. */
  case class Admitted(source: String, doc_id: Long, n_toks: Long, cum_toks: Long)

  /** Per-source state: tokens admitted so far. */
  case class Fill(filled: Long)

  /** Admission for one source's slice of a micro-batch: admit while the fill
    * BEFORE the doc is under budget (the `mix_token_fill` prefix rule). Once
    * a source's fill reaches budget it never admits again — the fill is
    * monotone, so the admitted set is an arrival-order prefix. */
  def gateGroup(budgets: Map[String, Long])
      : (String, Iterator[Doc], GroupState[Fill]) => Iterator[Admitted] =
    (source, rows, state) => {
      val budget = budgets.getOrElse(source, 0L)
      var filled = state.getOption.map(_.filled).getOrElse(0L)
      // BOUNDED-BUFFER CONTRACT: the toSeq materializes one source's slice
      // of ONE micro-batch (trigger-sized, not corpus-sized) — the sort
      // that makes iterator order deterministic needs the slice whole.
      // Size triggers so a single source's per-trigger rows fit an
      // executor; the per-KEY state itself stays one long.
      val out = rows.toSeq.sortBy(_.doc_id).flatMap { d =>
        if (filled < budget) {
          filled += d.n_toks
          Some(Admitted(source, d.doc_id, d.n_toks, filled))
        } else None
      }
      state.update(Fill(filled))
      out.iterator
    }

  /** Append-mode gate over a (streaming or batch) doc feed. */
  def admit(docs: Dataset[Doc], budgets: Map[String, Long]): Dataset[Admitted] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        gateGroup(budgets))
  }

  // ---- Durable form: the foreachBatch sink with a persisted fill store ----
  //
  // The front-door composition (crawl → byte-exact dedup → budget) runs the
  // dedup as a foreachBatch sink, and a batch frame can't host
  // flatMapGroupsWithState — so the durable gate keeps its own fill state the
  // way every store in this engine does: an EPOCH-VERSIONED snapshot table
  // plus idempotence markers.
  //
  //   dir/fill/epoch=E/   (source, filled) AFTER epoch E — one tiny file
  //   dir/_budget_<tag>_epoch_E  commit marker
  //
  // Replay contract: epoch E's admissions are recomputed from the snapshot of
  // the LATEST COMMITTED epoch < E — never from E's own snapshot — so a
  // pre- or post-marker replay re-derives byte-identical admissions and
  // re-invokes `out` with them (downstream sinks are marker-idempotent, the
  // engine-wide contract). The snapshot write is overwrite-idempotent (the
  // path is epoch-scoped and its content a pure function of predecessors +
  // the replayed batch), so no staging dance is needed. Old snapshots are
  // pruned keep-last-K on each commit (markers stay — they are the
  // idempotence record); Structured Streaming never replays deeper than the
  // last uncommitted epoch, so K=4 is generous.

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed epochs = marker files present for `tag`. */
  private def committedEpochs(spark: SparkSession, dir: String,
                              tag: String): Seq[Long] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath.getName)
      .collect { case n if n.startsWith(s"_budget_${tag}_epoch_") =>
        n.stripPrefix(s"_budget_${tag}_epoch_") }
      // numeric-suffix guard (the staging-heal convention): one stray
      // non-numeric marker-ish file must not throw on every later epoch
      .filter(s => s.nonEmpty && s.forall(_.isDigit))
      .map(_.toLong).toSeq.sorted
  }

  /** Fill snapshot in force BEFORE `epoch` (empty when none committed). */
  def fillBefore(spark: SparkSession, dir: String, tag: String,
                 epoch: Long): DataFrame = {
    val prior = committedEpochs(spark, dir, tag).filter(_ < epoch)
    prior.lastOption match {
      case Some(e) => spark.read.parquet(s"$dir/fill/epoch=$e")
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("source",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("filled",
              org.apache.spark.sql.types.LongType))))
    }
  }

  /** Durable budget gate as a foreachBatch sink stage. `out` receives the
    * admitted rows (original columns + cum_toks) BEFORE the commit marker is
    * written — the same out-then-marker order as the other store sinks, so a
    * crash between them replays `out` with identical rows. Budgets are a
    * sources-sized map; docs missing from it get budget 0. */
  def budgetSink(spark: SparkSession, dir: String, budgets: Map[String, Long],
                 sourceCol: String, idCol: String, tokCol: String,
                 streamTag: String = "stream", keepSnapshots: Int = 4)
                (out: DataFrame => Unit): (DataFrame, Long) => Unit = {
    require(keepSnapshots >= 2, "replay needs at least the prior snapshot")
    (batch: DataFrame, epoch: Long) =>
      gateEpoch(spark, dir, budgets, None, sourceCol, idCol, tokCol,
        streamTag, keepSnapshots, batch, epoch)(out)
  }

  /** One epoch of the durable gate: compute admissions against the prior
    * fill snapshot under `budgets`, persist the post-epoch snapshot, feed
    * `out`, commit the marker (carrying `versionTag` when given — the
    * rebudget replay record), prune old snapshots. Shared by the fixed-
    * budget [[budgetSink]] and the versioned [[rebudgetableSink]]. */
  private def gateEpoch(spark: SparkSession, dir: String,
                        budgets: Map[String, Long], versionTag: Option[Long],
                        sourceCol: String, idCol: String, tokCol: String,
                        streamTag: String, keepSnapshots: Int,
                        batch: DataFrame, epoch: Long)
                       (out: DataFrame => Unit): Unit = {
    val f = fs(spark, dir)
    val marker = new Path(s"$dir/_budget_${streamTag}_epoch_$epoch")
    val replay = f.exists(marker)
    val pre = fillBefore(spark, dir, streamTag, epoch)
      .withColumnRenamed("source", sourceCol)
    val win = Window.partitionBy(sourceCol).orderBy(idCol)
    val budgetOf = element_at(typedLit(budgets), col(sourceCol))
    val admitted = batch
      .withColumn("__cum_in_batch", sum(col(tokCol)).over(win))
      .join(broadcast(pre.withColumnRenamed("filled", "__filled")),
        Seq(sourceCol), "left")
      .withColumn("__fill_before",
        coalesce(col("__filled"), lit(0L)) + col("__cum_in_batch") -
          col(tokCol))
      .filter(col("__fill_before") < coalesce(budgetOf, lit(0L)))
      .withColumn("cum_toks", col("__fill_before") + col(tokCol))
      .drop("__cum_in_batch", "__filled", "__fill_before")
      .localCheckpoint()
    if (!replay) {
      val adds = admitted.groupBy(col(sourceCol).as("source"))
        .agg(sum(col(tokCol)).as("added"))
      val next = pre.withColumnRenamed(sourceCol, "source")
        .join(adds, Seq("source"), "full_outer")
        .select(col("source"),
          (coalesce(col("filled"), lit(0L)) +
            coalesce(col("added"), lit(0L))).as("filled"))
      next.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/fill/epoch=$epoch")
    }
    out(admitted)
    if (!replay) {
      // Write the marker CONTENT atomically: create a dot-temp, write the
      // version tag, rename into the marker name. A bare create-then-write
      // had a crash window where an EMPTY marker was visible — a replayed
      // epoch would read "committed" but readMarkerVersion would fall back
      // to the CURRENT latest budget version, breaking byte-identical
      // replay (r14 advice). The dot-prefix keeps committedEpochs blind to
      // the temp.
      val tmpM = new Path(s"$dir/._budget_${streamTag}_epoch_$epoch.tmp")
      f.delete(tmpM, true)
      val o = f.create(tmpM, true)
      try versionTag.foreach(v => o.write(v.toString.getBytes("UTF-8")))
      finally o.close()
      require(f.rename(tmpM, marker), s"gateEpoch: cannot commit $marker")
      // prune: cumulative snapshots make old epochs garbage once outside
      // any possible replay window; markers stay
      val committed = committedEpochs(spark, dir, streamTag)
      committed.dropRight(keepSnapshots).foreach { e =>
        f.delete(new Path(s"$dir/fill/epoch=$e"), true)
      }
    }
  }

  // ---- Rebudgeting without restart: a versioned budget store -------------
  //
  // The r13 gap: budgets were captured into the sink closure at mount, so a
  // long-lived front door needed a stream restart to raise a budget. Here
  // budgets live in the store as tiny versioned snapshots:
  //
  //   dir/budgets/v=N/   (source, budget) parquet — publish is atomic
  //                      (write dot-temp, rename), versions never rewrite
  //
  // and the rebudgetable sink re-reads the LATEST version each trigger (a
  // driver-side, sources-sized read). Replay discipline: an epoch records
  // the budget VERSION it admitted under in its commit-marker content, so a
  // replayed epoch re-derives byte-identical admissions even if budgets
  // moved since — raising a budget only ever affects epochs that commit
  // AFTER the publish. Versions are kept (they are the replay record and
  // sources-sized).

  /** Publish a new budgets version; returns its version number. Atomic and
    * monotone. Concurrent publishers each stage under a PUBLISHER-UNIQUE
    * dot-temp (a shared `.v=N.tmp` would let the loser overwrite the
    * winner's staged bytes before either renames — r14 advice), then race
    * on the rename into `v=N`; a loser detects the occupied destination
    * (exists-check, or the FS nesting its temp INSIDE the published dir),
    * cleans up its temp, and retries at the new latest+1. */
  def publishBudgets(spark: SparkSession, dir: String,
                     budgets: Map[String, Long]): Long = {
    import spark.implicits._
    val f = fs(spark, dir)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= 16,
        "publishBudgets: lost 16 publish races — is a publisher looping?")
      val next = latestBudgetVersion(spark, dir).getOrElse(0L) + 1L
      val tmp = new Path(s"$dir/budgets/.v=$next.$nonce.tmp")
      f.delete(tmp, true)
      budgets.toSeq.toDF("source", "budget").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val dest = new Path(s"$dir/budgets/v=$next")
      val nested = new Path(dest, tmp.getName)
      if (!f.exists(dest) && f.rename(tmp, dest) && !f.exists(nested))
        return next
      // lost: another publisher owns v=next (or rename nested the temp
      // inside it) — remove both possible temp locations, re-read latest
      f.delete(nested, true)
      f.delete(tmp, true)
    }
    -1L // unreachable
  }

  private def latestBudgetVersion(spark: SparkSession,
                                  dir: String): Option[Long] = {
    val f = fs(spark, dir)
    val root = new Path(s"$dir/budgets")
    if (!f.exists(root)) None
    else f.listStatus(root).map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.stripPrefix("v=") }
      .filter(s => s.nonEmpty && s.forall(_.isDigit))
      .map(_.toLong).sorted.lastOption
  }

  /** Budgets at `version` (sources-sized collect). */
  def budgetsAt(spark: SparkSession, dir: String,
                version: Long): Map[String, Long] =
    spark.read.parquet(s"$dir/budgets/v=$version")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def readMarkerVersion(spark: SparkSession, dir: String,
                                tag: String, epoch: Long): Option[Long] = {
    val f = fs(spark, dir)
    val p = new Path(s"$dir/_budget_${tag}_epoch_$epoch")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val txt = try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        if (n <= 0) "" else new String(buf, 0, n, "UTF-8").trim
      } finally in.close()
      if (txt.nonEmpty && txt.forall(_.isDigit)) Some(txt.toLong) else None
    }
  }

  /** [[budgetSink]] with LIVE budgets: each trigger admits under the latest
    * [[publishBudgets]] version — a raised budget admits post-bump docs
    * without restarting the stream (and a lowered one stops admissions the
    * same way; already-admitted fill is never revoked). A replayed epoch
    * admits under the version its marker recorded, never the current one.
    * Mount requires at least one published version (a gate with no budgets
    * is a configuration error, not an admit-nothing stream). */
  def rebudgetableSink(spark: SparkSession, dir: String, sourceCol: String,
                       idCol: String, tokCol: String,
                       streamTag: String = "stream", keepSnapshots: Int = 4)
                      (out: DataFrame => Unit): (DataFrame, Long) => Unit = {
    require(keepSnapshots >= 2, "replay needs at least the prior snapshot")
    require(latestBudgetVersion(spark, dir).isDefined,
      s"rebudgetableSink: no budgets published under $dir — call " +
        "publishBudgets before mounting the gate")
    (batch: DataFrame, epoch: Long) => {
      val version = readMarkerVersion(spark, dir, streamTag, epoch)
        .orElse(latestBudgetVersion(spark, dir))
        .get // non-empty: mount required a published version
      gateEpoch(spark, dir, budgetsAt(spark, dir, version), Some(version),
        sourceCol, idCol, tokCol, streamTag, keepSnapshots, batch, epoch)(out)
    }
  }
}
