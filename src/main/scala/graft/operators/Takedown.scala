package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Shared takedown (retract) choreography for the multi-table persisted
  * stores — the content-removal request (DMCA/GDPR shape) a long-lived
  * crawl store must honor, generalized from the single-table
  * [[FingerprintStore.retract]] to stores whose document contribution spans
  * SEVERAL sub-tables ([[SignatureStore]] sigs+bands, [[Bm25Store]]
  * postings+df+scalars, [[LmStore]] bigrams+prefix+vocab+vocabrc).
  *
  * The problem a multi-table retract adds over compact's per-table
  * aside-publish swap: a crash BETWEEN two tables' swaps would strand the
  * store half-retracted, and the second half could no longer be recomputed
  * (its delta derives from rows the first swap already dropped). So the
  * rewrite is staged WHOLE first, then committed:
  *
  *  1. every sub-table's full rewrite (already excluding the retracted
  *     contribution) builds under `.retract_stage/<sub>` while the live
  *     tables still serve;
  *  2. the `_retract_pending` marker commits, naming the sub-tables;
  *  3. each table swaps in through [[TableSwap]], the compaction swap
  *     (root → `.<sub>_precompact`, stage → root, aside deleted — the
  *     aside must go: it retains the retracted content);
  *  4. stage and marker clear.
  *
  * Every crash point replays clean via [[heal]] (invoked by the stores'
  * retract/compact entry points): pre-marker → the orphan stage is
  * discarded and the retract re-runs whole against intact tables;
  * post-marker → the staged rewrites finish publishing, including asides a
  * concurrent READ heal may have restored mid-swap. Single-writer, like
  * compaction: run between epochs of a live sink. Batch takedown requests —
  * the whole-table rewrite amortizes over the batch exactly like a
  * compaction pass. */
object Takedown {

  private val MarkerName = "_retract_pending"
  private val StageName = ".retract_stage"

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    // full read, not a fixed buffer: the shard store's marker names one sub
    // per rewritten `shard=` dir — a long-suffix retract can list thousands
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** Finish (or perform) one sub-table's swap from the staged rewrite.
    * Handles every crash residue: stage present (the swap not started, or
    * crashed between aside and publish — possibly with the aside already
    * restored by a read heal) → [[TableSwap.swapIn]]; stage absent (this
    * sub already swapped) → restore the aside if the live table is missing
    * (defensive: never drop the store's only copy), else delete it — it
    * retains retracted content. */
  private def finishSwap(fs: FileSystem, dir: String, sub: String): Unit = {
    val st = new Path(s"$dir/$StageName/$sub")
    if (fs.exists(st)) TableSwap.swapIn(fs, dir, sub, st)
    else {
      TableSwap.heal(fs, dir, sub)
      fs.delete(TableSwap.aside(dir, sub), true)
    }
  }

  /** Complete a crashed retract: a committed marker finishes every named
    * sub-table's swap; an uncommitted stage is a pre-commit orphan and is
    * discarded (the caller re-runs the retract whole). No-op on a clean
    * store.
    *
    * If the marker names a RECEIPT (a composed multi-store takedown's
    * per-request idempotence token, [[Forget]]), the receipt file is
    * (re-)created after the swaps finish — so a crash anywhere past the
    * marker commit still yields "subtraction committed AND receipt
    * present" on replay, atomically from the caller's point of view. */
  def heal(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    if (!fs.exists(new Path(dir))) return
    val marker = new Path(s"$dir/$MarkerName")
    val stage = new Path(s"$dir/$StageName")
    if (!fs.exists(marker)) {
      fs.delete(stage, true)
      return
    }
    val lines = readText(fs, marker).split("\n").map(_.trim)
    lines(0).split(",").filter(_.nonEmpty).foreach(finishSwap(fs, dir, _))
    lines.drop(1).find(_.startsWith("receipt=")).map(_.stripPrefix("receipt="))
      .foreach(r => fs.create(new Path(s"$dir/$r"), true).close())
    fs.delete(stage, true)
    fs.delete(marker, false)
  }

  /** Run a staged retract: `build(stageDir)` writes each sub-table's full
    * rewrite under `stageDir/<sub>` (only subs that need rewriting), then
    * the marker commits and every sub in `subs` swaps in. A `receipt` name,
    * when given, rides IN the marker and materializes as `dir/<receipt>`
    * exactly when the retract's effect is committed (see [[heal]]) — the
    * token a composed driver checks to skip an already-applied,
    * NON-idempotent retract (the LM store's count subtraction) on replay. */
  def run(spark: SparkSession, dir: String, subs: Seq[String],
          receipt: Option[String] = None)
         (build: String => Unit): Unit =
    runDynamic(spark, dir, receipt) { stage => build(stage); subs }

  /** [[run]] for stores whose sub-table set is only known AFTER the rewrite
    * is staged — the packed-shard store's retract rewrites every `shard=K`
    * dir from the first affected shard onward, and the staged repack itself
    * decides which shard ids survive. `build` stages the rewrite and
    * returns the sub names to swap; the marker commits that exact list
    * (atomically: dot-temp + rename, so a crash mid-write never leaves a
    * half-named commit), and [[heal]] replays it like any static retract. */
  def runDynamic(spark: SparkSession, dir: String,
                 receipt: Option[String] = None)
                (build: String => Seq[String]): Unit = {
    // validate BEFORE heal/build: an invalid receipt must fail fast, not
    // after the full staged rewrite has already run (and been wasted)
    require(receipt.forall(r => !r.contains("\n") && !r.contains(",")),
      "Takedown: receipt names must be single-line")
    val fs = fsOf(spark, dir)
    heal(spark, dir)
    val stage = new Path(s"$dir/$StageName")
    fs.delete(stage, true)
    val subs = build(stage.toString)
    val marker = new Path(s"$dir/$MarkerName")
    val tmp = new Path(s"$dir/.$MarkerName.tmp")
    fs.delete(tmp, true)
    val content = subs.mkString(",") +
      receipt.fold("")(r => s"\nreceipt=$r")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, marker), s"Takedown: cannot commit $marker")
    subs.foreach(finishSwap(fs, dir, _))
    receipt.foreach(r => fs.create(new Path(s"$dir/$r"), true).close())
    fs.delete(stage, true)
    fs.delete(marker, false)
  }
}
