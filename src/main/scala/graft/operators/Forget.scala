package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Packed-shard store coordinates for a composed takedown — everything
  * [[Pack.retractDocs]] needs besides the ids. */
final case class PackTarget(dir: String, orderCol: String, tokCol: String,
                            budget: Long, binsPerShard: Long)

/** One shard of a sharded front door's store trio
  * ([[graft.streaming.ShardedDoor]] layout: `root/shard=i/{fp,sig,ivf}`). */
final case class DoorShardDirs(fpDir: String, sigDir: String, ivfDir: String)

/** The sharded door's ROUTE — canonical here (operators) so [[Forget]] and
  * [[graft.streaming.ShardedDoor]] use literally the same expression and
  * can never diverge: a takedown that routed differently than ingest would
  * rewrite the wrong shard and leave the document retrievable. */
object DoorRoute {
  def shardOf(id: org.apache.spark.sql.Column,
              k: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.pmod(
      // the cast is part of the route definition: xxhash64 hashes an INT
      // and a LONG of the same value differently, and Forget normalizes
      // ids to long — an uncast ingest route over an IntegerType id
      // column would send the takedown to a different shard than the
      // admission, leaving the document retrievable after its "forget"
      org.apache.spark.sql.functions.xxhash64(id.cast("long")),
      org.apache.spark.sql.functions.lit(k))
}

/** A LEARNED artifact of the deployment — a model whose PARAMETERS were
  * trained on corpus text and therefore still embed retracted documents
  * after every store has forgotten them (Word2Vec vectors, a quality
  * classifier, DSIR bucket stats, BPE merges). A takedown cannot subtract
  * a document from trained weights; what it CAN do is (a) say so in the
  * audit tombstone and (b) retrain on the post-forget corpus. `retrain`,
  * when wired, runs as the forget's final store step and returns the new
  * version tag. CONTRACT: the hook must return only AFTER the new
  * version is trained and durably published — the tombstone records the
  * tag as an accomplished fact, and nothing replays a retrain that was
  * merely requested (once the tombstone exists the whole forget is a
  * no-op). With [[graft.streaming.ModelRefit]] that means `refitNow()`
  * FOLLOWED BY `awaitRefits()` (refitNow alone only enqueues on the
  * background worker — a driver exit right after it would leave the
  * audit overstating the unlearning boundary); the versioned store keeps
  * the superseded (still-embedding) version readable for audit. An
  * artifact WITHOUT a retrain hook is recorded in the tombstone as STALE:
  * the honest unlearning boundary, instead of an audit record that
  * implies the deployment has fully forgotten. */
final case class LearnedArtifact(name: String,
                                 retrain: Option[SparkSession => Long] = None)

/** The full persisted-store footprint of one corpus deployment — every dir
  * is optional, so a deployment wires exactly the stores it runs. The door
  * trio (fp/sig/ivf) is [[graft.streaming.FrontDoor]]'s store set; bm25/lm
  * are the text-scoring stores; `pack` the training-shard export;
  * `learned` the model artifacts trained ON the corpus (see
  * [[LearnedArtifact]] — recorded in every audit tombstone, retrained
  * post-forget when a hook is wired). */
final case class CorpusStores(
  fpDir: Option[String] = None,
  sigDir: Option[String] = None,
  ivfDir: Option[String] = None,
  bm25Dir: Option[String] = None,
  lmDir: Option[String] = None,
  pack: Option[PackTarget] = None,
  learned: Seq[LearnedArtifact] = Seq.empty,
  /** A SHARDED door's k store trios, in shard order — mutually exclusive
    * with the single-door fpDir/sigDir/ivfDir. The forget routes the
    * request by [[DoorRoute.shardOf]] (ingest's own route) and runs each
    * affected shard's retracts under the same fp/sig/ann progress tokens
    * as the single door — a GDPR request against a sharded deployment
    * stays ONE call. */
  doorShards: Seq[DoorShardDirs] = Seq.empty)

/** ONE-CALL corpus-wide takedown: a DMCA/GDPR request against a deployment
  * that runs the four-layer front door PLUS the BM25 store, the LM store,
  * and packed training shards used to need six hand-walked retract calls —
  * and nothing pinned the cross-STORE crash window (door stores forgetting,
  * BM25/LM/shards not). [[forget]] is the [[Takedown]] multi-table
  * discipline one level up: the request itself is durably staged, a pending
  * marker commits it, and every configured store's own retract runs under
  * per-store progress tokens, so a crash ANYWHERE replays to completion
  * via [[heal]].
  *
  * Protocol (all under the caller-owned `forgetDir` ledger):
  *
  *  1. the normalized request batch (id, text) persists to
  *     `request_<reqId>` (parquet, dot-temp + rename) — the texts MUST be
  *     durable before any store forgets them: the fp and LM retracts
  *     re-derive their deltas from the text, and the corpus copy may be
  *     gone by replay time;
  *  2. `_forget_pending` commits (atomic rename; content = reqId);
  *  3. each configured store's retract runs in door order (fp → sig → ann
  *     → bm25 → lm → pack), then [[LearnedArtifact]] retrains (model).
  *     The exclude-by-key retracts are re-run
  *     idempotent, so their ledger `.done_` tokens are replay SHORTCUTS,
  *     not correctness; the LM subtraction is NOT re-run idempotent
  *     (shared-bigram counts would silently double-subtract), so its token
  *     is a RECEIPT committed atomically with the subtraction through the
  *     LM store's own [[Takedown]] marker ([[LmStore.retract]]'s `receipt`)
  *     — a crash at any instruction of the LM step replays to exactly one
  *     applied subtraction;
  *  4. an AUDIT tombstone (`audit/<reqId>`: the retracted ids + configured
  *     stores + the learned-artifact unlearning boundary (which models
  *     were retrained post-forget, which still embed the docs) +
  *     completion time — never the text) writes, the pending
  *     marker deletes (the commit point), then tokens, receipt and request
  *     sweep. reqIds are single-use nonces, so residue from a crash
  *     mid-sweep is dead weight the next call clears — never a stale
  *     token that could mask a LATER identical request (forget X, re-admit
  *     X, forget X again must re-run every store).
  *
  * Single-writer maintenance, like every store's own retract: run between
  * epochs with the door stream and appenders down. Request batches are
  * takedown-sized by contract (the one sanctioned driver-side collect).
  * Subset contract: configured BM25/LM stores must actually have been
  * seeded with the request docs — [[LmStore.retract]] aborts LOUDLY on a
  * non-subset batch (by design), and nothing has swapped anywhere in that
  * store when it does. */
object Forget {

  private val MarkerName = "_forget_pending"

  /** Step keys, in execution order — also the `.done_` token suffixes.
    * `model` runs LAST: a post-forget retrain must train on stores that
    * have already forgotten. */
  private val Steps = Seq("fp", "sig", "ann", "bm25", "lm", "pack", "model")

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  private def lmReceipt(reqId: String): String = s"_forget_done_$reqId"

  /** Run the composed takedown for `docs` (idCol, textCol) across every
    * configured store. Any prior crashed request is completed FIRST — two
    * requests never interleave. */
  def forget(spark: SparkSession, forgetDir: String, stores: CorpusStores,
             docs: DataFrame, idCol: String, textCol: String): Unit =
    forgetImpl(spark, forgetDir, stores, docs, idCol, textCol, None)

  /** [[forget]] under a CALLER-PINNED request id — the idempotence handle
    * a composed driver ([[ForgetQueue.drain]]) needs to make "this exact
    * batch, exactly once" survive its own crash windows: if
    * `audit/<reqId>` already exists the whole call is a no-op (the audit
    * tombstone only ever appears after every store committed), otherwise
    * the request runs under `reqId` so a replay resumes its per-store
    * tokens instead of re-subtracting. The caller owns the nonce
    * discipline: `reqId` must be single-use and never content-derived
    * (the same rule [[forget]]'s internal UUIDs follow), and a replay
    * must supply the SAME batch — the tokens are per-store shortcuts, so
    * a replay with a bigger batch would skip stores already marked done
    * for the smaller one. */
  private[graft] def forgetAs(spark: SparkSession, forgetDir: String,
                              stores: CorpusStores, docs: DataFrame,
                              idCol: String, textCol: String,
                              reqId: String): Unit =
    forgetImpl(spark, forgetDir, stores, docs, idCol, textCol, None,
      Some(reqId))

  private[graft] def forgetImpl(spark: SparkSession, forgetDir: String,
                                stores: CorpusStores, docs: DataFrame,
                                idCol: String, textCol: String,
                                crash: Option[String],
                                fixedReqId: Option[String] = None): Unit = {
    require(stores.doorShards.isEmpty ||
      (stores.fpDir.isEmpty && stores.sigDir.isEmpty && stores.ivfDir.isEmpty),
      "Forget: configure the door either single (fpDir/sigDir/ivfDir) or " +
        "sharded (doorShards), never both — double-configured layers would " +
        "run twice")
    val fs = fsOf(spark, forgetDir)
    fs.mkdirs(new Path(forgetDir))
    heal(spark, forgetDir, stores)
    // a pinned id whose tombstone already exists has fully committed —
    // the audit only ever writes after every store's retract (see
    // complete()), so this is the caller-visible exactly-once check
    if (fixedReqId.exists(id => fs.exists(new Path(s"$forgetDir/audit/$id"))))
      return
    val req = docs.select(col(idCol).cast("long").as("id"),
      col(textCol).cast("string").as("text")).distinct().localCheckpoint()
    if (req.isEmpty) return
    // PRE-COMMIT validation (the Takedown receipt-validation discipline
    // one level up): [[AnnIndex.retract]] refuses to EMPTY an index by
    // design (delete + reseed is the verb for that request) — but
    // discovering that MID-WALK would strand the ledger with a pending
    // marker every later heal/forget replays into the same loud require,
    // wedging all future takedowns. Checked here, before anything
    // durable: the caller gets the error with a CLEAN ledger. One
    // request-pruned lists scan per configured semantic store.
    def wouldEmpty(ivfDir: String, ids: Seq[Long]): Boolean =
      ids.nonEmpty && AnnIndex.readNoHeal(spark, ivfDir).exists(
        _.filter(!col("cid").isin(ids.map(Long.box): _*)).isEmpty)
    def refuseEmptying(ivfDir: String, ids: Seq[Long]): Unit =
      require(!wouldEmpty(ivfDir, ids),
        s"Forget: this request would retract $ivfDir's EVERY vector — " +
          "an index cannot be retracted to empty (its trained centroids " +
          "would model nothing); delete that index dir and reseed, then " +
          "re-run the forget against the remaining stores")
    if (stores.ivfDir.isDefined || stores.doorShards.nonEmpty) {
      val reqIds = req.select("id").collect().map(_.getLong(0)).toSeq
      stores.ivfDir.foreach(refuseEmptying(_, reqIds))
      if (stores.doorShards.nonEmpty) {
        val k = stores.doorShards.length
        val byShard = req.select(col("id"),
            DoorRoute.shardOf(col("id"), k).as("s")).collect()
          .groupBy(_.getLong(1).toInt)
          .view.mapValues(_.map(_.getLong(0)).toSeq).toMap
        stores.doorShards.zipWithIndex.foreach { case (d, i) =>
          refuseEmptying(d.ivfDir, byShard.getOrElse(i, Seq.empty))
        }
      }
    }
    // single-use nonce: never content-derived, so a completed request's
    // swept-late residue can never be mistaken for progress on a later
    // identical request; a caller-pinned id carries the same contract
    val reqId = fixedReqId.getOrElse(
      java.util.UUID.randomUUID().toString.replace("-", ""))
    val reqDir = new Path(s"$forgetDir/request_$reqId")
    // pre-marker residue of a crashed pinned-id attempt (no marker, no
    // audit — heal() ran above, so neither exists here): restage whole
    fs.delete(reqDir, true)
    val tmp = new Path(s"$forgetDir/.request_$reqId.tmp")
    fs.delete(tmp, true)
    req.coalesce(1).write.parquet(tmp.toString) // request-sized: one file
    require(fs.rename(tmp, reqDir), s"Forget: cannot commit $reqDir")
    val mtmp = new Path(s"$forgetDir/.$MarkerName.tmp")
    fs.delete(mtmp, true)
    val out = fs.create(mtmp, true)
    try out.write(reqId.getBytes("UTF-8")) finally out.close()
    require(fs.rename(mtmp, new Path(s"$forgetDir/$MarkerName")),
      s"Forget: cannot commit $MarkerName")
    execute(spark, forgetDir, stores, reqId, crash)
    complete(spark, fs, forgetDir, stores, reqId)
  }

  /** Complete a crashed [[forget]]: a committed pending marker re-runs the
    * request from its durable batch, skipping stores whose tokens/receipt
    * say done; then residue sweeps. No-op on a clean ledger. Wire into the
    * deployment's maintenance entry point (every store retract already
    * heals its own level on entry). */
  def heal(spark: SparkSession, forgetDir: String,
           stores: CorpusStores): Unit = {
    val fs = fsOf(spark, forgetDir)
    val root = new Path(forgetDir)
    if (!fs.exists(root)) return
    val marker = new Path(s"$forgetDir/$MarkerName")
    if (fs.exists(marker)) {
      val reqId = readText(fs, marker)
      execute(spark, forgetDir, stores, reqId, None)
      complete(spark, fs, forgetDir, stores, reqId)
    }
    sweep(spark, fs, forgetDir, stores)
  }

  /** One store step: skip if this request already holds the step's done
    * token, else run the retract and commit the token. `crash` injects the
    * spec's crash windows: `"<key>"` dies between stores (token committed),
    * `"<key>:pre-done"` dies after the store's own commit but before the
    * token — the window that distinguishes a receipt from a shortcut. */
  private def step(fs: FileSystem, forgetDir: String, reqId: String,
                   key: String, crash: Option[String])(body: => Unit): Unit = {
    val done = new Path(s"$forgetDir/.done_${reqId}_$key")
    if (!fs.exists(done)) {
      body
      if (crash.contains(s"$key:pre-done"))
        throw new IllegalStateException(s"Forget: injected crash in $key")
      fs.create(done, true).close()
    }
    if (crash.contains(key))
      throw new IllegalStateException(s"Forget: injected crash after $key")
  }

  private def execute(spark: SparkSession, forgetDir: String,
                      stores: CorpusStores, reqId: String,
                      crash: Option[String]): Unit = {
    val fs = fsOf(spark, forgetDir)
    val req = spark.read.parquet(s"$forgetDir/request_$reqId")
      .localCheckpoint()
    val ids = req.select("id").collect().map(_.getLong(0)).toSeq
    def at(key: String)(body: => Unit): Unit =
      step(fs, forgetDir, reqId, key, crash)(body)
    // door order — the same sequence as FrontDoor.retract
    // (graft/streaming/FrontDoor.scala), then the text stores, then shards
    stores.fpDir.foreach(d => at("fp") {
      FingerprintStore.retract(spark, d, req, "text")
    })
    stores.sigDir.foreach(d => at("sig") {
      SignatureStore.retract(spark, d, ids)
    })
    stores.ivfDir.foreach(d => at("ann") {
      AnnIndex.retract(spark, d, ids)
    })
    // sharded door: the same three layers, each step walking the AFFECTED
    // shards (request routed by ingest's own hash — [[DoorRoute]]); a crash
    // mid-walk replays the whole layer, which is safe because every
    // per-shard retract is exclude-by-key idempotent
    if (stores.doorShards.nonEmpty) {
      val k = stores.doorShards.length
      val routed = req.withColumn("__shard", DoorRoute.shardOf(col("id"), k))
        .localCheckpoint()
      val idsByShard: Map[Int, Seq[Long]] = routed.select("id", "__shard")
        .collect().groupBy(_.getLong(1).toInt)
        .view.mapValues(_.map(_.getLong(0)).toSeq).toMap
      val affected = stores.doorShards.zipWithIndex
        .filter { case (_, i) => idsByShard.contains(i) }
      at("fp") { affected.foreach { case (s, i) =>
        FingerprintStore.retract(spark, s.fpDir,
          routed.filter(col("__shard") === i).drop("__shard"), "text") } }
      at("sig") { affected.foreach { case (s, i) =>
        SignatureStore.retract(spark, s.sigDir, idsByShard(i)) } }
      at("ann") { affected.foreach { case (s, i) =>
        AnnIndex.retract(spark, s.ivfDir, idsByShard(i)) } }
    }
    stores.bm25Dir.foreach(d => at("bm25") {
      Bm25Store.retract(spark, d, ids)
    })
    stores.lmDir.foreach(d => at("lm") {
      // finish any mid-swap crash FIRST: Takedown.heal re-creates the
      // receipt from the committed marker, so the check below sees the
      // truth even when the crash hit between the LM's swaps
      Takedown.heal(spark, d)
      val r = lmReceipt(reqId)
      if (!fsOf(spark, d).exists(new Path(s"$d/$r")))
        LmStore.retract(spark, d, req, "id", "text", receipt = Some(r))
    })
    stores.pack.foreach(p => at("pack") {
      Pack.retractDocs(spark, p.dir, p.orderCol, p.tokCol, p.budget,
        p.binsPerShard, ids)
    })
    // Learned-artifact retrains run LAST (they train on the now-forgotten
    // stores) and their published version tags persist to the ledger — the
    // tombstone writes in complete(), possibly on a different heal replay
    // than the one that ran the retrains. Re-running a crashed retrain is
    // SEMANTICALLY idempotent (it trains on identical post-forget content
    // and publishes another version of the same model), so the done token
    // is a shortcut here, like the exclude-by-key retracts.
    if (stores.learned.exists(_.retrain.isDefined)) at("model") {
      val vers = stores.learned.flatMap(a =>
        a.retrain.map(r => s"${a.name}:v${r(spark)}"))
      val rtmp = new Path(s"$forgetDir/.learned_$reqId.tmp")
      fs.delete(rtmp, false)
      val out = fs.create(rtmp, true)
      try out.write(vers.mkString(",").getBytes("UTF-8")) finally out.close()
      val rdest = new Path(s"$forgetDir/.learned_$reqId")
      fs.delete(rdest, false)
      require(fs.rename(rtmp, rdest), s"Forget: cannot commit $rdest")
    }
  }

  /** Commit point first, then garbage: the pending marker must outlive the
    * tokens and receipt (deleting a receipt while the marker stands would
    * replay the LM subtraction), and everything left after the marker falls
    * is keyed by a never-reused nonce. The AUDIT tombstone writes BEFORE
    * the marker falls — every store has already forgotten at that point,
    * and a crash in between replays to an identical rewrite — so a
    * completed request always leaves its record. The tombstone carries the
    * retracted IDS and the configured stores, NEVER the text: retaining
    * the work's content in an audit log would defeat the takedown. */
  private def complete(spark: SparkSession, fs: FileSystem, forgetDir: String,
                       stores: CorpusStores, reqId: String): Unit = {
    val ids = spark.read.parquet(s"$forgetDir/request_$reqId")
      .select("id").collect().map(_.getLong(0)).sorted
    val door = stores.doorShards.nonEmpty
    val configured = Seq(
      (stores.fpDir.nonEmpty || door) -> "fp",
      (stores.sigDir.nonEmpty || door) -> "sig",
      (stores.ivfDir.nonEmpty || door) -> "ann",
      stores.bm25Dir.nonEmpty -> "bm25",
      stores.lmDir.nonEmpty -> "lm",
      stores.pack.nonEmpty -> "pack").collect { case (true, n) => n }
    // The UNLEARNING BOUNDARY, stated explicitly: which learned artifacts
    // were retrained on the post-forget corpus (their superseded versions
    // retained for audit in their own versioned stores), and which STILL
    // EMBED the retracted documents. Without these lines a GDPR officer
    // reading the tombstone would wrongly conclude the deployment has
    // fully forgotten.
    val refitFile = new Path(s"$forgetDir/.learned_$reqId")
    val refits =
      if (fs.exists(refitFile)) readText(fs, refitFile)
      else ""
    val stale = stores.learned.filter(_.retrain.isEmpty).map(_.name)
    val audit = new Path(s"$forgetDir/audit/$reqId")
    fs.mkdirs(audit.getParent)
    // Idempotent under heal replay: a crash between this rename and the
    // marker delete below replays complete() with the tombstone already
    // published — and rename-to-existing-destination returns FALSE on HDFS
    // (only POSIX renameTo overwrites), so re-renaming would wedge the
    // ledger behind a require() forever. An existing tombstone is always
    // whole (it only ever appears via this rename), so skip the rewrite.
    if (!fs.exists(audit)) {
      val atmp = new Path(s"$forgetDir/audit/.$reqId.tmp")
      fs.delete(atmp, false)
      val out = fs.create(atmp, true)
      try out.write(
        (s"ids=${ids.mkString(",")}\nstores=${configured.mkString(",")}\n" +
          (if (door) s"door_shards=${stores.doorShards.length}\n" else "") +
          s"learned_refit=$refits\nlearned_stale=${stale.mkString(",")}\n" +
          s"completed_ms=${System.currentTimeMillis()}\n").getBytes("UTF-8"))
      finally out.close()
      require(fs.rename(atmp, audit), s"Forget: cannot publish $audit")
    }
    fs.delete(new Path(s"$forgetDir/$MarkerName"), false)
    Steps.foreach(k =>
      fs.delete(new Path(s"$forgetDir/.done_${reqId}_$k"), false))
    fs.delete(new Path(s"$forgetDir/request_$reqId"), true)
    fs.delete(refitFile, false)
    stores.lmDir.foreach { d =>
      fsOf(spark, d).delete(new Path(s"$d/${lmReceipt(reqId)}"), false)
    }
  }

  /** Clear residue from a crash inside [[complete]] — markerless request
    * dirs, tokens and receipts are dead by construction (see complete). */
  private def sweep(spark: SparkSession, fs: FileSystem, forgetDir: String,
                    stores: CorpusStores): Unit = {
    fs.listStatus(new Path(forgetDir)).map(_.getPath).filter { p =>
      val n = p.getName
      n.startsWith("request_") || n.startsWith(".request_") ||
        n.startsWith(".done_") || n.startsWith(".learned_")
    }.foreach(p => fs.delete(p, true))
    stores.lmDir.foreach { d =>
      val lfs = fsOf(spark, d)
      if (lfs.exists(new Path(d)))
        lfs.listStatus(new Path(d)).map(_.getPath)
          .filter(_.getName.startsWith("_forget_done_"))
          .foreach(p => lfs.delete(p, false))
    }
  }
}
