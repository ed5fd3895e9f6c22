package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.AnnIndex

/** SHARDED front door — k disjoint [[FrontDoor]] store sets partitioned by
  * a stable document-key hash, one single-writer stream each: the ingest
  * ceiling of the single door was never probe cost (every layer is pruned,
  * store-age-flat — BENCH_door) but the SERIAL trigger pipeline: one
  * foreachBatch stream means one driver walking gate → fp → sig → sem per
  * trigger, so at 100 TB crawl rates the whole firehose funnels through one
  * stream's scheduling latency. Sharding multiplies streams, not store
  * cost: shard i owns `root/shard=i/{fp,sig,ivf}`, admits ONLY documents
  * with `hash(id) % k == i` (the route filter is the sink's first op, so
  * cross-shard traffic is structurally impossible, not a convention), and
  * runs its own [[FrontDoor.sink]] with per-shard stream tags — the single
  * door's epoch marker, crash windows and heals apply unchanged per
  * shard, and a crash in one shard's stream never
  * blocks the others (disjoint dirs, disjoint markers, disjoint streams).
  *
  * ROUTING CONTRACT (the sharding trade, stated plainly): the route key is
  * the document id — a stable key like a URL/content-locator hash, so a
  * RE-DELIVERY or RE-CRAWL of the same document carries the same id and
  * routes to the shard that already stores it: the fp and sig layers kill
  * it exactly as the 1-shard door would. What sharding gives up is the
  * DIFFERENT-key near-duplicate whose twin lives in another shard (a
  * mirror site, a cross-site paraphrase): each shard's screens only see
  * their own stores, so such pairs admit — the standard sharded-dedup
  * recall trade, and the reason the corpus-wide batch sweeps
  * (`dedup_minhash_lsh`, `dedup_semantic`) remain the periodic backstop.
  * On inputs whose duplicate pairs co-route, admissions are BIT-IDENTICAL
  * to the single door's (pinned in FrontDoorSpec).
  *
  * Layout: a `_layout` sidecar at the root pins k and the route-hash
  * version — mounting with a different k is a LOUD error (re-sharding
  * moves documents between stores: a migration, not a parameter change).
  * [[create]] seeds each shard's semantic index from the shard's slice of
  * the seed vectors (per-shard trained centroids) with an atomic
  * tmp+rename per shard and writes `_layout` LAST, so a crash mid-create
  * re-runs to completion; fp/sig stores start empty, as the single door
  * allows. Mount heals ride each [[FrontDoor.sink]] construction (Bloom
  * load, staging sweeps, Takedown heals), per shard.
  *
  * Scale shape: k× trigger throughput for k streams (BENCH_door's
  * `sharded` section measures the composed scaling on one box — on a real
  * cluster the k drivers' scheduling overlaps the same way), store cost
  * unchanged (each document lands in exactly one shard), probes/retracts
  * route by the same hash so every maintenance verb stays shard-local. */
final class ShardedDoor private (spark: SparkSession, rootDir: String,
                                 val k: Int) extends Serializable {

  def fpDir(i: Int): String = s"$rootDir/shard=$i/fp"
  def sigDir(i: Int): String = s"$rootDir/shard=$i/sig"
  def ivfDir(i: Int): String = s"$rootDir/shard=$i/ivf"

  /** Shard i's [[FrontDoor.sink]], route-filtered: the returned sink keeps
    * only rows with `hash(id) % k == i` before the gate, so all k shard
    * streams may even read the SAME source and each takes its slice —
    * cross-shard traffic cannot happen by construction. One single-writer
    * stream per shard (the usual per-store-set contract); `accept` /
    * `quarantine` receive the shard's slices and carry the same
    * idempotent-under-replay obligations as the single door's callbacks. */
  def shardSink(i: Int, gate: IngestGate, idCol: String, textCol: String,
                vecCol: String, sigThreshold: Double = 0.5,
                semThreshold: Double = 0.99, nprobe: Int = 4,
                streamTag: String = "door")
               (accept: DataFrame => Unit)
               (quarantine: DataFrame => Unit): (DataFrame, Long) => Unit = {
    require(i >= 0 && i < k, s"shard $i out of range [0, $k)")
    val inner = FrontDoor.sink(spark, gate, fpDir(i), sigDir(i), ivfDir(i),
      idCol, textCol, vecCol, sigThreshold, semThreshold, nprobe,
      streamTag = s"${streamTag}_s$i")(accept)(quarantine)
    (batch: DataFrame, epoch: Long) =>
      inner(batch.filter(ShardedDoor.shardOf(col(idCol), k) === i), epoch)
  }

  /** READ-ONLY corpus-membership probe across ALL shards — and the place
    * the sharding recall trade inverts: ingest screens are shard-local
    * (a near-dup whose twin routed elsewhere admits — the documented
    * write-side trade for k× stream throughput), but the READ path fans
    * every query to every shard's pruned probes and ORs the verdicts, so
    * a probe finds the twin regardless of which shard holds it. k× probe
    * fan-out is the read side's cost — paid per QUERY batch, off the
    * ingest hot path, each per-shard probe as pruned as the single
    * door's. Output: `(id, dup_exact, dup_near, dup_semantic)`, one row
    * per input doc (FrontDoor.probe's contract, OR-folded over shards). */
  def probe(docs: DataFrame, idCol: String, textCol: String,
            vecCol: String, sigThreshold: Double = 0.5,
            semThreshold: Double = 0.99, nprobe: Int = 4): DataFrame = {
    // batch prep (projection checkpoint + MinHash signatures) is
    // shard-invariant: computed ONCE, only the pruned store probes fan
    val (keyed, sigs) = FrontDoor.probePrep(docs, idCol, textCol, vecCol)
    (0 until k).map { i =>
      FrontDoor.probeKeyed(spark, fpDir(i), sigDir(i), ivfDir(i), keyed,
        sigs, sigThreshold, semThreshold, nprobe)
    }.reduce(_.unionByName(_))
      .groupBy("id")
      .agg(max("dup_exact").as("dup_exact"),
        max("dup_near").as("dup_near"),
        max("dup_semantic").as("dup_semantic"))
  }

  /** Takedown across all shards in one call: the request batch routes by
    * the same id hash, and each affected shard runs the single door's
    * [[FrontDoor.retract]] against its own store trio. Same contract:
    * between epochs, all shard streams down, request-sized batches;
    * re-running a partially crashed takedown is idempotent per shard. */
  def retract(docs: DataFrame, idCol: String, textCol: String): Unit = {
    val routed = docs.withColumn("__shard",
      ShardedDoor.shardOf(col(idCol), k)).localCheckpoint()
    (0 until k).foreach { i =>
      val slice = routed.filter(col("__shard") === i).drop("__shard")
      if (!slice.isEmpty)
        FrontDoor.retract(spark, fpDir(i), sigDir(i), ivfDir(i), slice,
          idCol, textCol)
    }
  }
}

object ShardedDoor {

  private val LayoutName = "_layout"
  private val HashVersion = "xxh64v1"

  /** The route: stable doc-key hash mod k — xxhash64, the engine's
    * partitioning hash everywhere else ([[graft.operators.SignatureStore]]
    * shards, [[graft.operators.FingerprintStore]] shards). Delegates to
    * the canonical [[graft.operators.DoorRoute]] so [[graft.operators.Forget]]'s
    * takedown routing can never diverge from ingest's. */
  def shardOf(id: Column, k: Int): Column =
    graft.operators.DoorRoute.shardOf(id, k)

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Create (or finish creating) a k-shard layout under `rootDir`: each
    * shard's semantic index trains on ITS slice of `seedVectors` (the
    * vectors the single door would seed [[AnnIndex.ivfIndexDir]] with) and
    * builds atomically; `_layout` commits LAST, so any crash mid-create
    * replays to completion. Idempotent: an existing layout with the same k
    * is reused (shards already built are skipped), a different k is a loud
    * error. Every shard must receive a non-empty seed slice — a seed
    * corpus too small to cover k shards cannot train k quantizers. */
  def create(spark: SparkSession, rootDir: String, k: Int,
             seedVectors: DataFrame, idCol: String, vecCol: String,
             nlist: Int = 16, iters: Int = 3, seed: Long = 42L): ShardedDoor = {
    require(k >= 1, s"k must be >= 1, got $k")
    val fs = fsOf(spark, rootDir)
    val layout = new Path(s"$rootDir/$LayoutName")
    if (fs.exists(layout)) {
      // layout committed: any leftover intent is post-commit residue
      fs.delete(new Path(s"$rootDir/.$LayoutName.intent"), false)
      return mount(spark, rootDir, k)
    }
    // INTENT sidecar, written before any shard builds: a create that
    // crashed mid-build left shard indexes already sliced by ITS k — a
    // retry with a DIFFERENT k would skip those dirs (`if !exists`) and
    // commit a layout whose early shards hold vectors the new route
    // never visits (silently unretrievable, untakedownable). Same-k
    // retries resume; different-k retries fail loudly with the remedy.
    val intent = new Path(s"$rootDir/.$LayoutName.intent")
    if (fs.exists(intent)) {
      val in = fs.open(intent)
      val prior = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                  finally in.close()
      require(prior == s"k=$k",
        s"ShardedDoor: a crashed create at $rootDir was building '$prior', " +
          s"this call asks k=$k — resume with the original k, or delete " +
          "the root and create fresh")
    } else {
      fs.mkdirs(new Path(rootDir))
      val tmp = new Path(s"$rootDir/.$LayoutName.intent.tmp")
      fs.delete(tmp, false)
      val out = fs.create(tmp, true)
      try out.write(s"k=$k".getBytes("UTF-8")) finally out.close()
      require(fs.rename(tmp, intent),
        s"ShardedDoor: cannot commit $intent")
    }
    val pinned = seedVectors.select(col(idCol), col(vecCol)).localCheckpoint()
    (0 until k).foreach { i =>
      val dest = new Path(ivfDir(rootDir, i))
      if (!fs.exists(dest)) {
        val slice = pinned.filter(shardOf(col(idCol), k) === i)
        require(!slice.isEmpty,
          s"ShardedDoor: seed vectors leave shard $i/$k empty — a shard " +
            "cannot train its quantizer on nothing; seed with a larger corpus")
        val tmp = new Path(s"$rootDir/shard=$i/.ivf.tmp")
        fs.delete(tmp, true)
        AnnIndex.buildIvfInto(slice, idCol, vecCol, nlist, iters, seed,
          tmp.toString)
        require(fs.rename(tmp, dest), s"ShardedDoor: cannot publish $dest")
      }
      fs.mkdirs(new Path(fpDirOf(rootDir, i)))
      fs.mkdirs(new Path(sigDirOf(rootDir, i)))
    }
    val tmp = new Path(s"$rootDir/.$LayoutName.tmp")
    fs.delete(tmp, false)
    val out = fs.create(tmp, true)
    try out.write(s"k=$k,hash=$HashVersion".getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(tmp, layout), s"ShardedDoor: cannot commit $layout")
    fs.delete(intent, false) // layout is the commit point; intent retires
    new ShardedDoor(spark, rootDir, k)
  }

  /** Mount an existing layout. `expectK` guards a deployment's wiring:
    * passing the k its config assumes turns a layout drift into a loud
    * mount error instead of misrouted documents. */
  def mount(spark: SparkSession, rootDir: String,
            expectK: Int = -1): ShardedDoor = {
    val fs = fsOf(spark, rootDir)
    val layout = new Path(s"$rootDir/$LayoutName")
    require(fs.exists(layout),
      s"ShardedDoor: no layout at $rootDir — run create first")
    val in = fs.open(layout)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
              finally in.close()
    val fields = txt.split(",").map(_.split("=", 2)).collect {
      case Array(a, b) => a -> b
    }.toMap
    val k = fields.getOrElse("k", "0").toInt
    require(k >= 1, s"ShardedDoor: corrupt layout '$txt' at $rootDir")
    require(fields.get("hash").contains(HashVersion),
      s"ShardedDoor: layout hash ${fields.get("hash")} != $HashVersion — " +
        "documents were routed by a different hash; re-sharding is a migration")
    require(expectK < 0 || expectK == k,
      s"ShardedDoor: layout has k=$k, caller expects k=$expectK — " +
        "re-sharding moves documents between stores; run a migration")
    new ShardedDoor(spark, rootDir, k)
  }

  private def fpDirOf(root: String, i: Int) = s"$root/shard=$i/fp"
  private def sigDirOf(root: String, i: Int) = s"$root/shard=$i/sig"
  private def ivfDir(root: String, i: Int) = s"$root/shard=$i/ivf"
}
