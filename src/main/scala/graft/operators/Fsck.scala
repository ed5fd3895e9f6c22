package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Read-only consistency audit (fsck) across a corpus deployment's
  * persisted stores — the invariant checker a 100 TB deployment with six
  * store families, staged-swap maintenance verbs, and a sharded front door
  * has to run BEFORE trusting an ingest restart, and the tool an operator
  * reaches for when a takedown/compact/forget crashed somewhere under a
  * mountain of `shard=` dirs.
  *
  * Every store verb already HEALS its own crash windows on entry — fsck's
  * job is different: report, mutate nothing. A heal that replays a staged
  * swap is exactly what you do NOT want while diagnosing why a swap
  * crashed twice, and an auditor confirming a takedown completed must not
  * hold the writer lock. So fsck only reads: every finding is a row, an
  * empty frame is a clean bill, and the checks are distributed joins over
  * the stores' own tables (no collect of store-sized data — the only
  * driver-side work is directory listings, O(#stores)).
  *
  * Checks (the `check_name` column):
  *  - `sig_bands_missing` / `sig_bands_ghost` — the signature store's two
  *    sub-tables disagree: a doc with signatures but no band-index rows is
  *    UNSCREENABLE (delta probes never see it), band rows without a
  *    backing signature are ghosts a retract failed to drop. The two
  *    tables swap under one [[Takedown]] marker, so any disagreement is
  *    real corruption, never an in-flight state.
  *  - `census_overcount` — the hot-band census sidecar claims a df LARGER
  *    than the band table holds. Undercount is the documented staleness
  *    (costs probe time only); overcount silently DROPS cappable groups'
  *    recall ([[SignatureStore.probeStored]] trusts the sidecar), so it is
  *    a finding.
  *  - `ann_orphan_list` — inverted-file rows whose `list_id` has no
  *    centroid: unreachable vectors (the probe ranks centroids first).
  *  - `door_membership` — a document stored at a DEEPER door layer than
  *    the layer before it admits ([[graft.streaming.FrontDoor]] appends
  *    survivors layer by layer, so semantic-store ids are always a subset
  *    of signature-store ids). A violation means the trio was wired from
  *    mismatched stores or one store's takedown committed while another's
  *    never ran — precisely the cross-store drift [[Forget]] exists to
  *    prevent, surfaced per id.
  *  - `fp_bloom_miss` — a stored fingerprint no Bloom sidecar claims:
  *    a screen FALSE NEGATIVE (Blooms have no false-negative side, so
  *    this only arises from a lost/partial sidecar or out-of-protocol
  *    appends); the store would re-admit that content's duplicates.
  *  - `bm25_df_mismatch` / `bm25_ntok_mismatch` / `bm25_ndocs_undercount`
  *    — the BM25 store's df partials, scalars ledger, and postings
  *    disagree: silently skewed idf / length normalization.
  *  - `lm_prefix_mismatch` / `lm_negative_count` — the LM store's
  *    fluency denominator drifted from its bigram numerators, or a count
  *    went negative: the double-subtraction signature the retract
  *    receipt protocol exists to prevent.
  *  - `misrouted` — a sharded door shard holding an id whose route hash
  *    ([[DoorRoute.shardOf]], the ingest route) names a DIFFERENT shard:
  *    a hand-copied store or a re-keyed layout; probes and takedowns for
  *    that id will look in the wrong shard and miss it.
  *  - `crash_residue` — pending markers (a log fold's `_fold_pending`
  *    included), staging dirs, and pre-swap asides on disk: work some
  *    verb MUST finish (its entry-point heal will), listed so the
  *    operator knows a crash happened and which
  *    store owns it. Read-only by contract, fsck never clears them.
  *  - `layout` — a sharded root whose `shard=i` dirs disagree with the
  *    `_layout` sidecar's k (missing shard dirs, extra dirs past k).
  *
  * Scale: membership checks are id-keyed anti-joins (8-byte keys, the
  * stores' own partition layouts prune the scans); the census audit joins
  * the sidecar (family-bounded, broadcast-sized by construction) against
  * one aggregate over the band table. Output is findings-sized. */
object Fsck {

  val FindingsSchema: StructType = StructType(Seq(
    StructField("check_name", StringType, nullable = false),
    StructField("layer", StringType, nullable = false),
    StructField("id", LongType, nullable = true),
    StructField("detail", StringType, nullable = true)))

  private def emptyFindings(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], FindingsSchema)

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def shape(df: DataFrame, check: String, layer: String,
                    detail: String): DataFrame =
    df.select(lit(check).as("check_name"), lit(layer).as("layer"),
      col("id").cast("long").as("id"), lit(detail).as("detail"))

  /** Signature-store internal agreement: sigs ids ⟷ band-index ids. */
  def sigInternal(spark: SparkSession, sigDir: String,
                  layer: String = "sig"): DataFrame = {
    if (!SignatureStore.hasSigs(spark, sigDir))
      return emptyFindings(spark)
    // Symmetric difference as ONE map-side-combinable aggregate instead of
    // two distinct+anti-join passes (r17, guide §2.3 "aggregate before you
    // shuffle"): tag each raw id row with its side, union, max per id. The
    // max absorbs the distincts (duplicate ids combine in the map partial),
    // each sub-table scans once, and no join — at any scale the whole check
    // is two scans plus one 8-byte-keyed hash aggregate. Rows identical to
    // the anti-join pair by construction (FsckSpec pins the findings).
    SignatureStore.readSigsIdsNoHeal(spark, sigDir)
      .select(col("id"), lit(1).as("in_sig"), lit(0).as("in_band"))
      .unionByName(SignatureStore.readBandsNoHeal(spark, sigDir)
        .select(col("id"), lit(0).as("in_sig"), lit(1).as("in_band")))
      .groupBy("id").agg(max("in_sig").as("s"), max("in_band").as("b"))
      .filter(col("s") === 0 || col("b") === 0)
      .select(
        when(col("b") === 0, lit("sig_bands_missing"))
          .otherwise(lit("sig_bands_ghost")).as("check_name"),
        lit(layer).as("layer"), col("id").cast("long").as("id"),
        when(col("b") === 0, lit("id has signatures but no band rows"))
          .otherwise(lit("band rows with no backing signature")).as("detail"))
  }

  /** Hot-band census sidecar vs the band table it summarizes: flag groups
    * the sidecar OVERCOUNTS (df_census > df_actual — including groups with
    * no band rows at all). `id` carries the band_hash (the group's value
    * key); band_id and the two counts ride in `detail`. */
  def censusAudit(spark: SparkSession, sigDir: String,
                  layer: String = "sig"): DataFrame = {
    val fs = fsOf(spark, sigDir)
    if (!fs.exists(new Path(s"$sigDir/hotbands")))
      return emptyFindings(spark)
    val census = spark.read.parquet(s"$sigDir/hotbands")
    val actual = SignatureStore.readBandsNoHeal(spark, sigDir)
      .groupBy("band_id", "band_hash").agg(count(lit(1)).as("df_actual"))
    census.join(actual, Seq("band_id", "band_hash"), "left")
      .filter(col("df") > coalesce(col("df_actual"), lit(0L)))
      .select(lit("census_overcount").as("check_name"),
        lit(layer).as("layer"), col("band_hash").cast("long").as("id"),
        concat(lit("band_id="), col("band_id"), lit(" census="), col("df"),
          lit(" actual="), coalesce(col("df_actual"), lit(0L))).as("detail"))
  }

  /** IVF/IVF+PQ internal agreement: every inverted-file `list_id` must
    * have a centroid row (both the raw-vector and PQ layouts carry
    * `list_id` + `cid`). `id` carries the orphaned rows' cid. */
  def annInternal(spark: SparkSession, ivfDir: String,
                  layer: String = "ann"): DataFrame = {
    if (!fsOf(spark, ivfDir).exists(new Path(s"$ivfDir/centroids")))
      return emptyFindings(spark)
    AnnIndex.readNoHeal(spark, ivfDir).fold(emptyFindings(spark)) { lists =>
      val cents = spark.read.parquet(s"$ivfDir/centroids").select("list_id")
      shape(lists.join(cents, Seq("list_id"), "left_anti")
          .select(col("cid").as("id")),
        "ann_orphan_list", layer, "vector in a list with no centroid")
    }
  }

  /** Cross-layer door membership: ids stored at a deeper layer must exist
    * at the shallower one (FrontDoor appends survivors layer by layer).
    * Checks ann ⊆ sig — the two id-keyed layers of the trio. */
  def doorMembership(spark: SparkSession, sigDir: String, ivfDir: String,
                     layer: String = "ann"): DataFrame = {
    AnnIndex.readNoHeal(spark, ivfDir).fold(emptyFindings(spark)) { lists =>
      val annIds = lists.select(col("cid").as("id")).distinct()
      val sigIds = SignatureStore.readSigsIdsNoHeal(spark, sigDir).distinct()
      shape(annIds.join(sigIds, Seq("id"), "left_anti"),
        "door_membership", layer, "stored in ann but not in sig")
    }
  }

  /** Fingerprint-store screen audit: stored fps no Bloom sidecar claims
    * ([[FingerprintStore.bloomMisses]]) are screen FALSE NEGATIVES — their
    * duplicates re-admit. `id` carries the fingerprint. */
  def fpBloomAudit(spark: SparkSession, fpDir: String,
                   layer: String = "fp"): DataFrame =
    shape(FingerprintStore.bloomMisses(spark, fpDir)
        .select(col("fp").as("id")),
      "fp_bloom_miss", layer, "stored fp claimed by no Bloom sidecar")

  /** BM25 store internal agreement. Three invariants, all broken only by
    * corruption (seed/append/retract rewrite the sub-tables together):
    *  - per word, the df partials must sum to the word's posting count
    *    (epoch doc sets are disjoint by contract, so partial-df adds);
    *    a mismatch silently skews idf for that word;
    *  - the scalars ledger's nTok must equal Σ tf over postings;
    *  - its nDocs must be ≥ the postings' distinct doc count (equality is
    *    not required: empty documents count toward N but post nothing). */
  def bm25Internal(spark: SparkSession, dir: String,
                   layer: String = "bm25"): DataFrame = {
    val fs = fsOf(spark, dir)
    if (!fs.exists(new Path(s"$dir/postings")) ||
        !fs.exists(new Path(s"$dir/df")))
      return emptyFindings(spark)
    val post = spark.read.parquet(s"$dir/postings")
    val byWord = post.groupBy("word").agg(count(lit(1)).as("n_post"))
    val dfSum = spark.read.parquet(s"$dir/df")
      .groupBy("word").agg(sum("df").as("n_df"))
    val wordFindings = byWord.join(dfSum, Seq("word"), "full_outer")
      .filter(coalesce(col("n_post"), lit(0L)) =!=
        coalesce(col("n_df"), lit(0L)))
      .select(lit("bm25_df_mismatch").as("check_name"),
        lit(layer).as("layer"), lit(null).cast("long").as("id"),
        concat(lit("word="), col("word"),
          lit(" postings="), coalesce(col("n_post"), lit(0L)),
          lit(" df="), coalesce(col("n_df"), lit(0L))).as("detail"))
    // scalar ledger vs the postings aggregate (one tiny driver row)
    // an audit tool must not crash on the corruption it audits: a
    // malformed ledger file becomes a finding, not an exception
    val scal = new Path(s"$dir/scalars")
    val corrupt = scala.collection.mutable.ArrayBuffer[String]()
    val ledger =
      if (!fs.exists(scal)) (0L, 0L)
      else fs.listStatus(scal).map(_.getPath).filter(!_.getName.startsWith("."))
        .flatMap { p =>
          val in = fs.open(p)
          val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                    finally in.close()
          txt.split(",").map(_.trim) match {
            case Array(d, t) =>
              // Try, not a regex pre-check: "9".repeat(30) matches \d+
              // and still overflows toLong
              scala.util.Try((d.toLong, t.toLong)).toOption
                .orElse { corrupt += p.getName; None }
            case _ => corrupt += p.getName; None
          }
        }.foldLeft((0L, 0L)) { case ((d0, t0), (d, t)) => (d0 + d, t0 + t) }
    val aggRow = post.agg(
      countDistinct(col("doc_id")).as("nd"), sum("tf").as("nt")).collect()(0)
    val nd = if (aggRow.isNullAt(0)) 0L else aggRow.getLong(0)
    val nt = if (aggRow.isNullAt(1)) 0L else aggRow.getLong(1)
    val scalarRows =
      corrupt.toSeq.map(n =>
        ("bm25_scalars_corrupt", s"unparseable ledger file: $n")) ++
      (if (ledger._2 != nt)
        Seq(("bm25_ntok_mismatch",
          s"scalars nTok=${ledger._2} postings sum(tf)=$nt"))
      else Seq.empty) ++
      (if (ledger._1 < nd)
        Seq(("bm25_ndocs_undercount",
          s"scalars nDocs=${ledger._1} < postings distinct docs=$nd"))
      else Seq.empty)
    val spark2 = spark
    import spark2.implicits._
    wordFindings.unionByName(scalarRows.toDF("check_name", "detail")
      .select(col("check_name"), lit(layer).as("layer"),
        lit(null).cast("long").as("id"), col("detail")))
  }

  /** LM store internal agreement:
    *  - per prefix word, Σ bigram counts must equal Σ prefix partials —
    *    the fluency denominator; a mismatch skews every P(cur|prev) under
    *    that prefix;
    *  - no key may sum NEGATIVE in bigrams/prefix/vocabrc — the signature
    *    of the non-idempotent count subtraction applied twice (the exact
    *    failure [[LmStore.retract]]'s receipt protocol exists to prevent,
    *    so a negative here means the protocol was bypassed). */
  def lmInternal(spark: SparkSession, dir: String,
                 layer: String = "lm"): DataFrame = {
    val fs = fsOf(spark, dir)
    if (!fs.exists(new Path(s"$dir/bigrams")) ||
        !fs.exists(new Path(s"$dir/prefix")))
      return emptyFindings(spark)
    val bg = spark.read.parquet(s"$dir/bigrams")
      .groupBy("prev").agg(sum("cb").as("n_bg"))
    val pf = spark.read.parquet(s"$dir/prefix")
      .groupBy("prev").agg(sum("cp").as("n_pf"))
    val mismatch = bg.join(pf, Seq("prev"), "full_outer")
      .filter(coalesce(col("n_bg"), lit(0L)) =!=
        coalesce(col("n_pf"), lit(0L)))
      .select(lit("lm_prefix_mismatch").as("check_name"),
        lit(layer).as("layer"), lit(null).cast("long").as("id"),
        concat(lit("prev="), col("prev"),
          lit(" bigrams="), coalesce(col("n_bg"), lit(0L)),
          lit(" prefix="), coalesce(col("n_pf"), lit(0L))).as("detail"))
    def negatives(sub: String, keys: Seq[String], cnt: String): DataFrame =
      if (!fs.exists(new Path(s"$dir/$sub"))) emptyFindings(spark)
      else spark.read.parquet(s"$dir/$sub")
        .groupBy(keys.map(col): _*).agg(sum(cnt).as("n"))
        .filter(col("n") < 0)
        .select(lit("lm_negative_count").as("check_name"),
          lit(layer).as("layer"), lit(null).cast("long").as("id"),
          concat(lit(s"$sub ") +:
            keys.flatMap(k => Seq(col(k), lit(" "))) :+
            lit("= ") :+ col("n"): _*).as("detail"))
    mismatch
      .unionByName(negatives("bigrams", Seq("prev", "cur"), "cb"))
      .unionByName(negatives("prefix", Seq("prev"), "cp"))
      .unionByName(negatives("vocabrc", Seq("word"), "rc"))
  }

  /** Route audit for one shard of a sharded door: every id stored in the
    * shard's sig/ann stores must route there. */
  def routeAudit(spark: SparkSession, sigDir: String, ivfDir: String,
                 shard: Int, k: Int): DataFrame = {
    val layer = s"shard=$shard"
    val wrong = (df: DataFrame) =>
      df.filter(DoorRoute.shardOf(col("id"), k) =!= shard)
    val sig =
      if (SignatureStore.hasSigs(spark, sigDir))
        shape(wrong(SignatureStore.readSigsIdsNoHeal(spark, sigDir).distinct()),
          "misrouted", s"$layer/sig", s"route hash names another shard (k=$k)")
      else emptyFindings(spark)
    val ann = AnnIndex.readNoHeal(spark, ivfDir).fold(emptyFindings(spark))(
      lists => shape(wrong(lists.select(col("cid").as("id")).distinct()),
        "misrouted", s"$layer/ann", s"route hash names another shard (k=$k)"))
    sig.unionByName(ann)
  }

  /** Crash residue under each (layer, dir): pending markers, staging
    * dirs (a retract's or fold's, and every sink's epoch stages,
    * [[EpochLog.isEpochStage]]), pre-swap asides, census temp. Driver-side
    * listing — O(#dirs) status calls, never store-sized. */
  def residue(spark: SparkSession, dirs: Seq[(String, String)]): DataFrame = {
    val rows = dirs.flatMap { case (layer, dir) =>
      val fs = fsOf(spark, dir)
      val p = new Path(dir)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).map(_.getPath.getName).filter { n =>
        n == "_retract_pending" || n == ".retract_stage" ||
          n == "_forget_pending" || n == ".hotbands.tmp" ||
          n == EpochLog.FoldMarker || n == EpochLog.FoldStage ||
          EpochLog.isEpochStage(n) ||
          (n.startsWith(".") && n.endsWith("_precompact")) ||
          n.startsWith(".request_") || n.startsWith(".ivf.tmp") ||
          n.startsWith("._layout")
      }.map(n => (layer, n))
    }
    val spark2 = spark
    import spark2.implicits._
    rows.toDF("layer", "residue")
      .select(lit("crash_residue").as("check_name"), col("layer"),
        lit(null).cast("long").as("id"),
        concat(lit("unhealed: "), col("residue")).as("detail"))
  }

  /** Sharded-root layout audit: `_layout`'s k vs the `shard=i` dirs. */
  def shardLayout(spark: SparkSession, rootDir: String): DataFrame = {
    val fs = fsOf(spark, rootDir)
    val layout = new Path(s"$rootDir/_layout")
    if (!fs.exists(layout)) return emptyFindings(spark)
    val in = fs.open(layout)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
              finally in.close()
    val spark2 = spark
    import spark2.implicits._
    val k = txt.split(",").map(_.split("=", 2)).collectFirst {
      case Array("k", v) => v // Try, not regex: huge digit runs overflow
    }.flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(-1)
    // corrupt sidecar = a finding, not an exception (audit tools report
    // the corruption they meet)
    if (k < 1)
      return Seq(("root", s"unparseable _layout sidecar: '$txt'"))
        .toDF("layer", "detail")
        .select(lit("layout").as("check_name"), col("layer"),
          lit(null).cast("long").as("id"), col("detail"))
    val present = fs.listStatus(new Path(rootDir)).map(_.getPath.getName)
      .filter(_.startsWith("shard="))
      .flatMap(n => scala.util.Try(n.stripPrefix("shard=").toInt).toOption)
      .toSet
    val missing = (0 until k).filterNot(present)
      .map(i => (s"shard=$i", s"layout k=$k but shard dir missing"))
    val extra = present.filter(_ >= k).toSeq.sorted
      .map(i => (s"shard=$i", s"shard dir past layout k=$k"))
    (missing ++ extra).toDF("layer", "detail")
      .select(lit("layout").as("check_name"), col("layer"),
        lit(null).cast("long").as("id"), col("detail"))
  }

  /** Full audit of a deployment's configured stores — the one-call fsck.
    * Unions every applicable check; `orderBy` the caller's choice. */
  /** `doorRoot`: the sharded door's root dir, when the deployment runs
    * one — adds the `_layout` audit and the root/shard-dir residue scan
    * (`._layout.tmp`, `shard=i/.ivf.tmp` from a crashed
    * [[graft.streaming.ShardedDoor.create]] live ABOVE the store dirs,
    * so a store-dir-only scan cannot see them). */
  def report(spark: SparkSession, stores: CorpusStores,
             doorRoot: Option[String] = None): DataFrame = {
    val single = (stores.sigDir, stores.ivfDir) match {
      case (Some(s), Some(v)) =>
        Seq(sigInternal(spark, s), censusAudit(spark, s),
          annInternal(spark, v), doorMembership(spark, s, v))
      case (Some(s), None) => Seq(sigInternal(spark, s), censusAudit(spark, s))
      case (None, Some(v)) => Seq(annInternal(spark, v))
      case _ => Seq.empty
    }
    val text =
      stores.fpDir.map(fpBloomAudit(spark, _)).toSeq ++
        stores.bm25Dir.map(bm25Internal(spark, _)).toSeq ++
        stores.lmDir.map(lmInternal(spark, _)).toSeq
    val sharded = stores.doorShards.zipWithIndex.flatMap { case (d, i) =>
      val k = stores.doorShards.length
      Seq(fpBloomAudit(spark, d.fpDir, s"shard=$i/fp"),
        sigInternal(spark, d.sigDir, s"shard=$i/sig"),
        censusAudit(spark, d.sigDir, s"shard=$i/sig"),
        annInternal(spark, d.ivfDir, s"shard=$i/ann"),
        doorMembership(spark, d.sigDir, d.ivfDir, s"shard=$i/ann"),
        routeAudit(spark, d.sigDir, d.ivfDir, i, k))
    }
    val res = residue(spark,
      stores.fpDir.map("fp" -> _).toSeq ++
        stores.sigDir.map("sig" -> _).toSeq ++
        stores.ivfDir.map("ann" -> _).toSeq ++
        stores.bm25Dir.map("bm25" -> _).toSeq ++
        stores.lmDir.map("lm" -> _).toSeq ++
        stores.pack.map(p => "pack" -> p.dir).toSeq ++
        stores.doorShards.zipWithIndex.flatMap { case (d, i) =>
          Seq(s"shard=$i/fp" -> d.fpDir, s"shard=$i/sig" -> d.sigDir,
            s"shard=$i/ann" -> d.ivfDir)
        } ++
        doorRoot.toSeq.flatMap { root =>
          ("root" -> root) +: stores.doorShards.indices.map(i =>
            s"shard=$i" -> s"$root/shard=$i")
        })
    val layout = doorRoot.map(shardLayout(spark, _)).toSeq
    (single ++ text ++ sharded ++ layout :+ res)
      .foldLeft(emptyFindings(spark))(_.unionByName(_))
  }
}
