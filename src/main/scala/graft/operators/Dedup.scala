package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Deduplication suite for large-scale text corpora (engine extension;
  * BASELINE.json north star — the reference has no dedup, but a training-data
  * pipeline at 100 TB lives or dies on it).
  *
  * Scale design notes:
  *  - Exact dedup groups on a 64-bit fingerprint, not the full text — the shuffle
  *    moves 8-byte keys instead of documents. Collision verification can re-check
  *    the text within each fingerprint group (group sizes are tiny).
  *  - MinHash/LSH shuffles (band_id, band_hash) pairs — candidate generation is
  *    linear in corpus size; only within-bucket pairs are compared.
  *  - SimHash groups on the 64-bit signature (or rotated prefixes for hamming
  *    neighbors).
  *  - N-gram Jaccard joins on shingles; frequent-shingle skew is capped by
  *    dropping shingles whose document frequency exceeds `maxShingleDf`
  *    (standard df-cut used by web-scale dedup pipelines).
  */
object Dedup {

  /** Exact duplicate groups by full text equality: one row per distinct text with
    * the representative (minimum) id and the duplicate count. [SQL] */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(col(textCol).as("text"))
      .agg(min(col(idCol)).as("doc_id"), count(lit(1)).as("dups"))
      .select("doc_id", "dups")

  /** Exact dedup at scale: group on fingerprint64(text) — 8-byte shuffle keys. */
  def exactByFingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), TextFns.fingerprint64(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min("id").as("doc_id"), count(lit(1)).as("dups"))
      .select("doc_id", "dups", "fp")

  /** Seeded 64-bit hash of a string column: xxhash64 with the seed mixed in as an
    * extra hashed column — deterministic across runs and executors. */
  private def seededHash(c: Column, seed: Int): Column = xxhash64(lit(seed), c)

  /** MinHash signatures over word `shingleSize`-shingles.
    * Returns (id, sig ARRAY<BIGINT> of length numHashes). */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 32, shingleSize: Int = 3): DataFrame = {
    // Two-step projection: tokens first, shingles second — the clean/split
    // chain sits behind a projection barrier so it runs once per doc, not
    // per shingle position (see TextFns note).
    // Shingles via the codegen'd slice/arrays_zip view (TextFns.shingleZip):
    // the struct explodes, then ONE concat_ws rebuilds the exact shingle
    // string — identical xxhash64 input to the old interpreted
    // transform+array_join path (ShingleParitySpec), ~30% less CPU per pass.
    val shingles = docs
      .select(col(idCol).as("id"),
        TextFns.normTokens(TextFns.cleanText(col(textCol), removePunctuation = true))
          .as("toks"))
      .select(col("id"), TextFns.shingleZip(col("toks"), shingleSize).as("z"))
    // minhash_k(doc) = min over shingles of hash_k(shingle); all k hashes are
    // computed in one pass over the exploded shingles (map-side combinable agg).
    // The shingle string is hashed ONCE to 64 bits; the k seeded variants
    // re-hash that 8-byte value (O(1) per variant) instead of re-walking the
    // string k times.
    // explode_outer, NOT explode: InferFiltersFromGenerate synthesizes a
    // size(child)>0 filter under a non-outer Generate and inlines the whole
    // shingle pipeline into it — a measured 10× hit on the interpreted path.
    // The outer variant emits a null row for empty docs, dropped right after.
    val exploded = shingles.select(col("id"), explode_outer(col("z")).as("s"))
      .filter(col("s").isNotNull)
      .select(col("id"),
        xxhash64(TextFns.shingleString(col("s"), shingleSize)).as("h0"))
    val hashAggs = (0 until numHashes).map(k =>
      min(xxhash64(lit(k), col("h0"))).as(s"h$k"))
    exploded.groupBy("id")
      .agg(hashAggs.head, hashAggs.tail: _*)
      .select(col("id"), array((0 until numHashes).map(k => col(s"h$k")): _*).as("sig"))
  }

  /** MinHash + LSH near-duplicate pairs: band the signature, bucket-join on
    * (band_id, band_hash), verify candidates by signature-estimated Jaccard.
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b, est_jaccard ≥ threshold. */
  def minHashLsh(docs: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 32, bands: Int = 8, shingleSize: Int = 3,
                 threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    // Materialize the signature table once (eager local checkpoint): every
    // downstream branch — banding for both join sides, verification for both
    // pair members — reuses it instead of re-running the regex → shingle →
    // 32-hash pipeline. One row per doc; at cluster scale the same role is
    // played by a parquet/persist materialization of the signature table.
    val sigs = minHashSignatures(docs, idCol, textCol, numHashes, shingleSize)
      .localCheckpoint()
    // Bucket join on NARROW rows only: (band_id, band_hash, id) — 24 bytes per
    // exploded row crosses the shuffle, never the numHashes×8-byte signature
    // (the r2 shape carried sig through the checkpoint and both join sides,
    // duplicating it ×bands). Banding itself is a cheap slice+hash projection
    // over the checkpointed sigs, recomputed per side.
    val banded = sigs.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))
          .as(Seq("band_id", "band")))
      .select(col("id"), col("band_id"),
        xxhash64(col("band_id"), concat_ws(",", col("band"))).as("band_hash"))
    val cands = banded.select(col("band_id"), col("band_hash"), col("id").as("id_a"))
      .join(banded.select(col("band_id"), col("band_hash"), col("id").as("id_b")),
        Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    // Verify candidates (a tiny set relative to the corpus) by joining the
    // signatures back on id — shuffle keyed on 8-byte ids, sigs move once each.
    cands
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          eq => eq)).cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Cross-snapshot near-dup delta: which INCOMING documents are MinHash
    * near-duplicates of anything already in the BASE snapshot — the
    * continuous-crawl admission question one level above
    * [[FingerprintStore]] (exact text there; similarity here: a re-crawled
    * page with a changed timestamp sails past the fingerprint store but
    * not past this). Returns one row per FLAGGED incoming doc:
    * (doc_id, n_base_dups, max_est).
    *
    * Scale shape: the base snapshot's signature table is the persisted
    * artifact — build it once with [[SignatureStore.seed]] /
    * [[SignatureStore.storeDir]], extend it per ingest epoch with
    * [[SignatureStore.appender]], and call [[minHashDeltaStored]] so each
    * delta run hashes ONLY the incoming docs (this overload recomputes the
    * base side; it exists for one-shot comparisons of two raw frames).
    * Both sides band into the (band_id, band_hash) bucket join on narrow
    * 24-byte rows, candidates verify by joining the two signature tables
    * by id, and nothing is ever base × incoming all-pairs. [SQL] */
  def minHashDelta(base: DataFrame, incoming: DataFrame, idCol: String,
                   textCol: String, numHashes: Int = 32, bands: Int = 8,
                   shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sigsB = minHashSignatures(base, idCol, textCol, numHashes, shingleSize)
      .localCheckpoint()
    val sigsI = minHashSignatures(incoming, idCol, textCol, numHashes, shingleSize)
      .localCheckpoint()
    minHashDeltaOverSigs(sigsB, sigsI, numHashes, bands, threshold)
  }

  /** [[minHashDelta]] against a PERSISTED base signature table ((id, sig)
    * rows — a [[SignatureStore.read]] frame or any frame
    * [[minHashSignatures]] produced): only the incoming docs are shingled
    * and hashed; the base side is a parquet scan of 8·numHashes-byte rows.
    * The at-scale delta shape its own doc comment promises. */
  def minHashDeltaStored(baseSigs: DataFrame, incoming: DataFrame,
                         idCol: String, textCol: String, numHashes: Int = 32,
                         bands: Int = 8, shingleSize: Int = 3,
                         threshold: Double = 0.5): DataFrame = {
    val sigsI = minHashSignatures(incoming, idCol, textCol, numHashes, shingleSize)
      .localCheckpoint()
    minHashDeltaOverSigs(baseSigs.select("id", "sig"), sigsI, numHashes,
      bands, threshold)
  }

  /** Band projection over a signature frame: (asCol, band_id, band_hash),
    * with the frame's `keep` columns after asCol —
    * the narrow 24-byte rows every LSH bucket join in this file moves. Also
    * the row shape of [[SignatureStore]]'s persisted band index, so the
    * stored index and a probe's banding are the same deterministic hash by
    * construction. */
  private[operators] def bandedSigs(sigs: DataFrame, as: String,
      numHashes: Int, bands: Int, keep: Seq[String] = Nil): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    sigs.select(col("id").as(as) +: keep.map(col) :+
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))
          .as(Seq("band_id", "band")): _*)
      .select(col(as) +: keep.map(col) :+ col("band_id") :+
        xxhash64(col("band_id"), concat_ws(",", col("band"))).as("band_hash"): _*)
  }

  /** Verify (id_in, id_base) candidate pairs by signature-estimated
    * Jaccard: id-join both signature frames, keep pairs at or above
    * `threshold`, fold to one row per flagged incoming doc:
    * (doc_id, n_base_dups, max_est). */
  private[operators] def verifySigCandidates(cands: DataFrame,
      sigsI: DataFrame, sigsB: DataFrame, numHashes: Int,
      threshold: Double): DataFrame =
    cands
      .join(sigsI.select(col("id").as("id_in"), col("sig").as("sig_in")),
        Seq("id_in"))
      .join(sigsB.select(col("id").as("id_base"), col("sig").as("sig_base")),
        Seq("id_base"))
      .select(col("id_in"),
        estJaccard(col("sig_in"), col("sig_base"), numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .groupBy(col("id_in").as("doc_id"))
      .agg(count(lit(1)).as("n_base_dups"),
        round(max("est_jaccard"), 6).as("max_est"))

  /** Signature-estimated Jaccard of two MinHash signatures: the share of
    * equal positions. */
  private[operators] def estJaccard(a: Column, b: Column,
                                    numHashes: Int): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), eq => eq))
      .cast("double") / numHashes

  /** Core of the snapshot delta, over two signature frames: band both
    * sides, bucket-join candidates, verify by id-joining the signatures.
    * Returns one row per flagged incoming doc:
    * (doc_id, n_base_dups, max_est). */
  private[operators] def minHashDeltaOverSigs(sigsB: DataFrame,
      sigsI: DataFrame, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    val cands = bandedSigs(sigsI, "id_in", numHashes, bands)
      .join(bandedSigs(sigsB, "id_base", numHashes, bands),
        Seq("band_id", "band_hash"))
      .select("id_in", "id_base").distinct()
    verifySigCandidates(cands, sigsI, sigsB, numHashes, threshold)
  }

  /** 64-bit SimHash over word unigrams: per bit, sum ±1 votes of each token's
    * hash bit; signature bit = 1 iff the vote is positive.
    * Returns (id, simhash BIGINT). */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(split(TextFns.cleanText(col(textCol), removePunctuation = true), " "))
        .as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("h", xxhash64(col("tok")))
    // One ±1 vote column per bit, aggregated in a single groupBy pass.
    val votes = (0 until 64).map { bit =>
      sum(when(shiftright(col("h"), bit).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$bit")
    }
    toks.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until 64).map(bit =>
          when(col(s"b$bit") > 0, shiftleft(lit(1L), bit)).otherwise(0L))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** SimHash near-dup candidate pairs within `maxHamming` distance, generated by
    * exact-matching on 4 16-bit blocks (pigeonhole: ≤3 differing bits ⇒ at least
    * one of 4 blocks matches exactly), then verified with popcount.
    *
    * `maxBlockDf` caps the per-(blk, blk_val) bucket size before the
    * self-join, the same skew guard [[ngramJaccard]]'s `maxShingleDf`
    * applies to shingles: a block value shared by B signatures contributes
    * B² candidate pairs, so one hot value (e.g. an all-zero block from
    * short/templated docs) turns a bucketed join quadratic. Buckets over the
    * cap are DROPPED — pigeonhole still finds a pair through any of its
    * other 3 blocks, so only pairs whose every matching block is hot are
    * lost (recall trade documented; exactness keepers use the default ∞). */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   maxBlockDf: Int = Int.MaxValue): DataFrame = {
    // hammingPairsFromSigs checkpoints the signature frame itself (1 narrow
    // 16-byte row per doc), so the expensive tokenize+64-vote simHash pass
    // runs exactly once no matter how many branches consume it — no second
    // copy here.
    hammingPairsFromSigs(simHash(docs, idCol, textCol), maxHamming, maxBlockDf)
  }

  /** Hamming-≤-k pairs from ANY 64-bit signature frame (`id`, `simhash`)
    * via a block bucket join — the candidate generator shared by text
    * SimHash and the perceptual image dHash. By pigeonhole, hamming ≤
    * (numBlocks − 1) pairs share at least one exact block; never an
    * all-pairs compare.
    *
    * The bucket join runs over DISTINCT SIGNATURE VALUES (r15): perceptual
    * hashes cluster brutally (the sf10 image corpus: 125k sigs, 724
    * values), and a row-level block join pays every cluster's quadratic
    * term inside the candidate shuffle. Value-level, the quadratic term is
    * bounded by content DIVERSITY, not corpus size; rows re-enter only
    * through (a) an equi-self-join on the signature for hamming-0 pairs,
    * pre-filtered to duplicated values, and (b) two expansion joins against
    * the (small) cross-value pair table — so a mostly-unique corpus pays
    * ~nothing beyond the old path and a clustered one pays only its output
    * size.
    *
    * `numBlocks` is still the FAN-OUT SIZING KNOB for the value-level
    * join: block width = 64 / numBlocks, bucket space 2^width, quadratic
    * term Σ df² over distinct values. OUTPUT is layout-independent: every
    * pair within maxHamming keeps an intact block under ANY valid layout,
    * and everything past maxHamming is filtered after the popcount — so
    * the DuckDB twins keep replaying the 4×16 layout. Bits past
    * width·numBlocks (the 64th bit at 3×21) sit outside every block: flips
    * there can only break block EQUALITY never pigeonhole coverage, and
    * the popcount still counts them. */
  def hammingPairsFromSigs(sigs: DataFrame, maxHamming: Int = 3,
                           maxBlockDf: Int = Int.MaxValue,
                           numBlocks: Int = 4): DataFrame = {
    require(numBlocks > maxHamming && numBlocks <= 8,
      s"pigeonhole needs more blocks ($numBlocks) than flipped bits " +
        s"($maxHamming), and blocks of ≥ 8 bits")
    val width = 64 / numBlocks
    val mask = (1L << width) - 1L
    // The block bucket join runs over DISTINCT SIGNATURE VALUES, never over
    // rows: perceptual/sim hashes of a real corpus cluster brutally (the
    // sf10 image corpus holds 125k sigs over 724 values), and a row-level
    // self-join re-derives every cluster's pairs through the bucket join's
    // quadratic term — the r14 super-linear decade entry. Value-level, the
    // bucket join costs |values|² at worst, the ROW dimension only enters
    // through two final equi-joins, and the 14M-pair output is generated
    // directly — no post-join distinct over candidate duplicates.
    // One 16-byte/row checkpoint of the signatures: the branches below
    // (value census, survivor semi-join, hamming-0 self-join, two cross
    // expansions) must never re-run the caller's signature chain — for the
    // image path that chain is a full PNG decode pass.
    val sigsM = sigs.localCheckpoint()
    val valCnt = sigsM.groupBy("simhash").agg(count(lit(1)).as("__cnt"))
    val vblocks0 = valCnt.select(col("simhash"), col("__cnt"),
        posexplode(array((0 until numBlocks).map(blk =>
          shiftright(col("simhash"), blk * width).bitwiseAND(mask)): _*))
          .as(Seq("blk", "blk_val")))
    val vblocks =
      if (maxBlockDf == Int.MaxValue) vblocks0
      else {
        // df is counted over ROWS (as before): a block value's bucket size
        // is the sum of the member values' row counts
        val hot = vblocks0.groupBy("blk", "blk_val")
          .agg(sum("__cnt").as("df"))
          .filter(col("df") > maxBlockDf)
        vblocks0.join(hot.select("blk", "blk_val"), Seq("blk", "blk_val"),
          "left_anti")
      }
    // value pairs within hamming distance through a surviving shared block
    // (sig_a < sig_b: one row per unordered value pair)
    val va = vblocks.select(col("blk"), col("blk_val"),
      col("simhash").as("sig_a"))
    val vb = vblocks.select(col("blk"), col("blk_val"),
      col("simhash").as("sig_b"))
    val valPairs = va.join(vb, Seq("blk", "blk_val"))
      .filter(col("sig_a") < col("sig_b"))
      .select(col("sig_a"), col("sig_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    // hamming-0 pairs: rows sharing a signature, provided the value kept at
    // least one surviving block (identical sigs share EVERY block, so under
    // a df cap the pair exists iff any one block is cold). Only values with
    // ≥ 2 rows can pair — that set is at most the duplicated-value count,
    // so the self-join's input semi-joins against a small (AQE-broadcast)
    // value list first: a mostly-unique corpus (text simhash) pays ~nothing
    // here, a clustered one (image dHash) pays exactly its output size —
    // |cluster|² rows IS the pair semantics; the capped variant and the
    // cluster queries are the 100 TB paths when clusters grow unbounded.
    val dupVals0 = valCnt.filter(col("__cnt") >= 2).select("simhash")
    val dupVals =
      if (maxBlockDf == Int.MaxValue) dupVals0
      else dupVals0.join(vblocks.select("simhash"), Seq("simhash"),
        "left_semi")
    val dupRows = sigsM.join(dupVals, Seq("simhash"), "left_semi")
    val same = dupRows.select(col("simhash"), col("id").as("id_a"))
      .join(dupRows.select(col("simhash"), col("id").as("id_b")),
        Seq("simhash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        lit(0).cast("integer").as("hamming"))
    // cross-value pairs: expand the (small, broadcastable) value-pair table
    // back to ids; each unordered id pair appears exactly once
    val cross = valPairs
      .join(sigsM.select(col("simhash").as("sig_a"), col("id").as("__ia")),
        Seq("sig_a"))
      .join(sigsM.select(col("simhash").as("sig_b"), col("id").as("__ib")),
        Seq("sig_b"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("hamming"))
    same.unionByName(cross)
  }

  /** Exact n-gram Jaccard near-dup pairs: explode word shingles, self-join on the
    * shingle, count the intersection, derive the union from per-doc set sizes.
    * `maxShingleDf` drops ubiquitous shingles to cap join skew. [SQL] */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, threshold: Double = 0.5,
                   maxShingleDf: Int = Int.MaxValue): DataFrame = {
    // Join on a 64-bit shingle hash, not the string — smaller shuffle rows and
    // cheaper equality. Set semantics via relational distinct (wordShingles
    // keeps duplicates). Materialized once (see minHashLsh note) because three
    // branches (sizes + both join sides) reuse it.
    val shingled = docs
      .select(col(idCol).as("id"),
        TextFns.normTokens(TextFns.cleanText(col(textCol), removePunctuation = true))
          .as("toks"))
      .select(col("id"), TextFns.shingleZip(col("toks"), shingleSize).as("z"))
      .select(col("id"), explode_outer(col("z")).as("s")) // see minHashLsh note
      .filter(col("s").isNotNull)
      .select(col("id"),
        xxhash64(TextFns.shingleString(col("s"), shingleSize)).as("sh"))
      .distinct()
      .localCheckpoint()
    val filtered =
      if (maxShingleDf == Int.MaxValue) shingled
      else {
        val df = shingled.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxShingleDf)
        shingled.join(df.select("sh"), Seq("sh")).localCheckpoint()
      }
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = filtered.select(col("sh"), col("id").as("id_a"))
      .join(filtered.select(col("sh"), col("id").as("id_b")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Per-document duplicated-span stats: how much of each doc is made of
    * `window`-token runs that also occur verbatim in some OTHER document —
    * the substring-duplication signal (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better") used to trim boilerplate
    * and templated spans that doc-level near-dup misses entirely (two
    * different pages sharing a nav header are NOT near-dups, but the header
    * is still memorization fuel).
    *
    * Output: (id, n_windows, n_dup) — every stride-1 window of `window`
    * tokens, and how many of them hash-match a window in another doc.
    *
    * Scale design: windows never materialize as strings AT ALL — each token
    * hashes once (codegen'd), and the window hash is one multi-column
    * xxhash64 over `window` lead()s of the token-hash stream, so the whole
    * chain stays inside whole-stage codegen (the HOF `transform`+`array_join`
    * formulation is CodegenFallback and was 10× slower at sf0.1). The
    * window runs PARTITIONED BY doc — high-cardinality, one narrow
    * (id, pos, h) shuffle ≈ one 20-byte row per corpus token (linear, the
    * same budget as the shingle suite). Cross-doc occurrence is a keyed
    * count over (id, wh) groups — no pair join at all, unlike the Jaccard
    * path. The exact-suffix-array construction the paper uses is a
    * single-machine algorithm; hashed fixed-length windows are its standard
    * distributed surrogate. [SQL oracle: the same windows compared as
    * strings — hash-vs-string join parity, the dedup_ngram_jaccard
    * precedent]. */
  def spanDupStats(docs: DataFrame, idCol: String, textCol: String,
                   window: Int = 16): DataFrame = {
    val toks = docs
      .select(col(idCol).as("id"),
        posexplode(TextFns.normTokens(TextFns.cleanText(col(textCol),
          removePunctuation = true))).as(Seq("pos", "tok")))
      .select(col("id"), col("pos"), xxhash64(col("tok")).as("h"))
    val w = Window.partitionBy("id").orderBy("pos")
    val leadCols = (1 until window).map(i => lead(col("h"), i).over(w).as(s"h$i"))
    val wins = toks
      .select(col("id") +: col("h").as("h0") +: leadCols: _*)
      .filter(col(s"h${window - 1}").isNotNull) // tail positions: no full window
      .select(col("id"),
        xxhash64((0 until window).map(i => col(s"h$i")): _*).as("wh"))
    // (id, wh, n): reused by totals, the dup-hash dim, and the dup count
    val perDocHash = wins.groupBy("id", "wh").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val dup = perDocHash.groupBy("wh").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2).select("wh") // count = distinct docs here
    val nDup = perDocHash.join(dup, Seq("wh"), "left_semi")
      .groupBy("id").agg(sum("n").as("n_dup"))
    perDocHash.groupBy("id").agg(sum("n").as("n_windows"))
      .join(nDup, Seq("id"), "left")
      .select(col("id"), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
  }

  /** Duplicated-span REMOVAL — the cleaning pass [[spanDupStats]] only
    * measures: every stride-1 `window`-token run that occurs more than once
    * in the corpus is dropped from every occurrence EXCEPT the globally
    * first (ordered by (id, pos)), and each document's text is reassembled
    * from its surviving tokens (Lee et al. 2022's exact-substring
    * deduplication, with hashed fixed-length windows as the distributed
    * surrogate for the paper's single-machine suffix array — same surrogate
    * [[spanDupStats]] documents).
    *
    * A token is removed iff it is covered by at least one non-first
    * duplicated window occurrence, so overlapping duplicate runs longer
    * than `window` are excised whole, and the keep-first rule preserves one
    * copy of every span corpus-wide (doc-internal repeats count too: the
    * second occurrence inside the same document is removed).
    *
    * Output: (id, n_toks, n_removed, text_kept), one row per input doc —
    * `text_kept` is the space-joined surviving tokens ('' if everything was
    * removed).
    *
    * Scale shape — linear, no pair joins, four narrow corpus-sized
    * shuffles: (1) the per-doc lead() window building (id, pos, wh) rows
    * (20 bytes/token, the [[spanDupStats]] budget); (2) the global
    * first-occurrence reduction `groupBy(wh).agg(min(struct(id,pos)))` — an
    * AGGREGATE, not a rank window, so a boilerplate span duplicated across
    * millions of documents is absorbed by map-side partial combine instead
    * of landing on one hot wh partition; (3) the 1:1 wins⋈firsts join back
    * on wh (AQE handles residual key skew); (4) the coverage join on
    * (id, pos) + per-doc running-max window + reassembly groupBy, the last
    * two sharing the id-hash partitioning. Tokens re-tokenize for the
    * coverage pass (a shuffle-free codegen scan) rather than riding the
    * window shuffle as strings. [SQL — windows compared as strings, the
    * dedup_ngram_jaccard hash-vs-string precedent]. */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            window: Int = 16): DataFrame = {
    val byDoc = Window.partitionBy("id").orderBy("pos")
    def toks = docs
      .select(col(idCol).as("id"),
        posexplode(TextFns.normTokens(TextFns.cleanText(col(textCol),
          removePunctuation = true))).as(Seq("pos", "tok")))
    val leadCols =
      (1 until window).map(i => lead(col("h"), i).over(byDoc).as(s"h$i"))
    // (id, pos, wh) per full-window start — checkpointed once, narrow rows.
    val wins = toks
      .select(col("id"), col("pos"), xxhash64(col("tok")).as("h"))
      .select(col("id") +: col("pos") +: col("h").as("h0") +: leadCols: _*)
      .filter(col(s"h${window - 1}").isNotNull) // tail positions: no full window
      .select(col("id"), col("pos"),
        xxhash64((0 until window).map(i => col(s"h$i")): _*).as("wh"))
      .localCheckpoint()
    val firsts = wins.groupBy("wh")
      .agg(min(struct(col("id"), col("pos"))).as("first"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select("wh", "first")
    val starts = wins.join(firsts, Seq("wh"))
      .filter(struct(col("id"), col("pos")) =!= col("first"))
      .select(col("id"), col("pos"), lit(1).as("rm_start"))
    val covered = toks
      .join(starts, Seq("id", "pos"), "left")
      .withColumn("removed",
        max(coalesce(col("rm_start"), lit(0)))
          .over(byDoc.rowsBetween(-(window - 1), 0)))
    covered.groupBy("id")
      .agg(count(lit(1)).as("n_toks"),
        sum(col("removed")).cast("long").as("n_removed"),
        array_join(transform(
          sort_array(collect_list(when(col("removed") === 0,
            struct(col("pos"), col("tok"))))),
          x => x.getField("tok")), " ").as("text_kept"))
  }

  /** Embedding-cosine near-duplicate pairs via LSH bucketing (see
    * [[Similarity.signBits]]): candidates share a sign-LSH bucket, verified by
    * exact cosine ≥ threshold. Linear candidate generation — no full cross join. */
  def embeddingNearDup(embs: DataFrame, idCol: String, vecCol: String,
                       planes: Int = 12, threshold: Double = 0.95): DataFrame = {
    val bucketed = embs.select(col(idCol).as("id"), col(vecCol).as("vec"),
      Similarity.signBits(col(vecCol), planes).as("bucket")).localCheckpoint()
    val a = bucketed.select(col("bucket"), col("id").as("id_a"), col("vec").as("vec_a"))
    val b = bucketed.select(col("bucket"), col("id").as("id_b"), col("vec").as("vec_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.VecFns.cosine(col("vec_a"), col("vec_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
  }

  /** How many sign-LSH bits per band [[embeddingNearDupBanded]] should use
    * for a corpus of `n` vectors targeting ~`targetBucket` vectors per
    * bucket: the bit length of ceil(n / targetBucket), clamped to
    * [8, bitsPerBand]. Pure integer arithmetic — the DuckDB oracle replays
    * it as `length(bin((n + t - 1) // t))`, so both engines derive the SAME
    * r from the same count, with no float log2 to disagree on at power-of-
    * two boundaries. */
  def adaptiveSignBits(n: Long, targetBucket: Long = 32L,
                       maxBits: Int = 15): Int = {
    require(n >= 1 && targetBucket >= 1)
    val m = (n + targetBucket - 1) / targetBucket
    val bitLen = 64 - java.lang.Long.numberOfLeadingZeros(m)
    math.min(maxBits, math.max(8, bitLen))
  }

  /** BANDED embedding near-dup — the at-scale configuration of
    * [[embeddingNearDup]]. The single-table version holds its plane count
    * fixed, so bucket occupancy grows linearly with the corpus and the
    * within-bucket pair count quadratically: measured 31× cost for 100×
    * data at the sf10 decade. Two changes make the candidate stage scale:
    *
    *  - **adaptive depth**: each band keys on `rowsPerBand` =
    *    [[adaptiveSignBits]](n) bits, so bucket count tracks corpus size
    *    and expected occupancy stays ~`targetBucket` — candidates grow
    *    ~linearly in n instead of n²/2^planes;
    *  - **banding for recall**: deeper buckets alone would LOSE near-dup
    *    pairs (a pair must agree on every bit); `bands` independent plane
    *    sets OR-ed together (the MinHash-LSH band construction applied to
    *    sign-LSH) restore it: P(candidate) = 1 − (1 − p^r)^bands for
    *    per-plane agreement p.
    *
    * One [[Similarity.signBits]] kernel computes all `bands × bitsPerBand`
    * planes in a single pass; band j keys on the LOW `r` bits of its
    * `bitsPerBand`-wide slice, so the adaptive depth changes the KEY
    * arithmetic only — bit-replayable in SQL as `(sig // 2^(j·w)) % 2^r`.
    * Pairs colliding in several bands dedupe through the same
    * post-verification `.distinct()` as the single-table path (cosine is
    * deterministic, so duplicate candidate rows are identical rows). */
  def embeddingNearDupBanded(embs: DataFrame, idCol: String, vecCol: String,
                             bands: Int = 4, bitsPerBand: Int = 15,
                             targetBucket: Long = 32L,
                             threshold: Double = 0.95): DataFrame = {
    require(bands >= 1 && bitsPerBand >= 1 && bands * bitsPerBand <= 63,
      s"bands*bitsPerBand must fit a long sign bucket, got $bands x $bitsPerBand")
    val pinned = embs.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .localCheckpoint() // one corpus scan: counted once, bucketed once
    val r = adaptiveSignBits(pinned.count(), targetBucket, bitsPerBand)
    val mask = (1L << r) - 1
    val sig = Similarity.signBits(col("vec"), bands * bitsPerBand)
    val keys = array((0 until bands).map(j =>
      shiftright(sig, j * bitsPerBand).bitwiseAND(lit(mask))): _*)
    val bucketed = pinned
      .select(col("id"), col("vec"), posexplode(keys).as(Seq("band", "bucket")))
    val a = bucketed.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("vec").as("vec_a"))
    val b = bucketed.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("vec").as("vec_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.VecFns.cosine(col("vec_a"), col("vec_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
  }

  /** Keep one representative doc per near-dup component (greedy min-id): any doc
    * that appears as the right side of a candidate pair is dropped. */
  def dropDuplicates(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val toDrop = pairs.select(col("id_b").as(idCol)).distinct()
    docs.join(toDrop, Seq(idCol), "left_anti")
  }

  /** Connected components over a near-dup pair graph: (id, cluster_id) with
    * cluster_id = the minimum doc id reachable from `id` — the canonical-doc
    * assignment real dedup pipelines run AFTER pair generation (pairs alone
    * under-merge: a~b, b~c must collapse to one cluster even when a~c was
    * never emitted as a candidate).
    *
    * Algorithm: hash-min label propagation with pointer jumping. Each round
    * (1) every node takes the min label across itself and its neighbors —
    * one join + one map-side-combinable min aggregate; (2) labels shortcut
    * through their own label (l ← l(l)), which collapses chains O(log n)
    * rounds instead of O(diameter). Per-round `localCheckpoint` truncates the
    * iterative lineage (the standard Spark pattern for loops); all shuffles
    * key on 8-byte ids. The pair graph is output-sized (near-dups only), far
    * smaller than the corpus, so the loop's working set stays tiny even at
    * 100 TB of documents.
    *
    * Small-graph cutover: when the deduplicated edge set fits the driver
    * (≤ `localEdgeCutoff` directed edges ≈ 16 bytes each, 64 MB at the 4M
    * default — the same "small enough to ship to one place" judgment as a
    * broadcast join), the labels come from a single-pass driver union-find
    * instead: O(m·α(m)) with zero extra jobs, where the distributed loop
    * pays O(log n) rounds of join+agg scheduling. Both paths produce the
    * identical labeling (min reachable id), so the cutover is invisible in
    * results — it is purely the right-tool-below-threshold choice, and the
    * count that decides it reads off the already-materialized checkpoint.
    * [SQL oracle: recursive-CTE reachability]. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30,
                          localEdgeCutoff: Long = 4000000L): DataFrame = {
    val edges = pairs.select(col("id_a").cast("long").as("s"),
      col("id_b").cast("long").as("d"))
    val sym = edges.union(edges.select(col("d").as("s"), col("s").as("d")))
      .distinct().localCheckpoint()
    if (sym.count() <= localEdgeCutoff) return localComponents(sym)
    var labels = sym.select(col("s").as("v")).distinct()
      .select(col("v"), col("v").as("l")).localCheckpoint()
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      // (1) propagate: min label over self ∪ neighbors. The previous label
      // rides along as `lp` (non-null on exactly the one self row per v, and
      // min skips nulls), so convergence is read off the propagated result
      // itself — no separate rejoin against the old labels per round.
      val nbr = sym.join(labels.withColumnRenamed("v", "d"), Seq("d"))
        .select(col("s").as("v"), col("l"), lit(null).cast("long").as("lp"))
      val prop = labels.select(col("v"), col("l"), col("l").as("lp")).union(nbr)
        .groupBy("v").agg(min("l").as("l"), min("lp").as("lp"))
      // (2) pointer jump: l ← l(l). Every label value is a node id (mins of
      // node ids), so the lookup join is total; labels only decrease.
      val lmap = prop.select(col("v").as("jk"), col("l").as("l2"))
      // Lazy checkpoint: the convergence filter right below is the action
      // that materializes this round's blocks — eager would run a separate
      // job per round just to write them.
      val next = prop.join(lmap, prop("l") === lmap("jk"))
        .select(col("v"), col("l2").as("l"), col("lp"))
        .localCheckpoint(false)
      done = next.filter(col("l") =!= col("lp")).isEmpty
      labels = next.select("v", "l")
      it += 1
    }
    require(done, s"connectedComponents did not converge in $maxIter rounds")
    labels.select(col("v").as("id"), col("l").as("cluster_id"))
  }

  /** Driver union-find over a collected (s, d) edge set: path-compressed
    * find, union keeps the smaller root — so each vertex's representative is
    * exactly the min id reachable from it, bit-identical to the distributed
    * hash-min fixpoint. Bounded by [[connectedComponents]]'s cutover check;
    * never called with more than `localEdgeCutoff` rows. */
  private def localComponents(sym: DataFrame): DataFrame = {
    val rows = sym.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x // path compression: point the chain at the root
      while (parent.getOrDefault(c, c) != c) {
        val nxt = parent.get(c); parent.put(c, r); c = nxt
      }
      r
    }
    rows.foreach { case (a, b) =>
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
    }
    val spark = sym.sparkSession
    import spark.implicits._
    val verts = parent.keySet().toArray(Array.empty[java.lang.Long])
    val labeled = verts.map(v => (v.longValue(), find(v))).toSeq
    // parallelize, not a local relation: at the cutoff bound the label set
    // is millions of rows — embedding it in the plan would ship it with
    // every query fragment instead of once as RDD partitions
    spark.createDataset(spark.sparkContext.parallelize(
        labeled, math.max(1, labeled.length / 500000)))
      .toDF("id", "cluster_id")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space with a coarse
    * quantizer, then prune cosine near-duplicates WITHIN each cluster.
    * This finds the pairs sign-LSH bucketing ([[embeddingNearDup]]) misses
    * when near-identical vectors straddle a plane, and inherits the paper's
    * own trade: cross-cluster near-dups are invisible by design (the
    * quantizer's resolution is the recall knob).
    *
    * Survivor rule: `id` is kept iff no same-cluster id < it has cosine ≥
    * `threshold` — the same deterministic keep-smallest-id convention as the
    * exact-dedup family. (The paper keeps the lowest-centroid-similarity
    * example per group; that is a scoring preference, not a structural one,
    * and min-id is exactly replayable by any engine.)
    *
    * Output: (id, cluster_id, kept).
    *
    * Scale design: assignment is ONE narrow plan-constant projection — the
    * [[NearestCentroids]] codegen kernel, no centroid table join — and the
    * pair search self-joins on `cluster_id` only, so pair work is
    * Σ|cluster|², never corpus². Sizing nlist ∝ corpus size keeps clusters
    * bounded (the paper runs 50k clusters at web scale); a cluster hot
    * enough to skew the join is a quantizer-resolution problem first and a
    * [[Skew]]-salting candidate second. The assignment is checkpointed so
    * the quantizer runs once for its three consumers (both join sides and
    * the output frame). */
  def semanticDedup(embs: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Double]],
                    threshold: Double): DataFrame = {
    val assigned = embs
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .withColumn("cluster_id",
        element_at(graft.expressions.NearestCentroids.column(
          col("vec"), centroids, 1), 1).cast("long"))
      .localCheckpoint()
    val a = assigned.select(col("cluster_id"), col("id").as("id_a"),
      col("vec").as("vec_a"))
    val b = assigned.select(col("cluster_id"), col("id").as("id_b"),
      col("vec").as("vec_b"))
    val dups = a.join(b, Seq("cluster_id"))
      .filter(col("id_b") < col("id_a"))
      .filter(graft.functions.VecFns.cosine(col("vec_a"), col("vec_b"))
        >= threshold)
      .select(col("id_a").as("id")).distinct()
    assigned.select("id", "cluster_id")
      .join(dups.withColumn("dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cluster_id"), col("dup").isNull.as("kept"))
  }
}
