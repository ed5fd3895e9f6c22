package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, FingerprintStore, SignatureStore}
import graft.streaming.{FrontDoor, ShardedDoor}

/** Measures the door READ path ([[FrontDoor.probe]] /
  * [[ShardedDoor.probe]]): the fanned probe's cost claim is "k pruned
  * store probes per query batch, batch prep paid once" — so the k=4
  * sharded probe should cost well under 4× the single-door probe on the
  * same corpus and batch (each shard's stores are 1/k the size, and the
  * shard-invariant prep is shared). Same verdict semantics on both paths
  * (cross-checked here row-for-row before timing). Returns ONE JSON line
  * (`graft.Bench door_probe` writes BENCH_door_probe.json). */
object BenchDoorProbe {

  private val Reps = 5

  def run(spark: SparkSession): String = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/bench-sf1")
    import spark.implicits._
    import Bench.{timed, tmp}

    // corpus: docs paired with embedding vectors by id (the door stores
    // text AND vector per admitted doc)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("doc_id"),
        col("embedding").cast("array<double>").as("embedding"))
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .join(emb, Seq("doc_id"))
      .localCheckpoint()
    val nDocs = corpus.count()

    // single door: direct bulk seeds (the "yesterday's corpus" load)
    val fp1 = tmp("dp_fp"); val sig1 = tmp("dp_sig")
    FingerprintStore.seed(corpus, "text", fp1)
    SignatureStore.seed(corpus, "doc_id", "text", sig1)
    val ivf1 = AnnIndex.ivfIndexDir(corpus, s"$sfDir/embeddings.parquet",
      "doc_id", "embedding", nlist = 16, iters = 3, seed = 42L,
      variant = s"dprobe_${java.util.UUID.randomUUID().toString.take(8)}")

    // sharded door, same corpus routed: per-shard bulk seeds
    val K = 4
    val root = tmp("dp_root")
    val door = ShardedDoor.create(spark, root, K, corpus, "doc_id",
      "embedding", nlist = 16, iters = 3, seed = 42L)
    (0 until K).foreach { i =>
      val slice = corpus.filter(ShardedDoor.shardOf(col("doc_id"), K) === i)
        .localCheckpoint()
      FingerprintStore.seed(slice, "text", door.fpDir(i))
      SignatureStore.seed(slice, "doc_id", "text", door.sigDir(i))
    }

    // probe batch: half one-token re-crawls of stored docs (near-dups the
    // probe must flag), half fresh pages — fresh ids so nothing co-routes
    val half = 200
    val stored = corpus.limit(half).collect()
    val probeRows = stored.zipWithIndex.map { case (r, i) =>
      (1000000L + i, r.getString(1) + " zzedit", r.getSeq[Double](2))
    } ++ (0 until half).map { i =>
      (2000000L + i,
        (0 until 24).map(j => f"fresh${i}x$j%02d").mkString(" "),
        (0 until stored(0).getSeq[Double](2).length)
          .map(d => math.sin(0.31 * (i * 64 + d))))
    }
    val batch = probeRows.toSeq
      .toDF("doc_id", "text", "embedding").localCheckpoint()

    def single(): DataFrame = FrontDoor.probe(spark, fp1, sig1, ivf1,
      batch, "doc_id", "text", "embedding", sigThreshold = 0.5,
      semThreshold = 0.99, nprobe = 4)
    def sharded(): DataFrame = door.probe(batch, "doc_id", "text",
      "embedding", sigThreshold = 0.5, semThreshold = 0.99, nprobe = 4)

    // verdict parity before timing: exact and near are DETERMINISTIC
    // layers (same fingerprints, same signatures, all content reachable
    // by the fan) — they must agree bit-for-bit. The semantic layer is
    // approximate BY DESIGN (per-shard trained quantizers probe
    // different cells than one global quantizer), so its flag counts are
    // REPORTED per path, not required equal.
    val vs = single().collect().map(r => r.getLong(0) ->
      (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    val vk = sharded().collect().map(r => r.getLong(0) ->
      (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    val diverged = vs.keySet.union(vk.keySet).filter { k =>
      vs.get(k).map(v => (v._1, v._2)) != vk.get(k).map(v => (v._1, v._2))
    }
    require(diverged.isEmpty,
      s"exact/near verdicts diverge: ${diverged.take(5)}")
    val flagged = vs.count(_._2._2)
    val semSingle = vs.count(_._2._3)
    val semSharded = vk.count(_._2._3)

    val singleSecs = (1 to Reps).map(_ => timed(single().collect()))
    val shardSecs = (1 to Reps).map(_ => timed(sharded().collect()))
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)

    def f(v: Double) = f"$v%.3f"
    s"""{"metric":"door_probe","unit":"sec","sf":"$sfDir",""" +
      s""""store_docs":$nDocs,"batch_docs":${2 * half},""" +
      s""""near_dups_flagged":$flagged,"sem_flagged_single":$semSingle,""" +
      s""""sem_flagged_sharded":$semSharded,"sharded_k":$K,""" +
      s""""single_sec":[${singleSecs.map(f).mkString(",")}],""" +
      s""""sharded_sec":[${shardSecs.map(f).mkString(",")}],""" +
      s""""single_median":${f(med(singleSecs))},""" +
      s""""sharded_median":${f(med(shardSecs))},""" +
      s""""sharded_over_single":${f(med(shardSecs) / med(singleSecs))}}"""
  }
}
