package graft

import org.apache.spark.sql.SparkSession

/** Session tuning applied at the declared-query entry point (guide §6).
  *
  * The engine's persisted stores are partitioned directory layouts —
  * minhash bands `bucket=0..255`, signature `shard=0..63`, BM25/LM
  * `wb=0..63`, IVF `list_id=...` — and Spark launches a DISTRIBUTED
  * file-listing job for any read whose root expands to more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths
  * (default 32). On the local filesystem that job costs 0.4–2.9 s of
  * scheduler round-trips (r17 StageProfile) to list directories the driver
  * stats in milliseconds, and it runs on EVERY store read (dedup_delta_*,
  * text_bm25_*, lm_fluency_*, sim_*_index_*, store_fsck, pack/export).
  *
  * Applied by [[SparkEntry.queries]] ([[sessionDefaults]]) and at the
  * mount of every store sink the ingest door chains — fingerprint,
  * signature and ANN sinks and appenders ([[mountDefaults]]) — so a door
  * wired layer by layer lists on the driver too. A mount never overrides a
  * threshold the session already set: a library user who mounts a sink on
  * an object store with the threshold in the Spark conf keeps it.
  *
  * Local default raises the threshold to 4096 so the driver lists
  * directly. Production on an object store must keep distributed listing —
  * there each list call is a network round-trip and the driver serializes
  * thousands of them — so the value is env-parameterised:
  * `SPARK_GRAFT_LIST_PARALLEL_THRESHOLD=32` restores Spark's default.
  */
object Tuning {
  val ListingThresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** Threshold selection, factored for the env-override pin in PlanSpec. */
  def listingThreshold(env: Option[String]): String = env.getOrElse("4096")

  private def envThreshold: Option[String] =
    sys.env.get("SPARK_GRAFT_LIST_PARALLEL_THRESHOLD")

  def sessionDefaults(spark: SparkSession): Unit =
    spark.conf.set(ListingThresholdKey, listingThreshold(envThreshold))

  /** Store-sink mount: the env override if set, else the local default
    * only when the session has not set the threshold itself. */
  def mountDefaults(spark: SparkSession): Unit =
    if (envThreshold.isDefined || !spark.conf.getAll.contains(ListingThresholdKey))
      sessionDefaults(spark)
}
