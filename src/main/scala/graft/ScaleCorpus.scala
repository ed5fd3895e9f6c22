package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic N× replication of a test-data scale dir — the generator
  * behind the sf1 bench/scaling envelope (VERDICT r6 #1: make the 100×-scale
  * claim empirical at one more decade, full surface).
  *
  * Replication adds DATA, not copies: every fact-table key is offset by
  * `Offset` per copy (joins stay within-copy, so join selectivity and output
  * cardinality scale linearly), document text is re-tagged per copy (`c$k`
  * word prefix — 10× more DISTINCT documents; verbatim copies would inflate
  * every near-dup pair output quadratically and measure corpus construction,
  * not the operator), and embedding coordinates are hash-jittered (distinct
  * vectors with the same shape statistics). Copy 0 keeps original ids so
  * id-pinned query sets (`vec_id < 5` probes) stay valid. Tiny dims
  * (region/nation) are NOT replicated — at any scale factor they stay
  * broadcast-sized, exactly like TPC-H's fixed 5/25-row tables.
  *
  * Timestamps are kept as-is: N× rows in the same time window models N×
  * traffic density, so date-range predicates return N× rows — the right
  * shape for a linearity envelope. */
object ScaleCorpus {

  /** Per-copy id offset — far above any sf0.1 key (max ~6M at sf1-equivalent
    * row counts), so copies never collide. */
  val Offset = 10000000L

  /** Generate `copies`× of `src` under `out` (idempotent — a `_SUCCESS`
    * marker skips regeneration). Returns the out dir.
    *
    * `skew = true` re-tags ~80 % of documents into ONE language/source
    * (deterministically by doc-id hash) at IDENTICAL volume — the corpus
    * shape the uniform decades cannot expose (r13 verdict #2): a
    * `partitionBy(lang)` window puts 80 % of this corpus into one task,
    * while the KeyedRank range composition must stay ~flat. Only the tag
    * columns change; text/bytes/row counts equal the uniform twin, so a
    * skew-vs-uniform wall ratio isolates the skew handling. */
  def generate(spark: SparkSession, src: String, out: String,
               copies: Int, skew: Boolean = false): String = synchronized {
    val root = new java.io.File(out).getAbsolutePath
    val done = new java.io.File(root, "_SUCCESS")
    if (!done.exists()) {
      def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
      def write(df: DataFrame, t: String): Unit =
        df.write.mode("overwrite").parquet(s"$root/$t.parquet")
      def copiesOf(t: String)(f: (DataFrame, Int) => DataFrame): DataFrame = {
        val base = read(t)
        (0 until copies).map(k => f(base, k)).reduce(_ unionByName _)
      }
      def off(c: String, k: Int) = (col(c) + lit(k * Offset)).as(c)

      // broadcast-sized dims: verbatim
      write(read("region"), "region")
      write(read("nation"), "nation")

      write(copiesOf("customer")((d, k) => d.select(off("c_custkey", k),
        col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))), "customer")
      write(copiesOf("supplier")((d, k) => d.select(off("s_suppkey", k),
        col("s_name"), col("s_nationkey"), col("s_acctbal"))), "supplier")
      write(copiesOf("part")((d, k) => d.select(off("p_partkey", k),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))), "part")
      write(copiesOf("orders")((d, k) => d.select(off("o_orderkey", k),
        off("o_custkey", k), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))), "orders")
      write(copiesOf("lineitem")((d, k) => d.select(off("l_orderkey", k),
        off("l_partkey", k), off("l_suppkey", k), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"))), "lineitem")
      write(copiesOf("events")((d, k) => d.select(off("event_id", k),
        col("ts"), off("user_id", k), col("event_type"), col("value"),
        col("props"))), "events")

      val hot = pmod(xxhash64(col("doc_id")), lit(10L)) < 8
      write(copiesOf("documents")((d, k) => d.select(
        off("doc_id", k),
        array_join(transform(split(col("text"), " "),
          w => concat(lit(s"c$k"), w)), " ").as("text"),
        (if (skew) when(hot, lit("en")).otherwise(col("lang"))
         else col("lang")).as("lang"),
        (if (skew) when(hot, lit("src0")).otherwise(col("source"))
         else col("source")).as("source"),
        col("n_chars"))), "documents")
      write(copiesOf("embeddings")((d, k) => d.select(
        off("vec_id", k),
        transform(col("embedding"), (x, i) =>
          (x + (pmod(xxhash64(col("vec_id"), lit(k), i), lit(1000L))
            .cast("double") / 10000.0 - 0.05)).cast("float")).as("embedding"),
        col("label"))), "embeddings")

      done.createNewFile()
    }
    root
  }

  /** CLI: `runMain graft.ScaleCorpus <srcDir> <outDir> [copies=10] [skew]`. */
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/bench-sf1"
    val n = if (args.length > 2) args(2).toInt else 10
    val skew = args.length > 3 && args(3) == "skew"
    val spark = SparkSession.builder()
      .master(s"local[${Bench.cpus}]")
      .config("spark.sql.shuffle.partitions", Bench.cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"scaled corpus at ${generate(spark, src, out, n, skew)}")
    spark.stop()
  }
}
