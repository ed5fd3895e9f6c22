package graft

import org.apache.spark.sql.SparkSession

/** Skew-vs-uniform bench (r13 verdict #2): time the low-cardinality-key
  * queries on a corpus where 80 % of documents share ONE language/source
  * ([[ScaleCorpus]] skew mode) against the uniform twin at IDENTICAL
  * volume. Before the [[graft.operators.KeyedRank]] rewrite these queries
  * ranked inside `Window.partitionBy(lang/source)` — partitioned in name
  * only on such a corpus (one task sorts 80 % of it); the range-partition
  * composition must keep the ratio ~flat (the verdict's done-bar: ≤ ~1.3×
  * wall at equal volume).
  *
  * Methodology = [[Bench]]: untimed warm passes (codegen at sf0.001, then
  * both target dirs so content-keyed session artifacts build untimed),
  * GC between timings, min-of-pairs. Returns one JSON line (`graft.Bench
  * skew` writes BENCH_skew.json): per-query uniform/skew seconds + ratio
  * and both raw pairs. */
object BenchSkew {

  /** The queries whose plans key on lang/source — the skew-sensitive set. */
  private val Names = Seq("quality_ppl_buckets", "corpus_build_ccnet",
    "corpus_build", "mix_token_fill", "export_curriculum",
    "quality_quantiles", "gate_admission")

  /** Copies of the source dir in each generated corpus. */
  private val Copies = 10

  def run(spark: SparkSession): String = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SRC", "/root/testdata/sf0.1")
    val uniformDir = sys.env.getOrElse("SPARK_GRAFT_UNIFORM_DIR",
      "/tmp/bench-sf1")
    val skewDir = sys.env.getOrElse("SPARK_GRAFT_SKEW_DIR",
      "/tmp/bench-sf1-skew")
    ScaleCorpus.generate(spark, src, uniformDir, Copies)
    ScaleCorpus.generate(spark, src, skewDir, Copies, skew = true)
    val queries = Names.map(n => n -> SparkEntry.queries(n))
    // codegen warmup (small), then content-keyed artifact warmup per dir
    Seq(Bench.warmDir(uniformDir), uniformDir, skewDir).foreach { d =>
      queries.foreach { case (_, fn) =>
        try { fn(spark, d).count() } catch { case _: Throwable => () }
      }
    }
    Bench.releaseBlocks()
    var failed = List.empty[String]
    // A throwing query must NOT contribute a timing: a near-zero "elapsed"
    // from an early failure would silently flatten the skew/uniform ratio
    // (r14 advice). Failed runs record NaN; min-of-pairs propagates it and
    // the headline ratio + per-query map only aggregate fully-green pairs.
    def timedPass(dir: String): Map[String, Double] =
      queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, dir).count(); true }
        catch { case _: Throwable => failed ::= s"$name@$dir"; false }
        val dt = if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
        Bench.releaseBlocks()
        name -> dt
      }.toMap
    val u1 = timedPass(uniformDir); val s1 = timedPass(skewDir)
    val u2 = timedPass(uniformDir); val s2 = timedPass(skewDir)
    val uni = u1.map { case (k, v) => k -> math.min(v, u2(k)) }
    val skw = s1.map { case (k, v) => k -> math.min(v, s2(k)) }
    val okNames = Names.filter(n => !uni(n).isNaN && !skw(n).isNaN)
    def f(v: Double) = f"$v%.3f"
    def jnum(v: Double) = if (v.isNaN) "null" else v.toString
    val perQ = okNames.map { n =>
      val r = if (uni(n) > 0) skw(n) / uni(n) else 0.0
      s"""\"$n\":{"uniform":${f(uni(n))},"skew":${f(skw(n))},"ratio":${f(r)}}"""
    }.mkString("{", ",", "}")
    val pairs = Names.map { n =>
      s"""\"$n\":{"uniform":[${jnum(u1(n))},${jnum(u2(n))}],""" +
        s""""skew":[${jnum(s1(n))},${jnum(s2(n))}]}"""
    }.mkString("{", ",", "}")
    val uTot = okNames.map(uni).sum; val sTot = okNames.map(skw).sum
    val fs = failed.reverse.distinct.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val ratio = if (uTot > 0) sTot / uTot else 0.0
    s"""{"metric":"skew_over_uniform","value":${f(ratio)},""" +
      s""""unit":"ratio","uniform_total":${f(uTot)},"skew_total":${f(sTot)},""" +
      s""""queries":$perQ,"failed":$fs,"copies":$Copies,"src":"$src",""" +
      s""""pairs":$pairs}"""
  }
}
