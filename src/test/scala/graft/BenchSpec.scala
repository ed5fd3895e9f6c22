package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench's per-query breakdown: what its listener attributes to a
  * query is that query's own work; only a known scenario runs, and
  * forget_queue runs only on a corpus that holds its full requests. */
class BenchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"
  val names = Seq("q1_pricing_summary", "q3_top_orders")
  def queries(ns: Seq[String]): Seq[(String, Bench.Query)] =
    ns.map(n => n -> SparkEntry.queries(n))

  test("breakdown per query: jobs, stages, driver gap; no job leaks into the next query") {
    queries(names).foreach { case (_, fn) => fn(spark, dir).count() } // warm
    val Seq(pass) = Bench.timedPasses(spark, queries(names), dir, 1)
    assert(pass.map(_._1) == names)
    pass.foreach { case (name, t) =>
      val b = t.breakdown
      assert(t.ok, name)
      assert(b.jobs >= 1 && b.stages >= b.jobs, s"$name: $b")
      assert(b.driverGapS >= 0.0 && b.driverGapS <= t.wallS,
        s"$name: $b, wall ${t.wallS}")
    }
    val Seq(Seq((_, alone))) =
      Bench.timedPasses(spark, queries(names.tail), dir, 1)
    assert(pass(1)._2.breakdown.jobs == alone.breakdown.jobs,
      s"${pass(1)._2.breakdown} back to back vs ${alone.breakdown} alone")
  }

  test("an unknown scenario name is rejected, listing the known ones") {
    val e = intercept[IllegalArgumentException](Bench.scenario("no_such"))
    Bench.scenarios.foreach { case (n, _) => assert(e.getMessage.contains(n)) }
    assert(Bench.scenario("screen") eq Bench.scenarios.head._2)
  }

  test("forget_queue's pool check refuses a corpus too small for its full requests") {
    val e = intercept[IllegalArgumentException](
      BenchForgetQueue.requestPools(spark, dir))
    assert(e.getMessage.contains(dir), e.getMessage)
    assert(e.getMessage.contains("holds 25 ids") &&
      e.getMessage.contains("175 short of the 200"), e.getMessage)
  }
}
