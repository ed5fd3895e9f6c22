package graft
import org.apache.spark.sql.SparkSession

/** Profile a single declared query: run it `reps` times and print per-run
  * seconds, separating cold (codegen-compile) from warm steady-state cost.
  * Usage: sbt "runMain graft.BenchOne <query> [reps] [sfDir]" */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    val times = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"RUN $i%d: $s%.3f s ($n rows)")
      s
    }
    println(f"BENCHONE $name cold=${times.head}%.3f warm_min=${times.tail.minOption.getOrElse(times.head)}%.3f")
    spark.stop()
  }
}
