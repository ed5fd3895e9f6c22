package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for tools/oracle_check.py's DuckDB compare.
  * Usage: sbt "runMain graft.Verify <sfDir> <outDir> [<query>[,<query>...]]" */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev loop); it
    // filters oracle_sql.json too, so oracle_check.py checks only those
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    // a fresh store cache per run: the content-digest builds key on the
    // corpus and parameters, not on the code, so a reused build would
    // leave a changed builder, appender or reader untested
    val cacheDir = Paths.get(outDir, "adapt_cache").toFile
    org.apache.hadoop.fs.FileUtil.fullyDelete(cacheDir)
    val spark = SparkSession.builder()
      .master(s"local[${Bench.cpus}]")
      .config("spark.graft.adaptCacheDir", cacheDir.getAbsolutePath)
      .config("spark.sql.shuffle.partitions", Bench.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => wanted(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => wanted(name) }
      .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
