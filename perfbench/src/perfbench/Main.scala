package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of the engine benchmark. `run.py` builds this together with
  * the engine, generates the inputs and launches it; it prints one line
  * `PERFBENCH {...}` holding every raw sample, every named check and run
  * facts, which `run.py` reduces to the contract's result line.
  *
  * Arguments (all required, as `--key value`): workload, seed, seconds,
  * trace (0|1), data (input table dir), root (scratch root for warehouse,
  * caches and stores), docs (documents in the input corpus), cpus, spans
  * (trace output file).
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, root: String,
                        docs: Long, cpus: Int, spans: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("root"), m("docs").toLong, m("cpus").toInt,
      m("spans"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val b = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.default.parallelism", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${a.root}/warehouse")
      .config("spark.local.dir", s"${a.root}/spark-local")
    if (a.trace) b.config("spark.sql.queryExecutionListeners",
      classOf[PhaseListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, a)
    try {
      a.workload match {
        case "drift_pipeline" => Pipeline.run(ctx)
        case "ingest_door" => Door.run(ctx)
        case w => sys.error(s"unknown workload $w")
      }
      ctx.tracer.foreach(_.writeJsonl(a.spans))
    } catch {
      case e: Throwable =>
        ctx.check("workload_completed", ok = false, e.toString)
        ctx.attempted += 1
        ctx.failed += 1
        e.printStackTrace()
    }
    val line = ctx.render()
    spark.stop()
    println("PERFBENCH " + line)
    System.out.flush() // before the JVM's exit, where a class-data archive may be dumped
  }
}

/** Shared run state: samples per metric, named checks, the tracer and the
  * engine listeners of a traced run. */
final class Ctx(val spark: SparkSession, val a: Main.Args) {
  val tracer: Option[Tracer] =
    if (a.trace) Some(new Tracer(java.util.UUID.randomUUID().toString.take(8)))
    else None
  val engine: Option[EngineListener] = tracer.map { _ =>
    val l = new EngineListener; spark.sparkContext.addSparkListener(l); l
  }
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0
  var failed = 0

  def add(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  /** A named correctness check, reported by name when it does not hold;
    * the caller counts the op it belongs to in `failed`. */
  def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
    ok
  }

  def note(key: String, jsonValue: String): Unit = info(key) = jsonValue

  /** `docs_per_s`: docs offered over the summed wall of every op in the
    * measuring window, cold and warm; the cold rate goes to the report. */
  def throughput(docsPerOp: Long): Unit = {
    val ops = samples("cold_s") ++ samples("warm_s")
    add("docs_per_s", docsPerOp * ops.size / ops.sum)
    note("cold_docs_per_s", (docsPerOp / samples("cold_s").head).toString)
  }

  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** The measuring window: one cold op (the first after set-up, in this
    * fresh JVM), then a fixed number of warm ops, `--seconds` over the
    * workload's nominal warm-op length and at least one. The count does not
    * depend on how fast the ops run, so a slower run never reports the
    * median of fewer, earlier (less JIT-compiled) ops. Each op starts after
    * a forced collection, so no op pays for garbage left by the one before. */
  def measure(nominalWarmS: Double)(cold: => Unit, warm: => Unit): Unit = {
    val n = math.max(1, math.round(a.seconds / nominalWarmS).toInt)
    val t0 = System.nanoTime()
    collect()
    cold
    (0 until n).foreach { _ => collect(); warm }
    note("warm_ops", n.toString)
    note("measured_s", f"${(System.nanoTime() - t0) / 1e9}%.3f")
  }

  private def collect(): Unit = { System.gc(); Thread.sleep(50) }

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%8.2f s  $msg")

  /** Set-up time: from JVM start to now. */
  def setupDone(): Unit =
    add("setup_s", (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)

  /** Heap in use after a forced collection, at the end of the timed phase. */
  def liveHeap(): Unit = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    add("live_heap_mb", mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0))
  }

  /** Waits until the listener bus has delivered every job's end event. */
  def drainListeners(): Unit = engine.foreach { l =>
    val deadline = System.currentTimeMillis() + 20000
    while (System.currentTimeMillis() < deadline &&
      (l.openJobs > 0 || System.currentTimeMillis() - l.lastEventMs < 500))
      Thread.sleep(50)
  }

  /** Files and bytes under the run root, excluding Spark's scratch dirs. */
  def snapshot(): Map[String, Long] = {
    val root = Paths.get(a.root)
    val skip = Set("spark-local", "tmp", "data").map(root.resolve)
    val st = Files.walk(root)
    try st.iterator().asScala
      .filter(p => Files.isRegularFile(p) && !skip.exists(p.startsWith))
      .map(p => p.toString -> Files.size(p)).toMap
    finally st.close()
  }

  /** Files new or changed between two snapshots, and their megabytes. */
  def written(before: Map[String, Long], after: Map[String, Long]): (Int, Double) = {
    val w = after.filter { case (p, n) => !before.get(p).contains(n) }
    (w.size, w.values.sum / (1024.0 * 1024.0))
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  def render(): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val s = samples.map { case (k, vs) => q(k) + ":" + vs.map(num).mkString("[", ",", "]") }
    val c = checks.map { case (n, ok, d) => s"""{"name":${q(n)},"ok":$ok,"detail":${q(d)}}""" }
    val i = info.map { case (k, v) => q(k) + ":" + v }
    s"""{"samples":{${s.mkString(",")}},"checks":[${c.mkString(",")}],""" +
      s""""attempted":$attempted,"failed":$failed,"info":{${i.mkString(",")}}}"""
  }
}
