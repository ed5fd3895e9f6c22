package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SessionMemo
import graft.operators.{AnnIndex, Dsir, FingerprintStore, SignatureStore}
import graft.streaming.{FrontDoor, IngestGate}

/** `ingest_door`: a closed loop of 100-doc triggers through
  * [[FrontDoor.sink]] — the next trigger starts only after the previous one
  * returned, as `foreachBatch` does. Each trigger holds 20 gate rejects, 20
  * exact copies of stored docs, 20 one-token re-crawls, 20 paraphrases (a
  * stored vector nudged to cos ~ 1 under fresh text) and 20 novel docs, so
  * every layer's kill count is known: 20 each, 20 admitted.
  *
  * Set-up is JVM and session start, the gate's reference stats, seeding the
  * fingerprint and signature stores from the corpus, training the IVF index
  * over the embeddings (nlist 64, nprobe 4) and mounting the door. The cold
  * op is the first trigger after the mount in this fresh JVM; warm ops are
  * the triggers after it. The traced run replaces [[FrontDoor.sink]] with the
  * door's four public sinks chained the way it chains them, a span around
  * each, and checks every layer's kill count.
  */
object Door {
  val PerClass = 20
  val Layers: Seq[String] = Seq("gate", "fp", "sig", "sem")
  private val SigThreshold = 0.45
  private val SemThreshold = 0.99
  private val NProbe = 4
  private val Tag = "bench"
  /** Nominal wall of one warm trigger on 4 cores, in seconds: the run makes
    * `--seconds` over this many warm triggers. */
  val NominalWarmS = 16.0

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = ctx.a.data
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))

    // The three stores are independent: seed them on their own threads
    // while the gate's stats and the seed docs are computed on this one.
    val root = s"${ctx.a.root}/stores"
    val (fpDir, sigDir) = (s"$root/fp", s"$root/sig")
    def logged[T](what: String)(body: => T): T = {
      val t = System.nanoTime(); val r = body
      ctx.log(f"$what ${(System.nanoTime() - t) / 1e9}%.2f s"); r
    }
    val stores = Seq(
      Future(logged("fp seed")(FingerprintStore.seed(docs, "text", fpDir))),
      Future(logged("sig seed")(SignatureStore.seed(docs, "doc_id", "text", sigDir))))
    val ivf = Future(logged("ivf")(AnnIndex.ivfIndexDir(emb, s"$dir/embeddings.parquet", "vec_id",
      "embedding", nlist = 64, iters = 3, seed = 42L, variant = "door")))

    // Permissive-affinity gate: the reject class fails the quality gate
    // (one token), so admission is deterministic while affinity scoring
    // still runs on every doc.
    val stats = logged("gate stats")(Dsir.bucketStats(
      docs.withColumn("is_target", pmod(col("doc_id"), lit(2)) === 0),
      "doc_id", "text", col("is_target")))
    val gate = new IngestGate(stats, minAffinity = -1e18)
    val seeds = logged("seed docs")(new scala.util.Random(ctx.a.seed).shuffle(gate.gate(
        docs.join(emb, docs("doc_id") === emb("vec_id"))
          .select(docs("doc_id"), col("text"), col("embedding")),
        "doc_id", "text")
      .filter(col("admitted")).select("doc_id", "text", "embedding")
      .collect().toSeq.sortBy(_.getLong(0)))
      .take(PerClass)
      .map(r => (r.getString(1), r.getSeq[Double](2))))
    require(seeds.length == PerClass, s"need $PerClass gate-passing docs with vectors")
    val dim = seeds.head._2.length

    def rng(cls: Int, t: Int, i: Int) =
      new scala.util.Random(ctx.a.seed * 1000003L + t * 1009L + i * 31L + cls)
    def novelVec(cls: Int, t: Int, i: Int): Seq[Double] = {
      val r = rng(cls, t, i)
      (0 until dim).map(_ => r.nextDouble() * 2 - 1)
    }
    def nudged(v: Seq[Double]): Seq[Double] =
      v.zipWithIndex.map { case (x, i) => if (i == 0) x + 1e-3 else x }
    // eight-letter random words: the gate's quality bounds (mean word
    // length, repeated unigrams and bigrams) pass them whatever the seed
    def words(n: Int, r: scala.util.Random): String =
      Seq.fill(n)(Seq.fill(8)(('a' + r.nextInt(26)).toChar).mkString).mkString(" ")
    def mkBatch(t: Int): DataFrame = {
      val rows =
        (0 until PerClass).map(i => (800000000L + t * 1000L + i, "x", novelVec(0, t, i))) ++
        seeds.zipWithIndex.map { case ((tx, v), i) => (810000000L + t * 1000L + i, tx, nudged(v)) } ++
        seeds.zipWithIndex.map { case ((tx, v), i) =>
          (820000000L + t * 1000L + i, tx + " " + words(1, rng(1, t, i)), nudged(v)) } ++
        seeds.zipWithIndex.map { case ((_, v), i) =>
          (830000000L + t * 1000L + i, words(24, rng(2, t, i)), nudged(v)) } ++
        (0 until PerClass).map(i =>
          (840000000L + t * 1000L + i, words(24, rng(3, t, i)), novelVec(4, t, i)))
      rows.toDF("doc_id", "text", "embedding").localCheckpoint()
    }

    stores.foreach(Await.result(_, Duration.Inf))
    val ivfDir = Await.result(ivf, Duration.Inf)
    ctx.log("stores seeded")

    val accepted = new AtomicLong(0L)
    val quarantined = new AtomicLong(0L)
    val t0 = System.nanoTime()
    val door: Trigger = ctx.tracer match {
      case None =>
        val sink = FrontDoor.sink(spark, gate, fpDir, sigDir, ivfDir, "doc_id", "text",
          "embedding", sigThreshold = SigThreshold, semThreshold = SemThreshold,
          nprobe = NProbe, streamTag = Tag)(
          df => { accepted.addAndGet(df.count()); () })(
          df => { quarantined.addAndGet(df.count()); () })
        (batch, epoch) => { sink(batch, epoch); Array(accepted.get()) }
      case Some(t) => new TracedDoor(t, spark, gate, fpDir, sigDir, ivfDir, accepted, quarantined)
    }
    ctx.note("mount_s", ((System.nanoTime() - t0) / 1e9).toString)
    ctx.setupDone()

    var epoch = 0L
    def trigger(kind: String): Unit = {
      epoch += 1
      val batch = mkBatch(epoch.toInt)
      val before = ctx.tracer.map(_ => (ctx.snapshot(), SessionMemo.totalEntries))
      val t0 = System.nanoTime()
      val rows = ctx.span(kind)(door(batch, epoch))
      val wall = (System.nanoTime() - t0) / 1e9
      ctx.log(f"$kind trigger $epoch $wall%.2f s")
      ctx.add(s"${kind}_s", wall)
      val (acc, quar) = (accepted.getAndSet(0), quarantined.getAndSet(0))
      ctx.attempted += 1
      var ok = ctx.check("trigger_counts", acc == PerClass && quar == PerClass,
        s"trigger $epoch: admitted $acc, quarantined $quar (want $PerClass each)")
      before.foreach { case (snap, memo) =>
        val (files, mb) = ctx.written(snap, ctx.snapshot())
        ctx.add(s"$kind.files_written", files)
        ctx.add(s"$kind.mb_written", mb)
        ctx.add(s"$kind.memo.entries_built", SessionMemo.totalEntries - memo)
        Layers.indices.foreach { i =>
          ctx.add(s"$kind.layer${i + 1}.rows_out", rows(i + 1))
          ok &= ctx.check(s"${Layers(i)}.killed", rows(i) - rows(i + 1) == PerClass,
            s"trigger $epoch: ${rows(i)} rows in, ${rows(i + 1)} passed, want $PerClass killed")
        }
      }
      if (!ok) ctx.failed += 1
    }
    ctx.measure(NominalWarmS)(trigger("cold"), trigger("warm"))
    ctx.liveHeap()
    ctx.throughput(5L * PerClass)
    Layered.report(ctx, Seq("cold", "warm"), Layers)
  }

  /** One trigger; returns the rows seen at each layer boundary (only the
    * traced door sees inside the chain). */
  type Trigger = (DataFrame, Long) => Array[Long]

  /** The door's four public sinks chained as [[FrontDoor.sink]] chains them
    * (the gate's epoch threaded to the three store layers), with a span
    * around each layer and row counts at every boundary: rows(0) entered
    * the gate, rows(i) passed layer i, rows(4) were admitted. */
  final class TracedDoor(t: Tracer, spark: SparkSession, gate: IngestGate,
                         fpDir: String, sigDir: String, ivfDir: String,
                         accepted: AtomicLong, quarantined: AtomicLong) extends Trigger {
    private val cur = new AtomicLong(-1L)
    private val rows = Array.fill(Layers.size + 1)(0L)

    private def counted(i: Int, df: DataFrame): Unit =
      t.span("count") { rows(i) = df.count() }

    private val sem = AnnIndex.semanticScreenSink(spark, ivfDir, "doc_id", "embedding",
      SemThreshold, NProbe, Tag) { df => counted(4, df); accepted.addAndGet(rows(4)); () }
    private val sig = SignatureStore.screenSink(spark, sigDir, "doc_id", "text",
      SigThreshold, streamTag = Tag) { df => counted(3, df); t.span("sem")(sem(df, cur.get())) }
    private val fp = FingerprintStore.dedupSink(spark, fpDir, "doc_id", "text",
      streamTag = Tag) { df => counted(2, df); t.span("sig")(sig(df, cur.get())) }
    private val chain = gate.sinkEpoch("doc_id", "text")({ (df, e) =>
      cur.set(e); counted(1, df); t.span("fp")(fp(df, e)) })(
      { (df, _) => t.span("count") { quarantined.addAndGet(df.count()); () } })

    def apply(batch: DataFrame, epoch: Long): Array[Long] = {
      java.util.Arrays.fill(rows, 0L)
      counted(0, batch)
      t.span("gate")(chain(batch, epoch))
      rows.clone()
    }
  }
}
