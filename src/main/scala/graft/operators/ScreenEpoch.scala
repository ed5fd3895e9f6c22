package graft.operators

import scala.reflect.ClassTag

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** One store's screening steps, shared by its own sink and the ingest
  * door's epoch: what the batch gains before the probe, which of the
  * store's partitions the probe reads, which rows the store already holds,
  * and what a passing row stages. */
private[graft] trait ScreenLayer {
  /** The epoch namespace of the layer's own sink: its marker names, and
    * its one part says where this store's stage publishes. */
  def commit: EpochLog.Commit
  /** The column of the prepared rows that [[flagged]] names rows by. */
  def key: String
  /** The batch plus this layer's derived columns (dropped before `out`). */
  def prepare(rows: DataFrame): DataFrame
  /** The store partitions (one long column) the probe of `prep` reads. */
  def keys(prep: DataFrame): DataFrame
  /** The [[key]]s of `prep` rows the store already holds, reading only
    * partitions `keys`. May repeat a key. */
  def flagged(prep: DataFrame, keys: Set[Long]): DataFrame
  /** Stage the rows that passed this layer into `stage`; returns the
    * layer's post-commit step. */
  def stage(passed: DataFrame, stage: Path, epoch: Long): () => Unit
}

/** One screening epoch over one or more store layers on one commit: the
  * body of [[FingerprintStore.dedupSink]], [[SignatureStore.screenSink]]
  * and [[AnnIndex.semanticScreenSink]] (one layer each) and of
  * [[graft.streaming.FrontDoor.sink]] (the three, in that order).
  *
  * The batch is prepared and checkpointed once; one job collects every
  * layer's probe keys; every layer probes those prepared rows against its
  * store, which does not yet hold this epoch's rows. A row dies at the first
  * layer that flags it: each verdict is batch-vs-store, so probing rows a
  * cheaper layer kills changes no other verdict. `out` gets the rows that
  * passed every layer, before anything is staged; each layer then stages
  * the rows that passed it, one marker commits all stages, they publish,
  * and each layer's post-commit step runs. An empty batch writes nothing.
  * The caller checks the marker first: a committed epoch only heals. */
private[graft] object ScreenEpoch {

  def run(fs: FileSystem, commit: EpochLog.Commit, layers: Seq[ScreenLayer],
          batch: DataFrame, epoch: Long)(out: DataFrame => Unit): Unit = {
    val prep = layers.foldLeft(batch)((rows, l) => l.prepare(rows))
      .localCheckpoint()
    var pinned = List(prep)
    try {
      // one job: a marker row per partition holding rows, then each
      // layer's probe keys, made distinct per partition on the executors
      val tagged = (prep.select(lit(-1), lit(0L)) +:
          layers.zipWithIndex.map { case (l, i) =>
            val k = l.keys(prep)
            k.select(lit(i), col(k.columns.head).cast("long"))
          }).reduce(_.union(_))
      val found = distinctRows(tagged)(r => (r.getInt(0), r.getLong(1)))
      if (!found.exists(_._1 == -1)) return
      val flagged = layers.zipWithIndex.map { case (l, i) =>
        l.flagged(prep, found.collect { case (`i`, k) => k }) }
      // one checkpoint tags each row with the count of layers it passed
      // (the first layer's kills are never needed); each flagged set is
      // broadcast once and reused by every branch
      def passing(n: Int) = layers.zip(flagged).take(n).foldLeft(prep) {
        case (rows, (l, f)) => rows.join(broadcast(f), Seq(l.key), "left_anti") }
      val levels = (1 to layers.size).map { n =>
        val rows = passing(n)
        (if (n == layers.size) rows
         else rows.join(broadcast(flagged(n)), Seq(layers(n).key), "left_semi"))
          .withColumn("__passed", lit(n))
      }.reduce(_.union(_)).localCheckpoint()
      pinned ::= levels
      // passed(i): the rows no layer before i flagged
      val passed = (0 to layers.size).map(i =>
        if (i == 0) prep else levels.filter(col("__passed") >= i).drop("__passed"))
      out(passed.last.drop(prep.columns.diff(batch.columns): _*))
      val stages = commit.freshStages(fs, epoch)
      val after = layers.indices.map(i =>
        layers(i).stage(passed(i + 1), stages(i), epoch))
      commit.commitEpoch(fs, epoch)
      after.foreach(_())
    } finally pinned.foreach(graft.SessionMemo.unpersistLeaves)
  }

  /** The distinct values `f` takes on `df`'s rows, in one job: each
    * partition collects its own distinct set (bounded by the values'
    * range), the driver merges them. */
  private def distinctRows[T: ClassTag](df: DataFrame)(f: Row => T): Set[T] =
    df.rdd.mapPartitions(rows => rows.map(f).toSet.iterator).collect().toSet

  /** The distinct values of `df`'s one long column, in one job. */
  private[operators] def distinctLongs(df: DataFrame): Set[Long] =
    distinctRows(df)(_.getLong(0))

  /** A sink over `layers` on `commit`: a replayed epoch whose marker exists
    * only heals. */
  def sink(commit: EpochLog.Commit, layers: Seq[ScreenLayer])
          (out: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, epoch: Long) => {
      val fs = new Path(commit.dir)
        .getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
      if (commit.committed(fs, epoch)) commit.heal(fs)
      else run(fs, commit, layers, batch, epoch)(out)
    }
}
