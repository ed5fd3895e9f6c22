package graft.operators

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The engine's one epoch-commit protocol, plus the base + epoch log layout
  * of the stores the ingest door extends every trigger.
  *
  * Epoch protocol ([[EpochLog.Commit]]): every store sink stages its
  * epoch's rows under a dot-dir, creates the epoch's marker (the commit
  * point), publishes the stage into the store, then runs its post-commit
  * step. A replayed epoch whose marker exists only heals; a crash before
  * the marker discards the stage at the next heal (the epoch replays
  * whole); after it, the heal finishes the publish. Its ten callers:
  * [[FingerprintStore.dedupSink]], [[SignatureStore.appender]] and
  * `screenSink`, [[AnnIndex]]'s `screenEpoch` (serving
  * `semanticScreenSink` and `recenteringScreenSink`), `ivfAppender`,
  * `ivfPqAppender` and `recenteringPqAppender`, [[Bm25Store.appender]],
  * [[LmStore.appender]] and [[Pack.shardAppender]]. The whole-table swap
  * their compactions share is [[TableSwap]].
  *
  * Layout (the [[EpochLog]] instances: [[FingerprintStore]] `fps`,
  * [[SignatureStore]] `sigs` and `bands`, [[AnnIndex]] `lists`): each table
  * is a partitioned BASE, `<table>/<part>=K/` (written by seed or build,
  * fold, compact and retract), plus a flat LOG, `<table>_log/`, holding ONE
  * parquet file per committed epoch whose rows carry their partition value
  * as a plain column. Why a log: an epoch's few dozen rows spread over a
  * few hundred partitions, and a partitioned append writes one file per
  * touched partition. On a local filesystem without native Hadoop IO every
  * created file and directory also forks a `chmod`
  * (`RawLocalFileSystem.setPermission` shells out), so the per-partition
  * append cost tracked the store's partition count, not the batch. One
  * file per table per epoch makes the append track the batch.
  *
  * Reads go through [[readHealed]] (or the audit's [[read]]): base ∪ log.
  * A static `part IN (...)` filter still prunes the base's partition dirs
  * and becomes a row-group filter on the log's few files.
  *
  * An epoch of these tables [[stage]]s one file per table, and its
  * publish renames that file into the table's log.
  *
  * Fold ([[fold]]): the log's rows are rewritten partitioned into a stage
  * (the per-partition write the old per-epoch append did, now once per
  * fold), `_fold_pending` commits naming the log files it covers, the
  * staged partition files publish into the base, and only then are the
  * named log files deleted. Readers run [[finishFold]] first, so a crash
  * between base publish and log removal never reads a row twice; it only
  * completes a committed fold and never touches an uncommitted stage,
  * which may be a live sink's fold in progress (the read-only probe runs
  * without the writer lock). Discarding an uncommitted stage is the
  * writer's job: [[healFold]], run by [[fold]] and at sink mount.
  *
  * A fold deletes the log files it moved into the base, so a reader
  * beside a live sink must run its plan within one fold window: a plan
  * listed before a fold and executed after it fails on a missing file
  * (retry it). */
private[operators] final class EpochLog(tables: Seq[EpochLog.Table]) {
  import EpochLog._

  private def table(name: String): Table = tables.find(_.name == name).get

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logFiles(fs: FileSystem, dir: String, name: String): Seq[Path] = {
    val d = logDir(dir, name)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).map(_.getPath).filter(isData).toSeq
  }

  /** True when the table holds a base dir or at least one log file. */
  def hasRows(fs: FileSystem, dir: String, name: String): Boolean =
    fs.exists(new Path(s"$dir/$name")) || logFiles(fs, dir, name).nonEmpty

  /** Base ∪ log as they lie on disk (no heal): zero rows for a table with
    * neither. Schema-supplied on both sides, so an emptied base or an
    * empty log dir reads as zero rows, never a schema-inference error. */
  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val t = table(name)
    val fs = fsOf(spark, dir)
    val base = new Path(s"$dir/$name")
    val log = logFiles(fs, dir, name)
    val parts =
      (if (fs.exists(base)) Seq(spark.read.schema(t.schema).parquet(base.toString))
       else Seq.empty) ++
      (if (log.nonEmpty)
        Seq(spark.read.schema(t.schema).parquet(logDir(dir, name).toString))
       else Seq.empty)
    parts.reduceOption(_.unionByName(_)).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], t.schema))
  }

  /** [[read]] for a reader beside the writer: heals a crashed compact's
    * aside of `name` and finishes a committed fold first, so it never sees
    * a silently empty table or a folded row twice. */
  def readHealed(spark: SparkSession, dir: String, name: String): DataFrame = {
    val fs = fsOf(spark, dir)
    TableSwap.heal(fs, dir, name)
    finishFold(fs, dir)
    read(spark, dir, name)
  }

  /** Write one epoch's rows of `name` as ONE parquet file under
    * `stage/name` (batch-sized input: one task). */
  def stage(rows: DataFrame, stage: Path, name: String): Unit =
    rows.coalesce(1).write.parquet(new Path(stage, name).toString)

  /** The tables as [[Commit]] publish targets: an epoch stage's flat
    * files go to the logs, a fold stage's partition dirs to the bases. */
  val subs: Seq[(String, String)] = tables.map(t => t.name -> t.partCol)

  /** Fold the log into the base: one partitioned write of every log row
    * (one file per touched partition), committed by `_fold_pending`, then
    * published and the folded log files removed. Heals every table's
    * compact aside first: a fold must never publish into a base a crashed
    * compact moved aside. Single-writer, between epochs — the store's
    * compaction contract. No-op on an empty log. */
  def fold(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    tables.foreach(t => TableSwap.heal(fs, dir, t.name))
    healFold(fs, dir)
    val logged = tables.map(t => t -> logFiles(fs, dir, t.name))
      .filter(_._2.nonEmpty)
    if (logged.isEmpty) return
    val stage = new Path(dir, FoldStage)
    logged.foreach { case (t, files) =>
      spark.read.schema(t.schema).parquet(files.map(_.toString): _*)
        .repartition(col(t.partCol))
        .write.partitionBy(t.partCol).parquet(new Path(stage, t.name).toString)
    }
    // the marker names every folded log file (relative to `dir`); written
    // aside and renamed, so a crash never leaves a half-written commit
    val names = logged.flatMap { case (t, files) =>
      files.map(f => s"${t.name}_log/${f.getName}") }
    val tmp = new Path(dir, s".$FoldMarker.tmp")
    val out = fs.create(tmp, true)
    try out.write(names.mkString("\n").getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, new Path(dir, FoldMarker)),
      s"EpochLog: cannot commit the fold of $dir")
    healFold(fs, dir)
  }

  /** Finish a committed fold: publish its staged partitions, delete the
    * log files its marker names, drop the marker. A no-op without the
    * marker — an uncommitted stage may be a live fold still writing, so it
    * is left alone. Safe beside another finisher (a reader and the sink):
    * every step tolerates the other having done it. One `exists` call on a
    * clean store. */
  def finishFold(fs: FileSystem, dir: String): Unit = {
    val marker = new Path(dir, FoldMarker)
    if (!fs.exists(marker)) return
    publish(fs, dir, new Path(dir, FoldStage), subs)
    val names =
      try {
        val in = fs.open(marker)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .map(_.trim).filter(_.nonEmpty).toList
        finally in.close()
      } catch { case _: FileNotFoundException => Nil } // finished beside us
    names.foreach(n => fs.delete(new Path(dir, n), false))
    fs.delete(marker, false)
  }

  /** Writer-side heal (fold start, sink mount — the single writer, between
    * epochs): finish a committed fold, then discard what is left of an
    * uncommitted one (a crash before its marker; the log still holds its
    * rows). */
  def healFold(fs: FileSystem, dir: String): Unit = {
    finishFold(fs, dir)
    fs.delete(new Path(dir, FoldStage), true)
  }

  /** Data files of `name` on disk: the base's partition files plus the
    * log's files. */
  def fileCount(fs: FileSystem, dir: String, name: String): Int = {
    val t = table(name)
    val base = new Path(s"$dir/$name")
    val baseFiles =
      if (!fs.exists(base)) 0
      else fs.listStatus(base)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"${t.partCol}="))
        .map(sd => fs.listStatus(sd.getPath).count(s => isData(s.getPath)))
        .sum
    baseFiles + logFiles(fs, dir, name).size
  }

  /** Base partition dirs of `name`. */
  def partitionDirCount(fs: FileSystem, dir: String, name: String): Int = {
    val t = table(name)
    val root = new Path(s"$dir/$name")
    if (!fs.exists(root)) 0
    else fs.listStatus(root).count(st =>
      st.isDirectory && st.getPath.getName.startsWith(s"${t.partCol}="))
  }
}

private[operators] object EpochLog {
  /** One logged table: its name under the store dir, its partition
    * column, and its fixed schema (partition column included). */
  final case class Table(name: String, partCol: String, schema: StructType)

  /** Fold commit marker and stage, fixed names (one fold at a time under
    * the single-writer contract); listed by [[Fsck.residue]]. */
  val FoldMarker = "_fold_pending"
  val FoldStage = ".fold_stage"

  private def logDir(dir: String, name: String): Path = new Path(s"$dir/${name}_log")

  private def isData(p: Path): Boolean = p.getName.endsWith(".parquet")

  /** `sub` under `root`; the empty name is `root` itself. */
  private def under(root: Path, sub: String): Path =
    if (sub.isEmpty) root else new Path(root, sub)

  private def list(fs: FileSystem, p: Path): Array[FileStatus] =
    try fs.listStatus(p) catch { case _: FileNotFoundException => Array.empty }

  /** Rename, or find it already renamed by a concurrent finisher. */
  private def move(fs: FileSystem, from: Path, to: Path): Unit =
    require(fs.rename(from, to) || (!fs.exists(from) && fs.exists(to)),
      s"EpochLog: cannot publish $from")

  private def isEpoch(s: String): Boolean = s.nonEmpty && s.forall(_.isDigit)

  /** True for an epoch stage's name, `.<kind>_stage_[<tag>_]<epoch>`: the
    * purely numeric epoch suffix is what [[Commit.heal]] matches on, and
    * what [[Fsck.residue]] lists. */
  def isEpochStage(name: String): Boolean =
    name.startsWith(".") && name.contains("_stage_") &&
      isEpoch(name.substring(name.lastIndexOf('_') + 1))

  /** Move a committed stage's files into the store, then drop the stage.
    * Per staged sub-table `(sub, partCol)`: `<partCol>=K/` dirs go to the
    * base partition `<dir>/<sub>/<partCol>=K/`, and flat data files (an
    * [[EpochLog]] epoch's one file per table) go to the table's log
    * `<dir>/<sub>_log/`. The empty `sub` is the stage and store root (the
    * packed-shard store's `shard=K/` dirs). Each `(staged, published)`
    * pair of `files` then moves as named. Idempotent: per-file atomic
    * renames, files already moved are simply absent on a re-sweep — or
    * vanish under a concurrent finisher of the same committed fold, which
    * is not an error either. */
  def publish(fs: FileSystem, dir: String, stage: Path,
              subs: Seq[(String, String)],
              files: Seq[(Path, Path)] = Nil): Unit = {
    if (!fs.exists(stage)) return
    subs.foreach { case (sub, partCol) =>
      list(fs, under(stage, sub)).foreach { st =>
        val p = st.getPath
        if (st.isDirectory && p.getName.startsWith(s"$partCol=")) {
          val dest = new Path(under(new Path(dir), sub), p.getName)
          fs.mkdirs(dest)
          list(fs, p).map(_.getPath).filter(isData)
            .foreach(f => move(fs, f, new Path(dest, f.getName)))
        } else if (isData(p)) {
          val dest = logDir(dir, sub)
          fs.mkdirs(dest)
          move(fs, p, new Path(dest, p.getName))
        }
      }
    }
    files.foreach { case (from, to) =>
      if (fs.exists(from)) {
        fs.mkdirs(to.getParent)
        move(fs, from, to)
      }
    }
    fs.delete(stage, true)
  }

  /** One sink's epoch namespace under `dir`: epoch `e` stages under
    * `<dir>/<stagePrefix><e>` and commits by creating
    * `<dir>/<markerPrefix><e>`. `subs` say where a committed stage
    * publishes ([[publish]]); each `(staged name, published prefix)` of
    * `files` moves one staged file to `<dir>/<published prefix><e>`. */
  final case class Commit(dir: String, stagePrefix: String,
                          markerPrefix: String, subs: Seq[(String, String)],
                          files: Seq[(String, String)] = Nil) {

    private def stage(epoch: Long): Path = new Path(s"$dir/$stagePrefix$epoch")

    private def marker(epoch: Long): Path = new Path(s"$dir/$markerPrefix$epoch")

    private def publishEpoch(fs: FileSystem, st: Path, epoch: Long): Unit =
      publish(fs, dir, st, subs, files.map { case (f, to) =>
        new Path(st, f) -> new Path(s"$dir/$to$epoch") })

    /** Crash-recovery sweep over this namespace's leftover stages: a stage
      * whose marker exists is committed — finish its publish; one without
      * a marker is a pre-commit orphan — discard it (its epoch replays
      * whole). Only purely-numeric epoch suffixes match, so a tag that
      * prefixes another tag can never claim (and destroy) the longer tag's
      * staging. */
    def heal(fs: FileSystem): Unit = {
      val root = new Path(dir)
      if (!fs.exists(root)) return
      fs.listStatus(root).map(_.getPath)
        .filter(_.getName.startsWith(stagePrefix)).foreach { st =>
          val e = st.getName.drop(stagePrefix.length)
          if (isEpoch(e)) {
            if (fs.exists(marker(e.toLong))) publishEpoch(fs, st, e.toLong)
            else fs.delete(st, true)
          }
        }
    }

    /** Run one epoch: a replay whose marker exists only heals; an empty
      * batch is skipped; otherwise any leftover stage is deleted, `write`
      * fills the stage, the marker is created holding `markerText`
      * (evaluated after `write`), the stage publishes, and `afterCommit`
      * gets `write`'s result — the between-epochs single-writer window. */
    def run[A](fs: FileSystem, batch: DataFrame, epoch: Long,
               markerText: => String = "")
              (write: Path => A)(afterCommit: A => Unit): Unit = {
      val m = marker(epoch)
      if (fs.exists(m)) heal(fs)
      else if (!batch.isEmpty) {
        val st = stage(epoch)
        fs.delete(st, true)
        val written = write(st)
        val out = fs.create(m, true)
        try out.write(markerText.getBytes("UTF-8")) finally out.close()
        publishEpoch(fs, st, epoch)
        afterCommit(written)
      }
    }
  }

  /** The standard namespace of sink kind `kind` on stream `tag`: stages
    * `.<kind>_stage_<tag>_<e>`, markers `_<kind>_<tag>_epoch_<e>`. */
  def commit(dir: String, kind: String, tag: String,
             subs: Seq[(String, String)],
             files: Seq[(String, String)] = Nil): Commit =
    Commit(dir, s".${kind}_stage_${tag}_", s"_${kind}_${tag}_epoch_", subs,
      files)
}
