package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

/** The whole-table swap every store's compaction and [[Takedown]] publish
  * through: the live `<dir>/<sub>` moves aside to `<dir>/.<sub>_precompact`,
  * the rewrite renames in, the aside is deleted. A crash between the two
  * renames leaves the table missing and its aside intact; [[heal]], run by
  * the stores' reads, mounts and maintenance entry points, restores it, so
  * no reader ever sees a silently empty table. Single-writer: run between
  * epochs of a live sink. */
private[operators] object TableSwap {

  def aside(dir: String, sub: String): Path = new Path(s"$dir/.${sub}_precompact")

  /** Restore a table a crashed swap left aside; a no-op otherwise. */
  def heal(fs: FileSystem, dir: String, sub: String): Unit = {
    val root = new Path(s"$dir/$sub")
    val prev = aside(dir, sub)
    if (!fs.exists(root) && fs.exists(prev))
      require(fs.rename(prev, root), s"TableSwap: cannot heal $prev")
  }

  /** Swap `next` in as `<dir>/<sub>`. A leftover aside is cleared first: a
    * completed swap that crashed before deleting it leaves the table AND
    * the aside, the aside is disposable, and renaming onto it would fail or
    * nest. The live table (if any) moves aside, `next` renames in — on
    * failure the aside moves back — and the aside is deleted. */
  def swapIn(fs: FileSystem, dir: String, sub: String, next: Path): Unit = {
    val root = new Path(s"$dir/$sub")
    val prev = aside(dir, sub)
    fs.delete(prev, true)
    if (fs.exists(root))
      require(fs.rename(root, prev), s"TableSwap: cannot move $root aside")
    if (!fs.rename(next, root)) {
      fs.rename(prev, root)
      throw new IllegalStateException(s"TableSwap: cannot publish $next")
    }
    fs.delete(prev, true)
  }

  /** Rewrite `<dir>/<sub>` whole: `write` fills `<dir>/.<sub>_compact.tmp`
    * (cleared first) while the live table still serves, then [[swapIn]]. */
  def rewrite(fs: FileSystem, dir: String, sub: String)
             (write: Path => Unit): Unit = {
    val tmp = new Path(s"$dir/.${sub}_compact.tmp")
    fs.delete(tmp, true)
    write(tmp)
    swapIn(fs, dir, sub, tmp)
  }
}
