package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one crash protocol for replacing a directory of files with a
  * freshly written sibling (`FileStream.streamingUpsert`'s bucket swap,
  * `IoOps.compactParquet`). A swap parks the live directory at its hidden
  * backup `.<name>.old`, then moves the new one in; the backup is kept
  * until the next swap of the same directory. A crash between the two
  * renames leaves the data only at the backup, so every reader of a
  * swapped tree first calls [[restoreParked]].
  *
  * Hadoop FileSystem throughout (not java.io.File) so the protocol works
  * on whatever store the tree lives on. Hadoop signals rename/delete
  * failure by RETURNING FALSE, so every step is checked and throws.
  * Backup names are dot-prefixed: Spark and Hadoop listings skip hidden
  * names, so inside a partitioned tree a backup never parses as a
  * partition value. */
object DirSwap {
  private val Parked = raw"\.(.+)\.old".r

  /** The hidden sibling a swap parks `dir` at. */
  private def backup(dir: Path): Path = new Path(dir.getParent, s".${dir.getName}.old")

  /** Moves `dir`'s backup back to `dir` when a crash left it parked
    * with no live directory. */
  def restore(fs: FileSystem, dir: Path): Unit =
    if (!fs.exists(dir) && fs.exists(backup(dir)))
      require(fs.rename(backup(dir), dir), s"cannot restore ${backup(dir)}")

  /** [[restore]] for every parked directory under `parent`. */
  def restoreParked(fs: FileSystem, parent: Path): Unit =
    fs.listStatus(parent).filter(_.isDirectory).map(_.getPath.getName).foreach {
      case Parked(live) => restore(fs, new Path(parent, live))
      case _ =>
    }

  /** Replaces `dir` by `next`: parks the live directory, if any, at
    * `backup(dir)` (clearing the previous swap's backup), then moves
    * `next` to `dir`. Old data is never deleted before new data is in
    * place, and a backup with no live directory is never cleared. */
  def swap(fs: FileSystem, dir: Path, next: Path): Unit = {
    val bak = backup(dir)
    if (fs.exists(dir)) {
      if (fs.exists(bak)) require(fs.delete(bak, true), s"cannot clear $bak")
      require(fs.rename(dir, bak), s"cannot park $dir at $bak")
    }
    require(fs.rename(next, dir), s"cannot move $next to $dir — original preserved at $bak")
  }
}
