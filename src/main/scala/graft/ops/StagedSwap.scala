package graft.ops

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The crash-safe replace, for whole directories and for small records.
  * Every rename in the engine goes through [[rename]].
  *
  * DIRECTORY SWAP. Replaces a live directory with a complete copy:
  *
  *   1. the caller writes the copy to the staged path (idempotent
  *      overwrite);
  *   2. rename live → aside (skipped when there is no live dir yet);
  *   3. rename staged → live;
  *   4. delete the aside.
  *
  * The caller names the stages ([[Stages]]): `<path>.tmp`/`<path>.aside`
  * by default, `__staging`/`__zcompact` and `__old` for the summaries and
  * Z-ordered layouts, `.compact_cell=N` and `.compact_old_cell=N` for an
  * IVF cell. The owner runs [[heal]] on entry (every store entry, every
  * maintain or compact call), and it never loses the directory:
  *   - live dir present: the swap finished or never started; a stale
  *     aside and a leftover staged copy are dropped;
  *   - live dir gone, aside present: the crash fell between steps 2 and
  *     3. The staged copy is complete (the live dir goes aside only after
  *     it was written), so it is promoted; with no staged copy the aside
  *     is the only complete copy left and is restored;
  *   - neither: a staged copy is a torn first write (nothing was ever
  *     live) and is dropped.
  *
  * RECORD. A small file (a ledger, a sidecar) replaced by [[writeRecord]]:
  * `<file>.tmp` written in full, the live record deleted, the tmp renamed
  * in. [[readRecord]] heals the delete → rename window: a tmp left without
  * a live record is promoted if it parses and dropped if it does not; a
  * live record that does not parse is refused.
  *
  * SINGLE WRITER. A concurrent heal would delete an in-flight staged copy;
  * callers serialize their writers.
  */
private[graft] object StagedSwap {

  /** One swap's three paths: the live dir, its complete staged copy and
    * the aside the live dir moves to while the copy goes in.
    */
  final case class Stages(live: Path, staged: Path, aside: Path)

  object Stages {
    /** The default names: `<path>.tmp` and `<path>.aside`. */
    def apply(path: String): Stages =
      Stages(new Path(path), new Path(tmp(path)), new Path(path + ".aside"))
  }

  /** The default staged path of `path`. */
  def tmp(path: String): String = path + ".tmp"

  /** Steps 2-4 with the default names, after the caller wrote `tmp(path)`
    * in full.
    */
  def promote(fs: FileSystem, path: String): Unit = promote(fs, Stages(path))

  /** Steps 2-4, after the caller wrote `s.staged` in full. */
  def promote(fs: FileSystem, s: Stages): Unit = {
    fs.delete(s.aside, true)
    if (fs.exists(s.live)) rename(fs, s.live, s.aside)
    rename(fs, s.staged, s.live)
    fs.delete(s.aside, true)
  }

  /** [[heal]] with the default names; returns the directory's file system. */
  def heal(spark: SparkSession, path: String): FileSystem = {
    val s = Stages(path)
    val fs = s.live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    heal(fs, s)
    fs
  }

  /** Heal a swap a crash tore (see the object doc). */
  def heal(fs: FileSystem, s: Stages): Unit =
    if (fs.exists(s.live)) {
      fs.delete(s.aside, true)
      fs.delete(s.staged, true)
    } else if (fs.exists(s.aside)) {
      if (fs.exists(s.staged)) {
        rename(fs, s.staged, s.live)
        fs.delete(s.aside, true)
      } else rename(fs, s.aside, s.live)
    } else fs.delete(s.staged, true)

  /** Replace the record at `live` with `body` (see the object doc). */
  def writeRecord(fs: FileSystem, live: Path, body: String): Unit = {
    val staged = recordTmp(live)
    FsUtil.writeBytes(fs, staged, body.getBytes("UTF-8"))
    if (!fs.delete(live, false) && fs.exists(live))
      throw new IOException(s"record delete failed: $live")
    rename(fs, staged, live)
  }

  /** The record at `live` through `parse`, healing a torn [[writeRecord]]
    * first (see the object doc); `None` when there is no record. A live
    * record costs one open.
    */
  def readRecord[T](fs: FileSystem, live: Path)(
      parse: String => Option[T]): Option[T] =
    FsUtil.readString(fs, live) match {
      case Some(body) => Some(parse(body).getOrElse(
        throw new IOException(s"corrupt record $live: $body")))
      case None =>
        val staged = recordTmp(live)
        val got = FsUtil.readString(fs, staged).flatMap(parse)
        if (got.isDefined) rename(fs, staged, live)
        else fs.delete(staged, false)
        got
    }

  private def recordTmp(live: Path): Path =
    new Path(live.getParent, live.getName + ".tmp")

  /** `FileSystem.rename` signals failure by returning false on several
    * implementations (HDFS semantics), not by throwing; an unchecked
    * rename would let a swap go on to delete the aside with the directory
    * left in the aside state. Throwing stops the swap at a point [[heal]]
    * recovers from.
    */
  def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new IOException(s"rename $src -> $dst returned false")
}
