package graft.ops

import java.io.FileNotFoundException
import java.nio.file.{FileVisitResult, Files, Path => JPath, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}

/** Filesystem helpers shared by the store machinery.
  *
  * [[copyTree]] exists because Hadoop's LocalFileSystem pays a
  * fork+exec'd permission shell per CREATED FILE when the native
  * libhadoop is absent (this container): `FileUtil.copy` of a
  * 137-file / 143 KB store measured 2.3–6.7 s (tools/LateCopyProbe at 8a861d8),
  * ~20–50 ms per kilobyte-sized file — pure process-spawn overhead.
  * On the `file` scheme the copy goes through java.nio instead (raw
  * byte-identical tree, checksum sidecars included, ~ms for the same
  * store); any other scheme keeps `FileUtil.copy`'s semantics
  * unchanged (the HDFS deployment path).
  */
object FsUtil {

  /** Value for `spark.hadoop.fs.file.impl` in the session builders
    * (Bench/Verify/Dev/PlanCheck, the test base, the profiling tools):
    * [[NioLocalFileSystem]] — the `file`-scheme filesystem whose
    * `setPermission` is java.nio instead of a forked `chmod` shell
    * (~8 ms per created file with libhadoop absent; see the class doc).
    */
  def localFsImpl: String = classOf[NioLocalFileSystem].getName

  /** Copy the directory tree (or single file) at `src` to the
    * NONEXISTENT path `dst` — the `FileUtil.copy` case where the
    * destination is absent, so `dst` itself becomes the clone of
    * `src`. Callers that may hand an existing destination keep
    * `FileUtil.copy` directly.
    */
  def copyTree(fs: FileSystem, src: Path, dst: Path,
               conf: Configuration): Boolean = {
    if (fs.getScheme == "file") {
      val from = Paths.get(fs.makeQualified(src).toUri.getPath)
      val to = Paths.get(fs.makeQualified(dst).toUri.getPath)
      require(!Files.exists(to),
        s"copyTree: destination already exists: $to")
      Files.createDirectories(to.getParent)
      Files.walkFileTree(from, new SimpleFileVisitor[JPath] {
        override def preVisitDirectory(dir: JPath,
                                       attrs: BasicFileAttributes)
            : FileVisitResult = {
          Files.createDirectories(to.resolve(from.relativize(dir)))
          FileVisitResult.CONTINUE
        }
        override def visitFile(f: JPath, attrs: BasicFileAttributes)
            : FileVisitResult = {
          Files.copy(f, to.resolve(from.relativize(f)))
          FileVisitResult.CONTINUE
        }
      })
      true
    } else FileUtil.copy(fs, src, fs, dst, false, conf)
  }

  /** Create-or-truncate `p` with `bytes` — `fs.create(p, true)` +
    * write + close semantics. On the `file` scheme the write goes
    * through java.nio: `fs.create` pays the same fork+exec'd
    * permission shell as the copies above (~8 ms per call, measured —
    * tools/LateCopyProbe at 8a861d8 FSOP table), which the sidecar/ledger writers
    * pay on every commit. A stale checksum sidecar from an earlier
    * Hadoop-path write is deleted so a later checksummed open can
    * never verify the new bytes against the old CRC.
    */
  def writeBytes(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    if (fs.getScheme == "file") {
      val jp = Paths.get(fs.makeQualified(p).toUri.getPath)
      if (jp.getParent != null) Files.createDirectories(jp.getParent)
      Files.write(jp, bytes)
      Files.deleteIfExists(
        jp.resolveSibling("." + jp.getFileName.toString + ".crc"))
    } else {
      val out = fs.create(p, true)
      try out.write(bytes) finally out.close()
    }
  }

  /** The UTF-8 text of the file at `p`, or `None` when there is none: one
    * open, no existence probe (the sidecar readers run on every store and
    * flow entry). `readAllBytes` loops to EOF, so a short first read
    * cannot truncate a record.
    */
  def readString(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } catch { case _: FileNotFoundException => None }
}
