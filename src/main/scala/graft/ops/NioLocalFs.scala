package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission

/** [[org.apache.hadoop.fs.RawLocalFileSystem]] with `setPermission`
  * routed through java.nio instead of a forked `chmod` shell.
  *
  * With the native libhadoop absent (this container), Hadoop's raw
  * local filesystem forks a shell per `setPermission` call — and EVERY
  * `create`/`mkdirs` with a permission (i.e. every parquet part file,
  * checksum sidecar, and `_temporary` dir a Spark write task makes)
  * goes through it: ~8 ms per create, ~4 ms per mkdir, measured with
  * `tools/LateCopyProbe` at 8a861d8 (r20). `FsUtil` bypassed the DRIVER-side
  * copies and sidecar writes; this class removes the fork from the
  * TASK-side write path too (guide §6, VERDICT r20 "Next round" #5).
  *
  * java.nio `setPosixFilePermissions` expresses exactly the 9 rwx
  * bits; a permission carrying sticky/setuid/setgid bits (never used
  * by Spark's write path) falls back to the stock shell route, as does
  * a non-POSIX filesystem. Behavior is otherwise identical — same
  * bits set, same exceptions on missing paths (NoSuchFileException IS
  * an IOException, matching the shell route's failure class).
  */
class NioRawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      import java.nio.file.attribute.PosixFilePermission
      import java.nio.file.attribute.PosixFilePermission._
      // bit i of FsPermission.toShort, LSB first: others xwr, group
      // xwr, owner xwr — mirror it into the nio enum set
      val order: IndexedSeq[PosixFilePermission] = IndexedSeq(
        OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ,
        GROUP_EXECUTE, GROUP_WRITE, GROUP_READ,
        OWNER_EXECUTE, OWNER_WRITE, OWNER_READ)
      val set = new java.util.HashSet[PosixFilePermission]()
      var i = 0
      while (i < 9) {
        if ((bits & (1 << i)) != 0) set.add(order(i))
        i += 1
      }
      try java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, set)
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
    }
  }
}

/** `LocalFileSystem` over [[NioRawLocalFileSystem]] — register as the
  * `file` scheme with `spark.hadoop.fs.file.impl=graft.ops.NioLocalFileSystem`
  * (the session builders of Bench/Verify/Dev and the test base do).
  * Checksum semantics, URI handling, and the FileSystem cache behave
  * exactly as the stock class (this IS a `LocalFileSystem`, so
  * `instanceof` checks and `FileSystem.getLocal` keep working).
  */
class NioLocalFileSystem
  extends org.apache.hadoop.fs.LocalFileSystem(new NioRawLocalFileSystem)
