package graft.sources

import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** The local disk under the `refuserename` scheme, with a `rename` that
  * returns false: the HDFS-style failure signal that a caller must check.
  * Registered through `META-INF/services` (a writer that builds its own
  * Hadoop `Configuration` sees no session conf).
  */
class RenameRefusingFs extends RawLocalFileSystem {
  override def getScheme: String = "refuserename"
  override def getUri: URI = URI.create("refuserename:///")
  override def rename(src: Path, dst: Path): Boolean = false
}
