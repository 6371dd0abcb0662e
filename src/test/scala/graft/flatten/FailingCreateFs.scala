package graft.flatten

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test filesystem (`failcreate://`) over the local one whose creation of
  * data part files fails while [[FailingCreateFs.armed]]: a write job
  * through it fails in its tasks, after whatever the writer did before
  * the job ran. Armed is a process-global because Hadoop instantiates
  * filesystems reflectively and caches them per scheme.
  */
class FailingCreateFs extends RawLocalFileSystem {
  override def getScheme: String = "failcreate"
  override def getUri: URI = URI.create("failcreate:///")

  private def check(f: Path): Unit =
    if (FailingCreateFs.armed && f.getName.startsWith("part-"))
      throw new IOException(s"injected: create $f")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object FailingCreateFs {
  @volatile var armed = false
}
