package graft.sources

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** Test filesystem (`sidecarrename://`) over the local one whose rename
  * onto a vintage sidecar ([[EsJson.SchemaSidecar]]) fails while
  * [[SidecarRenameFs.armed]]: a sidecar write through it fails at its
  * publish, after the new sidecar was written under its temp name. Armed
  * is a process-global because Hadoop instantiates filesystems
  * reflectively and caches them per scheme.
  */
class SidecarRenameFs extends RawLocalFileSystem {
  override def getScheme: String = "sidecarrename"
  override def getUri: URI = URI.create("sidecarrename:///")

  override def rename(src: Path, dst: Path): Boolean =
    if (SidecarRenameFs.armed && dst.getName == EsJson.SchemaSidecar)
      throw new IOException(s"injected: rename $src -> $dst")
    else super.rename(src, dst)
}

object SidecarRenameFs {
  @volatile var armed = false
}
