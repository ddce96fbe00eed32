package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path}

/** A local filesystem whose `rename` always returns false, as a remote
  * store does when the destination already exists or the move fails —
  * for testing the publish-by-rename paths' refusal handling. */
final class RefusingRenameFileSystem extends LocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean = false
}

object RefusingRenameFileSystem {
  /** A fresh configuration that serves `file:` paths through this
    * filesystem, uncached, so no other user of `file:` sees it. */
  def conf(): Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[RefusingRenameFileSystem].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }
}
