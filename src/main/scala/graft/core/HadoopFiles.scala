package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}

private[graft] object HadoopFiles {

  /** Read a whole file into memory. Fails with an `IOException` naming
    * the file when its length does not fit one array: truncating the
    * length to an `Int` would silently read only a prefix of it. */
  def readAll(fs: FileSystem, p: Path): Array[Byte] = {
    val len = fs.getFileStatus(p).getLen
    if (len > Int.MaxValue - 8)
      throw new java.io.IOException(
        s"$p is $len bytes, more than one in-memory read can hold")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    buf
  }
}
