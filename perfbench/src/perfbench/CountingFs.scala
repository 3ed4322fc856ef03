package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, LocalFileSystem, Path}

/** The local file system with a counter of metadata and open calls: every
  * listing, status lookup and file open the engine makes against the
  * `file:` scheme. Installed as `fs.file.impl` for the benchmark's session;
  * it only counts and delegates. */
class CountingFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.readOps.incrementAndGet(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.readOps.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    CountingFs.readOps.incrementAndGet(); super.getFileStatus(f)
  }
}

object CountingFs {
  val readOps = new AtomicLong()
}
