package graftbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting the operations issued to it. The local
  * filesystem leaves Hadoop's per-scheme operation counters at zero, so a
  * traced run installs this class for the `file` scheme
  * (`spark.hadoop.fs.file.impl`) to count listings, status calls, creates,
  * opens, renames, deletes and mkdirs. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem.ops
  override def listStatus(f: Path): Array[FileStatus] = { ops.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { ops.incrementAndGet(); super.getFileStatus(f) }
  override def rename(src: Path, dst: Path): Boolean = { ops.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { ops.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path, p: FsPermission): Boolean = { ops.incrementAndGet(); super.mkdirs(f, p) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { ops.incrementAndGet(); super.open(f, bufferSize) }
  override def create(f: Path, p: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    ops.incrementAndGet()
    super.create(f, p, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingFileSystem {
  val ops = new AtomicLong()
}
