package perfbench

import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with call counters, installed as `fs.file.impl`
  * for the traced run only; every call behaves as in LocalFileSystem.
  * Hadoop's statistics count bytes on the local filesystem but not
  * operations, so the traced run counts them here: opens, listings and
  * status lookups are reads; creates, appends, renames, deletes and
  * mkdirs are writes. Calls the filesystem makes on itself (a create's
  * parent mkdirs) count too.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.{reads, writes}

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    reads.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet(); super.append(f, bufferSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingLocalFileSystem {
  val reads = new AtomicLong()
  val writes = new AtomicLong()
}
