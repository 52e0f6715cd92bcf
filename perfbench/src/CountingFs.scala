package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataOutputStream, Path, LocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The traced run's local filesystem: the engine's own
  * `NioLocalFileSystem` behaviour, plus counters of the calls that reach
  * the raw local filesystem. Hadoop's statistics count bytes for the
  * `file` scheme but no operations, so a traced run swaps this in.
  */
class CountingLocalFileSystem extends LocalFileSystem(new CountingRawLocalFileSystem)

object CountingFs {
  val reads = new AtomicLong
  val writes = new AtomicLong
  val created = new AtomicLong
  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** A create of a path not created before in this JVM. */
  def create(p: Path): Unit = {
    writes.incrementAndGet()
    if (seen.add(p.toUri.getPath)) created.incrementAndGet()
  }
}

class CountingRawLocalFileSystem extends graft.sources.NioRawLocalFileSystem {
  import CountingFs._
  override def open(f: Path, bufferSize: Int) = {
    reads.incrementAndGet(); super.open(f, bufferSize) }
  override def listStatus(f: Path) = { reads.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path) = {
    reads.incrementAndGet(); super.getFileStatus(f) }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CountingFs.create(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CountingFs.create(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  overwrite: Boolean, bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    CountingFs.create(f)
    super.createNonRecursive(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(p, recursive) }
  override def mkdirs(f: Path): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f) }
}
