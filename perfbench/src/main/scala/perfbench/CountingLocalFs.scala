package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with a counter on every metadata and data call that
  * reaches it through Hadoop. Installed as `fs.file.impl` in traced runs
  * only. Writes the lake makes through java.nio never reach it; the lake
  * tree diff in [[LakeTree]] covers those. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  override def listStatus(f: Path): Array[FileStatus] = {
    listStatusCalls.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    getFileStatusCalls.incrementAndGet(); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    openCalls.incrementAndGet()
    if (isManifest(f)) manifestsRead.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    createCalls.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    renameCalls.incrementAndGet()
    val ok = super.rename(src, dst)
    if (ok && isManifest(dst)) commits.incrementAndGet()
    ok
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    deleteCalls.incrementAndGet(); super.delete(f, recursive)
  }
}

object CountingLocalFs {
  val listStatusCalls = new AtomicLong
  val getFileStatusCalls = new AtomicLong
  val openCalls = new AtomicLong
  val manifestsRead = new AtomicLong
  val createCalls = new AtomicLong
  val renameCalls = new AtomicLong
  val deleteCalls = new AtomicLong
  val commits = new AtomicLong

  private def isManifest(p: Path): Boolean =
    p.getParent != null && p.getParent.getName == "_manifests" &&
      p.getName.startsWith("manifest-")

  def snapshot(): Map[String, Long] = Map(
    "sources.list_status" -> listStatusCalls.get,
    "sources.get_file_status" -> getFileStatusCalls.get,
    "sources.open" -> openCalls.get,
    "sources.manifests_read" -> manifestsRead.get,
    "sources.create" -> createCalls.get,
    "sources.rename" -> renameCalls.get,
    "sources.delete" -> deleteCalls.get,
    "sources.commits" -> commits.get)
}
