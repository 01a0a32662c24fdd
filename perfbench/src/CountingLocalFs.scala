package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  FileSystem, LocalFileSystem, LocatedFileStatus, Path, RawLocalFileSystem,
  RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Operation counters of the local filesystem, fed by [[CountingLocalFs]].
  * Bytes come from Hadoop's own `FileSystem.Statistics` of the raw local
  * filesystem, which every thread (driver and tasks) adds to and which
  * sees the physical bytes, checksum files included.
  */
object FsCounters {
  val opens = new AtomicLong
  val creates = new AtomicLong
  val mutations = new AtomicLong // delete, rename, mkdirs
  val lists = new AtomicLong
  val listedFiles = new AtomicLong

  def snapshot(): Map[String, Long] = {
    val st = FileSystem.getStatistics("file", classOf[RawLocalFileSystem])
    Map(
      "read_ops" -> opens.get,
      "write_ops" -> (creates.get + mutations.get),
      "creates" -> creates.get,
      "list_ops" -> lists.get,
      "listed_files" -> listedFiles.get,
      "bytes_read" -> st.getBytesRead,
      "bytes_written" -> st.getBytesWritten)
  }
}

/** `LocalFileSystem` that counts the calls the sync path makes. Installed
  * as `fs.file.impl` in traced runs only (through a `core-site.xml` the
  * benchmark puts first on the classpath), so the program itself is
  * unchanged and untraced runs use Hadoop's own class.
  */
class CountingLocalFs extends LocalFileSystem {
  import FsCounters._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    mutations.incrementAndGet()
    super.delete(f, recursive)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    mutations.incrementAndGet()
    super.rename(src, dst)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mutations.incrementAndGet()
    super.mkdirs(f, permission)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet()
    val out = super.listStatus(f)
    listedFiles.addAndGet(out.count(_.isFile).toLong)
    out
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet()
    val it = super.listLocatedStatus(f)
    new RemoteIterator[LocatedFileStatus] {
      def hasNext: Boolean = it.hasNext
      def next(): LocatedFileStatus = {
        val st = it.next()
        if (st.isFile) listedFiles.incrementAndGet()
        st
      }
    }
  }
}
