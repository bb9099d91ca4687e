package perfbench

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem,
  LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Process-wide Hadoop filesystem operation counts, filled by
  * [[CountingFileSystem]] (installed in traced runs).
  * Bytes written come from Hadoop's own per-scheme statistics.
  */
object FsCounters {
  val reads = new AtomicLong  // open + getFileStatus
  val writes = new AtomicLong // create + rename + delete + mkdirs
  val lists = new AtomicLong  // listStatus / listLocatedStatus

  final case class Snap(reads: Long, writes: Long, lists: Long, bytesWritten: Long) {
    def -(o: Snap): Snap = Snap(reads - o.reads, writes - o.writes, lists - o.lists,
      bytesWritten - o.bytesWritten)
  }

  def snapshot(): Snap = {
    import scala.jdk.CollectionConverters._
    val bytes = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
    Snap(reads.get, writes.get, lists.get, bytes)
  }
}

object CountingFileSystem {
  private val Local = URI.create("file:///")

  /** Makes [[CountingFileSystem]] the instance every `file://` lookup
    * returns. Hadoop caches one filesystem per scheme and user, whatever
    * the configuration asked for, so setting `fs.file.impl` in the
    * session is not enough: the first lookup in the JVM decides. Call
    * before anything touches a local path.
    */
  def install(): Unit = {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[CountingFileSystem].getName)
    FileSystem.closeAll()
    FileSystem.get(Local, conf)
  }

  /** Whether the session's Hadoop configuration resolves `file://` to
    * the counting filesystem.
    */
  def inUse(spark: org.apache.spark.sql.SparkSession): Boolean =
    FileSystem.get(Local, spark.sparkContext.hadoopConfiguration).isInstanceOf[CountingFileSystem] &&
      FileSystem.get(Local, spark.sessionState.newHadoopConf()).isInstanceOf[CountingFileSystem]
}

/** The local filesystem with every metadata and stream-opening call
  * counted. Behaviour is unchanged: each override delegates to
  * [[LocalFileSystem]]. Writes graft makes through `java.nio` (the
  * local-disk manifest publish) bypass Hadoop and are not counted.
  */
class CountingFileSystem extends LocalFileSystem {
  import FsCounters._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
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
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet(); super.listLocatedStatus(f)
  }
}
