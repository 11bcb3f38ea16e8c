package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ContentSummary, FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The local filesystem under the `count` scheme (`count:///tmp/t`), counting
  * each call a caller makes, by kind and by side: `driver` for calls outside
  * a Spark task, `task` for calls inside one. A call the filesystem makes
  * to itself (`exists` asks `getFileStatus`, `create` makes the parent) is
  * not counted again.
  *
  * It is not a `LocalFileSystem`, so [[KeyedTable.createEntry]] takes its
  * rename path here. Renaming onto an existing file fails, as on HDFS; the
  * raw local FS would replace the file.
  *
  * Register it with `fs.count.impl` on the session's Hadoop configuration
  * ([[CountingFileSystem.register]]).
  */
class CountingFileSystem extends RawLocalFileSystem {
  import CountingFileSystem.counted

  override def getUri: URI = URI.create(s"${CountingFileSystem.Scheme}:///")
  override def getScheme: String = CountingFileSystem.Scheme
  override def initialize(uri: URI, conf: Configuration): Unit = super.initialize(getUri, conf)

  override def exists(f: Path): Boolean = counted("exists")(super.exists(f))
  override def getFileStatus(f: Path): FileStatus = counted("getFileStatus")(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = counted("listStatus")(super.listStatus(f))
  override def getContentSummary(f: Path): ContentSummary =
    counted("getContentSummary")(super.getContentSummary(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream = counted("open")(super.open(f, bufferSize))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    counted("create")(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted("create")(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def mkdirs(f: Path): Boolean = counted("mkdirs")(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean = counted("mkdirs")(super.mkdirs(f, permission))
  override def delete(f: Path, recursive: Boolean): Boolean = counted("delete")(super.delete(f, recursive))
  override def rename(src: Path, dst: Path): Boolean = counted("rename") {
    if (super.exists(dst) && super.getFileStatus(dst).isFile) false else super.rename(src, dst)
  }
}

object CountingFileSystem {
  val Scheme = "count"

  private val calls = new ConcurrentHashMap[String, AtomicLong]()
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  private def counted[T](kind: String)(call: => T): T = {
    val d = depth.get
    if (d == 0) {
      val side = if (org.apache.spark.TaskContext.get() == null) "driver" else "task"
      calls.computeIfAbsent(s"$side.$kind", _ => new AtomicLong()).incrementAndGet()
    }
    depth.set(d + 1)
    try call finally depth.set(d)
  }

  def register(conf: Configuration): Unit = conf.set(s"fs.$Scheme.impl", classOf[CountingFileSystem].getName)

  /** A local dir as a `count:` path. */
  def path(localDir: String): String = s"$Scheme://$localDir"

  /** The calls `body` made, as "side.kind" → count. Counts every thread, so
    * nothing else may use the scheme meanwhile.
    */
  def callsOf[T](body: => T): (T, Map[String, Long]) = {
    calls.clear()
    val out = body
    (out, calls.asScala.map { case (k, n) => k -> n.get }.toMap)
  }
}
