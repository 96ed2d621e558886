package graftbench

import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `file://` as Hadoop's LocalFileSystem, plus the operation counts its raw
  * layer never records. Hadoop keeps read/write/list-op counters in
  * FileSystem.Statistics, but RawLocalFileSystem only adds bytes, so on a
  * local lake every op count reads 0. The harness's `conf/core-site.xml`
  * maps `fs.file.impl` here; the program is unchanged and the counts land
  * in the same global storage statistics a cluster filesystem fills in.
  *
  * Not visible here: `LakeStorage.createExclusive` claims commit markers
  * through java.nio on `file://`, bypassing Hadoop; the harness counts
  * those files by listing the table directory. */
class CountingLocalFileSystem extends LocalFileSystem {
  /** The Statistics the raw local layer already adds bytes to. */
  @annotation.nowarn("cat=deprecation")
  private lazy val stats = FileSystem.getStatistics("file", classOf[RawLocalFileSystem])
  private def read(): Unit = stats.incrementReadOps(1)
  private def write(): Unit = stats.incrementWriteOps(1)
  private def list(): Unit = stats.incrementLargeReadOps(1)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { read(); super.open(f, bufferSize) }

  override def getFileStatus(f: Path): FileStatus = { read(); super.getFileStatus(f) }

  override def listStatus(f: Path): Array[FileStatus] = { list(); super.listStatus(f) }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    write(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = { write(); super.mkdirs(f, permission) }

  override def delete(f: Path, recursive: Boolean): Boolean = { write(); super.delete(f, recursive) }

  override def rename(src: Path, dst: Path): Boolean = { write(); super.rename(src, dst) }
}
