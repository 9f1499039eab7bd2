package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with a counter of metadata and open/create
  * calls. Hadoop's own statistics count bytes for `file:` but no
  * operations, so the traced run installs this class as `fs.file.impl`
  * to report `fs.meta_ops`. The untraced run never loads it. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.ops
  override def getFileStatus(f: Path): FileStatus = { ops.incrementAndGet(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { ops.incrementAndGet(); super.listStatus(f) }
  override def mkdirs(f: Path, p: FsPermission): Boolean = { ops.incrementAndGet(); super.mkdirs(f, p) }
  override def rename(s: Path, d: Path): Boolean = { ops.incrementAndGet(); super.rename(s, d) }
  override def delete(f: Path, r: Boolean): Boolean = { ops.incrementAndGet(); super.delete(f, r) }
  override def open(f: Path, b: Int): FSDataInputStream = { ops.incrementAndGet(); super.open(f, b) }
  override def create(f: Path, p: FsPermission, o: Boolean, b: Int, r: Short, s: Long,
      pr: Progressable): FSDataOutputStream = {
    ops.incrementAndGet(); super.create(f, p, o, b, r, s, pr)
  }
}

object CountingLocalFileSystem {
  val ops = new AtomicLong(0L)
}
