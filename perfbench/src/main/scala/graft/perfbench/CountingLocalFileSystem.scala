package graft.perfbench

import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local FileSystem with operation and written-byte counters. Traced runs install it
  * for `file:` so storage operations are counted where they happen: the
  * catalog's manifests and sidecars on the driver, data files in tasks
  * (local mode runs both in this JVM). */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.increment(); super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    creates.increment()
    val out = super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    new FSDataOutputStream(new java.io.FilterOutputStream(out) {
      override def write(b: Int): Unit = { out.write(b); bytesWritten.increment() }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); bytesWritten.add(len.toLong)
      }
    }, null)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.increment(); super.listStatus(f)
  }
}

object CountingLocalFileSystem {
  val opens, creates, lists, bytesWritten = new LongAdder
}
