package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `file:` filesystem that counts what the engine writes, installed
  * only in traced runs (`spark.hadoop.fs.file.impl`). It is the local
  * filesystem unchanged, plus three counters:
  *
  *  - commits: staged metadata publishes — every manifest, version
  *    pointer, claim and lease is written to a dot-named `*tmp*` file
  *    and then published atomically, so one such create is one commit
  *    attempt of the table format;
  *  - data files: parquet part files, with their byte sizes (measured
  *    at close, so small-file share is exact).
  */
class CountingLocalFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val inner = super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
    val name = f.getName
    if (name.startsWith(".") && name.contains("tmp")) {
      IoCounters.commits.incrementAndGet(); inner
    } else if (name.startsWith("part-")) {
      new FSDataOutputStream(inner, null) {
        override def close(): Unit = {
          val n = inner.getPos
          super.close()
          IoCounters.recordFile(n)
        }
      }
    } else inner
  }
}

object IoCounters {
  /** A data file under this size counts as small. */
  val SmallFileBytes: Long = 128L * 1024

  val commits = new AtomicLong
  val files = new AtomicLong
  val bytes = new AtomicLong
  val smallFiles = new AtomicLong

  def recordFile(n: Long): Unit = {
    files.incrementAndGet(); bytes.addAndGet(n)
    if (n < SmallFileBytes) smallFiles.incrementAndGet()
  }

  final case class Snap(commits: Long, files: Long, bytes: Long,
                        small: Long) {
    def -(o: Snap): Snap =
      Snap(commits - o.commits, files - o.files, bytes - o.bytes,
        small - o.small)
  }

  def snap(): Snap = Snap(commits.get, files.get, bytes.get, smallFiles.get)
}
