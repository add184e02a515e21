package perfbench

import java.io.{FilterOutputStream, OutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, PathFilter}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Adds every byte written through it to `fs.bytes_written`. */
private final class CountingStream(out: OutputStream) extends FilterOutputStream(out) {
  override def write(b: Int): Unit = { out.write(b); Counters.add("fs.bytes_written", 1) }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    out.write(b, off, len)
    Counters.add("fs.bytes_written", len)
  }
}

/** The engine's local file system with counters at its public entry
  * points: file creates, renames, deletes, directory listings and bytes
  * written. A create of a `_tx/manifest-v*` file is a TxTable commit and is
  * also counted as `tx.commits`. Bound as `fs.file.impl` in the traced run
  * only. */
class CountingFileSystem extends graft.NioLocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    Counters.add("fs.creates", 1)
    if (f.getParent != null && f.getParent.getName == "_tx" &&
        f.getName.startsWith("manifest-v")) Counters.add("tx.commits", 1)
    val out = super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    new FSDataOutputStream(new CountingStream(out), null)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    Counters.add("fs.renames", 1)
    val manifest = dst.getParent != null && dst.getParent.getName == "_tx" &&
      dst.getName.startsWith("manifest-v")
    if (manifest) Counters.add("tx.commits", 1)
    val ok = super.rename(src, dst)
    if (manifest) CountingFileSystem.lastManifestNs = System.nanoTime()
    ok
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    Counters.add("fs.deletes", 1)
    super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    Counters.add("fs.list_calls", 1)
    super.listStatus(f)
  }
}

object CountingFileSystem {
  /** When the latest TxTable manifest was published by rename. */
  @volatile var lastManifestNs = 0L
}

/** The engine's streaming checkpoint manager with the same counters:
  * offset/commit log and state-store files are creates, listings are
  * list calls. Bound as the checkpoint manager in the traced run only. */
class CountingCheckpointFileManager(path: Path, conf: Configuration)
    extends graft.streaming.LocalCheckpointFileManager(path, conf) {
  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    Counters.add("fs.creates", 1)
    Counters.add("fs.renames", 1) // the atomic create publishes by rename
    super.createAtomic(p, overwriteIfPossible)
  }
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
    Counters.add("fs.list_calls", 1)
    super.list(p, filter)
  }
  override def delete(p: Path): Unit = {
    Counters.add("fs.deletes", 1)
    super.delete(p)
  }
}
