package org.apache.spark.sql.graftbridge

import java.io.{BufferedOutputStream, FileNotFoundException, OutputStream}
import java.nio.channels.FileChannel
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, FSInputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** [[CheckpointFileManager]] over plain `java.nio` for LOCAL
  * checkpoint directories — the replay harness's tmpfs checkpoints
  * (`TempDir`, /dev/shm).
  *
  * Why it exists (measured, OPTIMIZATION_r16.md §1): one small
  * create+write+rename through the default FileContext-based manager
  * costs ~37 ms on tmpfs (create ~9 ms, rename ~27 ms — the
  * no-native-hadoop builtin-java path), while the identical operation
  * through `java.nio` costs ~0.1 ms. Structured Streaming performs
  * 2 such writes per micro-batch on the WAL alone (offset log +
  * commit log) plus one per state-store partition commit, so the
  * Hadoop layer put a ~100-150 ms floor under EVERY micro-batch of
  * every replay entry — pure adapter overhead, not data.
  *
  * Durability: rename-based atomic publication, same protocol and
  * same temp-file naming (`.<name>.<uuid>.tmp`) as Spark's
  * FileContextBasedCheckpointFileManager on the same local
  * filesystem — crash-recovery semantics are unchanged (exercised by
  * StreamRecoverySpec/TwsRecoverySpec and the checkpoint-restart
  * entries). An `fsync` on tmpfs is a no-op; on a durable local disk
  * deployment the Hadoop conf key `graft.ckpt.forceSync=true` (a
  * session conf entry reaches it) restores channel force-on-close. A
  * NON-local checkpoint (hdfs://, s3a://) is refused at construction
  * — production deployments with remote checkpoints keep the default
  * manager (this class is wired per-session by the replay harness,
  * see StreamingQueries.streamSession).
  */
class NioCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private val forceSync = "true".equals(conf.get("graft.ckpt.forceSync"))

  {
    val scheme = path.toUri.getScheme
    require(scheme == null || scheme == "file",
      s"NioCheckpointFileManager handles only local file: paths, got $path")
  }

  private def nio(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  private def qualify(p: java.nio.file.Path): Path =
    new Path("file", null, p.toAbsolutePath.toString)

  override def createAtomic(
      p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val dst = nio(p)
    val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID()}.tmp")
    val ch = FileChannel.open(tmp,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    val raw: OutputStream = new BufferedOutputStream(
      java.nio.channels.Channels.newOutputStream(ch), 64 * 1024) {
      override def close(): Unit = {
        flush()
        if (forceSync) ch.force(true)
        super.close()
      }
    }
    new CancellableFSDataOutputStream(raw) {
      private var terminated = false
      override def close(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          raw.close()
          try {
            if (overwriteIfPossible) {
              Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
                StandardCopyOption.REPLACE_EXISTING)
            } else {
              Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
            }
          } catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              // the contract HDFSMetadataLog relies on for concurrent
              // writers: surface the Hadoop exception type
              Files.deleteIfExists(tmp)
              throw new FileAlreadyExistsException(
                s"rename destination $dst already exists")
          }
        }
      }
      override def cancel(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try raw.close() finally Files.deleteIfExists(tmp)
        }
      }
    }
  }

  /** Minimal seekable local input stream (FileChannel-backed). */
  private class NioFsInputStream(p: java.nio.file.Path) extends FSInputStream {
    private val ch = FileChannel.open(p, StandardOpenOption.READ)
    override def seek(pos: Long): Unit = ch.position(pos)
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(): Int = {
      val b = java.nio.ByteBuffer.allocate(1)
      if (ch.read(b) <= 0) -1 else b.get(0) & 0xff
    }
    override def read(buf: Array[Byte], off: Int, len: Int): Int =
      ch.read(java.nio.ByteBuffer.wrap(buf, off, len))
    override def read(pos: Long, buf: Array[Byte], off: Int, len: Int): Int =
      ch.read(java.nio.ByteBuffer.wrap(buf, off, len), pos)
    override def available(): Int =
      math.min(ch.size() - ch.position(), Int.MaxValue.toLong).toInt
    override def close(): Unit = ch.close()
  }

  override def open(p: Path): FSDataInputStream = {
    val f = nio(p)
    if (!Files.exists(f)) throw new FileNotFoundException(p.toString)
    new FSDataInputStream(
      new org.apache.hadoop.fs.BufferedFSInputStream(new NioFsInputStream(f), 16 * 1024))
  }

  private def status(f: java.nio.file.Path): FileStatus = {
    val attrs = Files.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes])
    new FileStatus(attrs.size(), attrs.isDirectory, 1, 33554432L,
      attrs.lastModifiedTime().toMillis, qualify(f))
  }

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
    val d = nio(p)
    if (!Files.exists(d)) throw new FileNotFoundException(p.toString)
    if (!Files.isDirectory(d)) {
      val st = status(d)
      return if (filter.accept(st.getPath)) Array(st) else Array.empty
    }
    val s = Files.list(d)
    try s.iterator().asScala
      .map(status)
      .filter(st => filter.accept(st.getPath))
      .toArray
    finally s.close()
  }

  override def mkdirs(p: Path): Unit = Files.createDirectories(nio(p))

  override def exists(p: Path): Boolean = Files.exists(nio(p))

  override def delete(p: Path): Unit = {
    val root = nio(p)
    try {
      if (Files.exists(root)) {
        val s = Files.walk(root)
        try s.iterator().asScala.toSeq.reverseIterator
          .foreach(f => Files.deleteIfExists(f))
        finally s.close()
      }
    } catch {
      case _: NoSuchFileException | _: FileNotFoundException => () // already gone
    }
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    val d = nio(path)
    Files.createDirectories(d)
    qualify(d)
  }
}
