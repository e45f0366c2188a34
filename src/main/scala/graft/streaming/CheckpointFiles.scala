package graft.streaming

import java.io.{BufferedOutputStream, DataOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.net.URI
import java.nio.file.Files
import java.util.zip.CRC32

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint file manager every graft session uses
  * (`Tables.sessionConfigs` registers it under [[CheckpointFiles.ConfKey]]).
  *
  * Without Hadoop's native IO library, the local file system runs `chmod` in
  * a child process for every file and directory it creates, and Spark's
  * default FileContext-based manager runs `readlink` on both ends of every
  * rename: 32 processes for one single-batch query. For a path on Hadoop's
  * `LocalFileSystem` this manager is Spark's `FileSystemBasedCheckpointFileManager`
  * with file and directory creation done in-process (the data through
  * `java.io`, plus the `.crc` sidecar `LocalFileSystem` verifies on read).
  * Rename, open, list, exists and delete stay Spark's and Hadoop's code, so
  * a no-clobber publish still fails with Hadoop's `FileAlreadyExistsException`
  * and a cancelled write still leaves no file. Any other file system gets
  * exactly Spark's default manager.
  *
  * The local manager works on a plain checksummed `LocalFileSystem` of its
  * own (the file system Spark's default manager reaches through FileContext's
  * `LocalFs`), not on the class registered for `file:`: hive-exec registers
  * a subclass whose rename never replaces an existing file.
  */
class CheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {

  private[streaming] val delegate: CheckpointFileManager =
    if (path.getFileSystem(conf).isInstanceOf[LocalFileSystem]) new CheckpointFiles.Local(path, conf)
    else {
      val default = new Configuration(conf)
      default.unset(CheckpointFiles.ConfKey)
      CheckpointFileManager.create(path, default)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object CheckpointFiles {

  /** Spark's setting that names the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's manager for `LocalFileSystem`, minus the `chmod` per created
    * file and directory.
    */
  private final class Local(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {

    private val local = {
      val l = new LocalFileSystem()
      l.initialize(URI.create("file:///"), conf)
      l
    }
    override protected val fs: FileSystem = local

    override def createTempFile(p: Path): FSDataOutputStream = {
      val file = local.pathToFile(p)
      Files.createDirectories(file.toPath.getParent)
      val out = new ChecksummedFile(file, local.pathToFile(local.getChecksumFile(p)), local.getBytesPerSum)
      new FSDataOutputStream(out, null)
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(local.pathToFile(p).toPath)

    override def createCheckpointDirectory(): Path = {
      val qualified = local.makeQualified(path)
      mkdirs(qualified)
      qualified
    }
  }

  /** Writes `file`, and its checksum file in the format `LocalFileSystem`
    * reads and verifies: `crc\0`, the bytes-per-checksum int, then one
    * big-endian CRC32 per chunk of that many bytes (the last may be short).
    */
  private final class ChecksummedFile(file: File, crcFile: File, bytesPerSum: Int) extends OutputStream {
    private val data = new BufferedOutputStream(new FileOutputStream(file))
    private val sums =
      try new DataOutputStream(new BufferedOutputStream(new FileOutputStream(crcFile)))
      catch { case e: Throwable => data.close(); throw e }
    sums.write("crc\u0000".getBytes(StandardCharsets.US_ASCII))
    sums.writeInt(bytesPerSum)

    private val crc = new CRC32
    private var inChunk = 0
    private var closed = false

    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      var at = off
      val end = off + len
      while (at < end) {
        val n = math.min(end - at, bytesPerSum - inChunk)
        crc.update(b, at, n)
        data.write(b, at, n)
        inChunk += n
        at += n
        if (inChunk == bytesPerSum) endChunk()
      }
    }

    private def endChunk(): Unit = {
      sums.writeInt(crc.getValue.toInt)
      crc.reset()
      inChunk = 0
    }

    override def flush(): Unit = data.flush()

    override def close(): Unit = if (!closed) {
      closed = true
      try {
        if (inChunk > 0) endChunk()
      } finally {
        try data.close() finally sums.close()
      }
    }
  }
}
