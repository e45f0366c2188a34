package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** [[CheckpointFiles]] keeps the contract of Spark's default manager on a
  * local path: the same bytes and `.crc` sidecars, checksums verified on
  * read, an atomic no-clobber publish, and nothing left by a cancelled
  * write. Other file systems get Spark's default manager itself.
  */
class CheckpointFilesSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def dir(): Path = new Path(Files.createTempDirectory("ckpt_files").toUri)
  private def ours(d: Path): CheckpointFileManager = new CheckpointFiles(d, conf)
  private def sparks(d: Path): CheckpointFileManager = CheckpointFileManager.create(d, conf)

  // longer than two 512-byte checksum chunks, so the last chunk is short
  private val bytes = Array.tabulate[Byte](1300)(i => (i * 31 + 7).toByte)

  private def write(fm: CheckpointFileManager, p: Path, b: Array[Byte] = bytes): Unit = {
    val out = fm.createAtomic(p, false)
    out.write(b)
    out.close()
  }
  private def read(fm: CheckpointFileManager, p: Path): Array[Byte] = {
    val in = fm.open(p)
    try in.readAllBytes() finally in.close()
  }
  private def local(p: Path) = Paths.get(p.toUri)
  private def crcOf(p: Path) = local(new Path(p.getParent, s".${p.getName}.crc"))

  test("bytes round-trip, with a .crc sidecar identical to the default manager's") {
    val d = dir()
    val (a, b) = (new Path(d, "a"), new Path(d, "b"))
    write(ours(d), a)
    write(sparks(d), b)
    assert(read(ours(d), a).sameElements(bytes))
    assert(Files.readAllBytes(crcOf(a)).sameElements(Files.readAllBytes(crcOf(b))))
    assert(Files.size(crcOf(a)) == 8 + 4 * 3)
    val empty = new Path(d, "empty")
    write(ours(d), empty, Array.emptyByteArray)
    assert(read(sparks(d), empty).isEmpty)
    assert(Files.size(crcOf(empty)) == 8)
  }

  test("each manager reads what the other wrote") {
    val d = dir()
    val (a, b) = (new Path(d, "0"), new Path(d, "1"))
    write(ours(d), a)
    write(sparks(d), b)
    assert(read(sparks(d), a).sameElements(bytes))
    assert(read(ours(d), b).sameElements(bytes))
  }

  test("a corrupted byte fails the checksum, whichever manager wrote the file") {
    val d = dir()
    val corrupt = bytes.clone()
    corrupt(700) = (corrupt(700) ^ 1).toByte
    val lfs = new LocalFileSystem()
    lfs.initialize(java.net.URI.create("file:///"), conf)
    for ((writer, name) <- Seq(ours(d) -> "ours", sparks(d) -> "sparks")) {
      val p = new Path(d, name)
      write(writer, p)
      Files.write(local(p), corrupt)
      intercept[ChecksumException](read(ours(d), p))
      intercept[ChecksumException](lfs.open(p).readAllBytes())
    }
  }

  test("a no-clobber publish over an existing file fails and keeps the file") {
    val d = dir()
    val p = new Path(d, "0")
    write(ours(d), p)
    intercept[FileAlreadyExistsException](write(ours(d), p, Array[Byte](1, 2, 3)))
    assert(read(ours(d), p).sameElements(bytes))
  }

  test("a cancelled write leaves neither the file nor its .crc") {
    val d = dir()
    val out = ours(d).createAtomic(new Path(d, "0"), false)
    out.write(bytes)
    out.cancel()
    assert(Files.list(local(d)).count() == 0)
  }

  test("directories are created, and the checkpoint directory is qualified") {
    val d = dir()
    val nested = new Path(d, "offsets/x")
    ours(d).mkdirs(nested)
    assert(Files.isDirectory(local(nested)))
    val fresh = new Path(d, "fresh")
    val made = ours(fresh).createCheckpointDirectory()
    assert(made.toUri.getScheme == "file" && Files.isDirectory(local(made)))
  }

  test("a path outside the local file system gets Spark's default manager") {
    val other = new Configuration(conf)
    other.set("fs.ckpttest.impl", classOf[RawLocalFileSystem].getName)
    other.setBoolean("fs.ckpttest.impl.disable.cache", true)
    val p = new Path("ckpttest:///ckpt")
    val withKey = new Configuration(other)
    withKey.set(CheckpointFiles.ConfKey, classOf[CheckpointFiles].getName)
    val fm = CheckpointFileManager.create(p, withKey)
    assert(fm.isInstanceOf[CheckpointFiles])
    val delegate = fm.asInstanceOf[CheckpointFiles].delegate
    assert(delegate.getClass == CheckpointFileManager.create(p, other).getClass)
    assert(delegate.getClass.getPackage.getName.startsWith("org.apache.spark"))
    assert(ours(dir()).asInstanceOf[CheckpointFiles].delegate.getClass != delegate.getClass)
  }
}
