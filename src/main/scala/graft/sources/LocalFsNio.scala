package graft.sources

import java.io.{FileNotFoundException, IOException, OutputStream}
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{FileSystemException, StandardOpenOption}
import java.util.{EnumSet => JEnumSet, Locale}

import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FSDataOutputStream,
  Path, StreamCapabilities, Syncable}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.statistics.BufferedIOStatisticsOutputStream
import org.apache.hadoop.util.Progressable

/** Local filesystem whose `setPermission` goes through java.nio instead
  * of a forked `chmod`, and whose no-overwrite creates are atomic.
  *
  * Why: without libhadoop (NativeIO), Hadoop's RawLocalFileSystem
  * resolves EVERY permission set by forking a shell — and every local
  * file CREATE sets a permission (`LocalFSFileOutputStream` calls
  * `setPermission` from its constructor), so a commit writing N data
  * files + N checksum files + a manifest + a pointer pays ~2N+2 process
  * forks at ~5-10 ms each, on write-task threads and the driver alike
  * (measured by stack sampling, r20: ~0.1-0.4 s per lifecycle query).
  * `Files.setPosixFilePermissions` is the same syscall chain NativeIO
  * would use — microseconds, no fork — so this class emulates the
  * installed-libhadoop posture where the native library is absent. It
  * changes no semantics: the same mode bits land on disk; modes nio
  * cannot express (sticky/setuid/setgid) fall back to the inherited
  * shell path. Remote filesystems (HDFS/S3A) are untouched — this binds
  * to the `file://` scheme only (GraftSession sets `fs.file.impl`).
  *
  * Exclusive create: RawLocalFileSystem implements `create` with
  * overwrite off as `exists()` followed by a truncating open, so two
  * racing writers can both "create" the same file — and the manifest
  * commit (`ManifestTable.claim`) relies on exactly one of them winning.
  * Here every no-overwrite `create`/`createNonRecursive` opens the file
  * once with CREATE_NEW (O_EXCL): the loser gets
  * `FileAlreadyExistsException`, and the `exists()` probe is gone, so a
  * create costs no more syscalls than before. Parent creation, umask and
  * permission handling match the inherited path; overwriting creates are
  * untouched.
  */
class GraftRawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    if (overwrite) super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    else createNew(f, null, bufferSize, mkParents = true)

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    if (overwrite)
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    else createNew(f, permission, bufferSize, mkParents = true)

  // the inherited boolean variant also creates missing parents
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    if (overwrite)
      super.createNonRecursive(f, permission, overwrite, bufferSize, replication,
        blockSize, progress)
    else createNew(f, permission, bufferSize, mkParents = true)

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    if (flags.contains(CreateFlag.OVERWRITE))
      super.createNonRecursive(f, permission, flags, bufferSize, replication,
        blockSize, progress)
    else createNew(f, permission, bufferSize, mkParents = false)

  private def createNew(f: Path, permission: FsPermission, bufferSize: Int,
                        mkParents: Boolean): FSDataOutputStream = {
    val parent = f.getParent
    if (mkParents && parent != null && !mkdirs(parent))
      throw new IOException(s"Mkdirs failed to create $parent")
    val ch = try {
      FileChannel.open(pathToFile(f).toPath,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new FileAlreadyExistsException(s"File already exists: $f")
      // FileOutputStream's contract for every other open failure
      case e: FileSystemException =>
        throw new FileNotFoundException(e.getMessage).initCause(e)
    }
    val out = new ExclusiveFileOutputStream(ch)
    try {
      val mode = if (permission == null) FsPermission.getFileDefault else permission
      setPermission(f, mode.applyUMask(FsPermission.getUMask(getConf)))
    } catch { case t: Throwable => out.close(); throw t }
    new FSDataOutputStream(new BufferedIOStatisticsOutputStream(out, bufferSize, true),
      statistics)
  }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission == null) return
    val mode = permission.toShort.toInt
    // sticky/setuid/setgid bits are beyond PosixFilePermissions — keep
    // the (forking) shell path for those rare modes
    if ((mode & 0xE00) != 0) { super.setPermission(p, permission); return }
    try {
      java.nio.file.Files.setPosixFilePermissions(
        pathToFile(p).toPath, LocalFsNio.toNio(mode))
      ()
    } catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        // non-POSIX store or transient failure: the shell path is the
        // behavior contract, fall back rather than degrade differently
        super.setPermission(p, permission)
    }
  }
}

/** The stream of an exclusive create: a channel opened with CREATE_NEW,
  * with the local file stream's `hflush` (flush) and `hsync` (fsync).
  * Unlike that stream, a write error surfaces as the `IOException` itself
  * (`FSError` cannot be built outside Hadoop's package), no per-stream
  * IOStatistics are kept, and, as for any channel, an interrupt of the
  * writing thread fails the write and closes the file. */
private final class ExclusiveFileOutputStream(ch: FileChannel)
  extends OutputStream with Syncable with StreamCapabilities {
  private val out = Channels.newOutputStream(ch)
  override def write(b: Int): Unit = out.write(b)
  override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
  override def close(): Unit = out.close()
  override def hflush(): Unit = flush()
  override def hsync(): Unit = { flush(); ch.force(true) }
  override def hasCapability(capability: String): Boolean =
    capability.toLowerCase(Locale.ENGLISH) match {
      case StreamCapabilities.HFLUSH | StreamCapabilities.HSYNC => true
      case _ => false
    }
}

/** `LocalFileSystem` (the checksummed `file://` implementation) over
  * [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem
  extends org.apache.hadoop.fs.LocalFileSystem(new GraftRawLocalFileSystem)

private[sources] object LocalFsNio {
  import java.nio.file.attribute.PosixFilePermission
  import PosixFilePermission._

  private val bits: Seq[(Int, PosixFilePermission)] = Seq(
    0x100 -> OWNER_READ, 0x80 -> OWNER_WRITE, 0x40 -> OWNER_EXECUTE,
    0x20 -> GROUP_READ, 0x10 -> GROUP_WRITE, 0x8 -> GROUP_EXECUTE,
    0x4 -> OTHERS_READ, 0x2 -> OTHERS_WRITE, 0x1 -> OTHERS_EXECUTE)

  def toNio(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = JEnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (bit, p) => if ((mode & bit) != 0) s.add(p) }
    s
  }
}
