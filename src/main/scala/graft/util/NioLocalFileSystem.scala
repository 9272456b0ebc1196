package graft.util

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}
import java.nio.file.{Files, LinkOption, NoSuchFileException}

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** A fork-free local filesystem for streaming checkpoints and sinks,
  * registered under the `nio://` scheme.
  *
  * Stock Spark ships no libhadoop native library, so Hadoop's
  * `RawLocalFileSystem` falls back to SUBPROCESSES for metadata ops:
  * `setPermission` shells out `chmod` (Shell.execCommand) and
  * `getFileStatus`/`listStatus` fork `stat` per path (hadoop Stat class).
  * Harmless per call — catastrophic multiplied by streaming state stores:
  * q_stream_join (32 partitions × 4 join state stores) measured ~6,500
  * fork+execs PER micro-batch through this path, q_stream_sessions
  * ~2,000 (a stack profile caught `RawLocalFileSystem.setPermission →
  * Shell → ProcessBuilder` on the executor hot path). Forking a
  * many-GB-RSS JVM costs ~0.5–2 ms and degrades further under host
  * memory pressure — which is exactly why the two corpus-keyed
  * streaming faces amplified in post-Verify driver-session windows (the
  * r16 verdict item-2 mechanism).
  *
  * This subclass keeps RawLocalFileSystem's data paths (streams, rename,
  * delete — none of which fork) and replaces the forking metadata ops
  * with java.nio calls: `Files.setPosixFilePermissions` and
  * `Files.readAttributes(PosixFileAttributes)` — plain syscalls, zero
  * subprocesses. No checksum wrapper, so no .crc side files (state
  * stores and sink parquet carry their own integrity checks).
  *
  * Scale note: on a real cluster, checkpoints live on HDFS/S3 where none
  * of this forking exists — this class restores local-mode fidelity to
  * that shape rather than optimizing anything a 100 TB deployment would
  * see. Registered via `spark.hadoop.fs.nio.impl`; Spark's
  * CheckpointFileManager finds no AbstractFileSystem for the scheme and
  * falls back to the FileSystem-based manager over this class, which is
  * the intended path.
  */
class NioLocalFileSystem extends RawLocalFileSystem {

  override def getUri: URI = NioLocalFileSystem.NAME

  private def nioPath(p: Path) = pathToFile(p).toPath

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val perms = new java.util.HashSet[PosixFilePermission]()
    val m = permission.toShort.toInt
    import PosixFilePermission._
    if ((m & 0x100) != 0) perms.add(OWNER_READ)
    if ((m & 0x080) != 0) perms.add(OWNER_WRITE)
    if ((m & 0x040) != 0) perms.add(OWNER_EXECUTE)
    if ((m & 0x020) != 0) perms.add(GROUP_READ)
    if ((m & 0x010) != 0) perms.add(GROUP_WRITE)
    if ((m & 0x008) != 0) perms.add(GROUP_EXECUTE)
    if ((m & 0x004) != 0) perms.add(OTHERS_READ)
    if ((m & 0x002) != 0) perms.add(OTHERS_WRITE)
    if ((m & 0x001) != 0) perms.add(OTHERS_EXECUTE)
    try Files.setPosixFilePermissions(nioPath(p), perms)
    catch { case _: NoSuchFileException => throw new FileNotFoundException(p.toString) }
  }

  private def modeOf(perms: java.util.Set[PosixFilePermission]): Short = {
    import PosixFilePermission._
    var m = 0
    if (perms.contains(OWNER_READ)) m |= 0x100
    if (perms.contains(OWNER_WRITE)) m |= 0x080
    if (perms.contains(OWNER_EXECUTE)) m |= 0x040
    if (perms.contains(GROUP_READ)) m |= 0x020
    if (perms.contains(GROUP_WRITE)) m |= 0x010
    if (perms.contains(GROUP_EXECUTE)) m |= 0x008
    if (perms.contains(OTHERS_READ)) m |= 0x004
    if (perms.contains(OTHERS_WRITE)) m |= 0x002
    if (perms.contains(OTHERS_EXECUTE)) m |= 0x001
    m.toShort
  }

  /** One readAttributes syscall — replaces the inherited Stat/Shell fork. */
  private def statusOf(qualified: Path): FileStatus = {
    val attrs =
      try Files.readAttributes(nioPath(qualified), classOf[PosixFileAttributes],
        LinkOption.NOFOLLOW_LINKS)
      catch {
        case _: NoSuchFileException => throw new FileNotFoundException(
          s"File $qualified does not exist")
      }
    // symlinks: resolve through to the target like the dereferencing
    // stock path does (checkpoint trees contain none; completeness only)
    val resolved =
      if (attrs.isSymbolicLink)
        try Files.readAttributes(nioPath(qualified), classOf[PosixFileAttributes])
        catch {
          case _: NoSuchFileException => throw new FileNotFoundException(
            s"File $qualified does not exist")
        }
      else attrs
    new FileStatus(resolved.size(), resolved.isDirectory, 1,
      getDefaultBlockSize(qualified), resolved.lastModifiedTime().toMillis,
      resolved.lastAccessTime().toMillis,
      new FsPermission(modeOf(resolved.permissions())),
      resolved.owner().getName, resolved.group().getName, null, qualified)
  }

  override def getFileStatus(f: Path): FileStatus =
    statusOf(f.makeQualified(getUri, getWorkingDirectory))

  override def listStatus(f: Path): Array[FileStatus] = {
    val qualified = f.makeQualified(getUri, getWorkingDirectory)
    val dir = nioPath(qualified)
    if (!Files.exists(dir, LinkOption.NOFOLLOW_LINKS))
      throw new FileNotFoundException(s"File $f does not exist")
    if (!Files.isDirectory(dir)) Array(statusOf(qualified))
    else {
      val out = Array.newBuilder[FileStatus]
      val stream = Files.newDirectoryStream(dir)
      try {
        stream.forEach { child =>
          out += statusOf(new Path(qualified, child.getFileName.toString))
        }
      } finally stream.close()
      out.result()
    }
  }
}

object NioLocalFileSystem {
  val SCHEME = "nio"
  val NAME: URI = URI.create(s"$SCHEME:///")

  /** Hadoop-conf registration pair for SparkSession builders:
    * `.config(NioLocalFileSystem.CONF_KEY, NioLocalFileSystem.CONF_VALUE)`.
    */
  val CONF_KEY = s"spark.hadoop.fs.$SCHEME.impl"
  val CONF_VALUE: String = classOf[NioLocalFileSystem].getName

  /** `nio://`-scheme spelling of a local filesystem path. */
  def uriOf(absolutePath: String): String = s"$SCHEME://$absolutePath"
}
