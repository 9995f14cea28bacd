package graft.icelite

import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` FileSystem with fork-free permission handling.
  *
  * Hadoop's RawLocalFileSystem applies permissions through libhadoop's
  * native chmod when present and otherwise FORKS a `chmod` process per
  * call (Shell.execCommand). This environment ships no libhadoop, and
  * every `FileSystem.mkdirs` / `create` / rename-with-perms on the local
  * FS goes through setPermission — driver stack sampling during the
  * icelite bench showed ~9% of main-thread samples inside
  * ProcessImpl.forkAndExec under RawLocalFileSystem.setPermission, paid
  * again by every executor write task (guide §1.1: find where the time
  * actually goes; §1.2 step 2: per-task work). The override applies the
  * same 9-bit mode via java.nio setPosixFilePermissions — a syscall, not
  * a fork. Sticky/setuid bits (never used by Spark's committers or
  * IceLite's layout) are not expressible via PosixFilePermission and are
  * dropped, exactly as documented here.
  *
  * Wired up as `spark.hadoop.fs.file.impl` in [[graft.Engine]], so every
  * engine session (mains, tools and the test suites) runs it. It is a
  * LOCAL-FS concern; HDFS/object-store deployments never load the
  * `file://` scheme for data paths, so nothing about this setting is tuned
  * to the benchmark's scale. Checksum behavior is
  * IDENTICAL to the stock LocalFileSystem (this wraps the same
  * ChecksumFileSystem layer; only the raw layer's permission syscall
  * changed), so .crc sidecars and read verification stay as before.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** Pre-fill owner/group/permission via one java.nio readAttributes
    * syscall: the stock statuses load them LAZILY by forking `ls -ld`
    * per file (DeprecatedRawLocalFileStatus.loadPermissionInfo), and
    * anything that builds LocatedFileStatus — FileSystem.listFiles,
    * Spark's InMemoryFileIndex and committers — forces that load, so
    * listing 81 files paid 81 forks inside one driver gap. A file
    * racing deletion between the two reads keeps the stock lazy status. */
  private def filled(st: org.apache.hadoop.fs.FileStatus): org.apache.hadoop.fs.FileStatus = {
    val f = nioPath(st.getPath)
    try {
      val attrs = java.nio.file.Files.readAttributes(
        f, classOf[java.nio.file.attribute.PosixFileAttributes])
      new org.apache.hadoop.fs.FileStatus(st.getLen, st.isDirectory,
        st.getReplication, st.getBlockSize, st.getModificationTime,
        st.getAccessTime, NioLocalFs.fsPermission(attrs.permissions),
        attrs.owner.getName, attrs.group.getName, st.getPath)
    } catch { case scala.util.control.NonFatal(_) => st }
  }

  /** `p` as a java.nio path. A name the JVM's file-name charset
    * (`sun.jnu.encoding`, from the locale it started under) cannot
    * represent fails here, naming the path and the charset. */
  private def nioPath(p: Path): java.nio.file.Path =
    try pathToFile(p).toPath
    catch {
      case e: java.nio.file.InvalidPathException =>
        throw new java.io.IOException(
          s"local path $p cannot be represented in the JVM's file-name encoding " +
            s"sun.jnu.encoding=${System.getProperty("sun.jnu.encoding")}; " +
            "start the JVM under a UTF-8 locale (e.g. LC_ALL=C.UTF-8)", e)
    }

  // the name is checked before the disk is touched: java.io.File would
  // otherwise create it with each unrepresentable character replaced by
  // `?` and only the permission step after it would fail
  override def mkdirs(p: Path): Boolean = { nioPath(p); super.mkdirs(p) }

  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    nioPath(p); super.mkdirs(p, permission)
  }

  override protected def createOutputStreamWithMode(p: Path, append: Boolean,
      permission: FsPermission): java.io.OutputStream = {
    nioPath(p); super.createOutputStreamWithMode(p, append, permission)
  }

  override def getFileStatus(p: Path): org.apache.hadoop.fs.FileStatus =
    filled(super.getFileStatus(p))

  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(p).map(filled)

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = nioPath(p)
    try java.nio.file.Files.setPosixFilePermissions(
      f, NioLocalFs.posixPerms(permission))
    catch {
      case _: java.nio.file.NoSuchFileException =>
        throw new java.io.FileNotFoundException(p.toString)
      case _: UnsupportedOperationException =>
        // non-POSIX store (never on Linux): fall back to the fork path
        super.setPermission(p, permission)
    }
  }
}

class NioLocalFs extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFs {
  private val order = Seq(
    OWNER_READ, OWNER_WRITE, OWNER_EXECUTE,
    GROUP_READ, GROUP_WRITE, GROUP_EXECUTE,
    OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)

  private[icelite] def fsPermission(
      perms: java.util.Set[PosixFilePermission]): FsPermission = {
    var bits = 0
    order.zipWithIndex.foreach { case (perm, i) =>
      if (perms.contains(perm)) bits |= (1 << (8 - i))
    }
    new FsPermission(bits.toShort)
  }

  private[icelite] def posixPerms(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val bits = p.toShort.toInt
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    order.zipWithIndex.foreach { case (perm, i) =>
      if ((bits & (1 << (8 - i))) != 0) out.add(perm)
    }
    out
  }
}
