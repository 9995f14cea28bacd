package graft.icelite

import org.apache.hadoop.fs.{FileSystem, Path}

/** The commit control plane's storage contract — every atomicity
  * assumption the IceLite protocol makes, isolated in one small trait so
  * the substrate can be swapped (HDFS-semantics filesystems today, an
  * object store / catalog service at 100 TB).
  *
  * The protocol needs exactly two guarantees:
  *
  *  1. [[createExclusive]] is an atomic create-if-absent: exactly one of N
  *     concurrent writers of the same path succeeds, the rest throw
  *     `IOException`. This is the whole conflict detector — version file
  *     `vN.json` is claimed through it, so two commits can never both land
  *     on the same version.
  *  2. [[replace]] is atomic for READERS: a reader sees the old content or
  *     the new content, never a partial write or a missing file. Writers
  *     may race freely (last writer wins) — the hint file is advisory, and
  *     [[IceLite.swapHintForward]] re-validates forward motion before
  *     swapping; a lost hint write is re-derived from the version files.
  *
  * Neither guarantee requires atomic RENAME: the Hadoop implementation
  * uses tmp-file + rename because HDFS/local rename is atomic, but an S3
  * implementation would use conditional PUT (If-None-Match) for
  * [[createExclusive]] and a plain PUT (atomic per object) for
  * [[replace]] — which is why the contract is stated in these terms and
  * not as "rename". The commit protocol itself (claim exactly hint+1,
  * quarantine-aged orphan stepping, forward-only hint swap) is
  * substrate-independent above this line.
  */
trait CommitStore {
  /** Full content of `p`; throws if absent. */
  def readString(p: Path): String
  /** Atomic create-if-absent; throws `java.io.IOException` if `p` exists. */
  def createExclusive(p: Path, content: String): Unit
  /** Replace `p` with `content`; readers never observe a partial write. */
  def replace(p: Path, content: String): Unit
  def exists(p: Path): Boolean
  def modificationTime(p: Path): Long
  def delete(p: Path): Unit
}

/** HDFS-semantics implementation (local FS, HDFS): create-if-absent via
  * `create(overwrite = false)`, reader-atomic replace via tmp + rename. */
final class HadoopCommitStore(f: FileSystem) extends CommitStore {
  override def readString(p: Path): String = {
    val in = f.open(p)
    // UTF-8, as every writer encodes: the platform default would fail on
    // (or garble) non-ASCII string stats under a non-UTF-8 locale
    try scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8).mkString finally in.close()
  }
  // create(overwrite = false) is NOT atomic on the local filesystem — it
  // is an exists() check followed by an open, so two racing writers can
  // BOTH pass the check and interleave writes into the same version file:
  // a silent double-claim of one version (= a lost commit) plus corrupt
  // JSON. ConcurrencyStressSpec reproduces it in ~50 racing schedules.
  // posix O_CREAT|O_EXCL (nio CREATE_NEW) is the real create-if-absent;
  // HDFS-class filesystems keep f.create(false), which IS atomic there
  // (single-writer lease from the namenode).
  override def createExclusive(p: Path, content: String): Unit =
    if (f.getUri.getScheme == "file") {
      val target = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.createDirectories(target.getParent)
      try {
        java.nio.file.Files.write(target, content.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        ()
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(p.toString)
      }
    } else {
      val out = f.create(p, /* overwrite = */ false)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
  // The obvious FileSystem-API spelling — delete(p) then rename(tmp, p) —
  // leaves a window where p does not exist, and a reader racing the hint
  // swap throws FileNotFoundException; ConcurrencyStressSpec reproduces
  // this within ~50 randomized racing schedules. A true atomic replace
  // needs scheme-specific handling:
  //   - local fs: java.nio ATOMIC_MOVE (posix rename). The Hadoop local
  //     fs is additionally a ChecksumFileSystem, so any stale .crc
  //     sidecar must go or readers validate fresh content against an old
  //     checksum (nio-written files have no sidecar, so after the first
  //     replace there is none to race on);
  //   - HDFS-class schemes: FileContext.rename(OVERWRITE) is atomic
  //     there (unlike on RawLocalFs, where it degrades to delete+rename).
  private lazy val fc = org.apache.hadoop.fs.FileContext.getFileContext(f.getUri, f.getConf)
  override def replace(p: Path, content: String): Unit =
    if (f.getUri.getScheme == "file") {
      val target = java.nio.file.Paths.get(p.toUri.getPath)
      val crc = target.resolveSibling("." + p.getName + ".crc")
      val tmp = target.resolveSibling(s".${p.getName}.${java.util.UUID.randomUUID()}.tmp")
      java.nio.file.Files.createDirectories(target.getParent)
      java.nio.file.Files.write(tmp, content.getBytes("UTF-8"))
      java.nio.file.Files.deleteIfExists(crc)
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    } else {
      val tmp = new Path(p.getParent, s".${p.getName}.${java.util.UUID.randomUUID()}.tmp")
      val out = f.create(tmp, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  override def exists(p: Path): Boolean = f.exists(p)
  override def modificationTime(p: Path): Long = f.getFileStatus(p).getModificationTime
  override def delete(p: Path): Unit = { f.delete(p, false); () }
}
