package graft.icelite

import java.io.{ByteArrayOutputStream, FileNotFoundException, IOException}
import java.net.URI
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A complete in-memory Hadoop `FileSystem` under the `ram://` scheme —
  * the NON-LOCAL filesystem the object-store tests mount a whole table on.
  * Unlike [[ObjectStoreCommitStore]] (which doubles only the commit
  * control plane), registering this under `fs.ram.impl` routes EVERY
  * plane through a store that is not the driver's local disk: Spark's
  * parquet data writes/reads, avro manifest chunks, DV containers, the
  * version files, and the Iceberg export/interop artifacts. Any code path
  * still spelling `java.io.File` fails loudly here with a missing file —
  * which is exactly the defect class this double exists to catch.
  *
  * Semantics model an object store with atomic create-if-absent: `create
  * (overwrite = false)` reserves the key atomically (`putIfAbsent`, the
  * S3 conditional-PUT shape), content becomes visible at close as one
  * blob. Blobs live in a JVM-wide static map, so `local[32]` executor
  * threads and driver share the store like cluster nodes share S3. */
object RamFs {
  /** key -> (bytes, mtime). Keys are scheme-less absolute paths. */
  val files = new ConcurrentHashMap[String, (Array[Byte], Long)]()
  val dirs: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  dirs.add("/")

  /** Every rename, as `source -> destination` keys, in call order. */
  val renames = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def clear(): Unit = { files.clear(); dirs.clear(); dirs.add("/"); renames.clear(); () }

  /** Register the scheme on a Hadoop conf (idempotent). */
  def install(conf: Configuration): Unit = {
    conf.set("fs.ram.impl", classOf[RamFileSystem].getName)
    conf.set("fs.AbstractFileSystem.ram.impl", classOf[RamAbstractFs].getName)
  }
}

final class RamFileSystem extends FileSystem {
  private var myUri: URI = URI.create("ram:///")

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    myUri = URI.create(
      name.getScheme + "://" + Option(name.getAuthority).getOrElse(""))
  }

  override def getScheme: String = "ram"
  override def getUri: URI = myUri

  private def key(p: Path): String = {
    val s = makeQualified(p).toUri.getPath
    if (s.length > 1 && s.endsWith("/")) s.dropRight(1) else if (s.isEmpty) "/" else s
  }

  private def parentKey(k: String): String = {
    val i = k.lastIndexOf('/')
    if (i <= 0) "/" else k.substring(0, i)
  }

  private def addDirs(k: String): Unit = {
    var d = k
    while (d != "/" && !RamFs.dirs.contains(d)) { RamFs.dirs.add(d); d = parentKey(d) }
  }

  private def qualify(k: String): Path =
    new Path(myUri.toString + k)

  // ---- read ----------------------------------------------------------

  private final class RamInput(data: Array[Byte]) extends java.io.InputStream
      with Seekable with PositionedReadable {
    private var pos = 0
    override def read(): Int =
      if (pos >= data.length) -1 else { val b = data(pos) & 0xff; pos += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0
      else if (pos >= data.length) -1
      else { val n = math.min(len, data.length - pos); System.arraycopy(data, pos, b, off, n); pos += n; n }
    override def skip(n: Long): Long = {
      val s = math.max(0L, math.min(n, (data.length - pos).toLong)); pos += s.toInt; s
    }
    override def available(): Int = data.length - pos
    override def seek(p: Long): Unit = {
      if (p < 0 || p > data.length) throw new java.io.EOFException(s"seek $p of ${data.length}")
      pos = p.toInt
    }
    override def getPos: Long = pos.toLong
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(position: Long, buffer: Array[Byte], offset: Int, length: Int): Int =
      if (position >= data.length) -1
      else { val n = math.min(length, data.length - position.toInt); System.arraycopy(data, position.toInt, buffer, offset, n); n }
    override def readFully(position: Long, buffer: Array[Byte], offset: Int, length: Int): Unit = {
      var got = 0
      while (got < length) {
        val n = read(position + got, buffer, offset + got, length - got)
        if (n < 0) throw new java.io.EOFException(s"readFully past end at $position+$length")
        got += n
      }
    }
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val v = RamFs.files.get(key(f))
    if (v == null) throw new FileNotFoundException(f.toString)
    new FSDataInputStream(new RamInput(v._1))
  }

  // ---- write ---------------------------------------------------------

  private final class RamOutput(k: String) extends ByteArrayOutputStream {
    override def close(): Unit = {
      super.close()
      RamFs.files.put(k, (toByteArray, System.currentTimeMillis()))
      ()
    }
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val k = key(f)
    if (RamFs.dirs.contains(k)) throw new IOException(s"is a directory: $f")
    if (!overwrite &&
        RamFs.files.putIfAbsent(k, (Array.emptyByteArray, System.currentTimeMillis())) != null)
      throw new FileAlreadyExistsException(f.toString)
    addDirs(parentKey(k))
    new FSDataOutputStream(new RamOutput(k), statistics)
  }

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("ram:// append")

  // ---- namespace -----------------------------------------------------

  override def rename(src: Path, dst: Path): Boolean = {
    val ks = key(src)
    var kd = key(dst)
    RamFs.renames.add(s"$ks -> $kd")
    if (ks == kd) return RamFs.files.containsKey(ks) || RamFs.dirs.contains(ks)
    if (RamFs.dirs.contains(kd)) kd = kd + "/" + src.getName // move INTO dir
    if (RamFs.files.containsKey(ks)) {
      val v = RamFs.files.remove(ks)
      if (v == null) return false
      addDirs(parentKey(kd))
      RamFs.files.put(kd, v)
      true
    } else if (RamFs.dirs.contains(ks)) {
      val prefix = ks + "/"
      addDirs(parentKey(kd))
      RamFs.dirs.asScala.toList.foreach { d =>
        if (d == ks || d.startsWith(prefix)) {
          RamFs.dirs.remove(d); RamFs.dirs.add(kd + d.stripPrefix(ks))
        }
      }
      RamFs.files.keySet().asScala.toList.foreach { fk =>
        if (fk.startsWith(prefix)) {
          val v = RamFs.files.remove(fk)
          if (v != null) RamFs.files.put(kd + fk.stripPrefix(ks), v)
        }
      }
      true
    } else false
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    val k = key(f)
    if (RamFs.files.containsKey(k)) { RamFs.files.remove(k); true }
    else if (RamFs.dirs.contains(k)) {
      val prefix = k + "/"
      val childFiles = RamFs.files.keySet().asScala.exists(_.startsWith(prefix))
      val childDirs = RamFs.dirs.asScala.exists(_.startsWith(prefix))
      if (!recursive && (childFiles || childDirs))
        throw new IOException(s"directory not empty: $f")
      RamFs.files.keySet().asScala.toList.foreach(fk =>
        if (fk.startsWith(prefix)) RamFs.files.remove(fk))
      RamFs.dirs.asScala.toList.foreach(d =>
        if (d == k || d.startsWith(prefix)) RamFs.dirs.remove(d))
      true
    } else false
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val k = key(f)
    if (RamFs.files.containsKey(k)) return Array(getFileStatus(f))
    if (!RamFs.dirs.contains(k)) throw new FileNotFoundException(f.toString)
    val prefix = if (k == "/") "/" else k + "/"
    def directChild(c: String): Boolean =
      c.startsWith(prefix) && !c.substring(prefix.length).contains('/') &&
        c.length > prefix.length
    val fileKids = RamFs.files.entrySet().asScala.toList.collect {
      case e if directChild(e.getKey) =>
        new FileStatus(e.getValue._1.length.toLong, false, 1, 33554432L,
          e.getValue._2, qualify(e.getKey))
    }
    val dirKids = RamFs.dirs.asScala.toList.collect {
      case d if directChild(d) =>
        new FileStatus(0L, true, 1, 33554432L, 0L, qualify(d))
    }
    (fileKids ++ dirKids).sortBy(_.getPath.getName).toArray
  }

  override def getFileStatus(f: Path): FileStatus = {
    val k = key(f)
    val v = RamFs.files.get(k)
    if (v != null)
      new FileStatus(v._1.length.toLong, false, 1, 33554432L, v._2, qualify(k))
    else if (RamFs.dirs.contains(k))
      new FileStatus(0L, true, 1, 33554432L, 0L, qualify(k))
    else throw new FileNotFoundException(f.toString)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    val k = key(f)
    if (RamFs.files.containsKey(k)) throw new IOException(s"file exists: $f")
    addDirs(k)
    true
  }

  private var workDir: Path = new Path("ram:///")
  override def setWorkingDirectory(d: Path): Unit = { workDir = d }
  override def getWorkingDirectory: Path = workDir
}

/** FileContext binding for `ram://` (HadoopCommitStore.replace uses
  * FileContext rename on non-local schemes). */
final class RamAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RamFileSystem, conf, "ram", false)
