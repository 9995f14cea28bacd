package graft.icelite

import java.nio.{ByteBuffer, ByteOrder}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import scala.jdk.CollectionConverters._

/** Puffin deletion-vector container (`.puffin`) — IceLite's one
  * deletion-vector carrier, byte-compatible with what the Apache Iceberg
  * V3 spec publishes (the reference teaches DVs at README.md:1098–1108:
  * delete info held in bitmap form, applied at read):
  *
  *  - Puffin file layout (Puffin spec): magic `PFA1`, concatenated blob
  *    payloads, then a footer of magic + JSON FooterPayload + payload
  *    size (i32 LE) + flags (i32 LE) + magic. The FooterPayload lists
  *    each blob's type / offset / length / properties.
  *  - Each data file's deleted positions are one blob of type
  *    `deletion-vector-v1` (Iceberg V3 spec): u32 BIG-endian combined
  *    length of (magic + vector), the 4 magic bytes D1 D3 39 64, the
  *    vector as a 64-bit "portable" roaring bitmap, and a u32 BIG-endian
  *    CRC-32 of magic + vector. The blob's `referenced-data-file` and
  *    `cardinality` ride in the footer properties.
  *  - Roaring portable serialization (RoaringBitmap format spec, all
  *    LITTLE-endian): u64 bucket count, then per 32-bit bucket a u32
  *    high-key + a 32-bit roaring bitmap — cookie 12346 (no run
  *    containers) + container count, or cookie low-16 = 12347 with the
  *    count in the high bits + a run-flag bitset; u16 key / u16
  *    cardinality-1 descriptive headers; a u32 offsets header (always
  *    present for cookie 12346, present past 4 containers otherwise);
  *    then array (u16 values), bitmap (1024 × u64) or run (u16 count +
  *    (start, length-1) u16 pairs) containers in key order.
  *
  * The WRITER emits a run container wherever that is smaller than the
  * array/bitmap form, as Iceberg's own DV writer does (it run-optimizes
  * its bitmap before serializing), so the contiguous ranges row-level DML
  * kills cost O(runs) on disk. The READER handles all three container
  * types. Reads return packed [start,len]* runs directly (the scan path's
  * native form — see [[DeleteIndex.runContains]]); positions are never
  * materialized.
  *
  * Resolution cost: one footer parse + one blob seek per (container, data
  * file); blob bytes are O(compressed bitmap), bounded per data file. */
object PuffinDv {
  val Ext = ".puffin"
  private val Magic = Array[Byte](0x50, 0x46, 0x41, 0x31) // "PFA1"
  private val DvMagic = Array[Byte](0xD1.toByte, 0xD3.toByte, 0x39, 0x64)
  private val BlobType = "deletion-vector-v1"
  private val M = new ObjectMapper()

  /** One blob's footer entry: which data file it deletes from, where its
    * payload sits, and how many positions it holds. */
  final case class BlobMeta(refDataFile: String, offset: Long, length: Long,
      cardinality: Long)

  // ------------------------------------------------------------- roaring

  /** One 16-bit container's values (sorted, distinct) and its cheapest
    * portable form: a run container when its bytes (u16 run count + 4 per
    * run) undercut the array (2 per value, up to 4096 values) or bitmap
    * (8192) form — the choice Roaring's `runOptimize` makes. */
  private final class Container(val key: Int, vs: Array[Int]) {
    val card: Int = vs.length
    private val runs: Array[Int] = { // packed (start, length-1) pairs
      val b = scala.collection.mutable.ArrayBuilder.make[Int]
      var i = 0
      while (i < vs.length) {
        var j = i
        while (j + 1 < vs.length && vs(j + 1) == vs(j) + 1) j += 1
        b += vs(i); b += j - i
        i = j + 1
      }
      b.result()
    }
    private val plainBytes = if (card <= 4096) 2 * card else 8192
    val isRun: Boolean = 2 + 2 * runs.length < plainBytes
    val bytes: Int = if (isRun) 2 + 2 * runs.length else plainBytes
    def writeTo(out: java.io.ByteArrayOutputStream): Unit = {
      def u16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >>> 8) & 0xFF) }
      if (isRun) { u16(runs.length / 2); runs.foreach(u16) }
      else if (card <= 4096) vs.foreach(u16)
      else {
        val words = new Array[Long](1024)
        vs.foreach(v => words(v >>> 6) |= 1L << (v & 63))
        val bb = ByteBuffer.allocate(8192).order(ByteOrder.LITTLE_ENDIAN)
        words.foreach(bb.putLong)
        out.write(bb.array())
      }
    }
  }

  /** Serialize SORTED DISTINCT positions as a 64-bit portable roaring
    * bitmap. A bucket with no run container keeps cookie 12346 (container
    * count + offsets header); one with any run container uses cookie 12347
    * with the count in its high bits, the run-flag bitset, and the offsets
    * header only at 4 or more containers, as the format specifies. */
  private[icelite] def roaringSerialize(sorted: Array[Long]): Array[Byte] = {
    // bucket by high 32 bits, container by bits 16..31, value = low 16
    val buckets = scala.collection.mutable.LinkedHashMap[Int,
      scala.collection.mutable.LinkedHashMap[Int, scala.collection.mutable.ArrayBuilder.ofInt]]()
    sorted.foreach { p =>
      require(p >= 0, s"negative position $p")
      val hi = (p >>> 32).toInt
      val key = ((p >>> 16) & 0xFFFF).toInt
      buckets.getOrElseUpdate(hi, scala.collection.mutable.LinkedHashMap())
        .getOrElseUpdate(key, new scala.collection.mutable.ArrayBuilder.ofInt) += (p & 0xFFFF).toInt
    }
    val out = new java.io.ByteArrayOutputStream()
    def u32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >>> 8) & 0xFF)
      out.write((v >>> 16) & 0xFF); out.write((v >>> 24) & 0xFF)
    }
    def u16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >>> 8) & 0xFF) }
    // u64 LE bucket count
    u32(buckets.size); u32(0)
    buckets.foreach { case (hi, byKey) =>
      u32(hi)
      val cs = byKey.iterator.map { case (key, b) => new Container(key, b.result()) }.toArray
      val n = cs.size
      val anyRun = cs.exists(_.isRun)
      if (anyRun) {
        u32(12347 | ((n - 1) << 16)) // SERIAL_COOKIE, count-1 in the high bits
        val flags = new Array[Byte]((n + 7) / 8)
        cs.indices.foreach(i => if (cs(i).isRun) flags(i / 8) = (flags(i / 8) | (1 << (i % 8))).toByte)
        out.write(flags)
      } else {
        u32(12346) // SERIAL_COOKIE_NO_RUNCONTAINER
        u32(n)
      }
      cs.foreach { c => u16(c.key); u16(c.card - 1) }
      // offsets header: byte offset of each container from the START of
      // this 32-bit serialization
      if (!anyRun || n >= 4) {
        var off = (if (anyRun) 4 + (n + 7) / 8 else 8) + 8 * n
        cs.foreach { c => u32(off); off += c.bytes }
      }
      cs.foreach(_.writeTo(out))
    }
    out.toByteArray
  }

  /** Streaming run accumulator: positions/runs arrive in ASCENDING order
    * (the portable format sorts buckets, container keys, array values and
    * runs), so runs build directly — allocation is O(runs), never
    * O(positions), even for dense bitmap containers. Monotonicity is
    * required, so a corrupt bitmap fails loudly instead of mis-merging. */
  private final class RunBuilder {
    private val runs = scala.collection.mutable.ArrayBuilder.make[Long]
    private var start = 0L; private var len = 0L; private var last = -2L
    def add(p: Long): Unit = addRun(p, 1L)
    def addRun(s: Long, l: Long): Unit = {
      require(s > last, s"roaring positions out of order: $s after $last")
      if (len > 0 && s == last + 1) len += l
      else { if (len > 0) { runs += start; runs += len }; start = s; len = l }
      last = s + l - 1
    }
    def result(): Array[Long] = {
      if (len > 0) { runs += start; runs += len; len = 0 }
      runs.result()
    }
  }

  /** Decode a 64-bit portable roaring bitmap into packed [start,len]*
    * runs — handles array, bitmap AND run containers. Runs build
    * STREAMING per container in the format's ascending order; the
    * position set is never materialized. */
  private[icelite] def roaringToRuns(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val bucketCount = bb.getLong()
    require(bucketCount >= 0 && bucketCount <= Int.MaxValue, s"bad bucket count $bucketCount")
    val out = new RunBuilder
    var b = 0L
    while (b < bucketCount) {
      val hi = (bb.getInt().toLong & 0xFFFFFFFFL) << 32
      val cookie = bb.getInt()
      val (nContainers, runFlags) =
        if ((cookie & 0xFFFF) == 12347) {
          val n = (cookie >>> 16) + 1
          val flags = new Array[Byte]((n + 7) / 8)
          bb.get(flags)
          (n, flags)
        } else {
          require(cookie == 12346, s"bad roaring cookie $cookie")
          (bb.getInt(), null)
        }
      def isRun(i: Int): Boolean =
        runFlags != null && (runFlags(i / 8) & (1 << (i % 8))) != 0
      val keys = new Array[Int](nContainers)
      val cards = new Array[Int](nContainers)
      var i = 0
      while (i < nContainers) {
        keys(i) = bb.getShort() & 0xFFFF
        cards(i) = (bb.getShort() & 0xFFFF) + 1
        i += 1
      }
      // offsets header: present without run containers, or past 4 of them;
      // sequential decode doesn't need the values — skip
      if (runFlags == null || nContainers >= 4) bb.position(bb.position() + 4 * nContainers)
      i = 0
      while (i < nContainers) {
        val base = hi | (keys(i).toLong << 16)
        if (isRun(i)) {
          val nRuns = bb.getShort() & 0xFFFF
          var r = 0
          while (r < nRuns) {
            val start = bb.getShort() & 0xFFFF
            val len = (bb.getShort() & 0xFFFF) + 1
            out.addRun(base | start, len.toLong)
            r += 1
          }
        } else if (cards(i) <= 4096) {
          var j = 0
          while (j < cards(i)) { out.add(base | (bb.getShort() & 0xFFFF)); j += 1 }
        } else {
          var w = 0
          while (w < 1024) {
            var word = bb.getLong()
            val wb = base | (w.toLong << 6)
            while (word != 0) {
              out.add(wb | java.lang.Long.numberOfTrailingZeros(word))
              word &= word - 1
            }
            w += 1
          }
        }
        i += 1
      }
      b += 1
    }
    out.result()
  }

  // ----------------------------------------------------------- blob form

  /** deletion-vector-v1 blob bytes for one data file's sorted positions. */
  private def dvBlob(sorted: Array[Long]): Array[Byte] = {
    val vec = roaringSerialize(sorted)
    val out = ByteBuffer.allocate(4 + 4 + vec.length + 4).order(ByteOrder.BIG_ENDIAN)
    out.putInt(4 + vec.length) // combined length of magic + vector
    out.put(DvMagic)
    out.put(vec)
    val crc = new java.util.zip.CRC32()
    crc.update(DvMagic); crc.update(vec)
    out.putInt(crc.getValue.toInt)
    out.array()
  }

  /** Decode one blob's bytes (magic + CRC verified) into packed runs. */
  private[icelite] def blobToRuns(blob: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(blob).order(ByteOrder.BIG_ENDIAN)
    val combined = bb.getInt()
    require(combined == blob.length - 8,
      s"deletion-vector-v1 length mismatch: declared $combined, have ${blob.length - 8}")
    val m = new Array[Byte](4); bb.get(m)
    require(java.util.Arrays.equals(m, DvMagic), "not a deletion-vector-v1 blob")
    val vec = new Array[Byte](combined - 4); bb.get(vec)
    val stored = bb.getInt()
    val crc = new java.util.zip.CRC32()
    crc.update(DvMagic); crc.update(vec)
    require(crc.getValue.toInt == stored,
      f"deletion-vector-v1 CRC mismatch: stored 0x$stored%08x, computed 0x${crc.getValue.toInt}%08x")
    roaringToRuns(vec)
  }

  // ------------------------------------------------------------ file IO

  /** Write one Puffin container holding a DV blob per (dataFile,
    * positions) entry; positions pre-sorted. Returns the footer metas. */
  def write(path: Path, entries: Seq[(String, Array[Long])],
      conf: Configuration): Seq[BlobMeta] = {
    val fs = FileSystem.get(path.toUri, conf)
    val out = new java.io.BufferedOutputStream(fs.create(path, false))
    try {
      out.write(Magic)
      var offset = 4L
      val metas = entries.map { case (fp, pos) =>
        val blob = dvBlob(pos)
        out.write(blob)
        val meta = BlobMeta(fp, offset, blob.length.toLong, pos.length.toLong)
        offset += blob.length
        meta
      }
      val payload = {
        val root = M.createObjectNode()
        val arr = root.putArray("blobs")
        metas.foreach { bm =>
          val o = arr.addObject()
          o.put("type", BlobType)
          o.putArray("fields")
          o.put("snapshot-id", 0L)
          o.put("sequence-number", 0L)
          o.put("offset", bm.offset)
          o.put("length", bm.length)
          val props = o.putObject("properties")
          props.put("referenced-data-file", bm.refDataFile)
          props.put("cardinality", bm.cardinality.toString)
        }
        root.putObject("properties").put("created-by", "graft icelite")
        M.writeValueAsBytes(root)
      }
      out.write(Magic)
      out.write(payload)
      val tail = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      tail.putInt(payload.length)
      tail.putInt(0) // flags: footer payload not compressed
      out.write(tail.array())
      out.write(Magic)
      metas
    } finally out.close()
  }

  /** Footer parse only: every blob's meta — O(footer), no blob reads. */
  def blobs(path: Path, conf: Configuration): Seq[BlobMeta] = {
    val fs = FileSystem.get(path.toUri, conf)
    val len = fs.getFileStatus(path).getLen
    val in = fs.open(path)
    try {
      require(len >= 20, s"not a Puffin file (too short): $path")
      val tail = new Array[Byte](12)
      in.readFully(len - 12, tail)
      val tb = ByteBuffer.wrap(tail).order(ByteOrder.LITTLE_ENDIAN)
      val payloadSize = tb.getInt()
      val flags = tb.getInt()
      val m2 = new Array[Byte](4); tb.get(m2)
      require(java.util.Arrays.equals(m2, Magic), s"bad Puffin trailing magic: $path")
      require((flags & 1) == 0, s"compressed Puffin footer payload unsupported: $path")
      val payload = new Array[Byte](payloadSize)
      in.readFully(len - 12 - payloadSize, payload)
      val m1 = new Array[Byte](4)
      in.readFully(len - 12 - payloadSize - 4, m1)
      require(java.util.Arrays.equals(m1, Magic), s"bad Puffin footer magic: $path")
      val root = M.readTree(payload)
      // a valid Puffin container may interleave other blob types (stats
      // sketches, …) with its DVs — read the deletion-vector-v1 blobs and
      // pass over the rest instead of rejecting the whole file
      Option(root.get("blobs")).map(_.elements().asScala.toSeq).getOrElse(Seq())
        .filter(b => b.get("type").asText() == BlobType).map { b =>
          val props = b.get("properties")
          BlobMeta(
            props.get("referenced-data-file").asText(),
            b.get("offset").asLong(), b.get("length").asLong(),
            Option(props.get("cardinality")).map(_.asText().toLong).getOrElse(-1L))
        }
    } finally in.close()
  }

  /** Packed [start,len]* runs for one blob at a known (offset, length) —
    * the interop path, where a V3 delete manifest supplies the range. */
  def runsForBlob(path: Path, conf: Configuration, offset: Long,
      length: Long): Array[Long] = {
    val fs = FileSystem.get(path.toUri, conf)
    val in = fs.open(path)
    try {
      val blob = new Array[Byte](length.toInt)
      in.readFully(offset, blob)
      blobToRuns(blob)
    } finally in.close()
  }

  /** Packed runs recorded for the canonical path `dataFile` (empty when
    * none): one footer parse + one blob seek. A blob's
    * `referenced-data-file` is compared in its canonical spelling, so a
    * foreign writer's spelling of the same file still matches. */
  def runsFor(path: Path, conf: Configuration, dataFile: String): Array[Long] =
    blobs(path, conf).find(bm => IceLite.canonicalPath(bm.refDataFile) == dataFile) match {
      case Some(bm) => runsForBlob(path, conf, bm.offset, bm.length)
      case None     => Array.emptyLongArray
    }

  /** Every (filePath, pos) pair in the container — rewrite consumption.
    * Blobs read eagerly, so the stream is closed before the iterator
    * returns and a consumer that stops early cannot leak the handle;
    * expansion from runs stays lazy. */
  def expand(path: Path, conf: Configuration): Iterator[(String, Long)] = {
    val metas = blobs(path, conf)
    val runsByFile = metas.map(bm =>
      bm.refDataFile -> runsForBlob(path, conf, bm.offset, bm.length))
    runsByFile.iterator.flatMap { case (fp, runs) =>
      (0 until runs.length by 2).iterator.flatMap { i =>
        (runs(i) until runs(i) + runs(i + 1)).iterator.map(fp -> _)
      }
    }
  }
}
