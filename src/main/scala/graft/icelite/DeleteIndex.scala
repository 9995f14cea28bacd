package graft.icelite

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Driver-bounded merge-on-read delete index (reference invariant:
  * README.md:1105–1121 — deletion vectors exist to make deletes cheap at
  * scale, which includes the READ side).
  *
  * The driver/broadcast payload is only the snapshot's delete-file PATHS —
  * O(delete files), never O(deleted positions). Each scan task resolves the
  * deleted-position runs for ITS OWN data files lazily, executor-side:
  * Puffin deletion vectors by one footer parse + one blob seek, parquet
  * position deletes with a `file_path = <data file>` predicate pushed to
  * parquet (row-group stats + dictionary + record-level filter — delete
  * files are written clustered by (file_path, pos), so a task touches only
  * the row groups covering its file). A 100 TB table with a
  * billion MoR-deleted rows costs the driver a file listing, not an 8 GB
  * HashMap.
  *
  * Every path compares in its canonical spelling ([[IceLite.canonicalPath]]).
  * A parquet delete file IceLite wrote (`sorted`: its recorded `file_path`
  * bounds are canonical) stores canonical paths, so the probe pushes one
  * exact `file_path` predicate. Any other delete file — foreign, or written
  * without bounds — is read whole and each stored path made canonical as it
  * is read, so a foreign spelling of the same file still applies (a missed
  * match would resurrect deleted rows).
  *
  * Loaded arrays are memoized in an executor-wide cache keyed by
  * (index id, data file), so each executor pays the delete-file probe once
  * per data file it scans, not once per task. The cache is size-capped and
  * re-loadable, so eviction is always safe.
  */
final case class DeleteIndex(
    id: String, deleteFiles: Seq[String], sorted: Set[String],
    conf: SerializableConfiguration)
    extends Serializable {

  /** Packed [start,len]* deleted-position RUNS recorded for `dataFile`;
    * empty (never null) when the file has no recorded deletes. RUNS, not
    * expanded positions, is the cached and probed form everywhere — a
    * dense-delete file (say 90% of 1M rows killed by one predicate) costs
    * a task O(runs) longs, not O(positions), and [[graft.functions
    * .PositionLive]] probes it with [[DeleteIndex.runContains]]'s
    * O(log runs) search. `dataFile` is the scan's URI-encoded
    * `_metadata.file_path`. Executor-side. */
  def runsFor(dataFile: UTF8String): Array[Long] = {
    val key = id + "\u0000" + dataFile.toString
    val hit = DeleteIndex.cache.get(key)
    if (hit != null) hit
    else {
      val loaded = load(dataFile.toString)
      if (DeleteIndex.cache.size >= DeleteIndex.MaxCachedFiles)
        DeleteIndex.cache.clear() // entries are pure caches; reload on demand
      DeleteIndex.cache.putIfAbsent(key, loaded)
      loaded
    }
  }

  /** Sorted deleted positions for `dataFile` — [[runsFor]] expanded.
    * Diagnostic/spec surface; the scan path never materializes this. */
  def positionsFor(dataFile: UTF8String): Array[Long] =
    DeleteIndex.expandRuns(runsFor(dataFile))

  private def load(dataFile: String): Array[Long] = {
    // runs once per (executor, data file) — memoized above — never per row
    val key = IceLite.canonicalUri(dataFile)
    val pred = FilterCompat.get(
      FilterApi.eq(FilterApi.binaryColumn("file_path"), Binary.fromString(key)))
    val parts = scala.collection.mutable.ArrayBuffer[Array[Long]]()
    deleteFiles.foreach { del =>
      // carrier dispatch: Puffin deletion vectors resolve via a footer
      // parse + one blob seek and yield packed runs; parquet position
      // deletes read their rows (pushed file_path predicate when sorted)
      // and RLE-compress on the way in
      if (IceLite.isDvPath(del))
        parts += PuffinDv.runsFor(new Path(del), conf.value, key)
      else {
        val buf = scala.collection.mutable.ArrayBuilder.make[Long]
        // the InputFile builder takes its read options from this conf;
        // builder(readSupport, path) starts from a fresh Configuration,
        // a Hadoop XML parse per delete file
        val reader = new ParquetReader.Builder[Group](HadoopInputFile.fromPath(new Path(del), conf.value)) {
          override protected def getReadSupport: ReadSupport[Group] = new GroupReadSupport()
        }.withFilter(if (sorted(del)) pred else FilterCompat.NOOP).build()
        try {
          // the stored path is made canonical once per run of equal
          // values (IceLite writes its rows clustered by file)
          var raw: String = null
          var hit = false
          var g = reader.read()
          while (g != null) {
            val fp = g.getString("file_path", 0)
            if (fp != raw) { raw = fp; hit = IceLite.canonicalPath(fp) == key }
            if (hit) buf += g.getLong("pos", 0)
            g = reader.read()
          }
        } finally reader.close()
        val arr = buf.result()
        java.util.Arrays.sort(arr)
        parts += DeleteIndex.toRuns(arr)
      }
    }
    DeleteIndex.mergeRuns(parts.toSeq)
  }
}

object DeleteIndex {
  /** Executor-wide (dataFile → packed runs) memo. Bounded: a full
    * clear past the cap is safe because every entry is re-loadable. */
  private val MaxCachedFiles = 8192
  private val cache = new ConcurrentHashMap[String, Array[Long]]()

  /** RLE-encode a SORTED, DISTINCT position array: packed [start, len]*. */
  def toRuns(sorted: Array[Long]): Array[Long] = {
    if (sorted.isEmpty) return Array.emptyLongArray
    val runs = scala.collection.mutable.ArrayBuilder.make[Long]
    var start = sorted(0); var len = 1L; var i = 1
    while (i < sorted.length) {
      if (sorted(i) == start + len) len += 1
      else { runs += start; runs += len; start = sorted(i); len = 1L }
      i += 1
    }
    runs += start; runs += len
    runs.result()
  }

  /** Membership probe over a packed [start,len]* runs array — binary
    * search on the run starts, then a bound check. This is the read-path
    * filter shape: O(log runs) per row with O(runs) task memory, where an
    * expanded position array would cost O(positions) on a dense-delete
    * file. Static-shaped so codegen calls it directly. */
  def runContains(runs: Array[Long], p: Long): Boolean = {
    var lo = 0
    var hi = runs.length / 2 - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val s = runs(mid << 1)
      if (p < s) hi = mid - 1
      else if (p >= s + runs((mid << 1) + 1)) lo = mid + 1
      else return true
    }
    false
  }

  /** Merge possibly-overlapping packed run arrays (several delete files may
    * record the same data file) into one sorted, coalesced runs array. */
  def mergeRuns(parts: Seq[Array[Long]]): Array[Long] = {
    val nonEmpty = parts.filter(_.nonEmpty)
    if (nonEmpty.isEmpty) return Array.emptyLongArray
    if (nonEmpty.size == 1) return nonEmpty.head
    val pairs = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    nonEmpty.foreach { rs =>
      var i = 0
      while (i < rs.length) { pairs += ((rs(i), rs(i + 1))); i += 2 }
    }
    val sorted = pairs.sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuilder.make[Long]
    var (curS, curL) = sorted.head
    sorted.tail.foreach { case (s, l) =>
      if (s <= curS + curL) curL = math.max(curL, s + l - curS)
      else { out += curS; out += curL; curS = s; curL = l }
    }
    out += curS; out += curL
    out.result()
  }

  /** Sorted positions a packed runs array stands for — the inverse of
    * [[toRuns]]. Spec and rewrite surface; the scan path stays on runs. */
  def expandRuns(runs: Array[Long]): Array[Long] = {
    var n = 0L
    var i = 1
    while (i < runs.length) { n += runs(i); i += 2 }
    val out = new Array[Long](n.toInt)
    var o = 0; i = 0
    while (i < runs.length) {
      var p = runs(i); val end = runs(i) + runs(i + 1)
      while (p < end) { out(o) = p; o += 1; p += 1 }
      i += 2
    }
    out
  }

  def build(deleteFiles: Seq[DeleteFile], spark: SparkSession): DeleteIndex = {
    val paths = deleteFiles.map(_.path)
    // refuse a carrier this build cannot read on the driver, before a task
    paths.foreach(IceLite.isDvPath)
    val id = java.util.UUID.nameUUIDFromBytes(
      paths.sorted.mkString("\n").getBytes("UTF-8")).toString
    DeleteIndex(id, paths,
      deleteFiles.filter(d => IceLite.canonicalBounds(d.pathLo, d.pathHi)).map(_.path).toSet,
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
  }
}
