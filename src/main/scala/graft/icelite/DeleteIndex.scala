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
  * sorted position array for ITS OWN data files lazily, executor-side, by
  * reading the delete parquets with a `file_path = <data file>` predicate
  * pushed to parquet (row-group stats + dictionary + record-level filter —
  * delete files are written globally sorted by (file_path, pos), so a task
  * touches only the row groups covering its file). A 100 TB table with a
  * billion MoR-deleted rows costs the driver a file listing, not an 8 GB
  * HashMap.
  *
  * Loaded arrays are memoized in an executor-wide cache keyed by
  * (index id, data file), so each executor pays the delete-file probe once
  * per data file it scans, not once per task. The cache is size-capped and
  * re-loadable, so eviction is always safe.
  */
final case class DeleteIndex(
    id: String, deleteFiles: Seq[String], conf: SerializableConfiguration)
    extends Serializable {

  /** Packed [start,len]* deleted-position RUNS recorded for `dataFile`;
    * empty (never null) when the file has no recorded deletes. RUNS, not
    * expanded positions, is the cached and probed form everywhere — a
    * dense-delete file (say 90% of 1M rows killed by one predicate) costs
    * a task O(runs) longs, not O(positions), and [[graft.functions
    * .PositionLive]] probes it with [[DvCodec.runContains]]'s O(log runs)
    * search. Executor-side. */
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
    DvCodec.expandRuns(runsFor(dataFile))

  private def load(dataFile: String): Array[Long] = {
    // NATIVE delete writers record file_path exactly as the scan's
    // `_metadata.file_path` spells it, so the first spelling always hits.
    // FOREIGN (adopted) delete files may spell the same path differently
    // (raw `/a/b` vs `file:/a/b` URI forms) — the alternates make the
    // probe spelling-insensitive. Cost: the parquet probe ORs a few
    // literals into one pushed predicate, and DV containers match the
    // whole key set in ONE header parse — one reader pass per carrier
    // either way. All of this runs once per (executor, data file) —
    // memoized above — never per row.
    val keys = {
      val n = IceLite.normPath(dataFile)
      Seq(dataFile, n, s"file:$n", s"file://$n").distinct
    }
    val pred = FilterCompat.get(
      keys.map(k => FilterApi.eq(FilterApi.binaryColumn("file_path"),
        Binary.fromString(k)): org.apache.parquet.filter2.predicate.FilterPredicate)
        .reduce(FilterApi.or))
    val keySet = keys.toSet
    val parts = scala.collection.mutable.ArrayBuffer[Array[Long]]()
    deleteFiles.foreach { del =>
      // carrier dispatch: deletion-vector containers (`.ildv` RLE or
      // `.puffin` Iceberg-V3 roaring) resolve via a header/footer parse +
      // one blob seek and yield packed runs; parquet position deletes
      // read via the pushed file_path predicate and RLE-compress on the
      // way in
      if (del.endsWith(DvCodec.Ext))
        parts += DvCodec.runsForAny(new Path(del), conf.value, keySet)
      else if (del.endsWith(PuffinDv.Ext))
        parts += PuffinDv.runsForAny(new Path(del), conf.value, keySet)
      else {
        val buf = scala.collection.mutable.ArrayBuilder.make[Long]
        // the InputFile builder takes its read options from this conf;
        // builder(readSupport, path) starts from a fresh Configuration,
        // a Hadoop XML parse per delete file
        val reader = new ParquetReader.Builder[Group](HadoopInputFile.fromPath(new Path(del), conf.value)) {
          override protected def getReadSupport: ReadSupport[Group] = new GroupReadSupport()
        }.withFilter(pred).build()
        try {
          var g = reader.read()
          while (g != null) {
            // the record-level filter already guarantees the match; the field
            // check is a free invariant guard on already-filtered rows
            if (keySet.contains(g.getString("file_path", 0))) buf += g.getLong("pos", 0)
            g = reader.read()
          }
        } finally reader.close()
        val arr = buf.result()
        java.util.Arrays.sort(arr)
        parts += DvCodec.toRuns(arr)
      }
    }
    DvCodec.mergeRuns(parts.toSeq)
  }
}

object DeleteIndex {
  /** Executor-wide (dataFile → sorted positions) memo. Bounded: a full
    * clear past the cap is safe because every entry is re-loadable. */
  private val MaxCachedFiles = 8192
  private val cache = new ConcurrentHashMap[String, Array[Long]]()

  def build(deleteFiles: Seq[String], spark: SparkSession): DeleteIndex = {
    val id = java.util.UUID.nameUUIDFromBytes(
      deleteFiles.sorted.mkString("\n").getBytes("UTF-8")).toString
    DeleteIndex(id, deleteFiles,
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
  }
}
