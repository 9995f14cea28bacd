package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.SparkShims

/** Readers for the fixture tables (TESTDATA.md): `<dir>/<name>.parquet`,
  * a single file or a directory of part files.
  *
  * A parquet file carries its schema in its footer (README.md:279-297).
  * Each table is resolved by reading that footer on the driver, the same
  * file and the same conversion Spark's own schema inference uses, and
  * then read with that schema, so resolving a table runs no Spark job.
  * Projections and filters still push down into the vectorized parquet
  * scan. Every fixture read in the engine goes through [[raw]], so this
  * module alone decides how a fixture schema is resolved.
  */
object Tables {
  def region(s: SparkSession, dir: String): DataFrame    = raw(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame    = raw(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame  = raw(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame  = raw(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame      = raw(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame    = raw(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame  = raw(s, dir, "lineitem")
  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some testdata
    * vintages and TIMESTAMP(MICROS) in others, so branch on the loaded
    * schema rather than assuming either:
    *  - LongType (TIMESTAMP(NANOS) read under legacy.parquet.nanosAsLong,
    *    which Spark 4 otherwise rejects with PARQUET_TYPE_ILLEGAL): convert
    *    with integer division — `ts div 1000` keeps full precision (a
    *    double division would lose bits at 1.7e18) and floor-matches
    *    DuckDB's own ns→µs truncation.
    *  - TimestampNTZType (plain timestamp[us], no tz): cast to TIMESTAMP
    *    under the session's UTC zone so downstream date/interval arithmetic
    *    behaves identically across vintages.
    *  - TimestampType: pass through.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Self-install the UTC invariant the NTZ branch depends on: the
    // cast("timestamp") below reinterprets wall-clock under the session
    // zone, so an entry point that forgot to set UTC would get silently
    // shifted instants vs the DuckDB oracle (which reads naive micros).
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val df = raw(s, dir, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame = raw(s, dir, "documents")
  /** `embeddings.embedding` ships as list<float> today; pin that type so a
    * future testdata regeneration as list<double> degrades to a narrow cast
    * instead of failing analysis in every array<float>-typed kernel
    * (graft.functions.DotScaled and friends) — the same vintage-drift
    * lesson as [[events]]. */
  def embeddings(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val df = raw(s, dir, "embeddings")
    df.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => df
      case _ => df.withColumn("embedding", col("embedding").cast("array<float>"))
    }
  }

  /** A fixture table as stored, without the per-table fix-ups above: the
    * one path every fixture read takes. Memoized per session and file
    * identity (see [[relMemo]]). */
  private[graft] def raw(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = new Path(s"$dir/$name.parquet")
    // the context's conf, not a per-call session copy: a hit pays only
    // this listing
    listing(path.getFileSystem(s.sparkContext.hadoopConfiguration), path) match {
      case None => s.read.parquet(path.toString)
      case Some(files) =>
        val id = files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        val nanos = s.sessionState.conf.legacyParquetNanosAsLong
        sessionMemo(s).compute(path.toString, (_: String, old: Resolved) =>
          if (old != null && old.files == id && old.nanosAsLong == nanos) old
          else Resolved(id, nanos, resolve(s, path, files))).df
    }
  }

  /** The files a parquet read of `p` scans, in Spark's order: by path,
    * with the names a file index hides dropped. None for a missing path,
    * which Spark's own read reports. */
  private def listing(fs: FileSystem, p: Path): Option[Seq[FileStatus]] =
    try {
      val st = fs.getFileStatus(p)
      Some(if (!st.isDirectory) Seq(st) else fs.listStatus(p).toSeq
        .filterNot(k => SparkShims.hiddenPathName(k.getPath.getName)).sortBy(_.getPath.toString))
    } catch { case _: java.io.FileNotFoundException => None }

  /** Read with the schema Spark's inference would find, from one footer
    * read on the driver. Without mergeSchema, Spark's inference reads
    * one footer too: `_common_metadata`, else `_metadata`, else the first
    * data file in path order. But it reads it inside a one-task Spark job,
    * once per table per session. A file this cannot read (empty
    * directory, corrupt footer) goes to Spark's own inference, so the
    * caller sees Spark's own error. */
  private def resolve(s: SparkSession, path: Path, files: Seq[FileStatus]): DataFrame = {
    val conf = s.sessionState.newHadoopConf()
    val summaries = Seq("_common_metadata", "_metadata")
    val schemaFile = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    schemaFile.flatMap(f => scala.util.Try(SparkShims.parquetFooterSchema(s, f, conf)).toOption) match {
      case Some(st) => s.read.schema(st).parquet(path.toString)
      case None     => s.read.parquet(path.toString)
    }
  }

  /** Resolved relations, one per session and table path, each valid for
    * the file identity it was resolved from: the listed files' (path,
    * length, mtime), plus the one schema-conversion conf the engine
    * toggles per session (`nanosAsLong`, see [[events]]). A fixture
    * rewritten at the same path no longer matches, so the next reference
    * resolves the new files and replaces the entry. Not a data cache:
    * every action on a memoized DataFrame still scans the parquet. It
    * saves the footer read and relation build each reference would pay
    * again (7 ms for `orders`, 11 ms for `events`).
    *
    * The session keys are weak. A memoized DataFrame holds its session,
    * so a memo held strongly by this map would keep its own key alive;
    * the map holds it softly instead. A session's memo therefore goes
    * when the session is unreachable and the heap needs the room, and a
    * live session's memo cleared that way is rebuilt on the next miss. */
  private val relMemo = new java.util.WeakHashMap[SparkSession,
    java.lang.ref.SoftReference[ConcurrentHashMap[String, Resolved]]]()

  private final case class Resolved(files: Seq[(String, Long, Long)], nanosAsLong: Boolean,
      df: DataFrame)

  private def sessionMemo(s: SparkSession): ConcurrentHashMap[String, Resolved] =
    relMemo.synchronized {
      Option(relMemo.get(s)).flatMap(r => Option(r.get)).getOrElse {
        val m = new ConcurrentHashMap[String, Resolved]()
        relMemo.put(s, new java.lang.ref.SoftReference(m))
        m
      }
    }

  /** Scan-parallelism floor for CPU-DENSE kernels (guide §2.2/§2.6: idle
    * capacity): a small input is one parquet split — often one ROW GROUP —
    * so everything up to the first exchange (explode, md5, the map-side
    * sort feeding a WindowGroupLimit) runs in ONE task while the rest of
    * the machine idles; measured 1.9 s of a 2.5 s query inside a single
    * scan task on local[32]. Fan `df` (call AFTER the narrow projection,
    * so only needed columns shuffle) across the cores iff the table is a
    * single split: size-DERIVED, never a local-mode constant — any input
    * past one split (every production table; splits there are set by
    * maxPartitionBytes/row groups) returns `df` untouched, because adding
    * a corpus-wide shuffle at scale is exactly the §8 anti-pattern. The
    * width scales with input bytes (≥64 KB of input per task, capped at
    * the session's parallelism), so the driver's low-core bench runs get
    * proportionally narrower fan-outs, not a hard-coded 32. */
  private[graft] def fanOutSmall(df: DataFrame, s: SparkSession, dir: String,
      table: String, key: org.apache.spark.sql.Column): DataFrame = {
    val f = new java.io.File(s"$dir/$table.parquet")
    val bytes =
      if (f.isFile) f.length
      else if (f.isDirectory)
        Option(f.listFiles).map(_.filter(_.isFile).map(_.length).sum).getOrElse(return df)
      else return df
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    if (bytes > maxSplit) df // multi-split: the scan fans out natively
    else {
      val n = math.min(s.sparkContext.defaultParallelism.toLong,
        math.max(2L, bytes / (64L << 10))).toInt
      // HASH repartition on a caller-supplied deterministic high-
      // cardinality key, not round-robin: keyless repartition(n) first
      // pays a LOCAL SORT of its input (sortBeforeRepartition) inside the
      // very single task this exists to relieve, and a rand()-derived key
      // can duplicate/lose rows under task retry (guide §2.5)
      if (n <= 1) df
      else df.repartition(n, org.apache.spark.sql.functions.xxhash64(key))
    }
  }
}
