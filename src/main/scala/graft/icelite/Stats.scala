package graft.icelite

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import scala.jdk.CollectionConverters._

/** File-level data skipping (the file-granularity analog of the row-group
  * stats pruning the reference teaches, README.md:327–346).
  *
  * At write, per-column min/max are harvested from the parquet footer (the
  * writer already opens it for row counts — stats ride along for free) and
  * stored field-id-keyed in the manifest. At read, simple comparison
  * predicates prune the FILE LIST on the driver before Spark lists a single
  * file — on a 100 TB table a selective predicate touches only the files
  * whose [min,max] admits it, independent of partition layout.
  *
  * Pruning is conservative: no stats, unparseable values, or unsupported
  * types ⇒ the file is kept. Callers always re-apply the real filter, so
  * skipping is purely an IO optimization, never a correctness dependence.
  */
object Stats {

  /** Open a parquet file with the caller's Hadoop conf.
    * `ParquetFileReader.open(InputFile)` alone builds its read options
    * from a fresh `Configuration`, which re-parses the Hadoop default XML
    * on every open. */
  def open(p: Path, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(p, conf),
      HadoopReadOptions.builder(conf, p).build())

  /** Harvest per-column min/max from an open footer; keys are field ids
    * (physical column names are `f<id>`). */
  def fromFooter(reader: ParquetFileReader): Map[Int, ColumnStats] = {
    val perColumn = scala.collection.mutable.Map[Int, (Any, Any, PrimitiveTypeName, Boolean)]()
    for (block <- reader.getFooter.getBlocks.asScala;
         c <- block.getColumns.asScala) {
      val name = c.getPath.toDotString
      if (name.startsWith("f") && name.drop(1).forall(_.isDigit)) {
        val fid = name.drop(1).toInt
        val st = c.getStatistics
        if (st != null && !st.isEmpty && st.hasNonNullValue) {
          val prim = c.getPrimitiveType.getPrimitiveTypeName
          val isString = c.getPrimitiveType.getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
          val (mn, mx) = (st.genericGetMin, st.genericGetMax)
          perColumn.get(fid) match {
            case None => perColumn(fid) = (mn, mx, prim, isString)
            case Some((omn, omx, p, s)) =>
              perColumn(fid) = (minOf(omn, mn, p, s), maxOf(omx, mx, p, s), p, s)
          }
        } else perColumn.remove(fid) // any stat-less block poisons the column
      }
    }
    perColumn.flatMap { case (fid, (mn, mx, prim, isString)) =>
      for (a <- render(mn, prim, isString); b <- render(mx, prim, isString))
        yield fid -> (
          if (isString) ColumnStats(truncLower(a), truncUpper(b))
          else ColumnStats(a, b))
    }.toMap
  }

  /** Untruncated (min, max) of a string column across an open footer's
    * row groups; None when the file has no such column or a row group
    * carries no bounds for it. Position-delete files record their
    * `file_path` range this way, for delete-manifest pruning. */
  def stringBounds(reader: ParquetFileReader, column: String): Option[(String, String)] = {
    val chunks = reader.getFooter.getBlocks.asScala.toSeq
      .flatMap(_.getColumns.asScala.find(_.getPath.toDotString == column))
    val bounds = chunks.map { c =>
      val st = c.getStatistics
      if (st == null || st.isEmpty || !st.hasNonNullValue) None
      else Some((st.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8,
        st.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8))
    }
    if (bounds.isEmpty || bounds.exists(_.isEmpty)) None
    else Some((bounds.flatten.map(_._1).min, bounds.flatten.map(_._2).max))
  }

  /** Iceberg-style bound truncation for STRING stats (write.metadata
    * .metrics truncate(16)): long text columns must not put full document
    * prefixes into every manifest entry and chunk summary — on a 100 TB
    * documents table that alone re-inflates the version file. Truncation
    * stays CONSERVATIVE in the code-unit order [[ord]] compares with:
    * a lower bound truncates DOWN (a prefix never exceeds the original),
    * an upper bound truncates then increments the last non-\uffff unit
    * (strictly above every string sharing the 16-unit prefix). An upper
    * bound of 16 \uffff units can't be safely truncated and stays full. */
  private[icelite] val BoundLen = 16
  private[icelite] def truncLower(s: String): String =
    if (s.length <= BoundLen) s else s.substring(0, BoundLen)
  private[icelite] def truncUpper(s: String): String =
    if (s.length <= BoundLen) s
    else {
      val t = s.substring(0, BoundLen).toCharArray
      var i = t.length - 1
      while (i >= 0 && t(i) == '\uffff') i -= 1
      if (i < 0) s else new String(t, 0, i) + (t(i) + 1).toChar
    }

  private def cmp(a: Any, b: Any, p: PrimitiveTypeName, isString: Boolean): Int =
    (p, isString) match {
      case (PrimitiveTypeName.BINARY, true) =>
        a.asInstanceOf[Binary].toStringUsingUTF8.compareTo(b.asInstanceOf[Binary].toStringUsingUTF8)
      case (PrimitiveTypeName.INT64, _) | (PrimitiveTypeName.INT32, _) =>
        java.lang.Long.compare(a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue)
      case (PrimitiveTypeName.DOUBLE, _) | (PrimitiveTypeName.FLOAT, _) =>
        java.lang.Double.compare(a.asInstanceOf[Number].doubleValue, b.asInstanceOf[Number].doubleValue)
      case _ => 0
    }
  private def minOf(a: Any, b: Any, p: PrimitiveTypeName, s: Boolean): Any =
    if (cmp(a, b, p, s) <= 0) a else b
  private def maxOf(a: Any, b: Any, p: PrimitiveTypeName, s: Boolean): Any =
    if (cmp(a, b, p, s) >= 0) a else b

  private def render(v: Any, p: PrimitiveTypeName, isString: Boolean): Option[String] =
    (p, isString) match {
      case (PrimitiveTypeName.BINARY, true) => Some(v.asInstanceOf[Binary].toStringUsingUTF8)
      case (PrimitiveTypeName.INT32, _) | (PrimitiveTypeName.INT64, _) =>
        Some(v.asInstanceOf[Number].longValue.toString)
      case (PrimitiveTypeName.FLOAT, _) | (PrimitiveTypeName.DOUBLE, _) =>
        Some(v.asInstanceOf[Number].doubleValue.toString)
      case _ => None // booleans, non-string binaries (decimals): no skipping
    }

  // ----------------------------------------------------------- predicates

  sealed trait StatFilter { def column: String; def value: Any }
  final case class Eq(column: String, value: Any) extends StatFilter
  final case class Lt(column: String, value: Any) extends StatFilter
  final case class Le(column: String, value: Any) extends StatFilter
  final case class Gt(column: String, value: Any) extends StatFilter
  final case class Ge(column: String, value: Any) extends StatFilter

  /** Shared bounds-vs-filter evaluation: may a [min,max] bound pair for a
    * column of `dtype` admit rows satisfying `flt`? Conservative true on
    * unparseable/unnormalizable values. Both [[mayContain]] (per-file) and
    * [[summaryMayContain]] (per-manifest-chunk) are this check — only the
    * stats lookup differs. */
  private def boundsAdmit(cs: ColumnStats, dtype: String, flt: StatFilter): Boolean = {
    val v = normalize(flt.value, dtype).getOrElse(return true)
    val (mn, mx) = (parse(cs.min, dtype), parse(cs.max, dtype)) match {
      case (Some(a), Some(b)) => (a, b)
      case _                  => return true
    }
    flt match {
      case _: Eq => ord(mn, v) <= 0 && ord(v, mx) <= 0
      case _: Lt => ord(mn, v) < 0
      case _: Le => ord(mn, v) <= 0
      case _: Gt => ord(v, mx) < 0
      case _: Ge => ord(v, mx) <= 0
    }
  }

  /** May `file` contain rows satisfying `flt`? Conservative true. */
  def mayContain(file: DataFile, fileSchema: TableSchema, current: TableSchema,
      flt: StatFilter): Boolean = {
    val field = current.fields.find(_.name == flt.column).getOrElse(return true)
    if (!fileSchema.hasId(field.id)) return true // column absent: default/null rows
    val cs = file.stats.getOrElse(field.id, return true)
    boundsAdmit(cs, field.dtype, flt)
  }

  /** Manifest-level variant of [[mayContain]]: evaluate a filter against a
    * chunk's AGGREGATED per-field bounds. [[summarize]] only emits a field
    * when every file in the chunk bounds it, so an absent field is a
    * conservative keep — never a miss. */
  def summaryMayContain(stats: Map[Int, ColumnStats], current: TableSchema,
      flt: StatFilter): Boolean = {
    val field = current.fields.find(_.name == flt.column).getOrElse(return true)
    val cs = stats.getOrElse(field.id, return true)
    boundsAdmit(cs, field.dtype, flt)
  }

  /** Aggregate per-field min/max across a manifest chunk's files. A field
    * survives only if EVERY file's schema contains it (a file without the
    * field may hold default/null rows any predicate must see) AND every
    * file has parseable stats for it — partial bounds can't prune safely.
    * Comparison domains are widening-stable (INT→BIGINT both "long"), so
    * one dtype lookup per field id serves mixed-schema chunks. */
  def summarize(files: Seq[DataFile], m: TableMetadata): Map[Int, ColumnStats] = {
    if (files.isEmpty) return Map()
    def schemaOf(id: Int) = m.schemas.find(_.schemaId == id)
    val eligible = files.map { f =>
      schemaOf(f.schemaId).map(sch => f.stats.keySet.filter(sch.hasId))
        .getOrElse(Set.empty[Int])
    }.reduce(_ intersect _)
    eligible.iterator.flatMap { fid =>
      val dtype = m.schemas.iterator.flatMap(_.fields.find(_.id == fid)).nextOption()
        .map(_.dtype).getOrElse("")
      val bounds = files.map { f =>
        val cs = f.stats(fid)
        (parse(cs.min, dtype), parse(cs.max, dtype)) match {
          case (Some(a), Some(b)) => Some(((a, cs.min), (b, cs.max)))
          case _                  => None
        }
      }
      if (bounds.exists(_.isEmpty)) None
      else {
        val bs = bounds.flatten
        val mn = bs.map(_._1).minBy(identity)(Ordering.fromLessThan((x, y) => ord(x._1, y._1) < 0))
        val mx = bs.map(_._2).maxBy(identity)(Ordering.fromLessThan((x, y) => ord(x._1, y._1) < 0))
        Some(fid -> ColumnStats(mn._2, mx._2))
      }
    }.toMap
  }

  private def ord(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long)     => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case _                      => 0
  }

  /** Stat string → comparable domain value for the field's logical type. */
  private def parse(s: String, dtype: String): Option[Any] = domain(dtype) match {
    case "long"   => s.toLongOption
    case "double" => s.toDoubleOption
    case "string" => Some(s)
    case _        => None
  }

  /** Predicate constant → same comparable domain. A datetime constant on a
    * TIMESTAMP_NS column scales to NANOS (the stats domain for that dtype,
    * [[Field.sparkDdl]]'s BIGINT-nanos carrier) — micros here would make
    * stat pruning skip files whose nano bounds actually admit the value. */
  private def normalize(v: Any, dtype: String): Option[Any] = {
    val isNs = dtype.equalsIgnoreCase("TIMESTAMP_NS")
    (domain(dtype), v) match {
      case ("long", n: Number)  => Some(n.longValue)
      case ("long", t: java.sql.Timestamp) => // stats store raw micros (nanos for NS)
        Some(if (isNs) Math.floorDiv(t.getTime, 1000L) * 1000000000L + t.getNanos
             else t.getTime * 1000L + (t.getNanos / 1000) % 1000)
      case ("long", i: java.time.Instant) =>
        Some(if (isNs) i.getEpochSecond * 1000000000L + i.getNano
             else i.getEpochSecond * 1000000L + i.getNano / 1000)
      case ("long", d: java.time.LocalDateTime) => // timestamp_ntz micros
        Some(if (isNs) d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L + d.getNano
             else d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + d.getNano / 1000)
      case ("long", d: java.sql.Date)       => Some(d.toLocalDate.toEpochDay)
      case ("long", d: java.time.LocalDate) => Some(d.toEpochDay)
      case ("double", n: Number) => Some(n.doubleValue)
      case ("string", s: String) => Some(s)
      case _ => None
    }
  }

  private def domain(dtype: String): String = {
    val t = dtype.toUpperCase
    if (t.startsWith("BIGINT") || t.startsWith("INT") || t.startsWith("SMALLINT") ||
      t.startsWith("DATE") || t.startsWith("TIMESTAMP")) "long"
    else if (t.startsWith("DOUBLE") || t.startsWith("FLOAT")) "double"
    else if (t.startsWith("STRING") || t.startsWith("VARCHAR")) "string"
    else "unsupported"
  }
}
