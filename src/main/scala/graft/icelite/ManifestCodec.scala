package graft.icelite

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}
import scala.jdk.CollectionConverters._

/** The one payload codec for manifest chunks: avro, Iceberg's own
  * manifest format, and the right shape for this payload: row-wise small
  * records, schema embedded in the container file (so field access is by
  * name and survives codec evolution), no per-read footer/assembly setup.
  * At the default 5000-entry chunk an avro parse was measured 2.3× cheaper
  * than the JSON payload it replaced; at 10M files (≈2000 chunk loads for
  * an unpruned plan) that difference is the planning path.
  *
  * [[ManifestIO]] refuses a `.json` chunk ref by name. Chunks are
  * immutable UUID-named DATA-plane artifacts like data/delete parquets —
  * referenced only by a version file committed AFTER the chunk write, so
  * plain filesystem writes need no CommitStore atomicity (a crashed
  * attempt strands an orphan the grace sweep reclaims). */
object ManifestCodec {

  private val dataSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"data_file","fields":[
      | {"name":"path","type":"string"},
      | {"name":"rows","type":"long"},
      | {"name":"schema_id","type":"int"},
      | {"name":"spec_id","type":"int"},
      | {"name":"seq","type":"long"},
      | {"name":"part","type":{"type":"map","values":"string"}},
      | {"name":"stat","type":{"type":"array","items":{"type":"record","name":"col_stat","fields":[
      |   {"name":"fid","type":"int"},{"name":"mn","type":"string"},{"name":"mx","type":"string"}]}}},
      | {"name":"nm","type":"boolean","default":false},
      | {"name":"frid","type":"long","default":-1},
      | {"name":"mlin","type":"boolean","default":false}]}"""
      .stripMargin)

  private val deleteSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"delete_file","fields":[
      | {"name":"path","type":"string"},
      | {"name":"rows","type":"long"},
      | {"name":"kind","type":"string"},
      | {"name":"eq_fid","type":{"type":"array","items":"int"}},
      | {"name":"seq","type":"long"},
      | {"name":"plo","type":["null","string"],"default":null},
      | {"name":"phi","type":["null","string"],"default":null}]}""".stripMargin)

  /** Chunk IO rides the table's Hadoop `FileSystem` (resolved from the
    * chunk path's own scheme), NOT `java.io.File` — a table on HDFS/an
    * object store must find its manifests where the `ManifestRef` says
    * they are, and the expire/orphan sweeps (which list and delete through
    * the same FS) must see them. Avro writes to any `OutputStream`; reads
    * go through [[FsSeekableInput]] (avro's `SeekableInput` over
    * `FSDataInputStream` — hadoop-client-api's own AvroFSInput binds to a
    * SHADED avro, so the five-line bridge is spelled here), which means no
    * local-path view exists anywhere on the manifest plane. */
  private[icelite] final class FsSeekableInput(in: FSDataInputStream, len: Long)
      extends org.apache.avro.file.SeekableInput {
    override def seek(p: Long): Unit = in.seek(p)
    override def tell(): Long = in.getPos
    override def length(): Long = len
    override def read(b: Array[Byte], off: Int, l: Int): Int = in.read(b, off, l)
    override def close(): Unit = in.close()
  }

  private[icelite] def openSeekable(p: Path, conf: Configuration): FsSeekableInput = {
    val fs = FileSystem.get(p.toUri, conf)
    new FsSeekableInput(fs.open(p), fs.getFileStatus(p).getLen)
  }

  def writeData(p: Path, files: Seq[DataFile], conf: Configuration): Unit = {
    val fs = FileSystem.get(p.toUri, conf)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](dataSchema))
    w.create(dataSchema, fs.create(p, false))
    try files.foreach { df =>
      val r = new GenericData.Record(dataSchema)
      r.put("path", df.path); r.put("rows", df.rows)
      r.put("schema_id", df.schemaId); r.put("spec_id", df.specId)
      r.put("seq", df.seq)
      r.put("part", df.partition.asJava)
      r.put("stat", df.stats.toSeq.sortBy(_._1).map { case (fid, cs) =>
        val sr = new GenericData.Record(dataSchema.getField("stat").schema().getElementType)
        sr.put("fid", fid); sr.put("mn", cs.min); sr.put("mx", cs.max)
        sr
      }.asJava)
      r.put("nm", df.nameMapped)
      r.put("frid", df.firstRowId.getOrElse(-1L))
      r.put("mlin", df.materializedLineage)
      w.append(r)
    } finally w.close()
  }

  def readData(p: Path, conf: Configuration): Seq[DataFile] = {
    val r = new DataFileReader[GenericRecord](
      openSeekable(p, conf), new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.map { g =>
      DataFile(
        IceLite.canonicalPath(g.get("path").toString), g.get("rows").asInstanceOf[Long],
        g.get("schema_id").asInstanceOf[Int], g.get("spec_id").asInstanceOf[Int],
        g.get("part").asInstanceOf[java.util.Map[AnyRef, AnyRef]].asScala
          .map { case (k, v) => k.toString -> v.toString }.toMap,
        g.get("stat").asInstanceOf[java.util.List[GenericRecord]].asScala
          .map(s => s.get("fid").asInstanceOf[Int] ->
            ColumnStats(s.get("mn").toString, s.get("mx").toString)).toMap,
        g.get("seq").asInstanceOf[Long],
        // absent in pre-adoption chunks (embedded writer schema): physical
        Option(g.get("nm")).exists(_ == true),
        // absent in pre-lineage chunks; -1 = written without an id block
        Option(g.get("frid")).map(_.asInstanceOf[Long]).filter(_ >= 0),
        Option(g.get("mlin")).exists(_ == true))
    }.toList
    finally r.close()
  }

  def writeDeletes(p: Path, files: Seq[DeleteFile], conf: Configuration): Unit = {
    val fs = FileSystem.get(p.toUri, conf)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](deleteSchema))
    w.create(deleteSchema, fs.create(p, false))
    try files.foreach { df =>
      val r = new GenericData.Record(deleteSchema)
      r.put("path", df.path); r.put("rows", df.rows); r.put("kind", df.kind)
      r.put("eq_fid", df.eqFieldIds.map(Int.box).asJava)
      r.put("seq", df.seq)
      r.put("plo", df.pathLo.orNull)
      r.put("phi", df.pathHi.orNull)
      w.append(r)
    } finally w.close()
  }

  def readDeletes(p: Path, conf: Configuration): Seq[DeleteFile] = {
    val r = new DataFileReader[GenericRecord](
      openSeekable(p, conf), new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.map { g =>
      DeleteFile(
        g.get("path").toString, g.get("rows").asInstanceOf[Long],
        g.get("kind").toString,
        g.get("eq_fid").asInstanceOf[java.util.List[AnyRef]].asScala
          .map(_.asInstanceOf[Int]).toSeq,
        g.get("seq").asInstanceOf[Long],
        Option(g.get("plo")).map(_.toString),
        Option(g.get("phi")).map(_.toString))
    }.toList
    finally r.close()
  }
}
