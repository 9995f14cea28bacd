package graft

import org.apache.spark.sql.SparkSession

/** The one engine session every main, tool and test suite runs on: the
  * local master, the shuffle width and the engine conf set are decided
  * here and nowhere else, so what `Verify` checks, `Bench` times and the
  * tools profile is the same engine. Callers pass only deployment paths.
  */
object Engine {

  /** Local cores and shuffle width: `SPARK_GRAFT_CPUS`, default 4. */
  val Cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Every conf a session built here carries, besides the cpu-derived
    * master and shuffle width. */
  val confs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    // v2 file-output commit: task output renames straight to the
    // destination at task commit instead of a second serial job-commit
    // rename pass — one fewer rename per written file on every write job
    // that goes through Spark's file committer (DataFrame parquet writes,
    // the Iceberg export's data files). IceLite's own writes do not: its
    // tasks write their files in place (TaskWriter). Scale-independent:
    // the same setting is the standard choice on HDFS-like stores;
    // object-store deployments replace the committer wholesale anyway.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    // fork-free local-FS permissions (see NioLocalFs scaladoc): without
    // libhadoop every local mkdirs/create forks a chmod process
    "spark.hadoop.fs.file.impl" -> "graft.icelite.NioLocalFs",
    // streaming offset/commit WALs through the FileSystem API (and thus
    // NioLocalFs above) instead of the default FileContext manager, whose
    // local AbstractFileSystem forks a chmod per created WAL file — the
    // same fork NioLocalFs removes from the data path. Rename-on-commit
    // atomicity is preserved (RenameBasedFSDataOutputStream either way).
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
    // checksum sidecars off: they DOUBLE the file creations per epoch
    // (one .checksum per WAL file — a fixed per-epoch tax on any store)
    // to guard tiny single-fsync files whose rename-based commit already
    // fails loudly on a torn write; deployments on stores with silent
    // corruption can re-enable per session. StreamingSpec's restart /
    // exactly-once cases run under this exact configuration.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.sql.extensions" -> "graft.icelite.connector.IceLiteExtensions")

  /** The engine session on `local[cpus]` with `cpus` shuffle partitions.
    * `warehouseDir` places `saveAsTable` targets; `iceliteWarehouse`
    * mounts the IceLite catalog as `icelite` over that directory. */
  def session(cpus: Int = Cpus, warehouseDir: Option[String] = None,
      iceliteWarehouse: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
    confs.foreach { case (k, v) => b.config(k, v) }
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    iceliteWarehouse.foreach { wh =>
      b.config("spark.sql.catalog.icelite", "graft.icelite.connector.IceLiteCatalog")
        .config("spark.sql.catalog.icelite.warehouse", wh)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
