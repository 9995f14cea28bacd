package graft

import org.apache.hadoop.fs.FileSystem

/** The test session is the engine session: suites run the confs and the
  * local file system that Bench and Verify run. */
class EngineSpec extends SparkSpec {

  test("the test session carries every Engine conf and resolves file:// to NioLocalFs") {
    Engine.confs.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(FileSystem.getFileSystemClass("file", spark.sparkContext.hadoopConfiguration)
      == classOf[icelite.NioLocalFs])
  }
}
