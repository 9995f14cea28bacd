package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.icelite.HadoopCommitStore

/** Metadata is written as UTF-8 and must read back as UTF-8 whatever the
  * JVM's default charset. The default is fixed at JVM start, so the round
  * trip runs in a child JVM started with `-Dfile.encoding=ISO-8859-1`. */
class CommitStoreCharsetSpec extends AnyFunSuite {
  test("HadoopCommitStore reads non-ASCII metadata as UTF-8 under a non-UTF-8 default charset") {
    val file = Files.createTempDirectory("charset").resolve("v1.json").toString
    val java = s"${System.getProperty("java.home")}/bin/java"
    val child = new ProcessBuilder(java, "-Xmx128m", "-Dfile.encoding=ISO-8859-1",
      "-cp", System.getProperty("java.class.path"),
      CommitStoreCharsetProbe.getClass.getName.stripSuffix("$"), file)
      .redirectErrorStream(true).start()
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor() == 0, out)
    assert(out.contains("charset=ISO-8859-1"), s"the child's default charset was not set: $out")
    assert(out.contains("roundtrip=ok"), out)
  }
}

/** Writes `CommitStoreCharsetProbe.Text` through a [[HadoopCommitStore]]
  * at `args(0)`, reads it back and prints the default charset and whether
  * the text survived. */
object CommitStoreCharsetProbe {
  val Text = """{"lower":"keyé","upper":"日本"}"""

  def main(args: Array[String]): Unit = {
    val store = new HadoopCommitStore(FileSystem.getLocal(new Configuration()))
    val p = new Path(args(0))
    store.createExclusive(p, Text)
    val back = store.readString(p)
    println(s"charset=${java.nio.charset.Charset.defaultCharset}")
    println(if (back == Text) "roundtrip=ok" else s"roundtrip=garbled (${back.length} chars)")
  }
}
