package graft.icelite

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** A local name the JVM's file-name encoding cannot represent must fail
  * before anything reaches the disk: `java.io.File` would otherwise
  * create it with `?` in place of each such character. The encoding is
  * fixed at JVM start from the locale, so the probe runs in a child JVM
  * started under `LC_ALL=C`. */
class LocalFsCharsetSpec extends AnyFunSuite {
  test("NioLocalFs refuses an unrepresentable name under a non-UTF-8 locale and creates nothing") {
    val base = Files.createTempDirectory("fscharset")
    val java = s"${System.getProperty("java.home")}/bin/java"
    val pb = new ProcessBuilder(java, "-Xmx128m",
      "-cp", System.getProperty("java.class.path"),
      LocalFsCharsetProbe.getClass.getName.stripSuffix("$"), base.toString)
      .redirectErrorStream(true)
    pb.environment().put("LC_ALL", "C")
    val child = pb.start()
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor() == 0, out)
    assert(out.contains("jnu=") && !out.contains("jnu=UTF-8"),
      s"the child's file-name encoding must not be UTF-8: $out")
    assert(out.contains("mkdirs=refused") && out.contains("create=refused"), out)
    assert(out.contains("cannot be represented"), out)
    val left = scala.jdk.CollectionConverters.IteratorHasAsScala(
      Files.list(base).iterator()).asScala.map(_.getFileName.toString).toSeq
    assert(left.isEmpty, s"stray entries: $left")
  }
}

/** Under the base directory `args(0)`, tries `mkdirs` and `create` of
  * names with a non-ASCII character (built here: argv would arrive
  * through the child's encoding) and prints each outcome. */
object LocalFsCharsetProbe {
  def main(args: Array[String]): Unit = {
    println(s"jnu=${System.getProperty("sun.jnu.encoding")}")
    val fs = new NioLocalFs
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    val name = "a table é"
    def attempt(op: String)(body: => Unit): Unit =
      try { body; println(s"$op=created") }
      catch { case e: java.io.IOException => println(s"$op=refused ${e.getMessage}") }
    attempt("mkdirs")(fs.mkdirs(new Path(s"${args(0)}/$name/t")))
    attempt("create")(fs.create(new Path(s"${args(0)}/$name.parquet")).close())
  }
}
