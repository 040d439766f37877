package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source guards. Every session comes from `graft.util.Sessions`:
  * hand-built sessions are how the mains' and suites' configs drifted
  * apart. Main code names no absolute checkout path: it resolves
  * project files against the working directory. Fixture generators
  * live in test code (`graft.fixtures`), not beside the decoders. No
  * process-wide state passes arguments: an oracle gets its tier as a
  * parameter, not through a system property or the active session.
  * The job and table code reach files through the Hadoop `FileSystem`
  * API only: `java.io.File` sees a local path, never a `file:`,
  * `hdfs:` or `s3a:` URI. Main code takes the session's Hadoop
  * configuration: a fresh `Configuration` drops its `spark.hadoop.*`
  * settings, such as S3A credentials. Tools take their tier as an
  * argument; only Bench, the external driver's surface, defaults one.
  */
class SessionGuardSpec extends AnyFunSuite {

  /** Scala sources under `root` whose text satisfies `hit`. */
  private def sourcesWhere(root: String)(hit: String => Boolean): Seq[java.nio.file.Path] = {
    val walk = Files.walk(Paths.get(root))
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    sources.filter(p => hit(new String(Files.readAllBytes(p), ISO_8859_1)))
  }

  private def sourcesContaining(root: String, needle: String): Seq[java.nio.file.Path] =
    sourcesWhere(root)(_.contains(needle))

  test("session builders appear only in graft.util.Sessions") {
    val needle = "SparkSession" + ".builder()" // split: this file is no hit
    val hits = Seq("src/main", "src/test").flatMap(sourcesContaining(_, needle))
    assert(hits == Seq(Paths.get("src/main/scala/graft/util/Sessions.scala")),
      hits.mkString(", "))
  }

  test("main code names no absolute checkout path") {
    val hits = sourcesContaining("src/main", Seq("", "root", "repo").mkString("/"))
    assert(hits.isEmpty, hits.mkString(", "))
  }

  test("main code names no test-data tier outside Bench") {
    val tier = Seq("", "root", "testdata").mkString("/")
    val hits = sourcesContaining("src/main", tier)
      .filterNot(_ == Paths.get("src/main/scala/graft/Bench.scala"))
    assert(hits.isEmpty, hits.mkString(", "))
  }

  test("main code builds no Hadoop Configuration of its own") {
    val fresh = """new\s+(org\.apache\.hadoop\.conf\.)?Configuration\s*\(""".r
    val hits = sourcesWhere("src/main")(fresh.findFirstIn(_).isDefined)
    assert(hits.isEmpty, hits.mkString(", "))
  }

  test("main code sets no JVM system property and looks up no active session") {
    val global = """sys\.props\([^)]*\)\s*=|System\.setProperty|getActiveSession""".r
    val hits = sourcesWhere("src/main")(global.findFirstIn(_).isDefined)
    assert(hits.isEmpty, hits.mkString(", "))
  }

  test("job and table code name no java.io.File") {
    val local = """java\.io\.File\b""".r
    val hits = Seq("src/main/scala/graft/jobs", "src/main/scala/graft/table")
      .flatMap(sourcesWhere(_)(local.findFirstIn(_).isDefined))
    assert(hits.isEmpty, hits.mkString(", "))
  }

  test("main code defines no fixture generator (def golden*, make*, fake*)") {
    val generator = """\bdef\s+(golden|make|fake)[A-Z]""".r
    val hits = sourcesWhere("src/main")(generator.findFirstIn(_).isDefined)
    assert(hits.isEmpty, hits.mkString(", "))
  }
}
