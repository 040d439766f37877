package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every session comes from `graft.util.Sessions`: hand-built sessions
  * are how the mains' and suites' configs drifted apart.
  */
class SessionGuardSpec extends AnyFunSuite {

  test("session builders appear only in graft.util.Sessions") {
    val needle = "SparkSession" + ".builder()" // split: this file is no hit
    val sources = Seq("src/main", "src/test").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val hits = sources.filter(p =>
      new String(Files.readAllBytes(p), ISO_8859_1).contains(needle))
    assert(hits == Seq(Paths.get("src/main/scala/graft/util/Sessions.scala")),
      hits.mkString(", "))
  }
}
