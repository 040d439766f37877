package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class VerifySpec extends AnyFunSuite with SparkSuite with TempDirs {

  test("a tier that breaks an oracle fails its query and still writes oracle_sql.json") {
    val work = tempDir("verify")
    val missing = work.resolve("no-such-tier").toString
    val out = work.resolve("out")
    // neardup_lsh sizes its oracle from the tier; q1_agg's oracle is a
    // constant, so it is written although its query fails
    val failed = Verify.dump(spark, missing, out.toString, Some(Set("q1_agg", "neardup_lsh")))
    assert(failed.map(_.takeWhile(_ != ' ')).toSet == Set("q1_agg", "neardup_lsh"), failed)
    val json = new ObjectMapper().readTree(Files.readString(out.resolve("oracle_sql.json")))
    assert(json.fieldNames.asScala.toSeq == Seq("q1_agg"))
  }
}
