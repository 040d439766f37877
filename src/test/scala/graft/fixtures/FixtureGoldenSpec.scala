package graft.fixtures

import graft.{GoldenGen, SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite
import java.io.File

/** The committed PDF and media goldens are what the fixture generators
  * build: every row of `pdfs.parquet` and `media*.parquet` is rebuilt
  * through [[GoldenGen.fixtureTables]] and compared, payload bytes and
  * truth columns alike. A generator edit that changes a byte fails here
  * instead of silently drifting from the oracle's truth.
  */
class FixtureGoldenSpec extends AnyFunSuite with SparkSuite {

  test("committed pdf and media goldens equal a rebuild from the fixture generators") {
    val tables = GoldenGen.fixtureTables(spark)
    val committedFiles = new File(SparkEntry.goldenDir).list().toSeq
      .filter(f => f == "pdfs.parquet" || (f.startsWith("media") && f.endsWith(".parquet")))
    assert(tables.map(_._1 + ".parquet").sorted == committedFiles.sorted)
    tables.foreach { case (name, built) =>
      val committed = spark.read.parquet(s"${SparkEntry.goldenDir}/$name.parquet")
      assert(built.schema.map(f => (f.name, f.dataType)) ==
        committed.schema.map(f => (f.name, f.dataType)), name)
      assert(built.count() == committed.count(), name)
      val missing = committed.exceptAll(built).select("id").limit(5).collect()
      val extra = built.exceptAll(committed).select("id").limit(5).collect()
      assert(missing.isEmpty && extra.isEmpty,
        s"$name: committed rows not rebuilt ${missing.mkString(",")}; " +
          s"rebuilt rows not committed ${extra.mkString(",")}")
    }
  }
}
