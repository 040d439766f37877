package graft

import graft.extract.{CascadeConfig, CascadeExtractor}
import graft.table.SyntheticPages
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Byte-identical extraction contract: every run must reproduce the
  * frozen goldens exactly (BASELINE.json north_rule: "byte-identical
  * extracted text per url"). Regenerate only deliberately via GoldenGen.
  */
class GoldenSpec extends AnyFunSuite {

  private val dir = Paths.get("src/test/resources/golden")

  test("corpus digests: 500 synthetic pages match frozen digests line-by-line") {
    val expected = new String(
      Files.readAllBytes(dir.resolve("corpus_digests.txt")),
      StandardCharsets.UTF_8).split("\n", -1).filter(_.nonEmpty)
    assert(expected.length == GoldenGen.CorpusSize)
    var mismatches = 0
    (0L until GoldenGen.CorpusSize).foreach { id =>
      val actual = GoldenGen.digestLine(id)
      if (actual != expected(id.toInt)) {
        mismatches += 1
        if (mismatches <= 3)
          fail(s"golden mismatch for id=$id\n  expected: ${expected(id.toInt)}\n  actual:   $actual")
      }
    }
    assert(mismatches == 0)
  }

  test("strategy digests: every strategy's output per corpus page matches frozen digests line-by-line") {
    val expected = new String(
      Files.readAllBytes(dir.resolve("strategy_digests.txt")),
      StandardCharsets.UTF_8).split("\n", -1).filter(_.nonEmpty).toSeq
    val actual = (0L until GoldenGen.CorpusSize).flatMap(GoldenGen.strategyDigestLines)
    assert(expected.length == actual.length)
    val diffs = expected.zip(actual).filter { case (e, a) => e != a }
    if (diffs.nonEmpty) fail(diffs.take(3).map { case (e, a) =>
      s"\n  expected: $e\n  actual:   $a" }.mkString(s"${diffs.size} strategy digests differ:", "", ""))
  }

  test("fulltext goldens: byte-identical extracted text per representative page") {
    val fullDir = dir.resolve("fulltext")
    val files = Files.list(fullDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
    assert(files.nonEmpty)
    files.foreach { f =>
      val name = f.getFileName.toString.stripSuffix(".txt")
      val id = name.substring(name.lastIndexOf('-') + 1).toLong
      val page = SyntheticPages.pageFor(GoldenGen.Seed, id)
      val ex = CascadeExtractor.pooled().extract(page.url, page.html, CascadeConfig())
      val actual = if (ex.extracted_text == null) "" else ex.extracted_text
      val expected = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      assert(actual == expected, s"fulltext golden mismatch for $name")
    }
  }

  test("generator is deterministic and parallelism-independent") {
    val a = (0L until 50L).map(SyntheticPages.pageFor(GoldenGen.Seed, _))
    val b = (0L until 50L).reverse.map(SyntheticPages.pageFor(GoldenGen.Seed, _)).reverse
    a.zip(b).foreach { case (x, y) =>
      assert(x.url == y.url && java.util.Arrays.equals(x.html, y.html))
    }
  }
}
