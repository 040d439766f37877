package graft.table

import graft.{SparkSuite, TempDirs}
import org.scalatest.funsuite.AnyFunSuite

/** Ports the reference storage-format tests (tests/unit/test_storage.py:
  * envelope shapes, slug rules, unicode round-trip). Documented
  * divergence: JSON bodies are Spark to_json compact form, not Python
  * json.dumps(indent=2); field names and order are pinned here.
  */
class FormatSinkSpec extends AnyFunSuite with SparkSuite with TempDirs {

  import testImplicits._

  private def row(content: String = "Body text.",
      title: String = "Test Article Title!",
      url: String = "https://ex.com/a",
      author: String = "Jane",
      date: String = "2024-01-01") =
    Seq((content, title, url, author, date, "2024-06-01T00:00:00Z"))
      .toDF("content", "title", "url", "author", "date", "timestamp")

  private def body(format: String, df: org.apache.spark.sql.DataFrame = row()) =
    FormatSink.envelope(df, format).collect()(0).getString(1)

  test("md envelope matches the reference byte layout") {
    assert(body("md") ==
      "# Test Article Title!\n**Source URL:** https://ex.com/a\n" +
      "**Author:** Jane\n**Date:** 2024-01-01\n---\n\nBody text.")
  }

  test("md envelope omits absent metadata lines") {
    val df = Seq(("C", null: String, null: String, null: String, null: String, "t"))
      .toDF("content", "title", "url", "author", "date", "timestamp")
    assert(FormatSink.envelope(df, "md").collect()(0).getString(1) == "---\n\nC")
  }

  test("txt envelope is the raw content") {
    assert(body("txt") == "Body text.")
  }

  test("json envelope carries content/metadata/timestamp") {
    val b = body("json")
    assert(b.startsWith("{\"content\":\"Body text.\""))
    assert(b.contains("\"metadata\":{\"title\":\"Test Article Title!\""))
    assert(b.contains("\"timestamp\":\"2024-06-01T00:00:00Z\""))
  }

  test("ndjson envelope is 3 JSON lines: content, metadata, timestamp") {
    val lines = body("ndjson").split("\n")
    assert(lines.length == 3)
    assert(lines(0).startsWith("{\"content\":"))
    assert(lines(1).startsWith("{\"metadata\":"))
    assert(lines(2).startsWith("{\"timestamp\":"))
  }

  test("slug rules: lowercase, non-alnum to dash, trimmed, fallbacks") {
    def slugOf(title: String, url: String) =
      FormatSink.envelope(row(title = title, url = url), "txt")
        .collect()(0).getString(0)
    assert(slugOf("Test Article Title!", "u") == "test-article-title")
    assert(slugOf("  ++Weird__Chars++  ", "u") == "weird-chars")
    assert(slugOf(null, "https://ex.com/path") == "https-ex-com-path")
    assert(slugOf("!!!", "???") == "scrag-output")
  }

  test("unicode content round-trips through file materialization") {
    val df = row(content = "Ünïcödé — 中文テキスト ✓", title = "Ünïcödé Tïtle")
    val dir = tempDir("fmt").toString
    val files = FormatSink.writeFiles(df, dir, "md")
    assert(files.length == 1)
    assert(files.head.endsWith("unicode-title.md") || files.head.endsWith(".md"))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(files.head))
    assert(new String(bytes, "UTF-8").contains("中文テキスト ✓"))
  }

  test("unsupported format rejected like the reference") {
    val e = intercept[IllegalArgumentException](FormatSink.envelope(row(), "xml"))
    assert(e.getMessage.contains("Unsupported format"))
    assert(e.getMessage.contains("json, md, ndjson, txt"))
  }

  test("distributed write produces a readable (slug, body) table") {
    val dir = tempDir("fmtp").toString
    FormatSink.write(row(), dir, "json")
    val back = spark.read.parquet(dir)
    assert(back.columns.toSeq == Seq("slug", "body"))
    assert(back.count() == 1)
  }
}
