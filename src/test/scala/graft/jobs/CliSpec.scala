package graft.jobs

import graft.{SparkSuite, TempDirs}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** CLI verb smoke tests: the reference's standalone embed/index verbs
  * (core/cli/app.py:131-215, 218-271) over the library seams, plus the
  * staged (cache-free) extract path.
  *
  * Cli.main builds and stops its own session; `spark` starts a fresh
  * one after it.
  */
class CliSpec extends AnyFunSuite with SparkSuite with TempDirs {

  test("embed verb: text file → chunked + embedded parquet") {
    val work = tempDir("cli-embed")
    val txt = work.resolve("input.txt")
    val body = (1 to 60).map(i => s"Sentence number $i about spark tables and rows.").mkString(" ")
    Files.writeString(txt, body)
    val out = work.resolve("embeddings_out").toString
    val printed = new java.io.ByteArrayOutputStream()
    Console.withOut(printed) {
      Cli.main(Array("embed", txt.toString, out, "--chunk-size", "200"))
    }

    val df = spark.read.parquet(out)
    assert(df.columns.toSet == Set("chunk_index", "chunk_text", "embedding"))
    val rows = df.count()
    assert(rows > 1) // 60 sentences at chunk 200 → several chunks
    // the printed count comes from the written files' footers
    assert("""chunks=(\d+)""".r.findFirstMatchIn(printed.toString).map(_.group(1).toLong)
      .contains(rows), printed.toString)
    import org.apache.spark.sql.functions._
    assert(df.where(size(col("embedding")) =!= 384).count() == 0)
  }

  test("embed verb: pre-chunked parquet without chunk_index gets a distributed id (no global sort)") {
    val work = tempDir("cli-embed-prechunked")
    import testImplicits._
    val in = work.resolve("chunks_in").toString
    (1 to 200).map(i => s"pre-chunked text body number $i")
      .toDF("chunk_text").repartition(4)
      .write.parquet(in)
    val out = work.resolve("emb_out").toString
    Cli.main(Array("embed", in, out))
    val df = spark.read.parquet(out)
    assert(df.count() == 200)
    // ids must be unique across partitions (monotonically_increasing_id,
    // kept as long — an int cast would collide past 4 partitions)
    assert(df.select("chunk_index").distinct().count() == 200)
    // and the synthesized-id plan must not single-partition sort the
    // input: no Window/global Sort, no SinglePartition exchange
    val probe = spark.read.parquet(in)
      .withColumn("chunk_index",
        org.apache.spark.sql.functions.monotonically_increasing_id())
    val plan = probe.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition") && !plan.contains("Window"), plan)
  }

  test("extract verb: cache-free staged input, unit-partitioned resume table") {
    val work = tempDir("cli-extract")
    val out = work.resolve("table").toString
    Cli.main(Array("extract", "synth:200", out, "--units", "2"))
    val t = new graft.table.IcebergLite(out)
    assert(t.committedUnits(spark) == Seq(0, 1))
    assert(t.read(spark).count() == 200)
    // the staged copy of the input is gone once the units have run
    assert(!new java.io.File(s"$out/_staged_pages").exists())
  }

  test("extract verb: a file: URI table path commits every row") {
    val out = tempDir("cli-extract-uri").resolve("table").toUri.toString
    assert(out.startsWith("file:"))
    Cli.main(Array("extract", "synth:200", out, "--units", "2"))
    val t = new graft.table.IcebergLite(out)
    assert(t.committedUnits(spark) == Seq(0, 1))
    assert(t.read(spark).count() == 200)
  }

  test("extract verb: a one-file parquet source is staged as several files per unit") {
    val work = tempDir("cli-extract-one-file")
    val src = work.resolve("pages.parquet").toString
    graft.table.SyntheticPages.generate(spark, 200).toDF().coalesce(1).write.parquet(src)
    val out = work.resolve("table").toString
    Cli.main(Array("extract", src, out, "--units", "2"))
    // a one-file source must not run a unit's whole cascade as one task
    val tasks = new graft.table.IcebergLite(out).read(spark)
      .groupBy("unit").agg(org.apache.spark.sql.functions.countDistinct("task_partition").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(tasks.keySet == Set(0, 1) && tasks.values.forall(_ > 1), tasks)
    assert(!new java.io.File(s"$out/_staged_pages").exists())
  }

  test("extract verb: warc: source ingests .warc.gz files end to end") {
    val work = tempDir("cli-extract-warc")
    val warcDir = work.resolve("crawl")
    Files.createDirectories(warcDir)
    val pages = (0L until 50L).map(id => graft.table.SyntheticPages.pageFor(42L, id))
    pages.grouped(25).zipWithIndex.foreach { case (batch, i) =>
      Files.write(warcDir.resolve(f"seg-$i%05d.warc.gz"),
        graft.sources.Warc.encodeFile(batch.map(p =>
          graft.sources.Warc.encodeRecord(p.url, "2024-01-01T00:00:00Z", p.html))))
    }
    def listing(): Seq[String] = {
      val s = Files.list(warcDir)
      try s.iterator.asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
    }
    val before = listing()
    val out = work.resolve("table").toString
    Cli.main(Array("extract", s"warc:${warcDir.toUri}", out, "--units", "2"))
    // the read writes nothing beside its input
    assert(listing() == before && before.forall(_.endsWith(".warc.gz")), listing())
    val t = new graft.table.IcebergLite(out)
    assert(t.read(spark).count() == 50)
    assert(t.read(spark).where(org.apache.spark.sql.functions.col("succeeded"))
      .count() > 0)
  }

  test("extract verb: empty units (xxhash mod leaves gaps) commit zero rows, not a crash") {
    // 3 pages over 8 units → at least 5 units have no hive directory;
    // each must read as empty and still commit for idempotent resume
    val work = tempDir("cli-extract-empty")
    val out = work.resolve("table").toString
    Cli.main(Array("extract", "synth:3", out, "--units", "8"))
    val t = new graft.table.IcebergLite(out)
    assert(t.committedUnits(spark) == (0 until 8))
    assert(t.read(spark).count() == 3)
  }

  test("extract verb: --extractors reorders the cascade through the layered config") {
    val work = tempDir("cli-extract-cfg")
    val out = work.resolve("table").toString
    Cli.main(Array("extract", "synth:100", out,
      "--extractors", "http", "--min-length", "10"))
    import org.apache.spark.sql.functions._
    val strategies = new graft.table.IcebergLite(out).read(spark)
      .where(col("succeeded"))
      .select("strategy_used").distinct()
      .collect().map(_.getString(0)).toSet
    assert(strategies == Set("http"), s"config-ordered cascade ignored: $strategies")
  }

  test("--version prints the engine version and exits; --async fronts the http strategy") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { Cli.main(Array("--version")) }
    assert(out.toString.trim == Cli.Version)

    val work = tempDir("cli-async")
    val tbl = work.resolve("table").toString
    Cli.main(Array("extract", "synth:60", tbl, "--async", "--min-length", "10"))
    import org.apache.spark.sql.functions._
    val strategies = new graft.table.IcebergLite(tbl).read(spark)
      .where(col("succeeded")).select("strategy_used").distinct()
      .collect().map(_.getString(0)).toSet
    // --async promotes http to the cascade front: short-circuit means
    // every success is the http strategy
    assert(strategies == Set("http"), s"--async did not front http: $strategies")
  }

  test("info runs without configuration and echoes the environment (test_cli.py:14-18)") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { Cli.main(Array("info")) }
    val s = out.toString
    assert(s.contains("\"environment\""), s)
    assert(s.contains("\"minimum_content_length\": 200"), s)
    // named environment override flows through (reference --environment)
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out2)) {
      Cli.main(Array("info", "--environment", "staging"))
    }
    assert(out2.toString.contains("\"environment\": \"staging\""), out2.toString)
  }

  test("extract epilogue: completion line, threshold note + warning echo (test_cli.py:46,87-118)") {
    val work = tempDir("cli-epilogue")
    val tbl = work.resolve("table").toString
    val out = new java.io.ByteArrayOutputStream()
    // min-length far above any synthetic page's text: every success is
    // a best-short partial with a warning, like the reference's
    // partial+warnings metadata case
    Console.withOut(new java.io.PrintStream(out)) {
      Cli.main(Array("extract", "synth:40", tbl, "--min-length", "100000"))
    }
    val s = out.toString
    assert(s.contains("Pipeline completed successfully."), s)
    assert(s.contains("  extractor: "), s)
    // the job runs no processor, so the epilogue names none
    assert(!s.linesIterator.exists(_.trim.startsWith("processors:")), s)
    assert(s.contains("  environment: default"), s)
    assert(s.contains("  note: content below configured minimum threshold"), s)
    assert(s.toLowerCase.contains("warning:"), s)
    // the printed counts are the committed table's
    import org.apache.spark.sql.functions._
    val t = new graft.table.IcebergLite(tbl).read(spark)
    val rows = t.count()
    val ok = t.where(col("succeeded")).count()
    val chars = t.agg(sum(length(col("extracted_text")))).head().getLong(0)
    assert(rows > 0 && chars > 0)
    val printed = """rows=(\d+) succeeded=(\d+)""".r.findFirstMatchIn(s).get
    assert((printed.group(1).toLong, printed.group(2).toLong) == ((rows, ok)), s)
    assert("""content-characters: (\d+)""".r.findFirstMatchIn(s).get.group(1).toLong == chars, s)
  }

  test("extract url: target gets the default https scheme (test_cli.py:55-84)") {
    assert(Cli.normalizeTargetUrl("example.com/article") == "https://example.com/article")
    assert(Cli.normalizeTargetUrl("https://example.com") == "https://example.com")
    assert(Cli.normalizeTargetUrl("  //example.com ") == "https://example.com")
    intercept[IllegalArgumentException] { Cli.normalizeTargetUrl("   ") }

    // end-to-end: single-target mode stages the NORMALIZED url; with no
    // fetcher in the sandbox the row surfaces as the reference's
    // fetch-failure reason row (errors as data)
    val work = tempDir("cli-url")
    val tbl = work.resolve("table").toString
    Cli.main(Array("extract", "url:example.com/article", tbl, "--units", "1"))
    val rows = new graft.table.IcebergLite(tbl).read(spark)
      .select("url", "succeeded", "failure_reason").collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "https://example.com/article")
    assert(!rows(0).getBoolean(1) && rows(0).getString(2) != null)
  }

  test("index verb: embeddings parquet → committed searchable index; query retrieves") {
    val work = tempDir("cli-index")
    val txt = work.resolve("input.txt")
    Files.writeString(txt,
      "Spark processes tables of rows. The cascade extracts article text. " +
      "Vector search ranks chunks by cosine similarity. " * 10)
    val emb = work.resolve("emb_out").toString
    val idx = work.resolve("index_table").toString
    Cli.main(Array("embed", txt.toString, emb, "--chunk-size", "120"))
    Cli.main(Array("index", emb, idx))

    val table = new graft.table.IcebergLite(idx)
    assert(table.committedUnits(spark) == Seq(0))
    val index = table.read(spark)
    assert(index.columns.contains("embedding") && index.count() > 0)
    assert(table.manifest(spark).select("rows").collect()(0).getString(0) ==
      index.count().toString)
    val answer = RagJobs.query(index, "cosine similarity vector search", topK = 2)
    assert(answer.contains("[Result 1, Score:"))
  }
}
