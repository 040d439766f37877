package graft.jobs

import graft.SparkSuite
import graft.extract.Extract
import graft.text.{ChunkConfig, Chunker}
import graft.table.{IcebergLite, SyntheticPages}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class RagJobsSpec extends AnyFunSuite with SparkSuite {

  test("buildIndex: pages → extract → chunk → embed, one lazy DAG, stable ids") {
    val pages = SyntheticPages.generate(spark, 200, partitions = 4).toDF()
    val idx = RagJobs.buildIndex(pages)
    // single shuffle-free stage until here
    assert(!idx.queryExecution.executedPlan.toString.contains("Exchange"))
    val rows = idx.collect()
    assert(rows.nonEmpty)
    // one row per chunk of each successfully extracted page
    val chunks = Extract.extractPages(pages).filter(_.succeeded).collect()
      .map(e => Chunker.chunkWithMeta(e.extracted_text, ChunkConfig()).length).sum
    assert(rows.length == chunks && rows.map(_.id).distinct.length == chunks)
    assert(rows.forall(_.embedding.length == 384))
    assert(rows.forall(r => r.id == r.url.replace('/', '_').replace(':', '_') +
      "_chunk_" + r.chunk_index))
    // deterministic across runs
    val rows2 = RagJobs.buildIndex(pages).collect()
    assert(rows.map(_.id).sorted.toSeq == rows2.map(_.id).sorted.toSeq)
  }

  test("buildAndWrite + query: end-to-end retrieval with reference formatting") {
    val dir = Files.createTempDirectory("rag-index").toString
    val out = new IcebergLite(dir)
    val pages = SyntheticPages.generate(spark, 150, partitions = 4).toDF()
    val n = RagJobs.buildAndWrite(pages, out)
    assert(n > 0)
    val index = out.read(spark)
    assert(out.manifest(spark).select("rows").collect()(0).getString(0) ==
      index.count().toString)
    val answer = RagJobs.query(index, "analytics engine processes web corpus data", topK = 3)
    assert(answer.startsWith("[Result 1, Score: "))
    assert(answer.split("\n\n---\n\n").length <= 3)
    out.drop(spark)
  }
}
