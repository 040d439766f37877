package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Offline BPE training — run ONCE, artifact committed (the IVF/PQ
  * quantizer discipline):
  *
  *   sbt "Test/runMain graft.BpeMergesGen"
  *
  * writes src/test/resources/golden/bpe_merges.txt (deterministic:
  * lexicographic tie-breaks, sorted corpus order). After regenerating,
  * ALSO regenerate the dual-derived golden:
  *
  *   python3 tools/bpe_expected.py
  */
object BpeMergesGen {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.Sessions.local(8, "bpe-merges-gen")
    import spark.implicits._

    // bounded, deterministic training sample: the sf0.01 documents in
    // doc_id order — training is offline however big the real corpus is
    val texts = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id")
      .as[(Long, String)].collect().map(_._2).toSeq
    // merge BUDGET deliberately below the corpus's full-merge point
    // (127 merges would fold this synthetic 31-word vocabulary into one
    // token per piece, collapsing the metric onto pretokenizer piece
    // counts): a bounded vocab leaves long-tail words multi-token —
    // exactly how a real vocab ≪ corpus-diversity tokenizer bills
    val merges = graft.text.Bpe.train(texts, numMerges = 48)
    val out = Paths.get("src/test/resources/golden/bpe_merges.txt")
    Files.write(out,
      graft.text.Bpe.toLines(merges).getBytes(StandardCharsets.UTF_8))
    println(s"wrote ${merges.size} merges to $out")
    spark.stop()
  }
}
