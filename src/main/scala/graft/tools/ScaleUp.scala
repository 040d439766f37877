package graft.tools

import org.apache.spark.sql.functions._

/** Synthesize a larger scale tier from an existing testdata dir by
  * replicating the FACT tables `factor` times with interleaved ids
  * (new_id = old_id * factor + copy). Interleaving — rather than
  * offsetting — keeps every `id < K` query filter selecting `factor`×
  * the rows it used to, so the dedup/near-dup candidate volume genuinely
  * grows with the tier instead of being capped by the filter. Identical
  * texts/vectors across copies form factor-cliques of exact near-dups —
  * a deliberately HARDER pair-mining workload than the source tier.
  *
  * Dimension tables (customer/supplier/part/nation/region) keep their
  * size, like TPC-H dims relative to facts; fact join keys are remapped
  * consistently on both sides (orders.o_orderkey <-> lineitem.l_orderkey).
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> [factor=10]
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.util.Sessions.local(graft.util.Sessions.cpus, "graft-scaleup")

    def replicate(table: String, idCols: Seq[String]): Unit = {
      val df = spark.read.parquet(s"$src/$table.parquet")
      val copies = explode(sequence(lit(0), lit(factor - 1))).as("copy")
      val scaled = idCols.foldLeft(df.select(col("*"), copies)) { (d, c) =>
        d.withColumn(c, col(c) * factor + col("copy"))
      }.drop("copy")
      scaled.write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"scaleup: $table -> ${factor}x")
    }
    def passthrough(table: String): Unit = {
      spark.read.parquet(s"$src/$table.parquet")
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"scaleup: $table -> 1x (dimension)")
    }

    replicate("documents", Seq("doc_id"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("embeddings", Seq("vec_id"))
    replicate("orders", Seq("o_orderkey"))
    replicate("lineitem", Seq("l_orderkey"))
    Seq("customer", "supplier", "part", "nation", "region").foreach(passthrough)
    spark.stop()
  }
}
