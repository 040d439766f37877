package graft.jobs

import graft.table.{IcebergLite, SyntheticPages}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** spark-submit CLI mirroring the reference's verbs
  * (core/cli/app.py: info, extract, build_rag, query, test_pipeline).
  * The `--async` flag of the reference becomes partition parallelism —
  * here the `--cpus` option (SURVEY.md §2.7).
  *
  * Usage:
  *   graft.jobs.Cli info
  *   graft.jobs.Cli extract   <pagesParquet|synth:N> <outTable> [--min-length N] [--units N] [--extractors a,b,c]
  *   graft.jobs.Cli embed     <textFile|chunksParquet> <outParquet> [--chunk-size N] [--chunk-overlap N]
  *   graft.jobs.Cli index     <embeddingsParquet> <indexTable> [--dim N]
  *   graft.jobs.Cli build_rag <pagesParquet|synth:N> <indexTable>
  *   graft.jobs.Cli query     <indexTable> <text...> [--top-k N]
  *   graft.jobs.Cli test_pipeline <workDir>
  */
object Cli {

  private def session(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-cli")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.columnarReaderBatchSize", "64")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def loadPages(spark: SparkSession, src: String): DataFrame =
    if (src.startsWith("synth:"))
      SyntheticPages.generate(spark, src.stripPrefix("synth:").toLong).toDF()
    else if (src.startsWith("warc:"))
      // Common-Crawl-style ingestion: a directory of .warc.gz files;
      // unparseable members become failure rows and are dropped here
      // (the cascade records its own per-row failures downstream).
      // readAuto plans one task per MEMBER GROUP via cdx-style sidecar
      // indexes (built on first touch), so few fat archives still use
      // the full cluster width
      graft.sources.Warc.readAuto(spark, src.stripPrefix("warc:"))
        .where(org.apache.spark.sql.functions.col("succeeded"))
        .select("url", "warc_ts", "html")
    else if (src.startsWith("url:")) {
      // single-target mode, mirroring the reference's `extract <url>`:
      // the address gets the default-https scheme treatment
      // (app.py:435-450 _normalize_target_url); this engine performs no
      // network fetch, so the row enters the cascade with html = null
      // and surfaces as the reference's fetch-failure reason row
      // (errors as data), url already normalized
      import spark.implicits._
      Seq(normalizeTargetUrl(src.stripPrefix("url:"))).toDF("url")
        .withColumn("html", lit(null).cast("binary"))
    }
    else spark.read.parquet(src)

  /** The reference's target-URL normalization (app.py:435-450): an
    * address with scheme+host passes through; otherwise it is retried
    * with a default `https://` scheme; empty input is a usage error
    * (typer.BadParameter → IllegalArgumentException here, so the CLI
    * surface stays testable in-process).
    */
  def normalizeTargetUrl(raw: String): String = {
    val cleaned = raw.trim
    require(cleaned.nonEmpty, "URL cannot be empty")
    if (cleaned.matches("[A-Za-z][A-Za-z0-9+.-]*://[^/].*")) cleaned
    else {
      val candidate = "https://" + cleaned.dropWhile(_ == '/')
      require(candidate.matches("https://[^/:?#].*"), "URL must include a valid hostname")
      candidate
    }
  }

  private def opt(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  /** Engine version (the reference exposes __version__ via a --version
    * callback, core/cli/app.py:417-425).
    */
  val Version = "0.3.0"

  def main(args: Array[String]): Unit = {
    // global --version callback: print and exit, before any verb
    if (args.contains("--version")) { println(Version); return }
    if (args.isEmpty) { println(usage); sys.exit(2) }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    args(0) match {
      case "info" =>
        // the reference echoes the RESOLVED layered config as pretty
        // JSON (app.py:45-58; its test asserts exit 0 and that
        // "environment" appears) — same here, with the engine's
        // registries appended as one extra key
        val env = opt(args, "--environment").getOrElse("default")
        val resolved = graft.util.ScragConfig.resolve(environment = env)
        println(resolved.copy(data = resolved.data ++ Map(
          "engine" -> Map(
            "strategies" -> Seq("newspaper", "readability", "http"),
            "processors" -> Seq("normalize_whitespace", "chunking"),
            "storage" -> Seq("json", "txt", "ndjson", "md"),
            "index" -> "IcebergLite parquet + manifest",
            "embedder" -> "deterministic-hash dim 384"))).toPrettyJson)

      case "extract" =>
        val spark = session(cpus)
        val pages = loadPages(spark, args(1))
        val out = new IcebergLite(args(2))
        val units = opt(args, "--units").map(_.toInt).getOrElse(8)
        // CLI flags become runtime overrides on the layered config —
        // the reference's default <- env <- runtime precedence
        // (core/utils/config.py) driving the cascade, incl. the
        // config-ordered extractor list (--extractors http,readability)
        val pipelineOverrides0: Map[String, Any] =
          opt(args, "--min-length").map(v =>
            Map[String, Any]("minimum_content_length" -> v.toInt)).getOrElse(Map()) ++
          opt(args, "--extractors").map(v =>
            Map[String, Any]("extractors" -> v.split(",").toSeq)).getOrElse(Map())
        // reference --async (app.py:83-99) prepends async_http to the
        // cascade; here fetch concurrency IS partition parallelism
        // (SPARK_GRAFT_CPUS), so the flag promotes the http strategy to
        // the front and otherwise acts as a parallelism hint
        val pipelineOverrides: Map[String, Any] =
          if (!args.contains("--async")) pipelineOverrides0
          else {
            val base = pipelineOverrides0.get("extractors") match {
              case Some(xs: Seq[_]) => xs.map(_.toString)
              case _ => graft.util.ScragConfig.defaultExtractors
            }
            pipelineOverrides0 + ("extractors" ->
              ("http" +: base.filterNot(_ == "http")))
          }
        val resolved = graft.util.ScragConfig.resolve(
          runtimeOverrides =
            if (pipelineOverrides.isEmpty) Map.empty
            else Map("pipeline" -> pipelineOverrides))
        val cfg = ExtractJobConfig(nUnits = units, partitionsPerUnit = cpus.toInt,
          cascade = graft.util.ScragConfig.cascadeConfig(resolved))
        // Stage the input ONCE, hive-partitioned by unit, so each unit's
        // run reads only its own files (partition pruning on the path) —
        // never cache() a table whose design point is 100 TB of html.
        // At real scale the source table is already unit-partitioned and
        // this step disappears. The round-robin spread gives every task
        // a share of each unit, so a unit is staged as `cpus` even files:
        // url-hash mode runs a unit on its input splits, and one file
        // would run it as one task.
        val staged = s"${args(2)}/_staged_pages"
        pages.withColumn("unit",
            pmod(xxhash64(col("url")), lit(units)).cast("int"))
          .repartition(cpus.toInt)
          .write.mode("overwrite").partitionBy("unit").parquet(staged)
        // hive partitionBy writes no directory for an empty unit (small
        // inputs / large --units) — treat a missing path as zero rows
        // rather than letting the read throw
        val pagesSchema = pages.schema
        val ran = ExtractJob.runUnits(spark,
          u => {
            val unitPath = s"$staged/unit=$u"
            if (new java.io.File(unitPath).isDirectory) spark.read.parquet(unitPath)
            else spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], pagesSchema)
          }, out, cfg)
        val rows = out.read(spark).count()
        val okRows = out.read(spark).where(col("succeeded")).count()
        println(s"extract: units_run=${ran.size} rows=$rows succeeded=$okRows " +
          s"failed=${rows - okRows}")
        // the reference's success epilogue (app.py:112-128): completion
        // line, extractor/processors, content size, environment, the
        // below-threshold note, and echoed warnings — batch analogues
        // (aggregate character count, distinct warnings bounded at 3)
        val result = out.read(spark)
        if (args.contains("--async")) println("  mode: async (experimental)")
        println("Pipeline completed successfully.")
        println(s"  extractor: ${cfg.cascade.strategies.mkString(", ")}")
        println("  processors: normalize_whitespace")
        val chars = result.agg(sum(length(col("extracted_text")))).collect()(0)
        println(s"  content-characters: ${if (chars.isNullAt(0)) 0L else chars.getLong(0)}")
        println(s"  saved-to: ${args(2)}")
        println(s"  environment: ${resolved.environment}")
        if (result.where(col("partial")).limit(1).count() > 0)
          println("  note: content below configured minimum threshold")
        result.select(explode(col("warnings")).as("w")).distinct()
          .orderBy("w").limit(3).collect().map(_.getString(0))
          .foreach(w => println(s"  warning: $w"))
        spark.stop()

      case "embed" =>
        // reference `scrag embed` (core/cli/app.py:131-215): text file →
        // chunk → embed → embeddings artifact; or pre-chunked input
        // (a parquet with chunk_text) → embed only.
        val spark = session(cpus)
        import spark.implicits._
        val in = args(1)
        val outPath = args(2)
        val chunkSize = opt(args, "--chunk-size").map(_.toInt).getOrElse(512)
        val overlap = opt(args, "--chunk-overlap").map(_.toInt).getOrElse(50)
        val chunks: org.apache.spark.sql.DataFrame =
          if (in.endsWith(".parquet") || new java.io.File(in).isDirectory) {
            val df = spark.read.parquet(in) // pre-chunked path
            if (df.columns.contains("chunk_index")) df
            // no index column: synthesize a distributed unique id — a
            // global Window.orderBy here would single-partition-sort the
            // whole input, the textbook scale-killer on the one path
            // meant for arbitrary pre-chunked tables
            else df.withColumn("chunk_index", monotonically_increasing_id())
          } else {
            val content = new String(
              java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(in)), "UTF-8")
            val cs = graft.text.Chunker.chunk(content,
              graft.text.ChunkConfig(chunkSize = chunkSize, overlap = overlap))
            spark.createDataset(cs.toSeq.map(c => (c.chunk_id, c.text)))
              .toDF("chunk_index", "chunk_text")
          }
        val embedder = new graft.rag.DeterministicHashEmbedder()
        // chunk_index is LONG: monotonically_increasing_id packs the
        // partition id into the high bits, so an int cast would collide
        // past 4 partitions
        val embedded = chunks.select(col("chunk_index").cast("long"), col("chunk_text"))
          .as[(Long, String)]
          .mapPartitions { it =>
            it.grouped(100).flatMap { batch => // reference batching (100)
              batch.iterator.zip(embedder.embedBatch(batch.map(_._2)).iterator)
                .map { case ((ci, text), v) => (ci, text, v) }
            }
          }
          .toDF("chunk_index", "chunk_text", "embedding")
        embedded.write.mode("overwrite").parquet(outPath)
        val n = spark.read.parquet(outPath).count()
        println(s"embed: chunks=$n dimension=${embedder.dim} saved_to=$outPath")
        spark.stop()

      case "index" =>
        // reference `scrag index` (core/cli/app.py:218-271): embeddings
        // artifact → searchable index table, with the dim check.
        val spark = session(cpus)
        val emb = spark.read.parquet(args(1))
        val dim = opt(args, "--dim").map(_.toInt).getOrElse(
          new graft.rag.DeterministicHashEmbedder().dim)
        val docs = emb
          .withColumn("id", concat(lit("chunk_"), col("chunk_index")))
          .withColumn("url", lit(null).cast("string"))
          .withColumn("title", lit(null).cast("string"))
          .select(col("id"), col("chunk_text").as("content"), col("embedding"),
            col("url"), col("chunk_index").cast("int"), col("title"))
        val valid = docs.where(size(col("embedding")) === dim)
        val out = new IcebergLite(args(2))
        out.writeData(valid, 0)
        val n = out.readUnit(spark, 0).count()
        out.publish(spark, 0, Map("rows" -> n.toString, "dim" -> dim.toString))
        println(s"index: total_documents=$n dimension=$dim index_path=${args(2)}")
        spark.stop()

      case "build_rag" =>
        val spark = session(cpus)
        val pages = loadPages(spark, args(1))
        val out = new IcebergLite(args(2))
        val n = RagJobs.buildAndWrite(pages, out)
        println(s"build_rag: indexed_count=$n index=${args(2)}")
        spark.stop()

      case "query" =>
        val spark = session(cpus)
        val index = new IcebergLite(args(1)).read(spark)
        val topK = opt(args, "--top-k").map(_.toInt).getOrElse(10)
        val text = args.drop(2).filterNot(a => a.startsWith("--") ||
          opt(args, "--top-k").contains(a)).mkString(" ")
        println(RagJobs.query(index, text, topK))
        spark.stop()

      case "test_pipeline" =>
        // end-to-end smoke: extract -> build_rag -> query (cli/app.py:453-643)
        val work = args(1)
        val spark = session(cpus)
        val pages = SyntheticPages.generate(spark, 500).toDF()
        val extracted = new IcebergLite(s"$work/extracted")
        val ran = ExtractJob.runUnits(spark,
          u => pages.where(pmod(xxhash64(col("url")), lit(4)) === u),
          extracted, ExtractJobConfig(nUnits = 4, partitionsPerUnit = cpus.toInt))
        val index = new IcebergLite(s"$work/index")
        val n = RagJobs.buildAndWrite(pages, index)
        val answer = RagJobs.query(index.read(spark), "analytics engine processes data", 3)
        println(s"test_pipeline: extract_units=${ran.size} indexed=$n\n$answer")
        spark.stop()

      case other =>
        println(s"unknown command '$other'\n$usage"); sys.exit(2)
    }
  }

  private val usage: String =
    """usage: graft.jobs.Cli <info|extract|embed|index|build_rag|query|test_pipeline> [args]""".stripMargin
}
