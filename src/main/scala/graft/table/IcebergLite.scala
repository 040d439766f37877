package graft.table

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Iceberg-style table layout over Parquet, implemented thin (no
  * Iceberg jar ships in this sandbox — SURVEY.md §4 note): data files
  * live under `data/unit=<u>/v-<k>/` (immutable per version). A publish
  * writes the unit's manifest `manifest/unit-<u>-v<k>.json` (lineage and
  * metrics, never changed afterwards), then commits the table-level
  * snapshot `snapshot/snap-<n>.json`, the unit→version map. That rename
  * is the only commit point: readers, resume and expiry all take the
  * table state from the newest snapshot. Metadata files are written via
  * tmp + atomic rename (the commit idea of the reference's index save,
  * file_store.py:246-251, and of Iceberg snapshot commits).
  *
  * This gives the north rule's checkpointed resume — a killed job
  * re-runs only units the newest snapshot does not name (uncommitted
  * staged data and manifests are overwritten), and readers never see
  * half-written units — plus Iceberg's signature reader features:
  * [[readAt]] time-travels to any unexpired snapshot (versioned data is
  * immutable), and [[expireSnapshots]] is the retention story that
  * bounds storage growth under re-publishes. Units are the resume
  * granularity — at 10^12 docs you size them so one unit is a few
  * minutes of cluster work (e.g. 10k units).
  *
  * The table owns each unit's `rows`, `files` and `bytes`: [[publish]]
  * reads them from the written files (row counts from the parquet
  * footers), so they are exact under task retries and no caller runs a
  * count job.
  *
  * Readers run no Spark job: [[read]] and [[readAt]] take the schema
  * from one parquet footer on the driver, and [[manifest]] parses the
  * manifest files on the driver.
  *
  * Uses the Hadoop FileSystem API throughout, so the same code runs on
  * HDFS/S3A on a real cluster.
  */
final class IcebergLite(val root: String) extends Serializable {
  import IcebergLite._

  private def fs(spark: SparkSession): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Versioned unit data dir. The version segment is deliberately NOT
    * `key=value` syntax (`v-<k>`, not `v=<k>`) so Spark's partition
    * discovery sees only the `unit=` level — readers get a `unit`
    * partition column, never a `v` column. Data files are IMMUTABLE per
    * version: a re-publish writes v(k+1) beside v(k), which is what
    * makes snapshot reads (time travel) possible.
    */
  def dataPath(unit: Int, version: Int): String = s"$root/data/unit=$unit/v-$version"

  /** A unit version's manifest; [[expireSnapshots]] deletes it with the data. */
  private def manifestDir = new Path(s"$root/manifest")
  private def manifestPath(unit: Int, version: Int) =
    new Path(s"$root/manifest/unit-$unit-v$version.json")

  def committedUnits(spark: SparkSession): Seq[Int] =
    liveState(fs(spark)).keys.toSeq.sorted

  /** Write one unit's rows and commit it: parquet overwrite into the
    * unit dir, then atomic publish. Idempotent — re-running a
    * committed unit is a no-op for readers; re-running an uncommitted
    * one overwrites its partial data. Returns the unit's row count.
    */
  def commitUnit(df: DataFrame, unit: Int,
      metrics: Map[String, String] = Map.empty): Long = {
    writeData(df, unit)
    publish(df.sparkSession, unit, metrics)
  }

  /** Stage a unit's data files at the NEXT version (not yet visible to
    * readers; re-staging before publish overwrites the same staged
    * version). Committed versions' files are never touched.
    */
  def writeData(df: DataFrame, unit: Int): Unit = {
    val next = nextVersion(liveState(fs(df.sparkSession)), unit)
    df.write.mode("overwrite").parquet(dataPath(unit, next))
  }

  /** Publish a staged unit with lineage + metrics: write its manifest,
    * then commit snapshot N+1 = the live state with the unit at its new
    * version. Only the snapshot rename commits; a publish that dies
    * before it leaves the table as it was. Returns the unit's row count.
    *
    * `unit`, `version`, `files`, `bytes` and `rows` come from the table
    * and the staged files and win over same-named caller `metrics`.
    */
  def publish(spark: SparkSession, unit: Int,
      metrics: Map[String, String] = Map.empty): Long = {
    val f = fs(spark)
    val ids = snapshotIdsOf(f)
    val live = ids.lastOption.fold(Map.empty[Int, Int])(snapshotState(f, _))
    val next = nextVersion(live, unit)
    val written = f.listStatus(new Path(dataPath(unit, next)))
      .filter(s => isDataFile(s.getPath.getName))
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = written.map(footerRows(_, conf)).sum
    val fields = metrics ++ Map(
      "unit" -> unit.toString,
      "version" -> next.toString,
      "files" -> written.length.toString,
      "bytes" -> written.map(_.getLen).sum.toString,
      "rows" -> rows.toString)
    // no snapshot names this version, so a manifest already here is a
    // dead publish's, and a rename onto it fails on HDFS
    f.delete(manifestPath(unit, next), false)
    commitFile(f, manifestDir, manifestPath(unit, next), new java.util.TreeMap(fields.asJava))
    val state = (live + (unit -> next)).map { case (u, v) => u.toString -> Int.box(v) }
    commitFile(f, snapshotDir, snapshotPath(ids.lastOption.getOrElse(0) + 1),
      new java.util.TreeMap(state.asJava))
    rows
  }

  /** Write `value` as JSON to `dest` via a tmp file in `dir` + atomic rename. */
  private def commitFile(f: FileSystem, dir: Path, dest: Path, value: AnyRef): Unit = {
    f.mkdirs(dir)
    val tmp = new Path(dir, s".${dest.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(Json.writeValueAsBytes(value)) finally out.close()
    if (!f.rename(tmp, dest)) sys.error(s"commit failed: rename $tmp -> $dest")
  }

  // ---------------- snapshots (the commit record, time travel) ----------------

  private def snapshotDir = new Path(s"$root/snapshot")
  private def snapshotPath(n: Int) = new Path(s"$root/snapshot/snap-$n.json")

  private def snapshotIdsOf(f: FileSystem): Seq[Int] =
    if (!f.exists(snapshotDir)) Seq.empty
    else f.listStatus(snapshotDir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("snap-") && n.endsWith(".json") =>
        n.stripPrefix("snap-").stripSuffix(".json").toInt }
      .sorted

  /** Committed snapshot ids, oldest first. */
  def snapshots(spark: SparkSession): Seq[Int] = snapshotIdsOf(fs(spark))

  /** The (unit → version) map snapshot `id` committed. */
  private def snapshotState(f: FileSystem, id: Int): Map[Int, Int] = {
    val p = snapshotPath(id)
    require(f.exists(p), s"no snapshot $id under $root")
    Json.readValue(readText(f, p), classOf[java.util.Map[String, Integer]]).asScala
      .map { case (u, v) => u.toInt -> v.intValue }.toMap
  }

  /** The live table state: the newest snapshot's, empty before the first publish. */
  private def liveState(f: FileSystem): Map[Int, Int] =
    snapshotIdsOf(f).lastOption.fold(Map.empty[Int, Int])(snapshotState(f, _))

  /** Read the given (unit, version) data dirs as one table. The schema
    * is the one Spark's inference would find, built on the driver: the
    * data columns from the footer of the state's first data file (the
    * first of the lowest (unit, version), the one file inference opens)
    * and the `unit` partition column. With the schema given, the read
    * starts no job; listing the dirs stays on the driver up to
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths.
    */
  private def readVersions(spark: SparkSession, state: Map[Int, Int]): DataFrame = {
    val f = fs(spark)
    val dirs = state.toSeq.sorted.map { case (u, v) => new Path(dataPath(u, v)) }
    val first = dirs.iterator.filter(f.exists).map { d =>
      f.listStatus(d).filter(s => s.isFile && isDataFile(s.getPath.getName))
        .sortBy(_.getPath.getName).headOption
    }.collectFirst { case Some(file) => file }
    val data = first match {
      case Some(file) => footerSchema(file, spark.sparkContext.hadoopConfiguration)
      case None =>
        // the errors a parquet read without a schema raises when it has no file
        dirs.find(!f.exists(_)).foreach { d =>
          throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> f.makeQualified(d).toString))
        }
        throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet"))
    }
    // Spark reads the partition column from the paths, never the files
    val schema = StructType(data.filterNot(_.name == "unit")).add("unit", IntegerType)
    spark.read.schema(schema)
      .option("basePath", s"$root/data")
      .parquet(dirs.map(_.toString): _*)
  }

  /** TIME TRAVEL: read the table exactly as of snapshot `id` — the
    * (unit, version) data files that snapshot committed, regardless of
    * later publishes. Versioned data is immutable, so this is correct
    * until the snapshot is expired.
    */
  def readAt(spark: SparkSession, id: Int): DataFrame = {
    val state = snapshotState(fs(spark), id)
    require(state.nonEmpty, s"snapshot $id is empty")
    readVersions(spark, state)
  }

  /** Expire all but the newest `keepLast` snapshots and DELETE the
    * data and manifest of every version no kept snapshot references —
    * the Iceberg retention story that bounds storage growth under
    * re-publishes. The newest snapshot, the live state, is always kept.
    */
  def expireSnapshots(spark: SparkSession, keepLast: Int = 1): Unit = {
    val f = fs(spark)
    val ids = snapshotIdsOf(f)
    val (expire, keep) = ids.splitAt(math.max(0, ids.length - math.max(1, keepLast)))
    val referenced = keep.flatMap(snapshotState(f, _)).toSet
    expire.foreach { id =>
      snapshotState(f, id).filterNot(referenced).foreach { case (u, v) =>
        f.delete(new Path(dataPath(u, v)), true)
        f.delete(manifestPath(u, v), false)
      }
      f.delete(snapshotPath(id), false)
    }
  }

  /** Read the committed table: the units the newest snapshot names. */
  def read(spark: SparkSession): DataFrame = {
    val live = liveState(fs(spark))
    require(live.nonEmpty, s"no committed units under $root")
    readVersions(spark, live)
  }

  /** The manifest itself as a DataFrame (per-unit lineage + metrics),
    * of each unit's live version, one row per unit in unit order. The files
    * are parsed on the driver into a local frame of the shape JSON
    * inference gives them: one string column per key, sorted by name,
    * null where a unit lacks the key.
    */
  def manifest(spark: SparkSession): DataFrame = {
    val f = fs(spark)
    val live = liveState(f).toSeq.sorted
    require(live.nonEmpty, s"no committed units under $root")
    val entries = live.map { case (u, v) =>
      Json.readValue(readText(f, manifestPath(u, v)), classOf[java.util.Map[String, String]]).asScala
    }
    val cols = entries.flatMap(_.keys).distinct.sorted
    spark.createDataFrame(
      entries.map(e => Row.fromSeq(cols.map(e.getOrElse(_, null)))).asJava,
      StructType(cols.map(StructField(_, StringType))))
  }

  def drop(spark: SparkSession): Unit = {
    val f = fs(spark)
    if (f.exists(new Path(root))) f.delete(new Path(root), true)
  }
}

object IcebergLite {
  private val Json = new ObjectMapper()

  /** The Spark schema a Spark-written parquet file records in its footer. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** A file Spark reads as data: not hidden (`_SUCCESS`, `.crc`). */
  private def isDataFile(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")

  /** The version a writeData/publish pair creates next. */
  private def nextVersion(live: Map[Int, Int], unit: Int): Int =
    live.get(unit).fold(1)(_ + 1)

  /** Open one parquet file's footer. The read options take the caller's
    * conf: the default options build a fresh Hadoop configuration per
    * file, which measured about 10x the footer read.
    */
  private def withFooter[T](file: FileStatus, conf: Configuration)(f: ParquetFileReader => T): T = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf).build())
    try f(reader) finally reader.close()
  }

  /** Row count of one parquet file, from its footer. */
  private[graft] def footerRows(file: FileStatus, conf: Configuration): Long =
    withFooter(file, conf)(_.getRecordCount)

  /** The Spark schema of one Spark-written parquet file, from its footer. */
  private def footerSchema(file: FileStatus, conf: Configuration): StructType =
    withFooter(file, conf)(_.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)) match {
      case null => sys.error(s"${file.getPath} has no Spark schema in its parquet footer")
      case json => DataType.fromJson(json).asInstanceOf[StructType]
    }
}
