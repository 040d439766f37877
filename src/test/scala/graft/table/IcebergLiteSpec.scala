package graft.table

import graft.{SparkSuite, TempDirs}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.util.concurrent.atomic.AtomicInteger

/** IcebergLite's readers: no Spark job, and the frames Spark's own
  * schema inference would give.
  */
class IcebergLiteSpec extends AnyFunSuite with SparkSuite with TempDirs {
  import testImplicits._

  /** The Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain.drain(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  private def docs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"doc $i", Array.fill(3)(i.toFloat), (i % 2 == 0, s"k$i")))
      .toDF("id", "content", "embedding", "meta")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Spark's inferred read of the same version dirs. */
  private def inferred(t: IcebergLite, state: (Int, Int)*): DataFrame =
    spark.read.option("basePath", s"${t.root}/data")
      .parquet(state.map { case (u, v) => t.dataPath(u, v) }: _*)

  private def manifestFiles(t: IcebergLite): Seq[String] =
    new File(s"${t.root}/manifest").listFiles().map(_.getName)
      .filter(n => n.startsWith("unit-") && n.endsWith(".json")).sorted.toSeq

  test("read, readAt and manifest start no Spark job") {
    val t = new IcebergLite(tempDir("ice-jobs").toString)
    t.commitUnit(docs(0 until 10), 0)
    t.commitUnit(docs(10 until 20), 1, Map("dim" -> "3"))
    assert(jobsDuring(t.read(spark)) == 0)
    assert(jobsDuring(t.readAt(spark, 1)) == 0)
    assert(jobsDuring(t.manifest(spark).collect()) == 0)
  }

  test("read has the schema and rows of Spark's inferred read, unit included") {
    val t = new IcebergLite(tempDir("ice-schema").toString)
    t.commitUnit(docs(0 until 10), 0)
    t.commitUnit(docs(10 until 25), 1)
    t.commitUnit(docs(30 until 33), 0) // unit 0 -> v2
    val read = t.read(spark)
    val theirs = inferred(t, (0, 2), (1, 1))
    assert(read.schema == theirs.schema)
    assert(read.schema.last.name == "unit")
    assert(sortedRows(read) == sortedRows(theirs))
    assert(read.count() == 18)
  }

  test("readAt(1) reads v1 after a re-publish; expiry deletes v1's manifest") {
    val t = new IcebergLite(tempDir("ice-travel").toString)
    t.commitUnit(docs(0 until 4), 0)   // snapshot 1: unit 0 v1
    assert(sortedRows(t.readAt(spark, t.snapshots(spark).last)) == sortedRows(t.read(spark)))
    t.commitUnit(docs(4 until 10), 0)  // snapshot 2: unit 0 v2
    assert(sortedRows(t.readAt(spark, t.snapshots(spark).last)) == sortedRows(t.read(spark)))
    assert(manifestFiles(t) == Seq("unit-0-v1.json", "unit-0-v2.json"))
    val v1 = t.readAt(spark, 1)
    assert(v1.schema == inferred(t, (0, 1)).schema)
    assert(v1.select("id").as[Long].collect().sorted.toSeq == (0L until 4L))
    assert(t.read(spark).count() == 6)
    t.expireSnapshots(spark, keepLast = 1)
    assert(manifestFiles(t) == Seq("unit-0-v2.json"))
    assert(t.read(spark).count() == 6)
  }

  test("a manifest without a snapshot commits nothing; a rerun publish commits it") {
    val t = new IcebergLite(tempDir("ice-orphan").toString)
    t.commitUnit(docs(0 until 4), 0)
    // a publish of unit 1 that died between its manifest and its snapshot
    t.writeData(docs(4 until 10), 1)
    val orphan = new File(s"${t.root}/manifest/unit-1-v1.json")
    java.nio.file.Files.writeString(orphan.toPath,
      """{"unit": "1", "version": "1", "rows": "6"}""")
    assert(t.committedUnits(spark) == Seq(0))
    assert(t.read(spark).select("unit").distinct().as[Int].collect().toSeq == Seq(0))
    assert(t.manifest(spark).select("unit").as[String].collect().toSeq == Seq("0"))
    assert(t.publish(spark, 1) == 6)
    assert(t.committedUnits(spark) == Seq(0, 1))
    assert(t.manifest(spark).where($"unit" === "1").select("version").as[String]
      .collect().toSeq == Seq("1"))
    assert(sortedRows(t.read(spark)) == sortedRows(inferred(t, (0, 1), (1, 1))))
    assert(sortedRows(t.readAt(spark, t.snapshots(spark).last)) == sortedRows(t.read(spark)))
  }

  test("manifest equals Spark's JSON read of the latest manifest files") {
    val t = new IcebergLite(tempDir("ice-manifest").toString)
    t.commitUnit(docs(0 until 5), 0, Map("dim" -> "3", "note" -> "a \"quoted\" \\ path"))
    t.commitUnit(docs(5 until 7), 1, Map("strategy_dom" -> "2"))
    t.commitUnit(docs(7 until 9), 0, Map("dim" -> "4")) // unit 0 -> v2
    val ours = t.manifest(spark)
    val live = Seq("unit-0-v2.json", "unit-1-v1.json")
    val json = spark.read.json(live.map(n => s"${t.root}/manifest/$n"): _*)
    assert(ours.schema == json.schema)
    assert(sortedRows(ours) == sortedRows(json))
    assert(ours.select("unit").as[String].collect().toSeq == Seq("0", "1"))
    assert(ours.select("rows").as[String].collect().toSeq == Seq("2", "2"))
  }

  test("a unit committed from an empty frame reads back 0 rows with its schema") {
    val t = new IcebergLite(tempDir("ice-empty").toString)
    assert(t.commitUnit(docs(0 until 0), 0) == 0)
    val read = t.read(spark)
    assert(read.schema == inferred(t, (0, 1)).schema)
    assert(read.columns.toSeq == Seq("id", "content", "embedding", "meta", "unit"))
    assert(read.count() == 0)
  }

  test("a data file without a Spark schema in its footer fails naming the file") {
    val t = new IcebergLite(tempDir("ice-foreign").toString)
    val file = new Path(s"${t.dataPath(0, 1)}/part-0.parquet")
    val schema = MessageTypeParser.parseMessageType("message m { required int64 id; }")
    val writer = ExampleParquetWriter.builder(file).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L))
    finally writer.close()
    assert(t.publish(spark, 0) == 1)
    val e = intercept[RuntimeException](t.read(spark))
    assert(e.getMessage.contains(file.toString), e.getMessage)
  }

  test("a committed state with no data file fails as Spark's inference does") {
    val t = new IcebergLite(tempDir("ice-nofile").toString)
    new File(t.dataPath(0, 1)).mkdirs()
    assert(t.publish(spark, 0) == 0)
    val ours = intercept[AnalysisException](t.read(spark))
    val theirs = intercept[AnalysisException](inferred(t, (0, 1)))
    assert(ours.getCondition == theirs.getCondition)
    assert(ours.getMessage == theirs.getMessage)
  }
}
