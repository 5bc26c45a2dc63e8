package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{timestampType, TimeUnit}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
import org.apache.parquet.schema.Types
import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{MetadataBuilder, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

/** `Tables.open` reads a single parquet file's schema from its footer
  * on the driver. It must hand back exactly the schema
  * `spark.read.parquet` infers (names, types, nullability, metadata),
  * run no Spark job doing so, and leave every other path, and the
  * session's confs, to Spark as before. */
class TablesSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.01"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def assertSameSchema(s: SparkSession, path: String): Unit = {
    val ours = Tables.open(s, path).schema
    val spark = s.read.parquet(path).schema
    assert(ours === spark, s"$path\nours:  ${ours.json}\nspark: ${spark.json}")
  }

  test("every sf0.01 table loads with spark.read.parquet's schema, under three conf sets") {
    Seq(Map.empty[String, String],
        Map("spark.sql.parquet.binaryAsString" -> "true"),
        Map("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")).foreach { confs =>
      val s = spark.newSession()
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      Tables.names.foreach { t =>
        assert(Tables.load(s, dir, t).schema === s.read.parquet(s"$dir/$t.parquet").schema,
          s"$t under $confs")
      }
    }
  }

  test("a part file written by Spark keeps the schema stored in its footer") {
    val out = Files.createTempDirectory("tables-spark-part").resolve("t").toString
    val tagged = new MetadataBuilder().putString("comment", "kept").build()
    spark.range(5).select(col("id"), col("id").cast("string").as("s", tagged),
        col("id").cast("decimal(18,2)").as("d"))
      .coalesce(1).write.parquet(out)
    val part = new java.io.File(out).listFiles().map(_.getPath)
      .filter(p => p.contains("part-") && p.endsWith(".parquet")).head
    val meta = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(part),
      new Configuration())).getFooter.getFileMetaData.getKeyValueMetaData
    assert(meta.containsKey("org.apache.spark.sql.parquet.row.metadata"))
    assertSameSchema(spark, part)
    assert(Tables.open(spark, part).schema("s").metadata === tagged)
  }

  test("opening a table file runs no Spark job") {
    val sc = spark.sparkContext
    val tag = "graft.test.tablesOpen"
    var jobs = 0
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) != null)) jobs += 1
    }
    sc.addSparkListener(counter)
    try {
      sc.setLocalProperty(tag, "1")
      try Tables.load(spark, dir, "lineitem").schema
      finally sc.setLocalProperty(tag, null)
    } finally {
      GraftTestBridge.drainListenerBus(sc)
      sc.removeSparkListener(counter)
    }
    assert(jobs === 0)
  }

  test("a directory and a missing path behave as spark.read.parquet does") {
    val root = Files.createTempDirectory("tables-dir")
    val d = root.resolve("t").toString
    spark.range(3).toDF("a").write.parquet(d)
    spark.range(3).toDF("b").write.mode("append").parquet(d)
    assertSameSchema(spark, d)
    val merged = spark.newSession()
    merged.conf.set("spark.sql.parquet.mergeSchema", "true")
    assertSameSchema(merged, d)
    assert(Tables.open(merged, d).schema.fieldNames.toSet === Set("a", "b"))

    val missing = root.resolve("absent.parquet").toString
    val ours = intercept[AnalysisException](Tables.open(spark, missing))
    val theirs = intercept[AnalysisException](spark.read.parquet(missing))
    assert(ours.getCondition === theirs.getCondition)
    assert(ours.getMessage === theirs.getMessage)
  }

  test("the events loaders leave the session's confs as found on a current-vintage file") {
    val s = spark.newSession()
    val before = s.conf.getAll
    Tables.events(s, dir).schema
    assert(s.conf.getAll === before, "after Tables.events")
    EventStream.readStream(s, dir).schema
    assert(s.conf.getAll === before, "after EventStream.readStream")
  }

  test("a TIMESTAMP(NANOS) events file still loads, with nanosAsLong set for its scan") {
    val d = Files.createTempDirectory("tables-nanos").toString
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64).as(timestampType(true, TimeUnit.NANOS)).named("ts")
      .named("events")
    val nanos = Seq(1700000000123456789L, 1700000100000001000L)
    val w = ExampleParquetWriter.builder(new Path(s"$d/events.parquet"))
      .withType(schema).build()
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", i.toLong).append("ts", ns))
    } finally w.close()

    val s = spark.newSession()
    val events: DataFrame = Tables.events(s, d)
    assert(s.conf.get(NanosAsLong) === "true")
    assert(events.schema("ts").dataType === TimestampType)
    val micros = events.orderBy("event_id")
      .selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq
    assert(micros === nanos.map(_ / 1000))
    assert(EventStream.readStream(s, d).schema("ts").dataType === TimestampType)
  }
}
