package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import scala.jdk.CollectionConverters._

/** Pins the one session factory ([[Tables.localSession]]): the spec
  * session carries the conf Bench is measured under, and no second
  * `SparkSession.builder` can drift back into `src/main`. */
class SessionSpec extends SparkSpec {
  import spark.implicits._

  test("the test session carries the factory's conf") {
    val conf = spark.conf
    assert(spark.sparkContext.master === "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(conf.get("spark.sql.adaptive.enabled") === "true")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.parquet.outputTimestampType") === "TIMESTAMP_MICROS")
    assert(conf.get("spark.ui.enabled") === "false")
    assert(conf.get("spark.cleaner.periodicGC.interval") === "30s")
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ===
      org.apache.logging.log4j.Level.WARN)
  }

  test("a timestamp column lands in parquet as TIMESTAMP(MICROS) on INT64") {
    // Verify's DuckDB compare reads these files: INT96 or NANOS would
    // not read back as the identical timestamp values
    val dir = Files.createTempDirectory("graft-ts-footer")
    Seq("2024-03-01 12:34:56.123456").toDF("s")
      .selectExpr("CAST(s AS TIMESTAMP) AS ts")
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("t").toString)
    val part = Files.list(dir.resolve("t")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part.toUri), new Configuration()))
    val ts =
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        schema.getType(schema.getFieldIndex("ts")).asPrimitiveType
      } finally reader.close()
    assert(ts.getPrimitiveTypeName === PrimitiveTypeName.INT64)
    assert(ts.getLogicalTypeAnnotation ===
      LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS))
  }

  test("SparkSession.builder appears in src/main only inside Tables.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val hits = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .map(p => root.relativize(p).toString).toSeq.sorted
    assert(hits === Seq("graft/Tables.scala"))
  }
}
