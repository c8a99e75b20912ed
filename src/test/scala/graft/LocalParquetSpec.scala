package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SPARK_VERSION_SHORT
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

import graft.operators.ImporterPipeline._
import graft.sinks.LocalParquet
import graft.streaming.ImporterStream

/** `LocalParquet`, the driver-side writer of `ImporterStream`'s sinks:
  * its files read back as a Spark write of the same frame does.
  */
class LocalParquetSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  private def parquetFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq

  private def footer(file: Path): FileMetaData = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(file.toUri), spark.sparkContext.hadoopConfiguration))
    try reader.getFooter.getFileMetaData finally reader.close()
  }

  private def localWrite(df: DataFrame, dir: Path, overwrite: Boolean = false): Unit =
    LocalParquet.write(spark, dir.toString, df.schema, df.collect().toSeq, overwrite)

  private def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted

  private val events = Seq(("/a", "A"), ("/b", "B"), (null, "C"), ("/bad", ""), (null, ""))
    .toDF("file_url", "instance_id")

  /** One frame per sink schema: completed, processed, dead letters, error
    * rows (non-nullable `lit` columns) and updates (a null `ord`).
    */
  private def sinkFrames: Seq[(String, DataFrame)] = Seq(
    "completed" -> completedEvents(validEvents(events)),
    "processed" -> validEvents(events).select("instance_id"),
    "dead letters" -> deadLetters(events),
    "error rows" -> validEvents(events).select(col("file_url"), col("instance_id"),
      lit("failed to process instance batch").as("err_context"), lit("boom").as("error")),
    "updates" -> Seq(("A", "geo", "England", "n1", Some(0)), ("B", "geo", "Wales", "", None: Option[Int]),
      ("C", null, "Scotland", null, Some(2)))
      .toDF("instance_id", "name", "option", "node_id", "ord"))

  test("each sink's file reads back as a Spark write of the same frame: rows, schema, footer schema") {
    for ((sink, df) <- sinkFrames) {
      val ours = tmp("local-parquet")
      val theirs = tmp("spark-parquet").resolve("out")
      localWrite(df, ours)
      df.coalesce(1).write.parquet(theirs.toString)
      val (mine, spark1) = (spark.read.parquet(ours.toString), spark.read.parquet(theirs.toString))
      assert(mine.schema === spark1.schema, sink)
      assert(rows(mine) === rows(spark1), sink)
      assert(rows(mine).size === df.count(), sink)
      // Spark writes a non-nullable column as `required`; the writer makes
      // every field optional, as Spark does for the same frame with every
      // field nullable
      val nullable = tmp("spark-parquet-nullable").resolve("out")
      spark.createDataFrame(df.collect().toSeq.asJava, StructType(df.schema.map(_.copy(nullable = true))))
        .coalesce(1).write.parquet(nullable.toString)
      val Seq(file) = parquetFiles(ours)
      val Seq(sparkFile) = parquetFiles(nullable)
      assert(footer(file).getSchema === footer(sparkFile).getSchema, sink)
      val rowMeta = "org.apache.spark.sql.parquet.row.metadata"
      assert(footer(file).getKeyValueMetaData.get(rowMeta) === footer(sparkFile).getKeyValueMetaData.get(rowMeta),
        sink)
      // Spark's own name: part-<task>-<uuid>-c000<codec>.parquet
      assert(file.getFileName.toString.matches("part-00000-[0-9a-f-]{36}-c000\\.snappy\\.parquet"), file)
      assert(sparkFile.getFileName.toString.endsWith("-c000.snappy.parquet"), sparkFile)
    }
  }

  test("the footer carries Spark's row metadata and version") {
    val (_, df) = sinkFrames.find(_._1 == "error rows").get
    val dir = tmp("local-parquet-footer")
    localWrite(df, dir)
    val Seq(file) = parquetFiles(dir)
    val meta = footer(file).getKeyValueMetaData.asScala
    assert(meta.get("org.apache.spark.version") === Some(SPARK_VERSION_SHORT))
    val declared = DataType.fromJson(meta("org.apache.spark.sql.parquet.row.metadata"))
    assert(!df.schema.forall(_.nullable), "the error rows' lit columns are non-nullable in the frame")
    assert(declared === StructType(df.schema.map(_.copy(nullable = true))))
  }

  test("overwrite replaces the directory; append adds a file") {
    val dir = tmp("local-parquet-modes").resolve("batch_id=0")
    val df = completedEvents(validEvents(events))
    localWrite(df, dir, overwrite = true)
    localWrite(df.limit(1), dir, overwrite = true)
    assert(parquetFiles(dir).size === 1)
    assert(spark.read.parquet(dir.toString).count() === 1)
    localWrite(df, dir)
    assert(parquetFiles(dir).size === 2)
    assert(spark.read.parquet(dir.toString).count() === 1 + df.count())
  }

  test("a leftover temporary file is ignored by spark.read and by ProcessedIds") {
    val dir = tmp("local-parquet-leftover")
    localWrite(Seq("A", "B").toDF("instance_id"), dir)
    // a writer that died before its rename leaves a partial hidden file
    Files.write(dir.resolve("_part-00000-dead-c000.snappy.parquet.tmp"), "not parquet".getBytes)
    assert(spark.read.parquet(dir.toString).as[String].collect().toSet === Set("A", "B"))
    assert(new ImporterStream.ProcessedIds(dir.toString).get(spark) === Set("A", "B"))
  }

  test("an unsupported column type fails, naming the column") {
    val schema = StructType(Seq(StructField("instance_id", StringType), StructField("n", LongType)))
    val e = intercept[IllegalArgumentException] {
      LocalParquet.write(spark, tmp("local-parquet-type").toString, schema, Nil, overwrite = false)
    }
    assert(e.getMessage.contains("`n`"), e.getMessage)
  }

  test("a target whose parent is a regular file throws") {
    val parent = Files.createFile(tmp("local-parquet-parent").resolve("run=1"))
    val target = Paths.get(parent.toString, "batch_id=0")
    for (overwrite <- Seq(true, false))
      intercept[java.io.IOException] {
        localWrite(Seq("A").toDF("instance_id"), target, overwrite)
      }
    assert(Files.isRegularFile(parent))
  }
}
