package graft.sinks

import java.io.IOException
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32}
import org.apache.parquet.schema.Type.Repetition.OPTIONAL
import org.apache.spark.SPARK_VERSION_SHORT
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}

/** Writes rows the driver already holds as one parquet file in a
  * directory, with no Spark job and no output committer: for outputs of
  * tens of rows, a distributed write's fixed cost is most of the work.
  *
  * The file reads back as a Spark file-source write of the same frame
  * would: every field nullable, Spark's row metadata and version in the
  * footer, the session's `spark.sql.parquet.compression.codec`, and a
  * `part-00000-<uuid>-c000<codec ext>.parquet` name. It is written under a
  * hidden `_….tmp` name in the target directory (Spark readers skip `_`
  * names) and then renamed, so a reader never sees a partial file. Paths go
  * through Hadoop `FileSystem`, so `file:`, `hdfs:` and `s3a:` work.
  * Only `string` and `int` columns are supported.
  */
object LocalParquet {

  /** Writes `rows` (of `schema`) as one new file in `dir`; with
    * `overwrite`, deletes `dir` first, as Spark's overwrite mode does.
    * Throws when the directory cannot be made or the file not renamed.
    */
  def write(spark: SparkSession, dir: String, schema: StructType, rows: Seq[Row], overwrite: Boolean): Unit = {
    val message = new MessageType("spark_schema", schema.fields.toSeq.map[Type] { f =>
      f.dataType match {
        case StringType => Types.primitive(BINARY, OPTIONAL).as(LogicalTypeAnnotation.stringType()).named(f.name)
        case IntegerType => Types.primitive(INT32, OPTIONAL).named(f.name)
        case t => throw new IllegalArgumentException(
          s"LocalParquet: column `${f.name}` has type ${t.simpleString}; only string and int are supported")
      }
    }.asJava)
    val nullable = StructType(schema.fields.map(_.copy(nullable = true)))
    val codec = CompressionCodecName.fromConf(
      spark.conf.get("spark.sql.parquet.compression.codec") match {
        case "none" => "uncompressed"
        case c => c
      })
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new Path(dir)
    val fs = target.getFileSystem(conf)
    if (overwrite) fs.delete(target, true)
    if (!fs.mkdirs(target)) throw new IOException(s"LocalParquet: cannot create $target")
    val name = s"part-00000-${UUID.randomUUID()}-c000${codec.getExtension}.parquet"
    val tmp = new Path(target, s"_$name.tmp")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf)
      .withType(message)
      .withCompressionCodec(codec)
      .withExtraMetaData(Map(
        "org.apache.spark.sql.parquet.row.metadata" -> nullable.json,
        "org.apache.spark.version" -> SPARK_VERSION_SHORT).asJava)
      .build()
    try {
      val groups = new SimpleGroupFactory(message)
      rows.foreach { r =>
        val g = groups.newGroup()
        schema.fields.indices.foreach { i =>
          if (!r.isNullAt(i)) schema.fields(i).dataType match {
            case StringType => g.add(i, r.getString(i))
            case _ => g.add(i, r.getInt(i))
          }
        }
        writer.write(g)
      }
    } finally writer.close()
    if (!fs.rename(tmp, new Path(target, name)))
      throw new IOException(s"LocalParquet: cannot rename $tmp into $target")
  }
}
