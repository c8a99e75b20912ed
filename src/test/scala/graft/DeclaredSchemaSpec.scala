package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{lit, struct}

import graft.model.Schemas
import graft.sources.Fixtures
import graft.streaming.ImporterStream

/** The declared fixture and stream-state schemas (`model/Schemas.scala`):
  * each equals what Spark infers from the files at every scale factor
  * present, so drift fails by table name, and building fixture DataFrames
  * launches no schema-inference job.
  */
class DeclaredSchemaSpec extends SparkSuite {
  import spark.implicits._

  /** The scale factors present beside [[sf0001]]. */
  private val scaleDirs =
    Seq("sf0.001", "sf0.01", "sf0.1").map(sf => Paths.get(sf0001).resolveSibling(sf))
      .filter(Files.isDirectory(_)).map(_.toString)

  test("every fixture table in the data directory has a declared schema") {
    val onDisk = Files.list(Paths.get(sf0001)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).toSet
    assert(onDisk === Schemas.FixtureTables.keySet)
  }

  for (name <- Schemas.FixtureTables.keys.toSeq.sorted)
    test(s"declared schema of '$name' equals the inferred one") {
      for (dir <- scaleDirs) {
        val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
        assert(Schemas.fixture(name) === inferred,
          s"table '$name' in $dir: declared ${Schemas.fixture(name).simpleString}" +
            s" but the files read as ${inferred.simpleString}")
      }
    }

  test("an undeclared table name fails with the name") {
    val e = intercept[IllegalArgumentException](Fixtures.table(spark, sf0001, "nosuch"))
    assert(e.getMessage.contains("'nosuch'"))
  }

  /** Spark jobs started from this thread while `body` runs. The listener
    * bus is asynchronous, so a marker job run afterwards flushes it: once
    * its start is seen, every earlier start has been.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"declared-schema-${java.util.UUID.randomUUID()}"
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          starts.put(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "")
    try {
      body
      sc.setJobDescription("marker")
      spark.range(1).count()
      Iterator.continually(starts.poll(60, TimeUnit.SECONDS))
        .takeWhile { d => assert(d != null, "marker job never reached the listener"); d != "marker" }
        .size
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("building fixture DataFrames launches no Spark job") {
    assert(jobsDuring(Fixtures.table(spark, sf0001, "orders")) === 0)
    assert(jobsDuring(Fixtures.apiDimensions(spark, sf0001)) === 0)
    assert(jobsDuring(Fixtures.codeLists(spark, sf0001)) === 0)
    assert(jobsDuring(Fixtures.importerEvents(spark, sf0001)) === 0)
    assert(jobsDuring(graft.operators.RelationalOps.eventsTable(spark, sf0001)) === 0)
    // the probe itself sees jobs: an inferring read launches one
    assert(jobsDuring(spark.read.parquet(s"$sf0001/orders.parquet")) >= 1)
  }

  test("processBatch treats an existing but file-less processed table as empty") {
    val outDir = Files.createTempDirectory("declared-processed")
    try {
      val sinks = ImporterStream.Sinks(outDir.toString)
      Files.createDirectories(Paths.get(sinks.processed))
      val dims = Seq(("A", "A_geo", "England", "n1"))
        .toDF("instance_id", "dimension_id", "option", "node_id")
        .withColumn("links", struct(struct(lit("myCodeList").as("id")).as("code_list")))
      val codeLists = Seq(("myCodeList", "England", Some(0)))
        .toDF("code_list_id", "code", "ord")
      val batch = Seq(("/a", "A")).toDF("file_url", "instance_id")
      ImporterStream.processBatch(spark,
        batch, new ImporterStream.StaticSide(
          graft.operators.ImporterPipeline.projectDimensions(dims), codeLists),
        new ImporterStream.ProcessedIds(sinks.processed), sinks, "run1", 0L)
      assert(spark.read.parquet(sinks.processed).as[String].collect().toSeq === Seq("A"))
      assert(spark.read.parquet(sinks.completed).select("instance_id").as[String]
        .collect().toSeq === Seq("A"))
      // a batch with no malformed event writes the errors sink only to
      // report a failure
      assert(!Files.exists(Paths.get(sinks.errors)), "the empty processed table was reported as an error")
    } finally {
      Files.walk(outDir).iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
    }
  }

  test("inputBytes sizes the local fixture files as a file walk does") {
    for (name <- Schemas.FixtureTables.keys) {
      val path = s"$sf0001/$name.parquet"
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
      assert(Fixtures.inputBytes(spark, path) === walk(new java.io.File(path)), name)
    }
  }
}
