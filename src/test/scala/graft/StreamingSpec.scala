package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.util.LongAccumulator

import graft.streaming.ImporterStream

/** Streaming shell: the batch DAG under foreachBatch with cross-batch
  * idempotency (ST1/ST3) and dead-letter side output (ST4).
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  /** Two micro-batches, the second redelivering the first's instance,
    * then a second query life redelivering both, into sinks under
    * `outDir`, whose local directory is `localOut`.
    */
  private def accumulateAndSkipDuplicate(outDir: String, localOut: String): Unit = {
    val ckpt = Files.createTempDirectory("stream-ckpt").toString

    val dims = Seq(
      ("A", "A_geo", "England", "n1"),
      ("B", "B_geo", "Wales", "n2"))
      .toDF("instance_id", "dimension_id", "option", "node_id")
      .withColumn("links", struct(struct(lit("myCodeList").as("id")).as("code_list")))
    val projected = graft.operators.ImporterPipeline.projectDimensions(dims)
    val codeLists = Seq(
      ("myCodeList", "England", Some(0)), ("myCodeList", "Wales", Some(1)))
      .toDF("code_list_id", "code", "ord")

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val stream = mem.toDF().toDF("file_url", "instance_id")

    val q = ImporterStream.start(spark, stream, projected, codeLists, outDir, ckpt)
    try {
      mem.addData(("/a", "A"), ("/bad", ""))
      q.processAllAvailable()
      // batch 2 redelivers A (at-least-once) and adds B
      mem.addData(("/a", "A"), ("/b", "B"))
      q.processAllAvailable()
    } finally q.stop()
    // a second query life reads the processed table from disk and skips
    // both redelivered instances
    val mem2 = MemoryStream[(String, String)]
    val q2 = ImporterStream.start(spark, mem2.toDF().toDF("file_url", "instance_id"),
      projected, codeLists, outDir, Files.createTempDirectory("stream-ckpt").toString)
    try {
      mem2.addData(("/a", "A"), ("/b", "B"))
      q2.processAllAvailable()
    } finally q2.stop()

    val updates = spark.read.parquet(s"$outDir/updates")
      .select("instance_id", "option").as[(String, String)].collect().toSeq
    // A processed exactly once despite redelivery
    assert(updates.sorted === Seq(("A", "England"), ("B", "Wales")))

    val completed = spark.read.parquet(s"$outDir/completed")
      .select("instance_id").as[String].collect().toSeq.sorted
    assert(completed === Seq("A", "B"))

    val errors = spark.read.parquet(s"$outDir/errors")
      .select("file_url").as[String].collect().toSeq
    assert(errors === Seq("/bad"))

    val processed = spark.read.parquet(s"$outDir/processed_instances")
      .as[String].collect().toSeq.sorted
    assert(processed === Seq("A", "B"))
    assert(Files.isDirectory(Paths.get(localOut, "processed_instances")))
  }

  test("micro-batches accumulate; duplicate instance in later batch is skipped") {
    val outDir = Files.createTempDirectory("stream-out").toString
    accumulateAndSkipDuplicate(outDir, outDir)
  }

  test("micro-batches accumulate; duplicate instance in later batch is skipped (file: URI output)") {
    // a URI, not a plain path: the processed state must be found through
    // Hadoop's FileSystem, or every batch sees an empty processed set
    val local = Files.createTempDirectory("stream-out-uri")
    accumulateAndSkipDuplicate(local.toUri.toString.stripSuffix("/"), local.toString)
  }

  test("file-source stream restarts from checkpoint without reprocessing (ST5)") {
    val srcDir = Files.createTempDirectory("stream-src").toString
    val outDir = Files.createTempDirectory("stream-out2").toString
    val ckpt = Files.createTempDirectory("stream-ckpt2").toString

    val dims = graft.operators.ImporterPipeline.projectDimensions(
      Seq(("A", "A_geo", "England", "n1"), ("B", "B_geo", "Wales", "n2"))
        .toDF("instance_id", "dimension_id", "option", "node_id")
        .withColumn("links", struct(struct(lit("myCodeList").as("id")).as("code_list"))))
    val codeLists = Seq(("myCodeList", "England", Some(0)), ("myCodeList", "Wales", Some(1)))
      .toDF("code_list_id", "code", "ord")

    // maxFilesPerTrigger is the file-source backpressure knob (ST5) — the
    // counterpart of the reference's bounded channels: each micro-batch
    // admits one file, so a backlog drains incrementally instead of as one
    // giant batch
    def fileStream = spark.readStream
      .schema("file_url STRING, instance_id STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)

    Seq(("/a", "A")).toDF("file_url", "instance_id")
      .write.mode("append").parquet(srcDir)
    val q1 = ImporterStream.start(spark, fileStream, dims, codeLists, outDir, ckpt)
    try q1.processAllAvailable() finally q1.stop()

    // second life of the query: same checkpoint, new file redelivering A + new B
    Seq(("/a", "A"), ("/b", "B")).toDF("file_url", "instance_id")
      .write.mode("append").parquet(srcDir)
    val q2 = ImporterStream.start(spark, fileStream, dims, codeLists, outDir, ckpt)
    try q2.processAllAvailable() finally q2.stop()

    val updates = spark.read.parquet(s"$outDir/updates")
      .select("instance_id").as[String].collect().toSeq.sorted
    // A exactly once across the restart; B picked up after recovery
    assert(updates === Seq("A", "B"))
  }

  test("mid-pipeline failure routes to the errors sink; stream continues and retries (ST4)") {
    // Reference message/kafka_message_receiver.go:44-50: ANY handler error
    // notifies the error-reporter topic, and the consumer keeps running.
    // Injection: a poison UDF in the dims frame throws while a flag file
    // exists — a stand-in for a transient store/sink failure mid-transform.
    val outDir = Files.createTempDirectory("stream-err-out").toString
    val ckpt = Files.createTempDirectory("stream-err-ckpt").toString
    val flag = Files.createTempFile("stream-poison", ".flag")

    val poison = udf { (opt: String) =>
      if (Files.exists(flag)) throw new RuntimeException("injected store failure")
      opt
    }
    val dims = graft.operators.ImporterPipeline.projectDimensions(fixtureDims)
      .withColumn("option", poison(col("option")))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val stream = mem.toDF().toDF("file_url", "instance_id")

    val q = ImporterStream.start(spark, stream, dims, fixtureCodeLists, outDir, ckpt)
    try {
      // batch 1: one valid event (hits the poison) + one invalid event
      mem.addData(("/a", "A"), ("/bad", ""))
      q.processAllAvailable()
      assert(q.isActive, "a mid-pipeline failure must not kill the stream")

      val errs1 = spark.read.parquet(s"$outDir/errors")
        .select("file_url", "instance_id", "err_context").as[(String, String, String)]
        .collect().toSeq.sorted
      assert(errs1 === Seq(
        ("/a", "A", "failed to process instance batch"),
        ("/bad", "", "unable to process message")),
        s"expected the validation dead-letter AND the pipeline-failure row, got $errs1")
      // the failed event is NOT marked processed — redelivery must retry it
      assert(!Files.exists(java.nio.file.Paths.get(s"$outDir/processed_instances")))

      // failure clears; the redelivered event now succeeds end-to-end
      Files.delete(flag)
      mem.addData(("/a", "A"))
      q.processAllAvailable()
    } finally {
      q.stop()
      Files.deleteIfExists(flag)
    }

    val updates = spark.read.parquet(s"$outDir/updates")
      .select("instance_id", "option").as[(String, String)].collect().toSeq
    assert(updates === Seq(("A", "England")), s"retry after failure: $updates")
    val processed = spark.read.parquet(s"$outDir/processed_instances")
      .as[String].collect().toSeq
    assert(processed === Seq("A"))
  }

  private def fixtureDims = {
    Seq(("A", "A_geo", "England", "n1"), ("B", "B_geo", "Wales", "n2"))
      .toDF("instance_id", "dimension_id", "option", "node_id")
      .withColumn("links", struct(struct(lit("myCodeList").as("id")).as("code_list")))
  }
  private def fixtureCodeLists =
    Seq(("myCodeList", "England", Some(0)), ("myCodeList", "Wales", Some(1)))
      .toDF("code_list_id", "code", "ord")

  /** `dims` with each evaluated row counted in a fresh accumulator, so a
    * spec sees when the static side is derived.
    */
  private def countedDims(dims: DataFrame): (DataFrame, LongAccumulator) = {
    val acc = spark.sparkContext.longAccumulator
    val counted = udf { (opt: String) => acc.add(1); opt }
    (dims.withColumn("option", counted(col("option"))), acc)
  }

  test("the static dimension side is derived once per query, not once per micro-batch") {
    import graft.operators.ImporterPipeline._
    import graft.sources.Fixtures
    val outDir = Files.createTempDirectory("static-once-out").toString
    val ckpt = Files.createTempDirectory("static-once-ckpt").toString
    val (dims, derived) = countedDims(projectDimensions(Fixtures.apiDimensions(spark, sf0001)))
    val codeLists = Fixtures.codeLists(spark, sf0001)
    // batch 3 also redelivers batch 1's head
    val thirds = feedChunks(seed = 7, n = 3)
    val batches = Seq(thirds(0), thirds(1), thirds(2) ++ thirds(0).take(3))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val q = ImporterStream.start(spark, mem.toDF().toDF("file_url", "instance_id"),
      dims, codeLists, outDir, ckpt)
    val counted = try batches.map { b =>
      mem.addData(b)
      q.processAllAvailable()
      derived.value
    } finally q.stop()
    assert(counted.head > 0, "batch 1 did not derive the static side")
    assert(counted === Seq.fill(3)(counted.head), s"dims rows evaluated after each batch: $counted")

    // each batch's updates equal the batch pipeline over its new instances
    val written = spark.read.parquet(s"$outDir/updates")
    val fresh = batches.map(_.collect { case (_, id) if id.nonEmpty => id }.distinct)
      .scanLeft((Set.empty[String], Seq.empty[String])) { case ((seen, _), ids) =>
        (seen ++ ids, ids.filterNot(seen))
      }.tail.map(_._2)
    val expectedRows = fresh.zipWithIndex.map { case (ids, i) =>
      assert(ids.nonEmpty, s"batch $i has no new instance")
      val expected = optionUpdates(
        withOrder(dedupOptions(validDimensions(dims))
          .join(ids.toDF("instance_id"), Seq("instance_id"), "left_semi"), codeLists),
        enablePatchNodeId = true)
      def rows(df: DataFrame) = df.select(expected.columns.map(col).toIndexedSeq: _*)
        .collect().map(_.toString).toSeq.sorted
      val want = rows(expected)
      assert(rows(written.filter(col("batch_id") === i)) === want, s"batch $i")
      want.size
    }
    assert(expectedRows.sum > 0, "no batch produced an update")
  }

  test("a failed batch drops the static side; the next batch derives it again") {
    val outDir = Files.createTempDirectory("static-drop-out").toString
    val ckpt = Files.createTempDirectory("static-drop-ckpt").toString
    val parked = Files.createTempDirectory("static-drop-parked").resolve("run")
    val (dims, derived) =
      countedDims(graft.operators.ImporterPipeline.projectDimensions(fixtureDims))
    val processedScans = new ScanCounter(ImporterStream.Sinks(outDir).processed)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val q = ImporterStream.start(spark, mem.toDF().toDF("file_url", "instance_id"),
      dims, fixtureCodeLists, outDir, ckpt)
    try {
      mem.addData(("/a", "A"))
      q.processAllAvailable()
      val afterFirst = derived.value
      assert(afterFirst > 0, "batch 1 did not derive the static side")

      // the snapshot exists; the query's updates target becomes a regular
      // file, so the next batch fails at its first sink write
      val run = Files.list(Paths.get(outDir, "updates")).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("run=")) match {
        case Seq(r) => r
        case other => fail(s"expected one run directory, got $other")
      }
      Files.move(run, parked)
      Files.createFile(run)
      mem.addData(("/b", "B"))
      q.processAllAvailable()
      assert(q.isActive, "a sink failure must not kill the stream")
      val errs = spark.read.parquet(s"$outDir/errors")
        .select("file_url", "instance_id", "err_context").as[(String, String, String)]
        .collect().toSeq
      assert(errs === Seq(("/b", "B", "failed to process instance batch")))
      assert(derived.value === afterFirst, "the failing batch re-derived the static side")

      // path fixed: the redelivered event derives the snapshot again
      Files.delete(run)
      Files.move(parked, run)
      mem.addData(("/b", "B"))
      q.processAllAvailable()
      assert(derived.value > afterFirst, "the batch after a failure reused the dropped snapshot")
      assert(processedScans.take() === 1, "the batch after a failure did not re-read processed_instances")
    } finally {
      q.stop()
      processedScans.close()
    }

    def ids(table: String) = spark.read.parquet(s"$outDir/$table")
      .select("instance_id").as[String].collect().toSeq.sorted
    assert(ids("updates") === Seq("A", "B"), "redelivered events must land exactly once")
    assert(ids("completed") === Seq("A", "B"))
    assert(ids("processed_instances") === Seq("A", "B"))
  }

  /** Counts this session's queries that scan the table at `dir`, seen
    * through a `QueryExecutionListener`. The listener bus is
    * asynchronous, so [[take]] runs a marker query and waits for it: once
    * it is reported, every earlier query has been.
    */
  private final class ScanCounter(dir: String) extends QueryExecutionListener with AutoCloseable {
    private val Marker = "graft_scan_counter_marker"
    private val reports = new LinkedBlockingQueue[String]()
    spark.listenerManager.register(this)

    private def scans(qe: QueryExecution) = qe.analyzed.collect { case l: LogicalRelation => l.relation }
      .exists {
        case h: HadoopFsRelation => h.location.rootPaths.exists(_.toUri.getPath.stripSuffix("/") == dir)
        case _ => false
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (qe.analyzed.output.map(_.name) == Seq(Marker)) reports.put(Marker)
      else if (scans(qe)) reports.put(dir)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      if (scans(qe)) reports.put(dir)

    /** Scans of `dir` since the previous call. */
    def take(): Int = {
      spark.range(1).toDF(Marker).collect()
      Iterator.continually(reports.poll(60, TimeUnit.SECONDS))
        .takeWhile { r => assert(r != null, "marker query never reached the listener"); r != Marker }
        .size
    }

    def close(): Unit = spark.listenerManager.unregister(this)
  }

  /** The fixture feed (duplicate deliveries and malformed events
    * included) in a fixed shuffled order, cut into `n` chunks.
    */
  private def feedChunks(seed: Int, n: Int): Seq[Seq[(String, String)]] = {
    val events = new scala.util.Random(seed).shuffle(
      graft.sources.Fixtures.importerEvents(spark, sf0001).as[(String, String)].collect().toSeq.sorted)
    events.grouped((events.size + n - 1) / n).toSeq
  }

  /** `.parquet` data files directly in `dir`. */
  private def dataFiles(dir: java.nio.file.Path): Int =
    Files.list(dir).iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))

  test("processed-instance state is read from disk once per query, not once per micro-batch") {
    import graft.operators.ImporterPipeline.projectDimensions
    import graft.sources.Fixtures
    val outDir = Files.createTempDirectory("state-once-out").toString
    val sinks = ImporterStream.Sinks(outDir)
    val chunks = feedChunks(seed = 5, n = 6)
    // a previous query life marked the first chunk's instances
    chunks.head.collect { case (_, id) if id.nonEmpty => id }.distinct.toDF("instance_id")
      .write.parquet(sinks.processed)
    val previousFiles = dataFiles(Paths.get(sinks.processed))
    val batches = chunks.tail
    val counter = new ScanCounter(sinks.processed)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val q = ImporterStream.start(spark, mem.toDF().toDF("file_url", "instance_id"),
      projectDimensions(Fixtures.apiDimensions(spark, sf0001)), Fixtures.codeLists(spark, sf0001),
      outDir, Files.createTempDirectory("state-once-ckpt").toString)
    val reads = try {
      counter.take()
      batches.map { b =>
        mem.addData(b)
        q.processAllAvailable()
        counter.take()
      }
    } finally {
      q.stop()
      counter.close()
    }
    assert(batches.size >= 5)
    assert(reads === 1 +: Seq.fill(batches.size - 1)(0), s"processed_instances scans per batch: $reads")

    // the previous life's marks were honoured, and every instance landed once
    val completed = spark.read.parquet(sinks.completed).select("instance_id").as[String].collect().toSeq
    val marked = chunks.head.map(_._2).toSet
    assert(completed.sorted === batches.flatten.collect {
      case (_, id) if id.nonEmpty && !marked(id) => id }.distinct.sorted)

    // one data file per sink per batch
    for (sink <- Seq(sinks.updates, sinks.completed)) {
      val batchDirs = Files.walk(Paths.get(sink)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("batch_id=")).toSeq
      assert(batchDirs.nonEmpty, sink)
      batchDirs.foreach(d => assert(dataFiles(d) === 1, d))
    }
    val batchesWithNew = Files.walk(Paths.get(sinks.completed)).iterator().asScala
      .count(_.getFileName.toString.startsWith("batch_id="))
    assert(dataFiles(Paths.get(sinks.processed)) === previousFiles + batchesWithNew)
    assert(dataFiles(Paths.get(sinks.errors)) <= batches.size)
  }

  /** Delivers batch 1 k + 1 times; the first k deliveries meet a broken
    * `sink` (the query's run directory there replaced by a regular file).
    * The outputs must equal a fault-free run's, with k error rows per
    * event those deliveries carried new.
    */
  private def sinkFailingOnKDeliveries(sink: String): Unit = {
    import graft.operators.ImporterPipeline.projectDimensions
    import graft.sources.Fixtures
    val chunks = feedChunks(seed = 13, n = 4)
    val k = 2
    val deliveries = Seq(chunks(0)) ++ Seq.fill(k + 1)(chunks(1)) ++ chunks.drop(2)
    val failing = 1 to k

    /** Runs the deliveries into a fresh output directory, with the query's
      * `sink` run directory replaced by a regular file during `failing`;
      * returns the directory and the processed_instances scans per batch.
      */
    def run(faults: Boolean): (String, Seq[Int]) = {
      val outDir = Files.createTempDirectory("fault-out").toString
      val counter = new ScanCounter(ImporterStream.Sinks(outDir).processed)
      val parked = Files.createTempDirectory("fault-parked").resolve("run")
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, String)]
      val q = ImporterStream.start(spark, mem.toDF().toDF("file_url", "instance_id"),
        projectDimensions(Fixtures.apiDimensions(spark, sf0001)), Fixtures.codeLists(spark, sf0001),
        outDir, Files.createTempDirectory("fault-ckpt").toString)
      def runDir = Files.list(Paths.get(outDir, sink)).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("run=")) match {
        case Seq(r) => r
        case other => fail(s"expected one run directory, got $other")
      }
      try {
        counter.take()
        val reads = deliveries.zipWithIndex.map { case (d, i) =>
          if (faults && i == failing.head) {
            val r = runDir
            Files.move(r, parked)
            Files.createFile(r)
          }
          if (faults && i == failing.last + 1) {
            val r = runDir
            Files.delete(r)
            Files.move(parked, r)
          }
          mem.addData(d)
          q.processAllAvailable()
          assert(q.isActive, "a sink failure must not kill the stream")
          counter.take()
        }
        (outDir, reads)
      } finally {
        q.stop()
        counter.close()
      }
    }

    val (clean, cleanReads) = run(faults = false)
    val (faulty, faultyReads) = run(faults = true)
    assert(cleanReads === Seq.fill(deliveries.size)(0), "a fault-free run re-read processed_instances")
    // each failure drops the snapshot: the next delivery reads the table
    assert(faultyReads === deliveries.indices.map(i => if (failing.contains(i - 1)) 1 else 0),
      s"processed_instances scans per batch: $faultyReads")

    def rows(outDir: String, table: String) = {
      val df = spark.read.parquet(s"$outDir/$table")
      df.select(df.columns.filterNot(Set("run", "batch_id")).map(col).toIndexedSeq: _*)
        .collect().map(_.toString).toSeq.sorted
    }
    for (table <- Seq("updates", "completed", "processed_instances"))
      assert(rows(faulty, table) === rows(clean, table), s"$table differs from the fault-free run")
    val failure = "failed to process instance batch"
    def errors(outDir: String) = spark.read.parquet(s"$outDir/errors")
      .select("file_url", "instance_id", "err_context").as[(String, String, String)].collect().toSeq
    assert(errors(faulty).filter(_._3 != failure).sorted === errors(clean).sorted)
    assert(errors(clean).forall(_._3 != failure))

    // exactly k failure rows per event the failing deliveries carried new
    val affected = spark.read.parquet(s"$clean/completed").filter(col("batch_id") === failing.head)
      .select("file_url", "instance_id").as[(String, String)].collect().toSeq
    assert(affected.nonEmpty, "the failing deliveries carried no new event")
    val failed = errors(faulty).filter(_._3 == failure).map(e => (e._1, e._2))
    assert(failed.groupBy(identity).map { case (e, n) => e -> n.size } === affected.map(_ -> k).toMap)
  }

  test("a sink failing on k consecutive deliveries: outputs equal a fault-free run, k error rows per event") {
    sinkFailingOnKDeliveries("updates")
  }

  test("the completed sink failing on k consecutive deliveries: the failed deliveries' updates do not survive") {
    // updates lands before completed fails (or beside it): each failed
    // delivery must remove its own per-batch output, or the redelivery,
    // under a new batch id, lands those rows a second time
    sinkFailingOnKDeliveries("completed")
  }

  private final case class Job(name: String, batch: String, group: String, query: String)

  /** Runs `batches` through a fresh `ImporterStream` query into `outDir`,
    * one `processAllAvailable` each, and returns the query with the
    * `importer …` jobs it started (by job id).
    */
  private def importerJobs(outDir: String, batches: Seq[Seq[(String, String)]])
      : (StreamingQuery, Map[Int, Job]) = {
    val Marker = "graft importer job marker"
    val jobs = new ConcurrentHashMap[Int, Job]()
    val markerEnded = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
        jobs.put(e.jobId, Job(prop("spark.job.description"), prop("streaming.sql.batchId"),
          prop("spark.jobGroup.id"), prop("sql.streaming.queryId")))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (Option(jobs.get(e.jobId)).exists(_.name == Marker)) markerEnded.countDown()
    }
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    spark.sparkContext.addSparkListener(listener)
    val q = try {
      val q = ImporterStream.start(spark, mem.toDF().toDF("file_url", "instance_id"),
        graft.operators.ImporterPipeline.projectDimensions(fixtureDims), fixtureCodeLists,
        outDir, Files.createTempDirectory("jobs-ckpt").toString)
      try {
        for (b <- batches) {
          mem.addData(b)
          q.processAllAvailable()
        }
      } finally q.stop()
      // the listener bus is ordered: once the marker job has ended there,
      // every job of the query has been reported
      spark.sparkContext.setJobDescription(Marker)
      try spark.range(1).collect()
      finally spark.sparkContext.setJobDescription(null)
      assert(markerEnded.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      q
    } finally spark.sparkContext.removeSparkListener(listener)
    (q, jobs.asScala.toMap.filter(_._2.name.startsWith("importer")))
  }

  test("a batch starts only its read and updates collect, under the query's job group") {
    val outDir = Files.createTempDirectory("batch-jobs-out").toString
    val (q, importer) = importerJobs(outDir, Seq(Seq(("/a", "A"), ("/bad", "")), Seq(("/b", "B"))))
    assert(importer.nonEmpty)
    importer.foreach { case (id, j) =>
      assert(j.group === q.runId.toString, s"job $id ($j) left the query's job group")
      assert(j.query === q.id.toString, s"job $id ($j)")
    }
    val byBatch = importer.toSeq.groupBy(_._2.batch)
    assert(byBatch.keySet === Set("0", "1"), byBatch)
    // the batch is read by one job and its updates collected by another;
    // the sinks are written from the driver, so no write job starts; the
    // static side is derived on batch 0 only
    val expected = Map(
      "0" -> Set("importer batch", "importer static side", "importer updates"),
      "1" -> Set("importer batch", "importer updates"))
    for ((batch, batchJobs) <- byBatch) {
      val names = batchJobs.map(_._2.name)
      assert(names.toSet === expected(batch), s"batch $batch")
      assert(names.count(_ == "importer batch") === 1, s"batch $batch read its source more than once")
      assert(names.count(_ == "importer updates") === 1, s"batch $batch")
    }
    // every sink's output is there
    for (sink <- Seq("updates", "completed", "processed_instances", "errors"))
      assert(spark.read.parquet(s"$outDir/$sink").count() > 0, sink)
  }

  test("a batch with no malformed event writes no errors file and starts no dead-letter job") {
    val outDir = Files.createTempDirectory("no-dead-out").toString
    val sinks = ImporterStream.Sinks(outDir)
    val (_, clean) = importerJobs(outDir, Seq(Seq(("/a", "A"), ("/b", "B"))))
    assert(clean.values.map(_.name).toSet === Set("importer batch", "importer static side", "importer updates"),
      clean)
    assert(!Files.exists(Paths.get(sinks.errors)), "a batch without dead letters wrote an errors file")

    // one malformed event: exactly one errors file and row, and still no job
    val (_, withBad) = importerJobs(outDir, Seq(Seq(("/c", "A"), ("/bad", ""))))
    assert(!withBad.values.exists(_.name.endsWith("sink")), withBad)
    assert(dataFiles(Paths.get(sinks.errors)) === 1)
    assert(spark.read.parquet(sinks.errors).select("file_url", "instance_id", "err_context")
      .as[(String, String, String)].collect().toSeq === Seq(("/bad", "", "unable to process message")))
  }

  test("the per-event processed lookup equals the batch anti-join on a crafted batch") {
    import graft.operators.ImporterPipeline._
    val outDir = Files.createTempDirectory("lookup-out").toString
    val sinks = ImporterStream.Sinks(outDir)
    // a previous life marked P
    Seq("P").toDF("instance_id").write.parquet(sinks.processed)
    val batch = Seq(
      ("/a", "A"), ("/a", "A"), // an exact duplicate delivery
      ("/b1", "B"), ("/b2", "B"), // one instance under two file_urls
      ("/e", ""), // malformed: an empty instance_id
      ("/n", null), // neither valid nor malformed
      ("/p", "P"), ("/p2", "P")) // already processed, original URL and another
      .toDF("file_url", "instance_id")
    def rows(df: DataFrame) = df.select("file_url", "instance_id").collect().map(_.toString).toSeq.sorted
    def errorRows(df: DataFrame) =
      df.select("file_url", "instance_id", "err_context", "error").collect().map(_.toString).toSeq.sorted
    val expectedCompleted = rows(completedEvents(newInstanceEvents(validEvents(batch),
      spark.read.schema(graft.model.Schemas.ProcessedSchema).parquet(sinks.processed))))
    val expectedErrors = errorRows(deadLetters(batch))
    assert(expectedCompleted === Seq("[/a,A]", "[/b1,B]", "[/b2,B]"))

    ImporterStream.processBatch(spark, batch,
      new ImporterStream.StaticSide(projectDimensions(fixtureDims), fixtureCodeLists),
      new ImporterStream.ProcessedIds(sinks.processed), sinks, "run1", 0L)
    assert(rows(spark.read.parquet(sinks.completed)) === expectedCompleted)
    assert(errorRows(spark.read.parquet(sinks.errors)) === expectedErrors)
  }

  test("the jobs of a steady batch do not grow with the processed set") {
    val outDir = Files.createTempDirectory("steady-jobs-out").toString
    // a previous life marked 2,000 instances; each batch adds three and
    // redelivers one it marked itself
    (0 until 2000).map(i => s"old$i").toDF("instance_id").write.parquet(ImporterStream.Sinks(outDir).processed)
    val batches = (0 until 6).map { b =>
      (0 until 3).map(i => (s"/n$b-$i", s"N$b-$i")) ++ Seq((s"/old$b", s"old$b")) ++
        (if (b > 0) Seq((s"/n${b - 1}-0", s"N${b - 1}-0")) else Nil)
    }
    val (_, importer) = importerJobs(outDir, batches)
    val perBatch = (0 until 6).map(b => importer.values.count(_.batch == b.toString))
    // batch 0 also seeds the set and derives the static side
    assert(perBatch.tail === Seq.fill(5)(2), s"importer jobs per batch: $perBatch")
    val completed = spark.read.parquet(s"$outDir/completed").select("instance_id").as[String].collect()
    assert(completed.sorted.toSeq === batches.flatMap(_.take(3).map(_._2)).sorted)
  }

  test("a failed dead-letter write leaves processBatch; nothing is marked, no per-batch output is left") {
    val outDir = Files.createTempDirectory("dead-fail-out").toString
    val sinks = ImporterStream.Sinks(outDir)
    // the errors sink is a regular file: the dead-letter write fails
    Files.createFile(Paths.get(sinks.errors))
    val side = new ImporterStream.StaticSide(
      graft.operators.ImporterPipeline.projectDimensions(fixtureDims), fixtureCodeLists)
    val batch = Seq(("/a", "A"), ("/bad", "")).toDF("file_url", "instance_id")
    intercept[Exception] {
      ImporterStream.processBatch(spark, batch, side,
        new ImporterStream.ProcessedIds(sinks.processed), sinks, "run1", 0L)
    }
    assert(!Files.exists(Paths.get(sinks.processed)), "a batch whose dead letters failed was marked")
    for (sink <- Seq(sinks.updates, sinks.completed) if Files.exists(Paths.get(sink))) {
      val left = Files.walk(Paths.get(sink)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("batch_id=")).toSeq
      assert(left.isEmpty, s"the failed batch left $left")
    }
  }

  test("graceful drain flushes in-flight data; restart after drain adds no duplicates (ST5)") {
    val outDir = Files.createTempDirectory("drain-out").toString
    val dims = graft.operators.ImporterPipeline.projectDimensions(fixtureDims)

    implicit val sqlCtx = spark.sqlContext
    val mem1 = MemoryStream[(String, String)]
    val q1 = ImporterStream.start(spark, mem1.toDF().toDF("file_url", "instance_id"),
      dims, fixtureCodeLists, outDir, Files.createTempDirectory("drain-c1").toString)
    mem1.addData(("/a", "A"))
    // generous budget → everything delivered must be flushed before stop
    assert(graft.streaming.Drain.drain(q1, budgetMs = 60000))
    assert(!q1.isActive)
    assert(spark.read.parquet(s"$outDir/updates")
      .select("instance_id").as[String].collect().toSeq === Seq("A"))

    // second life: redeliver A (at-least-once) + new B on the same sinks —
    // the drain left the processed table consistent, so no duplicates
    val mem2 = MemoryStream[(String, String)]
    val q2 = ImporterStream.start(spark, mem2.toDF().toDF("file_url", "instance_id"),
      dims, fixtureCodeLists, outDir, Files.createTempDirectory("drain-c2").toString)
    try {
      mem2.addData(("/a", "A"), ("/b", "B"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(s"$outDir/updates")
      .select("instance_id").as[String].collect().toSeq.sorted === Seq("A", "B"))
  }

  test("avro wire format decodes inside the micro-batch (S1+S2 end-to-end)") {
    // the modeled Kafka path: the stream carries raw Avro payloads (what a
    // Kafka value column holds); each micro-batch decodes with the
    // reference's schema and runs the validation stage
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.AvroEvents
    val payloads = AvroEvents.encode(
      Seq(("/a", "A"), ("/bad", ""), ("/b", "B")).toDF("file_url", "instance_id"))
      .collect().toSeq
    val mem = MemoryStream[Array[Byte]]
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val q = mem.toDS().writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Array[Byte]], _: Long) =>
        val decoded = AvroEvents.decode(batch)
        val valid = graft.operators.ImporterPipeline.validEvents(decoded)
        got ++= valid.as[(String, String)].collect(): Unit
      }
      .start()
    try {
      mem.addData(payloads: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(got.sorted === Seq(("/a", "A"), ("/b", "B")))
  }

  test("stream-stream interval join matches errors within the window only") {
    import graft.streaming.StreamJoins
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val pMem = MemoryStream[(String, Long, java.sql.Timestamp)]
    val eMem = MemoryStream[(String, Long, java.sql.Timestamp)]
    val joined = StreamJoins.purchaseErrorJoin(
      pMem.toDF().toDF("p_user", "p_id", "p_ts"),
      eMem.toDF().toDF("e_user", "e_id", "e_ts"))
    val q = joined.writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      pMem.addData(("u1", 1L, ts(0)), ("u2", 2L, ts(0)))
      eMem.addData(
        ("u1", 10L, ts(5)),   // in window → match
        ("u1", 11L, ts(20)),  // past 10-minute window → no match
        ("u2", 12L, ts(0)),   // same instant, inclusive bound → match
        ("u3", 13L, ts(1)))   // no purchase → no match
      q.processAllAvailable()
      val got = spark.table("ssj").select("p_id", "e_id")
        .as[(Long, Long)].collect().toSet
      assert(got === Set((1L, 10L), (2L, 12L)))
      // both join-state watermarks are set → state is expirable, and the
      // plan is a genuine stream-stream join, not stream-static
      val prog = q.lastProgress
      assert(prog.eventTime.get("watermark") != null)
      assert(prog.stateOperators.nonEmpty)
    } finally q.stop()
  }

  test("streaming foreachBatch into the JDBC graph target is exactly-once per batch") {
    implicit val sqlCtx = spark.sqlContext
    val url = "jdbc:derby:memory:graftstream;create=true"
    val mem = MemoryStream[(String, String, String)]
    val q = mem.toDF().toDF("id", "label", "props").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // deterministic per-batch jobId: a redelivered batch REPLACES its
        // own rows instead of appending duplicates
        batch.write.format("graft-graph-sink").mode("append")
          .option("jobId", s"stream-$batchId")
          .option("target", "jdbc").option("url", url).save()
      }
      .start()
    try {
      mem.addData(("n1", "A", "p1"), ("n2", "A", "p2"))
      q.processAllAvailable()
      mem.addData(("n3", "B", "p3"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "GRAFT_NODES").load()
      .filter(col("JOB_ID").startsWith("stream-"))
    assert(rows.count() === 3)
    // simulate at-least-once redelivery of batch 0 with more partitions:
    // same jobId → replace, not duplicate
    Seq(("n1", "A", "p1"), ("n2", "A", "p2")).toDF("id", "label", "props")
      .repartition(3)
      .write.format("graft-graph-sink").mode("append")
      .option("jobId", "stream-0").option("target", "jdbc").option("url", url).save()
    assert(rows.count() === 3, "redelivered batch must not duplicate rows")
  }

  test("stateful aggregation runs on the RocksDB state store provider (ST3 at scale)") {
    // the production state backend: HDFSBackedStateStore keeps every key
    // in executor heap, RocksDB spills to local disk — the difference
    // between a streaming job capped by memory and one capped by disk
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(String, Long)]
      val counts = mem.toDF().toDF("k", "v").groupBy("k").count()
      val q = counts.writeStream.outputMode("update")
        .format("memory").queryName("rocks").start()
      try {
        mem.addData(("a", 1L), ("a", 2L), ("b", 1L))
        q.processAllAvailable()
        mem.addData(("a", 3L)) // state survives across batches
        q.processAllAvailable()
        val got = spark.table("rocks").groupBy($"k")
          .agg(max($"count").as("n")).as[(String, Long)].collect().toMap
        assert(got === Map("a" -> 3L, "b" -> 1L))
        // the operator really is backed by RocksDB, not the default store
        val sm = q.lastProgress.stateOperators.head
        assert(sm.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")),
          s"expected rocksdb metrics, got ${sm.customMetrics.keySet}")
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("event-time session windows close under the watermark (ST2)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val sessions = mem.toDF().toDF("ts", "user_id", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      // user 1: events at 10:01 and 10:03 join one session (gap < 5 min)
      mem.addData((ts(1), 1L, 1.0), (ts(3), 1L, 1.0))
      q.processAllAvailable()
      // advance event time past the watermark so the session finalizes
      mem.addData((ts(30), 2L, 1.0))
      q.processAllAvailable()
      mem.addData((ts(59), 2L, 1.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, n, cast(session_window.start AS string) FROM sessions")
        .as[(Long, Long, String)].collect().toSeq.sorted
      // both sessions whose end fell behind the advancing watermark have
      // finalized; the 10:59 session is still open (not emitted)
      assert(rows === Seq(
        (1L, 2L, "2024-01-01 10:01:00"),
        (2L, 1L, "2024-01-01 10:30:00")))
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the existing backlog then stops itself (ST5)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    mem.addData(("i1", "f1"), ("i2", "f2"), ("i3", "f3"))
    val q = mem.toDF().toDF("instance_id", "file_url")
      .writeStream.outputMode("append")
      .format("memory").queryName("avail_now")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // the scheduled-batch form of drain: process everything available at
    // start time, then terminate without an explicit stop()
    assert(q.awaitTermination(30000), "query did not self-terminate")
    assert(spark.sql("SELECT count(*) FROM avail_now").head().getLong(0) === 3L)
    // later arrivals belong to the NEXT scheduled run, not this one
    mem.addData(("i4", "f4"))
    assert(spark.sql("SELECT count(*) FROM avail_now").head().getLong(0) === 3L)
  }

  test("dropDuplicatesWithinWatermark suppresses redelivery across batches (ST1, bounded state)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val deduped = graft.streaming.StatefulOps.dedupedWithinWatermark(
      mem.toDF().toDF("ts", "instance_id"), "ts", "10 minutes", "instance_id")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("wm_dedup").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      // batch 1: i1 delivered twice in-batch, i2 once
      mem.addData((ts(0), "i1"), (ts(1), "i1"), (ts(2), "i2"))
      q.processAllAvailable()
      // batch 2: at-least-once source redelivers i1 within the watermark
      mem.addData((ts(5), "i1"), (ts(6), "i3"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT instance_id, count(*) FROM wm_dedup GROUP BY 1")
        .as[(String, Long)].collect().toMap
      assert(rows === Map("i1" -> 1L, "i2" -> 1L, "i3" -> 1L))
    } finally q.stop()
  }

  private def eventually[T](maxMs: Long = 20000)(f: => T): T = {
    val deadline = System.currentTimeMillis() + maxMs
    var last: Throwable = null
    while (System.currentTimeMillis() < deadline) {
      try return f
      catch { case e: Throwable => last = e; Thread.sleep(100) }
    }
    throw last
  }

  test("health monitor: starting → ok → stopped, failure flips unhealthy (ST6)") {
    val mon = new graft.streaming.HealthMonitor
    spark.streams.addListener(mon)
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, String)]
      val outDir = Files.createTempDirectory("health-out").toString
      val q = ImporterStream.start(spark,
        mem.toDF().toDF("file_url", "instance_id"),
        graft.operators.ImporterPipeline.projectDimensions(fixtureDims),
        fixtureCodeLists, outDir, Files.createTempDirectory("health-c").toString)
      try {
        mem.addData(("/a", "A"))
        q.processAllAvailable()
        eventually() {
          val h = mon.health(q.id).get
          assert(h.status === graft.streaming.Health.Ok)
          assert(h.totalInputRows >= 1L && h.numProgressEvents >= 1L)
          assert(h.healthy(System.currentTimeMillis(), staleAfterMs = 60000))
          assert(!h.healthy(h.lastEventMs + 120000, staleAfterMs = 60000), "staleness must trip")
        }
      } finally q.stop()
      eventually() {
        assert(mon.health(q.id).get.status === graft.streaming.Health.Stopped)
        assert(mon.allHealthy(staleAfterMs = 60000), "cleanly stopped queries stay green")
      }

      // a crashing query must surface as Failed and flip the liveness gate
      val memBad = MemoryStream[(String, String)]
      val qBad = memBad.toDF().writeStream
        .outputMode("append")
        .option("checkpointLocation", Files.createTempDirectory("health-bad").toString)
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new RuntimeException("boom")
        }
        .start()
      memBad.addData(("/x", "X"))
      intercept[Exception] { qBad.processAllAvailable() }
      eventually() {
        mon.health(qBad.id).get.status match {
          case graft.streaming.Health.Failed(err) => assert(err.contains("boom"))
          case other => fail(s"expected Failed, got $other")
        }
        assert(!mon.allHealthy(staleAfterMs = 60000))
      }
    } finally spark.streams.removeListener(mon)
  }

  test("health endpoint: /health serves 200/429/500 with per-query JSON (ST6)") {
    import graft.streaming.{HealthEndpoint, HealthMonitor}
    val mon = new HealthMonitor
    spark.streams.addListener(mon)
    val ep = HealthEndpoint.start(mon, port = 0, staleAfterMs = 60000L)
    val http = java.net.http.HttpClient.newHttpClient()
    def get(path: String): (Int, String) = {
      val resp = http.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${ep.port}$path")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    try {
      // no queries tracked yet: green, empty checks array
      val (c0, b0) = get("/health")
      assert(c0 === 200 && b0.contains("\"status\":\"OK\"") && b0.contains("\"checks\":[]"))
      assert(get("/nope")._1 === 404)

      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, String)]
      val q = ImporterStream.start(spark,
        mem.toDF().toDF("file_url", "instance_id"),
        graft.operators.ImporterPipeline.projectDimensions(fixtureDims),
        fixtureCodeLists, Files.createTempDirectory("hep-out").toString,
        Files.createTempDirectory("hep-c").toString)
      try {
        mem.addData(("/a", "A"))
        q.processAllAvailable()
        eventually() {
          val (c, b) = get("/health")
          assert(c === 200, b)
          assert(b.contains("\"status\":\"OK\"") && b.contains("query progressing"))
          assert(b.contains("\"total_input_rows\":"))
        }
      } finally q.stop()

      // a failed query flips the endpoint to 500 CRITICAL with the error
      val memBad = MemoryStream[(String, String)]
      val qBad = memBad.toDF().writeStream
        .outputMode("append")
        .option("checkpointLocation", Files.createTempDirectory("hep-bad").toString)
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new RuntimeException("kaboom")
        }
        .start()
      memBad.addData(("/x", "X"))
      intercept[Exception] { qBad.processAllAvailable() }
      eventually() {
        val (c, b) = get("/health")
        assert(c === 500, b)
        assert(b.contains("\"status\":\"CRITICAL\"") && b.contains("kaboom"))
      }
    } finally {
      ep.stop()
      spark.streams.removeListener(mon)
    }
  }

  test("transformWithState: multiple state variables, bounded recent list") {
    import graft.streaming.{StatefulOps, UserEvent, UserSnapshot, UserStatsProcessor}
    implicit val sqlCtx = spark.sqlContext
    // transformWithState only runs on the RocksDB provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[UserEvent]
      val q = StatefulOps.userStats(mem.toDS())
        .writeStream.format("memory").queryName("tws_stats")
        .outputMode("update").start()
      try {
        mem.addData(UserEvent(1L, "view", 1.0), UserEvent(1L, "view", 2.5))
        q.processAllAvailable()
        // pile 7 more values onto user 1: list state must stay capped at 5
        mem.addData((1 to 7).map(i => UserEvent(1L, "view", i.toDouble)): _*)
        mem.addData(UserEvent(2L, "view", 9.0))
        q.processAllAvailable()
        import spark.implicits._
        val last = spark.table("tws_stats").as[UserSnapshot].collect()
          .groupBy(_.user_id).view.mapValues(_.maxBy(_.n)).toMap
        // counter and exact-integer total accumulate across batches
        assert(last(1L).n === 9L)
        assert(last(1L).total_e2 === 350L + 2800L) // (1.0+2.5)·100 + Σ1..7·100
        assert(last(1L).recent_max_e2 === 700L)
        assert(last(2L).n === 1L && last(2L).total_e2 === 900L)
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("transformWithState event-time timers close idle sessions") {
    import graft.streaming.{SessionSummary, SessionTimeoutProcessor, TimedEvent}
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
      val mem = MemoryStream[TimedEvent]
      val withWm = mem.toDS()
        .withWatermark("ts", "0 seconds")
      import spark.implicits._
      val q = SessionTimeoutProcessor.sessions(withWm.as[TimedEvent], gapMs = 5 * 60000L)
        .writeStream.format("memory").queryName("tws_sessions")
        .outputMode("append").start()
      try {
        // user 1: two events a minute apart; user 2: one event. (Away
        // from t=0 — a first-batch event AT the initial watermark would
        // be dropped as late.)
        mem.addData(TimedEvent(1L, ts(10)), TimedEvent(1L, ts(11)), TimedEvent(2L, ts(12)))
        q.processAllAvailable()
        assert(spark.table("tws_sessions").count() === 0, "no timer should fire yet")
        // user 2 keeps talking far in the future → watermark jumps past
        // user 1's (last + gap) timer; the TIMER emits user 1's session,
        // though user 1 itself sent nothing in this batch
        mem.addData(TimedEvent(2L, ts(60)))
        q.processAllAvailable()
        mem.addData(TimedEvent(2L, ts(61))) // one more batch so timers run
        q.processAllAvailable()
        val out = spark.table("tws_sessions").as[SessionSummary].collect()
        val u1 = out.filter(_.user_id == 1L)
        assert(u1.length === 1, s"expected user 1 session closed, got ${out.toSeq}")
        assert(u1.head.n === 2L && u1.head.last_ts_ms === 11 * 60000L)
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming changelog: order-independent convergence to the batch u3 snapshot") {
    import graft.streaming.{ChangeRecord, StreamingChangelog}
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[ChangeRecord]
      val q = StreamingChangelog.materialize(mem.toDS())
        .writeStream.format("memory").queryName("cdc_mat")
        .outputMode("update").start()
      try {
        // deliberately shuffled arrival: key 2's TOMBSTONE lands before
        // its (stale) insert; key 1's winner lands in the middle
        mem.addData(
          ChangeRecord(1L, 20L, false, "a1"),
          ChangeRecord(2L, 21L, true, "bX"))
        q.processAllAvailable()
        mem.addData(
          ChangeRecord(1L, 30L, false, "a2"),
          ChangeRecord(2L, 11L, false, "b"), // stale: pre-tombstone row
          ChangeRecord(3L, 12L, true, "c"))
        q.processAllAvailable()
        import spark.implicits._
        assert(!spark.table("cdc_mat").as[ChangeRecord].collect()
          .exists(r => r.key == 2L && r.seq == 11L),
          "a stale row must not emit a delta")
        mem.addData(
          ChangeRecord(1L, 10L, false, "a0"), // stale for key 1: silent
          ChangeRecord(3L, 22L, false, "c2")) // re-insert after tombstone
        q.processAllAvailable()
        val emitted = spark.table("cdc_mat").as[ChangeRecord].collect()
        assert(!emitted.exists(r => r.key == 1L && r.seq == 10L))
        // converged state = latest emission per key (emissions are
        // strictly increasing in seq), tombstoned keys dropped
        val live = emitted.groupBy(_.key).view.mapValues(_.maxBy(_.seq))
          .values.filter(!_.is_delete).map(r => (r.key, r.seq, r.value)).toSet
        // the batch u3 operator over the SAME feed, all at once
        val feed = Seq(
          (1L, 20L, false, "a1"), (2L, 21L, true, "bX"),
          (1L, 30L, false, "a2"), (2L, 11L, false, "b"), (3L, 12L, true, "c"),
          (1L, 10L, false, "a0"), (3L, 22L, false, "c2"))
          .toDF("key", "seq", "is_delete", "value")
        val cold = graft.operators.MergeOps
          .applyChangelog(feed, Seq("key"), "seq", "is_delete")
          .as[(Long, Long, String)].collect().toSet
        assert(live === cold,
          s"stream state $live must converge to the batch snapshot $cold")
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming minhash dedup flags cross-batch near-copies only") {
    import graft.streaming.{NearDupHit, StreamDoc, StreamingDedup}
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearCopy = (2 to 60).map(i => s"w$i").mkString(" ") // first token dropped
    val far = (100 to 160).map(i => s"z$i").mkString(" ")
    val far2 = (200 to 260).map(i => s"y$i").mkString(" ")

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamDoc]
    // stateTtl = None: with processing-time timers pending, the engine
    // keeps scheduling timeout-check batches and processAllAvailable
    // never goes idle — the TTL path is for real triggers, not tests
    val hits = StreamingDedup.nearDupHits(mem.toDS(), stateTtl = None)
    val q = hits.writeStream.format("memory").queryName("neardup_hits")
      .outputMode("append").start()
    try {
      mem.addData(StreamDoc(1L, base), StreamDoc(2L, far))
      q.processAllAvailable()
      // batch 1: nothing seen before → no hits
      assert(spark.table("neardup_hits").count() === 0)
      // batch 2, arbitrarily later: a near-copy of doc 1 and a fresh doc
      mem.addData(StreamDoc(3L, nearCopy), StreamDoc(4L, far2))
      q.processAllAvailable()
      val out = spark.table("neardup_hits").as[NearDupHit].collect()
      assert(out.nonEmpty, "near-copy not detected across batches")
      assert(out.forall(h => h.doc_id === 3L && h.dup_of === 1L))
      // signature agreement of a one-token-shorter doc is high
      assert(out.map(_.est_e4).max >= 5000L)
    } finally q.stop()
  }

  test("streaming quality gate is bit-equal to the batch t20 gate columns") {
    import graft.streaming.{GatedDoc, StreamDoc, StreamingGates}
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .selectExpr("doc_id", "text").as[(Long, String)].collect()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamDoc]
    val q = StreamingGates.qualityGate(mem.toDS())
      .writeStream.format("memory").queryName("gated_docs")
      .outputMode("append").start()
    try {
      // two arbitrary micro-batches — the gate is stateless, so the split
      // point must not matter
      val (b1, b2) = docs.splitAt(docs.length / 3)
      mem.addData(b1.map { case (id, t) => StreamDoc(id, t) }.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(b2.map { case (id, t) => StreamDoc(id, t) }.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("gated_docs").as[GatedDoc].collect()
        .map(g => (g.doc_id, g.n_tokens, g.quality_e4)).toSet
      // the batch side of the SAME formulas and thresholds
      import graft.operators.{TextAnalysis, TrainingPrep}
      val batch = TextAnalysis.tokenStats(spark, sf0001)
        .join(TextAnalysis.qualityScores(spark, sf0001), "doc_id")
        .filter($"quality_e4" >= TrainingPrep.MinQualityE4 &&
          $"n_tokens".between(TrainingPrep.MinTokens, TrainingPrep.MaxTokens))
        .select($"doc_id", $"n_tokens", $"quality_e4")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty && streamed.size < docs.length)
    } finally q.stop()
  }

  test("streaming segment dedup sums to the batch d10 fractions across batches") {
    import graft.streaming.{SegDupDelta, StreamDoc, StreamingSegmentDedup}
    // the graded d10 corpus: documents plus the planted partial copies —
    // replayed with every ORIGINAL in earlier batches and every planted
    // copy in the last, so the duplicate signal must cross batches
    val corpus = graft.operators.Dedup
      .maybePartialCopies(spark, sf0001, plantCopies = true)
      .as[(Long, String)].collect()
    val (originals, planted) = corpus.partition(_._1 < 1000000L)

    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[StreamDoc]
      // stateTtl = None: bounded replay, exact parity required (and no
      // pending processing-time timers to stall processAllAvailable)
      val q = StreamingSegmentDedup.dupDeltas(mem.toDS(), stateTtl = None)
        .writeStream.format("memory").queryName("seg_deltas")
        .outputMode("append").start()
      try {
        val (b1, b2) = originals.splitAt(originals.length / 2)
        for (b <- Seq(b1, b2, planted)) {
          mem.addData(b.map { case (id, t) => StreamDoc(id, t) }.toIndexedSeq)
          q.processAllAvailable()
        }
        val streamedDup = spark.table("seg_deltas").as[SegDupDelta].collect()
          .groupBy(_.doc_id).view.mapValues(_.map(_.dup_delta).sum).toMap
        val batch = graft.operators.Dedup
          .duplicatedSegments(spark, sf0001, plantCopies = true)
          .select("doc_id", "n_dup_segments").as[(Long, Long)].collect().toMap
        // bit-equality on every doc with a duplicated span (the stream
        // emits no row for dup-free docs; batch reports their 0)
        assert(streamedDup === batch.filter(_._2 > 0L),
          s"stream/batch divergence: ${streamedDup.size} vs ${batch.count(_._2 > 0L)}")
        assert(streamedDup.nonEmpty)
        // the planted copies and their originals all carry the signal
        assert(streamedDup.keySet.exists(_ >= 2000000L))
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming shingle-index ingest matches a batch rebuild, dedup passes stay exchange-free") {
    import graft.operators.ShingleIndex
    val base = Files.createTempDirectory("shstream")
    val tblS = "shidx_streamed"
    val tblF = "shidx_full"
    try {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      // reference: one cold build over the whole corpus
      ShingleIndex.buildFor(spark, docs, s"$base/full", tblF)
      // under test: build on the first half, stream the rest in two batches
      ShingleIndex.buildFor(spark, docs.filter(col("doc_id") < 250), s"$base/str", tblS)
      implicit val sqlCtx = spark.sqlContext
      val rest = docs.filter(col("doc_id") >= 250).as[(Long, String)].collect()
      val mem = MemoryStream[(Long, String)]
      val q = ShingleIndex.ingestStream(
        mem.toDF().toDF("doc_id", "text"), tblS, s"$base/markers", s"$base/ckpt")
      try {
        val (b1, b2) = rest.splitAt(rest.length / 2)
        mem.addData(b1.toIndexedSeq); q.processAllAvailable()
        mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      } finally q.stop()
      // postings and signatures bit-equal to the cold build
      def rows(t: String, cols: String*) =
        spark.table(t).select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
      assert(rows(tblS, "doc_id", "kind", "s") === rows(tblF, "doc_id", "kind", "s"),
        "streamed postings diverged from a cold rebuild")
      // ALL 33 columns: an h0/h31-only spot check would pass a divergence
      // in h1..h30 that happens not to change banding outcomes
      val sigCols = spark.table(ShingleIndex.sigsTable(tblF)).columns.toIndexedSeq
      assert(rows(ShingleIndex.sigsTable(tblS), sigCols: _*) ===
        rows(ShingleIndex.sigsTable(tblF), sigCols: _*),
        "streamed signatures diverged from a cold rebuild")
      // a dedup pass over the streamed index: bit-equal output and the
      // appended files kept the bucket spec (exchange-free postings agg)
      assert(ShingleIndex.duplicatedSegments(spark, tblS).collect().map(_.toSeq).toSet ===
        ShingleIndex.duplicatedSegments(spark, tblF).collect().map(_.toSeq).toSet)
      val postings = ShingleIndex.shingles(spark, tblS, includePlanted = true)
        .groupBy(col("s")).agg(count(lit(1)).as("df"))
      postings.collect()
      val finalPlan = postings.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!finalPlan.contains("Exchange hashpartitioning"),
        "streamed append broke the bucketed exchange-free aggregation")
      // replayed micro-batch (at-least-once) is a no-op — markers live in
      // the stream's per-checkpoint namespace, so the replay must target it
      val ns = ShingleIndex.markerNamespace(spark, s"$base/markers", s"$base/ckpt")
      val before = spark.table(tblS).count()
      ShingleIndex.ingestBatch(
        spark, docs.filter(col("doc_id") >= 250 && col("doc_id") < 260),
        tblS, ns, batchId = 0L)
      assert(spark.table(tblS).count() === before, "replayed batch re-appended")
      // a FRESH checkpoint restarts batch ids at 0; its markers must not
      // collide with the finished run's (an un-namespaced batch-0.done
      // would silently drop the new stream's first batch)
      val extra = docs.filter(col("doc_id") < 5)
        .withColumn("doc_id", col("doc_id") + 20000L)
        .as[(Long, String)].collect()
      val mem2 = MemoryStream[(Long, String)]
      val q2 = ShingleIndex.ingestStream(
        mem2.toDF().toDF("doc_id", "text"), tblS, s"$base/markers", s"$base/ckpt2")
      try {
        mem2.addData(extra.toIndexedSeq); q2.processAllAvailable()
      } finally q2.stop()
      assert(spark.table(tblS).filter(col("doc_id") >= 20000L)
        .select("doc_id").distinct().count() === 5L,
        "fresh-checkpoint batch 0 was dropped by a stale marker")
      // crash mid-append: half the batch landed, `started` exists, no
      // `done` — the redelivery must purge and re-append so every doc of
      // the batch ends up EXACTLY once (a blind re-append would corrupt
      // the pair scores with duplicate postings)
      val crashDocs = docs.filter(col("doc_id") < 250)
        .withColumn("doc_id", col("doc_id") + 10000L)
      ShingleIndex.append(spark, crashDocs.filter(col("doc_id") < 10100L), tblS)
      val startedM = new org.apache.hadoop.fs.Path(s"$base/markers/batch-7.started")
      val mfs = startedM.getFileSystem(spark.sparkContext.hadoopConfiguration)
      mfs.mkdirs(startedM.getParent); mfs.create(startedM, true).close()
      ShingleIndex.ingestBatch(spark, crashDocs, tblS, s"$base/markers", batchId = 7L)
      val dupPostings = spark.table(tblS)
        .groupBy(col("doc_id"), col("kind"), col("s")).count()
        .filter(col("count") > 1).count()
      assert(dupPostings === 0L, s"$dupPostings duplicated postings after crash repair")
      assert(spark.table(tblS).filter(col("doc_id") >= 10000L && col("doc_id") < 20000L)
        .select("doc_id").distinct().count() === 250L)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tblS")
      spark.sql(s"DROP TABLE IF EXISTS $tblF")
      spark.sql(s"DROP TABLE IF EXISTS ${ShingleIndex.sigsTable(tblS)}")
      spark.sql(s"DROP TABLE IF EXISTS ${ShingleIndex.sigsTable(tblF)}")
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("double crash mid-append: the shingle-index repair is itself re-runnable") {
    import graft.operators.ShingleIndex
    val base = Files.createTempDirectory("shcrash2")
    val tbl = "shidx_crash2"
    val tblRef = "shidx_crash2_ref"
    try {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
      val batch = docs.withColumn("doc_id", col("doc_id") + 30000L)
      // reference: base corpus + the batch, appended cleanly once
      ShingleIndex.buildFor(spark, docs, s"$base/ref", tblRef)
      ShingleIndex.append(spark, batch, tblRef)
      // under test: the same batch id crashes mid-append TWICE — after the
      // first crash repair the table's LOCATION is the repair path, so a
      // second repair with a fixed target would overwrite the directory it
      // is reading from (wedge or mid-scan data loss)
      ShingleIndex.buildFor(spark, docs, s"$base/idx", tbl)
      val markers = s"$base/markers"
      val startedP = new org.apache.hadoop.fs.Path(s"$markers/batch-3.started")
      val doneP = new org.apache.hadoop.fs.Path(s"$markers/batch-3.done")
      val fs = startedP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // crash 1: half the batch landed, `started` without `done`
      ShingleIndex.append(spark, batch.filter(col("doc_id") < 30050L), tbl)
      fs.mkdirs(startedP.getParent); fs.create(startedP, true).close()
      // redelivery 1: purges + re-appends (table now AT $markers/repair-3)
      ShingleIndex.ingestBatch(spark, batch, tbl, markers, batchId = 3L)
      // crash 2: the re-delivered batch dies mid-append again — done gone,
      // started present, a partial duplicate landed
      fs.delete(doneP, false)
      fs.create(startedP, true).close()
      ShingleIndex.append(spark, batch.filter(col("doc_id") < 30050L), tbl)
      // redelivery 2: the second repair must stage to a FRESH path
      ShingleIndex.ingestBatch(spark, batch, tbl, markers, batchId = 3L)
      // multiset bit-equality with the clean reference (segment rows carry
      // occurrence multiplicity, so compare grouped counts, not row sets)
      def grouped(t: String) = spark.table(t)
        .groupBy(col("doc_id"), col("kind"), col("s")).count()
        .collect().map(_.toSeq).toSet
      assert(grouped(tbl) === grouped(tblRef),
        "double-crash repair diverged from a clean append")
      val sigCols = spark.table(ShingleIndex.sigsTable(tblRef)).columns.toIndexedSeq
      def sigRows(t: String) = spark.table(t)
        .select(sigCols.head, sigCols.tail: _*).collect().map(_.toSeq).toSet
      assert(sigRows(ShingleIndex.sigsTable(tbl)) === sigRows(ShingleIndex.sigsTable(tblRef)),
        "double-crash repair diverged on the signature table")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS $tblRef")
      spark.sql(s"DROP TABLE IF EXISTS ${ShingleIndex.sigsTable(tbl)}")
      spark.sql(s"DROP TABLE IF EXISTS ${ShingleIndex.sigsTable(tblRef)}")
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("streaming IVF ingest matches the batch append bit-for-bit, probes stay consistent") {
    import graft.operators.VectorIndex
    val base = Files.createTempDirectory("ivfstream")
    try {
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      // both indexes train on the SAME initial snapshot (geometry is fixed
      // between rebuilds), then the second half arrives: as one batch
      // append on the reference index, as TWO streamed micro-batches on
      // the index under test
      val halfDir = s"$base/half"
      emb.filter(col("vec_id") < 250).write.parquet(s"$halfDir/embeddings.parquet")
      val batchIdx = s"$base/batch"
      val streamIdx = s"$base/stream"
      VectorIndex.build(spark, halfDir, batchIdx)
      VectorIndex.build(spark, halfDir, streamIdx)
      VectorIndex.append(spark, emb.filter(col("vec_id") >= 250), batchIdx)

      implicit val sqlCtx = spark.sqlContext
      val rest = emb.filter(col("vec_id") >= 250)
        .as[(Long, Seq[Float], Int)].collect()
      val mem = MemoryStream[(Long, Seq[Float], Int)]
      val q = VectorIndex.ingestStream(
        mem.toDF().toDF("vec_id", "embedding", "label"),
        streamIdx, s"$base/ckpt")
      try {
        val (s1, s2) = rest.splitAt(rest.length / 2)
        mem.addData(s1.toIndexedSeq); q.processAllAvailable()
        mem.addData(s2.toIndexedSeq); q.processAllAvailable()
      } finally q.stop()

      // lists bit-equal: same vectors, same stored-geometry assignment
      def lists(p: String) = spark.read.parquet(s"$p/lists")
        .select(col("vec_id"), col("centroid").cast("int"))
        .as[(Long, Int)].collect().sorted.toSeq
      assert(lists(streamIdx) === lists(batchIdx),
        "streamed ingest diverged from the batch append")
      // post-ingest probe: bit-equal top-k between the two indexes
      def top(p: String) = VectorIndex.ivfTopK(spark, sf0001, p)
        .collect().map(_.toSeq).toSet
      assert(top(streamIdx) === top(batchIdx))
      // a replayed micro-batch (at-least-once redelivery) must be a no-op —
      // the stream's markers live in its per-checkpoint namespace
      val ns = VectorIndex.markerNamespace(spark, streamIdx, s"$base/ckpt")
      val before = spark.read.parquet(s"$streamIdx/lists").count()
      val replay = emb.filter(col("vec_id") >= 250 && col("vec_id") < 260)
      VectorIndex.ingestBatch(spark, replay, streamIdx, batchId = 0L, ns)
      assert(spark.read.parquet(s"$streamIdx/lists").count() === before,
        "replayed batch id was re-appended")
      // a fresh checkpoint's batch 0 must not be dropped by the old run's
      // done marker
      val fresh = emb.filter(col("vec_id") < 5)
        .withColumn("vec_id", col("vec_id") + 9000L)
        .as[(Long, Seq[Float], Int)].collect()
      val mem2 = MemoryStream[(Long, Seq[Float], Int)]
      val q2 = VectorIndex.ingestStream(
        mem2.toDF().toDF("vec_id", "embedding", "label"), streamIdx, s"$base/ckpt2")
      try {
        mem2.addData(fresh.toIndexedSeq); q2.processAllAvailable()
      } finally q2.stop()
      assert(spark.read.parquet(s"$streamIdx/lists")
        .filter(col("vec_id") >= 9000L).count() === 5L,
        "fresh-checkpoint batch 0 was dropped by a stale marker")
      // crash mid-append: part of a new batch landed, `started` without
      // `done` — redelivery purges the batch's vec ids and re-appends, so
      // each vector is in exactly one list exactly once
      val crashBatch = emb.filter(col("vec_id") < 100)
        .withColumn("vec_id", col("vec_id") + 5000L)
      VectorIndex.append(spark, crashBatch.filter(col("vec_id") < 5040L), streamIdx)
      val startedM = new org.apache.hadoop.fs.Path(
        s"$streamIdx/_ingested/batch-9.started")
      val mfs = startedM.getFileSystem(spark.sparkContext.hadoopConfiguration)
      mfs.mkdirs(startedM.getParent); mfs.create(startedM, true).close()
      VectorIndex.ingestBatch(spark, crashBatch, streamIdx, batchId = 9L)
      val crashed = spark.read.parquet(s"$streamIdx/lists")
        .filter(col("vec_id") >= 5000L && col("vec_id") < 9000L)
      assert(crashed.count() === 100L, "crash repair left duplicates or lost rows")
      assert(crashed.select("vec_id").distinct().count() === 100L)
    } finally {
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("streaming signatures are bit-equal to the batch minhash path") {
    import graft.streaming.{StreamDoc, StreamingDedup}
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .selectExpr("doc_id", "text").as[(Long, String)]
      .map { case (id, t) => StreamDoc(id, t) }
    val streamSide = StreamingDedup.signed(docs)
      .map { case (id, sig) => (id, sig.mkString(",")) }
      .collect().toMap
    val batchSide = graft.operators.Dedup
      .minhashSignatures(graft.operators.Dedup.shingles(spark, sf0001))
      .selectExpr("doc_id", s"concat_ws(',', ${(0 until 32).map(i => s"h$i").mkString(", ")})")
      .as[(Long, String)].collect().toMap
    assert(streamSide === batchSide)
  }

  test("online SemDeDup ingest matches the cold pass bit-for-bit") {
    import graft.operators.{IvfAnn, VectorIndex}
    val base = Files.createTempDirectory("semstream")
    try {
      // geometry only — the stream populates the lists, so the online
      // verdicts accumulate over exactly the streamed arrivals
      val idx = s"$base/idx"
      VectorIndex.trainOnly(spark, sf0001, idx)
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      implicit val sqlCtx = spark.sqlContext
      // the corpus plus the v5 planted near-dup clones (same rule and
      // literals Similarity.nearDupClones applies — label carried so the
      // batch keeps the lists schema); natural sf0.001 vectors have no
      // 0.95-cosine pairs, so without the plants the equality is vacuous
      val clones = emb.filter(col("vec_id") < 32L).select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i % 2 === 1, (x.cast("double") * lit(1.2)).cast("float")).otherwise(x))
          .as("embedding"),
        col("label"))
      // monotone vec_id order across batches (clones land last) — the
      // precondition under which online == cold (see dedupIngestStream)
      val all = emb.unionByName(clones)
        .orderBy("vec_id").as[(Long, Seq[Float], Int)].collect()
      val mem = MemoryStream[(Long, Seq[Float], Int)]
      val q = VectorIndex.dedupIngestStream(
        mem.toDF().toDF("vec_id", "embedding", "label"), idx, s"$base/ckpt")
      try {
        all.grouped((all.length + 2) / 3).foreach { b =>
          mem.addData(b.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      def verdicts(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"), col("centroid"), col("kept"))
          .as[(Long, Int, Boolean)].collect().sorted.toSeq
      assert(verdicts(VectorIndex.decisions(spark, idx))
        === verdicts(IvfAnn.semanticDedup(spark, sf0001, plantClones = true)),
        "online decisions diverged from cold SemDeDup")
      assert(verdicts(VectorIndex.decisions(spark, idx)).exists(!_._3),
        "no drops — the equality is vacuous")
      // the seen-store holds the full corpus (kept AND dropped: the cold
      // predicate judges against every lower id, not just kept ones)
      assert(spark.read.parquet(s"$idx/lists").count() === all.length.toLong)
      // the judge's store read prunes to the touched list directories —
      // the same directory-level pruning the v7i probe proves
      val priorPlan = VectorIndex.dedupPrior(spark, idx, Seq(0, 1))
        .queryExecution.executedPlan.toString
      assert(priorPlan.contains("PartitionFilters: [centroid"),
        s"judge prior scan is not partition-pruned:\n$priorPlan")

      // crash mid-append: half the batch landed, `started` without `done`
      // — redelivery purges and redoes, leaving exactly one list row and
      // one decision row per vector
      val cents = VectorIndex.centroidsFx(spark, idx)
      val crash = emb.filter(col("vec_id") < 50)
        .withColumn("vec_id", col("vec_id") + 7000L)
      VectorIndex.append(spark, crash.filter(col("vec_id") < 7020L), idx)
      val markerDir = s"$idx/_dedup_crash"
      val startedM = new org.apache.hadoop.fs.Path(s"$markerDir/batch-9.started")
      val mfs = startedM.getFileSystem(spark.sparkContext.hadoopConfiguration)
      mfs.mkdirs(startedM.getParent); mfs.create(startedM, true).close()
      VectorIndex.dedupIngestBatch(
        spark, crash, idx, 9L, markerDir, cents, IvfAnn.SemDedupThreshold)
      val landed = spark.read.parquet(s"$idx/lists")
        .filter(col("vec_id") >= 7000L && col("vec_id") < 7050L)
      assert(landed.count() === 50L, "crash repair left duplicates or lost rows")
      assert(landed.select("vec_id").distinct().count() === 50L)
      assert(spark.read.parquet(s"$idx/decisions")
        .filter(col("batch_id") === 9).count() === 50L)
      // every 7000-offset clone of an indexed vector must be dropped
      // (cosine 1.0 with its original) — the online judge sees the store
      assert(spark.read.parquet(s"$idx/decisions")
        .filter(col("batch_id") === 9 && col("kept")).count() === 0L,
        "clones of indexed vectors were not dropped")
      // a replayed (done) batch is a no-op on lists and decisions
      val before = spark.read.parquet(s"$idx/lists").count()
      VectorIndex.dedupIngestBatch(
        spark, crash, idx, 9L, markerDir, cents, IvfAnn.SemDedupThreshold)
      assert(spark.read.parquet(s"$idx/lists").count() === before,
        "replayed dedup batch was re-appended")
      // a vec id twice in ONE batch must be refused at the append choke
      // point — no marker can catch within-batch duplication
      intercept[IllegalArgumentException] {
        val dup = emb.filter(col("vec_id") === 0)
          .withColumn("vec_id", col("vec_id") + 8000L)
        VectorIndex.append(spark, dup.unionAll(dup), idx)
      }
    } finally {
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("online fuzzy dedup against the shingle index matches the cold d4 drop set") {
    import graft.operators.{Dedup, ShingleIndex}
    val base = Files.createTempDirectory("fuzzstream")
    val tbl = "fuzz_stream_idx"
    try {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      // full-copy clones at high ids: guaranteed jaccard-1.0 partners, so
      // the drop-set equality below cannot be vacuous
      val clones = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
      val all = docs.unionByName(clones)
      // cold reference: the ordinary d4 pipeline over the union corpus
      val unionDir = s"$base/union"
      all.write.parquet(s"$unionDir/documents.parquet")
      val coldDrops = Dedup.minhashLshPairs(spark, unionDir)
        .select(col("b")).distinct().as[Long].collect().toSet
      assert(coldDrops.nonEmpty, "no cold drops — the equality is vacuous")
      // empty-built index, then the corpus arrives as three monotone
      // micro-batches (the precondition under which online == cold)
      ShingleIndex.buildFor(spark, docs.limit(0), s"$base/idx", tbl)
      val rows = all.orderBy("doc_id").as[(Long, String)].collect()
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val q = ShingleIndex.dedupIngestStream(
        mem.toDF().toDF("doc_id", "text"), tbl,
        s"$base/markers", s"$base/ckpt", s"$base/decisions")
      try {
        rows.grouped((rows.length + 2) / 3).foreach { b =>
          mem.addData(b.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      val dec = ShingleIndex.decisions(spark, s"$base/decisions")
      assert(dec.count() === rows.length.toLong)
      assert(dec.filter(!col("kept")).select(col("doc_id")).as[Long].collect().toSet
        === coldDrops, "online drop set diverged from cold d4")
      // the store accumulated the full corpus (kept AND dropped)
      assert(spark.table(ShingleIndex.sigsTable(tbl)).count() === rows.length.toLong)
      // the banded probe table tracks the signatures: 8 bands per doc …
      assert(spark.table(ShingleIndex.bandsTable(tbl)).count() === rows.length * 8L)
      // … and is maintained by ANY ingest flavor through the append choke
      // point, so a mixed ingest can never leave it stale
      ShingleIndex.append(spark,
        docs.filter(col("doc_id") === 0).select(
          (col("doc_id") + 6000000L).as("doc_id"), col("text")), tbl)
      assert(spark.table(ShingleIndex.bandsTable(tbl)).count() === rows.length * 8L + 8L,
        "plain append left the banded probe table stale")
      // a doc id twice in ONE batch is the corruption no marker can catch
      // — the append choke point must refuse it
      intercept[IllegalArgumentException] {
        val dup = docs.filter(col("doc_id") === 1)
          .select((col("doc_id") + 6500000L).as("doc_id"), col("text"))
        ShingleIndex.append(spark, dup.unionAll(dup), tbl)
      }
      // the judge's probe prunes buckets: a literal isin on the bucket
      // column selects a strict subset of the 32 buckets (under the same
      // autoBucketedScan pin the judge sets — the planner's auto-disable
      // rule would otherwise drop the bucketed path for a filter-only scan)
      val someBuckets = spark.table(ShingleIndex.bandsTable(tbl))
        .select(col("bucket")).limit(3).collect().map(_.getString(0)).toIndexedSeq
      val abKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val abWas = spark.conf.get(abKey)
      spark.conf.set(abKey, "false")
      val probePlan =
        try spark.table(ShingleIndex.bandsTable(tbl))
          .filter(col("bucket").isin(someBuckets: _*))
          .queryExecution.executedPlan.toString
        finally spark.conf.set(abKey, abWas)
      val sel = "SelectedBucketsCount: (\\d+) out of 32".r.findFirstMatchIn(probePlan)
      assert(sel.nonEmpty, s"no bucket pruning in probe plan:\n$probePlan")
      assert(sel.get.group(1).toInt < 32, "probe selected every bucket")
      // the pruned probe and its big-batch full-scan fallback yield
      // identical candidates — the pruning removes only rows the band
      // join would drop anyway
      // probe with the high-id clones: their lower-id originals are the
      // stored partners the `a < b` rule keeps, so candidates exist
      val bb = spark.table(ShingleIndex.bandsTable(tbl))
        .filter(col("doc_id") >= 3000000L && col("doc_id") < 3000005L)
      def cands(maxLits: Int) =
        ShingleIndex.probeStored(spark, tbl, bb, maxLits)
          .toDF("a", "band", "bucket")
          .join(bb.toDF("b", "band", "bucket"), Seq("band", "bucket"))
          .filter(col("a") < col("b")).select(col("a"), col("b")).distinct()
          .as[(Long, Long)].collect().toSet
      val pruned = cands(Int.MaxValue)
      assert(pruned === cands(0), "fallback probe diverged from the pruned probe")
      assert(pruned.nonEmpty, "probe equivalence is vacuous — no collisions")
      // the over-cap branch must be the broadcast semi-join on bucket —
      // never a bare full banded-table scan flowing un-pruned into the
      // band join (the 100 TB fallback shape)
      val semiPlan = ShingleIndex.probeStored(spark, tbl, bb, 0)
        .queryExecution.executedPlan.toString
      assert(semiPlan.contains("LeftSemi") && semiPlan.contains("Broadcast"),
        s"over-cap probe is not a broadcast semi-join:\n$semiPlan")
      // a replayed (done) batch is a no-op on the index and the verdicts
      val ns = ShingleIndex.markerNamespace(spark, s"$base/markers", s"$base/ckpt")
      val before = spark.table(tbl).count()
      ShingleIndex.dedupIngestBatch(
        spark, all.orderBy("doc_id").limit(5), tbl, ns, 0L, s"$base/decisions")
      assert(spark.table(tbl).count() === before, "replayed batch re-appended")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${graft.operators.ShingleIndex.sigsTable(tbl)}")
      spark.sql(s"DROP TABLE IF EXISTS ${graft.operators.ShingleIndex.bandsTable(tbl)}")
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("out-of-order arrival degrades to a superset-keeper: never extra drops") {
    // both online judges document the same degradation: a late low id is
    // never judged against vectors/docs that arrived before it, so the
    // online drop set is a SUBSET of the cold one — over-keeping, never
    // over-dropping. Stream the high-id clones FIRST to force the case.
    import graft.operators.{Dedup, IvfAnn, ShingleIndex, VectorIndex}
    val base = Files.createTempDirectory("oooded")
    val tbl = "ooo_fuzz_idx"
    try {
      implicit val sqlCtx = spark.sqlContext
      // --- vector side ---
      val idx = s"$base/idx"
      VectorIndex.trainOnly(spark, sf0001, idx)
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val vClones = emb.filter(col("vec_id") < 32L).select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i % 2 === 1, (x.cast("double") * lit(1.2)).cast("float")).otherwise(x))
          .as("embedding"),
        col("label"))
      val vMem = MemoryStream[(Long, Seq[Float], Int)]
      val vQ = VectorIndex.dedupIngestStream(
        vMem.toDF().toDF("vec_id", "embedding", "label"), idx, s"$base/ckpt")
      try {
        vMem.addData(vClones.as[(Long, Seq[Float], Int)].collect().toIndexedSeq)
        vQ.processAllAvailable()
        vMem.addData(emb.as[(Long, Seq[Float], Int)].collect().toIndexedSeq)
        vQ.processAllAvailable()
      } finally vQ.stop()
      val vOnlineDrops = VectorIndex.decisions(spark, idx)
        .filter(!col("kept")).select(col("vec_id")).as[Long].collect().toSet
      val vColdDrops = IvfAnn.semanticDedup(spark, sf0001, plantClones = true)
        .filter(!col("kept")).select(col("vec_id")).as[Long].collect().toSet
      assert(vColdDrops.nonEmpty)
      assert(vOnlineDrops.subsetOf(vColdDrops),
        "out-of-order online SemDeDup dropped something the cold pass keeps")
      // the forced case: a clone that arrived before its partner is kept
      // online even though the cold pass drops it
      assert((vColdDrops -- vOnlineDrops).exists(_ >= 1000000L),
        "no clone survived out-of-order arrival — the subset check is vacuous")

      // --- shingle side ---
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      val dClones = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
      val unionDir = s"$base/union"
      docs.unionByName(dClones).write.parquet(s"$unionDir/documents.parquet")
      val dColdDrops = Dedup.minhashLshPairs(spark, unionDir)
        .select(col("b")).distinct().as[Long].collect().toSet
      ShingleIndex.buildFor(spark, docs.limit(0), s"$base/sidx", tbl)
      val dMem = MemoryStream[(Long, String)]
      val dQ = ShingleIndex.dedupIngestStream(
        dMem.toDF().toDF("doc_id", "text"), tbl,
        s"$base/markers", s"$base/dckpt", s"$base/decisions")
      try {
        dMem.addData(dClones.as[(Long, String)].collect().toIndexedSeq)
        dQ.processAllAvailable()
        dMem.addData(docs.as[(Long, String)].collect().toIndexedSeq)
        dQ.processAllAvailable()
      } finally dQ.stop()
      val dOnlineDrops = ShingleIndex.decisions(spark, s"$base/decisions")
        .filter(!col("kept")).select(col("doc_id")).as[Long].collect().toSet
      assert(dColdDrops.nonEmpty)
      assert(dOnlineDrops.subsetOf(dColdDrops),
        "out-of-order online fuzzy dedup dropped something the cold pass keeps")
      assert((dColdDrops -- dOnlineDrops).exists(_ >= 3000000L),
        "no clone survived out-of-order arrival — the subset check is vacuous")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${graft.operators.ShingleIndex.sigsTable(tbl)}")
      spark.sql(s"DROP TABLE IF EXISTS ${graft.operators.ShingleIndex.bandsTable(tbl)}")
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("online gate's LM leg buckets against the frozen model exactly as the cold pass") {
    import graft.operators.{LmScore, ShingleIndex, VectorIndex}
    import graft.streaming.OnlineGate
    val base = Files.createTempDirectory("onlinegate-lm")
    val tbl = "gate_lm_idx"
    try {
      implicit val sqlCtx = spark.sqlContext
      LmScore.buildModel(spark, sf0001, s"$base/lm")
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val joined = docs.select(col("doc_id"), col("text"))
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding"), col("label")), "doc_id")
      ShingleIndex.buildFor(spark,
        docs.limit(0).select(col("doc_id"), col("text")), s"$base/sh", tbl)
      VectorIndex.trainOnly(spark, sf0001, s"$base/ivf")
      val rows = joined.orderBy("doc_id").as[(Long, String, Seq[Float], Int)].collect()
      val mem = MemoryStream[(Long, String, Seq[Float], Int)]
      val q = OnlineGate.gateStream(
        mem.toDF().toDF("doc_id", "text", "embedding", "label"),
        tbl, s"$base/markers", s"$base/ivf", s"$base/ckpt", s"$base/out",
        lmModelPath = Some(s"$base/lm"))
      try {
        rows.grouped((rows.length + 1) / 2).foreach { b =>
          mem.addData(b.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      val dec = OnlineGate.decisions(spark, s"$base/out").localCheckpoint()
      val coldBuckets = LmScore.bigramLmScores(spark, sf0001)
        .select(col("doc_id"), col("ppl_bucket"))
        .as[(Long, String)].collect().toMap
      assert(dec.count() === rows.length.toLong)
      dec.collect().foreach { r =>
        val id = r.getAs[Long]("doc_id")
        val expected = coldBuckets.get(id).forall(_ != "tail")
        assert(r.getAs[Boolean]("pass_ppl") === expected, s"doc $id LM leg diverged")
        if (r.getAs[Boolean]("kept")) assert(r.getAs[Boolean]("pass_ppl"))
      }
      // non-vacuity: the corpus has tail docs, so the leg rejects some
      assert(dec.filter(!col("pass_ppl")).count() > 0, "LM leg rejected nothing")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${graft.operators.ShingleIndex.sigsTable(tbl)}")
      spark.sql(s"DROP TABLE IF EXISTS ${graft.operators.ShingleIndex.bandsTable(tbl)}")
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("streaming expectations: per-batch quality reports match the batch derivation") {
    import graft.operators.Expectations
    val base = Files.createTempDirectory("expect-stream")
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String, String, Long)]
      val stream = mem.toDF().toDF("doc_id", "text", "lang", "n_chars")
      val q = Expectations.expectationsStream(
        stream, s"$base/out", s"$base/ckpt")
      val clean = Seq((1L, "ok text", "en", 7L), (2L, "more text", "de", 9L))
      val dirty = Seq((3L, "", "en", 0L), (3L, "dup and bad", "xx", 11L))
      try {
        mem.addData(clean.toIndexedSeq); q.processAllAvailable()
        mem.addData(dirty.toIndexedSeq); q.processAllAvailable()
      } finally q.stop()
      def report(id: Long) = spark.read.parquet(s"$base/out/batch_id=$id")
        .collect().map(r => r.getString(0) -> r.getAs[Boolean]("passed")).toMap
      val r0 = report(0)
      assert(r0.size === 6 && r0.values.forall(identity), s"clean batch: $r0")
      val r1 = report(1)
      assert(!r1("completeness") && !r1("uniqueness") &&
        !r1("accepted_values") && !r1("min_bound"), s"dirty batch: $r1")
      // the per-batch rows are bit-equal to the batch derivation on the
      // same frame
      val batchSide = Expectations.docExpectations(
        dirty.toDF("doc_id", "text", "lang", "n_chars"))
        .collect().map(_.toSeq).toSet
      val streamSide = spark.read.parquet(s"$base/out/batch_id=1")
        .select("check_name", "subject", "observed", "threshold", "passed")
        .collect().map(_.toSeq).toSet
      assert(streamSide === batchSide)
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("composed ingest gate: at-arrival first-seen ∧ expectations ∧ quality ∧ language ≡ cold, bit-for-bit") {
    import graft.operators.LmScore
    import graft.streaming.OnlineGate
    val base = Files.createTempDirectory("fullgate")
    try {
      implicit val sqlCtx = spark.sqlContext
      LmScore.buildModel(spark, sf0001, s"$base/lm")
      LmScore.buildNbModel(spark, sf0001, s"$base/nb")
      // the langid leg keeps 4 of the 5 corpus languages so predicted-zh
      // docs exercise the reject branch
      val keep = Seq("en", "de", "fr", "es")
      // plant the defects each leg gates on: re-crawled urls (doc_id %
      // 137 collides), rejected langs, inconsistent n_chars
      // re-crawled urls arrive through d14-style MESS (scheme flips, utm
      // params) — only the canonical first-seen leg may collapse them
      val seeded = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"),
          when(col("doc_id") % 31 === 0, lit("xx")).otherwise(col("lang")).as("lang"),
          when(col("doc_id") % 41 === 0, col("n_chars") + 1)
            .otherwise(col("n_chars")).as("n_chars"))
        .withColumn("url",
          concat(
            when(col("doc_id") % 2 === 0, lit("http://")).otherwise(lit("https://")),
            lit("crawl.example/"), (col("doc_id") % 137).cast("string"),
            when(col("doc_id") % 3 === 0, lit("?utm_source=feed")).otherwise(lit(""))))
        .localCheckpoint()
      val rows = seeded.orderBy("doc_id")
        .as[(Long, String, String, Long, String)].collect().toSeq
      val mem = MemoryStream[(Long, String, String, Long, String)]
      val q = OnlineGate.fullIngestGate(
        mem.toDF().toDF("doc_id", "text", "lang", "n_chars", "url"),
        s"$base/out", s"$base/ckpt", canonicalizeUrl = true,
        lmModelPath = Some(s"$base/lm"),
        nbModelPath = Some(s"$base/nb"), keepLangs = keep,
        c4Policy = true, domainGate = true)
      try {
        rows.grouped((rows.length + 2) / 3).foreach { b =>
          mem.addData(b.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      def image(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val cols = Seq("doc_id", "n_tokens", "quality_e4", "first_seen",
        "pass_expect", "pass_quality", "pass_tokens", "pass_rep", "pass_ppl",
        "pass_lang", "pass_policy", "pass_domain", "kept")
      val online = spark.read.parquet(s"$base/out/decisions")
        .select(cols.map(col): _*)
      val cold = OnlineGate.fullIngestGateCold(
        seeded, canonicalizeUrl = true, lmModelPath = Some(s"$base/lm"),
        nbModelPath = Some(s"$base/nb"), keepLangs = keep,
        c4Policy = true, domainGate = true).select(cols.map(col): _*)
      assert(online.count() === rows.length.toLong)
      assert(image(online) === image(cold),
        "at-arrival composed verdicts diverged from the cold pass")
      // non-vacuity: every leg must bind somewhere, and some doc survives
      val dec = online.localCheckpoint()
      assert(dec.filter(!col("first_seen")).count() > 0, "no re-crawl suppressed")
      // the suppression must be CANONICAL: more docs share a canonical
      // page than share any raw url string, so first-seen survivors are
      // exactly the canonical key count, strictly below the raw count
      val rawDistinct = seeded.select(col("url")).distinct().count()
      val canonDistinct = seeded
        .select(graft.operators.Dedup.canonicalUrlCol(col("url"))).distinct().count()
      assert(canonDistinct < rawDistinct, "planted mess is vacuous")
      assert(dec.filter(col("first_seen")).count() === canonDistinct)
      assert(dec.filter(!col("pass_expect")).count() > 0, "no expectation defect bound")
      assert(dec.filter(!col("pass_ppl")).count() > 0, "LM leg rejected nothing")
      assert(dec.filter(!col("pass_lang")).count() > 0, "langid leg rejected nothing")
      // the policy leg binds on the corpus's blocklist marker + short docs
      assert(dec.filter(!col("pass_policy")).count() > 0, "policy leg rejected nothing")
      // the t58 domain leg binds (blocklisted planted hosts) and agrees
      // with the batch report's blocked column doc-by-doc
      assert(dec.filter(!col("pass_domain")).count() > 0, "domain leg rejected nothing")
      val reportBlocked = graft.operators.Dedup.domainBlocklistGate(spark, sf0001)
        .select(col("doc_id"), col("blocked")).as[(Long, Boolean)].collect().toMap
      dec.select(col("doc_id"), col("pass_domain")).as[(Long, Boolean)].collect()
        .foreach { case (id, p) => assert(p === !reportBlocked(id), s"doc $id") }
      assert(dec.filter(col("kept")).count() > 0, "gate admitted nothing")
      // the aggregate expectation timeline rode along, one report per batch
      val reports = spark.read.parquet(s"$base/out/expect")
      assert(reports.select("batch_id").distinct().count() === 3L)
      assert(reports.filter(!col("passed")).count() > 0)
    } finally {
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("ingest gate: t48 classifier-quality leg at arrival ≡ cold; lottery binds both ways") {
    import graft.operators.LmScore
    import graft.streaming.OnlineGate
    val base = Files.createTempDirectory("clfgate")
    try {
      implicit val sqlCtx = spark.sqlContext
      // the binary quality model is FROZEN from the corpus before the
      // stream starts — the deployment shape (train once, score arrivals)
      LmScore.buildQualityModel(spark, sf0001, s"$base/qclf")
      val seeded = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
        .withColumn("url", concat(lit("http://crawl.example/"), col("doc_id").cast("string")))
        .localCheckpoint()
      val rows = seeded.orderBy("doc_id")
        .as[(Long, String, String, Long, String)].collect().toSeq
      val mem = MemoryStream[(Long, String, String, Long, String)]
      val q = OnlineGate.fullIngestGate(
        mem.toDF().toDF("doc_id", "text", "lang", "n_chars", "url"),
        s"$base/out", s"$base/ckpt",
        qualityModelPath = Some(s"$base/qclf"))
      try {
        rows.grouped((rows.length + 1) / 2).foreach { b =>
          mem.addData(b.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      def image(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val cols = Seq("doc_id", "n_tokens", "quality_e4", "first_seen",
        "pass_expect", "pass_quality", "pass_tokens", "pass_rep",
        "pass_clf", "kept")
      val online = spark.read.parquet(s"$base/out/decisions")
        .select(cols.map(col): _*)
      val cold = OnlineGate.fullIngestGateCold(
        seeded, qualityModelPath = Some(s"$base/qclf")).select(cols.map(col): _*)
      assert(online.count() === rows.length.toLong)
      assert(image(online) === image(cold),
        "at-arrival classifier verdicts diverged from the cold pass")
      // the pareto lottery must bind in BOTH directions (GPT-3's rule
      // admits a few percent of a flat-margin corpus, rejects the rest),
      // and the leg must agree row-for-row with the batch t48 keep bit
      val dec = online.localCheckpoint()
      assert(dec.filter(col("pass_clf")).count() > 0, "lottery admitted nothing")
      assert(dec.filter(!col("pass_clf")).count() > 0, "lottery rejected nothing")
      val t48 = LmScore.qualityClassifierKeep(spark, sf0001)
        .select(col("doc_id"), col("keep").as("batch_keep"))
      assert(dec.join(t48, "doc_id")
        .filter(col("pass_clf") =!= col("batch_keep")).count() === 0,
        "gate leg disagreed with the batch t48 verdicts")
    } finally {
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("WARC→WET at arrival: extraction composed in front of the ingest gate ≡ cold over extracted text") {
    import graft.operators.TextAnalysis
    import graft.streaming.OnlineGate
    val base = Files.createTempDirectory("wetgate")
    try {
      implicit val sqlCtx = spark.sqlContext
      // arrivals are raw PAGES (the t49 wrapper), not clean text
      val pages = TextAnalysis.htmlWrappedDocs(spark, sf0001)
        .select(col("doc_id"), col("html"),
          concat(lit("http://crawl.example/"), col("doc_id").cast("string")).as("url"))
        .localCheckpoint()
      val rows = pages.orderBy("doc_id").as[(Long, String, String)].collect().toSeq
      val mem = MemoryStream[(Long, String, String)]
      // the stateless WARC→WET map runs INSIDE the streaming plan, before
      // the gate's foreachBatch — the pipeline shape a crawl feed uses
      val arrivals = mem.toDF().toDF("doc_id", "html", "url")
        .select(col("doc_id"),
          TextAnalysis.extractedHtmlCol(col("html")).as("text"),
          lit("en").as("lang"), col("url"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      val q = OnlineGate.fullIngestGate(arrivals, s"$base/out", s"$base/ckpt")
      try {
        rows.grouped((rows.length + 1) / 2).foreach { b =>
          mem.addData(b.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      def image(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val cols = Seq("doc_id", "n_tokens", "quality_e4", "first_seen",
        "pass_expect", "pass_quality", "pass_tokens", "pass_rep", "kept")
      val online = spark.read.parquet(s"$base/out/decisions").select(cols.map(col): _*)
      val coldDocs = pages
        .select(col("doc_id"),
          TextAnalysis.extractedHtmlCol(col("html")).as("text"),
          lit("en").as("lang"), col("url"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      val cold = OnlineGate.fullIngestGateCold(coldDocs).select(cols.map(col): _*)
      assert(online.count() === rows.length.toLong)
      assert(image(online) === image(cold),
        "extraction-fronted gate diverged from the cold pass over extracted text")
      // extraction really ran: the gate judged CONTENT token counts, not
      // page sizes — every decision's n_tokens is well below the page's
      // whitespace-token count (nav/footer/script words are gone)
      val pageTokens = pages.select(col("doc_id"),
        size(split(col("html"), " ")).cast("long").as("pt"))
      assert(online.join(pageTokens, "doc_id")
        .filter(col("n_tokens") >= col("pt")).count() === 0)
    } finally {
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("ingest gate state compaction: partial dirs stay bounded, verdicts identical to cold") {
    import graft.streaming.OnlineGate
    val base = Files.createTempDirectory("gatecompact")
    try {
      implicit val sqlCtx = spark.sqlContext
      // re-crawled urls collide ACROSS the compaction boundary: a doc in
      // batch 5 whose url was first seen in batch 0 must still be
      // suppressed after batches 0-3 were folded into one partition
      val seeded = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
        .withColumn("url",
          concat(lit("https://crawl.example/"), (col("doc_id") % 83).cast("string")))
        .localCheckpoint()
      val rows = seeded.orderBy("doc_id")
        .as[(Long, String, String, Long, String)].collect().toSeq
      val mem = MemoryStream[(Long, String, String, Long, String)]
      val q = OnlineGate.fullIngestGate(
        mem.toDF().toDF("doc_id", "text", "lang", "n_chars", "url"),
        s"$base/out", s"$base/ckpt", compactEvery = 2L)
      val nBatches = 6
      try {
        rows.grouped((rows.length + nBatches - 1) / nBatches).foreach { b =>
          mem.addData(b.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      // folding happened: the per-batch partials collapsed — at most the
      // compaction interval's worth of directories survives per store
      def batchDirs(root: String): Seq[String] = {
        val d = new java.io.File(root)
        d.listFiles().toSeq.map(_.getName).filter(_.startsWith("batch_id="))
      }
      assert(batchDirs(s"$base/out/seen").size <= 3,
        s"seen partials unbounded: ${batchDirs(s"$base/out/seen")}")
      assert(batchDirs(s"$base/out/bloom").size <= 3,
        s"bloom partials unbounded: ${batchDirs(s"$base/out/bloom")}")
      // and the folded state changed NOTHING: verdicts equal the cold pass
      def image(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val cols = Seq("doc_id", "n_tokens", "quality_e4", "first_seen",
        "pass_expect", "pass_quality", "pass_tokens", "pass_rep", "kept")
      val online = spark.read.parquet(s"$base/out/decisions").select(cols.map(col): _*)
      val cold = OnlineGate.fullIngestGateCold(seeded).select(cols.map(col): _*)
      assert(online.count() === rows.length.toLong)
      assert(image(online) === image(cold),
        "compaction changed the composed verdicts")
      // the cross-boundary suppression really bound: survivors == distinct urls
      assert(online.filter(col("first_seen")).count() === 83L)
      assert(online.filter(!col("first_seen")).count() > 0L)
    } finally {
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("t43 streaming twin: per-batch importer reports match the batch matrix on the arriving slice") {
    import graft.operators.Expectations
    import graft.sources.Fixtures
    val base = Files.createTempDirectory("imp-expect-stream")
    try {
      implicit val sqlCtx = spark.sqlContext
      val dims = Fixtures.apiDimensions(spark, sf0001).localCheckpoint()
      val codeLists = Fixtures.codeLists(spark, sf0001).localCheckpoint()
      val ev = Fixtures.importerEvents(spark, sf0001)
        .as[(String, String)].collect().toSeq
      val mem = MemoryStream[(String, String)]
      val q = Expectations.importerExpectationsStream(
        mem.toDF().toDF("file_url", "instance_id"), dims, codeLists,
        s"$base/out", s"$base/ckpt")
      val splits = ev.grouped((ev.length + 1) / 2).toSeq
      try {
        splits.foreach { b => mem.addData(b.toIndexedSeq); q.processAllAvailable() }
      } finally q.stop()
      // batch ≡ stream: each per-batch report is bit-equal to the batch
      // matrix applied to the same slice — the arriving events plus the
      // dims of exactly the arriving instances
      splits.zipWithIndex.foreach { case (b, i) =>
        val batchDf = b.toDF("file_url", "instance_id")
        val sliceDims = dims.join(
          batchDf.select("instance_id").distinct(), Seq("instance_id"), "left_semi")
        val expected = Expectations
          .importerExpectationsFrames(sliceDims, batchDf, codeLists)
          .collect().map(_.toSeq).toSet
        val got = spark.read.parquet(s"$base/out/batch_id=$i")
          .select("check_name", "subject", "observed", "threshold", "passed")
          .collect().map(_.toSeq).toSet
        assert(got === expected, s"batch $i diverged from the batch derivation")
      }
      // non-vacuity: the fixture feed's planted defects (empty
      // instance_ids, invalid dimension rows, duplicates) must bind
      val all = spark.read.parquet(s"$base/out")
      assert(all.filter(!col("passed")).count() > 0,
        "no failing checks over the planted feed defects")
    } finally {
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("partial-batch redelivery replaces per-batch sink output instead of appending") {
    val outDir = Files.createTempDirectory("replay-out").toString
    val sinks = ImporterStream.Sinks(outDir)
    val dims = graft.operators.ImporterPipeline.projectDimensions(fixtureDims)
    val side = new ImporterStream.StaticSide(dims, fixtureCodeLists)
    // a replay after a crash is a new query life: it starts with no
    // processed-instance snapshot and reads the table
    def restarted() = new ImporterStream.ProcessedIds(sinks.processed)
    def updates() = spark.read.parquet(s"$outDir/updates")
      .select("instance_id").as[String].collect().toSeq.sorted
    val batchA = Seq(("/a", "A")).toDF("file_url", "instance_id")

    ImporterStream.processBatch(spark, batchA, side, restarted(), sinks, "run1", 0L)
    assert(updates() === Seq("A"))
    // replay AFTER the processed write landed (crash before checkpoint
    // commit): every event is filtered by the anti-join — the batch's
    // committed output must survive, not be overwritten with emptiness
    ImporterStream.processBatch(spark, batchA, side, restarted(), sinks, "run1", 0L)
    assert(updates() === Seq("A"), "already-processed replay wiped the batch output")
    // replay BEFORE the processed write landed (the partial-failure
    // window: updates written, completed/processed not): same (run, id)
    // REPLACES the partial directory — exactly once, not append
    val proc = java.nio.file.Paths.get(s"$outDir/processed_instances")
    Files.walk(proc).iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
    ImporterStream.processBatch(spark, batchA, side, restarted(), sinks, "run1", 0L)
    assert(updates() === Seq("A"), "same-(run,id) replay appended duplicates")
    // the replay ran the write path, not a skip on a stale snapshot
    assert(spark.read.parquet(sinks.processed).as[String].collect().toSeq === Seq("A"),
      "the replay did not re-mark A as processed")
    // a second stream life (fresh checkpoint → new run namespace, batch
    // ids restart at 0) adds to the shared sinks without clobbering
    val batchB = Seq(("/b", "B")).toDF("file_url", "instance_id")
    ImporterStream.processBatch(spark, batchB, side, restarted(), sinks, "run2", 0L)
    assert(updates() === Seq("A", "B"), "new run namespace clobbered the old life")
  }

  test("streaming bloom seen-set: verdicts equal prefix membership, state is replay-stable") {
    import graft.operators.Sketches
    import graft.functions.PortableHash
    val base = Files.createTempDirectory("bloom-stream")
    try {
      implicit val sqlCtx = spark.sqlContext
      val ev = spark.read.parquet(s"$sf0001/events.parquet")
        .select(col("user_id").cast("long").as("user_id"), col("event_type"))
        .as[(Long, String)].collect().toSeq
      val mem = MemoryStream[(Long, String)]
      val q = Sketches.bloomIngestStream(
        mem.toDF().toDF("user_id", "event_type"), s"$base/out", s"$base/ckpt")
      val splits = ev.grouped((ev.length + 2) / 3).toSeq
      try {
        splits.foreach { b => mem.addData(b.toIndexedSeq); q.processAllAvailable() }
      } finally q.stop()
      // JVM-side reference: replay the md5-affine bits exactly and judge
      // each batch's users against the members seen in EARLIER batches
      val m = Sketches.BloomBits
      def posOf(u: Long): Seq[Int] = {
        val x = PortableHash.md5Prefix60(u.toString.getBytes("UTF-8")) % PortableHash.P
        (0 until Sketches.BloomK).map(i => (PortableHash.perm(i, x) % m).toInt)
      }
      var words = Map.empty[Int, Long].withDefaultValue(0L)
      def containedIn(u: Long, w: Map[Int, Long]): Boolean = posOf(u).forall { pos =>
        (w(pos / 32) & (1L << (pos % 32))) != 0
      }
      splits.zipWithIndex.foreach { case (batch, id) =>
        val got = spark.read.parquet(s"$base/out/decisions/batch_id=$id")
          .as[(Long, Int)].collect().toMap
        batch.map(_._1).distinct.foreach { u =>
          assert(got(u) === (if (containedIn(u, words)) 1 else 0),
            s"batch $id user $u verdict diverged from the prefix bloom")
        }
        batch.filter(_._2 == "purchase").map(_._1).distinct.foreach { u =>
          posOf(u).foreach { pos =>
            words = words.updated(pos / 32, words(pos / 32) | (1L << (pos % 32)))
          }
        }
      }
      // the accumulated state equals the JVM-built bloom word-for-word
      val stateWords = spark.read.parquet(s"$base/out/state")
        .groupBy(col("w")).agg(expr("bit_or(bits)").as("bits"))
        .as[(Int, Long)].collect().toMap
      assert(stateWords === words.filter(_._2 != 0L))
    } finally {
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("streaming metric drift: accumulated report matches the batch t41 at full ingest") {
    import graft.operators.Expectations
    val base = Files.createTempDirectory("mdrift-stream")
    try {
      implicit val sqlCtx = spark.sqlContext
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select("doc_id", "text", "lang", "n_chars")
      val baseline = docs.filter(col("doc_id") < Expectations.DriftPrefixCutoff)
      val rows = docs.as[(Long, String, String, Long)].collect().toSeq
      val mem = MemoryStream[(Long, String, String, Long)]
      val q = Expectations.metricDriftStream(
        mem.toDF().toDF("doc_id", "text", "lang", "n_chars"),
        baseline, s"$base/out", s"$base/ckpt")
      try {
        // arbitrary split: the state is additive, so the cut must not matter
        rows.grouped((rows.length + 1) / 2).foreach { b =>
          mem.addData(b.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      // mid-stream report exists (batch 0), final report (batch 1) equals
      // the batch monitor bit-for-bit — same prefix snapshot, full corpus
      assert(spark.read.parquet(s"$base/out/report/batch_id=0").count() === 4L)
      val streamSide = spark.read.parquet(s"$base/out/report/batch_id=1")
        .select("metric", "cur_value", "prev_value", "rel_change_e6", "drifted")
        .collect().map(_.toSeq).toSet
      val batchSide = Expectations.metricDrift(spark, sf0001)
        .collect().map(_.toSeq).toSet
      assert(streamSide === batchSide)
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("streaming embedding drift: accumulated report matches the batch t42 at full ingest") {
    import graft.operators.Expectations
    val base = Files.createTempDirectory("edrift-stream")
    try {
      implicit val sqlCtx = spark.sqlContext
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .select("vec_id", "label", "embedding")
      val baseline = emb.filter(col("vec_id") < Expectations.DriftPrefixCutoff)
      val rows = emb.as[(Long, Int, Seq[Float])]
        .collect().toSeq
      val mem = MemoryStream[(Long, Int, Seq[Float])]
      val q = Expectations.embeddingDriftStream(
        mem.toDF().toDF("vec_id", "label", "embedding"),
        baseline, s"$base/out", s"$base/ckpt")
      try {
        rows.grouped((rows.length + 1) / 2).foreach { b =>
          mem.addData(b.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      val streamSide = spark.read.parquet(s"$base/out/report/batch_id=1")
        .select("label", "cur_n", "prev_n", "shift2_fx2", "drifted")
        .collect().map(_.toSeq).toSet
      val batchSide = Expectations.embeddingDrift(spark, sf0001)
        .select(col("label").cast("int"), col("cur_n"), col("prev_n"),
          col("shift2_fx2"), col("drifted"))
        .collect().map(_.toSeq).toSet
      assert(streamSide === batchSide)
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("online gate's Gopher repetition leg matches the batch t39 keep column") {
    import graft.operators.{ShingleIndex, TextAnalysis, VectorIndex}
    import graft.streaming.OnlineGate
    val base = Files.createTempDirectory("onlinegate-rep")
    val tbl = "gate_rep_idx"
    try {
      implicit val sqlCtx = spark.sqlContext
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val joined = docs.select(col("doc_id"), col("text"))
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding"), col("label")), "doc_id")
      ShingleIndex.buildFor(spark,
        docs.limit(0).select(col("doc_id"), col("text")), s"$base/sh", tbl)
      VectorIndex.trainOnly(spark, sf0001, s"$base/ivf")
      val rows = joined.orderBy("doc_id").as[(Long, String, Seq[Float], Int)].collect()
      val mem = MemoryStream[(Long, String, Seq[Float], Int)]
      val q = OnlineGate.gateStream(
        mem.toDF().toDF("doc_id", "text", "embedding", "label"),
        tbl, s"$base/markers", s"$base/ivf", s"$base/ckpt", s"$base/out",
        gopherRules = true)
      try {
        // two arbitrary batch splits: the leg is stateless per doc, so
        // the split point must not matter
        rows.grouped((rows.length + 1) / 2).foreach { b =>
          mem.addData(b.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      val dec = OnlineGate.decisions(spark, s"$base/out").localCheckpoint()
      // batch side: the UNPLANTED t39 keep over the same corpus
      val coldKeep = TextAnalysis.gopherRepetition(spark, sf0001)
        .select(col("doc_id"), col("gopher_keep"))
        .as[(Long, Boolean)].collect().toMap
      assert(dec.count() === rows.length.toLong)
      dec.collect().foreach { r =>
        val id = r.getAs[Long]("doc_id")
        // absent from the batch frame (<2 tokens) → no signal → pass
        val expected = coldKeep.getOrElse(id, true)
        assert(r.getAs[Boolean]("pass_rep") === expected, s"doc $id repetition leg diverged")
        if (r.getAs[Boolean]("kept")) assert(r.getAs[Boolean]("pass_rep"))
      }
      // non-vacuity: the raw corpus trips the top-2/3/4-gram caps on some
      // docs, so the leg must reject a few
      assert(dec.filter(!col("pass_rep")).count() > 0, "repetition leg rejected nothing")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${graft.operators.ShingleIndex.sigsTable(tbl)}")
      spark.sql(s"DROP TABLE IF EXISTS ${graft.operators.ShingleIndex.bandsTable(tbl)}")
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("incremental survivor maintenance: delta ≡ full recompute after every batch") {
    import graft.operators.{ShingleIndex, VectorIndex}
    import graft.streaming.OnlineGate
    val base = Files.createTempDirectory("survmaint")
    val tbl = "surv_maint_idx"
    try {
      implicit val sqlCtx = spark.sqlContext
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val joined = docs.select(col("doc_id"), col("text"))
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding"), col("label")),
          "doc_id")
        .filter(col("doc_id") < 100)
      ShingleIndex.buildFor(spark,
        docs.limit(0).select(col("doc_id"), col("text")), s"$base/sh", tbl)
      VectorIndex.trainOnly(spark, sf0001, s"$base/ivf")
      val rows = joined.orderBy("doc_id").as[(Long, String, Seq[Float], Int)].collect()
      val mem = MemoryStream[(Long, String, Seq[Float], Int)]
      val q = OnlineGate.gateStream(
        mem.toDF().toDF("doc_id", "text", "embedding", "label"),
        tbl, s"$base/markers", s"$base/ivf", s"$base/ckpt", s"$base/out")
      val st = s"$base/st"
      def equalSurvivors(): Unit = {
        val inc = OnlineGate.survivorsFromState(spark, st)
          .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
        val full = OnlineGate.cutTimeSelection(spark, tbl, s"$base/out")
          .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
        assert(inc === full, "state diverged from the full recompute")
        assert(inc.nonEmpty, "empty survivor set — fixture vacuous")
      }
      try {
        val (b1, rest) = rows.splitAt(40)
        val (b2, b3base) = rest.splitAt(40)
        mem.addData(b1.toIndexedSeq); q.processAllAvailable()
        OnlineGate.updateSurvivors(spark, tbl, s"$base/out",
          st, 1L, b1.map(t => (t._1, t._2)).toSeq.toDF("doc_id", "text"))
        equalSurvivors()
        mem.addData(b2.toIndexedSeq); q.processAllAvailable()
        OnlineGate.updateSurvivors(spark, tbl, s"$base/out",
          st, 2L, b2.map(t => (t._1, t._2)).toSeq.toDF("doc_id", "text"))
        equalSurvivors()
        // batch 3: the remaining natural docs — ingested BEFORE the
        // victim is chosen, so the clone is provably the ONLY thing that
        // later flips it (a victim picked earlier can be flipped by a
        // natural duplicate arriving in this batch, which is exactly
        // what happened to doc 1 on the first cut of this fixture)
        mem.addData(b3base.toIndexedSeq); q.processAllAvailable()
        OnlineGate.updateSurvivors(spark, tbl, s"$base/out",
          st, 3L, b3base.map(t => (t._1, t._2)).toSeq.toDF("doc_id", "text"))
        equalSurvivors()
        // batch 4 plants a verbatim copy of a CURRENT SURVIVOR: the
        // victim's decisions row never changes, but its segments turn
        // cross-doc duplicated — the maintenance must touch and drop an
        // OLD doc, not just ingest arrivals
        val victim = OnlineGate.survivorsFromState(spark, st)
          .select(col("doc_id")).as[Long].collect().min
        val vRow = rows.find(_._1 == victim).get
        val b4 = Seq((5000000L + victim, vRow._2, vRow._3, vRow._4))
        mem.addData(b4.toIndexedSeq); q.processAllAvailable()
        OnlineGate.updateSurvivors(spark, tbl, s"$base/out",
          st, 4L, b4.map(t => (t._1, t._2)).toSeq.toDF("doc_id", "text"))
        equalSurvivors()
        assert(OnlineGate.survivorsFromState(spark, st)
            .filter(col("doc_id") === victim).count() === 0L,
          "victim survived — the affected-old-doc path did nothing")
        assert(OnlineGate.decisions(spark, s"$base/out")
            .filter(col("doc_id") === victim && col("kept")).count() === 1L,
          "victim's verdict changed — the flip must come from dup stats alone")
        // the delta is genuinely incremental: batch 4 touched only its
        // arrival plus hash-sharing docs, a strict subset of the corpus
        val segs = ShingleIndex.segments(spark, tbl)
        val b4Ids = b4.map(_._1).toSeq.toDF("doc_id")
        val hb = segs.join(b4Ids, Seq("doc_id"), "left_semi")
          .select(col("h")).distinct()
        val touchedDocs = segs.join(hb, Seq("h"), "left_semi")
          .select(col("doc_id")).distinct()
          .unionByName(b4Ids).distinct().count()
        val totalDocs = OnlineGate.decisions(spark, s"$base/out").count()
        assert(touchedDocs < totalDocs / 2,
          s"batch 4 touched $touchedDocs of $totalDocs docs — not incremental")
        // ...and the version log records exactly O(touched) rows per
        // batch, never an O(corpus) rewrite
        val v4Rows = spark.read.parquet(s"$st/log/v=4").count()
        assert(v4Rows <= touchedDocs,
          s"v=4 wrote $v4Rows rows for $touchedDocs touched docs")
        // compaction folds the log to one version; the view is unchanged
        val before = OnlineGate.survivorsFromState(spark, st)
          .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
        OnlineGate.compactState(spark, st, 4L)
        assert(new java.io.File(s"$st/log").listFiles()
            .count(_.getName.startsWith("v=")) === 1, "old versions survived compact")
        val after = OnlineGate.survivorsFromState(spark, st)
          .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
        assert(after === before, "compaction changed the survivor view")
        // takedown maintenance: deleting the planted clone must (a) kill
        // any state row of the clone, (b) RESURRECT the victim — its dup
        // fraction falls back under the gate once its only duplicate is
        // gone — and (c) keep delta ≡ full recompute (the cut paths
        // subtract the deletion log, so the full side moves too)
        ShingleIndex.delete(spark, tbl, Seq(5000000L + victim).toDF("doc_id"))
        OnlineGate.updateSurvivorsAfterDelete(spark, tbl, s"$base/out",
          st, 5L, Seq(5000000L + victim).toDF("doc_id"))
        equalSurvivors()
        val postDelete = OnlineGate.survivorsFromState(spark, st)
          .select(col("doc_id")).as[Long].collect().toSet
        assert(postDelete.contains(victim),
          "victim did not rejoin after its duplicate was deleted")
        assert(!postDelete.contains(5000000L + victim),
          "deleted doc survived the takedown")
      } finally q.stop()
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${graft.operators.ShingleIndex.tombstonesTable(tbl)}")
      spark.sql(s"DROP TABLE IF EXISTS ${graft.operators.ShingleIndex.bandsTable(tbl)}")
      spark.sql(s"DROP TABLE IF EXISTS ${graft.operators.ShingleIndex.sigsTable(tbl)}")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("boilerplate flood: survivor maintenance touches O(batch) when one hash saturates half the corpus") {
    import graft.operators.{Dedup, ShingleIndex}
    import graft.streaming.OnlineGate
    val base = Files.createTempDirectory("survflood")
    val tbl = "surv_flood_idx"
    try {
      implicit val sqlCtx = spark.sqlContext
      val segTok = Dedup.SegmentTokens
      val boiler = (0 until segTok).map(j => s"bp$j").mkString(" ")
      def uniq(id: Long, s: Int): String =
        (0 until segTok).map(j => s"u${id}x${s}w$j").mkString(" ")
      def text(id: Long): String =
        if (id % 2 == 0) s"$boiler ${uniq(id, 1)}" else s"${uniq(id, 0)} ${uniq(id, 1)}"
      val b1 = (0L until 200L).map(id => (id, text(id)))
      val b1Df = b1.toDF("doc_id", "text")
      ShingleIndex.buildFor(spark, b1Df, s"$base/sh", tbl)
      val out = s"$base/out"
      def writeDecisions(ids: Seq[Long]): Unit =
        ids.map(id => (id, 0, 32L, 9000L, true))
          .toDF("doc_id", "shard", "n_tokens", "quality_e4", "kept")
          .write.mode("append").parquet(s"$out/decisions")
      writeDecisions(b1.map(_._1))
      val st = s"$base/st"
      def images(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      def equalSurvivors(): Unit = {
        val inc = images(OnlineGate.survivorsFromState(spark, st))
        val full = images(OnlineGate.cutTimeSelection(spark, tbl, out))
        assert(inc === full, "state diverged from the full recompute")
        assert(inc.nonEmpty, "empty survivor set — fixture vacuous")
      }
      OnlineGate.updateSurvivors(spark, tbl, out, st, 1L, b1Df)
      equalSurvivors()
      // half the corpus (the even docs) shares ONE boilerplate segment;
      // their dup fraction sits exactly on the 5000 gate bound, so they
      // are all survivors — the worst case for an all-sharers rule
      assert(OnlineGate.survivorsFromState(spark, st)
        .filter(col("dup_frac_e4") === 5000L).count() === 100L)

      // batch 2: 4 new docs carrying the SAME flooded hash. Its dup flag
      // is already true (≥2 holders), so NO existing doc's stats flip:
      // the delta must touch exactly the 4 arrivals — and no join in the
      // recompute DAG may push the flooded posting list downstream.
      val b2 = (1000L until 1004L).map(id => (id, s"$boiler ${uniq(id, 1)}"))
      val b2Df = b2.toDF("doc_id", "text")
      ShingleIndex.append(spark, b2Df, tbl)
      writeDecisions(b2.map(_._1))
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false") // keep join metrics visible
      try {
        val frame2 = OnlineGate.appendStateFrame(spark, tbl, out, b2Df)
        val rows2 = frame2.collect()
        assert(rows2.length === 4,
          s"flood recompute touched ${rows2.length} docs (expected the 4 arrivals)")
        val joinRows = frame2.queryExecution.executedPlan.collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
            j.nodeName -> j.metrics("numOutputRows").value
        }
        assert(joinRows.nonEmpty, "no joins in the recompute plan — probe broken")
        joinRows.foreach { case (n, r) =>
          assert(r <= 150L,
            s"$n emitted $r rows — the flooded posting list leaked past the flag aggregate")
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
      OnlineGate.updateSurvivors(spark, tbl, out, st, 2L, b2Df)
      equalSurvivors()
      assert(spark.read.parquet(s"$st/log/v=2").count() === 4L,
        "version log recorded more than the batch")

      // flip coverage: a batch hash whose PRIOR holder count was exactly
      // 1 (doc 42's tail, re-sent by a new arrival) must recompute that
      // sole prior holder — the tightened rule still catches real flips
      val b3Df = Seq((2000L, s"${uniq(42L, 1)} ${uniq(2000L, 1)}"))
        .toDF("doc_id", "text")
      ShingleIndex.append(spark, b3Df, tbl)
      writeDecisions(Seq(2000L))
      val touched3 = OnlineGate.appendStateFrame(spark, tbl, out, b3Df)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(touched3 === Set(42L, 2000L),
        s"flip set was $touched3 (expected the sole prior holder + the arrival)")
      OnlineGate.updateSurvivors(spark, tbl, out, st, 3L, b3Df)
      equalSurvivors()
      // doc 42's both segments are now cross-doc dup → 10000 → dropped
      assert(OnlineGate.survivorsFromState(spark, st)
        .filter(col("doc_id") === 42L).count() === 0L,
        "the flipped prior holder was not re-gated")

      // takedown of one boilerplate holder: 103 remain, the hash stays
      // duplicated, the flip set is EMPTY — the log gets the dead row
      // and nothing else
      ShingleIndex.delete(spark, tbl, Seq(0L).toDF("doc_id"))
      val rows4 = OnlineGate.deleteStateFrame(spark, tbl, out,
        Seq(0L).toDF("doc_id")).collect()
      assert(rows4.length === 1 && !rows4.head.getAs[Boolean]("alive"),
        s"flood takedown wrote ${rows4.length} rows (expected only the dead row)")
      OnlineGate.updateSurvivorsAfterDelete(spark, tbl, out, st, 4L,
        Seq(0L).toDF("doc_id"))
      equalSurvivors()

      // the maintenance DAGs pass the same plan audit as the cut stages
      // (the one streaming surface the registered-query sweep misses)
      val findings = Seq(
        "maint:append" -> OnlineGate.appendStateFrame(spark, tbl, out, b2Df),
        "maint:delete" -> OnlineGate.deleteStateFrame(spark, tbl, out,
          Seq(0L).toDF("doc_id")))
        .flatMap { case (n, df) => graft.tools.PlanAudit.audit(n, df) }
        .filterNot(_.waived)
      assert(findings.isEmpty, s"maintenance plan red flags: $findings")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${graft.operators.ShingleIndex.tombstonesTable(tbl)}")
      spark.sql(s"DROP TABLE IF EXISTS ${graft.operators.ShingleIndex.bandsTable(tbl)}")
      spark.sql(s"DROP TABLE IF EXISTS ${graft.operators.ShingleIndex.sigsTable(tbl)}")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("online training gate composes text, fuzzy and semantic legs prefix-consistently") {
    import graft.operators.{Dedup, IvfAnn, ShingleIndex, TextAnalysis, TrainingPrep, VectorIndex}
    import graft.streaming.OnlineGate
    val base = Files.createTempDirectory("onlinegate")
    val tbl = "gate_stream_idx"
    try {
      implicit val sqlCtx = spark.sqlContext
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val joined = docs.select(col("doc_id"), col("text"))
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding"), col("label")), "doc_id")
      // full clones at high ids: identical text AND identical embedding, so
      // BOTH dedup legs must drop every one of them (jaccard 1, cosine 1)
      val clones = joined.filter(col("doc_id") < 8)
        .withColumn("doc_id", col("doc_id") + 3000000L)
      // partial copies of DIFFERENT docs (8..15): only their first
      // segment becomes cross-doc duplicated, so the scrub cut (item 7)
      // demonstrably trims a surviving doc instead of deleting it —
      // the full clones above scrub docs 0..7 to their tails, which the
      // clean-text gates then reject
      val partials = joined.filter(col("doc_id").between(8, 15))
        .withColumn("doc_id", col("doc_id") + 4000000L)
        .withColumn("text", expr("concat_ws(' ', slice(split(text, ' '), 1, 24))"))
      val all = joined.unionByName(clones).unionByName(partials)
      ShingleIndex.buildFor(spark,
        docs.limit(0).select(col("doc_id"), col("text")), s"$base/sh", tbl)
      VectorIndex.trainOnly(spark, sf0001, s"$base/ivf")
      // monotone doc_id order across batches — the prefix-consistency
      // precondition both legs document
      val rows = all.orderBy("doc_id").as[(Long, String, Seq[Float], Int)].collect()
      val mem = MemoryStream[(Long, String, Seq[Float], Int)]
      val q = OnlineGate.gateStream(
        mem.toDF().toDF("doc_id", "text", "embedding", "label"),
        tbl, s"$base/markers", s"$base/ivf", s"$base/ckpt", s"$base/out")
      try {
        rows.grouped((rows.length + 2) / 3).foreach { b =>
          mem.addData(b.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      val dec = OnlineGate.decisions(spark, s"$base/out").localCheckpoint()
      assert(dec.count() === rows.length.toLong)

      // 1. wiring: every composite row reconciles with an independent
      //    batch recomputation of the text gates and the leg stores
      val textRef = all.select(col("doc_id"),
          TextAnalysis.nTokensCol(col("text")).as("nt"),
          TextAnalysis.qualityE4Col(col("text")).as("q4"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val fuzzyKeep = spark.read.parquet(s"$base/out/fuzzy")
        .select(col("doc_id"), col("kept")).as[(Long, Boolean)].collect().toMap
      val semKeep = spark.read.parquet(s"$base/ivf/decisions")
        .select(col("vec_id"), col("kept")).as[(Long, Boolean)].collect().toMap
      dec.collect().foreach { r =>
        val id = r.getAs[Long]("doc_id")
        val (nt, q4) = textRef(id)
        assert(r.getAs[Long]("n_tokens") === nt)
        assert(r.getAs[Long]("quality_e4") === q4)
        assert(r.getAs[Boolean]("pass_quality") === (q4 >= TrainingPrep.MinQualityE4))
        assert(r.getAs[Boolean]("pass_tokens") ===
          (nt >= TrainingPrep.MinTokens && nt <= TrainingPrep.MaxTokens))
        assert(r.getAs[Boolean]("fuzzy_keep") === fuzzyKeep(id))
        assert(r.getAs[Boolean]("sem_keep") === semKeep(id))
        assert(r.getAs[Boolean]("kept") ===
          (r.getAs[Boolean]("pass_quality") && r.getAs[Boolean]("pass_tokens") &&
            fuzzyKeep(id) && semKeep(id)))
      }

      // 2. the fuzzy leg equals the cold d4 drop set over the union corpus
      val unionDir = s"$base/union"
      // lang/source are carried (not gated on) by the batch operators the
      // cut-equivalence below replays — any constant works
      all.select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("web").as("source"))
        .write.parquet(s"$unionDir/documents.parquet")
      val coldFuzzyDrops = Dedup.minhashLshPairs(spark, unionDir)
        .select(col("b")).distinct().as[Long].collect().toSet
      assert(fuzzyKeep.filter(!_._2).keySet === coldFuzzyDrops,
        "composed fuzzy leg diverged from cold d4")

      // 3. the semantic leg equals the cold lower-id rule under the
      //    STORED geometry (the same predicate dedupIngestBatch applies,
      //    computed here in one cold self-join)
      val centsFx = VectorIndex.centroidsFx(spark, s"$base/ivf")
      val assigned = all.select(col("doc_id").as("vec_id"), col("embedding"))
        .withColumn("centroid", IvfAnn.nearestCentroid(centsFx))
      val cos = graft.functions.VectorFunctions.cosFxF(col("x.embedding"), col("y.embedding"))
      val coldSemDrops = assigned.as("y")
        .join(assigned.as("x"),
          col("x.centroid") === col("y.centroid") && col("x.vec_id") < col("y.vec_id"))
        .filter(graft.operators.Exact.e(cos, 6) >= lit(math.round(IvfAnn.SemDedupThreshold * 1e6)))
        .select(col("y.vec_id")).distinct().as[Long].collect().toSet
      assert(semKeep.filter(!_._2).keySet === coldSemDrops,
        "composed semantic leg diverged from the cold lower-id rule")

      // 3b. placement: every verdict carries the t28 stable shard — the
      //     first hex digit of the md5 permutation key
      dec.collect().foreach { r =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"${r.getAs[Long]("doc_id")}|t26".getBytes("UTF-8"))
        val firstHex = "%02x".format(md(0)).charAt(0)
        assert(r.getAs[Int]("shard") === Integer.parseInt(firstHex.toString, 16))
      }

      // 4. non-vacuity: all clones dropped by both legs; the gate still
      //    keeps documents; and the text gates reject some on their own
      val cloneIds = (0L until 8L).map(_ + 3000000L).toSet
      assert(cloneIds.forall(id => !fuzzyKeep(id) && !semKeep(id)),
        "a full clone survived a dedup leg")
      assert(dec.filter(col("kept")).count() > 0, "gate kept nothing")
      assert(dec.filter(!col("pass_quality") || !col("pass_tokens")).count() > 0,
        "text gates rejected nothing — composition untested")

      // 5. cut-time selection: the online kept set further gated by the
      //    segment-dup fraction over the FULL ingested corpus (read from
      //    the index) equals the inline d10 recomputation over the union
      val cut = OnlineGate.cutTimeSelection(spark, tbl, s"$base/out")
        .select(col("doc_id")).as[Long].collect().toSet
      val inlineDup = Dedup.duplicatedSegments(spark, unionDir)
        .select(col("doc_id"), col("dup_frac_e4"))
        .as[(Long, Long)].collect().toMap
      val keptOnline = dec.filter(col("kept")).select(col("doc_id"))
        .as[Long].collect().toSet
      val expectedCut = keptOnline.filter(id =>
        inlineDup.getOrElse(id, 0L) <= TrainingPrep.MaxDupFracE4)
      assert(cut === expectedCut, "cut-time selection diverged from inline d10 gating")
      // the full clones make their ORIGINALS fully-duplicated, so the
      // cut-time gate must drop something the online pass kept
      assert(cut !== keptOnline, "segment gate dropped nothing at cut — vacuous")

      // 5b. pre-cut threshold sweep: the d16 measurement over the
      //     ACCUMULATED index (pick the threshold, then cut) is
      //     bit-equal to the cold inline sweep over the union corpus —
      //     and actually sees the ingested clones (Jaccard-1.0 pairs)
      val ingestSweep = OnlineGate.preCutSweep(spark, tbl)
        .collect().map(_.toSeq).toSet
      val coldSweep = Dedup.thresholdSensitivity(spark, unionDir)
        .collect().map(_.toSeq).toSet
      assert(ingestSweep === coldSweep,
        "pre-cut sweep over the accumulated index diverged from the cold d16")
      assert(OnlineGate.preCutSweep(spark, tbl)
        .filter(col("threshold_e2") === 100 && col("n_pairs_ge") > 0).count() === 1L,
        "full clones produced no Jaccard-1.0 pairs in the sweep — vacuous")

      // 5d. cut-time per-host quota: t55 over the cut survivors ≡ the
      //     cold quota-over-cut composition, and the quota binds (5
      //     planted hosts × quota keepers is far below the kept count)
      val hostsF = Dedup.plantedCrawlUrls(all.select(col("doc_id")))
        .select(col("doc_id"),
          regexp_extract(Dedup.canonicalUrlCol(col("url")), "^([^/?]+)", 1)
            .as("host"))
      val cutQ = OnlineGate.cutWithQuota(spark, tbl, s"$base/out", hostsF)
        .localCheckpoint()
      val coldQScored = hostsF
        .filter(col("doc_id").isInCollection(expectedCut))
        .join(all.select(col("doc_id"),
          TextAnalysis.qualityE4Col(col("text")).as("quality_e4")), Seq("doc_id"))
        .select(col("doc_id"), col("host"), col("quality_e4"))
      val coldQ = Dedup.hostQuotaKeepOf(coldQScored)
      def qImage(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      assert(qImage(cutQ) === qImage(coldQ),
        "cut-time quota diverged from the cold composition")
      assert(cutQ.count() < expectedCut.size.toLong, "quota bound nothing")
      assert(cutQ.groupBy(col("host")).count()
        .filter(col("count") > Dedup.HostQuota).count() === 0L)

      // 5c. cut-time soft-dedup budget: t62 over the accumulated index's
      //     clusters + the raw ingested store ≡ the cold composition over
      //     the union corpus; the ingested clones must discount a source
      val docsWithSource = all.select(col("doc_id"), col("text"),
        lit("web").as("source"))
      val ingestBudget = OnlineGate.cutBudget(spark, tbl, docsWithSource)
        .collect().map(_.toSeq).toSet
      val coldBudget = graft.operators.TrainingPrep.softDedupBudgetOf(
        docsWithSource,
        Dedup.duplicateClusters(spark, unionDir))
        .collect().map(_.toSeq).toSet
      assert(ingestBudget === coldBudget,
        "cut-time budget diverged from the cold t62 composition")
      assert(ingestBudget.exists(r => r.last.asInstanceOf[Long] < 10000L),
        "clones discounted nothing — budget vacuous")

      // 6. first-class cut, t23 form: ingest → cut ≡ the cold full-gate
      //    chain over the ingested corpus — trainingSelection (exact ∧
      //    token ∧ quality ∧ segment-dup, batch operators end-to-end)
      //    minus the cold fuzzy/semantic drop sets: exactly
      //    trainingSelectionFull re-stated over the union corpus
      val cutFull = OnlineGate.cut(spark, tbl, s"$base/out",
          all.select(col("doc_id"), col("text")))
        .select(col("doc_id")).as[Long].collect().toSet
      val coldFullIds = TrainingPrep.trainingSelection(spark, unionDir)
        .select(col("doc_id")).as[Long].collect().toSet --
        coldFuzzyDrops -- coldSemDrops
      assert(cutFull === coldFullIds, "cut (t23 form) diverged from the cold full gate")

      // 7. first-class cut, t25 form: scrub the duplicated spans (index-
      //    fed hashes) and re-gate on the CLEAN text — bit-equal to the
      //    cold scrub-then-select composition over the union corpus
      val cutScrub = OnlineGate.cut(spark, tbl, s"$base/out",
          all.select(col("doc_id"), col("text")), scrub = true)
        .select(col("doc_id"), col("clean_text"), col("n_dropped_tokens"),
          col("n_tokens"), col("quality_e4"))
      val coldKeepIds = Dedup.exactDedupKeep(spark, unionDir).select(col("doc_id"))
      val coldScrub = Dedup.scrubbedSpans(spark, unionDir)
        .join(coldKeepIds, Seq("doc_id"))
        .select(col("doc_id"), col("clean_text"), col("n_dropped_tokens"),
          TextAnalysis.nTokensCol(col("clean_text")).as("n_tokens"),
          TextAnalysis.qualityE4Col(col("clean_text")).as("quality_e4"))
        .filter(col("quality_e4") >= TrainingPrep.MinQualityE4 &&
          col("n_tokens").between(TrainingPrep.MinTokens, TrainingPrep.MaxTokens))
        .filter(!col("doc_id").isInCollection(coldFuzzyDrops) &&
          !col("doc_id").isInCollection(coldSemDrops))
      assert(cutScrub.collect().map(_.toSeq).toSet ===
        coldScrub.collect().map(_.toSeq).toSet,
        "cut (t25 scrub form) diverged from the cold scrub-then-select")
      // the scrub signal is observable: some kept row lost tokens
      assert(cutScrub.filter(col("n_dropped_tokens") > 0).count() > 0,
        "scrub cut dropped no tokens anywhere — vacuous")

      // 8. cut-time exact decontamination: a frozen eval suite built from
      //    texts of docs that SURVIVED the cut (so the leg must bind) —
      //    the ingest-state composition ≡ an independent Scala 13-gram
      //    recomputation over the collected texts
      val survivorSample = expectedCut.toSeq.sorted.take(4)
      val evalDocs = all.filter(col("doc_id").isInCollection(survivorSample))
        .select((col("doc_id") + 7000000L).as("doc_id"), col("text"))
        .localCheckpoint()
      def grams13(text: String): Set[String] =
        text.split(" ").toSeq.sliding(Dedup.DecontamN)
          .filter(_.length == Dedup.DecontamN).map(_.mkString(" ")).toSet
      val evalGramSet = evalDocs.as[(Long, String)].collect()
        .flatMap { case (_, t) => grams13(t) }.toSet
      val textById = all.select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toMap
      val expectedDecon = expectedCut.filter(id =>
        grams13(textById(id)).intersect(evalGramSet).isEmpty)
      val cutDecon = OnlineGate.cutDecontaminated(spark, tbl, s"$base/out",
          all.select(col("doc_id"), col("text")), evalDocs)
        .select(col("doc_id")).as[Long].collect().toSet
      assert(cutDecon === expectedDecon,
        "cut-time decontamination diverged from the independent 13-gram check")
      assert(cutDecon !== expectedCut,
        "eval suite contaminated nothing — decontamination leg vacuous")
      assert(survivorSample.forall(id => !cutDecon.contains(id)),
        "an eval-source doc survived its own grams")
      // an EMPTY eval registry must leave the cut untouched (the leg is
      // an anti-join against nothing, not an accidental inner join)
      val cutIdent = OnlineGate.cutDecontaminated(spark, tbl, s"$base/out",
          all.select(col("doc_id"), col("text")), evalDocs.limit(0))
        .select(col("doc_id")).as[Long].collect().toSet
      assert(cutIdent === expectedCut, "empty eval suite changed the cut")

      // 9. the t65-equivalent production cut: decontaminated selection →
      //    per-host quota ≡ the cold quota-over-decontaminated composition
      val cutProd = OnlineGate.cutProduction(spark, tbl, s"$base/out",
        all.select(col("doc_id"), col("text")), evalDocs, hostsF)
        .localCheckpoint()
      val coldProd = Dedup.hostQuotaKeepOf(hostsF
        .filter(col("doc_id").isInCollection(expectedDecon))
        .join(all.select(col("doc_id"),
          TextAnalysis.qualityE4Col(col("text")).as("quality_e4")), Seq("doc_id"))
        .select(col("doc_id"), col("host"), col("quality_e4")))
      assert(qImage(cutProd) === qImage(coldProd),
        "production cut diverged from the cold decontaminate-then-quota")

      // 10. the t66-equivalent cut manifest: production cut → mixture →
      //     epochs → shards ≡ the cold manifest over the cold-derived
      //     kept frame (ingest ≡ cold, like every other cut stage)
      val cutMan = OnlineGate.cutManifest(spark, tbl, s"$base/out",
        docsWithSource, evalDocs, hostsF)
      val coldKeptFrame = coldProd.select(col("doc_id"), col("quality_e4"))
        .join(docsWithSource.select(col("doc_id"), col("source"),
          TextAnalysis.nTokensCol(col("text")).cast("bigint").as("n_tokens")),
          Seq("doc_id"))
      val coldMan = TrainingPrep.runManifestOf(coldKeptFrame)
      assert(qImage(cutMan) === qImage(coldMan),
        "cut manifest diverged from the cold t66 composition")
      assert(cutMan.count() > 0, "cut manifest is empty — vacuous")
      // manifest accounting: doc counts add up to the mixture-kept total
      val manDocs = cutMan.agg(sum(col("doc_count"))).as[Long].head
      assert(manDocs > 0 && manDocs <= coldProd.count(),
        "manifest doc accounting out of range")

      // 10b. the t66b-equivalent PIECE-MEASURED cut manifest: the BPE
      //      vocabulary trained on the INGESTED store at the freeze is
      //      the same pure function of the word histogram as the cold
      //      union-corpus training, so the manifests match bit-for-bit
      val cutManBpe = OnlineGate.cutManifestBpe(spark, tbl, s"$base/out",
        docsWithSource, evalDocs, hostsF)
      val coldWp = graft.operators.Bpe.wordPiecesDf(spark, unionDir)
      val coldPieces = all
        .join(coldProd.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), lit("web").as("source"),
          explode(split(col("text"), " ")).as("w"))
        .join(broadcast(coldWp), Seq("w"), "left")
        .withColumn("np",
          coalesce(col("np"), length(col("w")).cast("int") + lit(1)))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("np")).cast("long").as("n_tokens"))
      val coldManBpe = TrainingPrep.runManifestOf(
          coldProd.select(col("doc_id"), col("quality_e4"))
            .join(coldPieces, Seq("doc_id")))
        .select(col("shard"), col("doc_count"),
          col("token_sum").as("piece_sum"),
          col("weighted_token_sum").as("weighted_piece_sum"),
          col("max_pos"))
      assert(qImage(cutManBpe) === qImage(coldManBpe),
        "piece-measured cut manifest diverged from the cold t66b composition")
      assert(cutManBpe.count() > 0, "piece-measured cut manifest empty — vacuous")

      // 11. the t66s-equivalent SOFT cut manifest: the soft-regime
      //     selection (hard quality/token/semantic legs; duplication KEPT
      //     for the 1/|cluster| discount) → decontamination → soft
      //     mixture over effective volumes (clusters from the accumulated
      //     index) → epochs → shards ≡ the cold composition over the
      //     union corpus
      val cutManSoft = OnlineGate.cutManifestSoft(spark, tbl, s"$base/out",
        docsWithSource, evalDocs)
      val coldSoftBase = all.select(col("doc_id"),
          TextAnalysis.nTokensCol(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.qualityE4Col(col("text")).as("quality_e4"))
        .filter(col("quality_e4") >= TrainingPrep.MinQualityE4 &&
          col("n_tokens").between(TrainingPrep.MinTokens, TrainingPrep.MaxTokens))
        .filter(!col("doc_id").isInCollection(coldSemDrops))
        .localCheckpoint()
      val coldSoftIds = coldSoftBase.select(col("doc_id")).as[Long].collect()
        .filter(id => grams13(textById(id)).intersect(evalGramSet).isEmpty).toSet
      val coldSoftKept = coldSoftBase
        .filter(col("doc_id").isInCollection(coldSoftIds))
      val coldManSoft = TrainingPrep.runManifestSoftOf(coldSoftKept
        .join(docsWithSource.select(col("doc_id"), col("source")), Seq("doc_id"))
        .join(TrainingPrep.softDedupWeightsOf(
            coldSoftKept.select(col("doc_id")),
            Dedup.duplicateClusters(spark, unionDir))
          .select(col("doc_id"), col("weight_e4")), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr("n_tokens * weight_e4 div 10000").as("eff_tokens"),
          col("quality_e4")))
      assert(qImage(cutManSoft) === qImage(coldManSoft),
        "soft cut manifest diverged from the cold t66s composition")
      // the soft regime's entire point: some shard carries a discounted
      // (near-dup cluster member) doc the hard cut would have dropped
      assert(cutManSoft.filter(col("eff_token_sum") < col("token_sum"))
          .count() > 0,
        "no shard carries a discounted doc — soft cut manifest vacuous")

      // 13. the freeze writes the ACTUAL training layout: cutShards ≡
      //     the batch writeShards over the cold production selection —
      //     same shard dirs, one file each, same ordered row content
      val metaF = docsWithSource.select(col("doc_id"), col("source"), col("text"),
        TextAnalysis.nTokensCol(col("text")).cast("bigint").as("n_tokens"))
      OnlineGate.cutShards(spark, tbl, s"$base/out", docsWithSource, evalDocs,
        hostsF, s"$base/shards_cut")
      graft.operators.DataLayout.writeShards(
        TrainingPrep.shardLayoutOf(
          coldProd.select(col("doc_id")).join(metaF, Seq("doc_id")))
          .select(col("doc_id"), col("source"), col("n_tokens"), col("text"),
            col("skey"), col("shard"), col("shard_pos")),
        s"$base/shards_cold")
      def shardTree(p: String): Map[String, Seq[String]] = {
        new java.io.File(p).listFiles()
          .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
          .map { d =>
            val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
            assert(files.length === 1,
              s"${d.getName}: expected one file, got ${files.length}")
            d.getName -> spark.read.parquet(files(0).getAbsolutePath)
              .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
          }.toMap
      }
      val cutTree = shardTree(s"$base/shards_cut")
      val coldTree = shardTree(s"$base/shards_cold")
      assert(cutTree.keySet === coldTree.keySet, "shard directory sets differ")
      cutTree.keySet.foreach { d =>
        assert(cutTree(d) === coldTree(d),
          s"$d file content or order diverged from the batch layout")
      }
      assert(cutTree.values.map(_.size).sum > 0, "empty shard layout — vacuous")

      // 12. plan-audit sweep over every cut-stage DAG: PlanAuditSpec's
      //     registered-query sweep never sees these accumulated-state
      //     compositions, so a regression into an unbounded broadcast or
      //     corpus-global window here would otherwise go unswept
      val rawDocs = all.select(col("doc_id"), col("text"))
      val cutStages: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
        "stream:cut_selection" ->
          OnlineGate.cutTimeSelection(spark, tbl, s"$base/out"),
        "stream:cut_selection_soft" ->
          OnlineGate.cutTimeSelectionSoft(spark, tbl, s"$base/out"),
        "stream:cut_t23" -> OnlineGate.cut(spark, tbl, s"$base/out", rawDocs),
        "stream:cut_t25_scrub" ->
          OnlineGate.cut(spark, tbl, s"$base/out", rawDocs, scrub = true),
        "stream:cut_quota" ->
          OnlineGate.cutWithQuota(spark, tbl, s"$base/out", hostsF),
        "stream:cut_budget" -> OnlineGate.cutBudget(spark, tbl, docsWithSource),
        "stream:cut_decontaminated" ->
          OnlineGate.cutDecontaminated(spark, tbl, s"$base/out", rawDocs, evalDocs),
        "stream:cut_production" -> OnlineGate.cutProduction(
          spark, tbl, s"$base/out", rawDocs, evalDocs, hostsF),
        "stream:cut_manifest" -> OnlineGate.cutManifest(
          spark, tbl, s"$base/out", docsWithSource, evalDocs, hostsF),
        "stream:cut_manifest_soft" -> OnlineGate.cutManifestSoft(
          spark, tbl, s"$base/out", docsWithSource, evalDocs),
        "stream:cut_manifest_bpe" -> OnlineGate.cutManifestBpe(
          spark, tbl, s"$base/out", docsWithSource, evalDocs, hostsF),
        "stream:pre_cut_sweep" -> OnlineGate.preCutSweep(spark, tbl))
      val auditFindings = cutStages.flatMap { case (n, df) =>
        graft.tools.PlanAudit.audit(n, df)
      }
      val unwaived = auditFindings.filterNot(_.waived)
      assert(unwaived.isEmpty,
        s"cut-stage plan red flags: ${unwaived.mkString("; ")}")
      // bad-plan canary: the sweep must actually bite on a streaming-state
      // frame — a corpus-global window over the cut selection flags
      val canary = graft.tools.PlanAudit.audit("stream:canary",
        OnlineGate.cutTimeSelection(spark, tbl, s"$base/out")
          .withColumn("grank", org.apache.spark.sql.functions.row_number()
            .over(org.apache.spark.sql.expressions.Window.orderBy(col("doc_id")))))
      assert(canary.exists(f => f.tag == "GlobalWindow" && !f.waived),
        s"canary not flagged: $canary")

      // 14. takedowns bind in the shipped tokenizer: a tombstoned doc's
      //     text must not shape the freeze-trained BPE merges. The vocab
      //     victim is never KEPT (token ceiling: 1100 > MaxTokens) and
      //     its nonsense word shares no shingle/segment with anyone, so
      //     the ONLY channel through which it can move the manifest is
      //     the trained merges — which it demonstrably does while
      //     present (with 16 merge slots, its dominant q·q pairs displace
      //     real merges), and must not once deleted.
      val vocabVictim = 6000000L
      val victimText = Seq.fill(1100)("q" * 64).mkString(" ")
      val docsPlus = docsWithSource.unionByName(
        Seq((vocabVictim, victimText, "web")).toDF("doc_id", "text", "source"))
      val manBefore = qImage(cutManBpe)
      val manWith = qImage(OnlineGate.cutManifestBpe(
        spark, tbl, s"$base/out", docsPlus, evalDocs, hostsF))
      assert(manWith !== manBefore,
        "vocab victim moved no merges — tokenizer-takedown canary vacuous")
      ShingleIndex.delete(spark, tbl, Seq(vocabVictim).toDF("doc_id"))
      val manAfter = qImage(OnlineGate.cutManifestBpe(
        spark, tbl, s"$base/out", docsPlus, evalDocs, hostsF))
      assert(manAfter === manBefore,
        "a deleted doc's text still shapes the trained merges")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${graft.operators.ShingleIndex.sigsTable(tbl)}")
      spark.sql(s"DROP TABLE IF EXISTS ${graft.operators.ShingleIndex.bandsTable(tbl)}")
      spark.sql(
        s"DROP TABLE IF EXISTS ${graft.operators.ShingleIndex.tombstonesTable(tbl)}")
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("streaming funnel: per-user O(1) state converges to the batch w8 frame under time-ordered arrival") {
    import graft.streaming.{FunnelEvent, FunnelRow, StreamingFunnel}
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the real event feed, in event-time order (the stream's contract)
      val feed = graft.operators.RelationalOps.secEvents(spark, sf0001)
        .select(col("user_id"), col("event_type"), col("sec"))
        .as[(Long, String, Long)].collect()
        .sortBy(r => (r._3, r._1))
        .map(r => FunnelEvent(r._1, r._2, r._3))
      val mem = MemoryStream[FunnelEvent]
      val q = StreamingFunnel.funnel(mem.toDS())
        .writeStream.format("memory").queryName("funnel_live")
        .outputMode("update").start()
      try {
        feed.grouped((feed.length + 4) / 5).foreach { b =>
          mem.addData(b.toIndexedSeq); q.processAllAvailable()
        }
        val live = spark.table("funnel_live").as[FunnelRow].collect()
          .groupBy(_.user_id).view.mapValues(_.maxBy(_.stage)).values
          .map(r => (r.user_id, r.signup_sec, r.click_sec, r.purchase_sec, r.stage))
          .toSet
        val cold = graft.operators.RelationalOps.signupFunnel(spark, sf0001)
          .as[(Long, Long, Option[Long], Option[Long], Int)].collect()
          .map(r => (r._1, r._2, r._3, r._4, r._5)).toSet
        assert(live === cold,
          "streaming funnel diverged from the batch w8 frame")
        // stage emissions strictly advance: no user emits the same stage twice
        val all = spark.table("funnel_live").as[FunnelRow].collect()
        all.groupBy(_.user_id).foreach { case (u, rs) =>
          assert(rs.map(_.stage).distinct.length === rs.length,
            s"user $u re-emitted a stage")
        }
        // non-vacuity: full conversions and partial funnels both present
        assert(live.exists(_._5 == 3) && live.map(_._5).size > 1)
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("media ingest gate: at-arrival m8 ∧ perceptual first-seen ≡ cold; cross-batch re-crawls suppressed") {
    import graft.streaming.MediaGate
    val base = Files.createTempDirectory("mediagate")
    try {
      implicit val sqlCtx = spark.sqlContext
      // plant cross-batch perceptual re-crawls: selected docs reappear
      // under new ids (identical bytes → identical fingerprint), arriving
      // in LATER batches than their originals (doc_id order)
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"), col("n_chars"))
      val planted = docs.unionByName(
        docs.filter(col("doc_id") % 100 === 7)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("n_chars")))
        .localCheckpoint()
      val rows = planted.orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
      val mem = MemoryStream[(Long, String, Long)]
      // compactEvery = 2 so the state-fold path runs mid-test too
      val q = MediaGate.ingestStream(
        mem.toDF().toDF("doc_id", "text", "n_chars"),
        s"$base/out", s"$base/ckpt", compactEvery = 2)
      try {
        rows.grouped((rows.length + 3) / 4).foreach { b =>
          mem.addData(b.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      def image(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val cols = Seq("doc_id", "phash_hex", "pass_quality", "first_seen", "kept")
      val online = MediaGate.decisions(spark, s"$base/out").select(cols.map(col): _*)
      val cold = MediaGate.mediaGateCold(planted).select(cols.map(col): _*)
      assert(online.count() === rows.length.toLong)
      assert(image(online) === image(cold),
        "at-arrival media verdicts diverged from the cold pass")
      val dec = online.localCheckpoint()
      // every planted clone arrives after its original — all suppressed
      assert(dec.filter(col("doc_id") >= 1000000L).count() > 0)
      assert(dec.filter(col("doc_id") >= 1000000L && col("first_seen")).count() === 0,
        "a planted perceptual re-crawl escaped first-seen suppression")
      // both legs bind, and the gate still admits most of the corpus
      assert(dec.filter(!col("pass_quality")).count() > 0, "m8 leg rejected nothing")
      assert(dec.filter(col("kept")).count() > dec.count() / 2, "gate rejected most assets")
      // state stays bounded: compaction folded earlier partials away
      val seenDirs = new java.io.File(s"$base/out/seen").listFiles()
        .count(_.getName.startsWith("batch_id="))
      assert(seenDirs <= 3, s"seen partials unbounded: $seenDirs dirs")
    } finally {
      Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }
}
