package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.operators.ImporterPipeline._
import graft.sources.Fixtures
import graft.streaming.ImporterStream

/** A progress report as the listener received it. */
final case class Progress(at: Double, endOffset: Long, p: StreamingQueryProgress) {
  def durationS(key: String): Double = Option(p.durationMs.get(key)).map(_.toLong / 1000.0).getOrElse(0.0)
  /** The micro-batch as a span: its trigger start plus its trigger time. */
  def batchSpan(id: Int, parent: Int): Span = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    Span(id, "batch", parent, s"batch#${p.batchId}", start, start + durationS("triggerExecution") * 1000)
  }
}

/** Outcome of one stream run over a list of events. `lateEvents` counts
  * the events of ticks the generator sent more than one tick after they
  * were due: those were not offered at the rate the run claims.
  */
final case class IngestRun(
    events: Int, ticks: Int, window: Span, latencies: Seq[Double], uncovered: Int,
    generatorLateMaxS: Double, lateEvents: Int, progress: Seq[Progress], sends: Seq[Double], sinks: ImporterStream.Sinks) {
  def batches: Seq[Progress] = progress.filter(_.p.numInputRows > 0)
}

/** An open loop driving `ImporterStream.start` over a MemoryStream of
  * `NewInstance` events. The generator adds one chunk per tick at a fixed
  * offered rate, and every event is timed from the moment its tick was
  * due until the progress report of the micro-batch whose end offset
  * covers that tick.
  */
final class IngestStream(spark: SparkSession, sfDir: String, workDir: Path) {
  import IngestStream._

  /** The static sides, uncached and built exactly as `SparkEntry.flagship`
    * builds them; each micro-batch re-derives them.
    */
  private val dims = projectDimensions(Fixtures.apiDimensions(spark, sfDir))
  private val codeLists = Fixtures.codeLists(spark, sfDir)

  /** All fixture events, in a fixed order the seed then shuffles. */
  val events: Seq[(String, String)] = {
    import spark.implicits._
    Fixtures.importerEvents(spark, sfDir).select("file_url", "instance_id").as[(String, String)]
      .collect().toSeq.sorted
  }

  /** Streams `evs` at the offered rate and waits for the batch covering
    * the last tick sent. With `untilBatches`, feeding stops early once that
    * many non-empty micro-batches have finished.
    */
  def run(name: String, evs: Seq[(String, String)], tracer: Tracer, untilBatches: Int = Int.MaxValue): IngestRun = {
    val dir = workDir.resolve(name)
    deleteTree(dir)
    val sinks = ImporterStream.Sinks(dir.resolve("out").toString)
    val reports = ArrayBuffer.empty[Progress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val at = tracer.now()
        val end = e.progress.sources.headOption.flatMap(s => Option(s.endOffset))
          .flatMap(_.toLongOption).getOrElse(-1L)
        reports.synchronized(reports += Progress(at, end, e.progress))
      }
    }
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val chunks = evs.grouped(EventsPerTick).toIndexedSeq
    val sends = ArrayBuffer.empty[Double]
    var lateMax = 0.0
    var lateEvents = 0
    def finished = reports.synchronized(reports.count(_.p.numInputRows > 0))
    spark.streams.addListener(listener)
    val (_, window) = tracer.span("ingest", name) { parent =>
      val q = ImporterStream.start(spark, mem.toDF().toDF("file_url", "instance_id"),
        dims, codeLists, sinks.outDir, dir.resolve("checkpoint").toString)
      try {
        val t0 = tracer.now() + TickMs
        val it = chunks.iterator
        while (it.hasNext && finished < untilBatches) {
          val k = sends.size
          val due = t0 + k * TickMs
          val wait = due - tracer.now()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          val chunk = it.next()
          tracer.span("tick", s"$name#tick$k", parent)(_ => mem.addData(chunk))
          val late = tracer.now() - due
          lateMax = math.max(lateMax, late)
          if (late > TickMs) lateEvents += chunk.size
          sends += due
        }
        // wait for the batch that covers the last tick sent
        val deadline = System.nanoTime() + DrainTimeoutS * 1000000000L
        def covered = reports.synchronized(reports.exists(_.endOffset >= sends.size - 1))
        while (!covered && q.isActive && System.nanoTime() < deadline) Thread.sleep(20)
      } finally q.stop()
    }
    spark.streams.removeListener(listener)
    val progress = reports.synchronized(reports.toSeq)
    val sent = chunks.take(sends.size)
    val covering = Stats.coveringTimes(sent.size, progress.map(r => (r.endOffset, r.at)))
    val lat = ArrayBuffer.empty[Double]
    var uncovered = 0
    sent.indices.foreach { k =>
      covering(k) match {
        case Some(t) => lat ++= Seq.fill(sent(k).size)((t - sends(k)) / 1000.0)
        case None => uncovered += sent(k).size
      }
    }
    IngestRun(sent.map(_.size).sum, sent.size, window, lat.toSeq, uncovered, lateMax / 1000.0, lateEvents,
      progress, sends.toSeq, sinks)
  }

  /** Exactly-once checks on a finished run; returns the number of events
    * whose expected outcome is missing, duplicated or wrong.
    */
  def failures(r: IngestRun, evs: Seq[(String, String)]): Int = {
    import spark.implicits._
    val validIds = evs.collect { case (_, id) if id.nonEmpty => id }.distinct
    val badUrls = evs.collect { case (url, "") => url }

    val completed = spark.read.parquet(r.sinks.completed).select("instance_id").as[String].collect().toSeq
    val completedCounts = completed.groupBy(identity).map { case (k, v) => k -> v.size }
    val completedBad = validIds.count(id => completedCounts.getOrElse(id, 0) != 1) +
      (completedCounts.keySet -- validIds).size

    val errors = spark.read.parquet(r.sinks.errors).select("file_url", "err_context").as[(String, String)]
      .collect().toSeq
    val deadCounts = errors.collect { case (url, "unable to process message") => url }
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val errorsBad = badUrls.count(u => deadCounts.getOrElse(u, 0) != 1) +
      (deadCounts.keySet -- badUrls).size +
      errors.count(_._2 != "unable to process message")

    // updates must equal the batch pipeline over the same events, instance by instance
    val ids = validIds.toDF("instance_id")
    val expected = optionUpdates(
      withOrder(dedupOptions(validDimensions(dims)).join(ids, Seq("instance_id"), "left_semi"), codeLists),
      enablePatchNodeId = true)
    val actual = spark.read.parquet(r.sinks.updates).select(expected.columns.map(col).toIndexedSeq: _*)
    def perInstance(df: DataFrame) = df.groupBy("instance_id").agg(
      count(lit(1)).as("n"),
      sum(xxhash64(expected.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")).as("h"))
    val updatesBad = perInstance(expected).as("e")
      .join(perInstance(actual).as("a"), Seq("instance_id"), "full_outer")
      .where(not(col("e.n") <=> col("a.n")) || not(col("e.h") <=> col("a.h")))
      .count().toInt

    math.min(evs.size, r.uncovered + completedBad + errorsBad + updatesBad)
  }
}

object IngestStream {
  /** Offered rate: 50 events/s, as one `addData` of 10 events per 200 ms
    * tick. Feeding once per event instead makes every micro-batch a union of
    * hundreds of MemoryStream entries and measures the generator, not the
    * program.
    */
  val TickMs = 200
  val EventsPerTick = 10
  def ratePerS: Double = EventsPerTick * 1000.0 / TickMs
  val DrainTimeoutS = 60L
  /** Non-empty micro-batches the warm-up stream runs. The first is cold
    * (about 10 s on 4 cores); per-batch times keep falling for several
    * more, and each one costs setup time in every run.
    */
  val WarmupBatches = 4

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def countFiles(dir: String, suffix: String): Int = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) 0
    else Files.walk(p).iterator().asScala.count(f => f.getFileName.toString.endsWith(suffix))
  }
}
