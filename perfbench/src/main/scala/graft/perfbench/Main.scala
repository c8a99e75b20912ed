package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one benchmark workload in this process and writes its result.
  *
  * {{{
  * Main --workload <importer_queries|ingest_stream> --seed <n>
  *      --seconds <s> --trace <0|1> --data <sf dir> --warm-data <smaller sf dir>
  *      --work <dir> --out <result.json> (--expected | --pin) <digests.json>
  * }}}
  *
  * `--trace 0` reports the end-to-end metrics. `--trace 1` measures three
  * times — untraced, traced, untraced — and reports the per-layer metrics
  * of the traced phase plus the tracing overhead: the traced value of the
  * workload's headline time minus the mean of the two untraced values
  * around it. The spans go to `<work>/spans-<workload>.json`. `--pin`
  * rewrites the query digests from the first measured pass instead of
  * checking against pinned ones.
  */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private type Metrics = Map[String, Map[String, Any]]

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean, sfDir: String, warmDir: String,
      work: Path, expected: Option[String], pin: Option[String])

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(arg("workload"), arg("seed").toLong, arg("seconds").toDouble, arg("trace") == "1",
      arg("data"), arg("warm-data"), Paths.get(arg("work")), kv.get("expected"), kv.get("pin"))
    Seq(a.sfDir, a.warmDir).foreach(d =>
      require(Files.isDirectory(Paths.get(d)), s"data directory $d does not exist"))
    Files.createDirectories(a.work)

    val spark = graft.Bench.session()
    val result =
      try a.workload match {
        case "importer_queries" => queries(spark, a)
        case "ingest_stream" => ingest(spark, a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    Files.write(Paths.get(arg("out")), json.writeValueAsBytes(result))
  }

  private def setupSeconds(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  private def metric(value: Double, unit: String) = Map[String, Any]("value" -> value, "unit" -> unit)

  /** `correct` is about the outputs alone; `failed` also counts operations
    * the runner itself could not offer on time.
    */
  private def result(attempted: Int, failed: Int, metrics: Metrics, correct: Boolean) =
    Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics)

  /** The end-to-end metrics, over the latencies of the workload's
    * operations: one per query (its median over the measured passes) or
    * one per event (due time to covering micro-batch). The tail is p90:
    * the events of one tick share a due time and a batch, so the samples
    * are the ticks (100 at 20 s), and p90 is the highest percentile with
    * ten of them beyond it.
    */
  private def endToEnd(setup: Double, latencies: Seq[Double], failed: Int, attempted: Int): Metrics = Map(
    "setup_s" -> metric(setup, "s"),
    "total_s" -> metric(latencies.sum, "s"),
    "latency_geomean_s" -> metric(Stats.geomean(latencies), "s"),
    "latency_p50_s" -> metric(Stats.median(latencies), "s"),
    "latency_p90_s" -> metric(Stats.percentile(latencies, 0.9), "s"),
    "ok_share" -> metric(1.0 - failed.toDouble / attempted, "share"))

  /** The untraced, traced, untraced phases of a traced run. The recorder
    * listens only while the traced phase runs, and the listener bus is
    * drained before it stops listening.
    */
  private def abaPhases[A](spark: SparkSession)(untraced: => A)(traced: Tracer => A)
      : (A, A, A, Tracer, JobRecorder, Metrics) = {
    val recorder = new JobRecorder
    spark.sparkContext.addSparkListener(recorder)
    val a1 = untraced
    val tracer = new Tracer(record = true)
    recorder.enabled = true
    JvmMeter.resetPeak()
    val gc0 = JvmMeter.gcSeconds()
    val b = traced(tracer)
    val jvm = Layers.jvm(JvmMeter.gcSeconds() - gc0, JvmMeter.heapPeakMb())
    var seen = -1
    while (recorder.size != seen) { seen = recorder.size; Thread.sleep(300) }
    recorder.enabled = false
    val a2 = untraced
    (a1, b, a2, tracer, recorder, jvm)
  }

  // ---------------------------------------------------------------- queries

  private def queries(spark: SparkSession, a: Args): Map[String, Any] = {
    val names = QueryLoop.Importer
    val rng = new scala.util.Random(a.seed)
    val loop = new QueryLoop(spark, a.sfDir, names)
    val untraced = new Tracer(record = false)
    // warm-up: one unmeasured pass over the same queries on the smallest
    // data set, charged to setup_s. Most of a query's cold cost (codegen,
    // JIT, first planning) does not depend on data size, so this pass takes
    // about 22 s where a cold pass on the measured data takes about 38 s
    // (4 cores).
    new QueryLoop(spark, a.warmDir, names).pass(0, rng, untraced)
    val setup = setupSeconds()

    val expected = a.expected.map(f => readPins(f, names)).getOrElse(Map.empty)
    def ok(r: QueryRun) = r.digest.nonEmpty && expected.get(r.name).forall(r.digest.contains)
    def checked(runs: Seq[QueryRun]) = {
      runs.filterNot(ok).foreach(r => System.err.println(s"[perfbench] ${r.name} pass ${r.pass}: " +
        r.error.getOrElse(s"digest ${r.digest} != pinned ${expected.get(r.name)}")))
      runs.count(r => !ok(r))
    }
    val n = math.max(1, math.round(a.seconds / QueryLoop.NominalPassS).toInt)
    def perPass(runs: Seq[QueryRun]) = runs.map(_.seconds).sum / n

    if (!a.trace) {
      val runs = loop.passes(n, 1, rng, untraced)
      a.pin.foreach(f => pin(f, runs.filter(_.pass == 1)))
      val failed = checked(runs)
      val byName = runs.groupBy(_.name).map { case (n, rs) => n -> Stats.median(rs.map(_.seconds)) }
      System.err.println("[perfbench] query medians (s): " +
        json.writeValueAsString(scala.collection.immutable.TreeMap(byName.toSeq: _*)))
      return result(runs.size, failed, endToEnd(setup, byName.values.toSeq, failed, runs.size), failed == 0)
    }

    var next = 1
    def passes(t: Tracer) = { val rs = loop.passes(n, next, rng, t); next += n; rs }
    val (a1, b, a2, tracer, recorder, jvm) = abaPhases(spark)(passes(untraced))(passes)
    val overhead = perPass(b) - (perPass(a1) + perPass(a2)) / 2
    writeSpans(a, tracer.spans.toSeq, recorder, overhead)
    val failed = checked(b)
    result(b.size, failed,
      Layers.queries(b, recorder, spark.sparkContext.defaultParallelism, n) ++
        jvm ++ Map("trace.overhead_s" -> metric(overhead, "s")), failed == 0)
  }

  private def pin(file: String, runs: Seq[QueryRun]): Unit = {
    val pins = runs.map(r => r.name -> r.digest.map(d => Map("rows" -> d.rows, "hash" -> d.hash))
      .getOrElse(throw new IllegalStateException(s"${r.name} failed: ${r.error.getOrElse("")}")))
    val old = scala.util.Try(json.readValue(Files.readAllBytes(Paths.get(file)), classOf[Map[String, Any]]))
      .getOrElse(Map.empty[String, Any])
    Files.write(Paths.get(file), json.writerWithDefaultPrettyPrinter().writeValueAsBytes(
      scala.collection.immutable.TreeMap((old ++ pins).toSeq: _*)))
  }

  private def readPins(file: String, names: Seq[String]): Map[String, Digest] = {
    val tree = json.readTree(Files.readAllBytes(Paths.get(file)))
    names.map(n => n -> Option(tree.get(n)).map(e => Digest(e.get("rows").asLong, e.get("hash").asText))
      .getOrElse(throw new IllegalStateException(s"no pinned digest for $n in $file"))).toMap
  }

  // ----------------------------------------------------------------- ingest

  private def ingest(spark: SparkSession, a: Args): Map[String, Any] = {
    val rng = new scala.util.Random(a.seed)
    val stream = new IngestStream(spark, a.sfDir, a.work)
    val untraced = new Tracer(record = false)
    // the run measures `seconds` of offered load; the warm-up takes its
    // events from the other end of the seeded order
    val shuffled = rng.shuffle(stream.events)
    val evs = shuffled.take(math.min(shuffled.size, (a.seconds * IngestStream.ratePerS).toInt))
    // warm-up: a separate stream with its own sinks, charged to setup_s
    stream.run("warmup", shuffled.drop(evs.size), untraced, untilBatches = IngestStream.WarmupBatches)
    val setup = setupSeconds()

    // wrong outputs fail the run's `correct`; events the generator sent more
    // than a tick late count as failed too, so a run in which the generator
    // fell behind shows in the result as correct with failed > 0
    def checked(r: IngestRun): (Int, Boolean) = {
      System.err.println(s"[perfbench] ${r.window.request} micro-batches (events@seconds): " +
        Layers.eventsPerBatch(r).zip(r.batches).map { case (n, b) =>
          f"$n%.0f@${b.durationS("triggerExecution")}%.2f" }.mkString(" "))
      if (r.lateEvents > 0)
        System.err.println(f"[perfbench] ${r.window.request}: the generator fell behind by up to " +
          f"${r.generatorLateMaxS}%.3f s and sent ${r.lateEvents} events late, so this run measured the " +
          "generator, not the program")
      val wrong = stream.failures(r, evs)
      (math.min(evs.size, wrong + r.lateEvents), wrong == 0)
    }
    def p50(r: IngestRun) = if (r.latencies.isEmpty) Double.NaN else Stats.median(r.latencies)

    if (!a.trace) {
      val r = stream.run("measured", evs, untraced)
      require(r.latencies.nonEmpty, "no micro-batch covered any event")
      val (failed, correct) = checked(r)
      return result(evs.size, failed, endToEnd(setup, r.latencies, failed, evs.size), correct)
    }

    val (a1, b, a2, tracer, recorder, jvm) =
      abaPhases(spark)(stream.run("measured", evs, untraced))(stream.run("traced", evs, _))
    val batchSpans = b.progress.zipWithIndex.map { case (p, i) => p.batchSpan(tracer.spans.size + i, b.window.id) }
    tracer.spans ++= batchSpans
    val overhead = p50(b) - (p50(a1) + p50(a2)) / 2
    writeSpans(a, tracer.spans.toSeq, recorder, overhead)
    val (failed, correct) = checked(b)
    result(evs.size, failed,
      Layers.ingest(b, batchSpans, recorder, spark, spark.sparkContext.defaultParallelism) ++
        jvm ++ Map("trace.overhead_s" -> metric(overhead, "s")), correct)
  }

  private def writeSpans(a: Args, spans: Seq[Span], recorder: JobRecorder, overhead: Double): Unit = {
    val out = Map(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "overhead_s" -> overhead,
      "spans" -> spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
        "start_ms" -> s.start, "end_ms" -> s.end)),
      "jobs" -> recorder.jobsIn(spans).map(j => Map(
        "id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end, "stages" -> j.stageNames)))
    Files.write(a.work.resolve(s"spans-${a.workload}.json"), json.writeValueAsBytes(out))
  }
}
