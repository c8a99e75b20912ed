package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Schemas.ProcessedSchema
import graft.operators.ImporterPipeline._

/** Streaming shell for the importer pipeline (SURVEY.md §2.6): the same
  * batch DAG applied per micro-batch under `foreachBatch`, with
  *   - idempotency (ST1): stream-static anti-join against the accumulated
  *     processed-instances table — the reference is at-most-once and relies
  *     on its InstanceExists check; Spark is at-least-once, so the same
  *     anti-join makes redelivery harmless.
  *   - dead-letter side output (ST4): invalid events appended to an errors
  *     table instead of being dropped.
  *   - multi-sink fan-out: updates + completed + errors parquet appends per
  *     micro-batch (stand-ins for graph DB, Kafka out, report topic).
  *
  * In production the source would be `spark.readStream.format("kafka")` +
  * `from_avro(value, schema)` (reference `schema/schema.go:7-26`); tests
  * drive the identical DAG with a MemoryStream — the pipeline only sees a
  * DataFrame of (file_url, instance_id).
  *
  * Static side lifetime: the dimension side (`dims` → valid → dedup →
  * order lookup → update filter) is derived once per streaming query, on
  * the first batch with new instances, and each batch semi-joins that
  * snapshot down to its new instances ([[StaticSide]]). The snapshot is
  * fixed for the query's life, just as a file-backed `dims` is already
  * fixed by the file listing `spark.read` captured when the frame was
  * built; a restart picks up new dimensions, and the checkpoint keeps the
  * restart exactly once. Any failed batch drops the snapshot, so the next
  * batch derives it again.
  */
object ImporterStream {

  /** Paths for the accumulating output tables. */
  final case class Sinks(outDir: String) {
    val processed: String = s"$outDir/processed_instances"
    val updates: String = s"$outDir/updates"
    val completed: String = s"$outDir/completed"
    val errors: String = s"$outDir/errors"
  }

  /** One query's static side: every option update the dimensions yield,
    * `optionUpdates(withOrder(dedupOptions(validDimensions(dims)), codeLists))`,
    * derived on first use and materialized with `localCheckpoint()`.
    * Filtering by instance after the dedup gives the same rows as before
    * it: the order lookup is a left-outer join and the update filter works
    * row by row.
    *
    * Derived lazily, not when the query starts: Catalyst may evaluate a
    * local `dims` while planning, and a failure there must reach the
    * batch's error handling, not escape `start`. No `persist`: a
    * `CacheManager` entry would outlive the query and could be matched by
    * other queries' plans.
    */
  final class StaticSide(dims: DataFrame, codeLists: DataFrame) {
    private var snapshot: Option[DataFrame] = None

    def get: DataFrame = synchronized {
      snapshot.getOrElse {
        val s = optionUpdates(withOrder(dedupOptions(validDimensions(dims)), codeLists),
          enablePatchNodeId = true).localCheckpoint()
        snapshot = Some(s)
        s
      }
    }

    /** Forget the snapshot, so the next [[get]] derives it again (a lost
      * checkpoint block must not fail every later batch).
      */
    def drop(): Unit = synchronized { snapshot = None }
  }

  /** One micro-batch: validate → anti-join processed → the static side's
    * updates for the new instances → sinks. Public so tests can drive a
    * single batch synchronously.
    *
    * Sink contract: `updates`/`completed` are written to a
    * `run=<runNs>/batch_id=<id>` subdirectory with overwrite, so a
    * same-checkpoint redelivery of a partially-written batch (e.g.
    * `updates` landed but `completed` failed) REPLACES the partial output
    * instead of appending a duplicate — the idempotency the
    * processed-table anti-join alone cannot provide, because a failure
    * after the first sink write leaves the events unmarked. `runNs` is
    * checkpoint-persisted ([[graft.operators.IngestRun]]), so a fresh
    * checkpoint (whose batch ids restart at 0) lands in its own namespace
    * and never clobbers a previous life's output on shared sinks. A
    * replay whose events are ALL already processed (the crash landed
    * between the processed write and the checkpoint commit) writes
    * nothing at all — overwriting with the empty anti-join result would
    * wipe the batch's previously-committed output. The
    * `errors` sink stays append-per-delivery — duplicate error reports on
    * redelivery are harmless and match the reference's
    * report-then-commit consumer (message/kafka_message_receiver.go:44-50).
    */
  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      side: StaticSide,
      sinks: Sinks,
      runNs: String,
      batchId: Long): Unit = {
    val valid = validEvents(batch)
    val dead = deadLetters(batch)

    // declared schema: the table grows every batch, and inferring it would
    // cost a footer-reading Spark job per micro-batch; a directory with no
    // data files yet reads as empty instead of failing inference
    val existing =
      if (Files.exists(Paths.get(sinks.processed)))
        spark.read.schema(ProcessedSchema).parquet(sinks.processed)
      else
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], ProcessedSchema)

    val newInst = newInstanceEvents(valid, existing)
    // cache: newInst feeds three sinks; without it the anti-join against
    // the growing processed table would run once per sink.
    newInst.cache()
    // validation dead-letters first: they must reach the errors sink even
    // if the pipeline body below fails.
    dead.write.mode("append").parquet(sinks.errors)
    try {
      // NO new events → nothing to write, and CRITICALLY no overwrite: a
      // replay that lands after the processed write succeeded but before
      // the checkpoint committed re-enters here with every event filtered
      // by the anti-join, and an unconditional overwrite would WIPE the
      // batch's previously-written updates/completed output with empty
      // frames. Empty newInst is exactly that replay (or a genuinely
      // empty trigger, where there is nothing to write either way).
      if (!newInst.isEmpty) {
        val updates = side.get
          .join(broadcast(newInst.select("instance_id")), Seq("instance_id"), "left_semi")

        updates.write.mode("overwrite")
          .parquet(s"${sinks.updates}/run=$runNs/batch_id=$batchId")
        completedEvents(newInst).write.mode("overwrite")
          .parquet(s"${sinks.completed}/run=$runNs/batch_id=$batchId")
        // processed is written LAST: a failure anywhere above leaves the
        // events unmarked, so redelivery retries them (at-least-once).
        newInst.select("instance_id").write.mode("append").parquet(sinks.processed)
      }
    } catch {
      // Reference message/kafka_message_receiver.go:44-50: ANY handler
      // error notifies the error-reporter topic — not just validation
      // failures. Record one error row per affected event and CONTINUE
      // (the reference commits the message after reporting, so a poison
      // batch never wedges the consumer); the events stay out of
      // `processed`, so a later redelivery retries them.
      case scala.util.control.NonFatal(e) =>
        side.drop()
        val error = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(512)
        try
          newInst
            .select(
              col("file_url"), col("instance_id"),
              lit("failed to process instance batch").as("err_context"),
              lit(error).as("error"))
            .write.mode("append").parquet(sinks.errors)
        catch {
          // computing newInst itself is what failed (e.g. the processed
          // table is unreadable): fall back to the raw batch events so the
          // failure is still visible in the errors table.
          case scala.util.control.NonFatal(_) =>
            valid
              .select(
                col("file_url"), col("instance_id"),
                lit("failed to read processed-instances state").as("err_context"),
                lit(error).as("error"))
              .write.mode("append").parquet(sinks.errors)
        }
    } finally newInst.unpersist()
  }

  /** Start the streaming query over an events stream DataFrame. */
  def start(
      spark: SparkSession,
      eventsStream: DataFrame,
      dims: DataFrame,
      codeLists: DataFrame,
      outDir: String,
      checkpoint: String): StreamingQuery = {
    val sinks = Sinks(outDir)
    val runNs = graft.operators.IngestRun.runId(spark, checkpoint)
    val side = new StaticSide(dims, codeLists)
    eventsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(spark, batch, side, sinks, runNs, id)
      }
      .start()
  }
}
