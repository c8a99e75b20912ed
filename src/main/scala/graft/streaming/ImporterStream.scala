package graft.streaming

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkJobs.named
import graft.model.Schemas.ProcessedSchema
import graft.operators.ImporterPipeline._
import graft.sinks.LocalParquet

/** Streaming shell for the importer pipeline (SURVEY.md §2.6): the same
  * batch DAG applied per micro-batch under `foreachBatch`, with
  *   - idempotency (ST1): each valid event is looked up in the query's
  *     in-memory set of processed instance ids ([[ProcessedIds]]), as the
  *     reference's per-event InstanceExists lookup does; no relation is
  *     built over the set. The reference is at-most-once; Spark is
  *     at-least-once, so the lookup makes redelivery harmless. The
  *     `processed_instances` table is the durable copy of the set.
  *   - dead-letter side output (ST4): invalid events appended to an errors
  *     table instead of being dropped; a batch with none writes nothing.
  *   - multi-sink fan-out: updates + completed + errors parquet files per
  *     micro-batch (stand-ins for graph DB, Kafka out, report topic),
  *     written from the driver (see [[processBatch]]).
  *
  * In production the source would be `spark.readStream.format("kafka")` +
  * `from_avro(value, schema)` (reference `schema/schema.go:7-26`); tests
  * drive the identical DAG with a MemoryStream — the pipeline only sees a
  * DataFrame of (file_url, instance_id).
  *
  * No fixed trigger: Spark's default starts the next micro-batch as soon as
  * the previous one ends and data is waiting, as the reference handles
  * each message once its consumer pulls it (message/consumer.go:24-56).
  * An event then waits for the batch in flight, not for a trigger.
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
  *
  * Processed-instance lifetime: the same as the static side's. The first
  * batch reads `processed_instances` once; each batch adds its ids after
  * its `processed` append succeeds; any failed batch drops the set beside
  * the static side, so the next batch reads the table again. Between
  * failures the set equals the table as long as no other query appends to
  * the same `processed_instances`; a restart reads the table.
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
        val s = named(dims.sparkSession, "importer static side") {
          optionUpdates(withOrder(dedupOptions(validDimensions(dims)), codeLists),
            enablePatchNodeId = true).localCheckpoint()
        }
        snapshot = Some(s)
        s
      }
    }

    /** Forget the snapshot, so the next [[get]] derives it again (a lost
      * checkpoint block must not fail every later batch).
      */
    def drop(): Unit = synchronized { snapshot = None }
  }

  /** One query's processed-instance ids: the `processed` table read once,
    * on the query's first batch, then extended in memory with the ids each
    * batch marks. The batch's idempotency check tests against this set
    * instead of listing and scanning the table, which gains a file every
    * batch. The table stays the durable record, read again by the next
    * query life and after any failed batch ([[drop]]).
    */
  final class ProcessedIds(path: String) {
    private var snapshot: Option[Set[String]] = None

    def get(spark: SparkSession): Set[String] = synchronized {
      snapshot.getOrElse {
        val p = new Path(path)
        // Hadoop FileSystem, not java.nio: `outDir` may be a `file:`,
        // `hdfs:` or `s3a:` URI. Declared schema: a directory with no data
        // files yet reads as empty instead of failing inference.
        val s =
          if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
            named(spark, "importer processed-instance seed") {
              spark.read.schema(ProcessedSchema).parquet(path).collect().map(_.getString(0)).toSet
            }
          else Set.empty[String]
        snapshot = Some(s)
        s
      }
    }

    /** Add the ids a batch has just appended to the table. */
    def add(ids: Iterable[String]): Unit = synchronized { snapshot = snapshot.map(_ ++ ids) }

    /** Forget the snapshot, so the next [[get]] reads the table again. */
    def drop(): Unit = synchronized { snapshot = None }
  }

  /** One micro-batch: read the batch → validate → look up processed → the
    * static side's updates for the new instances → sinks. Public so tests
    * can drive a single batch synchronously.
    *
    * Two Spark jobs per batch: one collect reads the batch (`importer
    * batch`), and one collects its updates from the static side (`importer
    * updates`). The Spark driver holds one batch's rows, as many as the
    * source delivers per trigger (a Kafka source bounds that with its own
    * `maxOffsetsPerTrigger`), and that batch's update rows, as the
    * reference holds an instance's whole dimension list before inserting it
    * (client/dimensions_api.go:82-97). Validation, the dead-letter check and
    * the processed lookup run on the collected rows and start no job. A
    * failed read leaves `processBatch` and marks nothing.
    *
    * Sink contract: every sink is written from the driver, one parquet
    * file per sink per batch ([[graft.sinks.LocalParquet]]: a hidden
    * temporary name, then a rename), with no Spark write job; the outputs
    * are tens to hundreds of rows. `updates`/`completed` are written to a
    * `run=<runNs>/batch_id=<id>` subdirectory with overwrite, so a
    * same-checkpoint redelivery of a partially-written batch (a crash
    * between its writes) REPLACES the partial output instead of appending
    * a duplicate. `runNs` is checkpoint-persisted
    * ([[graft.operators.IngestRun]]), so a fresh checkpoint (whose batch
    * ids restart at 0) lands in its own namespace and never clobbers a
    * previous life's output on shared sinks.
    *
    * The writes run in sequence: dead letters first, before anything that
    * can fail, then `updates`, `completed` and, last, `processed`. A
    * failure anywhere after the dead letters leaves the events unmarked,
    * and the failed delivery deletes its own `run=/batch_id=` output: the
    * redelivery comes under a new batch id, so output left behind would
    * land twice. A failed dead-letter write leaves `processBatch` with its
    * exception, before any other write.
    *
    * A replay whose events are ALL already processed (the crash landed
    * between the processed write and the checkpoint commit) writes
    * nothing at all — overwriting with the empty lookup result would
    * wipe the batch's previously-committed output — and so has no output
    * of its own to delete. The `errors` sink stays append-per-delivery —
    * duplicate error reports on redelivery are harmless and match the
    * reference's report-then-commit consumer
    * (message/kafka_message_receiver.go:44-50).
    */
  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      side: StaticSide,
      processed: ProcessedIds,
      sinks: Sinks,
      runNs: String,
      batchId: Long): Unit = {
    // the only job that reads the source: everything below works on this
    // local relation, whose filters and projections Catalyst folds into it
    // (`ConvertToLocalRelation`), so reading them back starts no job
    val events = spark.createDataFrame(
      named(spark, "importer batch")(batch.collect()).toSeq.asJava, batch.schema)
    val valid = validEvents(events)

    // dead letters first: their rows must reach the errors sink even if the
    // pipeline body fails
    val dead = deadLetters(events)
    val deadRows = dead.collect()
    if (deadRows.nonEmpty) LocalParquet.write(spark, sinks.errors, dead.schema, deadRows.toSeq, overwrite = false)
    // this delivery's per-batch outputs, once their writes have started
    var outputs = Seq.empty[String]
    // the batch's new events; every sink below and the error report read
    // this local relation
    var fresh: Option[DataFrame] = None
    try {
      // the reference's per-event InstanceExists lookup against the query's
      // set, then newInstanceEvents' distinct over (file_url, instance_id)
      val known = processed.get(spark)
      val pairs = valid.select(col("file_url"), col("instance_id"))
      val rows = pairs.collect().filterNot(r => known(r.getAs[String]("instance_id"))).distinct
      val newEvents = spark.createDataFrame(rows.toSeq.asJava, pairs.schema)
      fresh = Some(newEvents)
      // NO new events → nothing to write, and CRITICALLY no overwrite: a
      // replay that lands after the processed write succeeded but before
      // the checkpoint committed re-enters here with every event already
      // in the set, and an unconditional overwrite would WIPE the
      // batch's previously-written updates/completed output with empty
      // frames. No new events is exactly that replay (or a batch with no
      // valid event, where there is nothing to write either way).
      val ids = rows.map(_.getAs[String]("instance_id"))
      if (ids.nonEmpty) {
        // a literal set, not a join: a broadcast of the ids would cost a job
        val updates = side.get.where(col("instance_id").isin(ids.distinct.toIndexedSeq: _*))
        val updateRows = named(spark, "importer updates")(updates.collect())
        val updatesDir = s"${sinks.updates}/run=$runNs/batch_id=$batchId"
        val completedDir = s"${sinks.completed}/run=$runNs/batch_id=$batchId"
        outputs = Seq(updatesDir, completedDir)
        LocalParquet.write(spark, updatesDir, updates.schema, updateRows.toSeq, overwrite = true)
        val completed = completedEvents(newEvents)
        LocalParquet.write(spark, completedDir, completed.schema, completed.collect().toSeq, overwrite = true)
        // processed is written LAST: a failure in any write above leaves
        // the events unmarked, so redelivery retries them (at-least-once)
        LocalParquet.write(spark, sinks.processed, ProcessedSchema, ids.map(Row(_)).toSeq, overwrite = false)
        processed.add(ids)
      }
    } catch {
      // Reference message/kafka_message_receiver.go:44-50: ANY handler
      // error notifies the error-reporter topic — not just validation
      // failures. Record one error row per affected event and CONTINUE
      // (the reference commits the message after reporting, so a poison
      // batch never wedges the consumer); the events stay out of
      // `processed`, so a later redelivery retries them.
      case NonFatal(e) =>
        // the redelivery comes under a new batch id, so this delivery's
        // partial per-batch output must not outlive it
        outputs.foreach { d =>
          val p = new Path(d)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        }
        side.drop()
        processed.drop()
        val error = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(512)
        // without the new events (e.g. the processed table is unreadable),
        // report the raw batch events so the failure is still visible
        val (reported, context) = fresh match {
          case Some(df) => (df, "failed to process instance batch")
          case None => (valid, "failed to read processed-instances state")
        }
        val report = reported.select(
          col("file_url"), col("instance_id"),
          lit(context).as("err_context"),
          lit(error).as("error"))
        LocalParquet.write(spark, sinks.errors, report.schema, report.collect().toSeq, overwrite = false)
    }
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
    val processed = new ProcessedIds(sinks.processed)
    eventsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(spark, batch, side, processed, sinks, runNs, id)
      }
      .start()
  }
}
