package graft.model

/** Typed row models for the importer domain.
  *
  * These mirror the reference's data shapes (see SURVEY.md §1):
  *   - events: reference `event/events.go:4-13` (`NewInstance` /
  *     `InstanceCompleted`, both `{file_url, instance_id}`).
  *   - dimension rows: reference `model/models.go:13-34` (`DimensionID`,
  *     `Option`, `NodeID`, `code_list_id` extracted from nested
  *     `Links.CodeList.ID`, nullable `Order`).
  *   - instance: reference `model/models.go:72-87` (`InstanceID`,
  *     `CSVHeader []string`).
  *   - graph output: reference `store/store.go:14-25` modeled as node/edge
  *     DataFrames (GraphFrames-compatible shape).
  *
  * Case classes give `Dataset[T]` encoders where type safety helps; the
  * pipeline itself is DataFrame-first so Catalyst sees a fully declarative
  * plan (column pruning + predicate pushdown reach the parquet scans).
  */
final case class NewInstanceEvent(file_url: String, instance_id: String)

final case class InstanceCompletedEvent(file_url: String, instance_id: String)

/** One dimension option row; `order` is nullable on purpose — `None` means
  * "no canonical order defined" and downstream updates must stay partial
  * (reference `handler/incoming_instance_handler.go:250-266`).
  */
final case class DimensionRow(
    instance_id: String,
    dimension_id: String,
    option: String,
    node_id: String,
    code_list_id: String,
    order: Option[Int])

final case class InstanceRow(instance_id: String, csv_header: Seq[String])

final case class CodeListEntry(code_list_id: String, code: String, ord: Option[Int])

/** PATCH payload row (reference `client/dimensions_api.go:100-105`); rows
  * where both `node_id` is empty and `ord` is null are dropped before the
  * sink (reference `handler/incoming_instance_handler.go:243-267`).
  */
final case class OptionUpdate(
    instance_id: String,
    name: String,
    option: String,
    node_id: String,
    ord: Option[Int])

/** Graph node in GraphFrames-compatible shape. `props` is kept as a flat
  * string (k=v CSV) rather than MapType so results stay hash-comparable
  * across engines.
  */
final case class GraphNode(id: String, label: String, props: String)

final case class GraphEdge(src: String, dst: String, rel_type: String)

/** Dead-letter record (reference `message/kafka_message_receiver.go:44-50`). */
final case class DeadLetter(instance_id: String, err_context: String, error: String)

/** Declared schemas of the parquet fixture tables (TESTDATA.md) and of the
  * streaming path's processed-instances state.
  *
  * Reading parquet without a schema makes Spark infer one, and inference is
  * a Spark job that opens file footers, paid again on every DataFrame built
  * from the table. A declared schema costs no job, in the way the
  * reference declares its event schema once (`schema/schema.go:7-26`)
  * instead of discovering it per message.
  * `DeclaredSchemaSpec` checks each declaration against the schema Spark
  * infers from the files, so drift fails by table name.
  *
  * Every field is nullable: Spark reads all parquet columns as nullable, so
  * a non-null declaration would not match the inferred schema. The
  * `timestamp[us]` columns carry no time zone and read as
  * `TimestampNTZType`.
  */
object Schemas {
  import org.apache.spark.sql.types._

  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (name, t) => StructField(name, t) })

  val Customer: StructType = struct(
    "c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
    "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType)

  val Documents: StructType = struct(
    "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
    "source" -> StringType, "n_chars" -> LongType)

  val Embeddings: StructType = struct(
    "vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType)

  val Events: StructType = struct(
    "event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
    "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType)

  val Lineitem: StructType = struct(
    "l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
    "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
    "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
    "l_returnflag" -> StringType, "l_linestatus" -> StringType,
    "l_shipdate" -> TimestampNTZType)

  val Nation: StructType = struct(
    "n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType)

  val Orders: StructType = struct(
    "o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
    "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType,
    "o_orderpriority" -> StringType)

  val Part: StructType = struct(
    "p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
    "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType)

  val Region: StructType = struct("r_regionkey" -> IntegerType, "r_name" -> StringType)

  val Supplier: StructType = struct(
    "s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
    "s_acctbal" -> DoubleType)

  /** `events` as earlier generators wrote it: `ts` a bare int64 of epoch
    * nanoseconds (see `RelationalOps.eventsTable`).
    */
  val EventsNanos: StructType = Events.copy(fields = Events.fields.map(f =>
    if (f.name == "ts") f.copy(dataType = LongType) else f))

  /** The fixture tables by file name (`<dir>/<name>.parquet`). */
  val FixtureTables: Map[String, StructType] = Map(
    "customer" -> Customer, "documents" -> Documents, "embeddings" -> Embeddings,
    "events" -> Events, "lineitem" -> Lineitem, "nation" -> Nation,
    "orders" -> Orders, "part" -> Part, "region" -> Region, "supplier" -> Supplier)

  def fixture(name: String): StructType =
    FixtureTables.getOrElse(name, throw new IllegalArgumentException(
      s"no declared schema for fixture table '$name'; declared: " +
        FixtureTables.keys.toSeq.sorted.mkString(", ")))

  /** `ImporterStream`'s processed-instances state table. */
  val ProcessedSchema: StructType = struct("instance_id" -> StringType)
}
