package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Debezium-style CDC envelope modeling (SURVEY.md §2.1 A1-A3, A5, B3).
  *
  * The wire model mirrors the reference's source connector output
  * (reference: start-source-connector.sh:93-96 — `ExtractNewRecordState`,
  * `delete.handling.mode=rewrite`, `drop.tombstones=false`;
  * TOMBSTONE_HANDLING_GUIDE.md:11-14): every change is a
  * (key, envelope, offset) record where the envelope carries
  * before/after images + op; a DELETE additionally emits a raw tombstone —
  * the SAME key with a NULL envelope — one offset later.
  *
  * Nothing here requires a live Kafka: the envelope is just a DataFrame
  * shape (`kafka_key` struct, nullable `kafka_value` struct, `offset`
  * long), producible from any source; [[envelopeFromEvents]] builds it
  * from the `events` fixture for tests/queries, a Kafka reader would
  * build it from `key`/`value`/`offset` columns identically.
  */
object Cdc {

  /** A5: Debezium topic routing — `topic.prefix=mssql` →
    * `mssql.MoviesDB.cso.movies` (start-source-connector.sh:101,
    * README.md:46-50). */
  def topicName(prefix: String, db: String, schema: String, table: String): String =
    s"$prefix.$db.$schema.$table"

  /** B4: output/sink topic spec — the transformed table's
    * `KAFKA_TOPIC='...', PARTITIONS=1` WITH-clause
    * (ksql-transformations/01-movies-transform.sql:29-35). Applying it
    * repartitions the changelog to the declared partition count (the
    * ordering-simplicity knob the reference sets to 1) and tags rows with
    * the destination topic; a Kafka writer maps the tag to its `topic`
    * option, the offline tests map it to output directories. */
  case class TopicSpec(topic: String, partitions: Int = 1)

  def routeToTopic(df: DataFrame, spec: TopicSpec): DataFrame =
    df.repartition(spec.partitions).withColumn("__topic", lit(spec.topic))

  /** A1 (snapshot half): the initial-snapshot JDBC read
    * (`snapshot.mode=initial`, start-source-connector.sh:90) — a
    * configured `spark.read` JDBC scan with key-range partitioning so
    * the snapshot parallelizes across executors. `load()` is the only
    * untestable step in this environment (no database); everything up to
    * it is plain configuration. */
  def jdbcSnapshotReader(
      spark: org.apache.spark.sql.SparkSession,
      url: String,
      table: String,
      partitionColumn: String,
      lowerBound: Long,
      upperBound: Long,
      numPartitions: Int,
      props: Map[String, String] = Map.empty): org.apache.spark.sql.DataFrameReader = {
    val reader = spark.read
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
    props.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
  }

  /** Build the CDC envelope stream from the `events` changelog fixture
    * (input: Tables.withTsMicros(Tables.events(...))).
    *
    * Per event: op = c/u/d from `event_type`; inserts/updates carry the
    * payload as `after`, deletes as `before` (Debezium's delete record
    * carries the old image). Each delete is followed by its raw tombstone
    * (NULL `kafka_value`) at the next offset — `offset = 2*event_id (+1)`
    * keeps the emission order total and deterministic.
    */
  def envelopeFromEvents(events: DataFrame): DataFrame = {
    val payload = struct(
      col("event_id"), col("ts_us"), col("event_type"), col("value"), col("props"))
    val isDel = col("event_type") === "delete"
    val rewrite = events.select(
      struct(col("user_id")).as("kafka_key"),
      struct(
        when(isDel, payload).as("before"),
        when(!isDel, payload).as("after"),
        when(isDel, lit("d")).when(col("event_type") === "insert", lit("c"))
          .otherwise(lit("u")).as("op"),
        (col("ts_us") / 1000L).cast("long").as("ts_ms")).as("kafka_value"),
      (col("event_id") * 2).as("offset"))
    val valueType = rewrite.schema("kafka_value").dataType
    val tombstones = events
      .filter(isDel)
      .select(
        struct(col("user_id")).as("kafka_key"),
        lit(null).cast(valueType).as("kafka_value"),
        (col("event_id") * 2 + 1).as("offset"))
    rewrite.unionByName(tombstones)
  }

  /** A2+A3: `ExtractNewRecordState` with `delete.handling.mode=rewrite` —
    * flatten the surviving image (after, else before) and append the
    * `__deleted` marker column; tombstones (NULL envelope) pass through as
    * (key, NULL record) rows unless `dropTombstones` (the SMT's
    * `drop.tombstones=true`) is set.
    *
    * Output: `kafka_key` struct, nullable `record` struct
    * (image fields + `__deleted`), `offset`.
    */
  def unwrap(envelope: DataFrame, dropTombstones: Boolean = false): DataFrame = {
    val v = col("kafka_value")
    val img = coalesce(v.getField("after"), v.getField("before"))
    val record = when(
      v.isNotNull,
      img.withField(
        "__deleted",
        when(v.getField("op") === "d", lit("true")).otherwise(lit("false"))))
    val out = envelope.select(col("kafka_key"), record.as("record"), col("offset"))
    if (dropTombstones) out.filter(col("record").isNotNull) else out
  }

  /** Tombstone predicate on the unwrapped stream: a raw tombstone OR a
    * rewrite record flagged `__deleted` — either must remove the key
    * (C2 semantics, TOMBSTONE_HANDLING_GUIDE.md:219-228). */
  def isDeletion(record: Column): Column =
    record.isNull || record.getField("__deleted") === "true"

  /** The full source→state path: envelope → unwrap → keyed changelog
    * apply (B1+B3+C2) — current live state, one flat row per key tuple.
    * `keyFields` are the key fields inside `kafka_key` (composite PKs
    * supported, mirroring the streaming facade's
    * [[graft.streaming.ReplicationPipeline]] — this is its BATCH replay
    * analog, and the two accept the same SCALAR key shapes).
    *
    * One DELIBERATE asymmetry (r20): this batch path groups by the key
    * COLUMNS themselves — Spark's grouping is value-based for every
    * type, binary included — while the streaming facade's changelog
    * state stringifies key components and therefore REJECTS
    * binary/array/map/struct key fields at `start()`. A key shape that
    * works here but fails there is the gate doing its job, not drift:
    * do not validate a non-scalar-keyed topic with this replay and
    * expect the facade to accept it. */
  def applyEnvelope(envelope: DataFrame, keyFields: Seq[String]): DataFrame = {
    require(keyFields.nonEmpty, "applyEnvelope needs at least one key field")
    val flat = unwrap(envelope)
      .select(keyFields.map(k => col(s"kafka_key.$k").as(k)) ++
        Seq(col("record"), col("offset")): _*)
    graft.ops.Changelog
      .applyChangelog(flat, keyFields, col("offset"), isDeletion(col("record")))
      .select(keyFields.map(col) ++ flat.schema("record").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames
        // a record image that carries its own PK (the normal Debezium
        // ExtractNewRecordState shape) must not duplicate the key
        // column — same case-insensitive exclusion as the streaming
        // facade's flatten (r19 review finding)
        .filterNot(f => f == "__deleted" || keyFields.exists(_.equalsIgnoreCase(f)))
        .map(f => col(s"record.$f")).toSeq: _*)
  }
}
