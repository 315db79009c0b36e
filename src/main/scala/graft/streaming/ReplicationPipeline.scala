package graft.streaming

import java.sql.Connection
import java.util.Locale

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.sink.JdbcMerge
import graft.sources.{AvroSerde, Cdc, KafkaWire, SchemaRegistry}

/** The reference's ENTIRE data path as one composable entry point
  * (SURVEY.md §3.1) — what a user of the reference actually deploys:
  *
  * {{{
  *   CDC envelope stream (Kafka/parquet/MemoryStream — any source that
  *     produces (kafka_key, kafka_value, offset), see Cdc/KafkaWire)
  *   → streaming keyed changelog TABLE        (B1/B3: latest per key,
  *                                             tombstones retained)
  *   → unwrap + uppercase projection          (A2/A3/B2: __deleted
  *                                             rewrite, ksqlDB's
  *                                             uppercase quirk)
  *   → JDBC upsert/delete merge sink          (C1-C4: MERGE, tombstone
  *                                             DELETE, auto-create,
  *                                             auto-evolve)
  * }}}
  *
  * Faithful to the reference sink's view of the world: the projected row
  * RETAINS the `__deleted` marker column (the transformed table projects
  * it, 01-movies-transform.sql:50, so the auto-created target has it
  * too), and a deletion is EITHER a raw tombstone (key, NULL record —
  * all projected columns NULL) or a rewrite record flagged
  * `__deleted='true'` (TOMBSTONE_HANDLING_GUIDE.md:213-228).
  *
  * Scale notes: the changelog state is per-key RocksDB exactly as in
  * [[ChangelogStream]]; the per-batch flatten/sink work is executor-side
  * (`foreachPartition` inside [[JdbcMerge.sink]]); the only driver-side
  * step is the once-per-batch auto-create/evolve DDL.
  */
object ReplicationPipeline {

  /** @param keyFields   the key fields inside `kafka_key`, in PRIMARY
    *                    KEY order (pk.mode=record_key, pk.fields — the
    *                    reference only ever needs the single
    *                    `pk.fields=ID`, start-sink-connector.sh:71, but
    *                    Connect's `pk.fields` is a LIST and Debezium
    *                    keys composite PKs as multi-field structs, so a
    *                    two-column-PK table must work too). Uppercased
    *                    on output like every projected column.
    *                    Single-key configs use the SAME changelog
    *                    state-key encoding as the pre-composite
    *                    pipeline ([[stateKey]]), so an existing
    *                    checkpoint restarts cleanly.
    * @param projectCols record fields to project (B2); empty = all
    * @param sink        JDBC sink knobs. `keyCols` is DERIVED — start()
    *                    always sets it to the uppercased `keyFields`, so
    *                    the key cannot be misstated in two places. */
  case class Config(
      keyFields: Seq[String],
      sink: JdbcMerge.Config,
      checkpointDir: String,
      projectCols: Seq[String] = Nil,
      trigger: Trigger = ChangelogStream.DefaultTrigger) {
    require(keyFields.nonEmpty, "Config.keyFields must name at least one key field")
    // case-INSENSITIVE distinctness: every key column is uppercased on
    // output, so ("id", "ID") would pass an exact check and then emit
    // duplicate columns + a doubled PRIMARY KEY
    require(
      keyFields.map(_.toUpperCase(Locale.ROOT)).distinct.size == keyFields.size,
      s"Config.keyFields repeats a field (key columns are uppercased on output): $keyFields")
  }

  /** Unwrap + key-preserving uppercase projection of one micro-batch of
    * envelope rows: KEY column first (always from `kafka_key` — a record
    * field with the key's name, the normal Debezium shape where the
    * record image contains its own id, is excluded so the output never
    * carries duplicate columns), then the record image columns plus
    * `__deleted` exactly once, all uppercased. Tombstones flatten to
    * (key, NULL…) rows — `__deleted` NULL is the tombstone marker the
    * sink predicate reads. */
  def flatten(batch: DataFrame, keyFields: Seq[String], projectCols: Seq[String] = Nil): DataFrame = {
    val unwrapped = Cdc.unwrap(batch)
    val recType = unwrapped.schema("record").dataType.asInstanceOf[StructType]
    val cols =
      (if (projectCols.nonEmpty) projectCols else recType.fieldNames.toSeq)
        // the marker exclusion must be case-insensitive like the key
        // exclusion: every output column is UPPERCASED, so a user
        // naturally writes projectCols from observed sink columns
        // ("__DELETED") — an exact-case check would emit the marker
        // twice (r19 review finding)
        .filterNot(c => c.equalsIgnoreCase("__deleted") ||
          keyFields.exists(_.equalsIgnoreCase(c))) :+ "__deleted"
    unwrapped.select(
      keyFields.map(k => col(s"kafka_key.$k").as(k.toUpperCase(Locale.ROOT))) ++
        cols.map(c => col(s"record.$c").as(c.toUpperCase(Locale.ROOT))): _*)
  }

  /** The sink-side deletion predicate over a flattened row: raw
    * tombstone (NULL `__DELETED` — the whole record was NULL) or a
    * rewrite record flagged true (C2 semantics — either must remove the
    * key). */
  def isDeletion(row: Row): Boolean = {
    val i = row.fieldIndex("__DELETED")
    row.isNullAt(i) || row.getString(i) == "true"
  }

  /** ksqlDB-style pull query against the RUNNING pipeline's own state:
    * the replicated table's current row for `key`, served from the
    * changelog query's RocksDB state — no round-trip to the target
    * database, freshness = the last committed micro-batch. Empty result
    * = key absent or deleted (tombstone semantics identical to the
    * sink's [[isDeletion]]).
    *
    * Served PARTITION-PRUNED when possible: the pipeline keys its state
    * by the key's STRING form ([[start]]'s `groupByKey`), so the lookup
    * routes by `murmur3(String.valueOf(key))` to the key's own state
    * partition and reads exactly one store
    * ([[PullQuery.prunedStateSnapshot]]); it falls back to the
    * distributed full scan when no snapshot is uploaded yet. Output is
    * the flattened uppercase sink row shape. */
  def pullQuery(spark: SparkSession, cfg: Config, key: Any): DataFrame =
    pullQuery(spark, cfg, Seq(key))

  /** Composite-key [[pullQuery]]: one value per `Config.keyFields`
    * entry, in the same order. */
  def pullQuery(spark: SparkSession, cfg: Config, keys: Seq[Any]): DataFrame =
    pullFilter(snapshotFor(spark, cfg, keys), cfg, keys)

  /** Pruned-or-full state lookup shared by both pull-query shapes: one
    * store when a snapshot is uploaded (routing by the state's string
    * key form — the same [[stateKey]] encoding the pipeline groups by),
    * distributed full scan before the first upload. Before the FIRST
    * commit the state source has no version to read and throws; a
    * caller that knows the state row shape passes it as `stateShape`
    * and gets an empty snapshot instead — a serving layer answers
    * regardless ([[PullQuery.pointLookupPruned]]). */
  private def snapshotFor(
      spark: SparkSession, cfg: Config, keys: Seq[Any],
      stateShape: Option[StructType] = None): DataFrame = {
    require(keys.size == cfg.keyFields.size,
      s"pull query needs one value per key field ${cfg.keyFields}, got $keys")
    stateShape.filter(_ => PullQuery.lastCommittedBatch(spark, cfg.checkpointDir).isEmpty)
      .map(st => spark.createDataFrame(java.util.Collections.emptyList[Row](), st))
      .getOrElse(PullQuery
        .prunedStateSnapshot(spark, cfg.checkpointDir, stateKey(keys.map(String.valueOf)))
        .getOrElse(PullQuery.stateSnapshot(spark, cfg.checkpointDir)))
  }

  /** [[pullQuery]] against a [[startFromFrame]]/[[startFromKafka]]
    * pipeline's state, whose rows hold the value as raw registry-framed
    * BYTES (the evolution-stable state shape that facade is built on):
    * id-dispatch decode the snapshot through the same registry, then
    * answer identically. The registry is consulted at CALL time, so a
    * pull query sees schemas registered after the pipeline started.
    * Before the first batch commits the answer is empty, with the same
    * columns a later answer has. */
  def pullQueryFromFrame(
      spark: SparkSession, wire: WireConfig, cfg: Config, key: Any): DataFrame =
    pullQueryFromFrame(spark, wire, cfg, Seq(key))

  /** Composite-key [[pullQueryFromFrame]]: one value per
    * `Config.keyFields` entry, in the same order. */
  def pullQueryFromFrame(
      spark: SparkSession, wire: WireConfig, cfg: Config, keys: Seq[Any]): DataFrame = {
    // the state row startFromFrame keeps: (decoded key, framed value, offset)
    val stateRow = StructType(Seq(
      StructField("kafka_key", normalized(wire.keySchema)),
      StructField("value", BinaryType),
      StructField("offset", LongType)))
    val snap = snapshotFor(spark, cfg, keys, Some(stateRow))
    val (valueRegistry, latestId) = SchemaRegistry.resolveSubject(wire.registry, wire.subject)
    val envelope = snap.select(
      col("kafka_key"),
      KafkaWire.avroDecodeRegistry(col("value"), valueRegistry, latestId)
        .as("kafka_value"),
      col("offset"))
    pullFilter(envelope, cfg, keys)
  }

  /** Shared tail of both pull-query shapes: flatten the envelope rows
    * and keep the one LIVE row for the key tuple (NOT deleted, where
    * deleted mirrors [[isDeletion]]: NULL `__DELETED` = raw tombstone,
    * "true" = rewrite record). */
  private def pullFilter(envelope: DataFrame, cfg: Config, keys: Seq[Any]): DataFrame = {
    val flat = flatten(envelope, cfg.keyFields, cfg.projectCols)
      .filter(coalesce(col("__DELETED") =!= "true", lit(false)))
    cfg.keyFields.zip(keys).foldLeft(flat) { case (df, (k, v)) =>
      df.filter(col(k.toUpperCase(Locale.ROOT)) === lit(v))
    }
  }

  /** The WIRE half of the deployable unit — where the envelope's bytes
    * come from and how they decode. Together with [[Config]] (the state
    * + sink half) this is the whole of what the reference deploys as
    * two Connect jobs plus a ksqlDB script (start-source-connector.sh:
    * 70-104 names broker, topic, and registry URL; start-sink-
    * connector.sh:57-87 names the JDBC target): broker + topic, a
    * [[SchemaRegistry]] (a [[graft.sources.RestSchemaRegistry]] at the
    * registry's URL in production; in-memory in tests), the fixed key
    * schema (Debezium keys never evolve — the PK struct IS row
    * identity), and the subjects, defaulted to Confluent's
    * TopicNameStrategy `<topic>-value` / `<topic>-key`.
    *
    * `keyFramed` defaults TRUE because that is what a real
    * Connect/Avro-converter producer emits: the KEY bytes carry the
    * same Confluent framing as the value (0x00 magic + 4-byte schema
    * id + payload). Decoding a framed key as bare Avro would read the
    * magic byte as the first field's varint — every key collapses to
    * 0/garbage and the whole topic lands on one changelog state key,
    * silently. The framed path id-dispatch decodes through the key
    * subject and REQUIRES the subject's latest schema to equal the
    * declared `keySchema` (key identity drift must stop the plan, not
    * re-key the table). Set `keyFramed = false` only for producers
    * that write bare Avro keys ([[KafkaWire.decodeEnvelope]]'s
    * convention, e.g. graft's own encodeEnvelope output).
    *
    * ONE-TIME MIGRATION (bare keys with sub-int key types only): the
    * bare path decodes with the Avro-NORMALIZED declaration — a
    * ShortType/ByteType key column widens to IntegerType, the same
    * shape the framed path outputs (Avro has no narrower int). A
    * bare-key pipeline checkpointed under a build that decoded with
    * the RAW declaration carries the un-widened state shape: its first
    * restart on the same checkpoint fails the streaming state-schema
    * compatibility check, and an auto-created sink table's SMALLINT
    * key column no longer matches the decoded INT. Heal once: start a
    * fresh checkpoint (the changelog rebuilds from the topic — the
    * reference's own recovery story, TOMBSTONE_HANDLING_GUIDE.md:
    * 105-113) and ALTER the sink key column to INT. Pipelines with
    * INT-or-wider keys, and all framed-key pipelines, are unaffected. */
  case class WireConfig(
      kafka: KafkaWire.Config,
      registry: SchemaRegistry,
      keySchema: StructType,
      valueSubject: Option[String] = None,
      keyFramed: Boolean = true,
      keySubject: Option[String] = None) {
    def subject: String = valueSubject.getOrElse(s"${kafka.topic}-value")
    def keySubjectName: String = keySubject.getOrElse(s"${kafka.topic}-key")
  }

  /** The sink config every start path actually uses: `keyCols` DERIVED
    * from the uppercased `keyFields` (restating them in `sink.keyCols`
    * was a mismatch-prone duplicate knob — wrong case meant a nullable
    * key plus a PRIMARY KEY on a non-existent column at runtime). The
    * order carries through to the PRIMARY KEY and the MERGE's ON
    * predicate ([[graft.sink.JdbcMerge]] keys are a Seq everywhere). */
  private def derivedSink(cfg: Config): JdbcMerge.Config =
    cfg.sink.copy(keyCols = cfg.keyFields.map(_.toUpperCase(Locale.ROOT)))

  /** Changelog state-key encoding, shared by the grouping lambda and the
    * pull query's pruned-store routing. The SINGLE-key form is the
    * value's plain String.valueOf — byte-identical to the pre-composite
    * pipeline, so an existing single-key checkpoint restarts cleanly —
    * and the composite form length-prefixes each component before
    * joining, which is injective AT FIXED ARITY (("a;b") vs ("a","b"),
    * embedded ':'/';', cannot collide: the prefix fixes each
    * component's exact span — ReplicationStateKeyProps). A pipeline's
    * arity is fixed by its `Config.keyFields`, so cross-arity equality
    * (e.g. the single key "1:a;1:b" vs the pair ("a","b")) is
    * unreachable within one checkpoint. */
  private[graft] def stateKey(parts: Seq[String]): String =
    if (parts.sizeIs == 1) parts.head
    else parts.map(s => s"${s.length}:$s").mkString(";")

  /** Validate at start time that every `keyFields` entry resolves to a
    * SCALAR (value-based-toString) type in the key schema. The
    * changelog state key is built from `String.valueOf` of each
    * component ([[stateKey]]), which is value-based for atomic types
    * (int/long/string/decimal/date/timestamp — equal values, equal
    * state rows) but IDENTITY-based for binary/array/map/struct: two
    * byte-equal `Array[Byte]` keys stringify to different `[B@hash`
    * forms, so the same logical row would fork into two state rows and
    * the sink would silently replicate both (r19 advisor finding — the
    * composite generalization widened exposure beyond the single
    * scalar key the original comment scoped). Nothing downstream can
    * heal a mis-keyed state, so this fails the START, naming the field
    * and its type. The reference's keys are int PKs (pk.fields=ID);
    * binary PKs have no analog there and no injective encoding here
    * yet — a future one would extend [[stateKey]] with a value-based
    * (e.g. hex) component encoding, changing the checkpoint format.
    *
    * WHITELIST, not blacklist (r20 review finding): an unlisted type
    * (a UserDefinedType, a future catalyst type) must fail the gate,
    * not slip through to Object.toString — only types whose external
    * row representation stringifies by VALUE are admissible. */
  private def requireScalarKeyFields(keyType: StructType, keyFields: Seq[String]): Unit =
    keyFields.foreach { k =>
      val dt: DataType = keyType(keyType.fieldIndex(k)).dataType
      val scalar = dt match {
        case StringType | BooleanType | ByteType | ShortType | IntegerType |
             LongType | DateType | TimestampType | TimestampNTZType => true
        case _: DecimalType => true
        // Float/Double are deliberately OUT (r20 review finding): their
        // toString IS value-based per instance, but Spark's grouping
        // normalizes -0.0 == 0.0 (and NaN == NaN) while String.valueOf
        // distinguishes them — the batch replay (groupBy on the real
        // column) and the stream (stringified state key) would key the
        // same logical row differently, forking its history
        case _ => false
      }
      require(scalar,
        s"replication: key field '$k' has inadmissible type ${dt.sql} — the changelog " +
          "state key stringifies each component, which is identity-based (not " +
          "value-based) for binary/array/map/struct and disagrees with SQL grouping " +
          "semantics for float/double (-0.0 vs 0.0, NaN), so equal keys would land " +
          "in different state rows and fork the row's history. Key the pipeline by " +
          "integral/string/decimal/date/timestamp fields only.")
    }

  /** Build the per-row changelog state-key extractor, failing LOUDLY on
    * an unkeyed record. Policy: FAIL, not drop — pk.mode=record_key
    * means the key IS row identity, so the Connect sink this mirrors
    * also dies on a null key (`behavior.on.null.values=ignore` governs
    * null VALUES — tombstones — not null keys); a silent drop would
    * un-replicate whatever row the producer meant, and a bare NPE from
    * inside flatMapGroupsWithState names neither the record nor the
    * heal (r18 verdict). The error names the offset and both heals.
    * Returns a closure so the (index, name) pairing is built once at
    * plan time, not per record — this runs on the stream's hot path. */
  private def stateKeyExtractor(
      keyStructIdx: Int, keyFieldIdxs: Seq[Int],
      keyFields: Seq[String], offsetIdx: Int): Row => String = {
    val zipped = keyFieldIdxs.zip(keyFields)
    r => {
      def die(what: String): Nothing = throw new IllegalStateException(
        s"replication: $what at offset ${r.getLong(offsetIdx)} — the changelog keys rows by " +
          s"(${keyFields.mkString(", ")}) and an unkeyed record cannot identify a row (the " +
          "Connect sink with pk.mode=record_key fails on these too). Two heals: fix the " +
          "producer to key every record (Debezium always does), or filter unkeyed frames " +
          "out of the stream before the pipeline — this query fails loudly by design " +
          "rather than silently dropping or mis-keying data.")
      if (r.isNullAt(keyStructIdx)) die("null-keyed record")
      val ks = r.getStruct(keyStructIdx)
      stateKey(zipped.map { case (i, name) =>
        if (ks.isNullAt(i)) die(s"record with NULL key field '$name'")
        String.valueOf(ks.get(i))
      })
    }
  }

  /** The facade's key-bytes decode column: framed (id-dispatch through
    * the key subject, latest REQUIRED Avro-equivalent to the declared
    * schema) or bare Avro. Output type is the Avro-normalized form of
    * `wire.keySchema` either way, so the changelog state shape never
    * depends on the framing choice. */
  private def keyDecode(wire: WireConfig): org.apache.spark.sql.Column =
    if (wire.keyFramed) {
      val (keyRegistry, keyLatest) = SchemaRegistry.resolveSubject(wire.registry, wire.keySubjectName)
      // compare the AVRO-normalized forms, not raw StructTypes: the
      // REST registry's schemas round-trip through AvroSerde (field
      // metadata dropped, Short/Byte widened to INT — Avro has no
      // narrower int), so a keySchema declared from a live DataFrame
      // or a SMALLINT PK is wire-identical yet fails raw ==, with an
      // error printing two byte-identical .sql strings. And EVERY
      // version must match, not just the latest: the dispatch map
      // decodes by any registered id, so an older DIVERGENT key schema
      // (a renamed PK) would silently decode old-framed records to
      // null-keyed rows — the exact re-keying this check exists to
      // stop. Debezium key subjects hold one shape; a history that
      // does not IS the drift.
      keyRegistry.toSeq.sortBy(_._1).foreach { case (id, st) =>
        require(normalized(st) == normalized(wire.keySchema),
          s"declared keySchema does not match the schema registered under " +
            s"'${wire.keySubjectName}' (id $id${if (id == keyLatest) ", the latest" else ""}): " +
            s"a key schema change redefines row identity, which no changelog " +
            s"consumer can absorb — declared ${normalized(wire.keySchema).sql}, " +
            s"registry ${normalized(st).sql} (Avro-normalized forms)")
      }
      KafkaWire.avroDecodeRegistry(col("key"), keyRegistry, keyLatest)
      // bare path: decode with the NORMALIZED declaration too — the
      // framed path outputs the registry's round-tripped shape, and the
      // documented invariant (state shape independent of the framing
      // choice) only holds if both paths emit the same normalized type
    } else KafkaWire.avroDecode(col("key"), normalized(wire.keySchema))

  /** The Avro-normalized form of a schema: what any schema becomes
    * after crossing the registry wire (AvroSerde round-trip). */
  private def normalized(st: StructType): StructType =
    AvroSerde.structType(AvroSerde.avroSchema(st))

  /** ONE call from "broker + registry URL" to "replicated JDBC table":
    * configures the Kafka reader ([[KafkaWire.kafkaStreamReader]]),
    * resolves the value subject through the registry and builds the
    * id-dispatch evolving decode, and hands the envelope to [[start]].
    * Needs the Kafka connector jars on the classpath at `.load()` —
    * the one seam the offline suite cannot execute; everything after
    * the frame is ReplicationRegistrySpec's end-to-end surface
    * ([[startFromFrame]], driven through a real
    * [[graft.sources.RestSchemaRegistry]] against an in-process
    * registry server, mid-stream widening included). */
  def startFromKafka(
      spark: SparkSession,
      wire: WireConfig,
      cfg: Config,
      connect: () => Connection): StreamingQuery =
    startFromFrame(
      KafkaWire.kafkaStreamReader(spark, wire.kafka).load()
        .select(col("key"), col("value"), col("offset")),
      wire, cfg, connect)

  /** [[startFromKafka]] minus the transport: `frame` is ANY streaming
    * (key BINARY, value BINARY, offset LONG) source — the Kafka reader
    * in production, a MemoryStream of encoded frames in tests, a
    * parquet archive of raw frames in a backfill. The registry is
    * consulted ONCE, here at plan time (the [[SchemaRegistry]] trait's
    * documented trust model): records framed by any schema id already
    * registered decode and widen to the subject's latest schema; a
    * subject that evolves AFTER start needs a stop + same-checkpoint
    * restart to pick up the new snapshot.
    *
    * Deliberately NOT `start(decodeEnvelope(frame))`: only the KEY is
    * decoded before the changelog (its schema is static by contract —
    * Debezium keys never evolve), while the VALUE rides through the
    * keyed state as its raw registry-framed bytes and is id-dispatch
    * decoded per MICRO-BATCH on the way to the sink. That keeps the
    * state-store schema pinned to (key struct, binary, long) across
    * every subject evolution — the widening restart passes the state
    * schema check and replays nothing, because the evolving half never
    * entered the state. Decoding the value pre-state would make the
    * first widening restart fail that check and force a from-scratch
    * backfill (ReplicationRegistrySpec pins the whole sequence against
    * a real [[graft.sources.RestSchemaRegistry]] and a real database).
    * Exactly-once across the restart is the changelog checkpoint's
    * contract. */
  def startFromFrame(
      frame: DataFrame,
      wire: WireConfig,
      cfg: Config,
      connect: () => Connection): StreamingQuery = {
    val (valueRegistry, latestId) = SchemaRegistry.resolveSubject(wire.registry, wire.subject)
    val keyed = frame.select(
      keyDecode(wire).as("kafka_key"),
      col("value"), col("offset"))
    run(keyed, cfg, connect)(_.select(
      col("kafka_key"),
      KafkaWire.avroDecodeRegistry(col("value"), valueRegistry, latestId)
        .as("kafka_value"),
      col("offset")))
  }

  /** Start the continuous replication: envelope stream in, target table
    * continuously replicated. `envelope` must be a STREAMING DataFrame
    * shaped (kafka_key struct, kafka_value nullable struct, offset long);
    * `connect` must be a serializable connection factory (one connection
    * per partition per batch — JDBC URL + properties, not a live
    * connection). */
  def start(
      envelope: DataFrame,
      cfg: Config,
      connect: () => Connection): StreamingQuery =
    run(envelope, cfg, connect)(identity)

  /** The one body of both streaming entry points: `keyed` is a
    * streaming (kafka_key struct, <value>, offset long) frame, keyed
    * into the changelog state as it is; `toEnvelope` turns each emitted
    * micro-batch into envelope rows (identity for [[start]], the
    * registry value decode for [[startFromFrame]]) before flatten and
    * the sink. */
  private def run(keyed: DataFrame, cfg: Config, connect: () => Connection)(
      toEnvelope: DataFrame => DataFrame): StreamingQuery = {
    // the one-call facade owns its own runtime setup: RocksDB-backed
    // state (the documented scale contract — heap-backed default state
    // would grow memory ∝ distinct keys)
    ChangelogStream.configure(keyed.sparkSession)
    val sinkCfg = derivedSink(cfg)
    val schema = keyed.schema
    val keyIdx = schema.fieldIndex("kafka_key")
    // validate against the DECODED key type (the normalized form the
    // rows actually carry), not a raw declaration
    val keyType = schema(keyIdx).dataType.asInstanceOf[StructType]
    requireScalarKeyFields(keyType, cfg.keyFields)
    val keyFieldIdxs = cfg.keyFields.map(keyType.fieldIndex)
    val offsetIdx = schema.fieldIndex("offset")
    implicit val rowEnc = Encoders.row(schema)
    implicit val strEnc = Encoders.STRING
    // group by the key fields' string form ([[stateKey]]): injective for
    // the scalar key types the reference uses (int identity),
    // encoder-friendly for any
    val latest = ChangelogStream.latestByKey[String, Row](
      keyed.as(rowEnc),
      key = stateKeyExtractor(keyIdx, keyFieldIdxs, cfg.keyFields, offsetIdx),
      seq = r => r.getLong(offsetIdx))
    ChangelogStream.emitChanges(latest, cfg.checkpointDir, cfg.trigger) {
      (batch, batchId) =>
        JdbcMerge.sink(sinkCfg, isDeletion, connect)(
          flatten(toEnvelope(batch.toDF()), cfg.keyFields, cfg.projectCols), batchId)
    }
  }
}
