package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sink.JdbcMerge
import graft.sources.{AvroSerde, Cdc, KafkaWire}

/** Wire-side schema evolution (schema-id dispatch): the registry-framed
  * decode path that keeps a changelog consumer alive across a producer
  * `ALTER TABLE` — the behavior ksqlDB gets from inferring its table
  * schema off the registered Avro subject (reference:
  * ksql-transformations/01-movies-transform.sql:17-24, README.md:193).
  * Covers the frame format, writer/reader resolution, the unknown-id
  * failure mode, and the VERDICT-prescribed end-to-end: an envelope
  * stream that WIDENS mid-stream replicates through decode → changelog
  * apply → JDBC merge (whose sink-side evolution JdbcMergeSpec already
  * pins — this spec proves the two halves meet). */
class AvroEvolutionSpec extends SparkTestBase {

  import spark.implicits._

  // v1 payload {TITLE}; v2 adds GENRE (the movies-shaped widening
  // JdbcMergeSpec uses on the sink side)
  private val p1 = StructType(Seq(StructField("TITLE", StringType)))
  private val p2 = p1.add(StructField("GENRE", StringType))
  private def envelopeType(p: StructType) = StructType(Seq(
    StructField("before", p),
    StructField("after", p),
    StructField("op", StringType),
    StructField("ts_ms", LongType)))
  private val envV1 = envelopeType(p1)
  private val envV2 = envelopeType(p2)
  private val keySt = StructType(Seq(StructField("id", IntegerType, nullable = false)))
  private val registry = Map(1 -> envV1, 2 -> envV2)

  test("registry frame round-trips and exposes its schema id") {
    val avro = AvroSerde.avroSchema(p1)
    val bytes = AvroSerde.toBytesWithId(Row("alpha"), p1, avro, 7)
    assert(bytes(0) == AvroSerde.RegistryMagic)
    assert(AvroSerde.schemaIdOf(bytes) == 7)
    assert(AvroSerde.fromBytesResolved(bytes, avro, p1, avro) == Row("alpha"))
  }

  test("an unframed record fails loudly instead of decoding garbage") {
    val avro = AvroSerde.avroSchema(p1)
    val plain = AvroSerde.toBytes(Row("alpha"), p1, avro)
    val e = intercept[IllegalArgumentException](AvroSerde.schemaIdOf(plain))
    assert(e.getMessage.contains("not a registry-framed"))
  }

  test("a v1-written record widens to the v2 reader schema with NULLs") {
    val w = AvroSerde.avroSchema(envV1)
    val r = AvroSerde.avroSchema(envV2)
    val bytes = AvroSerde.toBytesWithId(
      Row(null, Row("alpha"), "c", 0L), envV1, w, 1)
    assert(AvroSerde.fromBytesResolved(bytes, w, envV2, r) ==
      Row(null, Row("alpha", null), "c", 0L))
  }

  test("an unregistered schema id fails the decode loudly") {
    val frames = Seq(Tuple1(
      AvroSerde.toBytesWithId(
        Row(null, Row("x"), "c", 0L), envV1, AvroSerde.avroSchema(envV1), 99)))
      .toDF("value")
    val e = intercept[Exception](
      frames.select(
        KafkaWire.avroDecodeRegistry(col("value"), registry, latestId = 2)).collect())
    assert(e.getMessage.contains("unregistered schema id 99") ||
      Option(e.getCause).exists(_.getMessage.contains("unregistered schema id 99")))
  }

  test("mid-stream widening replicates end-to-end: decode -> changelog -> JDBC merge") {
    // The producer's subject evolves between offsets 1 and 2; tombstone
    // at offset 4 follows the v2 delete per the reference's rewrite mode
    // (TOMBSTONE_HANDLING_GUIDE.md:11-14).
    def frame(id: Int, env: Row, schema: StructType, schemaId: Int, offset: Long) =
      (AvroSerde.toBytes(Row(id), keySt, AvroSerde.avroSchema(keySt)),
        AvroSerde.toBytesWithId(env, schema, AvroSerde.avroSchema(schema), schemaId),
        offset)
    val keyAvro = AvroSerde.avroSchema(keySt)
    val frames = Seq(
      frame(1, Row(null, Row("alpha"), "c", 0L), envV1, 1, 0L),
      frame(2, Row(null, Row("beta"), "c", 1L), envV1, 1, 1L),
      // ---- subject widens here ----
      frame(1, Row(null, Row("alpha v2", "drama"), "u", 2L), envV2, 2, 2L),
      frame(2, Row(Row("beta", null), null, "d", 3L), envV2, 2, 3L),
      (AvroSerde.toBytes(Row(2), keySt, keyAvro), null: Array[Byte], 4L), // tombstone
      frame(3, Row(null, Row("gamma", "scifi"), "c", 5L), envV2, 2, 5L))
      .toDF("key", "value", "offset")

    // latestId is REQUIRED (no max-id fallback — unsound under real
    // Confluent's content-addressed ids); here v2's id is 2 by fixture
    val decoded = KafkaWire.decodeEnvelopeEvolving(frames, keySt, registry, latestId = 2)
    // the decoded envelope is ALREADY the latest shape: v1 records carry
    // NULL GENRE, the tombstone survives as a NULL kafka_value
    assert(decoded.schema("kafka_value").dataType == envV2)
    assert(decoded.filter(col("kafka_value").isNull).count() == 1)

    val state = Cdc.applyEnvelope(decoded, Seq("id"))
      .select(col("id"), col("TITLE"), col("GENRE"))
    val got = state.collect().map(r =>
      (r.getInt(0), r.getString(1), Option(r.getString(2)))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1, "alpha v2", Some("drama")),
      (3, "gamma", Some("scifi"))))

    // ... and the widened state merges through the sink against a table
    // still live at v1 — exactly one ALTER ADD, then a clean MERGE
    // carrying the new column (the JdbcMergeSpec scenario, now fed by
    // the wire). applyEnvelope's key comes back lowercase `id`; the sink
    // schema is whatever the frame carries.
    val sinkSchema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("TITLE", StringType),
      StructField("GENRE", StringType)))
    val cfg = JdbcMerge.Config(table = "movies_sink", keyCols = Seq("id"))
    val conn = new FakeJdbc.FakeConnection
    conn.columnsMeta = Seq(("id", "int"), ("TITLE", "nvarchar"))
    JdbcMerge.ensureTable(cfg, sinkSchema, conn.proxy)
    assert(conn.ddl.contains("ALTER TABLE [movies_sink] ADD [GENRE] NVARCHAR(MAX) NULL"))
    JdbcMerge.applyPartition(
      state.collect().iterator, sinkSchema, cfg, (_: Row) => false, conn.proxy, _ => ())
    val merge = conn.statements.find(_.sql.startsWith("MERGE")).get
    assert(merge.sql.contains("[GENRE]"))
    assert(merge.batches.map(_.take(2)).sortBy(_.head.toString) ==
      Seq(Seq(1, "alpha v2"), Seq(3, "gamma")))
  }

  test("InMemorySchemaRegistry: monotonic ids, idempotent register, per-subject history") {
    val reg = new graft.sources.InMemorySchemaRegistry
    val id1 = reg.register("movies-value", envV1)
    val id2 = reg.register("movies-value", envV2)
    assert(id1 < id2, "ids must be monotonically increasing")
    // producer restart re-registers the same schema -> SAME id, no mint
    assert(reg.register("movies-value", envV1) == id1)
    assert(reg.register("movies-value", envV2) == id2)
    // a different subject gets its own id space entry, never a reuse
    val other = reg.register("clicks-value", envV1)
    assert(other != id1 && other != id2)
    assert(reg.schemaById(id1).contains(envV1))
    assert(reg.schemaById(9999).isEmpty)
    assert(reg.subjectSnapshot("movies-value") == Map(id1 -> envV1, id2 -> envV2))
    assert(reg.subjectSnapshot("clicks-value") == Map(other -> envV1))
    assert(reg.subjectSnapshot("nope").isEmpty)
  }

  test("the registry seam resolves a subject and decodes an evolving stream") {
    // same end-to-end as the map-based test, but ids come FROM the
    // registry (the producer registers, frames with the returned id) and
    // the consumer resolves the subject through the seam — the exact
    // calls an HTTP-backed implementation would serve.
    val reg = new graft.sources.InMemorySchemaRegistry
    val id1 = reg.register("movies-value", envV1)
    val id2 = reg.register("movies-value", envV2)
    val keyAvro = AvroSerde.avroSchema(keySt)
    def frame(id: Int, env: Row, schema: StructType, schemaId: Int, offset: Long) =
      (AvroSerde.toBytes(Row(id), keySt, keyAvro),
        AvroSerde.toBytesWithId(env, schema, AvroSerde.avroSchema(schema), schemaId),
        offset)
    val frames = Seq(
      frame(1, Row(null, Row("alpha"), "c", 0L), envV1, id1, 0L),
      frame(2, Row(null, Row("beta", "noir"), "c", 1L), envV2, id2, 1L))
      .toDF("key", "value", "offset")
    val decoded = graft.sources.SchemaRegistry
      .decodeEnvelope(frames, reg, keySt, "movies-value")
    assert(decoded.schema("kafka_value").dataType == envV2)
    val got = decoded
      .select(col("kafka_key.id"), col("kafka_value.after.TITLE"),
        col("kafka_value.after.GENRE"))
      .collect().map(r => (r.getInt(0), r.getString(1), Option(r.getString(2))))
      .sortBy(_._1).toSeq
    assert(got == Seq((1, "alpha", None), (2, "beta", Some("noir"))))
    intercept[IllegalArgumentException](
      graft.sources.SchemaRegistry.decodeEnvelope(frames, reg, keySt, "absent-value"))
  }
}
