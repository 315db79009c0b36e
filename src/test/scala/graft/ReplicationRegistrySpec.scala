package graft

import java.sql.Connection

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._

import graft.sink.JdbcMerge
import graft.sources.{AvroSerde, KafkaWire, RestSchemaRegistry}
import graft.streaming.ReplicationPipeline

/** The reference's deployable unit as ONE entry point, end-to-end with
  * nothing faked but the transport: raw Confluent-framed wire bytes →
  * [[ReplicationPipeline.startFromFrame]] (the `.load()`-less seam of
  * [[ReplicationPipeline.startFromKafka]]) → a REAL
  * [[RestSchemaRegistry]] client against an in-process HTTP registry
  * ([[TestRegistryServer]]) → changelog state → a REAL database
  * (embedded Derby). The centerpiece is the mid-stream widening: the
  * subject evolves while the pipeline runs, a stop + same-checkpoint
  * restart picks up the new snapshot, and the evolution-stable state
  * shape (key struct + raw value BYTES) is what lets that restart pass
  * the state-store schema check — the scenario
  * start-source-connector.sh:70-104 + start-sink-connector.sh:57-87
  * deploy as two Connect jobs plus the registry. */
class ReplicationRegistrySpec extends SparkTestBase {

  // the movies-shaped widening (AvroEvolutionSpec's fixture): v1 payload
  // {TITLE}; v2 adds GENRE
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
  private val keyAvro = AvroSerde.avroSchema(keySt)

  /** A Connect/Avro-converter-shaped frame: the KEY is Confluent-framed
    * too (magic + key schema id + payload) — the real producers' shape
    * the facade's keyFramed default decodes. */
  private def frame(
      id: Int, keyId: Int, env: Row, schema: StructType, schemaId: Int, offset: Long) =
    (AvroSerde.toBytesWithId(Row(id), keySt, keyAvro, keyId),
      AvroSerde.toBytesWithId(env, schema, AvroSerde.avroSchema(schema), schemaId),
      offset)

  private def tombstone(id: Int, keyId: Int, offset: Long) =
    (AvroSerde.toBytesWithId(Row(id), keySt, keyAvro, keyId), null: Array[Byte], offset)

  private def withConn[T](db: String)(f: Connection => T): T = {
    val c = DerbyDb.connect(db)
    try { c.setAutoCommit(false); f(c) }
    finally {
      // Derby refuses to close a connection with an open transaction —
      // reads (SELECT, metadata) open one too
      try c.rollback() catch { case _: Exception => () }
      c.close()
    }
  }

  test("broker-shaped frames + registry URL -> replicated JDBC table, widening across a restart") {
    import spark.implicits._
    val srv = new TestRegistryServer
    val ckpt = java.nio.file.Files.createTempDirectory("graft-repl-registry").toString
    try {
      val registry = new RestSchemaRegistry(srv.url)
      // the producer half: register the key subject and v1 under the
      // topic's default (TopicNameStrategy) subjects and frame records
      // (keys INCLUDED — the converter frames both sides) with the
      // RETURNED ids — exactly what an Avro-converter Connect source does
      val kid = registry.register("movies.cdc-key", keySt)
      val id1 = registry.register("movies.cdc-value", envV1)

      val wire = ReplicationPipeline.WireConfig(
        kafka = KafkaWire.Config(brokers = "unused:9092", topic = "movies.cdc"),
        registry = registry,
        keySchema = keySt)
      assert(wire.subject == "movies.cdc-value",
        "TopicNameStrategy default must derive <topic>-value")
      val cfg = ReplicationPipeline.Config(
        keyFields = Seq("id"),
        sink = JdbcMerge.Config("movies_repl", keyCols = Nil, dialect = JdbcMerge.Derby),
        checkpointDir = ckpt)
      def connect(): Connection = DerbyDb.connect("d_repl_registry")
      def start(input: MemoryStream[(Array[Byte], Array[Byte], Long)]) =
        ReplicationPipeline.startFromFrame(
          input.toDF().toDF("key", "value", "offset"), wire, cfg, () => connect())

      // ---- run 1: v1-framed inserts ----
      val batch1 = Seq(
        frame(1, kid, Row(null, Row("alpha"), "c", 0L), envV1, id1, 0L),
        frame(2, kid, Row(null, Row("beta"), "c", 1L), envV1, id1, 1L))
      val input1 = MemoryStream[(Array[Byte], Array[Byte], Long)](spark)
      val q1 = start(input1)
      try { input1.addData(batch1); q1.processAllAvailable() } finally q1.stop()
      withConn("d_repl_registry") { conn =>
        val rs = conn.createStatement().executeQuery(
          """SELECT "ID", "TITLE" FROM "movies_repl" ORDER BY "ID"""")
        val out = scala.collection.mutable.ArrayBuffer[(Int, String)]()
        while (rs.next()) out += ((rs.getInt(1), rs.getString(2)))
        assert(out.toSeq == Seq((1, "alpha"), (2, "beta")))
        assert(JdbcMerge.tableColumns(conn, "movies_repl").map(_._1) ==
          Seq("ID", "TITLE", "__DELETED"), "v1 target: no GENRE column yet")
      }

      // ---- the subject WIDENS while the pipeline is down: v2 through
      // the same REST client (the real registration wire round-trip) ----
      val id2 = registry.register("movies.cdc-value", envV2)
      assert(id2 != id1)

      // ---- run 2: same checkpoint, fresh source pre-loaded with the
      // committed slice (the StreamRestartSpec harness pattern). The
      // restart's plan-time snapshot now carries v2; run-1's v1 rows sit
      // in the changelog state as raw BYTES, so the state schema is
      // unchanged and the resume is exactly-once, no backfill. ----
      val input2 = MemoryStream[(Array[Byte], Array[Byte], Long)](spark)
      input2.addData(batch1)
      val q2 = start(input2)
      try {
        input2.addData(Seq(
          frame(1, kid, Row(null, Row("alpha v2", "drama"), "u", 2L), envV2, id2, 2L),
          frame(2, kid, Row(Row("beta", null), null, "d", 3L), envV2, id2, 3L),
          tombstone(2, kid, 4L),
          frame(3, kid, Row(null, Row("gamma", "scifi"), "c", 5L), envV2, id2, 5L)))
        q2.processAllAvailable()

        // pull query against the RUNNING registry-backed pipeline's own
        // state: decodes the raw-bytes state through the same registry
        val pulled = ReplicationPipeline.pullQueryFromFrame(spark, wire, cfg, 1)
          .select("ID", "TITLE", "GENRE").collect()
        assert(pulled.map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq ==
          Seq((1, "alpha v2", "drama")))
        assert(ReplicationPipeline.pullQueryFromFrame(spark, wire, cfg, 2).isEmpty,
          "a deleted key must pull empty")
      } finally q2.stop()

      // the real database converged: one ALTER'd-in GENRE column, v1
      // rows widened, both deletion forms resolved to a real DELETE
      withConn("d_repl_registry") { conn =>
        assert(JdbcMerge.tableColumns(conn, "movies_repl").map(_._1) ==
          Seq("ID", "TITLE", "__DELETED", "GENRE"),
          "the widening must land as one ALTER ADD, after the v1 columns")
        val rs = conn.createStatement().executeQuery(
          """SELECT "ID", "TITLE", "GENRE", "__DELETED"
            |FROM "movies_repl" ORDER BY "ID"""".stripMargin)
        val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, String)]()
        while (rs.next()) out +=
          ((rs.getInt(1), rs.getString(2), rs.getString(3), rs.getString(4)))
        assert(out.toSeq == Seq(
          (1, "alpha v2", "drama", "false"),
          (3, "gamma", "scifi", "false")),
          s"replicated table diverged: ${out.toSeq}")
      }

      // and all of it went over the WIRE: the registry server saw the
      // three producer registrations (key, v1, v2) plus one resolution
      // per subject per (re)start and per pull query — never a
      // per-record call
      val reqs = srv.requests.asScala.toList
      assert(reqs.count(_._1 == "POST") == 3, reqs.toString)
      for (subj <- Seq("movies.cdc-value", "movies.cdc-key")) {
        val resolutions = reqs.count { case (m, p, _) =>
          m == "GET" && p == s"/subjects/$subj/versions"
        }
        assert(resolutions >= 1 && resolutions <= 8,
          s"$subj resolved per (re)plan, never per record: $reqs")
      }

      // key-identity drift must stop the plan LOUDLY, pre-stream: a
      // declared keySchema that disagrees with the registry's latest
      // key schema would silently re-key the table otherwise
      val drifted = wire.copy(keySchema = keySt.add("region", StringType))
      val e = intercept[IllegalArgumentException] {
        ReplicationPipeline.startFromFrame(
          input2.toDF().toDF("key", "value", "offset"), drifted, cfg, () => connect())
      }
      assert(e.getMessage.contains("movies.cdc-key")
        && e.getMessage.contains("row identity"), e.getMessage)
      // …but AVRO-EQUIVALENT declarations are not drift: a keySchema
      // carrying field metadata, or a SMALLINT PK (ShortType — Avro has
      // no narrower int, the registry round-trips it as INT), is
      // wire-identical. Raw StructType == rejected both, printing two
      // byte-identical .sql strings (r18 review).
      val withMeta = StructType(Seq(StructField("id", IntegerType,
        nullable = false,
        metadata = new MetadataBuilder().putString("comment", "pk").build())))
      val asShort = StructType(Seq(StructField("id", ShortType, nullable = false)))
      // an OLDER divergent key version is drift too: the dispatch map
      // decodes by any registered id, so a history [v1 {movie_id}, v2
      // {id}] would silently null-key every v1-framed record if only
      // the latest were checked (r18 review). The error names the
      // offending id.
      val mixedKeySubj = "movies.mixedkey.cdc-key"
      val oldId = registry.register(mixedKeySubj,
        StructType(Seq(StructField("movie_id", IntegerType, nullable = false))))
      registry.register(mixedKeySubj, keySt) // latest DOES match
      val eOld = intercept[IllegalArgumentException] {
        ReplicationPipeline.startFromFrame(
          input2.toDF().toDF("key", "value", "offset"),
          wire.copy(keySubject = Some(mixedKeySubj)), cfg, () => connect())
      }
      assert(eOld.getMessage.contains(s"id $oldId")
        && eOld.getMessage.contains("movie_id"), eOld.getMessage)

      Seq(withMeta, asShort).foreach { equiv =>
        val q = ReplicationPipeline.startFromFrame(
          input2.toDF().toDF("key", "value", "offset"),
          wire.copy(keySchema = equiv),
          // fresh checkpoint: this start only proves the identity check
          // accepts the equivalent declaration — it must not contend
          // with the main pipeline's state above
          cfg.copy(checkpointDir =
            java.nio.file.Files.createTempDirectory("graft-repl-equiv").toString),
          () => connect())
        q.stop() // plan accepted — identity check passed
      }
    } finally srv.stop()
  }
}
