package graft

import java.sql.Connection

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types._

import graft.sink.JdbcMerge
import graft.sources.{AvroSerde, KafkaWire, RestSchemaRegistry}
import graft.streaming.ReplicationPipeline

/** The replication facade's r19 contracts, each against the REAL
  * registry client + in-process registry server + embedded Derby (the
  * ReplicationRegistrySpec harness):
  *
  *  - COMPOSITE keys: Connect's `pk.fields` is a list and Debezium keys
  *    composite PKs as multi-field structs (the reference itself only
  *    needs `pk.fields=ID`, start-sink-connector.sh:71) — a two-column
  *    PK must flow through keyDecode → changelog keying → derived
  *    `keyCols` → MERGE/DELETE predicates, with cross-key distinctness
  *    (two rows sharing either single column are different rows);
  *  - NULL-keyed frames fail LOUDLY with the offset and both heals —
  *    not the bare NPE from inside flatMapGroupsWithState the r18
  *    verdict flagged;
  *  - BACKFILL: `startFromFrame`'s scaladoc names "a parquet archive
  *    of raw frames" as a supported input — the file-stream replay of
  *    a persisted frame archive must converge to the same table as the
  *    live (MemoryStream) run of the same frames (the reference's
  *    topic-replay recovery story, TOMBSTONE_HANDLING_GUIDE.md:105-113,
  *    at the facade level).
  */
/** Top-level (encoder-codegen-friendly) fixtures for the envelope-level
  * composite test: a two-field key plus a record image. */
case class CKRec(title: String)
case class CKWire(tenant: String, id: Int, rec: Option[CKRec], op: String, offset: Long)

class ReplicationFacadeSpec extends SparkTestBase {

  private val payload = StructType(Seq(StructField("TITLE", StringType)))
  private val envSt = StructType(Seq(
    StructField("before", payload),
    StructField("after", payload),
    StructField("op", StringType),
    StructField("ts_ms", LongType)))
  private val envAvro = AvroSerde.avroSchema(envSt)

  private def valueBytes(env: Row, schemaId: Int): Array[Byte] =
    AvroSerde.toBytesWithId(env, envSt, envAvro, schemaId)

  private def insert(title: String, ts: Long): Row = Row(null, Row(title), "c", ts)

  private def withConn[T](db: String)(f: Connection => T): T = {
    val c = DerbyDb.connect(db)
    try { c.setAutoCommit(false); f(c) }
    finally {
      try c.rollback() catch { case _: Exception => () }
      c.close()
    }
  }

  test("Config refuses hostile keyFields (empty, case-colliding)") {
    val s = JdbcMerge.Config("t", keyCols = Nil)
    // empty and case-colliding key lists are contradictions, not configs
    intercept[IllegalArgumentException](ReplicationPipeline.Config(Nil, s, "/chk"))
    intercept[IllegalArgumentException](
      ReplicationPipeline.Config(Seq("id", "ID"), s, "/chk"))
  }

  test("a pull before the first committed batch answers empty, with the usual columns") {
    import spark.implicits._
    val srv = new TestRegistryServer
    val ckpt = java.nio.file.Files.createTempDirectory("graft-repl-prefirst").toString
    try {
      val registry = new RestSchemaRegistry(srv.url)
      val keySt = StructType(Seq(StructField("id", IntegerType, nullable = false)))
      val kid = registry.register("movies.first-key", keySt)
      val vid = registry.register("movies.first-value", envSt)
      val wire = ReplicationPipeline.WireConfig(
        kafka = KafkaWire.Config(brokers = "unused:9092", topic = "movies.first"),
        registry = registry,
        keySchema = keySt)
      val cfg = ReplicationPipeline.Config(
        keyFields = Seq("id"),
        sink = JdbcMerge.Config("movies_first", keyCols = Nil, dialect = JdbcMerge.Derby),
        checkpointDir = ckpt)
      val input = MemoryStream[(Array[Byte], Array[Byte], Long)](spark)
      val q = ReplicationPipeline.startFromFrame(
        input.toDF().toDF("key", "value", "offset"), wire, cfg,
        () => DerbyDb.connect("d_repl_first"))
      try {
        val commits = new java.io.File(s"$ckpt/commits")
        assert(Option(commits.list()).forall(_.isEmpty), "the premise: nothing committed yet")
        val before = ReplicationPipeline.pullQueryFromFrame(spark, wire, cfg, 1)
        assert(before.count() == 0)
        input.addData(Seq((AvroSerde.toBytesWithId(Row(1), keySt, AvroSerde.avroSchema(keySt), kid),
          valueBytes(insert("a", 0L), vid), 0L)))
        q.processAllAvailable()
        val after = ReplicationPipeline.pullQueryFromFrame(spark, wire, cfg, 1)
        assert(after.count() == 1)
        assert(before.columns.toSeq == after.columns.toSeq)
        assert(after.columns.toSeq == Seq("ID", "TITLE", "__DELETED"))
      } finally q.stop()
    } finally srv.stop()
  }

  test("composite two-column PK: upsert, tombstone delete, re-insert, composite pull query") {
    import spark.implicits._
    val srv = new TestRegistryServer
    val ckpt = java.nio.file.Files.createTempDirectory("graft-repl-composite").toString
    try {
      val registry = new RestSchemaRegistry(srv.url)
      val keySt = StructType(Seq(
        StructField("tenant", StringType, nullable = false),
        StructField("id", IntegerType, nullable = false)))
      val keyAvro = AvroSerde.avroSchema(keySt)
      val kid = registry.register("orders.cdc-key", keySt)
      val vid = registry.register("orders.cdc-value", envSt)
      def frame(tenant: String, id: Int, env: Row, offset: Long) =
        (AvroSerde.toBytesWithId(Row(tenant, id), keySt, keyAvro, kid),
          valueBytes(env, vid), offset)
      def tomb(tenant: String, id: Int, offset: Long) =
        (AvroSerde.toBytesWithId(Row(tenant, id), keySt, keyAvro, kid),
          null: Array[Byte], offset)
      val wire = ReplicationPipeline.WireConfig(
        kafka = KafkaWire.Config(brokers = "unused:9092", topic = "orders.cdc"),
        registry = registry,
        keySchema = keySt)
      val cfg = ReplicationPipeline.Config(
        keyFields = Seq("tenant", "id"),
        sink = JdbcMerge.Config("orders_repl", keyCols = Nil, dialect = JdbcMerge.Derby),
        checkpointDir = ckpt)
      def connect(): Connection = DerbyDb.connect("d_repl_composite")
      def tableRows(): Seq[(String, Int, String)] = withConn("d_repl_composite") { conn =>
        val rs = conn.createStatement().executeQuery(
          """SELECT "TENANT", "ID", "TITLE" FROM "orders_repl" ORDER BY "TENANT", "ID"""")
        val out = scala.collection.mutable.ArrayBuffer[(String, Int, String)]()
        while (rs.next()) out += ((rs.getString(1), rs.getInt(2), rs.getString(3)))
        out.toSeq
      }
      val input = MemoryStream[(Array[Byte], Array[Byte], Long)](spark)
      val q = ReplicationPipeline.startFromFrame(
        input.toDF().toDF("key", "value", "offset"), wire, cfg, () => connect())
      try {
        // three composite keys, PAIRWISE sharing a column value: a
        // single-column key (or a non-injective key encoding) would
        // collapse (t1,1)/(t1,2) or (t1,1)/(t2,1) into one state row
        input.addData(Seq(
          frame("t1", 1, insert("a", 0L), 0L),
          frame("t1", 2, insert("b", 1L), 1L),
          frame("t2", 1, insert("c", 2L), 2L)))
        q.processAllAvailable()
        assert(tableRows() == Seq(("t1", 1, "a"), ("t1", 2, "b"), ("t2", 1, "c")))

        // tombstone DELETE removes exactly (t1,1) — its column-sharing
        // neighbors survive
        input.addData(Seq(tomb("t1", 1, 3L)))
        q.processAllAvailable()
        assert(tableRows() == Seq(("t1", 2, "b"), ("t2", 1, "c")))
        assert(ReplicationPipeline.pullQueryFromFrame(spark, wire, cfg, Seq("t1", 1)).isEmpty,
          "a deleted composite key must pull empty")

        // re-insert the same composite key
        input.addData(Seq(frame("t1", 1, insert("a2", 4L), 4L)))
        q.processAllAvailable()
        assert(tableRows() == Seq(("t1", 1, "a2"), ("t1", 2, "b"), ("t2", 1, "c")))
        val pull = ReplicationPipeline.pullQueryFromFrame(spark, wire, cfg, Seq("t1", 1))
        // the PRUNED serving path must work for composite keys too: the
        // state is grouped by the composite stateKey STRING (one-column
        // key struct), so the routing hash is computable and the lookup
        // reads exactly one store — a misrouted composite encoding would
        // return empty for a live key, which the row assertion below
        // would catch, and a silent fallback to the full scan would
        // fail THIS one
        assert(pull.rdd.getNumPartitions == 1,
          "composite pull query must be served from ONE state partition")
        val pulled = pull.select("TENANT", "ID", "TITLE").collect()
        assert(pulled.map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq ==
          Seq(("t1", 1, "a2")))
      } finally q.stop()

      // the auto-created PRIMARY KEY spans BOTH columns, in keyFields
      // order: a second insert under the same pair must conflict at the
      // SQL level (belt to the MERGE's braces), so probe via plain
      // INSERT on the real database
      withConn("d_repl_composite") { conn =>
        val st = conn.createStatement()
        val e = intercept[java.sql.SQLException] {
          st.execute("""INSERT INTO "orders_repl" ("TENANT", "ID", "TITLE", "__DELETED")
                       |VALUES ('t1', 1, 'dup', 'false')""".stripMargin)
        }
        assert(e.getSQLState.startsWith("23"), s"expected a PK violation, got $e")
        st.close()
      }

      // the pull query demands the full key tuple — a partial key is a
      // contract violation, not a silent scan
      val bad = intercept[IllegalArgumentException] {
        ReplicationPipeline.pullQueryFromFrame(spark, wire, cfg, Seq("t1"))
      }
      assert(bad.getMessage.contains("one value per key field"), bad.getMessage)

      // kill → SAME-checkpoint restart → resume (the StreamRestartSpec
      // harness pattern): the composite state-key encoding must be
      // stable across restarts — the new source is pre-loaded with the
      // committed slice, the restart must re-read state (not re-apply),
      // and post-restart changes must land on the RIGHT composite keys
      // pre-load the committed slice with the SAME batch boundaries the
      // live run committed (MemoryStream offsets count addData calls)
      val input2 = MemoryStream[(Array[Byte], Array[Byte], Long)](spark)
      input2.addData(Seq(
        frame("t1", 1, insert("a", 0L), 0L),
        frame("t1", 2, insert("b", 1L), 1L),
        frame("t2", 1, insert("c", 2L), 2L)))
      input2.addData(Seq(tomb("t1", 1, 3L)))
      input2.addData(Seq(frame("t1", 1, insert("a2", 4L), 4L)))
      val q2 = ReplicationPipeline.startFromFrame(
        input2.toDF().toDF("key", "value", "offset"), wire, cfg, () => connect())
      try {
        input2.addData(Seq(
          frame("t1", 2, insert("b v2", 5L), 5L), // update one composite key…
          tomb("t2", 1, 6L)))                     // …delete its column-sharing neighbor
        q2.processAllAvailable()
        assert(tableRows() == Seq(("t1", 1, "a2"), ("t1", 2, "b v2")),
          "post-restart changes must resolve against the restored composite state")
      } finally q2.stop()
    } finally srv.stop()
  }

  test("composite PK × mid-stream widening: one ALTER, exactly-once restart, converged table") {
    // the r19 cross-product gap: composite MERGE/CREATE shapes and
    // single-key mid-stream widening were each proven separately
    // (this suite / ReplicationRegistrySpec) — this composes them: a
    // subject widening arrives while a composite-PK pipeline is down,
    // the same-checkpoint restart decodes old rows by their v1 ids and
    // new by v2, and the target grows exactly one ALTER'd column with
    // the two-column PRIMARY KEY intact through it
    import spark.implicits._
    val srv = new TestRegistryServer
    val ckpt = java.nio.file.Files.createTempDirectory("graft-repl-ck-evolve").toString
    try {
      val registry = new RestSchemaRegistry(srv.url)
      val keySt = StructType(Seq(
        StructField("tenant", StringType, nullable = false),
        StructField("id", IntegerType, nullable = false)))
      val keyAvro = AvroSerde.avroSchema(keySt)
      val p2 = payload.add(StructField("GENRE", StringType))
      val envV2 = StructType(Seq(
        StructField("before", p2),
        StructField("after", p2),
        StructField("op", StringType),
        StructField("ts_ms", LongType)))
      val kid = registry.register("corders.cdc-key", keySt)
      val id1 = registry.register("corders.cdc-value", envSt)
      def frame(tenant: String, id: Int, env: Row, st: StructType, sid: Int, offset: Long) =
        (AvroSerde.toBytesWithId(Row(tenant, id), keySt, keyAvro, kid),
          AvroSerde.toBytesWithId(env, st, AvroSerde.avroSchema(st), sid), offset)
      def tomb(tenant: String, id: Int, offset: Long) =
        (AvroSerde.toBytesWithId(Row(tenant, id), keySt, keyAvro, kid),
          null: Array[Byte], offset)
      val wire = ReplicationPipeline.WireConfig(
        kafka = KafkaWire.Config(brokers = "unused:9092", topic = "corders.cdc"),
        registry = registry,
        keySchema = keySt)
      val cfg = ReplicationPipeline.Config(
        keyFields = Seq("tenant", "id"),
        sink = JdbcMerge.Config("corders_evl", keyCols = Nil, dialect = JdbcMerge.Derby),
        checkpointDir = ckpt)
      def connect(): Connection = DerbyDb.connect("d_repl_ck_evolve")
      def start(input: MemoryStream[(Array[Byte], Array[Byte], Long)]) =
        ReplicationPipeline.startFromFrame(
          input.toDF().toDF("key", "value", "offset"), wire, cfg, () => connect())

      // run 1: v1-framed inserts on two composite keys sharing id=1
      val batch1 = Seq(
        frame("t1", 1, Row(null, Row("alpha"), "c", 0L), envSt, id1, 0L),
        frame("t2", 1, Row(null, Row("beta"), "c", 1L), envSt, id1, 1L))
      val input1 = MemoryStream[(Array[Byte], Array[Byte], Long)](spark)
      val q1 = start(input1)
      try { input1.addData(batch1); q1.processAllAvailable() } finally q1.stop()
      withConn("d_repl_ck_evolve") { conn =>
        assert(JdbcMerge.tableColumns(conn, "corders_evl").map(_._1) ==
          Seq("TENANT", "ID", "TITLE", "__DELETED"),
          "v1 target: composite key columns first, no GENRE yet")
      }

      // the subject widens while the pipeline is DOWN
      val id2 = registry.register("corders.cdc-value", envV2)
      assert(id2 != id1)

      // run 2: same checkpoint; v1 rows sit in state as raw bytes, so
      // the restart passes the state-schema check and resumes
      // exactly-once, and the v2 decode widens both generations
      val input2 = MemoryStream[(Array[Byte], Array[Byte], Long)](spark)
      input2.addData(batch1)
      val q2 = start(input2)
      try {
        input2.addData(Seq(
          frame("t1", 1, Row(null, Row("alpha v2", "drama"), "u", 2L), envV2, id2, 2L),
          tomb("t2", 1, 3L),
          frame("t1", 2, Row(null, Row("gamma", "scifi"), "c", 4L), envV2, id2, 4L)))
        q2.processAllAvailable()
        // composite pull query against the running widened pipeline
        val pulled = ReplicationPipeline
          .pullQueryFromFrame(spark, wire, cfg, Seq("t1", 1))
          .select("TENANT", "ID", "TITLE", "GENRE").collect()
        assert(pulled.map(r =>
          (r.getString(0), r.getInt(1), r.getString(2), r.getString(3))).toSeq ==
          Seq(("t1", 1, "alpha v2", "drama")))
      } finally q2.stop()

      withConn("d_repl_ck_evolve") { conn =>
        assert(JdbcMerge.tableColumns(conn, "corders_evl").map(_._1) ==
          Seq("TENANT", "ID", "TITLE", "__DELETED", "GENRE"),
          "the widening must land as ONE ALTER ADD after the v1 columns")
        val rs = conn.createStatement().executeQuery(
          """SELECT "TENANT", "ID", "TITLE", "GENRE"
            |FROM "corders_evl" ORDER BY "TENANT", "ID"""".stripMargin)
        val out = scala.collection.mutable.ArrayBuffer[(String, Int, String, String)]()
        while (rs.next()) out +=
          ((rs.getString(1), rs.getInt(2), rs.getString(3), rs.getString(4)))
        assert(out.toSeq == Seq(
          ("t1", 1, "alpha v2", "drama"),
          ("t1", 2, "gamma", "scifi")),
          s"composite-key widened table diverged: ${out.toSeq}")
      }
    } finally srv.stop()
  }

  test("composite keys through the envelope-level start(): the pre-decoded entry point") {
    // startFromFrame derives key indices from wire.keySchema;
    // start() derives them from the envelope's OWN kafka_key struct —
    // a different code path that must key identically
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.streaming.ChangelogStream.configure(spark)
    def toEnvelope(df: org.apache.spark.sql.DataFrame) = df.select(
      struct(col("tenant"), col("id")).as("kafka_key"),
      when(
        col("rec").isNotNull,
        struct(
          when(col("op") === "d", col("rec")).as("before"),
          when(col("op") =!= "d", col("rec")).as("after"),
          col("op").as("op"))).as("kafka_value"),
      col("offset"))
    val input = MemoryStream[CKWire](spark)
    val envelope = toEnvelope(input.toDF())
    val events = Seq(
      CKWire("t1", 1, Some(CKRec("a")), "c", 0L),
      CKWire("t1", 2, Some(CKRec("b")), "c", 1L),
      CKWire("t2", 1, Some(CKRec("c")), "c", 2L),
      CKWire("t1", 1, Some(CKRec("a2")), "u", 3L), // update one pair
      CKWire("t1", 2, None, "d", 4L))              // tombstone its neighbor
    val cfg = ReplicationPipeline.Config(
      keyFields = Seq("tenant", "id"),
      sink = JdbcMerge.Config("orders_env", keyCols = Nil, dialect = JdbcMerge.Derby),
      checkpointDir =
        java.nio.file.Files.createTempDirectory("graft-repl-env-composite").toString)
    val q = ReplicationPipeline.start(envelope, cfg, () => DerbyDb.connect("d_repl_env"))
    try {
      input.addData(events)
      q.processAllAvailable()
    } finally q.stop()
    withConn("d_repl_env") { conn =>
      val rs = conn.createStatement().executeQuery(
        """SELECT "TENANT", "ID", "TITLE" FROM "orders_env" ORDER BY "TENANT", "ID"""")
      val out = scala.collection.mutable.ArrayBuffer[(String, Int, String)]()
      while (rs.next()) out += ((rs.getString(1), rs.getInt(2), rs.getString(3)))
      assert(out.toSeq == Seq(("t1", 1, "a2"), ("t2", 1, "c")),
        s"envelope-level composite replication diverged: ${out.toSeq}")
    }

    // batch == stream on composite keys: the BATCH replay analog
    // (Cdc.applyEnvelope, now Seq-keyed) of the same event set must
    // equal the streaming pipeline's converged table
    val batch = graft.sources.Cdc
      .applyEnvelope(toEnvelope(events.toDF()), Seq("tenant", "id"))
      .orderBy("tenant", "id")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    assert(batch.toSeq == Seq(("t1", 1, "a2"), ("t2", 1, "c")),
      s"batch replay diverged from the streamed table: ${batch.toSeq}")
  }

  test("non-scalar key field types reject at start() — identity toString would fork state rows") {
    // r19 advisor finding: stateKey stringifies each component with
    // String.valueOf, which is value-based for scalars but IDENTITY-
    // based for binary/array — two byte-equal Array[Byte] keys would
    // land in different state rows and silently duplicate the row.
    // The plan must refuse to start, naming the field and its type.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val valueType = "struct<before:struct<title:string>,after:struct<title:string>,op:string>"
    def cfg(ck: String) = ReplicationPipeline.Config(
      keyFields = Seq("id"),
      sink = JdbcMerge.Config("never_created", keyCols = Nil, dialect = JdbcMerge.Derby),
      checkpointDir =
        java.nio.file.Files.createTempDirectory(s"graft-repl-$ck").toString)
    val binInput = MemoryStream[(Array[Byte], Long)](spark)
    val binEnvelope = binInput.toDF().select(
      struct(col("_1").as("id")).as("kafka_key"),
      lit(null).cast(valueType).as("kafka_value"),
      col("_2").as("offset"))
    val e = intercept[IllegalArgumentException](ReplicationPipeline.start(
      binEnvelope, cfg("binkey"), () => DerbyDb.connect("d_repl_binkey")))
    assert(e.getMessage.contains("inadmissible type") && e.getMessage.contains("'id'"),
      e.getMessage)
    // a struct-typed key field fails the same gate (and an ARRAY would
    // too — same non-scalar branch); scalar composite keys are the
    // green path the composite tests above already drive end-to-end
    val structInput = MemoryStream[(Int, Long)](spark)
    val structEnvelope = structInput.toDF().select(
      struct(struct(col("_1").as("x")).as("id")).as("kafka_key"),
      lit(null).cast(valueType).as("kafka_value"),
      col("_2").as("offset"))
    val e2 = intercept[IllegalArgumentException](ReplicationPipeline.start(
      structEnvelope, cfg("structkey"), () => DerbyDb.connect("d_repl_structkey")))
    assert(e2.getMessage.contains("inadmissible type"), e2.getMessage)
    // float/double keys reject too (r20): SQL grouping normalizes
    // -0.0 == 0.0 and NaN == NaN, String.valueOf does not — the batch
    // replay and the stream would key the same logical row differently
    val dblInput = MemoryStream[(Double, Long)](spark)
    val dblEnvelope = dblInput.toDF().select(
      struct(col("_1").as("id")).as("kafka_key"),
      lit(null).cast(valueType).as("kafka_value"),
      col("_2").as("offset"))
    val e3 = intercept[IllegalArgumentException](ReplicationPipeline.start(
      dblEnvelope, cfg("dblkey"), () => DerbyDb.connect("d_repl_dblkey")))
    assert(e3.getMessage.contains("inadmissible type") &&
      e3.getMessage.contains("-0.0"), e3.getMessage)
  }

  test("a null-keyed frame fails LOUDLY naming the offset and both heals — never a bare NPE") {
    import spark.implicits._
    val srv = new TestRegistryServer
    try {
      val registry = new RestSchemaRegistry(srv.url)
      val keySt = StructType(Seq(StructField("id", IntegerType, nullable = false)))
      val keyAvro = AvroSerde.avroSchema(keySt)
      val kid = registry.register("movies.nullkey.cdc-key", keySt)
      val vid = registry.register("movies.nullkey.cdc-value", envSt)
      val wire = ReplicationPipeline.WireConfig(
        kafka = KafkaWire.Config(brokers = "unused:9092", topic = "movies.nullkey.cdc"),
        registry = registry,
        keySchema = keySt)
      val cfg = ReplicationPipeline.Config(
        keyFields = Seq("id"),
        sink = JdbcMerge.Config("movies_nullkey", keyCols = Nil, dialect = JdbcMerge.Derby),
        checkpointDir =
          java.nio.file.Files.createTempDirectory("graft-repl-nullkey").toString)
      val input = MemoryStream[(Array[Byte], Array[Byte], Long)](spark)
      val q = ReplicationPipeline.startFromFrame(
        input.toDF().toDF("key", "value", "offset"), wire, cfg,
        () => DerbyDb.connect("d_repl_nullkey"))
      try {
        val e = intercept[StreamingQueryException] {
          input.addData(Seq(
            (AvroSerde.toBytesWithId(Row(1), keySt, keyAvro, kid),
              valueBytes(insert("alpha", 0L), vid), 0L),
            // a foreign producer's unkeyed record: null key BYTES
            (null: Array[Byte], valueBytes(insert("ghost", 1L), vid), 7L)))
          q.processAllAvailable()
        }
        val chain = Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).map(t => s"${t.getClass.getName}: ${t.getMessage}")
          .mkString("\n")
        assert(chain.contains("null-keyed record"), chain)
        assert(chain.contains("offset 7"), chain)
        assert(chain.contains("fix the producer"), chain)
        assert(chain.contains("filter unkeyed frames"), chain)
        assert(!chain.contains("NullPointerException"),
          s"the guard must fire before any dereference:\n$chain")
      } finally q.stop()
    } finally srv.stop()
  }

  test("a NULL key FIELD inside a present key struct fails the same way, naming the field") {
    import spark.implicits._
    val srv = new TestRegistryServer
    try {
      val registry = new RestSchemaRegistry(srv.url)
      // nullable on the wire, so the frame itself is legal Avro — the
      // pipeline's keying contract is what rejects it
      val keySt = StructType(Seq(StructField("id", IntegerType, nullable = true)))
      val keyAvro = AvroSerde.avroSchema(keySt)
      val kid = registry.register("movies.nullfield.cdc-key", keySt)
      val vid = registry.register("movies.nullfield.cdc-value", envSt)
      val wire = ReplicationPipeline.WireConfig(
        kafka = KafkaWire.Config(brokers = "unused:9092", topic = "movies.nullfield.cdc"),
        registry = registry,
        keySchema = keySt)
      val cfg = ReplicationPipeline.Config(
        keyFields = Seq("id"),
        sink = JdbcMerge.Config("movies_nullfield", keyCols = Nil, dialect = JdbcMerge.Derby),
        checkpointDir =
          java.nio.file.Files.createTempDirectory("graft-repl-nullfield").toString)
      val input = MemoryStream[(Array[Byte], Array[Byte], Long)](spark)
      val q = ReplicationPipeline.startFromFrame(
        input.toDF().toDF("key", "value", "offset"), wire, cfg,
        () => DerbyDb.connect("d_repl_nullfield"))
      try {
        val e = intercept[StreamingQueryException] {
          input.addData(Seq(
            (AvroSerde.toBytesWithId(Row(null), keySt, keyAvro, kid),
              valueBytes(insert("ghost", 0L), vid), 3L)))
          q.processAllAvailable()
        }
        val chain = Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).map(_.getMessage).mkString("\n")
        assert(chain.contains("NULL key field 'id'"), chain)
        assert(chain.contains("offset 3"), chain)
      } finally q.stop()
    } finally srv.stop()
  }

  test("backfill: a parquet frame archive replays through startFromFrame to the live run's table") {
    import spark.implicits._
    val srv = new TestRegistryServer
    try {
      val registry = new RestSchemaRegistry(srv.url)
      val keySt = StructType(Seq(StructField("id", IntegerType, nullable = false)))
      val keyAvro = AvroSerde.avroSchema(keySt)
      val kid = registry.register("movies.bf.cdc-key", keySt)
      val vid = registry.register("movies.bf.cdc-value", envSt)
      def frame(id: Int, env: Row, offset: Long) =
        (AvroSerde.toBytesWithId(Row(id), keySt, keyAvro, kid),
          valueBytes(env, vid), offset)
      // the full semantic roster: insert, update, tombstone delete,
      // late re-insert under a fresh key
      val frames = Seq(
        frame(1, insert("alpha", 0L), 0L),
        frame(2, insert("beta", 1L), 1L),
        frame(1, Row(Row("alpha"), Row("alpha v2"), "u", 2L), 2L),
        (AvroSerde.toBytesWithId(Row(2), keySt, keyAvro, kid), null: Array[Byte], 3L),
        frame(3, insert("gamma", 4L), 4L))
      val wire = ReplicationPipeline.WireConfig(
        kafka = KafkaWire.Config(brokers = "unused:9092", topic = "movies.bf.cdc"),
        registry = registry,
        keySchema = keySt)
      def cfgFor(table: String) = ReplicationPipeline.Config(
        keyFields = Seq("id"),
        sink = JdbcMerge.Config(table, keyCols = Nil, dialect = JdbcMerge.Derby),
        checkpointDir =
          java.nio.file.Files.createTempDirectory(s"graft-repl-bf-$table").toString)
      def connect(): Connection = DerbyDb.connect("d_repl_backfill")
      def tableRows(table: String): Seq[(Int, String, String)] = withConn("d_repl_backfill") { conn =>
        val rs = conn.createStatement().executeQuery(
          s"""SELECT "ID", "TITLE", "__DELETED" FROM "$table" ORDER BY "ID"""")
        val out = scala.collection.mutable.ArrayBuffer[(Int, String, String)]()
        while (rs.next()) out += ((rs.getInt(1), rs.getString(2), rs.getString(3)))
        out.toSeq
      }

      // live run: the frames arrive over the (memory) transport
      val input = MemoryStream[(Array[Byte], Array[Byte], Long)](spark)
      val qLive = ReplicationPipeline.startFromFrame(
        input.toDF().toDF("key", "value", "offset"), wire, cfgFor("movies_live"), () => connect())
      try { input.addData(frames); qLive.processAllAvailable() } finally qLive.stop()

      // backfill run: the SAME frames as a persisted parquet archive —
      // the recovery input startFromFrame's scaladoc declares — through
      // the FILE streaming source into a fresh checkpoint + table
      val archive = java.nio.file.Files.createTempDirectory("graft-repl-bf-archive").toString
      spark.createDataset(frames).toDF("key", "value", "offset")
        .write.mode("overwrite").parquet(archive)
      val frameSchema = StructType(Seq(
        StructField("key", BinaryType),
        StructField("value", BinaryType),
        StructField("offset", LongType, nullable = false)))
      val qBf = ReplicationPipeline.startFromFrame(
        spark.readStream.schema(frameSchema).parquet(archive),
        wire, cfgFor("movies_bf"), () => connect())
      try qBf.processAllAvailable() finally qBf.stop()

      val live = tableRows("movies_live")
      assert(live == Seq((1, "alpha v2", "false"), (3, "gamma", "false")),
        s"live run diverged before the comparison means anything: $live")
      assert(tableRows("movies_bf") == live,
        "the archive replay must converge to exactly the live run's table")
    } finally srv.stop()
  }
}
