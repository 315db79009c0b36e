package graft

import java.sql.{Connection, DriverManager, Timestamp}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sink.JdbcMerge
import graft.sink.JdbcMerge.Config
import graft.streaming.ReplicationPipeline

/** Static per-JVM Derby connection factory: embedded in-memory databases
  * (`jdbc:derby:memory:…`), shared across the local-mode executor threads
  * because they live in this JVM. The `connect` closures passed to the
  * sink reference this object, so they serialize as an object handle —
  * same pattern as [[ReplDb]], but backed by a REAL SQL engine. */
object DerbyDb {
  def connect(db: String): Connection =
    DriverManager.getConnection(s"jdbc:derby:memory:$db;create=true")
}

/** The generated sink SQL executed AGAINST A REAL DATABASE — embedded
  * Derby 10.16 (ships with Spark's jars; supports MERGE since 10.11).
  * [[FakeJdbc]]'s recording proxies verify retry/batch/ordering
  * *semantics*; this suite closes the remaining gap those can't: a typo
  * in the generated dialect (DDL, MERGE shape, ALTER syntax, quoting)
  * now fails against a real parser instead of passing shape assertions
  * and failing at first deployment. The reference's sink upserts into
  * MSSQL (start-sink-connector.sh:61-87) — T-SQL itself has no offline
  * engine here, so the [[JdbcMerge.Derby]] dialect carries the
  * real-execution guarantee while [[JdbcMerge.TSql]] stays shape-pinned
  * in JdbcMergeSpec. */
class DerbyMergeSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("ID", LongType, nullable = false),
    StructField("TITLE", StringType),
    StructField("RATING", DecimalType(3, 1)),
    StructField("WATCHED", BooleanType),
    StructField("CREATED_AT", TimestampType),
    StructField("POSTER", BinaryType),
    StructField("SCORE", DoubleType)))

  private def cfg(table: String) = Config(
    table, keyCols = Seq("ID"), dialect = JdbcMerge.Derby,
    batchSize = 2, maxRetries = 0, retryBackoffMs = 0L)

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

  /** The CDC wire shape both replication tests feed: raw tombstone when
    * `rec` is absent, Debezium before/after images otherwise — ONE
    * definition so the two tests cannot drift onto different formats. */
  private def cdcEnvelope(
      input: MemoryStream[RWire]): org.apache.spark.sql.DataFrame = {
    import TestSpark.spark.implicits._
    input.toDF().select(
      struct(col("user_id")).as("kafka_key"),
      when(
        col("rec").isNotNull,
        struct(
          when(col("op") === "d", col("rec")).as("before"),
          when(col("op") =!= "d", col("rec")).as("after"),
          col("op").as("op"))).as("kafka_value"),
      col("offset"))
  }

  private def selectAll(conn: Connection, table: String): Seq[Seq[Any]] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(
        s"""SELECT * FROM "$table" ORDER BY "ID"""")
      val n = rs.getMetaData.getColumnCount
      val out = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
      while (rs.next()) out += (1 to n).map { i =>
        rs.getObject(i) match {
          case b: java.sql.Blob => b.getBytes(1, b.length().toInt).toSeq
          case v                => v
        }
      }
      out.toSeq
    } finally st.close()
  }

  test("auto-create + MERGE upsert + tombstone DELETE execute on a real engine") {
    val c = cfg("movies_sink")
    val ts = Timestamp.valueOf("2026-01-01 12:00:00")
    def row(id: Long, title: String, score: Double): Row =
      Row(id, title, new java.math.BigDecimal("7.5"), true, ts,
        Array[Byte](1, 2, 3), score)
    // tombstones carry only the key; non-key fields NULL like a flattened
    // raw tombstone
    def tomb(id: Long): Row = Row(id, null, null, null, null, null, null)
    withConn("d_roundtrip") { conn =>
      JdbcMerge.ensureTable(c, schema, conn)
      // insert 3, update key 1 in the same partition, delete key 2,
      // delete-then-reinsert key 3 — same-key order must hold across
      // real batches of 2 of the one MERGE
      val rows = Iterator(
        row(1L, "v1", 0.1), row(2L, "two", 0.2), row(3L, "three", 0.3),
        row(1L, "v2", 0.9), tomb(2L), tomb(3L), row(3L, "reborn", 0.33))
      JdbcMerge.applyPartition(rows, schema, c, _.isNullAt(1), conn)
      val got = selectAll(conn, "movies_sink")
      assert(got.map(_.head) == Seq(1L, 3L))
      val r1 = got.head
      assert(r1(1) == "v2" && r1(6) == 0.9)
      assert(r1(2) == new java.math.BigDecimal("7.5"))
      assert(r1(3) == true && r1(4) == ts)
      assert(r1(5) == Seq[Byte](1, 2, 3))
      assert(got(1)(1) == "reborn")
    }
    // same-key order inside ONE flush, and both deletion forms: a raw
    // tombstone (__DELETED NULL) binds its key only; an op=d rewrite row
    // (__DELETED='true') carries non-key values, which must neither
    // survive nor be inserted for an absent key
    val flagged = StructType(Seq(
      StructField("ID", LongType, nullable = false),
      StructField("TITLE", StringType),
      StructField("__DELETED", StringType)))
    def frow(id: Long, title: String, deleted: String): Row =
      new GenericRowWithSchema(Array[Any](id, title, deleted), flagged)
    val one = cfg("order_sink").copy(batchSize = 100)
    withConn("d_roundtrip") { conn =>
      JdbcMerge.ensureTable(one, flagged, conn)
      JdbcMerge.applyPartition(
        Iterator(frow(1L, "v1", "false"), frow(4L, "four", "false"), frow(5L, "five", "false")),
        flagged, one, ReplicationPipeline.isDeletion, conn)
      JdbcMerge.applyPartition(Iterator(
        frow(1L, null, null), frow(1L, "reborn", "false"), // delete, then re-insert
        frow(2L, "two", "false"), frow(2L, null, null),    // insert, then delete
        frow(3L, null, null),                              // delete of an absent key
        frow(4L, "four", "true"),                          // op=d row of a live key
        frow(6L, "six", "true")),                          // op=d row of an absent key
        flagged, one, ReplicationPipeline.isDeletion, conn)
      assert(selectAll(conn, "order_sink") ==
        Seq(Seq(1L, "reborn", "false"), Seq(5L, "five", "false")))
    }
  }

  test("ensureTable is idempotent; mid-stream widening ALTERs exactly once") {
    val base = StructType(schema.fields.take(2))
    val widened = StructType(schema.fields.take(2) :+
      StructField("EXTRA", IntegerType))
    val c = cfg("d_evolve")
    withConn("d_evolve") { conn =>
      JdbcMerge.ensureTable(c, base, conn)
      JdbcMerge.ensureTable(c, base, conn) // second create must be a no-op
      JdbcMerge.applyPartition(
        Iterator(Row(1L, "before-widen")), base, c, _ => false, conn)
      JdbcMerge.ensureTable(c, widened, conn) // emits the ALTER
      JdbcMerge.ensureTable(c, widened, conn) // sees the column, no-op
      assert(JdbcMerge.tableColumns(conn, "d_evolve")
        .map(_._1) == Seq("ID", "TITLE", "EXTRA"))
      JdbcMerge.applyPartition(
        Iterator(Row(2L, "after-widen", 42)), widened, c, _ => false, conn)
      val got = selectAll(conn, "d_evolve")
      // pre-widening row reads NULL in the added column
      assert(got == Seq(Seq(1L, "before-widen", null), Seq(2L, "after-widen", 42)))
    }
  }

  test("a DECIMAL precision change rejects against a REAL engine's metadata (r20)") {
    // Derby's TYPE_NAME for decimals is bare "DECIMAL": tableColumns
    // must compose the live (p,s) from COLUMN_SIZE/DECIMAL_DIGITS so
    // the additive-only gate can see a precision change at all
    val base = StructType(Seq(
      StructField("ID", LongType, nullable = false),
      StructField("PRICE", DecimalType(10, 2))))
    val c = cfg("d_dec_evolve")
    withConn("d_dec_evolve") { conn =>
      JdbcMerge.ensureTable(c, base, conn)
      val live = JdbcMerge.tableColumns(conn, "d_dec_evolve").toMap
      assert(live("PRICE").toUpperCase.startsWith("DECIMAL(10,2)"), live.toString)
      // same spec: steady state, no DDL
      JdbcMerge.ensureTable(c, base, conn)
      // widened precision: loud driver-side rejection, not a MERGE-time
      // overflow inside a partition task
      val widened = StructType(Seq(
        StructField("ID", LongType, nullable = false),
        StructField("PRICE", DecimalType(20, 4))))
      val e = intercept[IllegalArgumentException](
        JdbcMerge.ensureTable(c, widened, conn))
      assert(e.getMessage.contains("precision/scale"), e.getMessage)
    }
  }

  test("concurrent sink partitions survive Derby's shared MERGE plan cache") {
    import spark.implicits._
    // Derby's statement cache is ON here (its default) and shares one
    // compiled plan between connections that prepare the same text;
    // MERGE keeps execution state in that plan. Partitions executing a
    // shared MERGE failed inside Derby with a NullPointerException
    // (or left a duplicate key row), most often in a fresh JVM's first
    // iterations: on the CREATE batch of a fresh table and on the
    // widening batch after the ALTER. Each iteration is a fresh table.
    val parts = 4
    val iterations = 40
    val keys = 1L to 2000L
    // a fifth of each batch are tombstones, so the MERGE's DELETE clause
    // runs concurrently too: v1's delete absent keys, v2's delete keys
    // v1 inserted (and v2 inserts the keys v1 tombstoned)
    def title(k: Long, v: String): Option[String] =
      Option(s"$v-$k").filter(_ => k % 5 != (if (v == "v1") 0 else 1))
    val failed = (1 to iterations).flatMap { i =>
      val table = s"widen_race_$i"
      val c = Config(table, keyCols = Seq("ID"), dialect = JdbcMerge.Derby, retryBackoffMs = 0L)
      val write = JdbcMerge.sink(c, _.isNullAt(1), () => DerbyDb.connect("d_widen_race"))
      val v1 = spark.sparkContext
        .parallelize(keys.map(k => (k, title(k, "v1"))), parts).toDF("ID", "TITLE")
      val v2 = spark.sparkContext
        .parallelize(keys.map(k => (k, title(k, "v2"), Option(k.toInt))), parts)
        .toDF("ID", "TITLE", "EXTRA")
      def attempt(df: org.apache.spark.sql.DataFrame, batch: Long): Option[String] =
        try { write(df, batch); None }
        catch { case e: Exception => Some(s"$table batch $batch: $e") }
      attempt(v1, 0L).orElse(attempt(v2, 1L)).orElse {
        val got = withConn("d_widen_race")(selectAll(_, table))
        val want = keys.filter(_ % 5 != 1).map(k => Seq(k, s"v2-$k", k.toInt))
        if (got == want) None else Some(s"$table: wrong rows ${got.diff(want)}")
      }
    }
    if (failed.nonEmpty)
      fail(s"${failed.size} of $iterations iterations failed: ${failed.take(3)}")
  }

  test("hostile identifiers (reserved words, spaces) survive a real parser") {
    val hostile = StructType(Seq(
      StructField("ORDER", LongType, nullable = false), // reserved word
      StructField("has space", StringType),
      StructField("quo\"te", StringType))) // embedded quote, doubled on quoting
    val c = Config("select", keyCols = Seq("ORDER"), dialect = JdbcMerge.Derby,
      maxRetries = 0)
    withConn("d_hostile") { conn =>
      JdbcMerge.ensureTable(c, hostile, conn)
      JdbcMerge.applyPartition(
        Iterator(Row(1L, "a b", "q"), Row(1L, "c d", "r"), Row(2L, "x", "y")),
        hostile, c, _ => false, conn)
      JdbcMerge.applyPartition(
        Iterator(Row(2L, null, null)), hostile, c, _.isNullAt(1), conn)
      val st = conn.createStatement()
      val rs = st.executeQuery(
        """SELECT "ORDER", "has space", "quo""te" FROM "select" ORDER BY "ORDER"""")
      val out = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
      while (rs.next()) out += ((rs.getLong(1), rs.getString(2), rs.getString(3)))
      st.close()
      assert(out.toSeq == Seq((1L, "c d", "r")))
    }
  }

  test("at-least-once replay converges: crash after a partial commit, replay with evolve widening equals single-shot") {
    // The sink's delivery contract (JdbcMerge scaladoc): a failure
    // mid-batch leaves a partially-applied table; replaying the SAME
    // micro-batch converges to the single-shot result because the
    // upsert-or-delete MERGE is idempotent by key. Injected here against
    // the real engine: the crash lands at the SECOND commit of a
    // partition — the first flush (inserts of keys 3 and 4) is durably
    // committed, the second (key 3's tombstone and re-insert) dies — and
    // the replay additionally carries a WIDER schema
    // (auto.evolve fires mid-replay), mirroring the reference sink's
    // retry posture (start-sink-connector.sh:79-80) plus a schema change
    // racing the retry.
    val base = StructType(Seq(
      StructField("ID", LongType, nullable = false),
      StructField("TITLE", StringType)))
    val widened = StructType(base.fields :+ StructField("EXTRA", IntegerType))
    val c = cfg("d_replay")
    def isTomb(r: Row): Boolean = r.isNullAt(1)
    // key-disjoint partitions — the keyed-changelog shape the real
    // pipeline feeds the sink, so parallel replay tasks cannot interleave
    // on a key
    val p1 = Seq(Row(1L, "v1"), Row(2L, "two"), Row(1L, "v2"), Row(2L, null))
    val p2 = Seq(Row(3L, "three"), Row(4L, "four"), Row(3L, null), Row(3L, "reborn"))
    def widen(r: Row): Row =
      if (isTomb(r)) Row(r.get(0), null, null) else Row(r.get(0), r.get(1), 7)

    // partition 1 applies fully
    withConn("d_replay") { conn =>
      JdbcMerge.ensureTable(c, base, conn)
      JdbcMerge.applyPartition(p1.iterator, base, c, isTomb, conn)
    }
    // partition 2 crashes at its second commit: flush #1 (keys 3 and 4)
    // is durable, flush #2 (key 3's delete and re-insert) never lands
    val real = DerbyDb.connect("d_replay")
    real.setAutoCommit(false)
    var commits = 0
    val failing = java.lang.reflect.Proxy.newProxyInstance(
      classOf[Connection].getClassLoader, Array[Class[_]](classOf[Connection]),
      (_, method, args) => {
        if (method.getName == "commit") {
          commits += 1
          if (commits == 2) {
            // a crashed process never commits its open transaction — the
            // server rolls it back; emulate, then die
            real.rollback()
            throw new java.sql.SQLException("injected crash")
          }
        }
        method.invoke(real, (if (args == null) Array.empty[Object] else args): _*)
      }).asInstanceOf[Connection]
    try {
      intercept[java.sql.SQLException] {
        JdbcMerge.applyPartition(p2.iterator, base, c, isTomb, failing)
      }
    } finally { try real.rollback() catch { case _: Exception => () }; real.close() }
    // the table is genuinely partial — not empty, not final
    withConn("d_replay") { conn =>
      assert(selectAll(conn, "d_replay") ==
        Seq(Seq(1L, "v2"), Seq(3L, "three"), Seq(4L, "four")),
        "injection must leave the documented partial state")
    }

    // replay the WHOLE micro-batch through the sink() entry as Spark
    // would, now with the widened schema (auto.evolve ALTERs mid-replay)
    val wideRows = (p1.map(widen), p2.map(widen))
    val rdd = spark.sparkContext.parallelize(0 until 2, 2).flatMap { i =>
      if (i == 0) wideRows._1 else wideRows._2
    }
    val df = spark.createDataFrame(rdd, widened)
    JdbcMerge.sink(c, isTomb, () => DerbyDb.connect("d_replay"))(df, 0L)

    // the single-shot reference: same widened batch on a clean table
    withConn("d_replay_ref") { conn =>
      JdbcMerge.ensureTable(c.copy(table = "d_replay_ref"), widened, conn)
      JdbcMerge.applyPartition((p1 ++ p2).map(widen).iterator, widened,
        c.copy(table = "d_replay_ref"), isTomb, conn)
    }
    withConn("d_replay") { conn =>
      val got = selectAll(conn, "d_replay")
      val ref = withConn("d_replay_ref")(selectAll(_, "d_replay_ref"))
      assert(got == ref, s"replayed table diverged from single-shot: $got vs $ref")
      assert(got == Seq(Seq(1L, "v2", 7), Seq(3L, "reborn", 7), Seq(4L, "four", 7)))
      assert(JdbcMerge.tableColumns(conn, "d_replay").map(_._1) ==
        Seq("ID", "TITLE", "EXTRA"), "the mid-replay widening must have ALTERed")
    }
  }

  test("replication pipeline restart: resumed changelog state converges the real sink table") {
    // The reference's whole operational story in one composition
    // (TOMBSTONE_HANDLING_GUIDE.md:77-113): kill the replication query,
    // restart on the same checkpoint, and the target database must end
    // exactly where an uninterrupted run would — which requires the
    // RESUMED per-key offset frontier (a stale pre-frontier event after
    // the restart must NOT regress the table), tombstone state surviving
    // the restart (re-insert lands), and untouched keys keeping their
    // pre-restart rows (update mode never re-emits them).
    import spark.implicits._
    graft.streaming.ChangelogStream.configure(spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-derby-repl-rs").toString
    def start(input: MemoryStream[RWire]) = ReplicationPipeline.start(
      cdcEnvelope(input),
      ReplicationPipeline.Config(
        keyFields = Seq("user_id"),
        sink = Config("repl_restart", keyCols = Nil, dialect = JdbcMerge.Derby),
        checkpointDir = ckpt),
      () => DerbyDb.connect("d_repl_restart"))
    val batch1 = Seq(
      RWire(1L, Some(RRec(10L, "v1")), "c", 10L),
      RWire(2L, Some(RRec(11L, "two")), "c", 11L),
      RWire(3L, Some(RRec(12L, "three")), "c", 12L),
      RWire(2L, None, "d", 13L)) // raw tombstone for key 2
    val input1 = MemoryStream[RWire](spark)
    val q1 = start(input1)
    try { input1.addData(batch1); q1.processAllAvailable() } finally q1.stop()
    // restart: fresh source pre-loaded with the committed slice
    val input2 = MemoryStream[RWire](spark)
    input2.addData(batch1)
    val q2 = start(input2)
    try {
      input2.addData(Seq(
        RWire(1L, Some(RRec(5L, "stale")), "u", 5L), // below key 1's resumed frontier
        RWire(2L, Some(RRec(14L, "reborn")), "c", 14L), // over the pre-restart tombstone
        RWire(3L, Some(RRec(15L, "v2")), "u", 15L)))
      q2.processAllAvailable()
    } finally q2.stop()
    withConn("d_repl_restart") { conn =>
      val st = conn.createStatement()
      val rs = st.executeQuery(
        """SELECT "USER_ID", "EVENT_ID", "TITLE" FROM "repl_restart" ORDER BY "USER_ID"""")
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
      while (rs.next()) out += ((rs.getLong(1), rs.getLong(2), rs.getString(3)))
      st.close()
      assert(out.toSeq == Seq(
        (1L, 10L, "v1"),     // stale post-restart event rejected by the resumed frontier
        (2L, 14L, "reborn"), // re-insert over the pre-restart tombstone
        (3L, 15L, "v2")),    // pre-restart row updated
        s"restarted replication diverged: ${out.toSeq}")
    }
  }

  test("full replication pipeline lands rows in a real database") {
    import spark.implicits._
    graft.streaming.ChangelogStream.configure(spark)
    val input = MemoryStream[RWire](spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-derby-repl").toString
    val q = ReplicationPipeline.start(
      cdcEnvelope(input),
      ReplicationPipeline.Config(
        keyFields = Seq("user_id"),
        sink = Config("events_sink", keyCols = Nil, dialect = JdbcMerge.Derby),
        checkpointDir = ckpt),
      () => DerbyDb.connect("d_repl"))
    try {
      input.addData(Seq(
        RWire(1L, Some(RRec(10L, "v1")), "c", 10L),
        RWire(2L, Some(RRec(11L, "two")), "c", 11L),
        RWire(3L, Some(RRec(12L, "three")), "c", 12L),
        RWire(1L, Some(RRec(13L, "v2")), "u", 13L),
        RWire(2L, Some(RRec(14L, "two")), "d", 14L),
        RWire(2L, None, "d", 15L)))
      q.processAllAvailable()
      input.addData(Seq(
        RWire(2L, Some(RRec(16L, "reborn")), "c", 16L),
        RWire(3L, Some(RRec(17L, "three")), "d", 17L)))
      q.processAllAvailable()
    } finally q.stop()
    // the auto-created table exists in Derby with the pipeline's
    // projected schema and holds exactly the replicated live state —
    // BOTH deletion forms (rewrite record flagged __deleted='true' and
    // the raw tombstone) resolve to the MERGE's DELETE (delete.enabled),
    // so key 3 is gone despite its rewrite record carrying a full image
    withConn("d_repl") { conn =>
      val st = conn.createStatement()
      val rs = st.executeQuery(
        """SELECT "USER_ID", "EVENT_ID", "TITLE", "__DELETED"
          |FROM "events_sink" ORDER BY "USER_ID"""".stripMargin)
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, String, String)]()
      while (rs.next()) out +=
        ((rs.getLong(1), rs.getLong(2), rs.getString(3), rs.getString(4)))
      st.close()
      assert(out.toSeq == Seq(
        (1L, 13L, "v2", "false"),
        (2L, 16L, "reborn", "false")))
      assert(JdbcMerge.tableColumns(conn, "events_sink").map(_._1) ==
        Seq("USER_ID", "EVENT_ID", "TITLE", "__DELETED"))
    }
  }
}
