package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.ReplicationPipeline

/** Record image on the wire (top-level for encoder codegen). */
case class RRec(event_id: Long, title: String)

/** One change record: rec=None ⇒ raw tombstone; op="d" with rec ⇒
  * Debezium rewrite-delete (`__deleted='true'`). */
case class RWire(user_id: Long, rec: Option[RRec], op: String, offset: Long)

/** Static per-JVM fake-DB registry: `connect` closures serialize as a
  * reference to this object (the recording proxies themselves are not
  * serializable), so the REAL executor-side sink path runs in local
  * mode. */
object ReplDb {
  val conns = scala.collection.mutable.ArrayBuffer[FakeJdbc.FakeConnection]()
  def connect(): java.sql.Connection = synchronized {
    val c = new FakeJdbc.FakeConnection
    conns += c
    c.proxy
  }
  def reset(): Unit = synchronized(conns.clear())

  /** Replay every connection's recorded MERGE batches (creation order ≈
    * batch order; one row per key per batch) into target-DB state keyed
    * by the first bind (USER_ID). A bound row is the sink row followed
    * by the two deletion flags: true deletes the key, false upserts the
    * row without them. */
  def state(): Map[Any, Seq[Any]] = synchronized {
    val db = scala.collection.mutable.Map[Any, Seq[Any]]()
    conns.foreach { conn =>
      conn.statements.foreach { st =>
        st.batches.foreach { b =>
          if (b.last == true) db.remove(b.head) else db(b.head) = b.dropRight(2)
        }
      }
    }
    db.toMap
  }
}

/** The one-call replication facade: envelope stream → changelog TABLE →
  * uppercase projection (with `__deleted`, like the reference's
  * transformed table) → JDBC merge sink, through the REAL
  * `JdbcMerge.sink` executor path — asserting replicated state, both
  * deletion forms, and the auto-created DDL. */
class ReplicationPipelineSpec extends SparkTestBase {

  test("end-to-end: insert/update/delete/re-insert replicate through one start() call") {
    import spark.implicits._
    graft.streaming.ChangelogStream.configure(spark)
    ReplDb.reset()
    val input = MemoryStream[RWire](spark)
    val envelope = input.toDF().select(
      struct(col("user_id")).as("kafka_key"),
      when(
        col("rec").isNotNull,
        struct(
          when(col("op") === "d", col("rec")).as("before"),
          when(col("op") =!= "d", col("rec")).as("after"),
          col("op").as("op"))).as("kafka_value"),
      col("offset"))

    val ckpt = java.nio.file.Files.createTempDirectory("graft-repl-pipeline").toString
    val q = ReplicationPipeline.start(
      envelope,
      ReplicationPipeline.Config(
        keyFields = Seq("user_id"),
        sink = graft.sink.JdbcMerge.Config("events_sink", keyCols = Nil), // derived from keyFields
        checkpointDir = ckpt),
      () => ReplDb.connect())
    try {
      // batch 1: three inserts, an update, and a full Debezium delete
      // (rewrite record + raw tombstone one offset later)
      input.addData(Seq(
        RWire(1L, Some(RRec(10L, "v1")), "c", 10L),
        RWire(2L, Some(RRec(11L, "two")), "c", 11L),
        RWire(3L, Some(RRec(12L, "three")), "c", 12L),
        RWire(1L, Some(RRec(13L, "v2")), "u", 13L),
        RWire(2L, Some(RRec(14L, "two")), "d", 14L),
        RWire(2L, None, "d", 15L)))
      q.processAllAvailable()
      val s1 = ReplDb.state()
      assert(s1.keySet == Set(1L, 3L), s"got $s1")
      assert(s1(1L) == Seq(1L, 13L, "v2", "false")) // USER_ID, EVENT_ID, TITLE, __DELETED
      assert(s1(3L) == Seq(3L, 12L, "three", "false"))

      // batch 2: re-insert the deleted key; delete key 3 via the
      // rewrite-only form (__deleted='true', no tombstone yet)
      input.addData(Seq(
        RWire(2L, Some(RRec(16L, "reborn")), "c", 16L),
        RWire(3L, Some(RRec(17L, "three")), "d", 17L)))
      q.processAllAvailable()
      val s2 = ReplDb.state()
      assert(s2.keySet == Set(1L, 2L), s"got $s2")
      assert(s2(2L) == Seq(2L, 16L, "reborn", "false"))
    } finally q.stop()

    // C4: the auto-created target mirrors the projected schema — key
    // first, uppercased columns, `__deleted` present (the reference's
    // transformed table projects it, so its sink table carries it too)
    val ddl = ReplDb.conns.flatMap(_.ddl)
    assert(ddl.exists(d =>
      d.contains("CREATE TABLE [events_sink]") &&
        d.contains("[USER_ID] BIGINT NOT NULL") &&
        d.contains("[__DELETED] NVARCHAR(MAX)") &&
        d.contains("PRIMARY KEY ([USER_ID])")), ddl.mkString("\n"))
  }

  test("pull queries answer against the RUNNING replication pipeline's state") {
    // The reference's full interactive story (§3.3): replication runs
    // continuously AND pull queries read its materialized TABLE state —
    // here the pipeline's own changelog checkpoint, via PullQuery.
    import spark.implicits._
    graft.streaming.ChangelogStream.configure(spark)
    ReplDb.reset()
    val input = MemoryStream[RWire](spark)
    val envelope = input.toDF().select(
      struct(col("user_id")).as("kafka_key"),
      when(
        col("rec").isNotNull,
        struct(
          when(col("op") === "d", col("rec")).as("before"),
          when(col("op") =!= "d", col("rec")).as("after"),
          col("op").as("op"))).as("kafka_value"),
      col("offset"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-repl-pull").toString
    val q = ReplicationPipeline.start(
      envelope,
      ReplicationPipeline.Config(
        keyFields = Seq("user_id"),
        sink = graft.sink.JdbcMerge.Config("events_sink", keyCols = Nil), // derived from keyFields
        checkpointDir = ckpt),
      () => ReplDb.connect())
    try {
      input.addData(Seq(
        RWire(1L, Some(RRec(10L, "one")), "c", 10L),
        RWire(2L, Some(RRec(11L, "two")), "c", 11L),
        RWire(2L, None, "d", 12L))) // tombstone for key 2
      q.processAllAvailable()
      assert(q.isActive)
      // deletion on the envelope state: raw tombstone or op='d'
      val isDel = col("kafka_value").isNull || col("kafka_value.op") === "d"
      assert(graft.streaming.PullQuery.liveCount(spark, ckpt, isDel) == 1L)
      val row = graft.streaming.PullQuery
        .liveState(spark, ckpt, isDel)
        .select(col("kafka_key.user_id"), col("kafka_value.after.title"))
        .collect()
      assert(row.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "one")))

      // the facade's own pull query: flattened sink-row shape, served
      // partition-pruned from the pipeline's state (string-keyed routing)
      val cfg = ReplicationPipeline.Config(
        keyFields = Seq("user_id"),
        sink = graft.sink.JdbcMerge.Config("events_sink", keyCols = Nil),
        checkpointDir = ckpt)
      val live = ReplicationPipeline.pullQuery(spark, cfg, 1L)
      assert(live.rdd.getNumPartitions == 1,
        "facade pull query must be served from ONE state partition")
      val liveRows = live.collect()
      assert(liveRows.length == 1)
      assert(liveRows(0).getAs[Long]("USER_ID") == 1L)
      assert(liveRows(0).getAs[String]("TITLE") == "one")
      assert(liveRows(0).getAs[String]("__DELETED") == "false")
      // deleted key: empty; absent key: empty
      assert(ReplicationPipeline.pullQuery(spark, cfg, 2L).isEmpty)
      assert(ReplicationPipeline.pullQuery(spark, cfg, 999L).isEmpty)

      // freshness: re-insert after delete is served by the pruned path
      input.addData(Seq(RWire(2L, Some(RRec(13L, "two-again")), "c", 13L)))
      q.processAllAvailable()
      val r2 = ReplicationPipeline.pullQuery(spark, cfg, 2L).collect()
      assert(r2.length == 1 && r2(0).getAs[String]("TITLE") == "two-again")
    } finally q.stop()
  }
}
