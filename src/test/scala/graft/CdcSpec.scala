package graft

import org.apache.spark.sql.functions._
import graft.ops.{Changelog, Relational}
import graft.sources.Cdc

/** The envelope/tombstone wire model: unwrap + rewrite semantics, raw
  * (key, NULL) tombstone survival (the reference's STREAM-vs-TABLE bug,
  * README.md:185-194), and end-to-end equality with the plain changelog
  * path. */
class CdcSpec extends SparkTestBase {

  /** Fixture events plus synthetic tombstone-generating deletes (the
    * driver fixture contains no `delete` rows, so the delete path would
    * otherwise be vacuous): every 5th user gets a delete event sequenced
    * after every fixture event. */
  private lazy val events = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.withTsMicros(Tables.events(spark, sf001))
    val maxId = base.agg(max(col("event_id"))).collect()(0).getLong(0)
    val dels = base
      .select(col("user_id")).distinct()
      .filter(col("user_id") % 5 === 0)
      .withColumn("event_id", lit(maxId) + row_number().over(Window.orderBy(col("user_id"))))
      .withColumn("ts_ns", lit(0L))
      .withColumn("ts_us", lit(0L))
      .withColumn("event_type", lit("delete"))
      .withColumn("value", lit(0.0))
      .withColumn("props", lit(null).cast("string"))
      .select(base.columns.map(col).toSeq: _*)
    base.unionByName(dels).cache()
  }

  test("topicName mirrors Debezium routing") {
    assert(Cdc.topicName("mssql", "MoviesDB", "cso", "movies") == "mssql.MoviesDB.cso.movies")
  }

  test("routeToTopic applies the declared partition count and topic tag") {
    val routed = Cdc.routeToTopic(
      events,
      Cdc.TopicSpec(Cdc.topicName("mssql", "MoviesDB", "cso", "movies_transformed")))
    assert(routed.rdd.getNumPartitions == 1)
    assert(routed.select(col("__topic")).distinct().collect()
      .map(_.getString(0)).toSeq == Seq("mssql.MoviesDB.cso.movies_transformed"))
  }

  test("jdbcSnapshotReader configures a key-range-partitioned JDBC scan") {
    // No database offline — everything up to load() is configuration;
    // this asserts the builder accepts the reference's connection shape.
    val reader = Cdc.jdbcSnapshotReader(
      spark, "jdbc:sqlserver://localhost:1433;databaseName=MoviesDB",
      "cso.movies", "id", 0L, 1000000L, 8,
      Map("user" -> "sa", "fetchsize" -> "3000"))
    assert(reader != null)
  }

  test("each delete event emits a rewrite record AND a raw tombstone") {
    val env = Cdc.envelopeFromEvents(events)
    val deletes = events.filter(col("event_type") === "delete").count()
    val total = events.count()
    assert(env.count() == total + deletes)
    assert(env.filter(col("kafka_value").isNull).count() == deletes)
    // the tombstone's offset immediately follows its rewrite record
    val bad = env
      .filter(col("kafka_value").isNull)
      .select((col("offset") - 1).as("o"))
      .join(
        env.filter(col("kafka_value.op") === "d").select(col("offset").as("o")),
        Seq("o"), "left_anti")
      .count()
    assert(bad == 0)
  }

  test("unwrap flattens the surviving image and appends __deleted") {
    val unwrapped = Cdc.unwrap(Cdc.envelopeFromEvents(events))
    val live = unwrapped.filter(col("record").isNotNull)
    // deletes carry the before-image with __deleted=true
    val markedCounts = live
      .groupBy(col("record.__deleted"))
      .count()
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val deletes = events.filter(col("event_type") === "delete").count()
    assert(markedCounts("true") == deletes)
    assert(markedCounts("false") == events.count() - deletes)
    // image fields present regardless of op
    assert(live.filter(col("record.event_id").isNull).count() == 0)
  }

  test("tombstones survive unwrap as (key, NULL record) rows") {
    val unwrapped = Cdc.unwrap(Cdc.envelopeFromEvents(events))
    val deletes = events.filter(col("event_type") === "delete").count()
    val tombs = unwrapped.filter(col("record").isNull)
    assert(tombs.count() == deletes)
    // ...with their keys intact (the whole point of TABLE-over-STREAM)
    assert(tombs.filter(col("kafka_key.user_id").isNull).count() == 0)
  }

  test("tombstones survive a key-preserving uppercase projection") {
    // The reference's STREAM bug corrupted tombstone keys on PARTITION BY
    // (TOMBSTONE_HANDLING_GUIDE.md:39-50); a plain projection (what B2
    // does) must keep (key, NULL) rows intact.
    val unwrapped = Cdc.unwrap(Cdc.envelopeFromEvents(events))
    val projected = Relational.projectUpper(
      unwrapped.select(col("kafka_key.user_id").as("user_id"), col("record"), col("offset")),
      Seq("user_id", "record", "offset"))
    val deletes = events.filter(col("event_type") === "delete").count()
    assert(projected.filter(col("RECORD").isNull).count() == deletes)
    assert(projected.schema.fieldNames.toSeq == Seq("USER_ID", "RECORD", "OFFSET"))
  }

  test("drop.tombstones=true removes raw tombstones but keeps rewrite records") {
    val dropped = Cdc.unwrap(Cdc.envelopeFromEvents(events), dropTombstones = true)
    assert(dropped.filter(col("record").isNull).count() == 0)
    assert(dropped.count() == events.count())
  }

  test("applyEnvelope state equals the plain changelog apply") {
    val viaEnvelope = Cdc
      .applyEnvelope(Cdc.envelopeFromEvents(events), Seq("user_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    val viaChangelog = Changelog
      .applyChangelog(events, Seq("user_id"), col("event_id"), col("event_type") === "delete")
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(viaEnvelope == viaChangelog)
    assert(viaEnvelope.nonEmpty)
  }

  test("a record image carrying its own PK (the normal Debezium shape) does not duplicate the key column") {
    import spark.implicits._
    // build the envelope directly so the payload ECHOES the key fields
    // (case-shuffled on one) — the ExtractNewRecordState record normally
    // contains the row's own id; applyEnvelope must exclude it
    // case-insensitively like the streaming facade's flatten
    val env = Seq(
      ("t1", 1, "a", "c", 0L),
      ("t1", 2, "b", "c", 1L),
      ("t1", 1, "a2", "u", 2L)).toDF("tenant", "id", "title", "op", "offset")
      .select(
        struct(col("tenant"), col("id")).as("kafka_key"),
        struct(
          lit(null).cast("struct<tenant:string,ID:int,title:string>").as("before"),
          struct(col("tenant"), col("id").as("ID"), col("title")).as("after"),
          col("op").as("op"),
          col("offset").as("ts_ms")).as("kafka_value"),
        col("offset"))
    val state = Cdc.applyEnvelope(env, Seq("tenant", "id"))
    assert(state.schema.fieldNames.toSeq == Seq("tenant", "id", "title"),
      s"key echo must be excluded once, case-insensitively: ${state.schema.fieldNames.toSeq}")
    val rows = state.orderBy("tenant", "id")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
    assert(rows == Seq(("t1", 1, "a2"), ("t1", 2, "b")))
  }

  test("a key whose latest record is a tombstone is absent even if the rewrite is newer than other keys' rows") {
    import spark.implicits._
    val evs = Seq(
      Ev(1L, 1L, "insert", 1.0),
      Ev(1L, 9L, "delete", 0.0),
      Ev(2L, 5L, "insert", 2.0)
    ).toDF()
      .withColumn("ts_us", col("event_id") * 1000)
      .withColumn("props", lit("p"))
    val state = Cdc.applyEnvelope(Cdc.envelopeFromEvents(evs), Seq("user_id"))
      .collect().map(_.getLong(0)).toSet
    assert(state == Set(2L))
  }
}
