package graft

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sink.JdbcMerge
import graft.streaming.ChangelogStream

/** Pipeline wire model: a change record (rec=None ⇒ raw tombstone).
  * Top-level for encoder codegen. */
case class PRec(event_id: Long, value: Double, deleted: String)

/** The reference's ENTIRE data path, in-process (SURVEY.md §3.1):
  * CDC envelope records (with real tombstones) → streaming keyed
  * changelog TABLE → uppercase key-preserving projection → JDBC
  * upsert/delete merge sink — asserting the replicated "database" state,
  * like the reference's end-to-end count/delete checks
  * (the-whole-thing.sh:87-99, TOMBSTONE_HANDLING_GUIDE.md:135-205). */
class PipelineSpec extends SparkTestBase {

  import spark.implicits._

  private val sinkSchema = StructType(Seq(
    StructField("ID", LongType, nullable = false),
    StructField("EVENT_ID", LongType),
    StructField("VALUE", DoubleType)))
  private val cfg = JdbcMerge.Config(table = "events_sink", keyCols = Seq("ID"))

  /** Replay recorded MERGE batches into a map — the "target DB". Each
    * bound row is (ID, EVENT_ID, VALUE, flag, flag): a true deletion
    * flag deletes the key, false upserts it. */
  private def replayDb(conn: FakeJdbc.FakeConnection): Map[Long, (Long, Double)] = {
    val db = scala.collection.mutable.Map[Long, (Long, Double)]()
    // one MERGE per applied partition, in prepare order; replay their
    // batches in recorded order
    conn.statements.foreach { st =>
      st.batches.foreach { row =>
        if (row.last == true) db.remove(row(0).asInstanceOf[Long])
        else db(row(0).asInstanceOf[Long]) =
          (row(1).asInstanceOf[Long], row(2).asInstanceOf[Double])
      }
    }
    db.toMap
  }

  test("envelope -> streaming TABLE -> uppercase projection -> JDBC merge replicates state end-to-end") {
    ChangelogStream.configure(spark)
    val input = MemoryStream[(Long, Option[PRec], Long)](spark)
    val stream = ChangelogStream.latestByKey[Long, (Long, Option[PRec], Long)](
      input.toDS(), _._1, _._3)

    val conn = new FakeJdbc.FakeConnection
    // C4: auto-create once up front (the sink's create-if-absent DDL).
    conn.proxy.createStatement().execute(JdbcMerge.createTableSql(cfg, sinkSchema))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-pipeline-test").toString
    val q = ChangelogStream.emitChanges(stream, ckpt) {
      (batch: Dataset[(Long, Option[PRec], Long)], _: Long) =>
        // B2: key-preserving projection with ksqlDB's uppercase quirk
        // (README.md:227-233) — tombstones must survive it (B3). Deleted
        // rewrites and raw tombstones both project to (ID, null, null):
        // downstream must DELETE, never upsert a deleted row's image.
        val tomb = col("rec").isNull || col("rec.deleted") === "true"
        val projected = batch.toDF("user_id", "rec", "offset").select(
          col("user_id").as("ID"),
          when(!tomb, col("rec.event_id")).as("EVENT_ID"),
          when(!tomb, col("rec.value")).as("VALUE"))
        // C1/C2: upsert-or-delete merge into the "database" (driver-side collect —
        // the recording proxy is not serializable; the executor-side
        // path is covered by JdbcMergeSpec).
        JdbcMerge.applyPartition(
          projected.collect().iterator,
          sinkSchema, cfg,
          isTombstone = r => r.isNullAt(1),
          conn.proxy, _ => ())
    }

    try {
      // insert u1, insert u2
      input.addData(Seq(
        (1L, Some(PRec(10L, 1.0, "false")), 1L),
        (2L, Some(PRec(11L, 2.0, "false")), 2L)))
      q.processAllAvailable()
      assert(replayDb(conn) == Map(1L -> ((10L, 1.0)), 2L -> ((11L, 2.0))))

      // update u1; delete u2 (rewrite with deleted=true — payload nulled
      // at projection since downstream must not upsert a deleted row)
      input.addData(Seq(
        (1L, Some(PRec(12L, 5.0, "false")), 3L),
        (2L, None, 4L))) // raw tombstone
      q.processAllAvailable()
      assert(replayDb(conn) == Map(1L -> ((12L, 5.0))))

      // re-insert u2 after its delete (TOMBSTONE_HANDLING_GUIDE.md:197-205)
      input.addData(Seq((2L, Some(PRec(13L, 9.0, "false")), 5L)))
      q.processAllAvailable()
      assert(replayDb(conn) == Map(1L -> ((12L, 5.0)), 2L -> ((13L, 9.0))))
    } finally q.stop()

    // auto-create DDL ran, uppercase PK (pk.fields=ID not id)
    assert(conn.ddl.exists(_.contains("CREATE TABLE [events_sink]")))
    assert(conn.ddl.head.contains("PRIMARY KEY ([ID])"))
  }
}
