package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pull queries against a RUNNING changelog query's materialized state —
  * the engine's analog of ksqlDB pull queries, which read the persistent
  * query's RocksDB TABLE state directly, not the topic (reference:
  * TOMBSTONE_HANDLING_GUIDE.md:185-195 `SELECT * FROM movies_transformed
  * WHERE id = 1` / `SELECT COUNT(*)`; README.md:144-150).
  *
  * Implementation: Spark's state data source (`format("statestore")`)
  * over the changelog query's checkpoint. This is the same state the
  * stream's [[ChangelogStream.latestByKey]] operator maintains (RocksDB
  * under the checkpoint), read as of the last COMMITTED micro-batch —
  * exactly ksqlDB's model of "query the current materialized table", with
  * its freshness bounded by the commit cadence (the 2 s default trigger).
  *
  * Scale notes: the read is DISTRIBUTED — one task per state-store
  * partition, state never collected to the driver — so pull queries scale
  * with the state exactly like the stream itself (unlike a driver-side
  * cache of the current table). Point lookups tolerate the full-partition
  * scan the same way ksqlDB pull queries do a RocksDB range read; the
  * key-partition pruning a dedicated serving layer would add is out of
  * scope, as it is for the reference (single ksqlDB instance).
  */
object PullQuery {

  /** The raw keyed state of the changelog query checkpointed at
    * `checkpointDir`: one row per key — the latest row seen, INCLUDING
    * retained tombstone rows ([[ChangelogStream.latestByKey]] keeps them
    * so late data cannot resurrect deleted keys). Works while the query
    * RUNS; reflects the last committed batch. */
  def stateSnapshot(spark: SparkSession, checkpointDir: String): DataFrame =
    spark.read
      .format("statestore")
      .option("path", checkpointDir)
      .load()
      .select(col("value.groupState.*"))

  /** The live TABLE view a ksqlDB pull query sees: state minus keys whose
    * latest row is a deletion (C2 semantics). `isDeleted` is the domain's
    * tombstone predicate, e.g. `col("event_type") === "delete"` or
    * `col("record").isNull`.
    *
    * A NULL predicate result counts as DELETED: a raw tombstone retained
    * in state is (key, NULL…) — every non-key field NULL — so any natural
    * field predicate (`col("__DELETED") === "true"`) evaluates NULL
    * exactly on tombstones, and treating NULL as live would resurrect
    * deleted keys. This mirrors [[ReplicationPipeline.isDeletion]]'s
    * NULL handling on the sink side. A predicate that must not have this
    * default can make itself total (`coalesce(pred, lit(false))`). */
  def liveState(spark: SparkSession, checkpointDir: String, isDeleted: Column): DataFrame =
    stateSnapshot(spark, checkpointDir).filter(!coalesce(isDeleted, lit(true)))

  /** D1: the point-lookup pull query (`... WHERE id = 1`). */
  def pointLookup(
      spark: SparkSession,
      checkpointDir: String,
      isDeleted: Column,
      keyCol: String,
      key: Any): DataFrame =
    liveState(spark, checkpointDir, isDeleted).filter(col(keyCol) === lit(key))

  /** Partition-PRUNED point lookup: reads ONLY the state partition the
    * key hashes to, the way ksqlDB routes a pull query to the key's
    * partition owner instead of scanning every store
    * (reference: TOMBSTONE_HANDLING_GUIDE.md:185-195 — the pull query is
    * served from the persistent query's RocksDB, keyed routing implied by
    * Kafka Streams' partition assignment).
    *
    * Routing: flatMapGroupsWithState clusters state by
    * `HashPartitioning(key)` — `pmod(murmur3(key, seed=42), n)` — so the
    * key's partition is computable without touching state. The single
    * partition is then read via the state source's snapshot options
    * (`snapshotPartitionId` plans exactly ONE input partition): latest
    * snapshot ≤ the last committed batch, changelog replay to the batch.
    * With the [[ChangelogStream.configure]] defaults (RocksDB, changelog
    * checkpointing off) every commit uploads a full snapshot, so the
    * lookup always reflects the last committed micro-batch — identical
    * freshness to [[pointLookup]].
    *
    * Falls back to the full-scan [[pointLookup]] when no snapshot exists
    * yet for the key's partition (e.g. changelog checkpointing ON before
    * the first maintenance upload) or nothing has committed — a serving
    * layer must answer regardless. Callers can detect the pruned path by
    * `result.rdd.getNumPartitions == 1`.
    *
    * Scale note: this is the serving-path complement of the distributed
    * scan — at 1000 executors and thousands of state partitions, a
    * per-lookup full scan is O(total state); this is O(one partition's
    * store), independent of cluster width. Each call re-reads the commit
    * log and state schema (driver-side metadata); a production serving
    * layer would cache that routing metadata per query and invalidate
    * on commit. */
  def pointLookupPruned(
      spark: SparkSession,
      checkpointDir: String,
      isDeleted: Column,
      keyCol: String,
      key: Any,
      operatorId: Int = 0): DataFrame =
    prunedStateSnapshot(spark, checkpointDir, key, operatorId) match {
      case None => pointLookup(spark, checkpointDir, isDeleted, keyCol, key)
      case Some(pruned) =>
        pruned
          .filter(!coalesce(isDeleted, lit(true)))
          .filter(col(keyCol) === lit(key))
    }

  /** The single state partition `routingKey` hashes to, as a
    * [[stateSnapshot]]-shaped DataFrame (one input partition), or None
    * when the pruned read is unavailable (nothing committed, composite
    * state key, or no snapshot uploaded yet) and the caller must fall
    * back to the full scan. `routingKey` must be the value the
    * changelog's `groupByKey` keyed by — for
    * [[ReplicationPipeline]] that is the key's STRING form, which is why
    * routing and filtering are separate concerns here. */
  def prunedStateSnapshot(
      spark: SparkSession,
      checkpointDir: String,
      routingKey: Any,
      operatorId: Int = 0): Option[DataFrame] =
    lastCommittedBatch(spark, checkpointDir).flatMap { batch =>
      val stateDir = new org.apache.hadoop.fs.Path(s"$checkpointDir/state/$operatorId")
      val fs = stateDir.getFileSystem(spark.sessionState.newHadoopConf())
      val nParts = fs.listStatus(stateDir)
        .count(s => s.isDirectory && s.getPath.getName.forall(_.isDigit))
      require(nParts > 0, s"no state partitions under $stateDir")
      // the state key schema names the grouping column(s); single-column
      // keys (the pointLookup contract) hash directly
      val keyType = spark.read.format("statestore").option("path", checkpointDir)
        .load().schema("key").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      if (keyType.length != 1) None // composite key: routing needs all fields
      else {
        import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
        val h = new Murmur3Hash(
          Seq(Literal.create(routingKey, keyType.head.dataType)), 42)
          .eval(null).asInstanceOf[Int]
        val p = java.lang.Math.floorMod(h, nParts)
        // latest uploaded snapshot for THIS partition, at or before the
        // committed version (RocksDB uploads {v}.zip, HDFS {v}.snapshot)
        val SnapName = """(\d+)\.(?:zip|snapshot)""".r
        val partFiles = fs
          .listStatus(new org.apache.hadoop.fs.Path(stateDir, p.toString))
          .map(_.getPath.getName)
        val snapVersions = partFiles
          .collect { case SnapName(v) => v.toLong }
          .filter(_ <= batch + 1)
        // a snapshot OLDER than the committed version needs change files
        // ({v}.changelog / {v}.delta) to replay forward — without them
        // (RocksDB changelog checkpointing off + a failed upload) the
        // pruned read would error at execution; fall back instead
        val canReplayForward =
          partFiles.exists(n => n.endsWith(".changelog") || n.endsWith(".delta"))
        if (snapVersions.isEmpty ||
          (snapVersions.max < batch + 1 && !canReplayForward)) None
        else Some(
          spark.read
            .format("statestore")
            .option("path", checkpointDir)
            .option("batchId", batch)
            .option("snapshotStartBatchId", snapVersions.max - 1)
            .option("snapshotPartitionId", p)
            .load()
            .select(col("value.groupState.*")))
      }
    }

  /** Highest batch id with a commit-log entry — the state version pull
    * queries serve (the statestore source's own default). */
  private[graft] def lastCommittedBatch(
      spark: SparkSession, checkpointDir: String): Option[Long] = {
    val commits = new org.apache.hadoop.fs.Path(s"$checkpointDir/commits")
    val fs = commits.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(commits)) None
    else fs.listStatus(commits).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
      .reduceOption(_ max _)
  }

  /** D2: the COUNT(*) pull query over the live table. */
  def liveCount(spark: SparkSession, checkpointDir: String, isDeleted: Column): Long =
    liveState(spark, checkpointDir, isDeleted).count()
}
