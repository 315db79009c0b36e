package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Continuous keyed-changelog materialization — the streaming flavor of
  * [[graft.ops.Changelog]] and the engine's analog of the reference's
  * ksqlDB TABLE + `EMIT CHANGES` persistent query
  * (reference: ksql-transformations/01-movies-transform.sql:19-52,
  * TOMBSTONE_HANDLING_GUIDE.md:25-33).
  *
  * Semantics:
  *  - state = one row per key, the one with the highest sequence number
  *    seen so far (Kafka-offset stand-in; unbounded state, no timeout —
  *    mirroring the reference's unwatermarked RocksDB TABLE state,
  *    TOMBSTONE_HANDLING_GUIDE.md:94-101);
  *  - a batch emits a key's row only when its state CHANGED this batch
  *    (per-key collapse inside a micro-batch ≈ the reference's 10 MB
  *    record cache, docker-compose.yaml:272);
  *  - tombstones (delete markers / null payloads) are RETAINED in state
  *    and EMITTED downstream like any change — pass-through is the whole
  *    reason the reference chose TABLE over STREAM (README.md:185-194).
  *    Retaining them (vs ksqlDB's key removal) additionally makes the
  *    operator late-data-correct: an out-of-order earlier event arriving
  *    after the tombstone cannot resurrect the key, so the streaming
  *    result always equals the batch replay (`Changelog.applyChangelog`)
  *    of the same event set.
  *
  * Scale notes: state is hash-partitioned by key across executors; per-key
  * work is O(rows in batch); RocksDB state store (see [[configure]]) keeps
  * memory ∝ working set, disk ∝ distinct keys — the reference sizes this
  * at ~1-2 KB/key (TOMBSTONE_HANDLING_GUIDE.md:317-320).
  */
object ChangelogStream {

  /** Reference-protocol runtime defaults: RocksDB-backed state (the
    * engine the reference's TABLE state lives in) and graft's fork-free
    * local filesystem for its checkpoint files ([[graft.LocalFs]]; a
    * `file` implementation the session already names is kept) — call
    * once before starting changelog queries. Partition/thread sizing is
    * left to the session (GraftSession pins shuffle partitions). */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    graft.LocalFs.install(spark, keepSet = true)
  }

  /** The reference's 2 s commit cadence (docker-compose.yaml:273). */
  val DefaultTrigger: Trigger = Trigger.ProcessingTime("2 seconds")

  /** Latest-row-per-key over a streaming Dataset, emitting each key's new
    * state whenever it changes (`EMIT CHANGES`). `seq` must be unique per
    * key (global offsets qualify); higher wins regardless of arrival
    * order or batch boundaries.
    *
    * Measured (graft.Bench replay protocol, 1 M messages re-read from a
    * persisted parquet log through the file streaming source into this
    * operator's RocksDB state, forked JVM): 497K msgs/s in the binding
    * r9 driver artifact, quiet-machine locals in a 500–780K band —
    * ≈5× the reference's ~100K msgs/s sustained rebuild claim
    * (TOMBSTONE_HANDLING_GUIDE.md:336-339). */
  def latestByKey[K: Encoder, T: Encoder](
      ds: Dataset[T],
      key: T => K,
      seq: T => Long): Dataset[T] =
    ds.groupByKey(key)
      .flatMapGroupsWithState[T, T](OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (_: K, rows: Iterator[T], state: GroupState[T]) =>
          val prior = state.getOption
          val candidate = (prior.iterator ++ rows).maxBy(seq)
          if (prior.exists(p => seq(p) >= seq(candidate))) Iterator.empty
          else {
            state.update(candidate)
            Iterator.single(candidate)
          }
      }

  /** Start the continuous query in update mode ("EMIT CHANGES",
    * 01-movies-transform.sql:52) against a foreachBatch sink — the hook
    * point for [[graft.sink.JdbcMerge]]-style upsert/delete appliers.
    */
  def emitChanges[T](
      ds: Dataset[T],
      checkpointDir: String,
      trigger: Trigger = DefaultTrigger)(
      batchFn: (Dataset[T], Long) => Unit): StreamingQuery =
    ds.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(batchFn)
      .start()
}
