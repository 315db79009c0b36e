package e2ebench

import java.sql.DriverManager
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.sink.JdbcMerge
import graft.sources.{Cdc, InMemorySchemaRegistry, KafkaWire, SchemaRegistry}
import graft.streaming.{ChangelogStream, PullQuery, ReplicationPipeline}

/** The replication path driven through its public entry point,
  * [[ReplicationPipeline.startFromFrame]], into embedded Derby. */
object Replication {
  val Topic = "bench.cdc"
  val FrameSchema: StructType = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType),
    StructField("offset", LongType)))

  /** One pipeline's environment: registry (counted), Derby database,
    * checkpoint, and the ids its producer frames with. */
  class Env(val dir: String, db: String, widened: Boolean,
      trigger: Trigger = ChangelogStream.DefaultTrigger) {
    val registry = new CountingRegistry(new InMemorySchemaRegistry)
    val ids: CdcGen.Ids = {
      val k = registry.inner.register(s"$Topic-key", CdcGen.KeySchema)
      val v1 = registry.inner.register(s"$Topic-value", CdcGen.EnvV1)
      val v2 = if (widened) registry.inner.register(s"$Topic-value", CdcGen.EnvV2) else -1
      CdcGen.Ids(k, v1, v2)
    }
    def widen(): CdcGen.Ids = ids.copy(v2 = registry.inner.register(s"$Topic-value", CdcGen.EnvV2))
    val url = s"jdbc:derby:memory:$db;create=true"
    val wire = ReplicationPipeline.WireConfig(
      kafka = KafkaWire.Config(brokers = "unused:9092", topic = Topic),
      registry = registry, keySchema = CdcGen.KeySchema)
    val cfg = ReplicationPipeline.Config(
      keyFields = Seq("id"),
      sink = JdbcMerge.Config("movies", keyCols = Nil, dialect = JdbcMerge.Derby),
      checkpointDir = s"$dir/checkpoint", trigger = trigger)
    def start(frame: DataFrame): StreamingQuery =
      ReplicationPipeline.startFromFrame(frame, wire, cfg, SinkProbe.factory(url))

    /** The target table as (ID, TITLE, YEAR, BUDGET, SEQ, GENRE) strings. */
    def target(): Map[Int, Seq[String]] = {
      val conn = DriverManager.getConnection(url)
      try {
        val hasGenre = JdbcMerge.tableColumns(conn, "movies").exists(_._1 == "GENRE")
        val rs = conn.createStatement().executeQuery(
          s"""SELECT "ID", "TITLE", "YEAR", "BUDGET", "SEQ", ${if (hasGenre) "\"GENRE\"" else "NULL"}
             |FROM "movies"""".stripMargin)
        val out = Map.newBuilder[Int, Seq[String]]
        while (rs.next()) out += rs.getInt(1) -> (1 to 6).map(rs.getString)
        out.result()
      } finally { conn.rollback(); conn.close() }
    }

    def dropDb(): Unit =
      try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
      catch { case _: java.sql.SQLException => () } // a successful drop reports as an exception
  }

  /** Collects the progress of every streaming query, with the nano time
    * each report arrived (after the batch committed). A restart on the
    * same checkpoint keeps the query id, so runs are told apart by run id. */
  class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add((System.nanoTime(), e.progress))
    /** Reports of batches that ran (a trigger with no data reports too). */
    def batches(q: StreamingQuery): Seq[(Long, StreamingQueryProgress)] = {
      org.apache.spark.E2eBenchBridge.drainListeners(q.sparkSession.sparkContext)
      events.asScala.toSeq.filter { case (_, p) => p.runId == q.runId && p.durationMs.containsKey("addBatch") }
        .groupBy(_._2.batchId).values.map(_.minBy(_._1)).toSeq.sortBy(_._2.batchId)
    }
  }

  /** Wall-clock ms → this JVM's nano clock. */
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def startNanos(p: StreamingQueryProgress): Long =
    nano0 + (java.time.Instant.parse(p.timestamp).toEpochMilli - wall0) * 1000000L

  def writeFrames(spark: SparkSession, frames: Seq[(Array[Byte], Array[Byte], Long)],
      path: String, files: Int): Unit =
    spark.createDataFrame(
      spark.sparkContext.parallelize(frames.map { case (k, v, o) => Row(k, v, o) }, files),
      FrameSchema).write.mode("append").parquet(path)

  // ---------------------------------------------------------------- setup

  /** Program set-up as a user pays it: a fresh SparkSession, then the
    * pipeline started and run up to its first committed batch. */
  def setupOnce(newSession: () => SparkSession, dir: String, seed: Long): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = Trace.span("setup.session")(newSession())
    val env = new Env(dir, s"setup${dir.hashCode.abs}", widened = true)
    val frames = CdcGen.generate(seed, CdcGen.Uniform(1000), 200, 0L, 100L,
      scala.collection.mutable.Set[Int]()).map(_.frame(env.ids))
    import spark.implicits._
    val input = MemoryStream[(Array[Byte], Array[Byte], Long)](spark)
    input.addData(frames)
    val q = Trace.span("setup.pipeline")(env.start(input.toDF().toDF("key", "value", "offset")))
    try Trace.span("setup.first_batch")(q.processAllAvailable())
    finally q.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    env.dropDb()
    (spark, secs)
  }

  // ------------------------------------------------------------- backfill

  /** A seeded log replayed from parquet frames through the pipeline into
    * Derby, in segments: each segment appends its frames, starts the
    * pipeline on the same checkpoint with an `AvailableNow` trigger
    * (the recovery/initial-load run: every available change, then stop)
    * and waits for it to finish. A segment's frames are chunks of
    * `files` parquet files each, read `files` per trigger: a first chunk
    * of `firstChanges` changes, then `batches` equal chunks, so every
    * measured micro-batch holds the same number of changes however long
    * the log is. The value subject widens halfway: the first half runs
    * with v1 registered only, then v2 is registered and the next
    * restart's first batch issues the ALTER ADD. Segments can run at
    * different points of a run.
    *
    * Capacity counts the `batches` batches after each segment's first:
    * their changes over the summed spans from the second batch's start
    * to the segment's last JDBC commit. The small first batch after a
    * restart pays the restart (state load, code generation, the ALTER)
    * and is reported apart, as `firstBatchMs`. */
  class Backfill(dir: String, log: IndexedSeq[CdcGen.Change], segments: Int, batches: Int,
      firstChanges: Int) {
    private val env = new Env(dir, s"backfill${dir.hashCode.abs}", widened = false,
      trigger = Trigger.AvailableNow())
    private val src = s"$dir/frames"
    private val parts: Seq[Seq[CdcGen.Change]] = {
      val (v1, v2) = log.partition(!_.widened)
      def split(xs: Seq[CdcGen.Change], n: Int) = xs.grouped((xs.size + n - 1) / n).toSeq
      split(v1, (segments + 1) / 2) ++ split(v2, segments / 2)
    }
    private var next = 0
    /** Changes and seconds of the batches after each segment's first. */
    var changes = 0L
    var seconds = 0.0
    val firstBatchMs = scala.collection.mutable.ArrayBuffer[Double]()
    val ran = scala.collection.mutable.ArrayBuffer[StreamingQueryProgress]()
    /** Sink counters summed over the segments. */
    val sink = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)

    def done: Boolean = next == parts.size
    def registryCalls: Int = env.registry.calls.get

    def runSegment(spark: SparkSession, progress: Progress, files: Int): Unit = {
      val part = parts(next)
      val ids = if (part.head.widened) env.widen() else env.ids
      // one append per chunk: the file source takes files in the order
      // they were written
      val rest = part.drop(firstChanges)
      (part.take(firstChanges) +: rest.grouped((rest.size + batches - 1) / batches).toSeq)
        .foreach(chunk => writeFrames(spark, chunk.map(_.frame(ids)), src, files))
      val before = SinkProbe.snapshot()
      SinkProbe.lastCommitNanos.set(0)
      val q = env.start(spark.readStream.schema(FrameSchema)
        .option("maxFilesPerTrigger", files.toString).parquet(src))
      try Trace.span("backfill.drain")(q.awaitTermination()) finally q.stop()
      val segment = progress.batches(q).map(_._2)
      require(segment.size == batches + 1,
        s"backfill segment ran ${segment.size} batches, not ${batches + 1}")
      ran ++= segment
      firstBatchMs += segment.head.durationMs.get("triggerExecution").toDouble
      changes += segment.tail.map(_.numInputRows).sum
      seconds += (SinkProbe.lastCommitNanos.get - startNanos(segment(1))) / 1e9
      SinkProbe.snapshot().foreach { case (k, v) => sink(k) += v - before(k) }
      next += 1
    }

    /** The final target, and [[Cdc.applyEnvelope]] over the same frames,
      * each equal to the generator's oracle key by key (deleted keys
      * absent). Returns (attempted, failed, first mismatches). */
    def check(spark: SparkSession): (Int, Int, Seq[String]) = {
      val oracle = CdcGen.latest(log).collect { case (k, c) if !c.isDeletion => k -> CdcGen.sinkRow(c) }
      var attempted, failed = 0
      val mismatches = Seq.newBuilder[String]
      def compare(what: String, got: Map[Int, Seq[String]]): Unit =
        (oracle.keySet ++ got.keySet).foreach { k =>
          attempted += 1
          if (oracle.get(k) != got.get(k)) {
            failed += 1
            mismatches += s"$what key $k: expected ${oracle.get(k)}, got ${got.get(k)}"
          }
        }
      compare("backfill target", env.target())
      compare("Cdc.applyEnvelope", applyEnvelope(spark, env))
      (attempted, failed, mismatches.result().take(5))
    }

    def close(): Unit = env.dropDb()
  }

  /** The frames under `dir` decoded the way the pipeline decodes them:
    * key and value by schema id, through `registry`. */
  private def decoded(spark: SparkSession, dir: String, registry: SchemaRegistry): DataFrame = {
    val (keys, keyLatest) = SchemaRegistry.resolveSubject(registry, s"$Topic-key")
    val (values, latest) = SchemaRegistry.resolveSubject(registry, s"$Topic-value")
    spark.read.parquet(s"$dir/frames").select(
      KafkaWire.avroDecodeRegistry(col("key"), keys, keyLatest).as("kafka_key"),
      KafkaWire.avroDecodeRegistry(col("value"), values, latest).as("kafka_value"),
      col("offset"))
  }

  /** The batch replay of the same frames: [[Cdc.applyEnvelope]] over the
    * registry-decoded envelope. */
  private def applyEnvelope(spark: SparkSession, env: Env): Map[Int, Seq[String]] =
    Cdc.applyEnvelope(decoded(spark, env.dir, env.registry.inner), Seq("id"))
      .select("id", "TITLE", "YEAR", "BUDGET", "SEQ", "GENRE").collect()
      .map(r => r.getInt(0) -> (0 until 6).map(i => if (r.isNullAt(i)) null else r.get(i).toString))
      .toMap

  /** A registry holding both value versions, as after the widening. */
  private def widenedRegistry(): SchemaRegistry = {
    val reg = new InMemorySchemaRegistry
    reg.register(s"$Topic-key", CdcGen.KeySchema)
    reg.register(s"$Topic-value", CdcGen.EnvV1)
    reg.register(s"$Topic-value", CdcGen.EnvV2)
    reg
  }

  /** Decode-only pass over the backfill frames (sources layer): the
    * registry decode the pipeline applies, into a noop sink. */
  def decodeOnly(spark: SparkSession, dir: String): Double = {
    val frames = decoded(spark, dir, widenedRegistry())
    val t0 = System.nanoTime()
    Trace.span("sources.decode")(frames.write.format("noop").mode("overwrite").save())
    (System.nanoTime() - t0) / 1e6
  }

  /** `flatten` on a static, already decoded and cached batch. */
  def flattenOnly(spark: SparkSession, dir: String, reps: Int): Double = {
    val frames = decoded(spark, dir, widenedRegistry()).cache()
    frames.count()
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      Trace.span("flatten") {
        ReplicationPipeline.flatten(frames, Seq("id")).write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e6
    }
    frames.unpersist(blocking = true)
    Stats.median(times)
  }

  // ----------------------------------------------------------------- live

  case class Pull(key: Int, sent: Long, answered: Long, rows: Seq[Seq[String]],
      routeNanos: Long, pruned: Boolean, replayFiles: Int)

  case class Live(lagsMs: Seq[Double], pulls: Seq[Pull], pullMs: Seq[Double],
      batches: Seq[StreamingQueryProgress], lateMs: Seq[Double],
      backlogGrowth: Double, stalenessBatches: Seq[Int], attempted: Int, failed: Int,
      mismatches: Seq[String])

  /** A running pipeline on the shipped trigger, fed by one open-loop
    * generator thread at a fixed rate, with one closed-loop pull client
    * beside it. Lag is measured on changes scheduled inside the window
    * only (the warm-up batches are excluded); pulls run in the window.
    * The window lasts `windowS`, longer only while fewer than
    * `minPulls` pulls have answered, up to three times as long. */
  def live(spark: SparkSession, progress: Progress, dir: String, seed: Long, keys: CdcGen.Keys,
      rate: Int, warmupS: Double, windowS: Double, minPulls: Int): Live = {
    val env = new Env(dir, s"live${dir.hashCode.abs}", widened = true)
    val total = (rate * (warmupS + 3 * windowS)).toInt
    val planned = CdcGen.generate(seed, keys, total, 0L, 0L, scala.collection.mutable.Set[Int]())
    val frames = planned.map(_.frame(env.ids))
    import spark.implicits._
    val input = MemoryStream[(Array[Byte], Array[Byte], Long)](spark)
    SinkProbe.committed.clear()
    SinkProbe.record = true
    val q = env.start(input.toDF().toDF("key", "value", "offset"))

    // the generator: change i is due at tStart + i / rate. It sends on
    // a 100 ms tick, each tick one addData of the changes due by then:
    // a memory source makes one input partition per addData, where a
    // Kafka topic would give one per topic partition
    val addOffset = new Array[Long](planned.size)
    val tickNanos = 100000000L
    val tStart = System.nanoTime() + 200000000L
    val due = (i: Int) => tStart + (i.toLong * 1000000000L) / rate
    val windowFrom = due((rate * warmupS).toInt)
    val windowTo = due((rate * (warmupS + windowS)).toInt)
    val lateMs = scala.collection.mutable.ArrayBuffer[Double]()
    @volatile var stopAt = due(planned.size)
    @volatile var sent = 0
    val generator = new Thread(() => {
      var i = 0
      var tick = tStart
      while (i < planned.size && tick < stopAt) {
        val wait = tick - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lateMs += (System.nanoTime() - tick) / 1e6
        var j = i
        while (j < planned.size && due(j) <= tick) j += 1
        if (j > i) {
          val off = input.addData(frames.slice(i, j)).json().toLong
          (i until j).foreach(k => addOffset(k) = off)
        }
        i = j
        sent = i
        tick += tickNanos
      }
    }, "e2ebench-generator")

    // the pull client: closed loop over Zipf-drawn keys, from the window
    // start or the first committed batch, whichever is later
    val pulls = new ConcurrentLinkedQueue[Pull]()
    val pullErrors = new ConcurrentLinkedQueue[String]()
    val puller = new Thread(() => {
      val r = new SplittableRandom(seed ^ 0x5eed)
      val pullKeys = CdcGen.Zipf(1000, 1.1)
      val commits = new java.io.File(s"${env.cfg.checkpointDir}/commits")
      def committed = Option(commits.list()).exists(_.exists(_.forall(_.isDigit)))
      while (System.nanoTime() < windowFrom || !committed) Thread.sleep(5)
      var n = 0L
      while (System.nanoTime() < windowTo || (pulls.size < minPulls && System.nanoTime() < stopAt)) {
        val key = pullKeys.draw(r)
        n += 1
        try {
          val (routeNanos, pruned, replay) =
            if (Trace.enabled) route(spark, env, key) else (0L, true, 0)
          val t0 = System.nanoTime()
          val rows = Trace.span("pull", n) {
            ReplicationPipeline.pullQueryFromFrame(spark, env.wire, env.cfg, key)
              .select("ID", "TITLE", "YEAR", "BUDGET", "SEQ", "GENRE").collect()
          }.map(r => (0 until 6).map(i => if (r.isNullAt(i)) null else r.get(i).toString).toSeq)
          pulls.add(Pull(key, t0, System.nanoTime(), rows.toSeq, routeNanos, pruned, replay))
        } catch { case e: Exception => pullErrors.add(s"pull of key $key failed: $e") }
      }
      stopAt = System.nanoTime()
    }, "e2ebench-puller")
    generator.start(); puller.start()
    generator.join(); puller.join()
    val log = planned.take(sent)
    try q.processAllAvailable() finally q.stop()
    SinkProbe.record = false

    val batches = progress.batches(q)
    val ends = batches.map(_._2.sources.head.endOffset.toLong)
    val committed = SinkProbe.committed.asScala.toSeq.groupBy(_.key)
      .map { case (k, cs) => k -> cs.sortBy(_.atNanos) }
    var attempted, failed = 0
    val mismatches = Seq.newBuilder[String]
    def fail(msg: String): Unit = { failed += 1; mismatches += msg }

    // batch of each change = first batch whose end offset covers its addData
    val batchIdx = log.indices.map { i =>
      val b = ends.indexWhere(_ >= addOffset(i)); if (b < 0) Int.MaxValue else b
    }
    // per key: the batches that touched it and their last change must
    // line up one to one with the key's committed sink statements
    val visible = new Array[Long](log.size)
    log.indices.groupBy(i => log(i).key).foreach { case (key, idx) =>
      val perBatch = idx.groupBy(batchIdx).toSeq.sortBy(_._1)
      val stmts = committed.getOrElse(key, Nil)
      perBatch.zipWithIndex.foreach { case ((b, members), n) =>
        val last = log(members.max)
        val ok = b != Int.MaxValue && n < stmts.size &&
          stmts(n).seq == (if (last.isDeletion) None else Some(last.offset))
        if (ok) members.foreach(i => visible(i) = stmts(n).atNanos) // else 0: failed below
      }
      attempted += 1
      if (stmts.size != perBatch.size)
        fail(s"key $key: ${perBatch.size} batches touched it, ${stmts.size} sink statements")
    }
    val lags = Seq.newBuilder[Double]
    log.indices.filter(i => due(i) >= windowFrom).foreach { i =>
      attempted += 1
      val lag = (visible(i) - due(i)) / 1e6
      if (visible(i) == 0L) fail(s"change at offset ${log(i).offset} never reached the target")
      else if (lag > 10000.0) fail(s"change at offset ${log(i).offset} took $lag ms")
      else lags += lag
    }

    // the target after the drain equals the oracle
    val oracle = CdcGen.latest(log).collect { case (k, c) if !c.isDeletion => k -> CdcGen.sinkRow(c) }
    val got = env.target()
    (oracle.keySet ++ got.keySet).foreach { k =>
      attempted += 1
      if (oracle.get(k) != got.get(k)) fail(s"live target key $k: ${oracle.get(k)} vs ${got.get(k)}")
    }

    // a pull answer must be the key's state at some committed batch
    // between the send and the answer
    val received = batches.map(_._1)
    val started = batches.map(b => startNanos(b._2))
    val byKey = log.indices.groupBy(i => log(i).key)
    def stateAt(key: Int, b: Int): Seq[Seq[String]] =
      if (b < 0) Nil
      else byKey.getOrElse(key, Nil).filter(i => batchIdx(i) <= b).lastOption.map(log(_))
        .filter(!_.isDeletion).map(CdcGen.sinkRow).toSeq
    val staleness = Seq.newBuilder[Int]
    val pullList = pulls.asScala.toSeq
    pullList.foreach { p =>
      attempted += 1
      val lo = received.lastIndexWhere(_ <= p.sent)
      val hi = started.lastIndexWhere(_ <= p.answered + 50000000L)
      val matching = (lo to hi).filter(b => stateAt(p.key, b) == p.rows)
      if (matching.isEmpty) fail(s"pull of key ${p.key} answered ${p.rows}, no version in [$lo, $hi]")
      else staleness += (received.lastIndexWhere(_ <= p.answered) - matching.max).max(0)
    }

    pullErrors.asScala.foreach { e => attempted += 1; fail(e) }

    // backlog: changes due by each batch's start minus changes it covers
    val backlog = batches.zip(ends).filter { case ((_, p), _) =>
      val s = startNanos(p); s >= windowFrom && s <= stopAt
    }.map { case ((_, p), end) =>
      val dueBy = log.indices.count(i => due(i) <= startNanos(p))
      val covered = log.indices.count(i => addOffset(i) <= end)
      (dueBy - covered).toDouble
    }
    val third = backlog.size / 3
    val growth =
      if (third == 0) 0.0 else backlog.takeRight(third).sum / third - backlog.take(third).sum / third
    if (growth > rate * 2.0) fail(s"backlog grew by $growth changes across the window")
    attempted += 1

    env.dropDb()
    Live(lags.result(), pullList, pullList.map(p => (p.answered - p.sent) / 1e6),
      batches.map(_._2), lateMs.toSeq, growth, staleness.result(),
      attempted, failed, mismatches.result().take(5))
  }

  /** The pruned-route half of a pull, timed alone, and the changelog
    * files a lookup would replay past the key's last snapshot. */
  private def route(spark: SparkSession, env: Env, key: Int): (Long, Boolean, Int) = {
    val t0 = System.nanoTime()
    val snap = Trace.span("pull.route") {
      PullQuery.prunedStateSnapshot(spark, env.cfg.checkpointDir, key.toString)
    }
    val nanos = System.nanoTime() - t0
    val stateDir = new java.io.File(s"${env.cfg.checkpointDir}/state/0")
    val parts = Option(stateDir.listFiles()).getOrElse(Array.empty).filter(_.getName.forall(_.isDigit))
    val replay = parts.map { p =>
      val names = Option(p.listFiles()).getOrElse(Array.empty).map(_.getName)
      val snaps = names.collect { case n if n.endsWith(".zip") => n.stripSuffix(".zip").toLong }
      val last = if (snaps.isEmpty) 0L else snaps.max
      names.count(n => n.endsWith(".changelog") && n.stripSuffix(".changelog").toLong > last)
    }
    (nanos, snap.isDefined, if (replay.isEmpty) 0 else replay.max)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Nearest-rank-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}
