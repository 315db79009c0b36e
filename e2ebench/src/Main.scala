package e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.GraftSession

/** One benchmark run in a fresh JVM: set-up, backfill, live replication
  * with pulls, and the query sweep, on one workload's key shape.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --tables <dir> --out <file>
  * }}}
  *
  * Writes one JSON object to `--out`: the metrics (end-to-end with
  * `--trace 0`, per-layer with `--trace 1`), the check counts, sample
  * counts, and the first mismatches. */
object Main {
  /** Key shapes per workload: (backfill keys, live keys). */
  val Workloads: Map[String, (CdcGen.Keys, CdcGen.Keys)] = Map(
    "uniform_keys" -> (CdcGen.Uniform(2000000), CdcGen.Uniform(200000)),
    "hot_keys" -> (CdcGen.Zipf(2000, 1.1), CdcGen.Zipf(1000, 1.1)))

  val Slots: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  /** Backfill: two segments (v1, then v2), each a first batch of
    * `BackfillFirstChanges` changes and `BackfillBatches` measured
    * batches of `BackfillBatchChanges` changes, each on `Slots` files. */
  val BackfillFirstChanges = 100
  val BackfillBatches = 2
  val BackfillBatchChanges = 2000
  val LiveRate = 100
  val LiveWarmupS = 2.0
  val SetupRounds = 3
  /** Timed rounds; each holds one backfill segment (v1, then v2) and
    * one sweep pass. The live window sits between them. */
  val Rounds = 2
  /** Pulls a traced window must hold: the median needs ten samples beyond it. */
  val MinPulls = 20

  /** The backfill log: both segments, widened halfway. */
  def backfillLog(seed: Long, keys: CdcGen.Keys): IndexedSeq[CdcGen.Change] = {
    val n = Rounds * (BackfillFirstChanges + BackfillBatches * BackfillBatchChanges)
    CdcGen.generate(seed, keys, n, 0L, n / 2, scala.collection.mutable.Set[Int]())
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val (backfillKeys, liveKeys) = Workloads.getOrElse(workload,
      sys.error(s"unknown workload '$workload'; known: ${Workloads.keys.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val out = run(workload, backfillKeys, liveKeys, seed, seconds, traced, work, opts("tables"))
    Files.writeString(Paths.get(opts("out")), out)
    System.exit(0) // Spark's non-daemon threads must not keep the JVM alive
  }

  val progress = new Replication.Progress

  /** A fresh session. The previous one must be stopped first
    * ([[stopSession]]), outside any timed span. */
  def newSession(cores: Int): SparkSession = {
    val spark = GraftSession.local("e2ebench", cores)
    spark.streams.addListener(progress)
    spark
  }

  def stopSession(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  /** The phases of one run. Backfill segments and sweep passes are
    * spread over the run in rounds, so a slow spell of the machine lands
    * on a few samples of each metric, not on all samples of one. */
  private def run(workload: String, backfillKeys: CdcGen.Keys, liveKeys: CdcGen.Keys, seed: Long,
      seconds: Double, traced: Boolean, work: String, tables: String): String = {
    Trace.enabled = false // the warm-up is not traced
    var attempted = 0
    var failed = 0
    val mismatches = Seq.newBuilder[String]
    def count(a: Int, f: Int, m: Seq[String]): Unit = { attempted += a; failed += f; mismatches ++= m }

    // the generator checks itself before anything is measured
    val selfFailed = CdcGen.selfTest(seed, backfillKeys) ++ CdcGen.selfTest(seed, liveKeys)
    count(12, selfFailed.size, selfFailed.map("generator self-test failed: " + _))

    // warm-up, untimed: the first session, then the pipeline's first run
    // beside the sweep's first pass (which records the fingerprints and
    // writes the results for the oracle check)
    var spark = newSession(Slots)
    val queries = Sweep.Queries(workload)
    val sweep = new Sweep(queries, tables, s"$work/results")
    val warmSweep = new java.util.concurrent.FutureTask[Unit](() => sweep.warmUp(spark))
    new Thread(warmSweep, "e2ebench-warm-up").start()
    Replication.setupOnce(() => spark, s"$work/setup0", seed)
    warmSweep.get()
    Files.writeString(Paths.get(s"$work/oracle_sql.json"),
      Sweep.oracleSql(queries).map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}"))
    phase("warm-up")
    Trace.enabled = traced

    // set-up, timed: a fresh session and the pipeline to its first
    // commit; stopping the previous session is not timed
    val setups = (1 to SetupRounds).map { i =>
      stopSession()
      val (s, secs) = Replication.setupOnce(() => newSession(Slots), s"$work/setup$i", seed + i)
      spark = s
      secs
    }
    phase("set-up")

    val log = backfillLog(seed, backfillKeys)
    val backfill = new Replication.Backfill(s"$work/backfill", log, Rounds, BackfillBatches,
      BackfillFirstChanges)
    def round(i: Int): Unit = {
      // a traced run pairs each untraced pass with a traced one, in
      // alternating order, for the tracing overhead
      val order = if (!traced) Seq(false) else if (i % 2 == 1) Seq(false, true) else Seq(true, false)
      order.foreach(t => sweep.pass(spark, traced = t))
      Trace.enabled = traced
      backfill.runSegment(spark, progress, Slots)
      phase(s"round $i")
    }
    round(1)
    // pull latency is reported by the traced run only, which needs
    // enough pulls for their median
    val live = Replication.live(spark, progress, s"$work/live", seed + 101, liveKeys, LiveRate,
      LiveWarmupS, seconds, if (traced) MinPulls else 0)
    phase("live")
    (2 to Rounds).foreach(round)

    val (bfAttempted, bfFailed, bfMismatches) = backfill.check(spark)
    count(bfAttempted, bfFailed, bfMismatches)
    backfill.close()
    count(live.attempted, live.failed, live.mismatches)
    // a percentile is reported only with ten samples beyond it
    val thin = Seq("lag p90" -> (live.lagsMs.size < 100),
      "pull p50" -> (traced && live.pullMs.size < MinPulls))
      .collect { case (what, true) => s"too few samples for the $what" }
    count(2, thin.size, thin)
    count(sweep.attempted, sweep.failed, sweep.mismatches.toSeq)

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val perQuery = sweep.perQueryMs.values.map(t => Stats.median(t.toSeq)).toSeq
        Seq(
          ("setup_s", Stats.median(setups), "s"),
          ("peak_rss_mb", peakRssMb(), "MB"),
          ("changes_per_s", backfill.changes / backfill.seconds, "1/s"),
          ("lag_p50_ms", Stats.quantile(live.lagsMs, 0.5), "ms"),
          ("lag_p90_ms", Stats.quantile(live.lagsMs, 0.9), "ms"),
          ("sweep_s", Stats.median(sweep.passMs.toSeq) / 1000.0, "s"),
          ("query_geomean_ms", Stats.geomean(perQuery), "ms"))
      } else {
        val decodeMs = Seq.fill(3)(Replication.decodeOnly(spark, s"$work/backfill"))
        val flattenMs = Replication.flattenOnly(spark, s"$work/backfill", 3)
        // single-slot baseline of the same backfill, segments back to back
        stopSession()
        spark = newSession(1)
        val local1 = new Replication.Backfill(s"$work/backfill1", log, Rounds, BackfillBatches,
          BackfillFirstChanges)
        while (!local1.done) local1.runSegment(spark, progress, 1)
        local1.close()
        layerMetrics(backfill, live, sweep, Stats.median(decodeMs), flattenMs,
          local1.changes / local1.seconds)
      }
    spark.stop()
    phase("end")

    val samples = Map(
      "setup_rounds" -> setups.size, "lag" -> live.lagsMs.size, "pull" -> live.pullMs.size,
      "sweep_passes" -> sweep.passMs.size, "live_batches" -> live.batches.size,
      "backfill_batches" -> backfill.ran.size)
    val late = live.lateMs
    val trace =
      if (!traced) ""
      else {
        val rows = Trace.selfTimes()
        Files.writeString(Paths.get(s"$work/trace_spans.tsv"),
          ("id\tname\tparent\trequest\tstart_ns\tend_ns" +: Trace.all.sortBy(_.id).map(s =>
            s"${s.id}\t${s.name}\t${s.parent}\t${s.request}\t${s.start}\t${s.end}")).mkString("\n"))
        rows.map { case (n, c, tot, self) =>
          s"""{"span": ${Json.str(n)}, "count": $c, "total_ms": $tot, "self_ms": $self}"""
        }.mkString("[", ", ", "]")
      }
    val metricJson = metrics.map { case (n, v, u) =>
      s"""${Json.str(n)}: {"value": ${num(v)}, "unit": ${Json.str(u)}}"""
    }.mkString("{", ", ", "}")
    s"""{"workload": ${Json.str(workload)}, "attempted": $attempted, "failed": $failed,
       |"metrics": $metricJson,
       |"samples": {${samples.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString(", ")}},
       |"generator_late_ms": {"p50": ${num(Stats.quantile(late, 0.5))}, "p99": ${num(Stats.quantile(late, 0.99))}, "max": ${num(if (late.isEmpty) 0 else late.max)}},
       |"backlog_growth": ${num(live.backlogGrowth)},
       |"pull_ms": ${live.pullMs.map(v => math.round(v)).mkString("[", ", ", "]")},
       |"live_batch_ms": ${live.batches.map(_.durationMs.get("triggerExecution")).mkString("[", ", ", "]")},
       |"backfill_batch_rows_ms": ${backfill.ran.map(b => s"[${b.numInputRows}, ${b.durationMs.get("triggerExecution")}]").mkString("[", ", ", "]")},
       |"fingerprints": {${sweep.fingerprints.toSeq.sorted.map { case (q, f) => s"${Json.str(q)}: ${Json.str(f)}" }.mkString(", ")}},
       |"sweep_query_ms": {${sweep.perQueryMs.toSeq.sortBy(_._1).map { case (q, t) => s"${Json.str(q)}: ${num(Stats.median(t.toSeq))}" }.mkString(", ")}},
       |"self_time": ${if (trace.isEmpty) "[]" else trace},
       |"mismatches": ${mismatches.result().take(10).map(Json.str).mkString("[", ", ", "]")}}
       |""".stripMargin
  }

  private var phaseStart = System.nanoTime()
  /** Progress to the log: the phase just finished and its wall time. */
  private def phase(name: String): Unit = {
    val now = System.nanoTime()
    System.err.println(f"[e2ebench] $name%-10s ${(now - phaseStart) / 1e9}%.1f s")
    phaseStart = now
  }

  /** A JSON string literal. */
  object Json {
    def str(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  /** VmHWM of this JVM, the process that runs the program. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  private def layerMetrics(bf: Replication.Backfill, live: Replication.Live, sweep: Sweep,
      decodeMs: Double, flattenMs: Double, local1PerS: Double): Seq[(String, Double, String)] = {
    val sink = bf.sink
    val batches: Seq[StreamingQueryProgress] = live.batches
    def dur(k: String) = Stats.median(batches.map(b => Option(b.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    val state = batches.flatMap(_.stateOperators.headOption)
    val inputRows = batches.map(_.numInputRows).sum.toDouble
    val updated = state.map(_.numRowsUpdated).sum.toDouble
    val layers = sweep.layers.toSeq.flatMap { case (q, ls) => ls.toSeq.map(q -> _) }
    def per(f: Sweep.Layers => Double) = layers.groupBy(_._1).values.map(ls => Stats.median(ls.map(l => f(l._2)))).sum
    val flushes = sink("flushes").toDouble
    val pulls = live.pulls
    Seq(
      ("sources.decode_ms", decodeMs, "ms"),
      ("sources.registry_calls", bf.registryCalls.toDouble, "count"),
      ("stream.batches", batches.size.toDouble, "count"),
      ("stream.trigger_ms", dur("triggerExecution"), "ms"),
      ("stream.planning_ms", dur("queryPlanning"), "ms"),
      ("stream.get_batch_ms", dur("getBatch"), "ms"),
      ("stream.add_batch_ms", dur("addBatch"), "ms"),
      ("stream.wal_ms", dur("walCommit"), "ms"),
      ("stream.commit_ms", dur("commitOffsets"), "ms"),
      ("state.commit_ms", Stats.median(state.map(_.commitTimeMs.toDouble)), "ms"),
      ("state.rows_total", state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      ("state.memory_bytes", state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes"),
      ("state.collapse_ratio", if (inputRows == 0) 0.0 else updated / inputRows, "ratio"),
      ("flatten.ms", flattenMs, "ms"),
      ("backfill.first_batch_ms", Stats.median(bf.firstBatchMs.toSeq), "ms"),
      ("sink.flush_ms", sink("flush_nanos") / 1e6, "ms"),
      ("sink.ddl_ms", sink("ddl_nanos") / 1e6, "ms"),
      ("sink.rows", sink("rows").toDouble, "count"),
      ("sink.flushes", flushes, "count"),
      ("sink.rows_per_flush", if (flushes == 0) 0.0 else sink("rows") / flushes, "count"),
      ("sink.commits", sink("commits").toDouble, "count"),
      ("sink.rollbacks", sink("rollbacks").toDouble, "count"),
      ("sink.connections", sink("connections").toDouble, "count"),
      ("pull.p50_ms", Stats.quantile(live.pullMs, 0.5), "ms"),
      ("pull.route_ms", Stats.median(pulls.map(_.routeNanos / 1e6)), "ms"),
      ("pull.exec_ms", Stats.median(pulls.map(p => (p.answered - p.sent - p.routeNanos) / 1e6)), "ms"),
      ("pull.pruned_share", if (pulls.isEmpty) 0.0 else pulls.count(_.pruned).toDouble / pulls.size, "ratio"),
      ("pull.replay_files", if (pulls.isEmpty) 0.0 else pulls.map(_.replayFiles).max.toDouble, "count"),
      ("pull.staleness_batches", if (live.stalenessBatches.isEmpty) 0.0
        else live.stalenessBatches.sum.toDouble / live.stalenessBatches.size, "count"),
      ("query.plan_ms", per(_.planMs), "ms"),
      ("query.exec_ms", per(_.execMs), "ms"),
      ("query.stages", per(_.stages), "count"),
      ("query.shuffle_bytes", per(_.shuffleBytes), "bytes"),
      ("query.spill_bytes", per(_.spillBytes), "bytes"),
      ("query.gc_ms", per(_.gcMs), "ms"),
      ("query.scan_count", per(_.scans), "count"),
      ("jvm.gc_ms", ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble, "ms"),
      ("trace.overhead_pct", sweep.overheadPct, "%"),
      ("backfill.local1_changes_per_s", local1PerS, "1/s"),
      ("gen.late_p99_ms", Stats.quantile(live.lateMs, 0.99), "ms")) ++
      Sweep.Queries.values.flatten.map(_._2).toSeq.distinct.flatMap { m =>
        val ls = layers.filter(l => Sweep.module(l._1) == m)
        def perM(f: Sweep.Layers => Double) =
          ls.groupBy(_._1).values.map(x => Stats.median(x.map(l => f(l._2)))).sum
        Seq((s"query.$m.plan_ms", perM(_.planMs), "ms"), (s"query.$m.exec_ms", perM(_.execMs), "ms"))
      }
  }
}
