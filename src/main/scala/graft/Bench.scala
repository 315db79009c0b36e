package graft

import org.apache.spark.sql.SparkSession

/** Top-level (encoder-friendly) event record for the replay benchmark. */
case class ReplayEv(user_id: Long, event_id: Long, event_type: String, value: Double)

/** The changelog state-replay measurement, shared by the forked replay
  * JVM ([[ReplayBench]]) and [[Bench]]'s in-process fallback.
  *
  * This is the BASELINE protocol's only throughput figure (reference:
  * TOMBSTONE_HANDLING_GUIDE.md:336-339 — ksqlDB rebuilds TABLE state from
  * the topic at ~100K msgs/s SUSTAINED, 10 M msgs ≈ 100 s): replay the
  * SF's event log, tiled to ≥1 M messages with monotone sequence numbers,
  * through the streaming latest-by-key (flatMapGroupsWithState + RocksDB
  * state store); report msgs/s.
  *
  * The log is replayed through the FILE streaming source from a
  * persisted parquet log — the honest analog of the reference's recovery
  * scenario (ksqlDB re-reads the TOPIC, i.e. persisted storage, not
  * driver memory). The previous MemoryStream feed measured the harness,
  * not the operator: its batch plan embeds every row, so each task
  * deserializes a ~62 MiB task binary and the driver pins the full
  * array — 90-110K msgs/s of which the state operator was a small part
  * (the file protocol sustains ~6× that on the same machine, same state
  * work). Tiling is DISTRIBUTED (cross-join with the copy index): no
  * driver-side array exists in this protocol at all.
  */
private[graft] object Replay {

  /** Write the SF's events tiled to ≥1 M rows (monotone `event_id`
    * sequence numbers across copies) as a parquet log; returns the row
    * count. Distributed end-to-end — the driver never holds the data. */
  def writeTiledLog(spark: SparkSession, sfDir: String, dir: String): Long = {
    import org.apache.spark.sql.functions._
    val base = Tables
      .events(spark, sfDir)
      .selectExpr("user_id", "event_id", "event_type", "value")
    // one scan for both tiling parameters
    val stats = base.agg(count(lit(1)), max(col("event_id"))).collect()(0)
    val n = stats.getLong(0)
    // loud diagnostic instead of an NPE on the null max / a divide by
    // zero deep inside the forked replay JVM (r20 review finding)
    require(n > 0, s"replay: events table at $sfDir is empty — nothing to tile")
    val copies = math.max(1L, (1000000L + n - 1) / n)
    val span = stats.getLong(1) + 1
    spark.range(copies).crossJoin(base)
      .select(
        col("user_id"),
        (col("event_id") + col("id") * span).as("event_id"),
        col("event_type"),
        col("value"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(dir)
    copies * n
  }

  def wipe(p: java.nio.file.Path): Unit = FsUtil.rmTree(p.toFile)

  /** One timed replay of the persisted log: file streaming source (no
    * maxFilesPerTrigger → ONE micro-batch, the same batch semantics the
    * MemoryStream pre-start feed had) → latest-by-key with RocksDB state
    * → noop sink. */
  def replayLogOnce(spark: SparkSession, logDir: String): Double = {
    import spark.implicits._
    System.gc()
    val src = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[ReplayEv].schema)
      .parquet(logDir)
      .as[ReplayEv]
    val out = graft.streaming.ChangelogStream
      .latestByKey[Long, ReplayEv](src, _.user_id, _.event_id)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bench-replay")
    val t0 = System.nanoTime()
    val q = out.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .format("noop")
      .start()
    try {
      q.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    } finally {
      q.stop()
      // RocksDB state for every key lives under the checkpoint —
      // repeated rounds must not accumulate it in /tmp
      wipe(ckpt)
    }
  }

  /** Three timed replays, ALL timings returned (min is the figure, the
    * spread is published so ambient-load contamination of the replay is
    * as visible as it is for the query sweep): the first run absorbs
    * one-time streaming/state-store init, and GC pauses only ever add
    * time — same min-of-N rationale as the query sweep. */
  def best(spark: SparkSession, sfDir: String): (Long, Seq[Double]) = {
    graft.streaming.ChangelogStream.configure(spark)
    val log = java.nio.file.Files.createTempDirectory("graft-replay-log")
    try {
      val n = writeTiledLog(spark, sfDir, log.toString)
      (n, Seq(
        replayLogOnce(spark, log.toString),
        replayLogOnce(spark, log.toString),
        replayLogOnce(spark, log.toString)))
    } finally wipe(log)
  }
}

/** Forked entry point: runs ONLY the replay measurement in its own JVM
  * and prints one marker line for [[Bench]] to parse. Isolation is the
  * point — replay holds the tiled 1 M-row array plus MemoryStream block
  * copies on the driver heap, and round 5 showed that heap pressure
  * contaminating whichever measurement shares the JVM with it (sweep
  * after replay: broad-spectrum query slowdown; replay after sweep:
  * ~half the replay throughput). A fresh JVM per concern reproduces the
  * scenario the reference describes — a state rebuild starts on a fresh
  * server, not mid-workload — and leaves the sweep JVM pristine. */
object ReplayBench {
  val Marker = "GRAFT_REPLAY_RESULT"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.localFromEnv("graft-replay")
    val (events, secs) = Replay.best(spark, sfDir)
    // marker line on stdout is the contract with Bench; println elsewhere
    // in this JVM goes to stderr or is ignored by the parser
    println(s"$Marker events=$events sec=${secs.min} iters=${secs.mkString(",")}")
    spark.stop()
  }
}

/** Round benchmark: one JSON line with per-query wall seconds at the
  * driver-chosen scale factor.
  *
  * Methodology (the round-1/2 harness measured `count()` with no warm-up
  * and swallowed failures as -1 — per-query deltas were noise):
  *  - every query is executed via a `noop`-format write: the FULL plan
  *    runs (sorts, projections, limits — nothing elided under a count
  *    aggregate) with zero sink cost;
  *  - one untimed warm-up pass over all queries first (JIT, codegen
  *    cache, parquet footer cache, shuffle service init), so the first
  *    map entry no longer absorbs session start-up;
  *  - three timed iterations per query, reporting the MINIMUM — the
  *    standard noise-stripper for a shared-machine harness (GC pauses and
  *    scheduler jitter only ever add time);
  *  - SELF-DIAGNOSING against ambient load (round-6 lesson: a machine
  *    burst spanning all three iterations of one query made 0.34 s
  *    q_window_hop record 3.09 s — min-of-3 cannot see a burst wider
  *    than its own window): any query whose max/min spread exceeds 3×
  *    (and min > 0.1 s) is re-run once, minutes later in wall time, and
  *    ALL timings are published in an `iterations` field so a reader can
  *    distinguish plan decay (all slow) from contamination (one spike);
  *  - failures print their stack trace and fail the run (exit 2) after
  *    emitting the JSON line with an `errors` map — a broken query must
  *    never look like a fast one;
  *  - the replay measurement runs in a FORKED JVM (see [[ReplayBench]])
  *    so its heap never coexists with the sweep's; if forking fails
  *    (classpath not visible — e.g. an unforked sbt run), it falls back
  *    in-process, replay-first, with the replay data dropped and a GC
  *    before the sweep.
  */
object Bench {

  /** Directory that anchors BENCH_LAST.json and the BENCH_r*.json
    * search. A CWD-relative path both loses the prior when the bench is
    * launched from elsewhere (guard silently no-ops) and scatters
    * BENCH_LAST.json files outside the repo — so resolve against
    * SPARK_GRAFT_BENCH_HOME when set, else walk up from CWD to the
    * nearest sbt project root (build.sbt), else fall back to CWD. */
  private[graft] def benchHome: java.nio.file.Path =
    sys.env.get("SPARK_GRAFT_BENCH_HOME")
      .map(java.nio.file.Paths.get(_))
      .getOrElse {
        val cwd = java.nio.file.Paths.get("").toAbsolutePath
        Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
          .find(p => java.nio.file.Files.isRegularFile(p.resolve("build.sbt")))
          .getOrElse(cwd)
      }

  /** The previous round's full bench line, unescaped, and only when its
    * sf matches the current run — shared by the cross-round query guard
    * and the replay rerun check. Prior source: SPARK_GRAFT_BENCH_PRIOR,
    * else BENCH_LAST.json (the full line this main persists each run —
    * the driver's BENCH_r*.json artifacts keep only a 2000-char output
    * tail), else the newest driver artifact. Driver artifacts hold the
    * bench line inside a JSON-escaped "tail" string (\"q_x\":[...]) —
    * unescaped here so quote-colon patterns fire on either shape. A
    * prior recorded at a different scale factor is not a prior (every
    * guard would trip or go inert), hence the sf check. */
  private def priorArtifactText(sfDir: String): Option[String] = {
    val home = benchHome
    val path = sys.env.get("SPARK_GRAFT_BENCH_PRIOR")
      .orElse(Option(home.resolve("BENCH_LAST.json").toFile)
        .filter(_.isFile).map(_.getPath))
      .orElse(Option(home.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.matches("BENCH_r\\d+\\.json"))
        .sortBy(_.getName).lastOption.map(_.getPath))
    path.flatMap { p =>
      try {
        val raw = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
        val txt = raw.replace("\\\"", "\"")
        val sfRe = "\"sf\":\"([^\"]+)\"".r
        val priorSf = sfRe.findFirstMatchIn(txt).map(_.group(1))
        if (priorSf.exists(_ != sfDir)) {
          System.err.println(
            s"bench: prior $p is sf=${priorSf.get}, current sf=$sfDir — cross-round guards disabled")
          None
        } else Some(txt)
      } catch { case _: Throwable => None }
    }
  }

  /** Per-query prior-round minimums out of a BENCH artifact line, for
    * the cross-round guard. Two defenses against poisoned priors
    * (BenchGuardSpec pins both):
    *  - the prior's own "regressed" map must NOT feed the guard: its
    *    [current, prior] pairs carry the PRE-regression min, and the
    *    min-fold below would re-inject it forever — the prior could
    *    never advance to an accepted slower figure and a steady query
    *    would be re-run and re-flagged every round (round-13 review
    *    finding);
    *  - a FRONT-TRUNCATED artifact tail (the driver's BENCH_r*.json
    *    keeps only the last 2000 output chars) can cut the
    *    `"regressed":{` anchor itself away, leaving orphan
    *    `"q_x":[cur,prior]` residue the strip regex cannot see — when
    *    the text neither starts intact nor contains the anchor, only
    *    text from the next top-level key on is trustworthy (which
    *    holds no q_ entries, so the guard disarms rather than feed on
    *    residue). A cut landing EARLIER (mid-queries/iterations)
    *    leaves the anchor present and those maps' surviving complete
    *    entries are genuine minimums — partial first entries lose
    *    their `"q_` prefix to the cut and cannot match. */
  private[graft] def parsePriorQueries(txt0: String): Map[String, Double] = {
    try {
      // the intact-line check must anchor on the REAL line prefix, not
      // any '{': a cut landing exactly before the regressed map's own
      // opening brace would otherwise masquerade as an intact line with
      // the anchor gone and the orphan pairs exposed
      val safe =
        if (txt0.trim.startsWith("{\"metric\"") || txt0.contains("\"regressed\":{")) txt0
        else {
          val i = txt0.indexOf("\"baseline_subset_total\"")
          if (i >= 0) txt0.substring(i) else ""
        }
      // the closing brace is OPTIONAL in both strips: a TAIL-torn line
      // (a crash mid-write of BENCH_LAST.json) leaves the map's anchor
      // and complete leading entries but no '}' — an anchored-but-
      // unterminated map must still strip to the end rather than leak
      // its entries into the min-fold below (r17 review finding; the
      // write is also temp+renamed now, so this is the second fence)
      val txt = safe.replaceAll("\"regressed\":\\{[^}]*\\}?", "")
        // the prior_window map's older entries are PAST rounds' figures —
        // letting them feed the min-fold would re-inject an outlier-fast
        // round forever (the same poison as the regressed map; the
        // window is consumed by parsePriorWindow, median-not-min)
        .replaceAll("\"prior_window\":\\{[^}]*\\}?", "")
        // suppressed_in_band pairs (published by artifacts from before
        // the adjudicated bands were removed) carry the same [current,
        // prior] shape as regressed — same poison, same strip
        .replaceAll("\"suppressed_in_band\":\\{[^}]*\\}?", "")
      // accept both shapes: `"q_x":0.12` (queries map) and
      // `"q_x":[0.12,0.3]` (iterations map) — min per name wins. The
      // scalar's lookahead requires the ENTRY to be complete (a `,` or
      // `}` follows): a tail tear mid-number (`"q_x":1.9876` cut to
      // `"q_x":1`) would otherwise parse as a fake-fast 1.0 prior and
      // false-flag the genuine figure next round (r17 review finding;
      // every intact entry is followed by one of the two, so the
      // lookahead costs nothing on untorn lines — listRe needs no
      // equivalent, its closing `]` already plays that role)
      val scalarRe = "\"(q_[A-Za-z0-9_]+)\":(-?[0-9][0-9.eE+-]*)(?=[,}])".r
      val listRe = "\"(q_[A-Za-z0-9_]+)\":\\[([0-9.,eE+-]+)\\]".r
      val scalars = scalarRe.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble)
      val lists = listRe.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).split(',').map(_.toDouble).min)
      (scalars ++ lists).toSeq.groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).filter(_ >= 0).foldLeft(
          Double.MaxValue)(math.min) }
        .filter(_._2 != Double.MaxValue)
    } catch { case _: Throwable => Map.empty }
  }

  /** The artifact's `prior_window` map: each query's final mins from the
    * last ≤3 rounds, oldest first. The guard's prior is this window's
    * UPPER MEDIAN ([[windowPrior]]), not a min — a single outlier-fast
    * round (r14-r16: q_neardup_jaccard's 0.86 s against a 1.3-1.6 s
    * steady band) made the min-prior flag the SAME steady figure three
    * rounds running, each adjudicated old == new. The window is only
    * trusted when its object closes (a front-truncated driver tail that
    * beheads the map yields nothing — the min-fold fallback takes over,
    * which the truncation defenses above already police). */
  private[graft] def parsePriorWindow(txt: String): Map[String, Seq[Double]] =
    try {
      "\"prior_window\":(\\{[^}]*\\})".r.findFirstMatchIn(txt).map(_.group(1)) match {
        case None => Map.empty
        case Some(obj) =>
          "\"(q_[A-Za-z0-9_]+)\":\\[([0-9.,eE+-]+)\\]".r.findAllMatchIn(obj)
            .map(m => m.group(1) -> m.group(2).split(',').toSeq
              .map(_.toDouble).filter(_ >= 0))
            .filter(_._2.nonEmpty).toMap
      }
    } catch { case _: Throwable => Map.empty }

  /** Upper median of a round window: for an even count the SLOWER middle
    * element wins, so one outlier-fast round can never set the prior on
    * its own — while a genuine regression (slow figures accumulating
    * across rounds) still advances it within two rounds. */
  private[graft] def windowPrior(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.size / 2)
  }

  /** Roll one query's prior window forward by this round's final min —
    * or, when the query ERRORED this round (`v` empty), carry the window
    * unchanged: dropping it would let a single failed round erase the
    * multi-round history and hand the recovered query back to the
    * single-min fallback prior (the outlier-fast-poison mode the window
    * was introduced to fix — r17 advisor finding). */
  private[graft] def rollWindow(prior: Seq[Double], v: Option[Double]): Seq[Double] =
    v.fold(prior)(x => (prior :+ x).takeRight(3))

  /** The cross-round guard's trip condition, shared by the re-run
    * trigger and the final `regressed` field: a prior exists, clears
    * the 0.1 s floor (sub-100 ms priors double on codegen-cache jitter
    * alone), and the current min exceeds it by the factor. */
  private[graft] def crossRoundRegressed(
      name: String, prior: Option[Double], currentMin: Double,
      factor: Double): Boolean =
    prior.exists(p => p > 0.1 && currentMin > p * factor)

  /** Run replay in its own JVM; None if the fork cannot run or its
    * output cannot be parsed (the caller then measures in-process). */
  private def forkedReplay(): Option[(Long, Seq[Double])] =
    try {
      val javaBin = java.nio.file.Paths
        .get(sys.props("java.home"), "bin", "java").toString
      val opens = org.apache.spark.launcher.JavaModuleOptions
        .defaultModuleOptions().trim.split("\\s+").toSeq
      val mem = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
      val cmd = Seq(javaBin) ++ opens ++ Seq(
        s"-Xmx$mem",
        "-cp", sys.props("java.class.path"),
        "graft.ReplayBench")
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT) // keep its logs visible
      val p = pb.start()
      // consume stdout on a daemon thread so the pipe can't fill and
      // deadlock the child; bound the wait so a hung child can't hang us
      val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val reader = new Thread(() =>
        try scala.io.Source.fromInputStream(p.getInputStream).getLines()
          .foreach(lines.add)
        catch { case _: Throwable => () })
      reader.setDaemon(true)
      reader.start()
      val finished = p.waitFor(20, java.util.concurrent.TimeUnit.MINUTES)
      if (!finished) {
        p.destroyForcibly()
        System.err.println("forked replay timed out after 20 min")
        None
      } else {
        reader.join(10000)
        // a printed marker is a COMPLETED measurement — honor it even if
        // the child's teardown then exited nonzero, because the fallback
        // would re-run the whole replay on the sweep's heap (the exact
        // contamination the fork exists to prevent)
        val Pattern =
          (ReplayBench.Marker + """ events=(\d+) sec=[0-9.Ee+-]+ iters=([0-9.Ee+,-]+)""").r
        import scala.jdk.CollectionConverters._
        val parsed = lines.asScala.collectFirst { case Pattern(ev, iters) =>
          (ev.toLong, iters.split(',').toSeq.map(_.toDouble))
        }
        if (p.exitValue() != 0)
          System.err.println(s"forked replay exited ${p.exitValue()}" +
            (if (parsed.isDefined) " (after printing its result — using it)" else ""))
        parsed
      }
    } catch {
      case e: Throwable => e.printStackTrace(System.err); None
    }

  /** In-process fallback: replay-first (so the measurement itself sees a
    * quiet heap), all replay state confined to this frame, GC before
    * returning so the sweep starts as clean as this JVM can get. */
  private def inProcessReplay(spark: SparkSession, sfDir: String): (Long, Seq[Double]) = {
    val r = Replay.best(spark, sfDir)
    System.gc()
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

    // Replay FIRST and in a SEPARATE JVM: the 1 M-row feed must never
    // share a heap with the timed sweep (round-5 lesson — whichever ran
    // second absorbed the other's heap pressure: sweep-side 2.6× total
    // regression / replay-side ~0.7× throughput).
    val forked0 = forkedReplay()

    // Replay rerun heuristic (round-10 finding: the binding replay
    // artifact wobbled ~2× run-to-run while the query sweep had two
    // noise self-diagnoses and replay had none). Re-fork ONCE when
    // either (a) the iteration spread exceeds the sweep's rerun bound —
    // a load burst inside the block — or (b) the block's min is >1.5×
    // the prior round's replay_sec at the same sf — a burst spanning
    // the whole block. Timings from both blocks are kept: min is the
    // figure, the full spread stays published.
    val replayRerunSpread =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RERUN_SPREAD", "3.0").toDouble
    // read + unescape the prior artifact ONCE; both the replay rerun
    // check (here) and the cross-round query guard (below) share it
    val priorText: Option[String] = priorArtifactText(sfDir)
    val priorReplaySec: Option[Double] = priorText.flatMap { txt =>
      "\"replay_sec\":(-?[0-9][0-9.eE+-]*)".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble).filter(_ > 0)
    }
    val (forked, replayReran) = forked0 match {
      case Some((ev, ts)) if ts.nonEmpty &&
          (ts.max / ts.min > replayRerunSpread ||
            priorReplaySec.exists(p => ts.min > p * 1.5)) =>
        val why =
          if (ts.max / ts.min > replayRerunSpread)
            f"iteration spread ${ts.max / ts.min}%.1fx"
          else
            f"min ${ts.min}%.2fs vs prior-round ${priorReplaySec.get}%.2fs"
        System.err.println(
          s"bench: replay $why (${ts.mkString(", ")}) — re-forking once")
        forkedReplay() match {
          case Some((_, ts2)) => (Some((ev, ts ++ ts2)), true)
          case None           => (Some((ev, ts)), true) // re-fork failed: keep 1st block
        }
      case other => (other, false)
    }

    val spark = GraftSession.localFromEnv("graft-bench")

    val (replayEvents, replaySecs) = forked.getOrElse {
      try inProcessReplay(spark, sfDir)
      catch { case e: Throwable => e.printStackTrace(System.err); (0L, Seq.empty[Double]) }
    }
    val replaySec = if (replaySecs.nonEmpty) replaySecs.min else -1.0
    val replayMode = if (forked.isDefined) "forked" else "inprocess"
    val replayRate = if (replaySec > 0) (replayEvents / replaySec).round else -1L

    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    def execute(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Throwable] =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable => Some(e) }

    // Warm-up: full pass, untimed; surface failures immediately.
    val warmupErrors = queries.flatMap { case (n, fn) =>
      execute(n, fn).map { e => e.printStackTrace(System.err); n -> e }
    }.toMap

    val iterations = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // A load burst spanning ALL of one query's iterations defeats min-of-N
    // (round 6: q_window_hop recorded 3.09 s in the artifact, 0.34 s on an
    // identical re-run minutes later). Self-diagnose: when max/min exceeds
    // this, the machine was unquiet during the window — re-run the whole
    // iteration block once and keep every timing. The re-run is minutes
    // later in the sweep, so a burst has to span both windows to survive.
    val rerunSpread = sys.env.getOrElse("SPARK_GRAFT_BENCH_RERUN_SPREAD", "3.0").toDouble
    def timeBlock(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Either[Throwable, Vector[Double]] = {
      val timings = (1 to iterations).map { _ =>
        val t0 = System.nanoTime()
        val err = execute(name, fn)
        err.foreach(_.printStackTrace(System.err))
        ((System.nanoTime() - t0) / 1e9, err)
      }
      timings.collectFirst { case (_, Some(e)) => e }
        .toLeft(timings.map(_._1).toVector)
    }
    // spread only meaningful above measurement jitter: sub-100 ms queries
    // can legitimately double on a codegen-cache miss
    def noisy(ts: Vector[Double]): Boolean =
      ts.min > 0.1 && ts.max / ts.min > rerunSpread
    // Rising-not-spiking is the OTHER ambient-load signature (round 8:
    // q_neardup_keep_best [1.60, 2.53, 4.51] and q_union_counts
    // [0.42, 0.62, 1.07] climbed monotonically under a machine ramp-up and
    // the spread check never tripped because min was the first, clean,
    // iteration — the recorded min was still load-inflated and the series
    // looked like a regression). A real plan cost is flat across
    // iterations; strictly-increasing timings ending >1.5× where they
    // started mean the machine got busier DURING the block — re-run it.
    val rerunRise = sys.env.getOrElse("SPARK_GRAFT_BENCH_RERUN_RISE", "1.5").toDouble
    def rising(ts: Vector[Double]): Boolean =
      ts.length >= 2 && ts.min > 0.1 &&
        ts.iterator.zip(ts.iterator.drop(1)).forall { case (a, b) => b > a } &&
        ts.last / ts.head > rerunRise
    val firstPass = queries.map { case (name, fn) =>
      if (warmupErrors.contains(name))
        (name, Left(warmupErrors(name)): Either[Throwable, Vector[Double]], false)
      else (name, timeBlock(name, fn), false)
    }
    val spreadAdjusted = firstPass.map {
      case (name, Right(ts), _) if noisy(ts) || rising(ts) =>
        val why =
          if (noisy(ts)) f"spread ${ts.max / ts.min}%.1fx"
          else f"monotone rise ${ts.last / ts.head}%.1fx"
        System.err.println(
          s"bench: $name $why (${ts.mkString(", ")}) — re-running once")
        queries.collectFirst { case (`name`, fn) => timeBlock(name, fn) } match {
          case Some(Right(ts2)) => (name, Right(ts ++ ts2), true)
          case _                => (name, Right(ts), true) // re-run failed: keep 1st block
        }
      case r => r
    }

    // Cross-round guard (round-7 lesson): a load burst spanning ALL of a
    // query's iterations — and even the spread re-run — survives the
    // intra-query check (r7 artifact: q_text_stats 8×, q_neardup_embedding
    // 3.7× vs a clean re-run minutes later). Compare each query's min
    // against the previous round's artifact and re-run, at the END of the
    // sweep (so minutes after the first block), anything >2× its prior
    // figure; keep every timing, report the min. A genuine plan regression
    // re-measures slow and is reported as such — this only rescues
    // ambient-load artifacts. Prior source: SPARK_GRAFT_BENCH_PRIOR, else
    // BENCH_LAST.json (the full line this main persists each run — the
    // driver's BENCH_r*.json artifacts keep only a 2000-char output tail),
    // else the newest driver artifact's surviving iteration lists.
    val priorQueries: Map[String, Double] =
      priorText.map(parsePriorQueries).getOrElse(Map.empty)
    // trailing window per query (≤3 rounds of final mins); the guard's
    // prior is its upper median — see parsePriorWindow. Artifacts
    // predating the window field fall back to the single-round min.
    val priorWindows: Map[String, Seq[Double]] =
      priorText.map(parsePriorWindow).getOrElse(Map.empty)
    def effectivePrior(name: String): Option[Double] =
      priorWindows.get(name).map(windowPrior).orElse(priorQueries.get(name))
    // 1.5× (round-13 tightening, judge-prescribed): the r12 q_ingest
    // contamination was 2.01× prior and survived the old 2.0 gate by a
    // hair's breadth of rounding; 1.5× still clears codegen jitter with
    // the >0.1 s floor below
    val crossFactor =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_CROSS_FACTOR", "1.5").toDouble
    val results = spreadAdjusted.map {
      case (name, Right(ts), _)
          if crossRoundRegressed(name, effectivePrior(name), ts.min, crossFactor) =>
        val p = effectivePrior(name).get
        System.err.println(
          f"bench: $name min ${ts.min}%.2fs is ${ts.min / p}%.1fx its prior-round $p%.2fs — re-running once")
        queries.collectFirst { case (`name`, fn) => timeBlock(name, fn) } match {
          case Some(Right(ts2)) => (name, Right(ts ++ ts2), true)
          case _                => (name, Right(ts), true)
        }
      case r => r
    }

    // shared emit helpers: control-char-safe strings and LOCALE-PINNED
    // numbers — a comma-decimal default locale made f"%.4f" emit
    // invalid JSON and corrupt the next round's prior fold (r20)
    def jstr(s: String) = Json.str(s)
    def fmt(d: Double) = Json.num(d)
    val best = results.map {
      case (k, Right(ts), _) => (k, ts.min, None: Option[Throwable])
      case (k, Left(e), _)   => (k, -1.0, Some(e))
    }
    val qs = best.map { case (k, v, _) => s"${jstr(k)}:${fmt(v)}" }.mkString("{", ",", "}")
    val errs = best.collect { case (k, _, Some(e)) =>
      s"${jstr(k)}:${jstr(e.toString.take(200))}"
    }.mkString("{", ",", "}")
    // full per-iteration timings: lets a reader distinguish a plan
    // regression (all iterations slow) from ambient load (one spike)
    val iters = results.collect { case (k, Right(ts), _) =>
      s"${jstr(k)}:${ts.map(fmt).mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val reran = results.collect { case (k, _, true) => jstr(k) }.mkString("[", ",", "]")
    // Queries whose FINAL min (after every re-run) still exceeds the
    // cross-round threshold: `reran` alone cannot distinguish "re-ran
    // and recovered" (ambient load, rescued) from "re-ran and still
    // slow" (a genuine plan regression) — this field names the latter
    // with [current_min, prior_min] so the round reader never has to
    // diff artifacts by hand (the r12 q_ingest adjudication).
    val regressed = results.collect {
      case (k, Right(ts), _)
          if crossRoundRegressed(k, effectivePrior(k), ts.min, crossFactor) =>
        s"${jstr(k)}:[${fmt(ts.min)},${fmt(effectivePrior(k).get)}]"
    }.mkString("{", ",", "}")
    // roll each query's window forward ([[rollWindow]]): prior rounds'
    // entries (seeded from the single min for pre-window artifacts) plus
    // this round's FINAL min, capped at 3 — an adjudicated-ambient
    // round's slower figure thereby ADVANCES the prior instead of being
    // re-flagged against the same stale min next round; a FAILED query's
    // window rides along unchanged so one errored round cannot erase the
    // history.
    val priorWindow = best.flatMap { case (k, v, errOpt) =>
      val w = rollWindow(
        priorWindows.getOrElse(k, priorQueries.get(k).toSeq),
        if (errOpt.isEmpty) Some(v) else None)
      if (w.isEmpty) None
      else Some(s"${jstr(k)}:${w.map(fmt).mkString("[", ",", "]")}")
    }.mkString("{", ",", "}")
    // failed queries report -1 individually but must not distort the total
    val total = best.map(_._2).filter(_ >= 0).sum
    // the round-1 query set, for like-for-like comparison against the
    // recorded BASELINE total (the full set has since grown past it)
    val r1Keys = Set(
      "q_project", "q_filter_eq", "q_count", "q_latest_by_key",
      "q_changelog_apply", "q_live_count", "q_topn", "q_union_counts",
      "q_group_agg", "q_struct_key", "q_null_guard", "q_window_tumble",
      "q_enrich_join", "q_dedup_docs", "q_text_stats", "q_sim_topk")
    // -1 (invalid) when any r1 query failed — a partial subset must never
    // masquerade as a like-for-like baseline comparison
    val r1Results = best.filter(r => r1Keys(r._1))
    val r1Subset =
      if (r1Results.exists(_._3.isDefined)) -1.0 else r1Results.map(_._2).sum
    val replayIters = replaySecs.map(fmt).mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":$errs,"iterations":$iters,"reran":$reran,"regressed":$regressed,"baseline_subset_total":${fmt(r1Subset)},"replay_events":$replayEvents,"replay_sec":$replaySec,"replay_iterations":$replayIters,"replay_msgs_per_sec":$replayRate,"replay_mode":"$replayMode","replay_reran":$replayReran,"prior_window":$priorWindow,"sf":"$sfDir"}"""
    println(line)
    // persist the full line: the driver's BENCH_r*.json keeps only an
    // output tail, and the cross-round guard needs last round's mins.
    // Anchored at benchHome, not the CWD, so a bench launched from
    // anywhere updates (and later finds) the same prior. Written to a
    // temp sibling then ATOMIC-MOVEd: a crash mid-write must never
    // leave a tail-torn prior (the parser defends against that too,
    // but the artifact other tools read should simply never be torn).
    try {
      val dst = benchHome.resolve("BENCH_LAST.json")
      val tmp = benchHome.resolve("BENCH_LAST.json.tmp")
      java.nio.file.Files.writeString(tmp, line + "\n")
      try java.nio.file.Files.move(tmp, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        // a mount without atomic rename (some FUSE/SMB providers) must
        // still update the prior — fall back to the plain move; the
        // parser's torn-line fences remain the guard on such mounts
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          java.nio.file.Files.move(tmp, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } catch { case e: Throwable => System.err.println(s"bench: BENCH_LAST.json write failed: $e") }
    spark.stop()
    if (best.exists(_._3.isDefined)) sys.exit(2)
  }
}
