package graft

import org.apache.spark.sql.SparkSession

/** Session factory + runtime configuration for the graft engine.
  *
  * Design notes (100 TB target, tested on local[N]):
  *  - AQE stays on (Spark 4 default): runtime coalescing of shuffle
  *    partitions, skew-join splitting, and dynamic broadcast demotion are
  *    exactly the knobs a 1000-executor run needs.
  *  - `spark.sql.shuffle.partitions` is sized to the local core count here;
  *    on a real cluster it would be ~2-3x total cores and AQE coalesces down.
  *  - Session timezone pinned UTC so timestamp semantics are stable across
  *    driver, executors, and the DuckDB oracle.
  */
object GraftSession {

  /** Runtime confs every graft session needs, settable on an existing
    * session (the driver owns SparkSession creation in Verify/Bench). */
  def configure(spark: SparkSession): SparkSession = {
    // The driver-generated events table carries parquet TIMESTAMP(NANOS),
    // which Spark cannot represent losslessly (TimestampType is micros).
    // Reading nanos as Long keeps full precision and makes ordering /
    // comparisons exact and engine-independent.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // Pinned, not inherited: ANSI semantics (strict casts/overflow, the
    // Spark 4 default) must not flip under us if a cluster profile
    // overrides it — the oracle comparison assumes one fixed semantics.
    // NaN/Infinity inputs to the exact-decimal sums are guarded inside
    // Relational.exactSum, so strict mode cannot crash the aggregates.
    spark.conf.set("spark.sql.ansi.enabled", "true")
    // ObjectHashAggregate (the planning of the LatestRow changelog
    // aggregate) falls back to SORT-based aggregation once a task's hash
    // map exceeds this many keys — the 128 default re-introduces exactly
    // the per-partition sort the aggregate exists to avoid for any real
    // key count. 256K keys × the reference's worst-case ~1-2 KB/key
    // (TOMBSTONE_HANDLING_GUIDE.md:317-320) caps the un-spillable map at
    // ~384 MB/task; beyond that the fallback degrades GRACEFULLY — only
    // the input remaining after the threshold is sort-aggregated
    // (spillable), the hashed prefix keeps its buffers. Session-global:
    // every object aggregate shares this ceiling, so it is sized to
    // executor memory, not to ambition.
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
    // local-disk checkpoint and state files without a forked chmod /
    // readlink per file (see LocalFs)
    LocalFs.install(spark)
  }

  /** The driver entry points' session: core count from SPARK_GRAFT_CPUS
    * (default 4 — the driver's harness size), shuffle partitions sized
    * to it, UTC, no UI, WARN logs, and [[configure]] applied. ONE
    * builder for Verify/Bench/ReplayBench so the three cannot drift
    * (r20 review finding: each hand-rolled the same five lines). */
  def localFromEnv(appName: String): SparkSession =
    local(appName, sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

  /** Local session for tests / ad-hoc runs. */
  def local(appName: String = "graft", cores: Int = 32): SparkSession = {
    // also as SparkContext Hadoop confs: FileSystem instances are cached
    // per JVM by scheme, so the first `file:` instance must be graft's
    val builder = LocalFs.confs.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(s"spark.hadoop.$k", v)
    }
    val spark = builder
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
  }
}
