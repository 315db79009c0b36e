package graft

/** The session confs the oracle contract rests on, pinned: every
  * determinism argument in SURVEY/PLANS (hash-stable dumps, UTC
  * timestamp semantics, nanos-as-long events, ANSI casts, the
  * changelog aggregate's hash-map ceiling) assumes
  * [[GraftSession.configure]] set these — a future edit or a cluster
  * profile override slipping into the factory would silently change
  * query SEMANTICS, not just speed, and surface as an opaque oracle
  * hash mismatch a round later. */
class GraftSessionSpec extends SparkTestBase {

  test("configure pins the semantics-bearing confs") {
    // the shared test session went through GraftSession.local → configure
    val c = spark.conf
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.ansi.enabled") == "true",
      "ANSI semantics are pinned, not inherited — the oracle assumes one fixed cast/overflow behavior")
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") == "true",
      "events.parquet carries TIMESTAMP(NANOS); reading as Long is the lossless contract")
    assert(c.get("spark.sql.adaptive.enabled") == "true")
    assert(
      c.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "262144",
      "the changelog aggregate's hash-map ceiling (the 128 default re-introduces the per-partition sort)")
    assert(c.get("fs.AbstractFileSystem.file.impl") == classOf[LocalFs.Fs].getName,
      "checkpoint files (FileContext) go through the fork-free local filesystem")
    assert(c.get("fs.file.impl") == classOf[LocalFs.FileSystem].getName)
  }

  test("configure is idempotent and re-asserts over a drifted session") {
    val pinned = Seq(
      "spark.sql.ansi.enabled" -> ("false", "true"),
      "fs.AbstractFileSystem.file.impl" -> ("org.apache.hadoop.fs.local.LocalFs", classOf[LocalFs.Fs].getName),
      "fs.file.impl" -> ("org.apache.hadoop.fs.LocalFileSystem", classOf[LocalFs.FileSystem].getName))
    val prior = pinned.map { case (key, _) => key -> spark.conf.get(key) }
    try {
      // a cluster profile or test flipped them
      pinned.foreach { case (key, (drifted, _)) => spark.conf.set(key, drifted) }
      GraftSession.configure(spark)
      pinned.foreach { case (key, (_, expected)) =>
        assert(spark.conf.get(key) == expected,
          s"configure must re-pin $key over a drifted session")
      }
    } finally prior.foreach { case (key, v) => spark.conf.set(key, v) }
  }
}
