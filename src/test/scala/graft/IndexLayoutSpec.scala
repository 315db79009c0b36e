package graft

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** The two round-16 index-layout primitives, pinned at the unit level
  * (the integration suites — SimilaritySpec/SearchSpec/
  * MinhashCompactSpec — prove the probes still answer identically;
  * this suite pins the LAYOUT contracts those probes' cost model rests
  * on, so a future writer or reader change cannot regress them while
  * the answer-equality specs stay green):
  *
  *  - [[Similarity.spreadForWrite]]: a partitioned write emits files ∝
  *    partition values (never tasks×values), and at SMALL value counts
  *    the row-derived salt keeps the write parallel instead of one
  *    task per hot value;
  *  - [[Similarity.prunedPartitionRead]]: reading explicit partition
  *    subpaths equals the full read filtered to the same values — same
  *    rows, same schema including partition columns — and the
  *    no-matching-dirs case returns an empty frame with the full
  *    schema rather than failing.
  */
class IndexLayoutSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-layout").toString

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    walk(new java.io.File(dir))
  }

  test("spreadForWrite: files proportional to partition values, not tasks x values") {
    // 40K rows over 64 buckets from MANY input partitions: an unspread
    // write would emit up to tasks x 64 files; the contract is ~1/bucket
    // (spread == 1 here — 64 >= 2x the 4-core test parallelism)
    val dir = tmp()
    val df = spark.range(0, 40000, 1, 16)
      .select(col("id"), pmod(col("id"), lit(64)).as("bucket"))
    Similarity.spreadForWrite(df, 64, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(dir)
    val files = parquetFiles(dir)
    assert(files.size == 64, s"expected one file per bucket, got ${files.size}")
    // and the layout held the data
    assert(spark.read.parquet(dir).count() == 40000)
  }

  /** At unit-test volumes AQE legitimately coalesces the tiny salted
    * partitions back together (every slice far below the advisory
    * size — the regime where a serialized write costs nothing); the
    * salt's contract is for slices too big to merge, so the mechanism
    * is pinned with coalescing OFF, conf restored in finally (shared
    * test session). */
  private def withoutAqeCoalesce[A](body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("spreadForWrite: small value counts stay parallel via the row-derived salt") {
    // 2 buckets at 4-core parallelism → spread = ceil(2*4/2) = 4: up to
    // 4 files per bucket (the salt), bounded — NOT tasks x buckets (16
    // input partitions would give up to 32), and MORE than 1 per bucket
    // so a hot bucket is not a single serialized task
    withoutAqeCoalesce {
      val dir = tmp()
      val df = spark.range(0, 40000, 1, 16)
        .select(col("id"), pmod(col("id"), lit(2)).as("bucket"))
      Similarity.spreadForWrite(df, 2, col("bucket"))
        .write.partitionBy("bucket").mode("overwrite").parquet(dir)
      val perBucket = parquetFiles(dir)
        .groupBy(_.getParentFile.getName).view.mapValues(_.size).toMap
      assert(perBucket.keySet == Set("bucket=0", "bucket=1"), perBucket.toString)
      perBucket.foreach { case (b, n) =>
        assert(n > 1 && n <= 4, s"$b: expected 2..4 salted files, got $n")
      }
      assert(spark.read.parquet(dir).count() == 40000)
    }
  }

  test("spreadForWrite: the salt is row-derived — immune to an input coalesced to one partition") {
    // the spark_partition_id salt this replaced degenerates to ONE value
    // on a single-partition input (AQE coalescing shape); the row hash
    // must still spread the hot bucket
    withoutAqeCoalesce {
      val dir = tmp()
      val df = spark.range(0, 40000, 1, 1) // ONE input partition
        .select(col("id"), lit(0).as("bucket")) // one hot bucket
      Similarity.spreadForWrite(df, 1, col("bucket"))
        .write.partitionBy("bucket").mode("overwrite").parquet(dir)
      val files = parquetFiles(dir)
      assert(files.size > 1,
        s"a row-derived salt must spread the single hot bucket, got ${files.size} file(s)")
      assert(spark.read.parquet(dir).count() == 40000)
    }
  }

  test("graft.index.writeParallelism overrides the plan-time parallelism probe") {
    // dynamic-allocation regime: defaultParallelism at PLAN time is the
    // submit-time executor count, not the fleet the write will have —
    // the conf names the real target and overrides the probe entirely.
    // Declared 1-wide here: spread must compute 1 (one file per bucket)
    // even though this session's 4-core default would have salted 2
    // buckets into up to 4 files each (the test above pins that side).
    withoutAqeCoalesce {
      val dir = tmp()
      val df = spark.range(0, 40000, 1, 16)
        .select(col("id"), pmod(col("id"), lit(2)).as("bucket"))
      spark.conf.set("graft.index.writeParallelism", "1")
      try Similarity.spreadForWrite(df, 2, col("bucket"))
        .write.partitionBy("bucket").mode("overwrite").parquet(dir)
      finally spark.conf.unset("graft.index.writeParallelism")
      assert(parquetFiles(dir).size == 2,
        "a declared 1-wide fleet means spread == 1: one file per bucket")
      // (the widening direction — conf ABOVE defaultParallelism — is not
      // observable here: salted file count is capped by the session's 4
      // shuffle partitions before the larger spread can show)
    }
  }

  test("spreadForWrite: map and dotted-name payload columns survive the salt") {
    // the salt hashes ROWS, but hash expressions reject MapType and a
    // raw col("a.b") parses as nested-field access — payloads ride into
    // every index (compressedKeep, the Lsh layout's col("*")), so a
    // legal map/dotted payload must not fail the build when spread > 1
    val dir = tmp()
    val df = spark.range(0, 1000, 1, 8)
      .select(
        col("id"),
        pmod(col("id"), lit(2)).as("bucket"),
        map(lit("k"), col("id").cast("string")).as("meta"),
        (col("id") * 2).as("dotted.name"))
    Similarity.spreadForWrite(df, 2, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 1000)
    assert(back.columns.toSet == Set("id", "bucket", "meta", "dotted.name"))
  }

  test("prunedPartitionRead equals the full read filtered to the same values") {
    val dir = tmp()
    val df = (0 until 1000).map(i => (i.toLong, i % 8, s"p$i")).toDF("id", "bucket", "payload")
    Similarity.spreadForWrite(df, 8, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val pruned = Similarity.prunedPartitionRead(spark, fs, dir, Seq("bucket=2", "bucket=5"))
    val full = spark.read.parquet(dir).filter(col("bucket").isin(2, 5))
    assert(pruned.columns.sorted.toSeq == full.columns.sorted.toSeq,
      "partition column must survive the explicit-dir read (basePath)")
    val a = pruned.select("id", "bucket", "payload").collect().map(_.toString).sorted
    val b = full.select("id", "bucket", "payload").collect().map(_.toString).sorted
    assert(a.sameElements(b), "pruned read must equal filtered full read")
    // a value with no directory on disk is simply absent, never an error
    val sparse = Similarity.prunedPartitionRead(
      spark, fs, dir, Seq("bucket=2", "bucket=99"))
    assert(sparse.count() == full.filter(col("bucket") === 2).count())
  }

  test("prunedPartitionRead: no matching dirs yields an EMPTY frame with the full schema") {
    val dir = tmp()
    val df = (0 until 100).map(i => (i.toLong, i % 4)).toDF("id", "bucket")
    Similarity.spreadForWrite(df, 4, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val none = Similarity.prunedPartitionRead(spark, fs, dir, Seq("bucket=77"))
    assert(none.count() == 0)
    assert(none.columns.sorted.toSeq == Seq("bucket", "id"),
      "the schema-source fallback must carry the full schema")
  }

  test("prunedPartitionRead: totalValues arms the dense short-circuit, sparse stays exact") {
    val dir = tmp()
    val df = (0 until 1000).map(i => (i.toLong, i % 8)).toDF("id", "bucket")
    Similarity.spreadForWrite(df, 8, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // DENSE (6 of 8 named = 75%, at the ≥¾ threshold): ONE root read,
    // with the named-subpaths-only contract held STRUCTURALLY — a
    // guard-less caller (no isin of its own) still gets exactly the
    // named partitions' rows (r18: the r17 shape returned non-named
    // rows and relied on every caller's own filter, a comment-enforced
    // trap)
    val named = (0 until 6).map(b => s"bucket=$b")
    val dense = Similarity.prunedPartitionRead(
      spark, fs, dir, named, totalValues = Some(8))
    assert(dense.count() ==
      spark.read.parquet(dir).filter(col("bucket") < 6).count(),
      "guard-less dense call must return ONLY the named partitions' rows")
    assert(dense.select("bucket").distinct().collect().map(_.getInt(0)).sorted
      .sameElements(Array(0, 1, 2, 3, 4, 5)))
    // still the ROOT-read path (one listing, no per-dir exists calls):
    // the scan's file index is rooted at the table dir, not six subdirs…
    val roots = dense.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths
    }.flatten
    assert(roots.map(_.getName) == Seq(new java.io.File(dir).getName),
      s"dense path must read the ROOT, got $roots")
    // …and the structural predicate partition-prunes at that scan, so
    // the residual 2 non-named buckets cost no read
    val plan = dense.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("bucket"),
      s"dense root read must partition-prune via the structural guard:\n${plan.take(2000)}")
    // a caller's own redundant isin (every probe keeps one for the
    // streamed/ union) composes harmlessly
    assert(dense.filter(col("bucket").isin(0 to 5: _*)).count() == dense.count())
    // SPARSE (2 of 8 = 25%): exact named-dirs semantics unchanged — the
    // same totalValues hint must NOT leak non-named rows
    val sparse = Similarity.prunedPartitionRead(
      spark, fs, dir, Seq("bucket=2", "bucket=5"), totalValues = Some(8))
    assert(sparse.select("bucket").distinct().collect().map(_.getInt(0)).sorted
      .sameElements(Array(2, 5)))
    // dense probe whose named dirs are ALL absent while others exist:
    // the root read surfaces nothing through the structural guard — an
    // empty result with the full schema, no caller filter needed
    val partial = tmp()
    df.filter(col("bucket") >= 6)
      .write.partitionBy("bucket").mode("overwrite").parquet(partial)
    val ghosts = Similarity.prunedPartitionRead(
      spark, fs, partial, named, totalValues = Some(8))
    assert(ghosts.count() == 0,
      "non-named partitions' rows must never surface, even guard-less")
    assert(ghosts.columns.sorted.toSeq == Seq("bucket", "id"))
    // EMPTY probe set with totalValues = Some(0) (an empty index's
    // centroid roster): 0*4 >= 0*3 must NOT arm the dense root read —
    // that handed the predicate builder a no-names list (empty reduce,
    // r18 review). No probed values means no rows, schema intact.
    val empty = Similarity.prunedPartitionRead(
      spark, fs, dir, Nil, totalValues = Some(0))
    assert(empty.count() == 0, "an empty probe set names no rows")
    assert(empty.columns.sorted.toSeq == Seq("bucket", "id"))
  }

  test("the dense guard predicate covers the nested band/sig shape and escaped strings") {
    val dir = tmp()
    val df = (0 until 400)
      .map(i => (i.toLong, i % 4, (i / 4) % 2)).toDF("id", "band", "sig")
    Similarity.spreadForWrite(df, 8, col("band"), col("sig"))
      .write.partitionBy("band", "sig").mode("overwrite").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // 6 of 8 (band, sig) pairs named → dense root read; only those six
    // pairs' rows may come back
    val named = for { b <- 0 until 3; s <- 0 until 2 } yield s"band=$b/sig=$s"
    val dense = Similarity.prunedPartitionRead(
      spark, fs, dir, named, totalValues = Some(8))
    assert(dense.select("band").distinct().collect().map(_.getInt(0)).sorted
      .sameElements(Array(0, 1, 2)))
    assert(dense.count() ==
      spark.read.parquet(dir).filter(col("band") < 3).count())
    // STRING partition values round-trip through the writer's path
    // escaping: the guard must compare the unescaped value
    val sdir = tmp()
    Seq((1L, "a b"), (2L, "c:d"), (3L, "plain"), (4L, "x%y"))
      .toDF("id", "term")
      .write.partitionBy("term").mode("overwrite").parquet(sdir)
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    val wanted = Seq("a b", "c:d", "x%y").map(t => s"term=${escapePathName(t)}")
    val sd = Similarity.prunedPartitionRead(
      spark, fs, sdir, wanted, totalValues = Some(4))
    assert(sd.select("term").distinct().collect().map(_.getString(0)).sorted
      .sameElements(Array("a b", "c:d", "x%y")), "escaped string values must unescape in the guard")
    // hostile battery: every character class the writer's path escaping
    // handles must round-trip through the guard the same way — embedded
    // '=' (the segment split takes the FIRST one), '/', '%', ';', '#',
    // unicode, leading space, trailing dot. Production probes use
    // integer values only; this pins the helper's documented generic
    // string contract.
    // (non-ASCII values are excluded: this container's POSIX locale
    // cannot map them at the JVM filesystem layer — an environment
    // limit upstream of the guard, not an escaping case)
    val hostile = Seq("k=v", "a/b", "100%", "semi;colon",
      "it's", " lead", "trail.", "#hash")
    val hdir = tmp()
    hostile.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "term")
      .write.partitionBy("term").mode("overwrite").parquet(hdir)
    val probedH = hostile.take(6) // 6 of 8 → dense root read
    val hd = Similarity.prunedPartitionRead(
      spark, fs, hdir, probedH.map(t => s"term=${escapePathName(t)}"),
      totalValues = Some(hostile.size))
    assert(hd.select("term").distinct().collect().map(_.getString(0)).sorted
      .sameElements(probedH.sorted),
      "hostile partition values must round-trip writer-escape -> guard-unescape")
    // same battery through the SPARSE path (2 of 8): exact named dirs
    val hs = Similarity.prunedPartitionRead(
      spark, fs, hdir, hostile.takeRight(2).map(t => s"term=${escapePathName(t)}"))
    assert(hs.select("term").distinct().collect().map(_.getString(0)).sorted
      .sameElements(hostile.takeRight(2).sorted))
  }

  test("prunedPartitionRead handles nested partition subpaths (the LSH band/sig shape)") {
    val dir = tmp()
    val df = (0 until 400)
      .map(i => (i.toLong, i % 4, (i / 4) % 5)).toDF("id", "band", "sig")
    Similarity.spreadForWrite(df, 20, col("band"), col("sig"))
      .write.partitionBy("band", "sig").mode("overwrite").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val pruned = Similarity.prunedPartitionRead(
      spark, fs, dir, Seq("band=1/sig=3", "band=2/sig=0"))
    val full = spark.read.parquet(dir)
      .filter((col("band") === 1 && col("sig") === 3) || (col("band") === 2 && col("sig") === 0))
    val a = pruned.select("id", "band", "sig").collect().map(_.toString).sorted
    val b = full.select("id", "band", "sig").collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }
}
