package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Similarity-search contracts: a plain-Scala brute-force cosine top-k
  * over the embeddings fixture compared exactly against the DataFrame
  * plan (the independent check behind the SQL oracle), plus recall
  * floors for the LSH and IVF scale paths in the regimes they are built
  * for. */
class SimilaritySpec extends SparkTestBase {

  private val k = 10
  private val queryId = 0L

  /** The index root's live generation directory (Generations layout),
    * scheme-stripped so java.io.File assertions can walk it. */
  private def genDir(path: String): String = {
    val root = new org.apache.hadoop.fs.Path(path)
    graft.ops.Generations
      .currentDir(root.getFileSystem(spark.sessionState.newHadoopConf()), root)
      .toUri.getPath
  }

  /** (id, vector) pairs of the fixture, driver-side. */
  private lazy val vecs: Array[(Long, Array[Float])] =
    Tables
      .embeddings(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact top-k by (cosine desc, id asc) in plain Scala. */
  private lazy val expected: Seq[(Long, Double)] = {
    val q = vecs.find(_._1 == queryId).get._2
    vecs
      .filter(_._1 != queryId)
      .map { case (id, v) => (id, cosine(v, q)) }
      .sortBy { case (id, c) => (-c, id) }
      .take(k)
      .toSeq
  }

  test("bruteForceTopK matches plain-Scala cosine oracle exactly") {
    val got = Similarity
      .bruteForceTopK(Tables.embeddings(spark, sf001), "vec_id", "embedding", queryId, k)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq
    assert(got.map(_._1) == expected.map(_._1), "neighbor ids / order differ")
    got.zip(expected).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-9, s"cosine drift: got $g expected $e")
    }
  }

  test("lshTopK recall >= 0.9 on clustered data with default params") {
    // The LSH use case: near-duplicate neighborhoods (cosine ≳ 0.9).
    // Deterministic synthetic clusters: 10 centers, 20 members each,
    // member = center + small noise → intra-cluster cosine ≈ 0.98.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 64
    val data = (0 until 10).flatMap { c =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      (0 until 20).map { m =>
        val v = center.map(x => (x + 0.1 * rnd.nextGaussian()).toFloat)
        (c * 20L + m, v)
      }
    }
    val df = data.toDF("vec_id", "embedding")
    val q = data.find(_._1 == 0L).get._2
    val truth = data
      .filter(_._1 != 0L)
      .map { case (id, v) => (id, cosine(v, q)) }
      .sortBy { case (id, c) => (-c, id) }
      .take(k)
      .map(_._1)
      .toSet
    val got = Similarity
      .lshTopK(df, "vec_id", "embedding", queryId = 0L, k = k)
      .collect()
      .map(_.getLong(0))
      .toSet
    val recall = truth.count(got.contains).toDouble / k
    assert(recall >= 0.9, s"LSH recall $recall < 0.9 (got ${got.toSeq.sorted})")
  }

  test("lshTopK matches brute force on the fixture when bands are tuned to its regime") {
    // The fixture's vectors are near-random (top-10 cosine ≈ 0.27-0.33,
    // measured) — the regime where banding must be dense to recall
    // anything. 24 bands × 3 bits measures recall 1.0 here (grid-probed;
    // the Gaussian-hyperplane theory value is optimistic for the
    // hash-derived uniform planes). This exercises the signature join +
    // dedup + re-rank path end-to-end on real parquet input.
    val got = Similarity
      .lshTopK(Tables.embeddings(spark, sf001), "vec_id", "embedding", queryId, k,
        bands = 24, bitsPerBand = 3)
      .collect()
      .map(_.getLong(0))
      .toSet
    val recall = expected.map(_._1).count(got.contains).toDouble / k
    assert(recall >= 0.9, s"LSH recall $recall < 0.9 (got ${got.toSeq.sorted})")
  }

  test("lshTopK knownDim skips detection and answers identically") {
    // the detect-once convention (the trainers' knownDim, extended to
    // the per-probe callers r17): passing the corpus dim must change
    // nothing but the skipped aggregate pass
    val emb = Tables.embeddings(spark, sf001)
    val dim = Similarity.detectDim(emb, "embedding")
    assert(dim > 0)
    val detected = Similarity
      .lshTopK(emb, "vec_id", "embedding", queryId, k, bands = 24, bitsPerBand = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val known = Similarity
      .lshTopK(emb, "vec_id", "embedding", queryId, k, bands = 24, bitsPerBand = 3,
        knownDim = dim)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(known == detected)
  }

  test("ivfTopK matches brute force on the fixture at the declared (k=8, nProbe=6)") {
    // Near-random fixture geometry: the true top-10 scatters across
    // buckets, so the declared query probes 6 of 8 (grid-probed: exact
    // equality at every SF). Clustered data — IVF's real regime — needs
    // only nProbe=1 (next test).
    val got = Similarity
      .ivfTopK(Tables.embeddings(spark, sf001), "vec_id", "embedding", queryId, k,
        nCentroids = 8, nProbe = 6)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq
    assert(got.map(_._1) == expected.map(_._1), "neighbor ids / order differ")
    got.zip(expected).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-9, s"cosine drift: got $g expected $e")
    }
  }

  test("ivfTopK recall >= 0.9 on clustered data probing a SINGLE bucket") {
    // IVF's sweet spot: clustered corpora, where the query's cluster maps
    // to one centroid bucket and nProbe=1 reads ~1/k of the corpus.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 64
    val data = (0 until 8).flatMap { c =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      (0 until 25).map { m =>
        val v = center.map(x => (x + 0.1 * rnd.nextGaussian()).toFloat)
        (c * 25L + m, v)
      }
    }
    val df = data.toDF("vec_id", "embedding")
    val q = data.find(_._1 == 0L).get._2
    val truth = data
      .filter(_._1 != 0L)
      .map { case (id, v) => (id, cosine(v, q)) }
      .sortBy { case (id, c) => (-c, id) }
      .take(k)
      .map(_._1)
      .toSet
    val got = Similarity
      .ivfTopK(df, "vec_id", "embedding", queryId = 0L, k = k,
        nCentroids = 8, nProbe = 1)
      .collect()
      .map(_.getLong(0))
      .toSet
    val recall = truth.count(got.contains).toDouble / k
    assert(recall >= 0.9, s"IVF recall $recall < 0.9 (got ${got.toSeq.sorted})")
  }

  test("ivfTopK with a NULL query vector returns empty, not an NPE") {
    import spark.implicits._
    val df = Seq(
      (0L, null.asInstanceOf[Array[Float]]),
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    assert(Similarity.ivfTopK(df, "vec_id", "embedding", queryId = 0L, k = 5).count() == 0)
  }

  test("persisted IVF index: probe is partition-pruned and equals the in-memory ivfTopK") {
    val emb = Tables.embeddings(spark, sf001)
    val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8)
    val floatIvf = Similarity.IvfFloat("vec_id", "embedding", centroids)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-index").toString
    Similarity.writeIndex(emb, floatIvf, path)
    // bucket-partitioned directories on disk (≤ k; a trained centroid may
    // legitimately attract no fixture vectors)
    val bucketDirs =
      new java.io.File(s"${genDir(path)}/base").listFiles()
        .filter(_.getName.startsWith("bucket="))
    assert(bucketDirs.nonEmpty && bucketDirs.length <= 8)
    val qVec = vecs.find(_._1 == queryId).get._2
    val probed = Similarity.probeIndex(
      spark, path, floatIvf, qVec, k, nProbe = 6, excludeId = Some(queryId))
    // the scan carries a partition filter on bucket — directory-level
    // pruning, not a post-scan filter
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)
    val got = probed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mem = Similarity
      .ivfTopK(emb, "vec_id", "embedding", queryId, k, nCentroids = 8, nProbe = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == mem)
    // (6 of 8 = 75% sits exactly AT the dense threshold, so the probe
    // above also exercises the root-read short-circuit — the isin guard
    // keeps the PartitionFilters assertion and the answer equality.)
    // nProbe == nlist, the fully-dense corner: one root read, answers
    // equal the brute-force scan over the whole index
    val all = Similarity.probeIndex(
      spark, path, floatIvf, qVec, k, nProbe = centroids.length,
      excludeId = Some(queryId))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", queryId, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(all == brute,
      "probing every bucket must equal brute force over the corpus")
  }

  test("quantized IVF index: smaller on disk, pruned probe, high top-k overlap") {
    val emb = Tables.embeddings(spark, sf001)
    val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8)
    val floatIvf = Similarity.IvfFloat("vec_id", "embedding", centroids)
    val int8Ivf = Similarity.IvfInt8("vec_id", "embedding", centroids)
    val fDir = java.nio.file.Files.createTempDirectory("graft-ivf-f").toString
    val qDir = java.nio.file.Files.createTempDirectory("graft-ivf-q").toString
    Similarity.writeIndex(emb, floatIvf, fDir)
    Similarity.writeIndex(emb, int8Ivf, qDir)
    def bytes(dir: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length() else 0L
      walk(new java.io.File(dir))
    }
    // the index payload shrinks materially (int8 codes vs float vectors;
    // parquet encoding keeps it from a pure 4x, but it must be well
    // under the float index)
    assert(bytes(qDir) < bytes(fDir) * 0.6,
      s"quantized ${bytes(qDir)} vs float ${bytes(fDir)}")
    val qVec = vecs.find(_._1 == queryId).get._2
    val probed = Similarity.probeIndex(
      spark, qDir, int8Ivf, qVec, k, nProbe = 6, excludeId = Some(queryId))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)
    val approx = probed.collect().map(_.getLong(0)).toSet
    val exact = Similarity.probeIndex(
      spark, fDir, floatIvf, qVec, k, nProbe = 6,
      excludeId = Some(queryId)).collect().map(_.getLong(0)).toSet
    assert((approx & exact).size >= k - 2,
      s"overlap ${(approx & exact).size}/$k too low")
    // a FLOAT ingester pointed at the quantized root must be refused AT
    // STREAM START (layout check against the base's parquet footer) —
    // before any batch commits offsets whose rows would then brick every
    // probe and compaction on the root
    import spark.implicits._
    val strayCkpt = java.nio.file.Files.createTempDirectory("graft-ivf-q-stray").toString
    val stray = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])](spark)
    stray.addData(Seq((888888L, qVec)))
    val refusal = intercept[IllegalArgumentException] {
      Similarity.ingestIndexStream(
        stray.toDF().toDF("vec_id", "embedding"), floatIvf, qDir, strayCkpt)
    }
    assert(refusal.getMessage.contains("does not match"), refusal.getMessage)
    // nothing was written: the probe keeps serving the base unchanged
    val afterRefusal = Similarity.probeIndex(
      spark, qDir, int8Ivf, qVec, k,
      nProbe = 6, excludeId = Some(queryId)).collect().map(_.getLong(0)).toSet
    assert(afterRefusal == approx)
    // and an EMPTY query degrades to NULL scores, the cosine posture —
    // not an exception out of the kernel's non-empty-reference require
    val emptyQ = Similarity.probeIndex(
      spark, qDir, int8Ivf, Array.empty[Float], k, nProbe = 6).collect()
    assert(emptyQ.nonEmpty && emptyQ.forall(_.isNullAt(1)))
    // BACKSTOP: a mismatched streamed/ that exists anyway (hand-written,
    // or from a build predating the start-time guard) must fail the
    // probe's union LOUDLY — a silent drop or coercion here would
    // un-protect every pre-guard index on disk
    Seq((999999L, qVec)).toDF("vec_id", "embedding")
      .withColumn("bucket", lit(0))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(genDir(qDir) + "/streamed")
    intercept[org.apache.spark.sql.AnalysisException] {
      Similarity.probeIndex(
        spark, qDir, int8Ivf, qVec, k, nProbe = 6, excludeId = Some(queryId)).collect()
    }
  }

  test("int8Cosine kernel equals the interpreted HOF dequantization bit-for-bit") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf001)
    val qVec = vecs.find(_._1 == queryId).get._2
    // a zero vector (NULL codes) and a ragged vector ride along: the
    // kernel must go NULL exactly where the HOF formulation does
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .union(Seq((777777L, Array.fill(64)(0f)), (777778L, qVec.take(10)))
        .toDF("vec_id", "embedding"))
    val q = graft.functions.native.quantizeInt8(col("embedding"))
    val staged = corpus.select(col("vec_id"), q.as("_q"))
    val hof = staged.select(
      col("vec_id"),
      graft.functions.native.cosineSim(
        transform(col("_q.codes"),
          c => (c.cast("double") * col("_q.scale") / 127.0).cast("float")),
        typedLit(qVec.toSeq)).as("s"))
    val kern = staged.select(
      col("vec_id"),
      graft.functions.native.int8Cosine(col("_q.codes"), col("_q.scale"), qVec).as("s"))
    val both = hof.join(kern, "vec_id")
    assert(both.count() == corpus.count())
    val diverged = both
      .filter(!(hof("s") <=> kern("s"))) // null-safe: both-NULL agrees
      .collect()
    assert(diverged.isEmpty, s"kernel diverged from the HOF model: ${diverged.mkString(",")}")
  }

  test("quantized IVF ingest: typed appends visible, equal to a rebuild, folded by compaction") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf001)
    val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8)
    val int8Ivf = Similarity.IvfInt8("vec_id", "embedding", centroids)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-qi").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivf-qi-ck").toString
    Similarity.writeIndex(emb, int8Ivf, dir)
    val qVec = vecs.find(_._1 == queryId).get._2
    def probe(d: String): Seq[(Long, Double)] =
      Similarity.probeIndex(spark, d, int8Ivf, qVec, k, nProbe = 8, excludeId = Some(queryId))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // append an exact copy of the query vector under a fresh id: the
    // quantized ingester must encode it through the SAME layout pass as
    // the batch writer, and the probe must surface it at the top
    val s = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])](spark)
    s.addData(Seq((888888L, qVec)))
    val q = Similarity.ingestIndexStream(s.toDF().toDF("vec_id", "embedding"), int8Ivf, dir, ckpt)
    try q.processAllAvailable() finally q.stop()
    val after = probe(dir)
    assert(after.head._1 == 888888L, s"appended near-dup must rank first: $after")
    // streamed rows equal the batch writer's computation: an index
    // REBUILT over corpus + appended row probes identically
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ivf-qi2").toString
    Similarity.writeIndex(
      emb.select(col("vec_id"), col("embedding"))
        .union(Seq((888888L, qVec)).toDF("vec_id", "embedding")),
      int8Ivf, dir2)
    assert(probe(dir2) == after, "append == rebuild for the quantized layout")
    // compaction folds streamed/ into the next generation's base: answers
    // unchanged, and a second compaction finds nothing to fold
    assert(Similarity.compactIndex(spark, dir, int8Ivf))
    assert(probe(dir) == after, "compaction must preserve probe answers")
    assert(!Similarity.compactIndex(spark, dir, int8Ivf),
      "second compaction must be a no-op (streamed/ was folded)")
  }

  test("typed ingest restart: same-checkpoint resume passes the layout guard, appends exactly once") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf001)
    val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8)
    val int8Ivf = Similarity.IvfInt8("vec_id", "embedding", centroids)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-qr").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivf-qr-ck").toString
    Similarity.writeIndex(emb, int8Ivf, dir)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])](spark)
    def start() = Similarity.ingestIndexStream(
      input.toDF().toDF("vec_id", "embedding"), int8Ivf, dir, ckpt)
    val v = vecs.find(_._1 == queryId).get._2
    val q1 = start()
    try { input.addData(Seq((777777L, v))); q1.processAllAvailable() } finally q1.stop()
    // restart on the SAME checkpoint: the start-time layout guard must
    // accept its own layout back (base footer schema vs plan schema —
    // the encoder/parquet nullability difference must not refuse a
    // legitimate resume), the checkpoint identity must match, and the
    // resumed sink must append ONLY the new batch
    val q2 = start()
    try { input.addData(Seq((777778L, v.map(_ * 2f)))); q2.processAllAvailable() }
    finally q2.stop()
    val streamed = spark.read.parquet(genDir(dir) + "/streamed")
    assert(streamed.select(col("vec_id")).collect().map(_.getLong(0)).toSeq.sorted
      == Seq(777777L, 777778L), "exactly-once: one row per appended id, none dropped")
    // and the probe serves base + both resumed appends (same direction ⇒
    // identical codes ⇒ both rank at the top, above every corpus row)
    val top = Similarity.probeIndex(
      spark, dir, int8Ivf, v, k, nProbe = 8, excludeId = Some(queryId))
      .collect().map(_.getLong(0)).take(2).toSet
    assert(top == Set(777777L, 777778L), s"resumed appends must serve: $top")
  }

  test("trainers survive poisoned sample vectors: non-finite rows neither train nor starve") {
    import spark.implicits._
    // a poisoned LOW-ID PREFIX is the adversarial shape: the sample is
    // first-N-by-id, so if the filter ran after the limit these rows
    // would consume the whole budget and return empty trainers — and if
    // they trained, ONE NaN point would turn every centroid NaN (NaN
    // ranks above any number in the assignment kernels)
    val dim = 8
    val rnd = new scala.util.Random(3)
    val poisoned = (0 until 6).map { i =>
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      v(i % dim) = if (i % 3 == 0) Float.NaN
        else if (i % 3 == 1) Float.PositiveInfinity else Float.NegativeInfinity
      (i.toLong, v)
    }
    val clean = (6 until 30).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = (poisoned ++ clean).toDF("vec_id", "embedding")
    // sampleSize = 6: a post-limit filter would see ONLY poisoned rows
    val cents = Similarity.trainCentroids(df, "vec_id", "embedding", k = 2, sampleSize = 6)
    assert(cents.nonEmpty && cents.forall(_.forall(java.lang.Float.isFinite)),
      "poisoned prefix must neither starve nor contaminate the centroids")
  }

  test("trainers survive RAGGED sample vectors: off-dimension rows neither train nor starve") {
    import spark.implicits._
    // the ragged sibling of the poisoned-prefix test: the executor
    // kernels NULL a mismatched row per row, but the trainers index
    // every sampled point up to pts.head.length — before the dim gate, a
    // length-2 row in the sample threw AIOOBE in kmeans. The
    // adversarial shape is again a LOW-ID PREFIX: ragged rows dominate
    // the first ids, so a prefix-bounded dim probe would detect the
    // WRONG dim and a post-limit drop would starve the sample.
    val dim = 8
    val rnd = new scala.util.Random(7)
    val ragged = (0 until 6).map { i =>
      val len = Seq(2, dim - 1, dim + 3)(i % 3) // short, one-short, long
      (i.toLong, Array.fill(len)(rnd.nextGaussian().toFloat))
    }
    val clean = (6 until 30).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = (ragged ++ clean).toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(df, "vec_id", "embedding", k = 2, sampleSize = 6)
    assert(cents.nonEmpty && cents.forall(_.length == dim),
      "ragged prefix must neither starve training nor skew the detected dimension")
    assert(cents.forall(_.forall(java.lang.Float.isFinite)))
    val hier = Similarity.trainCentroidsHier(
      df, "vec_id", "embedding", coarseCells = 2, finePerCell = 2, sampleSize = 6)
    assert(!hier.isEmpty && hier.coarse.forall(_.length == dim)
      && hier.fine.forall(_.length == dim))
  }

  test("every probe refuses a wrong-flavor root with the flavor message") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf001)
    val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8)
    val qVec = vecs.find(_._1 == queryId).get._2
    def root(layout: Similarity.IndexLayout): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-flavor").toString
      Similarity.writeIndex(emb, layout, dir)
      dir
    }
    val float = Similarity.IvfFloat("vec_id", "embedding", centroids)
    val int8 = Similarity.IvfInt8("vec_id", "embedding", centroids)
    val int8Dir = root(int8)
    val floatDir = root(float)
    def refusedProbe(dir: String, wrong: Similarity.IndexLayout): Unit = {
      val e = intercept[IllegalArgumentException](
        Similarity.probeIndex(spark, dir, wrong, qVec, k, nProbe = 2).collect())
      assert(e.getMessage.contains("flavor"), e.getMessage)
    }
    // (root written by one layout, probe layout of another flavor)
    refusedProbe(int8Dir, float)
    refusedProbe(floatDir, Similarity.Lsh("vec_id", "embedding", 24, 3))
    def stream() = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])](spark)
    def ckpt(): String = java.nio.file.Files.createTempDirectory("graft-flavor-ck").toString
    // a wrong-flavor INGEST is refused before it appends a row
    val crossIngest = intercept[IllegalArgumentException] {
      Similarity.ingestIndexStream(stream().toDF().toDF("vec_id", "embedding"), int8,
        floatDir, ckpt())
    }
    assert(crossIngest.getMessage.contains("flavor"), crossIngest.getMessage)
    // a same-flavor append, then its compaction, keep the marker: the
    // cross-flavor probe is still refused at both steps
    val in = stream()
    in.addData(Seq((888888L, qVec)))
    val q = Similarity.ingestIndexStream(in.toDF().toDF("vec_id", "embedding"), int8,
      int8Dir, ckpt())
    try q.processAllAvailable() finally q.stop()
    refusedProbe(int8Dir, float)
    assert(Similarity.compactIndex(spark, int8Dir, int8))
    refusedProbe(int8Dir, float)
  }

  test("streamed IVF ingestion: probes see appended vectors, pruning intact") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf001)
    val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8)
    val floatIvf = Similarity.IvfFloat("vec_id", "embedding", centroids)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivf-stream-ck").toString
    // base index from the first half of the corpus…
    val half = vecs.length / 2
    val (baseVecs, lateVecs) = vecs.sortBy(_._1).splitAt(half)
    Similarity.writeIndex(baseVecs.toSeq.toDF("vec_id", "embedding"), floatIvf, path)
    // …the second half ARRIVES over two streamed batches
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])](spark)
    val q = Similarity.ingestIndexStream(
      input.toDF().toDF("vec_id", "embedding"), floatIvf, path, ckpt)
    try {
      val (b1, b2) = lateVecs.splitAt(lateVecs.length / 2)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val qVec = vecs.find(_._1 == queryId).get._2
    val probed = Similarity.probeIndex(
      spark, path, floatIvf, qVec, k, nProbe = 6, excludeId = Some(queryId))
    // both index roots are scanned bucket-pruned
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)
    // and the result equals the in-memory search over the FULL corpus
    val got = probed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mem = Similarity
      .ivfTopK(emb, "vec_id", "embedding", queryId, k, nCentroids = 8, nProbe = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == mem, s"streamed-index probe diverged: $got vs $mem")
  }

  test("compactIndex folds streamed appends into the next generation: same answers, grace kept, partials swept") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf001)
    val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8)
    val floatIvf = Similarity.IvfFloat("vec_id", "embedding", centroids)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-compact").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivf-compact-ck").toString
    val (baseVecs, lateVecs) = vecs.sortBy(_._1).splitAt(vecs.length / 2)
    Similarity.writeIndex(baseVecs.toSeq.toDF("vec_id", "embedding"), floatIvf, path)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])](spark)
    val q = Similarity.ingestIndexStream(
      input.toDF().toDF("vec_id", "embedding"), floatIvf, path, ckpt)
    try {
      // several small batches -> several small files per touched bucket
      lateVecs.grouped(math.max(1, lateVecs.length / 4)).foreach { b =>
        input.addData(b.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val qVec = vecs.find(_._1 == queryId).get._2
    def probe() = Similarity.probeIndex(
      spark, path, floatIvf, qVec, k, nProbe = 6, excludeId = Some(queryId))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = probe()
    val gen1 = genDir(path)
    assert(new java.io.File(s"$gen1/streamed").exists())
    assert(Similarity.compactIndex(spark, path, floatIvf))
    val gen2 = genDir(path)
    assert(gen2 != gen1, "compaction must flip to a new generation")
    assert(!new java.io.File(s"$gen2/streamed").exists(), "streamed must fold away")
    // the previous generation is KEPT as the grace copy for in-flight
    // probes (swept at the NEXT compaction) — no unavailability window
    assert(new java.io.File(gen1).exists(), "grace generation must survive the flip")
    assert(probe() == before, "compaction must never change answers")
    // idempotent: nothing left to compact
    assert(!Similarity.compactIndex(spark, path, floatIvf))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // one more arrival — the ANTI-query vector (cosine −1), so top-k
    // answers stay comparable to `before` after it folds in. The
    // post-compaction ingest is a NEW GENERATION: fresh checkpoint
    // (the old one's sink log died with the folded streamed/ — see
    // compactIndex's contract)
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-ivf-compact-ck2").toString
    val input2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])](spark) // new source position too
    input2.addData(Seq((999999L, qVec.map(-_))))
    val q2 = Similarity.ingestIndexStream(
      input2.toDF().toDF("vec_id", "embedding"), floatIvf, path, ckpt2)
    try q2.processAllAvailable() finally q2.stop()
    // a crashed rebuild's partial generation (no _GEN_DONE): probes never
    // resolve it, and the next compaction sweeps it before proceeding
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/gen-9/base/bucket=0"))
    assert(genDir(path) == gen2, "an uncommitted partial must not win resolution")
    assert(probe() == before, "a partial generation must not disturb probes")
    assert(Similarity.compactIndex(spark, path, floatIvf))
    assert(!new java.io.File(s"$path/gen-9").exists(), "partials must be swept")
    assert(!new java.io.File(gen1).exists(), "the old grace generation must be swept")
    assert(probe() == before, "compaction after a crash must still be duplicate-free")
    // the NO-OP path (nothing streamed) retires crashed partials too —
    // a failed compaction's gigabytes must not leak on an index that
    // never sees another real compaction — while the committed grace
    // generation stays for in-flight probes
    val liveGen = genDir(path)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/gen-20/base/bucket=0"))
    assert(!Similarity.compactIndex(spark, path, floatIvf), "nothing to compact")
    assert(!new java.io.File(s"$path/gen-20").exists(),
      "the no-op path must retire done-less partials")
    assert(genDir(path) == liveGen && probe() == before)
  }

  test("producer lock: a live ingester blocks compaction/rebuild, stop() releases synchronously, resume-across-compaction is refused") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf001)
    val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8)
    val floatIvf = Similarity.IvfFloat("vec_id", "embedding", centroids)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-lock").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivf-lock-ck").toString
    val (baseVecs, lateVecs) = vecs.sortBy(_._1).splitAt(vecs.length / 2)
    Similarity.writeIndex(baseVecs.toSeq.toDF("vec_id", "embedding"), floatIvf, path)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])](spark)
    val q = Similarity.ingestIndexStream(
      input.toDF().toDF("vec_id", "embedding"), floatIvf, path, ckpt)
    try {
      input.addData(lateVecs.toSeq); q.processAllAvailable()
      // while the ingester lives, every other producer fails fast at the
      // lock instead of flipping the generation under its appends
      val e = intercept[IllegalStateException](
        Similarity.compactIndex(spark, path, floatIvf))
      assert(e.getMessage.contains("_GEN_LOCK"), e.getMessage)
      assert(e.getMessage.contains("ingestIndexStream"),
        "the holder tag must name the live ingester")
      intercept[IllegalStateException](Similarity.writeIndex(
        baseVecs.toSeq.toDF("vec_id", "embedding"), floatIvf,
        path))
      val ckptB = java.nio.file.Files.createTempDirectory("graft-ivf-lock-ckB").toString
      intercept[IllegalStateException](Similarity.ingestIndexStream(
        input.toDF().toDF("vec_id", "embedding"), floatIvf,
        path, ckptB))
    } finally q.stop()
    // stop() releases SYNCHRONOUSLY (not via the async listener bus):
    // the operational stop-then-compact sequence works back-to-back
    assert(Similarity.compactIndex(spark, path, floatIvf))
    // the pre-compaction checkpoint has committed batches but its sink
    // log died with the folded streamed/ — resuming it is refused at
    // stream start (compactIndex's documented recovery contract)...
    val e2 = intercept[IllegalStateException](Similarity.ingestIndexStream(
      input.toDF().toDF("vec_id", "embedding"),
      floatIvf, path, ckpt))
    assert(e2.getMessage.contains("FRESH checkpoint"), e2.getMessage)
    // ...and the refusal released the lock (nothing wedged): a fresh
    // checkpoint starts, ingests, and a plain same-checkpoint RESTART
    // (no compaction in between) is still a legitimate resume
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-ivf-lock-ck2").toString
    val input2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])](spark)
    val q2 = Similarity.ingestIndexStream(
      input2.toDF().toDF("vec_id", "embedding"), floatIvf, path, ckpt2)
    try { input2.addData(Seq((777777L, vecs.head._2))); q2.processAllAvailable() }
    finally q2.stop()
    val q3 = Similarity.ingestIndexStream(
      input2.toDF().toDF("vec_id", "embedding"), floatIvf, path, ckpt2)
    try { input2.addData(Seq((777778L, vecs.head._2))); q3.processAllAvailable() }
    finally q3.stop()
    val ids = spark.read.parquet(s"${genDir(path)}/streamed")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(ids == Set(777777L, 777778L),
      s"the resumed ingest must append exactly the new rows, got $ids")
    // cross-checkpoint confusion: the live generation now carries ckpt2's
    // sink log, so the PRE-compaction checkpoint's batch ids are already
    // "recorded" — FileStreamSink would silently skip them. The identity
    // pairing refuses what a sink-log-existence check would wave through
    val e3 = intercept[IllegalStateException](Similarity.ingestIndexStream(
      input.toDF().toDF("vec_id", "embedding"),
      floatIvf, path, ckpt))
    assert(e3.getMessage.contains("does not belong"), e3.getMessage)
    // and a NEVER-used checkpoint against a generation that already has
    // another's appends is refused too (its from-zero batch counter would
    // collide with the existing sink log): compact first
    val ckpt3 = java.nio.file.Files.createTempDirectory("graft-ivf-lock-ck3").toString
    val e4 = intercept[IllegalStateException](Similarity.ingestIndexStream(
      input.toDF().toDF("vec_id", "embedding"),
      floatIvf, path, ckpt3))
    assert(e4.getMessage.contains("Compact the index first"), e4.getMessage)
    // both refusals released the lock: compaction proceeds, after which
    // the never-used checkpoint pairs with the clean generation
    assert(Similarity.compactIndex(spark, path, floatIvf))
    val input3 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])](spark)
    val q4 = Similarity.ingestIndexStream(
      input3.toDF().toDF("vec_id", "embedding"), floatIvf, path, ckpt3)
    try { input3.addData(Seq((777779L, vecs.head._2))); q4.processAllAvailable() }
    finally q4.stop()
    val ids2 = spark.read.parquet(s"${genDir(path)}/streamed")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(ids2 == Set(777779L), s"post-compaction fresh pairing must ingest cleanly, got $ids2")
    // a generation CLAIMED by a pairing that never committed a batch
    // (mid-pairing crash, or an abandoned checkpoint) refuses a fresh
    // checkpoint — the claim may still be resumable — and the refusal
    // names the documented heal, after which the start proceeds
    assert(Similarity.compactIndex(spark, path, floatIvf)) // clean gen, no id
    val orphanId = new java.io.File(s"${genDir(path)}/_INGEST_ID")
    java.nio.file.Files.writeString(orphanId.toPath, "crashed-pairing-claim")
    val ckpt4 = java.nio.file.Files.createTempDirectory("graft-ivf-lock-ck4").toString
    val input4 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])](spark)
    val e5 = intercept[IllegalStateException](Similarity.ingestIndexStream(
      input4.toDF().toDF("vec_id", "embedding"),
      floatIvf, path, ckpt4))
    assert(e5.getMessage.contains("claimed by ingest id crashed-pairing-claim"), e5.getMessage)
    assert(orphanId.delete(), "heal: drop the never-committed claim")
    val q5 = Similarity.ingestIndexStream(
      input4.toDF().toDF("vec_id", "embedding"), floatIvf, path, ckpt4)
    try { input4.addData(Seq((777780L, vecs.head._2))); q5.processAllAvailable() }
    finally q5.stop()
    val ids3 = spark.read.parquet(s"${genDir(path)}/streamed")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(ids3 == Set(777780L), s"healed claim must pair and ingest cleanly, got $ids3")
  }

  test("persisted LSH index: probe is partition-pruned and equals the in-memory lshTopK") {
    val emb = Tables.embeddings(spark, sf001)
    val (bands, bits) = (24, 3) // the fixture-tuned q_sim_topk_lsh regime
    val path = java.nio.file.Files.createTempDirectory("graft-lsh-index").toString
    Similarity.writeIndex(emb, Similarity.Lsh("vec_id", "embedding", bands, bits), path)
    // band-partitioned directories on disk, one sig sub-dir per bucket hit
    val bandDirs =
      new java.io.File(s"${genDir(path)}/base").listFiles()
        .filter(_.getName.startsWith("band="))
    assert(bandDirs.length == bands)
    val qVec = vecs.find(_._1 == queryId).get._2
    val probed = Similarity.probeIndex(
      spark, path, Similarity.Lsh("vec_id", "embedding", bands, bits), qVec, k,
      nProbe = bands, excludeId = Some(queryId))
    // the scan carries partition filters on (band, sig) — directory-level
    // pruning, not a post-scan filter
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("band"), plan)
    val got = probed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mem = Similarity
      .lshTopK(emb, "vec_id", "embedding", queryId, k, bands, bits)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == mem)
    // ... and the probe reads only the query's own (band, sig) leaves:
    // of the bands × 2^bits possible leaves, at most `bands` are scanned
    val scanned = probed.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .filter(_.contains("Scan parquet")).mkString
    val files: Int = probed.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }.sum
    assert(files > 0 && files <= bands,
      s"probe scanned $files leaf partitions (want 1..$bands): $scanned")
  }

  test("streamed LSH ingestion: probes see appended vectors, pruning intact") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf001)
    val (bands, bits) = (24, 3)
    val dim = vecs.head._2.length
    val path = java.nio.file.Files.createTempDirectory("graft-lsh-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lsh-stream-ck").toString
    val half = vecs.length / 2
    val (baseVecs, lateVecs) = vecs.sortBy(_._1).splitAt(half)
    Similarity.writeIndex(
      baseVecs.toSeq.toDF("vec_id", "embedding"),
      Similarity.Lsh("vec_id", "embedding", bands, bits), path)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])](spark)
    val q = Similarity.ingestIndexStream(
      input.toDF().toDF("vec_id", "embedding"),
      Similarity.Lsh("vec_id", "embedding", bands, bits, dim = dim), path, ckpt)
    try {
      input.addData(lateVecs.toSeq); q.processAllAvailable()
    } finally q.stop()
    val qVec = vecs.find(_._1 == queryId).get._2
    val probed = Similarity.probeIndex(
      spark, path, Similarity.Lsh("vec_id", "embedding", bands, bits), qVec, k,
      nProbe = bands, excludeId = Some(queryId))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("band"), plan)
    val got = probed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mem = Similarity
      .lshTopK(emb, "vec_id", "embedding", queryId, k, bands, bits)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == mem, s"streamed-index probe diverged: $got vs $mem")
  }

  test("filtered probes: predicate before re-rank (right k), pruning and pushdown intact") {
    val emb = Tables.embeddings(spark, sf001)
    // a filtered search: "top-k WHERE label <= 4" (pushable comparison)
    val pred = col("label") <= 4
    val qVec = vecs.find(_._1 == queryId).get._2
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // LSH: filtered probe of the FULL index == in-memory flavor over the
    // pre-filtered corpus (same seed/planes → identical candidates)
    val (bands, bits) = (24, 3)
    val lshDir = java.nio.file.Files.createTempDirectory("graft-lsh-filt").toString
    Similarity.writeIndex(emb, Similarity.Lsh("vec_id", "embedding", bands, bits), lshDir)
    val lshProbed = Similarity.probeIndex(
      spark, lshDir, Similarity.Lsh("vec_id", "embedding", bands, bits), qVec, k,
      nProbe = bands, excludeId = Some(queryId), predicate = Some(pred))
    val lshPlan = lshProbed.queryExecution.executedPlan.toString
    assert(lshPlan.contains("PartitionFilters") && lshPlan.contains("band"), lshPlan)
    // the payload predicate reaches the parquet scan, it is not post-hoc
    assert(lshPlan.contains("LessThanOrEqual(label,4)"), lshPlan)
    val lshMem = Similarity.lshTopK(
      emb.filter(pred || col("vec_id") === queryId),
      "vec_id", "embedding", queryId, k, bands, bits)
    assert(rows(lshProbed) == rows(lshMem))
    assert(rows(lshProbed).size == k, "k must count filter survivors")

    // IVF (float and quantized): filtered probe of the full index ==
    // unfiltered probe of an index built from the pre-filtered corpus
    // with the SAME centroids (identical routing)
    val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8)
    val floatIvf = Similarity.IvfFloat("vec_id", "embedding", centroids)
    val fullF = java.nio.file.Files.createTempDirectory("graft-ivf-filt-a").toString
    val filtF = java.nio.file.Files.createTempDirectory("graft-ivf-filt-b").toString
    Similarity.writeIndex(emb, floatIvf, fullF)
    Similarity.writeIndex(emb.filter(pred), floatIvf, filtF)
    val ivfGot = Similarity.probeIndex(
      spark, fullF, floatIvf, qVec, k, nProbe = 6, excludeId = Some(queryId),
      predicate = Some(pred))
    val ivfWant = Similarity.probeIndex(
      spark, filtF, floatIvf, qVec, k, nProbe = 6, excludeId = Some(queryId))
    assert(ivfGot.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(rows(ivfGot) == rows(ivfWant))

    val fullQ = java.nio.file.Files.createTempDirectory("graft-ivfq-filt-a").toString
    val filtQ = java.nio.file.Files.createTempDirectory("graft-ivfq-filt-b").toString
    // the filtered probe needs `label` in the index payload — opt in
    // (the default payload is the bare id/scale/codes/bucket shape)
    Similarity.writeIndex(
      emb, Similarity.IvfInt8("vec_id", "embedding", centroids, payloadCols = Seq("label")),
      fullQ)
    Similarity.writeIndex(
      emb.filter(pred),
      Similarity.IvfInt8("vec_id", "embedding", centroids, payloadCols = Seq("label")), filtQ)
    val qGot = Similarity.probeIndex(
      spark, fullQ, Similarity.IvfInt8("vec_id", "embedding", centroids), qVec, k,
      nProbe = 6, excludeId = Some(queryId), predicate = Some(pred))
    val qWant = Similarity.probeIndex(
      spark, filtQ, Similarity.IvfInt8("vec_id", "embedding", centroids), qVec, k,
      nProbe = 6, excludeId = Some(queryId))
    assert(rows(qGot) == rows(qWant))

    // index-column names are reserved: a payload named 'codes' (or
    // 'scale'/'bucket') would collide with the index's own columns and
    // leave the written index unprobeable — the writer must refuse
    intercept[IllegalArgumentException](Similarity.writeIndex(
      emb.withColumnRenamed("label", "codes"),
      Similarity.IvfInt8("vec_id", "embedding", centroids, payloadCols = Seq("codes")),
      fullQ))
  }

  test("assignBuckets: NULL vectors get a NULL bucket; assignment is deterministic") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "embedding")
    val centroids = Array(Array(1.0f, 0.0f), Array(0.0f, 1.0f))
    val rows = Similarity.assignBuckets(df, "embedding", centroids)
      .orderBy("vec_id").collect()
    assert(rows(0).getInt(rows(0).fieldIndex("bucket")) == 0)
    assert(rows(1).getInt(rows(1).fieldIndex("bucket")) == 1)
    assert(rows(2).isNullAt(rows(2).fieldIndex("bucket")))
  }

  test("nearestCentroid kernel at k=256 equals the stacked-column formulation, codegen'd") {
    import spark.implicits._
    // realistic IVF centroid count — the regime where k stacked cosine
    // columns risk codegen method limits and k array traversals
    val rnd = new scala.util.Random(7)
    val dim = 16
    val corpus = (0 until 500).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val centroids = Array.fill(256)(Array.fill(dim)(rnd.nextGaussian().toFloat))

    val kernel = Similarity.assignBuckets(corpus, "embedding", centroids)
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap

    // the pre-kernel formulation: k separate cosineSim columns +
    // array_position(array_max) — the semantic reference
    val scores = array(centroids.toSeq.map { c =>
      graft.functions.native.cosineSim(col("embedding"), typedLit(c.toSeq))
    }: _*)
    val columnar = corpus
      .withColumn("bucket", (array_position(scores, array_max(scores)) - 1).cast("int"))
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(kernel == columnar)

    // the assignment stays a single whole-stage-codegen projection (on a
    // parquet scan — a local Seq relation would collapse to
    // LocalTableScan and hide the projection)
    val plan = Similarity
      .assignBuckets(Tables.embeddings(spark, sf001), "embedding", centroids.map(_.padTo(64, 0f)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"no codegen span in:\n$plan")
  }

  test("nearestCentroids: descending order, element 0 = single assignment, edge cases") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    val corpus = (0 until 200).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val centroids = Array.fill(12)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val got = corpus.select(
        col("vec_id"),
        graft.functions.native.nearestCentroids(col("embedding"), centroids, 4).as("b"),
        graft.functions.native.nearestCentroid(col("embedding"), centroids).as("b0"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val raw = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    got.foreach { case (id, buckets, b0) =>
      assert(buckets.length == 4)
      assert(buckets.head == b0) // element 0 IS the single assignment
      // exact top-4 by cosine, descending, ties by index
      val expect = centroids.indices
        .map(c => (c, cos(raw(id), centroids(c))))
        .sortBy { case (c, s) => (-s, c) }.take(4).map(_._1)
      assert(buckets == expect, s"id=$id")
    }
    // n > k clamps; ragged vector → null; zero-norm centroid skipped
    val shorty = Seq((1L, Array.fill(8)(1f))).toDF("vec_id", "embedding")
    assert(shorty.select(
      graft.functions.native.nearestCentroids(col("embedding"), centroids, 4))
      .collect().head.isNullAt(0))
    val two = Seq((1L, Array.fill(dim)(1f))).toDF("vec_id", "embedding")
    val clamped = two.select(
      graft.functions.native.nearestCentroids(col("embedding"),
        Array(Array.fill(dim)(0f), Array.fill(dim)(2f)), 5)).collect().head.getSeq[Int](0)
    assert(clamped == Seq(1)) // zero-norm skipped, clamp to the 1 valid centroid
  }

  test("nearestCentroidsHier: probes=all equals the flat kernel bit-for-bit; fewer probes restrict to probed cells") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val dim = 16
    val corpus = (0 until 300).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    // a hand-built two-level table: 4 cells × 6 fine = 24 fine centroids
    val coarse = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val fine = Array.fill(24)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val fineCell = Array.tabulate(24)(_ / 6)
    // probes >= cells: the exact anchor — identical to the flat kernel
    // over the same fine table, including tie order (global-index scan)
    val both = corpus.select(
        col("vec_id"),
        graft.functions.native
          .nearestCentroidsHier(col("embedding"), coarse, fine, fineCell, probes = 4, n = 5)
          .as("hier"),
        graft.functions.native.nearestCentroids(col("embedding"), fine, 5).as("flat"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2), s"vec_id=${r.getLong(0)}")
    }
    // fewer probes: results come only from probed cells, in the same
    // descending order the flat kernel would give those cells' members
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val raw = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val probed = corpus.select(
        col("vec_id"),
        graft.functions.native
          .nearestCentroidsHier(col("embedding"), coarse, fine, fineCell, probes = 2, n = 5)
          .as("hier"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    probed.foreach { case (id, got) =>
      val v = raw(id)
      val cells = coarse.indices
        .map(c => (c, cos(v, coarse(c)))).sortBy { case (c, s) => (-s, c) }
        .take(2).map(_._1).toSet
      val expect = fine.indices
        .filter(f => cells.contains(fineCell(f)))
        .map(f => (f, cos(v, fine(f))))
        .sortBy { case (f, s) => (-s, f) }.take(5).map(_._1)
      assert(got == expect, s"id=$id")
    }
    // null contract matches the flat kernel: ragged vector → NULL
    val shorty = Seq((1L, Array.fill(8)(1f))).toDF("vec_id", "embedding")
    assert(shorty.select(
      graft.functions.native
        .nearestCentroidsHier(col("embedding"), coarse, fine, fineCell, 2, 3))
      .collect().head.isNullAt(0))
    // and the assignment is one codegen projection over a parquet scan
    val plan = Tables.embeddings(spark, sf001).select(
        graft.functions.native.nearestCentroidsHier(
          col("embedding"),
          coarse.map(_.padTo(64, 0f)), fine.map(_.padTo(64, 0f)), fineCell, 2, 4))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"no codegen span in:\n$plan")
  }

  test("trainCentroidsHier: cell-major fine table, members cluster near their cell, flat-trainer cost model avoided") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val dim = 16
    // 6 well-separated clusters of 40 points
    val data = (0 until 6).flatMap { c =>
      val center = Array.fill(dim)(rnd.nextGaussian() * 4)
      (0 until 40).map { m =>
        (c * 40L + m, center.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat))
      }
    }
    val df = data.toDF("vec_id", "embedding")
    val h = Similarity.trainCentroidsHier(
      df, "vec_id", "embedding", coarseCells = 3, finePerCell = 4, sampleSize = 240)
    assert(h.coarse.length == 3)
    assert(h.fine.nonEmpty && h.fine.length == h.fineCell.length)
    assert(h.fineCell.forall(c => c >= 0 && c < 3))
    // cell-major: fineCell is non-decreasing (global index order == cell order)
    assert(h.fineCell.sameElements(h.fineCell.sorted))
    // construction guarantees (the contracts the kernel's validation and
    // pass-1 rely on — NOT fixture geometry): every coarse and fine
    // centroid is selectable (nonzero norm, right dim — the trainer
    // filters both levels), no cell exceeds its finePerCell budget, and
    // the model is kernel-constructible
    assert(h.coarse.forall(c => c.length == dim && c.exists(_ != 0f)))
    assert(h.fine.forall(f => f.length == dim && f.exists(_ != 0f)))
    assert(h.fineCell.groupBy(identity).values.forall(_.length <= 4))
    graft.functions.NearestCentroidsHier(
      org.apache.spark.sql.graft.ColumnBridge.expression(col("embedding")),
      h.coarse.toSeq.map(_.toSeq), h.fine.toSeq.map(_.toSeq), h.fineCell.toSeq, 1, 1)
    // filing regression tripwire (deterministic fixture, seed 23, ×4
    // cluster separation gives the margin): each fine centroid lies
    // nearest its OWN coarse cell here. Not a construction guarantee in
    // general geometry — but on this fixture a miss means the trainer
    // misfiled members (argmaxDot tie-break or cell re-assignment
    // regression), which would silently cost probe recall.
    def cosd(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    h.fine.zip(h.fineCell).foreach { case (f, c) =>
      val best = h.coarse.indices.maxBy(i => cosd(f, h.coarse(i)))
      assert(best == c, s"fine centroid filed under cell $c but nearest to $best")
    }
  }

  test("hier-built IVF index: probes-all equals the flat build, probeIvfIndex prunes it unchanged") {
    val emb = Tables.embeddings(spark, sf001)
    val model = Similarity.trainCentroidsHier(
      emb, "vec_id", "embedding", coarseCells = 4, finePerCell = 2)
    val qVec = vecs.find(_._1 == queryId).get._2
    // probes >= cells: the hier build IS the flat build over model.fine
    val flatDir = java.nio.file.Files.createTempDirectory("graft-ivf-hflat").toString
    val hierDir = java.nio.file.Files.createTempDirectory("graft-ivf-hier").toString
    Similarity.writeIndex(emb, Similarity.IvfFloat("vec_id", "embedding", model.fine), flatDir)
    Similarity.writeIndex(
      emb, Similarity.IvfFloatHier("vec_id", "embedding", model, probes = model.coarse.length),
      hierDir)
    def probe(dir: String) = Similarity.probeIndex(
      spark, dir, Similarity.IvfFloat("vec_id", "embedding", model.fine),
      qVec, k, nProbe = 3, excludeId = Some(queryId))
    val flatGot = probe(flatDir).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val hierGot = probe(hierDir).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hierGot == flatGot, "probes-all hier build must equal the flat build")
    // the probe stays partition-pruned on the hier-built layout
    val plan = probe(hierDir).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)
    // the approximation (probes=2 of 4 cells): same layout id space,
    // high top-k overlap with the exact flat build on the fixture
    val hier2Dir = java.nio.file.Files.createTempDirectory("graft-ivf-hier2").toString
    Similarity.writeIndex(
      emb, Similarity.IvfFloatHier("vec_id", "embedding", model, probes = 2), hier2Dir)
    val approx = probe(hier2Dir).collect().map(_.getLong(0)).toSet
    val exact = flatGot.map(_._1).toSet
    assert((approx & exact).size >= k - 2,
      s"overlap ${(approx & exact).size}/$k too low for the probes=2 build")
  }

  test("hyperplane signatures are deterministic across evaluations") {
    val emb = Tables.embeddings(spark, sf001)
    val sig = Similarity.hyperplaneSignature(col("embedding"), bits = 12, dim = 64)
    val a = emb.select(col("vec_id"), sig.as("s")).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = emb.select(col("vec_id"), sig.as("s")).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
  }

  test("labelCentroids equals the driver-side exact mean, dims in order") {
    val emb = Tables.embeddings(spark, sf001)
    val got = Similarity.labelCentroids(emb, "label", "embedding")
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1))
      .toMap
    // model: exact BigDecimal(scale 9) accumulation of the double view
    val rows = emb.select("label", "embedding").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1))
    val expect = rows.groupBy(_._1).map { case (l, vs) =>
      val dim = vs.head._2.length
      l -> (0 until dim).map { d =>
        val sum = vs.map { case (_, v) =>
          BigDecimal(v(d).toDouble).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        }.sum
        sum.toDouble / vs.length
      }.toSeq
    }
    assert(got.keySet == expect.keySet)
    for (l <- got.keySet) assert(got(l) == expect(l), s"label $l")
  }

  test("labelCentroids divides by the NON-NULL value count; string labels classify (r20)") {
    import spark.implicits._
    // dim-1 of label "a": values 1.0 and NULL — the mean must be 1.0
    // (over present values), not 0.5 (count-all denominator)
    val emb = Seq(
      ("a", Seq(Some(1.0f), None)),
      ("a", Seq(Some(1.0f), Some(2.0f))),
      ("b", Seq(Some(3.0f), Some(4.0f)))).toDF("label", "embedding")
    val cents = Similarity.labelCentroids(emb, "label", "embedding")
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(cents("a") == Seq(1.0, 2.0), s"null element skewed the mean: ${cents("a")}")
    assert(cents("b") == Seq(3.0, 4.0))
    // classifyByCentroid no longer unboxes labels through getInt: a
    // STRING-labeled corpus classifies (labels echo as themselves here —
    // each class mean is nearest to its own members)
    val dense = Seq(
      ("x", Seq(1.0f, 0.0f)), ("x", Seq(0.9f, 0.1f)),
      ("y", Seq(0.0f, 1.0f)), ("y", Seq(0.1f, 0.9f))).toDF("label", "embedding")
    val conf = Similarity.classifyByCentroid(dense, "label", "embedding")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(conf == Seq(("x", "x", 2L), ("y", "y", 2L)), conf.toString)
  }

  test("labelCentroids is partitioning-independent (exact, order-free accumulation)") {
    val emb = Tables.embeddings(spark, sf001)
    val a = Similarity.labelCentroids(emb, "label", "embedding")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val b = Similarity.labelCentroids(emb.repartition(13), "label", "embedding")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(a == b)
  }

  test("quantizeInt8: codes bounded, round-trip error within half a step, zero vector NULL") {
    import spark.implicits._
    val rows = Seq(
      (0L, Array(0.5f, -0.25f, 0.125f)),
      (1L, Array(-1.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f)), // zero vector: no scale
      (3L, Array(0.5f, Float.NaN)),  // NaN scale: codes NULL, not garbage
      (4L, Array(0.5f, Float.PositiveInfinity)) // Inf scale: NULL too —
      // Inf/Inf=NaN would otherwise hit BigDecimal.valueOf and throw
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(rows, "vec_id", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) null else r.getSeq[Int](2)))
      .sortBy(_._1)
    assert(got(0)._2 == 0.5 && got(0)._3 == Seq(127, -64, 32))
    assert(got(1)._3 == Seq(-127, 127, 0))
    assert(got(2)._3 == null)
    // the kernel's documented NaN/Inf contract: degenerate scales
    // yield NULL codes — where the old HOF formulation would have
    // thrown on the ANSI int cast (or, for Inf, inside BigDecimal)
    assert(got(3)._2.isNaN && got(3)._3 == null)
    assert(got(4)._2.isPosInfinity && got(4)._3 == null)
    // fixture round-trip: |v - code*scale/127| <= scale/254 (+ ulp slack)
    val fx = Similarity.quantizeInt8(Tables.embeddings(spark, sf001), "vec_id", "embedding")
      .join(Tables.embeddings(spark, sf001), "vec_id")
      .collect()
    fx.foreach { r =>
      val scale = r.getDouble(1)
      val codes = r.getSeq[Int](2)
      val vec = r.getSeq[Float](3)
      codes.zip(vec).foreach { case (c, v) =>
        assert(math.abs(c) <= 127)
        assert(math.abs(v.toDouble - c * scale / 127.0) <= scale / 254.0 + 1e-12)
      }
    }
  }

  test("quantizeInt8 equals the driver-side model on seeded random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0L until 50L).map { i =>
      (i, Array.fill(16)((rnd.nextFloat() - 0.5f) * 4f))
    }
    val got = Similarity.quantizeInt8(rows.toDF("vec_id", "embedding"), "vec_id", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Int](2).toList))
      .sortBy(_._1).toList
    val model = rows.map { case (id, v) =>
      val scale = v.map(x => math.abs(x.toDouble)).max
      val codes = v.map(x =>
        BigDecimal(x.toDouble / scale * 127)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt).toList
      (id, scale, codes)
    }.sortBy(_._1).toList
    assert(got == model)
  }

  test("search over the int8-quantized store recovers the exact top-k (high overlap)") {
    // the point of quantizeInt8: a 4x-smaller store that still answers
    // similarity queries — dequantize (code*scale/127) and brute-force
    // top-k, then compare against the exact-float top-k
    val deq = Similarity.quantizeInt8(Tables.embeddings(spark, sf001), "vec_id", "embedding")
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Int](2).map(c => (c * r.getDouble(1) / 127.0).toFloat).toArray))
    val q = deq.find(_._1 == queryId).get._2
    val approx = deq
      .filter(_._1 != queryId)
      .map { case (id, v) => (id, cosine(v, q)) }
      .sortBy { case (id, c) => (-c, id) }
      .take(k).map(_._1).toSet
    val exact = expected.map(_._1).toSet
    val overlap = (approx & exact).size
    assert(overlap >= k - 2, s"quantized search overlap $overlap/$k too low")
  }

  test("classifyByCentroid: separable clusters classify to their own label") {
    import spark.implicits._
    val rows = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0), (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1), (3L, Array(0.1f, 0.9f, 0.0f), 1),
      (4L, Array(0.0f, 0.1f, 1.0f), 2), (5L, Array(0.0f, 0.0f, 0.9f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.classifyByCentroid(rows, "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == Seq((0, 0, 2L), (1, 1, 2L), (2, 2, 2L)))
  }

  test("classifyByCentroid equals the driver-side argmax over labelCentroids") {
    val emb = Tables.embeddings(spark, sf001)
    val cents = Similarity.labelCentroids(emb, "label", "embedding")
      .orderBy(org.apache.spark.sql.functions.col("label"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).map(_.toFloat).toArray))
    val data = emb.select("embedding", "label").collect()
      .map(r => (r.getSeq[Float](0).toArray, r.getInt(1)))
    def cosF(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // first-wins strictly-greater argmax over the label-ascending table —
    // the kernel's tie rule
    val model = data
      .map { case (v, lab) =>
        var best = cents.head._1
        var bestSim = cosF(v, cents.head._2)
        for ((cl, cv) <- cents.tail) {
          val s = cosF(v, cv)
          if (java.lang.Double.compare(s, bestSim) > 0) { best = cl; bestSim = s }
        }
        (lab, best)
      }
      .groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.map { case ((l, p), c) => (l, p, c) }.sorted
    val got = Similarity.classifyByCentroid(emb, "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == model)
    // confusion counts cover the whole corpus
    assert(got.map(_._3).sum == data.length.toLong)
  }

  test("bruteForceTopKBatch equals per-query bruteForceTopK, no corpus-sized exchange") {
    val emb = Tables.embeddings(spark, sf001)
    val qids = Seq(0L, 1L, 2L)
    val batch = Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding", qids, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    qids.foreach { qid =>
      val single = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qid, k = 5)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSeq
      assert(batch.filter(_._1 == qid).toSeq == single, s"query $qid diverges")
    }
    // each branch is a TakeOrdered heap; the only sort after the union
    // sees queries×k rows (the determinism orderBy), never the corpus
    val p = Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding", qids, k = 5)
      .queryExecution.executedPlan.toString
    assert(p.split("TakeOrderedAndProject").length - 1 >= qids.size, p)
    intercept[IllegalArgumentException](
      Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding", Seq.empty, 5))
    intercept[IllegalArgumentException](
      Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding", Seq(1L, 1L), 5))
  }
}
