package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{Generations, Similarity}

/** Standing recall-curve probe for the ANN payload ladder: sweeps
  * nProbe (IVF) and banding (LSH) over the two fixture regimes the
  * specs pin single operating points on — CLUSTERED (IVF's home:
  * synthetic 32 tight clusters, the SimilaritySpec construction) and
  * NEAR-RANDOM (the `embeddings` table: top-10 cosine ≈ 0.27-0.33,
  * neighbor gaps ~0.01 — the adversarial regime for any quantizer) —
  * for the persisted rungs (float and int8, nProbe-swept; LSH,
  * banding-swept — its recall axis is candidate-set collision, not
  * routing, see the in-loop note), emitting one
  * markdown row per (fixture, layout, nProbe):
  * recall@10 vs driver-side exact cosine truth, on-disk index bytes,
  * and warm per-query probe latency. The table lands in PLANS.md and
  * feeds the choosing-a-rung guidance in [[Similarity]]'s scaladoc —
  * the adoption-facing answer to "which index do I build?".
  *
  * Method notes, so future rounds compare like with like:
  *  - truth is DRIVER-side exact cosine over the collected corpus
  *    (both fixtures are bounded), never the engine under test;
  *  - recall@10 averages 16 evenly-strided query ids per fixture,
  *    query excluded via `excludeId` (corpus members, as the specs);
  *  - latency is wall-per-query over the 16 queries AFTER a full warm
  *    sweep, so it measures the probe plan, not first-job setup; at
  *    fixture scale it is resolve+plan+scan overhead-dominated — treat
  *    it as a FLOOR comparator between rungs, not a throughput claim
  *    (ScaleProbe's adjudications own the corpus-growth axis);
  *  - bytes = the live generation's file bytes (parquet, so the float
  *    rung's 4·dim shows up compressed — the ladder ratios on disk are
  *    what a deployment actually pays, which is the point).
  *
  * Run (quiet machine; ~3-6 min):
  *   sbt "Test/runMain graft.RecallProbe /root/testdata/sf0.1 32"
  */
object RecallProbe {

  private val K = 10
  private val NQueries = 16

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length,
      "ragged pair reached the truth scorer — candidates must be length-filtered")
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length && i < b.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** One table row: warm sweep (file listing, plan, codegen), then the
    * timed recall pass — shared by the IVF rungs and the LSH rung so
    * the like-with-like method notes above cannot drift between them
    * (the warm-up and the denominator are the comparison contract). */
  private def measureRow(
      fname: String, lname: String, bytes: Long, probedDirs: Int,
      qids: Seq[Long], truth: Map[Long, Set[Long]],
      probe: Long => DataFrame): Unit = {
    qids.foreach(qid => probe(qid).collect()) // warm
    var hits = 0
    val t0 = System.nanoTime()
    qids.foreach { qid =>
      val got = probe(qid).collect().map(_.getLong(0)).toSet
      hits += truth(qid).count(got.contains)
    }
    val msPerQ = (System.nanoTime() - t0) / 1e6 / qids.length
    val recall = hits.toDouble / (qids.length * K)
    println(f"| $fname | $lname | $bytes | $probedDirs | $recall%.3f | $msPerQ%.1f |")
  }

  private def genBytes(spark: SparkSession, path: String): Long = {
    val (fs, root) = Generations.fsRoot(spark, path)
    val gen = Generations.currentDir(fs, root)
    val it = fs.listFiles(gen, true)
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.startsWith("_")) bytes += f.getLen
    }
    bytes
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cores = args.drop(1).headOption.flatMap(_.toIntOption).getOrElse(32)
    val outRoot = args.drop(2).headOption.getOrElse("/tmp/graft-recall-probe")
    val spark = GraftSession.local("graft-recall-probe", cores = cores)
    import spark.implicits._

    val dim = 64
    // clustered: the SimilaritySpec construction scaled up — 32 centers,
    // 256 members, noise 0.15 (intra-cluster cosine ≈ 0.95+)
    val rnd = new scala.util.Random(13)
    val clustered = (0 until 32).flatMap { c =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      (0 until 256).map { m =>
        (c * 256L + m, center.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat))
      }
    }.toDF("vec_id", "embedding")
    val nearRandom = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")

    val fixtures = Seq(
      ("clustered", clustered, 32),
      ("nearrandom", nearRandom, 16))

    println("| fixture | layout | bytes | nProbe | recall@10 | ms/query |")
    println("|---|---|---|---|---|---|")

    fixtures.foreach { case (fname, df, nCells) =>
      val corpus = df.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val byId = corpus.toMap
      val qids = corpus.indices.by(math.max(1, corpus.length / NQueries))
        .take(NQueries).map(corpus(_)._1)
      val truth: Map[Long, Set[Long]] = qids.map { qid =>
        val q = byId(qid)
        // ragged rows are EXCLUDED from the truth candidate set (not
        // scored 0 — a 0 would outrank genuine negative-cosine
        // neighbors and deflate recall): the engine NULLs such rows and
        // can never return them, so they are not retrievable truth
        qid -> corpus.iterator.filter(_._1 != qid)
          .filter(_._2.length == q.length)
          .map { case (id, v) => (id, cosine(v, q)) }
          .toArray.sortBy { case (id, c) => (-c, id) }
          .take(K).map(_._1).toSet
      }.toMap

      val cents = Similarity.trainCentroids(df, "vec_id", "embedding", k = nCells,
        knownDim = dim)

      val layouts: Seq[(String, Similarity.IndexLayout)] = Seq(
        "float" -> Similarity.IvfFloat("vec_id", "embedding", cents),
        "int8" -> Similarity.IvfInt8("vec_id", "embedding", cents))

      layouts.foreach { case (lname, layout) =>
        val path = s"$outRoot/$fname/$lname"
        Similarity.writeIndex(df, layout, path)
        val bytes = genBytes(spark, path)
        val nProbes = Seq(1, 2, 4, 8, nCells).distinct.filter(_ <= nCells)
        nProbes.foreach { nProbe =>
          measureRow(fname, lname, bytes, nProbe, qids, truth, qid => Similarity.probeIndex(
            spark, path, layout, byId(qid), K, nProbe, excludeId = Some(qid)))
        }
      }

      // LSH rung (r17 verdict ask #4 — the candidate-set member of the
      // ladder): its loss is whether a true neighbor COLLIDES with the
      // query in at least one band (vs IVF's routing loss), and the
      // re-rank is exact cosine on the stored float vector — so recall
      // moves with BANDING density, not probed volume, and each
      // (bands × bitsPerBand) point is its OWN index (signatures are
      // baked in at write time). The nProbe column carries `bands`,
      // the probed partition-dir count (the listing-cost analog of
      // IVF's nProbe). bytes shows the bands× payload duplication —
      // the space-for-time trade the Lsh layout documents.
      val lshConfigs = Seq((8, 8), (16, 8), (24, 3), (32, 6))
      lshConfigs.foreach { case (bands, bits) =>
        val lname = s"lsh-${bands}x$bits"
        val path = s"$outRoot/$fname/$lname"
        val layout = Similarity.Lsh("vec_id", "embedding", bands, bits, dim = dim)
        Similarity.writeIndex(df, layout, path)
        measureRow(fname, lname, genBytes(spark, path), bands, qids, truth,
          qid => Similarity.probeIndex(
            spark, path, layout, byId(qid), K, nProbe = bands, excludeId = Some(qid)))
      }
    }
    spark.stop()
  }
}
