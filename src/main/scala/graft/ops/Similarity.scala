package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (north-star extension,
  * BASELINE.json; SURVEY.md §2.2 `q_sim_topk`).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (tiny) query
  * set against the full corpus, per-partition top-k via
  * TakeOrderedAndProject (no full sort, no shuffle of the corpus).
  *
  * Scale path: [[lshTopK]] buckets vectors by random-hyperplane signatures
  * (SimHash for real vectors); candidates are generated by an equi-join on
  * (band, signature) — a shuffle on a small key space instead of a cross
  * product. Recall is tunable via (bands, bits). At 100 TB the corpus side
  * streams through the join; only signatures + ids shuffle.
  *
  * == Choosing a rung of the persisted-index payload ladder ==
  *
  * Every persisted index is an [[IndexLayout]] value driven through one
  * seam: [[writeIndex]], [[ingestIndexStream]], [[probeIndex]] and
  * [[compactIndex]], all under the same generation-pointer root
  * discipline. The IVF layouts trade index bytes for score fidelity —
  * all bucket-routed on the ORIGINAL float vector, so routing recall is
  * identical across rungs and the ladder only moves the re-rank:
  *
  *  1. FLOAT ([[IvfFloat]]) — 4·dim bytes/vector, exact cosine
  *     re-rank: recall at a given nProbe is the IVF routing itself.
  *     Build this when the index fits your page-cache budget. At
  *     corpus-proportional bucket counts use the hierarchical build
  *     ([[IvfFloatHier]]) so assignment stays ~√k per row.
  *  2. INT8 ([[IvfInt8]]) — dim bytes (~4× smaller,
  *     spec-pinned < 0.6× float on disk), ≤ half-step/dimension error.
  *     The default rung: on the near-random fixture its recall curve
  *     tracks float EXACTLY through nProbe=8 and gives up 0.012 at
  *     nProbe=16 (RecallProbe r16) for ~3× fewer bytes on disk.
  *
  * Raising nProbe buys back routing loss only: quantization loss is in
  * the stored bytes, and no probed volume recovers it. Near-duplicate
  * neighbourhoods (true top-k at cosine ≳ 0.95, gaps ~1e-3) need float,
  * int8 or LSH: product-quantized codes at m ≤ 16 bytes measured
  * recall@10 0.13-0.22 there at EVERY nProbe while float reached 1.0
  * (PLANS.md "ANN payload-ladder recall surface"), which is why the
  * ladder has no PQ rung.
  *
  * The LSH index ([[Lsh]]) sits BESIDE the IVF ladder, not
  * on it: its loss is CANDIDATE-SET (a true neighbor must collide with
  * the query in ≥1 band; the re-rank is exact cosine on the stored
  * float vector) where IVF's is routing, so recall moves with banding
  * density (bands × bitsPerBand — each point is its own build) rather
  * than probed volume, and the price is bands× payload duplication on
  * disk vs IVF's 1×. Prefer it when the corpus has no cluster
  * structure for centroids to exploit or when per-probe latency must
  * not scan nProbe-worth of bucket volume; prefer IVF when storage
  * dominates. The standing `graft.RecallProbe` (test scope)
  * re-measures the full recall/bytes/latency surface per round,
  * LSH rows included — current table in PLANS.md.
  */
object Similarity {

  /** Top-k most cosine-similar rows to the vector with id `queryId`.
    * The single-row query side is broadcast — the corpus is never
    * shuffled or collected.
    */
  def bruteForceTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int): DataFrame = {
    val q = emb
      .filter(col(idCol) === queryId)
      .select(col(vecCol).as("__query_vec"))
    emb
      .filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(
        col(idCol),
        graft.functions.native.cosineSim(col(vecCol), col("__query_vec")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Batched exact top-k — the serving shape where several query
    * vectors are answered together: a union of per-query
    * TakeOrderedAndProject heaps, each the [[bruteForceTopK]] plan, over
    * the same corpus (Spark schedules the branches' scans concurrently;
    * with the corpus cached they share one materialization). Output is
    * `(query_id, id, cos_sim)` ordered (query, score desc, id).
    *
    * Scale shape: per-branch cost is one scan + a k-row heap — nothing
    * shuffles ∝ corpus, and the final determinism sort sees only
    * queries×k rows. The union-of-heaps form is right for a bounded
    * query batch (each branch stays whole-stage-codegen'd with its own
    * pushed filter); a HIGH-volume query stream instead probes the
    * persisted LSH/IVF indexes ([[probeIndex]] over an [[Lsh]] or
    * [[IvfInt8]] layout, optionally predicate-filtered) where
    * per-query cost is corpus-independent — this operator is the exact
    * baseline those paths are verified against.
    *
    * Measured (r10 ScaleProbe, sf0.1 ×8 tiling): 1.02 at ×8 — a union of
    * per-query heaps, corpus-scan-bound per branch. */
  def bruteForceTopKBatch(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int): DataFrame = {
    require(queryIds.nonEmpty, "bruteForceTopKBatch needs at least one query id")
    require(queryIds.distinct.size == queryIds.size, s"duplicate query ids: $queryIds")
    queryIds
      .map { qid =>
        bruteForceTopK(emb, idCol, vecCol, qid, k)
          .select(lit(qid).as("query_id"), col(idCol), col("cos_sim"))
      }
      .reduceLeft(_.unionByName(_))
      .orderBy(col("query_id"), col("cos_sim").desc, col(idCol))
  }

  /** Random-hyperplane signature: `bits` sign bits packed into a Long.
    * Deterministic Gaussian planes are generated driver-side from the
    * seed (spherically symmetric, so the classic collision bound
    * P[bit match] = 1 - θ/π holds exactly) and the signature is one
    * native codegen'd kernel call
    * ([[graft.functions.HyperplaneSignatures]]). `dim` must match the
    * vector length — see [[detectDim]]. */
  def hyperplaneSignature(vec: Column, bits: Int, dim: Int, seed: Int = 42): Column =
    graft.functions.native
      .hyperplaneSignatures(vec, bands = 1, bits = bits, dim = dim, seed = seed)
      .getItem(0)

  /** Vector dimensionality of a column: the MODAL `size(vec)` over the
    * non-null rows (ties break to the smaller dim — deterministic); 0
    * for an empty / all-null input (callers return an empty result
    * rather than crash at plan-construction time). Modal, not
    * first-row: rows whose length differs from the detected dim get
    * NULL signatures/similarities from the kernels (see
    * [[graft.functions.VectorKernels]]) rather than garbage, so a
    * ragged FIRST row would otherwise pick the wrong dim and silently
    * NULL out nearly the whole corpus (an LSH index of empty
    * signatures). Cost: one aggregate pass over the column — a handful
    * of distinct sizes, so the shuffle is bytes, and every caller's own
    * scan of the same column dominates it. Callers that run several
    * dim-dependent steps over one corpus should detect once and pass
    * the result down (the trainers' `knownDim`). */
  def detectDim(emb: DataFrame, vecCol: String): Int =
    emb.filter(col(vecCol).isNotNull)
      .groupBy(size(col(vecCol)).as("d"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("d").asc)
      .limit(1) // bounded collect: one (dim, count) row
      .collect() match {
      case Array(r) => r.getInt(0)
      case _        => 0
    }

  // ---- IVF (inverted-file) ANN ------------------------------------------

  /** Deterministic spherical k-means over a bounded sample, driver-side.
    *
    * The sample is the first `sampleSize` rows by id (deterministic), the
    * init is `k` evenly-spaced sample points, `iters` Lloyd iterations
    * with mean-renormalize. Driver cost is O(sampleSize · k · dim · iters)
    * and INDEPENDENT of corpus size — at 100 TB the training set is still
    * a bounded sample; only assignment (one map-side pass) sees the
    * corpus. Returns unit-normalized centroids.
    */
  def trainCentroids(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      sampleSize: Int = 2048,
      iters: Int = 10,
      knownDim: Int = 0): Array[Array[Float]] = {
    val pts = normalizedSample(emb, idCol, vecCol, sampleSize, knownDim)
    if (pts.isEmpty) Array.empty else kmeansSpherical(pts, k, iters)
  }

  /** Bounded, deterministic driver sample for centroid training: first
    * `sampleSize` finite non-null vectors OF THE CORPUS DIMENSION by id,
    * unit-normalized. Non-finite (or null-element) vectors are
    * DROPPED — and dropped BEFORE the limit, so a poisoned low-id prefix
    * cannot consume the sample budget and starve training on a perfectly
    * trainable corpus. Why dropped at all: a single NaN/Inf element
    * would normalize to an all-NaN point, and NaN ranks above any number
    * in the assignment kernels — one poisoned sample point would turn
    * every trained centroid (spherical, hier) into NaN silently. The
    * scorers already NULL such rows; the trainers must not learn from
    * them. (The gate is one compiled early-exit pass per
    * row — `is_finite_vec` — NOT a `forall` HOF, which evaluates
    * interpreted per element on a scan that touches the whole corpus; a
    * null element counts as non-finite, since it would unbox to a fake
    * 0.)
    *
    * RAGGED rows (length ≠ the corpus dimension) are dropped the same
    * way, and for the same one-bad-row-poisons-the-model reason: the
    * executor kernels NULL a mismatched row per row, but the trainers
    * index every sampled point up to `pts.head.length` — a short row in
    * the sample would throw (kmeans). The corpus dimension comes from
    * [[detectDim]] (corpus-modal, NOT a
    * prefix probe — a prefix-bounded probe would re-open the
    * poisoned-prefix hole one level up, a ragged low-id run poisoning
    * the detected dim itself), then is enforced as a `size(vec) === dim`
    * predicate BEFORE the limit. `knownDim > 0` skips the detection
    * pass — the trainers expose it so a multi-trainer build pipeline
    * (flat and hierarchical centroids over one corpus) detects once
    * instead of re-running the identical aggregate per trainer. */
  private def normalizedSample(
      emb: DataFrame, idCol: String, vecCol: String, sampleSize: Int,
      knownDim: Int = 0): Array[Array[Float]] = {
    val finite = emb
      .filter(col(vecCol).isNotNull)
      .filter(graft.functions.native.isFiniteVec(col(vecCol)))
    val dim = if (knownDim > 0) knownDim else detectDim(finite, vecCol)
    if (dim <= 0) return Array.empty
    finite
      .filter(size(col(vecCol)) === dim)
      .orderBy(col(idCol))
      .limit(sampleSize)
      .select(col(vecCol))
      .collect()
      .map(r => normUnit(r.getSeq[Float](0).toArray))
  }

  private def normUnit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
    if (n == 0.0) v else v.map(x => (x / n).toFloat)
  }

  /** The driver-side spherical-k-means Lloyd loop [[trainCentroids]] and
    * [[trainCentroidsHier]] share — `pts` must already be
    * unit-normalized (dot == cosine). Deterministic: stride-spaced
    * initialization, fixed iteration count, empty clusters keep their
    * centroid. */
  private def kmeansSpherical(
      pts: Array[Array[Float]], k: Int, iters: Int): Array[Array[Float]] = {
    val kk = math.min(k, pts.length)
    var centroids = Array.tabulate(kk)(i => pts((i.toLong * pts.length / kk).toInt).clone())
    val dim = pts.head.length
    for (_ <- 0 until iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Int](kk)
      pts.foreach { p =>
        val best = argmaxDot(p, centroids)
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old // empty cluster keeps its centroid
        else normUnit(sums(c).map(_.toFloat))
      }
    }
    centroids
  }

  private def argmaxDot(p: Array[Float], centroids: Array[Array[Float]]): Int = {
    var best = 0
    var bestDot = Double.MinValue
    var c = 0
    while (c < centroids.length) {
      var dot = 0.0
      var i = 0
      while (i < p.length) { dot += p(i).toDouble * centroids(c)(i); i += 1 }
      if (dot > bestDot) { bestDot = dot; best = c }
      c += 1
    }
    best
  }

  /** Two-level centroid model for hierarchical assignment
    * ([[graft.functions.native.nearestCentroidsHier]]): `fine(i)` lives
    * in coarse cell `fineCell(i)`; fine indices are global and
    * cell-major. */
  final case class HierCentroids(
      coarse: Array[Array[Float]],
      fine: Array[Array[Float]],
      fineCell: Array[Int]) {
    def isEmpty: Boolean = fine.isEmpty
  }

  /** Two-level spherical k-means: train `coarseCells` cells on the
    * sample, partition the sample by nearest cell, then train up to
    * `finePerCell` fine centroids INSIDE each cell — total fine count ≈
    * coarseCells × finePerCell with training cost
    * O(iters·sample·(coarseCells + finePerCell)·dim), versus the flat
    * trainer's O(iters·sample·k·dim). This is what makes
    * corpus-proportional k affordable at both ends: training here,
    * assignment via the hierarchical kernel (per row
    * ~(coarseCells + probes·finePerCell)·dim instead of k·dim). The
    * standard IVF-within-IVF construction (same trade-off FAISS's
    * two-level quantizers make); the price is recall at cell
    * boundaries, bought back by probing `coarseProbes` > 1 cells at
    * assignment time. Cells that attract no sample points contribute
    * no fine centroids (they are unreachable anyway). */
  def trainCentroidsHier(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      coarseCells: Int,
      finePerCell: Int,
      sampleSize: Int = 2048,
      iters: Int = 10,
      knownDim: Int = 0): HierCentroids = {
    require(coarseCells >= 1 && finePerCell >= 1,
      s"coarseCells=$coarseCells and finePerCell=$finePerCell must be >= 1")
    // zero-norm points (unlike the flat trainer, which must stay
    // bit-compatible with its oracles) are dropped here: they carry no
    // direction, and a p/−p-balanced cell could otherwise train a
    // zero-norm coarse centroid the assignment kernel can never probe
    val pts = normalizedSample(emb, idCol, vecCol, sampleSize, knownDim)
      .filter(_.exists(_ != 0f))
    if (pts.isEmpty) return HierCentroids(Array.empty, Array.empty, Array.empty)
    // a zero-norm coarse centroid (pathological ±p cancellation) is
    // dropped with its cell; members re-assign to the survivors, so
    // every emitted cell is selectable by the kernel's pass 1 — the
    // invariant NearestCentroidsHier validates at construction
    val coarse = kmeansSpherical(pts, coarseCells, iters).filter(_.exists(_ != 0f))
    if (coarse.isEmpty) return HierCentroids(Array.empty, Array.empty, Array.empty)
    val byCell = Array.fill(coarse.length)(scala.collection.mutable.ArrayBuffer.empty[Array[Float]])
    pts.foreach(p => byCell(argmaxDot(p, coarse)) += p)
    val fine = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    val cell = scala.collection.mutable.ArrayBuffer.empty[Int]
    byCell.zipWithIndex.foreach { case (members, c) =>
      if (members.nonEmpty)
        // the same ±p-cancellation guard as the coarse level: a
        // zero-norm fine centroid would only ever be skipped by the
        // kernel, so the trained model simply never carries one
        kmeansSpherical(members.toArray, finePerCell, iters)
          .filter(_.exists(_ != 0f))
          .foreach { f =>
            fine += f
            cell += c
          }
    }
    HierCentroids(coarse, fine.toArray, cell.toArray)
  }

  /** The `nProbe` bucket ids nearest to `queryVec` by centroid dot
    * product (centroids are unit-norm, so the query's norm is a constant
    * factor across buckets) — the single probe-selection used by BOTH
    * [[ivfTopK]] and the IVF layouts' [[probeIndex]], so their documented equivalence
    * cannot drift. */
  private def nearestBuckets(
      queryVec: Array[Float],
      centroids: Array[Array[Float]],
      nProbe: Int): Array[Int] =
    centroids
      .map { c =>
        var dot = 0.0
        var i = 0
        while (i < c.length && i < queryVec.length) {
          dot += queryVec(i).toDouble * c(i); i += 1
        }
        dot
      }
      .zipWithIndex
      .sortBy(-_._1)
      .take(nProbe)
      .map(_._2)

  /** Nearest-centroid bucket id per vector — the IVF assignment pass.
    * One native kernel call per row ([[graft.functions.NearestCentroid]]);
    * the centroid table rides into codegen as a reference object (k·dim
    * floats — broadcast-sized), so assignment is map-side only, no
    * shuffle, and `k` can reach realistic IVF sizes (hundreds–thousands)
    * without stacking k cosine columns (which blows codegen method limits
    * and traverses the vector k times — the pre-kernel formulation).
    * Rows with NULL/ragged vectors get a NULL bucket. */
  def assignBuckets(
      emb: DataFrame,
      vecCol: String,
      centroids: Array[Array[Float]]): DataFrame =
    emb.withColumn(
      "bucket",
      graft.functions.native.nearestCentroid(col(vecCol), centroids))

  /** [[assignBuckets]] through a two-level model ([[trainCentroidsHier]])
    * — the index-BUILD half of the corpus-proportional-k story (the
    * probe half needs nothing: scoring ONE query vector against k fine
    * centroids is driver-side arithmetic). Flat assignment is
    * O(rows·k·dim); this is O(rows·(coarse + probes·fine/coarse)·dim) —
    * ~√k per row at coarse ≈ √k. Bucket ids are GLOBAL fine-table
    * indices, the same id space flat assignment over `model.fine` would
    * produce, so [[probeIndex]] probes the resulting index unchanged
    * (as an [[IvfFloat]] over `model.fine`, or the [[IvfFloatHier]]
    * layout itself); with
    * `probes >= model.coarse.length` the assignment — and therefore the
    * whole index layout — EQUALS the flat build bit-for-bit
    * (spec-pinned, the kernel's exact anchor). Fewer probes trade
    * assignment recall at coarse boundaries for the √k build cost, the
    * same trade [[graft.ops.NearDup.semanticDedupHier]] documents. */
  def assignBucketsHier(
      emb: DataFrame,
      vecCol: String,
      model: HierCentroids,
      probes: Int): DataFrame = {
    require(!model.isEmpty, "assignBucketsHier needs a trained model")
    emb.withColumn(
      "bucket",
      element_at(
        graft.functions.native.nearestCentroidsHier(
          col(vecCol), model.coarse, model.fine, model.fineCell, probes, 1),
        1))
  }

  /** IVF approximate top-k: score the query against the centroids
    * driver-side, scan only the `nProbe` nearest buckets, exact re-rank
    * within them. With the bucket column persisted as a partition/bucket
    * key, the probe reads nProbe/k of the corpus (partition pruning);
    * here it is a filter over the assignment pass. Recall depends on
    * (k, nProbe) and the corpus geometry — on clustered data small
    * nProbe suffices (SimilaritySpec); the declared query uses settings
    * with measured full recall on the fixture. */
  def ivfTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      nCentroids: Int = 8,
      nProbe: Int = 4,
      sampleSize: Int = 2048,
      iters: Int = 10): DataFrame = {
    val centroids = trainCentroids(emb, idCol, vecCol, nCentroids, sampleSize, iters)
    if (centroids.isEmpty)
      return emb.select(col(idCol), lit(0.0).as("cos_sim")).limit(0)
    val qRows = emb.filter(col(idCol) === queryId).select(col(vecCol)).head(1)
    if (qRows.isEmpty || qRows(0).isNullAt(0))
      return emb.select(col(idCol), lit(0.0).as("cos_sim")).limit(0)
    val qVec = qRows(0).getSeq[Float](0).toArray
    val probes = nearestBuckets(qVec, centroids, nProbe)
    import org.apache.spark.sql.functions.typedLit
    assignBuckets(emb, vecCol, centroids)
      .filter(col("bucket").isin(probes.toSeq: _*) && col(idCol) =!= queryId)
      .select(
        col(idCol),
        graft.functions.native.cosineSim(col(vecCol), typedLit(qVec.toSeq)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Repartition an index layout for its partitioned write. One task
    * per partition VALUE is the compacted layout probes want (files ∝
    * buckets, not tasks×buckets — the r16 finding), but at SMALL
    * bucket counts it would serialize the write: a hot bucket becomes
    * one task, and a clustered corpus at k ≪ cores writes effectively
    * single-threaded. So when the value count is under ~2× the
    * cluster's parallelism, a within-bucket ROW-HASH salt (xxhash64
    * over the hashable columns — deterministic, input-partitioning-
    * independent) restores write parallelism at the price of `spread`
    * files per value — still ∝ buckets. At corpus-proportional bucket
    * counts (the production sizing, buckets ≫ cores) spread == 1 and
    * the steady-state layout is exactly one file per value. Shared by
    * every batch index writer here, [[NearDup.writeMinhashIndex]], and
    * [[Search.writeBm25Index]], so the layout discipline cannot drift
    * per writer. Cap FILE size at extreme per-bucket volume with
    * `spark.sql.files.maxRecordsPerFile`, not by undoing this.
    *
    * The parallelism target defaults to `defaultParallelism`, read at
    * PLAN time — under dynamic allocation that is the executors at
    * submit, not the fleet the write will actually have, so a build
    * launched before scale-up can compute spread == 1 and serialize a
    * small-bucket write (performance only, never correctness — r16
    * advisor finding). Such deployments set `graft.index.writeParallelism`
    * (Spark conf) to the intended write parallelism; it overrides the
    * probe entirely. */
  private[graft] def spreadForWrite(
      df: DataFrame, nPartValues: Int, cols: Column*): DataFrame = {
    val par = df.sparkSession.conf.getOption("graft.index.writeParallelism")
      .flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    val spread = math.max(1, math.ceil(2.0 * par / math.max(1, nPartValues)).toInt)
    if (spread == 1) df.repartition(cols: _*)
    else df.repartition(
      // ROW-derived salt (hash of every column), not spark_partition_id:
      // the input may arrive AQE-coalesced into fewer partitions than
      // `spread`, and a partition-id salt would then take that few
      // distinct values — serializing the write in exactly the
      // small-bucket regime the salt exists to fix. Hashing the full row
      // costs one pass over the write set (one-off, amortized) and is
      // deterministic. AQE's partition COALESCING may still merge the
      // salted partitions when the write set is small (below the
      // advisory partition size) — harmless by construction: the merge
      // only happens when every salted slice is tiny, i.e. when a
      // serialized write costs nothing anyway, and files stay ∝ values
      // because the salt is not a directory column. At the volumes the
      // salt exists for (a hot bucket holding gigabytes) the slices sit
      // far above the advisory size and stay apart (IndexLayoutSpec
      // pins the mechanism with coalescing pinned off). Only HASHABLE
      // columns feed the salt (hash expressions reject MapType), with
      // backtick-quoted names (a dotted column name would otherwise
      // parse as a nested-field access): payload columns ride into
      // every index (compressedKeep, the Lsh layout's col("*")) and a
      // legal map/dotted payload must not fail the build. Degenerate
      // all-map schema → salt on the partition cols alone (no spread,
      // but the write still succeeds — such a payload dwarfs the index
      // anyway and the caller was told to keep payloads narrow).
      (cols :+ pmod(xxhash64(saltCols(df): _*), lit(spread.toLong))): _*)
  }

  /** The hashable-leaf column set [[spreadForWrite]]'s salt hashes —
    * everything except (possibly nested) MapType, which Spark's hash
    * expressions reject. Backticked so dotted names stay column
    * references. */
  private def saltCols(df: DataFrame): Seq[Column] = {
    // the shared ops-wide hashable predicate (r20: was a private copy)
    val cs = df.schema.fields.filter(f => HashableType.isHashable(f.dataType))
      .map(f => col(s"`${f.name}`")).toSeq
    if (cs.nonEmpty) cs else Seq(lit(0L))
  }

  /** Read exactly the named partition SUBPATHS (`bucket=7`,
    * `band=2/sig=117`, …) under `dir` (`basePath` keeps the partition
    * columns) — file LISTING O(|subpaths|) instead of O(all partition
    * values), the probe-side half of the [[spreadForWrite]] layout
    * discipline. Shared by [[readIndex]]'s probedParts branch (IVF
    * bucket dirs, LSH band/sig dirs) and [[Search.bm25TopKIndexed]] so
    * the subtle parts (basePath semantics, exists-gating, the
    * empty-dirs schema fallback) cannot drift between copies. ONLY for
    * batch-written tables: a streaming sink's `_spark_metadata` commit
    * log is honored solely at the sink root, so an explicit subdir
    * read there would surface crashed batches' orphan files. When none
    * of the named dirs exist, the full-listing read serves purely as
    * the SCHEMA source for an empty result.
    *
    * `totalValues` (the layout's total partition-value count, when the
    * caller knows it) arms the DENSE-probe short-circuit: a probe
    * naming ≥ ¾ of all values reads the ROOT instead — explicit
    * pruning exists for the sparse regime, and a dense dir list is
    * strictly worse than the one recursive root listing it replaces
    * (|subpaths| exists-calls, and past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` = 32
    * root paths Spark spawns a distributed LISTING JOB per read, a
    * fixed per-probe cost the single-root read never pays). The named-
    * subpaths-only result contract HOLDS on that path too: the helper
    * derives the partition predicate from the subpaths and applies it
    * to the root read itself (structural since r18 — relying on each
    * caller's own `isin` was a comment-enforced trap a future guard-
    * less caller would spring silently), and the predicate partition-
    * prunes at the scan, so the residual <¼ of values costs no read.
    * Callers' own partition filters remain welcome (and [[readIndex]]'s
    * probes still need theirs for the streamed/ union, which this
    * helper never sees). Sparse probes (IVF nProbe buckets, LSH
    * band/sig, BM25 terms) stay on the exact named-dirs read. */
  private[graft] def prunedPartitionRead(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      dir: String,
      subpaths: Seq[String],
      totalValues: Option[Int] = None): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val subs = subpaths.distinct
    // an EMPTY probe set is never dense — totalValues = Some(0) (an
    // empty index's centroid roster) would otherwise arm the root read
    // and hand subpathPredicate a no-names list; the sparse path routes
    // it to the filtered-empty fallback, which is what "no probed
    // values" means
    val dense = subs.nonEmpty && totalValues.exists(t => subs.size * 4 >= t * 3)
    val dirs =
      if (dense) {
        // one shallow listing replaces |subs| exists-calls; a root with
        // no partition dir at all falls through to the schema fallback
        if (fs.listStatus(root).exists(st =>
            st.isDirectory && st.getPath.getName.contains("="))) Seq(dir)
        else Seq.empty[String]
      } else subs
        .map(v => new org.apache.hadoop.fs.Path(root, v))
        .filter(fs.exists).map(_.toString)
    if (dirs.nonEmpty) {
      val df = spark.read.option("basePath", dir).parquet(dirs: _*)
      if (dense) df.filter(subpathPredicate(df, subs)) else df
    }
    else {
      // schema-source fallback for the none-exist case: ONE shallow
      // listing picks any existing partition dir to read (filtered
      // empty) — NOT the full recursive root listing the pruning
      // exists to avoid, which would otherwise return as the
      // worst-case cost of the rare all-probed-dirs-absent probe. A
      // root with no partition dirs at all falls through to the full
      // read, which fails (or infers) exactly as it always did.
      fs.listStatus(root).filter(_.isDirectory)
        .map(_.getPath).find(_.getName.contains("=")) match {
        case Some(p) =>
          spark.read.option("basePath", dir).parquet(p.toString).filter(lit(false))
        case None => spark.read.parquet(dir).filter(lit(false))
      }
    }
  }

  /** The partition predicate a subpath list denotes — `bucket=7` →
    * `bucket = 7`, `band=2/sig=117` → `band = 2 AND sig = 117`, the
    * whole list OR'd — built from the SAME strings the sparse path
    * reads as directories, so the dense root-read path can never
    * return rows the sparse path would not have
    * ([[prunedPartitionRead]]'s structural guard). Literals are cast
    * to the read schema's column types (dir names are the canonical
    * string form of the layouts' int partition values; escaped string
    * values unescape the same way the writer escaped them), keeping
    * the comparison native so it partition-prunes at the scan. The
    * single-column shape (every graft layout except LSH) collapses to
    * one `isin`. Null-valued partitions (`__HIVE_DEFAULT_PARTITION__`)
    * are not representable — no graft writer produces them and no
    * probe names them. */
  private def subpathPredicate(df: DataFrame, subs: Seq[String]): Column = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    // no names ⇒ no rows (the caller's dense guard should keep this
    // unreachable, but an empty reduce must never be the failure mode)
    if (subs.isEmpty) return lit(false)
    def typed(name: String, raw: String): Column =
      lit(unescapePathName(raw)).cast(df.schema(name).dataType)
    val parsed: Seq[Seq[(String, String)]] = subs.map(_.split("/").toSeq.map { seg =>
      val i = seg.indexOf('=')
      require(i > 0,
        s"dense-probe guard: subpath segment '$seg' is not a col=value pair")
      seg.take(i) -> seg.drop(i + 1)
    })
    parsed.map(_.map(_._1)).distinct match {
      case Seq(Seq(c)) => col(c).isin(parsed.map(kv => typed(c, kv.head._2)): _*)
      case _ =>
        parsed
          .map(_.map { case (c, v) => col(c) === typed(c, v) }.reduce(_ && _))
          .reduce(_ || _)
    }
  }

  /** Resolve the live generation of an index root ([[Generations]]
    * layout) and read its `base` (∪ `streamed` when the generation has
    * streaming appends). Every probe goes through here, so probes are
    * pinned to ONE committed generation for their whole lifetime —
    * a concurrent rebuild/compaction flips later probes to the new
    * generation and never disturbs this one (the grace-generation
    * discipline; see [[Generations]]). The union is by NAME. A
    * mismatched streamed/ cannot be produced by the ingesters here —
    * [[requireLayoutMatch]] refuses the stream at START — so a
    * hand-written or legacy one failing this union loudly is the
    * BACKSTOP, not the designed guard.
    *
    * `probedParts` (the IVF probes pass their nProbe `bucket=` dirs,
    * the LSH probe its `bands` `band=/sig=` dirs) prunes the BASE read
    * to exactly those partition directories (`basePath` keeps the
    * partition columns), so probe-time file
    * LISTING is O(nProbe), not O(total buckets) — at
    * corpus-proportional bucket counts the full-root listing was the
    * probe's dominant cost and grew with the corpus (measured as the
    * r16 ScaleProbe 2f flag: probe ratio 3.66 at constant probed
    * volume, listing 512 dirs through a parallel-discovery job).
    * Deliberately NOT applied to `streamed/`: a FileStreamSink's
    * `_spark_metadata` commit log is only honored when the read names
    * the sink ROOT — an explicit `streamed/bucket=` read would bypass
    * it and surface crashed batches' orphaned files, breaking the
    * ingest's exactly-once visibility; the log read needs no directory
    * listing anyway (the log IS the file list), and partition pruning
    * still drops non-probed buckets at the scan. When none of the
    * probed buckets materialized on disk (all empty), the full-listing
    * read serves purely as the SCHEMA source for an empty result. */
  private def readIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      expectFlavor: Option[(String, String)] = None,
      probedParts: Option[Seq[String]] = None,
      // the layout's TOTAL partition-value count, when the caller knows
      // it (IVF probes: centroids.length) — arms prunedPartitionRead's
      // dense short-circuit for the nProbe ≈ nlist regime (explicit
      // pruning is for sparse probes; ≥¾-dense dir lists pay per-dir
      // exists calls plus a parallel-discovery listing JOB past 32
      // paths). The helper applies the probed-parts predicate on that
      // path itself (structural since r18); probes keep their own
      // bucket `isin` anyway — it is what prunes the streamed/ union.
      probedTotal: Option[Int] = None): DataFrame = {
    val (fs, root) = Generations.fsRoot(spark, path)
    val gen = Generations.currentDir(fs, root)
    // flavor checked against the SAME resolve the scan reads — a
    // separate check-then-read would let a rebuild commit in between
    // and pass an 'ivf-float' check on a generation the scan then reads
    // as 'ivf-int8' (the exact poison the marker exists to stop)
    expectFlavor.foreach { case (flavor, who) =>
      Generations.readFlavorMarker(fs, gen).foreach(f =>
        require(f == flavor,
          s"$who: index root flavor '$f' does not match this probe's '$flavor' — " +
            "its codes would decode as garbage"))
    }
    val streamedDir = new org.apache.hadoop.fs.Path(gen, "streamed")
    val base: DataFrame = probedParts match {
      case Some(ps) => prunedPartitionRead(spark, fs, s"$gen/base", ps, probedTotal)
      case None     => spark.read.parquet(s"$gen/base")
    }
    if (fs.exists(streamedDir)) base.unionByName(spark.read.parquet(streamedDir.toString))
    else base
  }

  /** Open the next index generation under `path`, run `body` against its
    * directory, stamp the generation's FLAVOR marker, then commit (the
    * atomic flip). Retired generations are swept first, so the root
    * holds at most the live generation plus the one being written. A
    * full REBUILD through this is atomic to concurrent probes, same as
    * a compaction.
    *
    * The flavor marker exists because a root read back from disk must
    * match the layout that reads it, and [[requireLayoutMatch]] sees
    * only the schema, not which layout wrote the bytes; so ingesters,
    * probes and compactions check the marker — a wrong-flavor append
    * would decode as plausible-looking garbage forever, silently.
    * Written INSIDE the generation before its done flip, so it is
    * exactly as atomic as the data. */
  /** Shared batch-producer front: run `body` as a locked
    * [[Generations.rebuild]] and stamp the generation's flavor marker
    * inside the same pre-flip window. FS CONTRACT (applies to every
    * [[writeIndex]] call): producer mutual
    * exclusion needs atomic create-exclusive on the index root's
    * filesystem — [[Generations.acquireLock]] refuses object-store
    * roots unless producers are serialized externally and
    * `-Dgraft.generations.allowNonAtomicFs=true` says so. */
  private def newGeneration(
      spark: org.apache.spark.sql.SparkSession, path: String, flavor: String)(
      body: String => Unit): Unit = {
    val (fs, root) = Generations.fsRoot(spark, path)
    Generations.rebuild(fs, root) { gen =>
      body(gen)
      Generations.writeFlavorMarker(fs, new org.apache.hadoop.fs.Path(gen), flavor)
    }
  }

  /** Start guard for the ingest streams: pair each checkpoint with the
    * ONE generation it ingests into via a shared identity — a UUID
    * written to `<checkpoint>/graft-ingest-id` and `<gen>/_INGEST_ID`
    * at first start. A resume is legitimate iff both ids exist and
    * match. Mere sink-log existence is NOT the tell (the first cut
    * here checked it): a LATER ingest lays its own
    * `streamed/_spark_metadata` in the live generation, and a stale
    * checkpoint resumed against it would find its batch ids already
    * recorded and have FileStreamSink silently skip them — committed
    * source offsets, no rows. Mismatch directions:
    *   - checkpoint id without a matching generation id: the
    *     checkpoint's generation was closed by a compaction/rebuild
    *     (or the generation belongs to another ingest) — refuse, as
    *     [[compactIndex]]'s recovery contract prescribes;
    *   - fresh checkpoint against a generation that already has a sink
    *     log: another checkpoint's appends live here, and a from-zero
    *     batch counter would collide with its log — refuse, compact
    *     first (folds `streamed/`, opens a clean generation). A
    *     pre-pairing checkpoint (created before this identity scheme
    *     existed) that rightfully owns the sink log lands here too —
    *     refused CONSERVATIVELY, since nothing on disk can prove the
    *     ownership; the compact-first heal applies unchanged;
    *   - generation id without a sink log: a pairing that never
    *     committed a batch — either THIS start's predecessor died
    *     mid-pairing or another checkpoint holds the claim. The two
    *     are indistinguishable on disk, so refuse with both heals
    *     spelled out (resume the paired checkpoint, or delete the
    *     generation id to free the claim — no sink commit exists, so
    *     neither direction can lose rows) rather than silently steal
    *     a claim a resumable checkpoint may still hold.
    * Runs under the producer lock (caller), so the pairing check and
    * the id writes cannot race another producer. */
  private def bindIngestIdentity(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      gen: org.apache.hadoop.fs.Path,
      checkpointDir: String): Unit = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val ckptRoot = new Path(checkpointDir)
    val cfs = ckptRoot.getFileSystem(spark.sessionState.newHadoopConf())
    val ckptId = new Path(ckptRoot, "graft-ingest-id")
    val genId = new Path(gen, "_INGEST_ID")
    val sinkLog = new Path(gen, "streamed/_spark_metadata")
    def read(fsx: FileSystem, p: Path): Option[String] =
      if (!fsx.exists(p)) None
      else {
        val in = fsx.open(p)
        try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      }
    // no husks: a partial id file would wedge every retry into the
    // mismatch arm (Generations.writeFully is the one shared copy of
    // the write-or-cleanup discipline)
    def write(fsx: FileSystem, p: Path, s: String): Unit =
      Generations.writeFully(fsx, p, fsx.create(p, true), s)
    (read(cfs, ckptId), read(fs, genId)) match {
      case (Some(c), Some(g)) if c == g => () // the one legitimate resume
      case (Some(c), g) =>
        throw new IllegalStateException(
          s"checkpoint $checkpointDir (ingest id $c) does not belong to the live " +
            s"index generation $gen (${g.fold("no ingest id — closed by a " +
              "compaction/rebuild")(id => s"ingest id $id")}). Resuming it would " +
            "silently lose batches: the sink either no longer remembers this " +
            "checkpoint's commits or records another's. Start the ingest with a " +
            "FRESH checkpoint and carry the source position over explicitly " +
            "(e.g. Kafka startingOffsets from the old checkpoint's offsets/ log).")
      case (None, _) if fs.exists(sinkLog) =>
        throw new IllegalStateException(
          s"live index generation $gen already carries a sink log this checkpoint " +
            "cannot prove it owns (no graft-ingest-id) — a colliding batch counter " +
            "would make FileStreamSink silently skip batches. Compact the index " +
            "first (folds streamed/ and opens a clean generation), then start the " +
            "fresh-checkpoint ingest.")
      case (None, Some(claimed)) =>
        throw new IllegalStateException(
          s"live index generation $gen is claimed by ingest id $claimed but has no " +
            "sink commits yet. Either resume THAT pairing's checkpoint, or — if it " +
            "is gone, or this checkpoint's own first start died mid-pairing — " +
            s"delete $genId and retry; no batch ever committed under the claim, so " +
            "neither direction loses rows. Not stealing the claim automatically: a " +
            "resumable checkpoint may still hold it.")
      case (None, None) =>
        // fresh pairing. Generation id FIRST: a JVM crash between the
        // writes leaves a claimed-but-unpaired generation (healed via
        // the case above), never a checkpoint id pointing at an
        // unmarked gen. An in-process FAILURE of the second write
        // unwinds the first — the claim was minted this call and no
        // batch committed under it, so deleting it is provably safe
        // and keeps the retry self-healing.
        val id = java.util.UUID.randomUUID().toString
        write(fs, genId, id)
        try write(cfs, ckptId, id)
        catch {
          case e: java.io.IOException =>
            try fs.delete(genId, false) catch { case _: java.io.IOException => () }
            throw e
        }
    }
  }

  /** The ingest streams' producer-lock bracket: acquire the root's
    * `_GEN_LOCK` for the QUERY'S LIFETIME — a live ingester pins its
    * generation, so a rebuild/compaction flipping the pointer under it
    * would strand every subsequent append (and its committed offsets)
    * in a retired generation. Holding the lock turns that silent loss
    * into the other producer failing fast, which ENFORCES the
    * stop-the-stream contract the scaladocs could previously only
    * state. Release is belt-and-braces: synchronously when `stop()` on
    * the returned handle completes (so stop-then-compact sequences
    * never race the listener bus), and via a termination listener for
    * failure exits; a JVM crash releases nothing and leaves the
    * documented stale-lock heal. */
  /** Refuse an ingest whose appended rows would not union cleanly with
    * the live generation's `base` layout — wrong ingester flavor (float
    * vs int8) or `payloadCols` that don't repeat the base
    * build's. One schema read of `base` at stream START (a directory
    * listing plus a parquet footer — the same cost every probe already
    * pays), instead of a bricked read path: a mismatched `streamed/`
    * makes every probe AND `compactIndex` throw until it is removed by
    * hand, discarding appends whose source offsets the checkpoint
    * already committed.
    *
    * Comparison: column NAMES as a set, resolved with the session's
    * case sensitivity (order is irrelevant to the by-name union, and
    * `unionByName` resolves case-insensitively under the default conf);
    * data-column TYPES via `catalogString` (nullability erased — it
    * differs legitimately between an encoder-derived stream schema and
    * a parquet round trip), because a same-name type clash would NOT
    * fail at the probe: `unionByName` widens, and the compiled probe
    * kernels would then read reinterpreted bits silently. Partition
    * columns are name-only — their read types come from directory-value
    * inference, which differs legitimately between a sparse base and a
    * fresh stream. */
  private def requireLayoutMatch(
      spark: org.apache.spark.sql.SparkSession,
      gen: org.apache.hadoop.fs.Path,
      streamedSchema: org.apache.spark.sql.types.StructType,
      partitionCols: Set[String],
      who: String): Unit = {
    val cs = spark.sessionState.conf.caseSensitiveAnalysis
    def key(n: String): String =
      if (cs) n else n.toLowerCase(java.util.Locale.ROOT)
    val parts = partitionCols.map(key)
    def sig(fields: Seq[org.apache.spark.sql.types.StructField]): Map[String, String] =
      fields.map { f =>
        val k = key(f.name)
        k -> (if (parts(k)) "<partition>" else f.dataType.catalogString)
      }.toMap
    def show(m: Map[String, String]): String =
      m.toSeq.sorted.map { case (n, t) => s"$n: $t" }.mkString(", ")
    val base = sig(spark.read.parquet(s"$gen/base").schema)
    val mine = sig(streamedSchema)
    require(base == mine,
      s"$who: streamed layout (${show(mine)}) does not match " +
        s"the live generation's base (${show(base)}) — " +
        "wrong ingester flavor or payloadCols for this index root")
  }

  /** Shared streaming-producer front: acquire the root's `_GEN_LOCK`
    * for the STREAM'S LIFETIME, resolve + layout-check + flavor-check
    * the live generation under it, start the query, release on
    * termination. FS CONTRACT (applies to every [[ingestIndexStream]]):
    * the lifetime lock needs atomic create-exclusive on the index
    * root's filesystem — [[Generations.acquireLock]] refuses
    * object-store roots unless producers are serialized externally and
    * `-Dgraft.generations.allowNonAtomicFs=true` says so. */
  private def lockedIngest(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      checkpointDir: String,
      who: String,
      streamedSchema: org.apache.spark.sql.types.StructType,
      partitionCols: Set[String],
      flavor: String)(
      start: org.apache.hadoop.fs.Path => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val token = Generations.acquireLock(fs, root, who)
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    // serialized, not just CAS-guarded: stop()'s synchronous release must
    // BLOCK until an in-flight async listener release finishes its
    // delete — a CAS loser returning early lets the operational
    // stop-then-compact sequence race the listener's delete and find the
    // lock still on disk (observed as a flaky refused compaction)
    def release(): Unit = released.synchronized {
      if (released.compareAndSet(false, true)) Generations.releaseLock(fs, root, token)
    }
    val query =
      try {
        // the generation is resolved UNDER the lock: resolving first and
        // locking second would let a compaction finish in between and
        // strand every append in the generation it just retired
        val gen = Generations.currentDir(fs, root)
        requireLayoutMatch(spark, gen, streamedSchema, partitionCols, who)
        // flavor check AFTER the schema check: the schema guard cannot
        // tell which layout wrote a root's bytes, the marker can — a
        // marker-less legacy generation falls back to the schema guard
        // alone
        Generations.readFlavorMarker(fs, gen).foreach(f =>
          require(f == flavor,
            s"$who: index root flavor '$f' does not match this ingester's '$flavor' — " +
              "wrong-flavor appends would decode as garbage"))
        bindIngestIdentity(spark, fs, gen, checkpointDir)
        start(gen)
      } catch { case t: Throwable => release(); throw t }
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) {
          release()
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    if (!query.isActive) {
      // terminated before the listener registered (listeners only see
      // events posted after registration) — release here instead
      release()
      spark.streams.removeListener(listener)
    }
    new LockedIngestQuery(query, () => release())
  }


  // ---- persisted ANN indexes: one layout-driven seam ---------------------

  /** How one persisted ANN index lays out its rows — the only thing that
    * differs between the index flavors. They all run one scheme
    * (REPOSE, ICDE 2021; streaming similarity search, EDBT 2019):
    * partition the corpus, persist each partition, prune a probe to the
    * query's partitions, re-rank the survivors. A layout holds:
    *  - `flavor`: the tag [[newGeneration]] stamps into every generation
    *    the layout writes, checked by every ingest, probe and compaction
    *    — a root read back from disk must match the layout that reads
    *    it, and a wrong-flavor reader would decode plausible-looking
    *    garbage;
    *  - `partitionCols` and `partValues`: the directory partitioning and
    *    its value count ([[spreadForWrite]]'s file-count target,
    *    [[prunedPartitionRead]]'s dense-probe threshold);
    *  - `rows`: the ONE map-side projection both [[writeIndex]] and
    *    [[ingestIndexStream]] run, so base and streamed rows are the same
    *    computation by construction;
    *  - `probe`: the partition subpaths one query reads, their partition
    *    predicate (the semantic guard, which also prunes the `streamed/`
    *    union) and the score column;
    *  - `dedupe`: whether a candidate id can repeat across the probed
    *    partitions (LSH stores each vector once per band).
    * One value writes, ingests, probes and compacts its index. */
  sealed abstract class IndexLayout(
      val flavor: String, val partitionCols: Seq[String], val partValues: Int) {
    def idCol: String
    def rows(emb: DataFrame): DataFrame
    private[ops] def probe(queryVec: Array[Float], nProbe: Int): IndexProbe
    private[ops] def dedupe: Boolean = false
  }

  /** One query's pruned read: partition subpaths, their predicate, the score. */
  private[ops] final case class IndexProbe(parts: Seq[String], filter: Column, score: Column)

  /** The IVF rungs: one `bucket=` partition per centroid, and every rung
    * routes on the ORIGINAL float vector — routing recall is identical
    * across rungs, only the stored payload and the score change. A probe
    * reads the `nProbe` buckets nearest the query ([[nearestBuckets]],
    * the same selection [[ivfTopK]] makes). */
  sealed abstract class IvfLayout(flavor: String, centroids: Array[Array[Float]])
      extends IndexLayout(flavor, Seq("bucket"), centroids.length) {
    protected def score(queryVec: Array[Float]): Column
    private[ops] def probe(queryVec: Array[Float], nProbe: Int): IndexProbe = {
      val buckets = nearestBuckets(queryVec, centroids, nProbe)
      IndexProbe(buckets.toSeq.map(b => s"bucket=$b"), col("bucket").isin(buckets.toSeq: _*),
        score(queryVec))
    }
  }

  /** FLOAT rung: every input column plus `bucket`, exact cosine re-rank —
    * recall at a given nProbe is the routing itself. Probed with the
    * centroids [[ivfTopK]] trains and `excludeId`, it answers exactly as
    * [[ivfTopK]] does. Rows with NULL/ragged vectors keep a NULL score
    * and sort last, as in [[ivfTopK]]. */
  final case class IvfFloat(idCol: String, vecCol: String, centroids: Array[Array[Float]])
      extends IvfLayout("ivf-float", centroids) {
    def rows(emb: DataFrame): DataFrame = assignBuckets(emb, vecCol, centroids)
    protected def score(q: Array[Float]): Column = exactCosine(vecCol, q)
  }

  /** [[IvfFloat]] built through a two-level model: √k assignment cost per
    * row instead of k ([[assignBucketsHier]] holds the equality anchor
    * and the recall trade). Bucket ids index `model.fine`, so the index
    * probes exactly like an [[IvfFloat]] over `model.fine`, flavor
    * included. */
  final case class IvfFloatHier(
      idCol: String, vecCol: String, model: HierCentroids, probes: Int = 2)
      extends IvfLayout("ivf-float", model.fine) {
    def rows(emb: DataFrame): DataFrame = assignBucketsHier(emb, vecCol, model, probes)
    protected def score(q: Array[Float]): Column = exactCosine(vecCol, q)
  }

  /** INT8 rung: `(id[, payloadCols], bucket, scale, codes)`, about 4×
    * smaller on disk than float with ≤ half a step of error per
    * dimension. The score dequantizes inside the compiled cosine kernel
    * (`code·scale/127`, [[graft.functions.VectorKernels.int8Cosine]]);
    * an empty query scores NULL, the cosine posture. `payloadCols` are
    * opt-in so a filtered probe evaluates against the index alone
    * without a wide payload eating the compression. */
  final case class IvfInt8(
      idCol: String, vecCol: String, centroids: Array[Array[Float]],
      payloadCols: Seq[String] = Nil)
      extends IvfLayout("ivf-int8", centroids) {
    def rows(emb: DataFrame): DataFrame = {
      val keep = compressedKeep(emb, idCol, vecCol, payloadCols, Set("scale", "codes", "_graft_q"))
      // the quantize struct lands in its own projection first, so the
      // kernel runs once per row even without subexpression elimination
      assignBuckets(emb, vecCol, centroids)
        .select(keep.map(col) :+
          graft.functions.native.quantizeInt8(col(vecCol)).as("_graft_q"): _*)
        .select(keep.map(col) :+
          col("_graft_q.scale").as("scale") :+ col("_graft_q.codes").as("codes"): _*)
    }
    protected def score(q: Array[Float]): Column =
      if (q.isEmpty) lit(null).cast("double")
      else graft.functions.native.int8Cosine(col("codes"), col("scale"), q)
  }

  /** The LSH index, beside the IVF ladder rather than on it: one row per
    * (vector, band), partitioned by `(band, sig)` with every input
    * column riding along — bands× the corpus on disk. A probe reads
    * exactly its own signature's leaf in each band (driver-side
    * signatures through the executors' kernel, [[driverSignatures]]),
    * dedupes ids that collide in several bands, and re-ranks by exact
    * cosine; with `excludeId` it answers exactly as [[lshTopK]] at the
    * same (bands, bitsPerBand, seed). Its loss is candidate-set
    * collision, fixed by the banding at build time, so `nProbe` is not
    * consulted. `dim` is the corpus dimension: 0 detects it from a batch
    * input; a stream ingest must pass it, and dim and the banding must
    * repeat the base build's or stream and base signatures diverge. */
  final case class Lsh(
      idCol: String, vecCol: String, bands: Int = 16, bitsPerBand: Int = 8,
      seed: Int = 1000, dim: Int = 0)
      extends IndexLayout("lsh", Seq("band", "sig"),
        // long math capped at Int.MaxValue: an Int `1 << bits` wraps at
        // bits ≥ 31; the count only matters when it is small
        math.min(bands.toLong * (1L << math.min(bitsPerBand, 30)), Int.MaxValue.toLong).toInt) {
    def rows(emb: DataFrame): DataFrame = {
      require(dim > 0 || !emb.isStreaming, "an LSH stream ingest needs the corpus `dim`")
      val d = if (dim > 0) dim else detectDim(emb, vecCol)
      require(d > 0, "cannot LSH-index an empty / all-null corpus")
      emb.select(col("*"), posexplode(graft.functions.native
        .hyperplaneSignatures(col(vecCol), bands, bitsPerBand, d, seed)).as(Seq("band", "sig")))
    }
    private[ops] def probe(queryVec: Array[Float], nProbe: Int): IndexProbe = {
      val sigs = driverSignatures(queryVec, bands, bitsPerBand, seed)
      IndexProbe((0 until bands).map(b => s"band=$b/sig=${sigs(b)}"),
        (0 until bands).map(b => col("band") === b && col("sig") === sigs(b)).reduce(_ || _),
        exactCosine(vecCol, queryVec))
    }
    override private[ops] def dedupe: Boolean = true
  }

  private def exactCosine(vecCol: String, q: Array[Float]): Column =
    graft.functions.native.cosineSim(col(vecCol), typedLit(q.toSeq))

  /** Persist `emb` as a `layout` index under `path`: [[Generations]]
    * directories, the live one holding `base/` (this build) and
    * optionally `streamed/` ([[ingestIndexStream]]'s appends). They are
    * sibling roots because they cannot share one: the streaming sink's
    * `_spark_metadata` log would make batch reads ignore every file it
    * did not commit, and a foreign subdirectory under one partitioned
    * root breaks partition discovery. The write is one pass grouped by
    * the partition columns, so files grow with partitions, not
    * tasks×partitions (probe-time listing otherwise grows with the
    * partition count — the r16 hier-ivf-probe 4.05× flag in ScaleProbe
    * 2f); [[spreadForWrite]] keeps it parallel at small counts.
    *
    * REBUILD CONTRACT: a write over an existing index opens the next
    * generation and flips atomically — probes in flight keep theirs.
    * The new generation indexes exactly `emb`, INCLUDING dropping the
    * old `streamed/` appends (retrained centroids would route them
    * elsewhere anyway). Stop the ingest first — a live one holds the
    * root's `_GEN_LOCK`, so this write fails fast rather than stranding
    * its appends — and fold appends the source cannot re-derive back in
    * by including the current index's rows in `emb`. FS CONTRACT:
    * producer exclusion needs atomic create-exclusive on the root's
    * filesystem; [[Generations.acquireLock]] refuses object-store roots
    * unless producers are serialized externally and
    * `-Dgraft.generations.allowNonAtomicFs=true` says so. */
  def writeIndex(emb: DataFrame, layout: IndexLayout, path: String): Unit = {
    val rows = layout.rows(emb) // validates payloadCols before a generation opens
    newGeneration(emb.sparkSession, path, layout.flavor) { gen =>
      spreadForWrite(rows, layout.partValues, layout.partitionCols.map(col): _*)
        .write
        .partitionBy(layout.partitionCols: _*)
        .mode("overwrite")
        .parquet(s"$gen/base")
    }
  }

  /** Continuous ingestion into a `layout` index: arriving rows go through
    * the same map-side `layout.rows` pass as the batch build and append
    * partitioned under the live generation's `streamed/`, exactly-once
    * via the parquet sink's commit log. Probes see them as soon as their
    * batch commits. The generation is resolved ONCE, at start, under the
    * root's `_GEN_LOCK`, which the stream holds for its lifetime
    * ([[lockedIngest]]): a rebuild or compaction fails fast instead of
    * flipping the generation under it, and a restarted stream lands in
    * whatever generation is live then. Refused at START, before any
    * offset commits: an empty root (build the base first), a row layout
    * that does not match the base ([[requireLayoutMatch]]: wrong layout,
    * or `payloadCols` that differ from the build's), a wrong flavor
    * marker, and a checkpoint that does not belong to the live
    * generation ([[bindIngestIdentity]]). The FS contract is
    * [[writeIndex]]'s. */
  def ingestIndexStream(
      emb: DataFrame,
      layout: IndexLayout,
      path: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val (fs, root) = Generations.fsRoot(emb.sparkSession, path)
    val out = layout.rows(emb)
    lockedIngest(emb.sparkSession, fs, root, checkpointDir, "ingestIndexStream",
      out.schema, layout.partitionCols.toSet, layout.flavor) { gen =>
      out
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpointDir)
        .partitionBy(layout.partitionCols: _*)
        .format("parquet")
        .option("path", s"$gen/streamed")
        .start()
    }
  }

  /** Top-k probe of a `layout` index: read ONLY the query's partitions of
    * one committed generation ([[readIndex]]: directory-level pruning of
    * `base/`, the partition predicate on the `streamed/` union), refuse a
    * root whose flavor marker is not the layout's, then score and keep
    * the k best as `(idCol, cos_sim)`, ordered by score descending, id
    * ascending. `nProbe` is the IVF bucket count to read.
    *
    * `excludeId`: for a query vector taken from the INDEXED corpus pass
    * `Some(queryId)`; without it the query row ranks itself first, the
    * right default for external query vectors.
    *
    * `predicate` is the filtered-search parameter ("top-k WHERE lang =
    * 'en'"): a Column over the index's own columns, applied BEFORE the
    * re-rank and the top-k, so k counts filter survivors. It composes
    * with the partition pruning and pushes into the parquet scan when
    * simple.
    *
    * A mismatched `streamed/` that exists anyway (hand-written, legacy)
    * fails the union loudly — the backstop behind the ingest's start
    * guard. Measured (ScaleProbe, sf0.1 embeddings ×8 = 256K vectors):
    * bucket-pruned IVF probe wall-ratios land 0.82–1.2 at ×8 corpus —
    * per-query cost tracks the probed volume, not the corpus. */
  def probeIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      layout: IndexLayout,
      queryVec: Array[Float],
      k: Int,
      nProbe: Int,
      excludeId: Option[Long] = None,
      predicate: Option[Column] = None): DataFrame = {
    val p = layout.probe(queryVec, nProbe)
    val id = col(layout.idCol)
    val pruned = readIndex(spark, path, Some((layout.flavor, "probeIndex")),
      probedParts = Some(p.parts), probedTotal = Some(layout.partValues))
      .filter(p.filter)
      .filter(excludeId.map(id =!= _).getOrElse(lit(true)))
    val kept = predicate.fold(pruned)(pruned.filter)
    (if (layout.dedupe) kept.dropDuplicates(layout.idCol) else kept)
      .select(id, p.score.as("cos_sim"))
      .orderBy(col("cos_sim").desc, id.asc)
      .limit(k)
  }

  /** Payload validation for the int8 layout's writer and streaming
    * ingester: unknown columns, the vector column, and
    * collisions with the layout's own columns (callers include their
    * staging names, e.g. the quantized pass's `_graft_q`) all refuse
    * up-front with the actual offenders named. */
  private def compressedKeep(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      payloadCols: Seq[String],
      layoutCols: Set[String]): Seq[String] = {
    val unknown = payloadCols.filterNot(emb.columns.contains)
    require(unknown.isEmpty, s"payloadCols not in input: $unknown")
    require(!payloadCols.contains(vecCol),
      s"payloadCols must not include the vector column '$vecCol'")
    val reserved = payloadCols.toSet.intersect(layoutCols + "bucket")
    require(reserved.isEmpty,
      s"payloadCols collide with index or staging columns: $reserved")
    (idCol +: payloadCols.filterNot(_ == idCol)) :+ "bucket"
  }

  /** All band signatures of one vector, driver-side, through the SAME
    * kernel the executors run ([[graft.functions.VectorKernels]]) — so a
    * driver-computed probe signature can never drift from the persisted
    * corpus signatures. */
  private def driverSignatures(
      vec: Array[Float], bands: Int, bitsPerBand: Int, seed: Int): Array[Long] = {
    val planes = graft.functions.VectorKernels.planes(vec.length, bands, bitsPerBand, seed)
    val arr = graft.functions.VectorKernels.hyperplaneSigs(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        vec.map(_.asInstanceOf[Any])),
      planes, bands, bitsPerBand, vec.length)
    (0 until bands).map(arr.getLong).toArray
  }

  /** Compact a streamed `layout` index: fold the streaming appends into
    * one fresh `base/`, partitioned by `layout.partitionCols`, and clear
    * `streamed/`. THE lakehouse
    * maintenance op: every ingest micro-batch appends one small file
    * per touched partition, so an index that streams for a day scans
    * thousands of KB-sized files — compaction restores the
    * few-large-files layout probes were designed for. Run it with the
    * ingest stream STOPPED — ENFORCED, not just documented: a live
    * ingest stream holds the root's `_GEN_LOCK` for its lifetime, so
    * this compactor fails fast at lock acquisition instead of flipping
    * the generation under the ingester's committed appends. Compaction
    * CLOSES AN INGEST GENERATION: the streaming sink's
    * `_spark_metadata` log dies with the folded `streamed/` (it only
    * ever guaranteed exactly-once within its own generation), so the
    * restarted ingest MUST use a fresh checkpoint, with its source
    * position carried over explicitly (Kafka: read the committed
    * offsets out of the old checkpoint before discarding it and pass
    * them as `startingOffsets`) — resuming the old checkpoint is
    * REFUSED at stream start: every checkpoint is paired with its
    * generation by a shared id (`<ckpt>/graft-ingest-id` ==
    * `<gen>/_INGEST_ID`, see [[bindIngestIdentity]]), and the folded
    * generation's id dies with it, so the stale pairing can never
    * match (spec-pinned). Left to run, the resume would lay a fresh
    * sink log (or collide with a later ingest's) and silently lose
    * batches.
    *
    * Crash-safe, probe-transparent swap via the [[Generations]] layout:
    * retired generations are swept, then the base∪streamed union is
    * FULLY written as the next generation and committed with one atomic
    * sentinel create — the only destructive steps touch directories no
    * reader can resolve (a crashed partial generation, the grace
    * generation from the PREVIOUS flip). Probes running concurrently
    * keep the generation they resolved (it survives until the NEXT
    * compaction's sweep), so there is no probe-unavailability window
    * and no marker/heal protocol: a crash at any point leaves either
    * the old committed generation (retry re-compacts) or the new one
    * (retry finds nothing to do). Hadoop FileSystem reports failure by
    * returning false, not throwing — the sweep's deletes abort on
    * false ([[FsSteps]]) so a half-failing filesystem stops the run
    * rather than compounding.
    *
    * A probe that DOES outlive the cycle — still holding a DataFrame
    * over the retired generation when the next compaction sweeps it —
    * fails loudly (FileNotFoundException on its next action, plans
    * record paths not contents), never returns partial rows (spec:
    * GenerationsSpec "a reader that outlives the compaction cycle
    * fails loudly after the next sweep").
    *
    * FS CONTRACT: the serialization above is the `_GEN_LOCK`, whose
    * mutual exclusion needs atomic create-exclusive on the index
    * root's filesystem — [[graft.ops.Generations.acquireLock]] refuses
    * object-store roots unless producers are serialized externally and
    * `-Dgraft.generations.allowNonAtomicFs=true` says so.
    *
    * Returns false (and compacts nothing) when the live generation has
    * no `streamed/` appends. Refuses a root whose flavor marker is not
    * the layout's, like every ingest and probe. */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      layout: IndexLayout): Boolean = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = Generations.fsRoot(spark, path)
    if (Generations.resolve(fs, root).isEmpty) return false
    // the WHOLE compaction is one critical section: resolving the live
    // generation, the (lazy) union read the rebuild body executes, and
    // the swap itself — so the generation read can never be swept by a
    // producer that slipped between the resolve and the rebuild
    Generations.withLock(fs, root, "compactIndex") {
      val cur = Generations.currentDir(fs, root)
      // the flavor marker travels with the data it describes — a
      // compacted generation must refuse the same wrong-flavor
      // ingests/probes the original did
      val flavor = Generations.readFlavorMarker(fs, cur)
      flavor.foreach(f => require(f == layout.flavor,
        s"compactIndex: index root flavor '$f' does not match this layout's '${layout.flavor}'"))
      // the no-op path must stay non-destructive for COMMITTED
      // generations (a cron polling "compact if appends exist" would
      // otherwise kill probes pinned to the grace copy) — but a crashed
      // rebuild's done-less partial is unreachable by any probe and
      // would otherwise leak its multi-gigabyte copy forever on an index
      // that never sees another real compaction: retire partials even
      // when there is nothing to compact
      if (!fs.exists(new Path(cur, "streamed"))) {
        Generations.sweepPartials(fs, root)
        false
      } else {
        val union = spark.read.parquet(s"$cur/base")
          .unionByName(spark.read.parquet(s"$cur/streamed"))
          // the streaming sink's partition dirs surface band/sig/bucket as
          // read columns; re-partitioning by the same cols rebuilds the
          // pruned layout with one writer pass
          .repartition(layout.partitionCols.map(col): _*)
        Generations.rebuildLocked(fs, root) { gen =>
          union.write
            .partitionBy(layout.partitionCols: _*)
            .mode("overwrite")
            .parquet(s"$gen/base")
          flavor.foreach(
            Generations.writeFlavorMarker(fs, new org.apache.hadoop.fs.Path(gen), _))
        }
        true
      }
    }
  }

  /** LSH-bucketed approximate top-k: probe vectors join candidate vectors
    * sharing at least one band signature, then exact cosine re-rank within
    * candidates. `emb` is scanned once to build (id, vec, band, sig);
    * for repeated probes over a stable corpus, persist the signatures
    * once with [[writeIndex]] over an [[Lsh]] layout and probe with
    * [[probeIndex]]. */
  def lshTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      bands: Int = 16,
      bitsPerBand: Int = 8,
      knownDim: Int = 0): DataFrame = {
    // knownDim skips the corpus-modal detection aggregate (one pass over
    // the size column) — repeated probes over one corpus detect once and
    // pass it down, the trainers' convention
    val dim = if (knownDim > 0) knownDim else detectDim(emb, vecCol)
    if (dim == 0)
      return emb.select(col(idCol), lit(0.0).as("cos_sim")).limit(0)
    val sigs = emb.select(
      col(idCol),
      col(vecCol),
      posexplode(
        graft.functions.native
          .hyperplaneSignatures(col(vecCol), bands, bitsPerBand, dim, seed = 1000))
        .as(Seq("band", "sig")))
    val probe = sigs
      .filter(col(idCol) === queryId)
      .select(col("band"), col("sig"), col(vecCol).as("__query_vec"))
    sigs
      .filter(col(idCol) =!= queryId)
      .join(broadcast(probe), Seq("band", "sig"))
      .select(col(idCol), col(vecCol), col("__query_vec"))
      .dropDuplicates(idCol)
      .select(
        col(idCol),
        graft.functions.native.cosineSim(col(vecCol), col("__query_vec")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Per-label centroid of an embedding column — class means for
    * nearest-class-mean classification, cluster seeding, or per-source
    * embedding drift monitoring.
    *
    * Distributed shape: `posexplode` the vectors to (label, dim, value)
    * and hash-aggregate on (label, dim) — map-side partial combine
    * collapses each partition to ≤ labels×dim rows before the shuffle,
    * so the exchange is ∝ labels×dim regardless of corpus size; the
    * final per-label array re-assembly aggregates labels rows only. No
    * driver-side vector math, no collect.
    *
    * Exactness: per-dimension sums ACCUMULATE in DECIMAL(38,9) (exact,
    * order-independent — a float is never a decimal-rounding tie at
    * scale 9, so the float→decimal cast is engine-independent too) and
    * the mean is emitted as one IEEE division of the exact sum — the
    * same engine-portable convention as [[Relational.exactSumDouble]],
    * which is what lets a SQL oracle check the centroids bit-for-bit.
    */
  def labelCentroids(emb: DataFrame, labelCol: String, vecCol: String): DataFrame =
    emb
      .select(col(labelCol), posexplode(col(vecCol)).as(Seq("__dim", "__v")))
      .groupBy(col(labelCol), col("__dim"))
      // divide by the NON-NULL value count, not count(*): sum() skips
      // NULL elements, so a count-all denominator would silently shrink
      // the mean on any vector carrying a NULL element (r20 review
      // finding) — mean-over-present-values is the mirrored oracle
      // convention (COUNT(v))
      // decimal9_even, NOT cast("decimal(38,9)") (r21 inherited-state
      // fix): Spark's Cast rounds the double's SHORTEST repr half-UP,
      // DuckDB's rounds the EXACT binary half-EVEN — a float sitting on
      // a 9-decimal tie (sf0.1 embeddings carry exactly one,
      // 0.1494140625) made one centroid cell diverge between the
      // engines. The kernel computes the DuckDB semantics exactly, so
      // the mirrored oracle agrees on every input; values off ties are
      // unchanged (DecimalKernelProps pins both properties).
      .agg((sum(graft.functions.native.decimal9HalfEven(col("__v")))
        .cast("double") / count(col("__v"))).as("__avg"))
      .groupBy(col(labelCol))
      .agg(
        transform(
          array_sort(collect_list(struct(col("__dim"), col("__avg")))),
          x => x.getField("__avg")).as("centroid"))

  /** Symmetric int8 quantization of the embedding column — the standard
    * 4× storage/bandwidth cut for a vector store (at 100 TB the
    * embedding column IS a large fraction of the corpus): per-vector
    * scale = max |vᵢ| (computed in DOUBLE — order-independent max, so
    * partitioning cannot change it), `codes[i] = round(vᵢ/scale·127)` ∈
    * [−127, 127]. A zero vector has no scale and quantizes to NULL
    * (same NULL-not-garbage posture as the cosine kernels).
    *
    * Engine-exact by construction: FLOAT→DOUBLE is exact, the
    * divide-then-multiply order is fixed, and both engines round ties
    * away from zero (the kernel's BigDecimal HALF_UP = Spark `round` =
    * DuckDB `round`), so the declared oracle matches code-for-code.
    * Pure per-row projection — zero shuffle at any scale; ONE compiled
    * kernel pass per vector ([[graft.functions.VectorKernels.quantizeInt8]]
    * — the aggregate+transform HOF formulation it replaced evaluated
    * interpreted per ELEMENT and dominated the query's wall time;
    * SimilaritySpec's driver-side model stays the independent check). */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // staged projection: the kernel runs once per row even without
    // codegen subexpression elimination (CollapseProject keeps a
    // non-cheap alias read twice in its own Project)
    val q = graft.functions.native.quantizeInt8(col(vecCol))
    emb.select(col(idCol), q.as("_graft_q"))
      .select(
        col(idCol),
        col("_graft_q.scale").as("scale"),
        col("_graft_q.codes").as("codes"))
  }

  /** Nearest-class-mean classification over the embedding column, reported
    * as a confusion table `(label, predicted, cnt)` — the standard cheap
    * classifier/drift monitor on top of [[labelCentroids]] (is the corpus
    * still separable by its class means? which classes bleed into each
    * other?).
    *
    * Scale shape: the centroid table is `labels × dim` — bounded and
    * corpus-size-independent — so it is collected once (the same bounded
    * driver step as the IVF k-means seed) and shipped into a single
    * [[graft.functions.NearestCentroid]] kernel call: assignment is ONE
    * compiled pass per row with zero shuffle; the only exchange is the
    * confusion aggregate (∝ labels², map-side combined).
    *
    * Exactness: centroids are bit-reproducible ([[labelCentroids]]'s
    * DECIMAL accumulation) and rounded once to FLOAT (IEEE
    * round-to-nearest in both engines); the kernel then accumulates the
    * cosine in DOUBLE in dimension order — the same convention the
    * declared oracle reproduces with `list_sum`/`::FLOAT` — so the argmax
    * compares identical doubles on both sides. Ties keep the FIRST (=
    * lowest) label: the kernel's strictly-greater argmax over the
    * label-ascending table, `ORDER BY cos DESC, label ASC` in SQL. */
  def classifyByCentroid(emb: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    // a NULL label is not a class: excluded from centroid training AND
    // the confusion table (a NULL-truth row has nothing to be confused
    // against — and an unguarded NULL centroid row would NPE in the
    // label unboxing below); mirrored in the q_knn_label oracle
    val labeled = emb.filter(col(labelCol).isNotNull)
    val cents = labelCentroids(labeled, labelCol, vecCol)
      .orderBy(col(labelCol))
      .collect() // bounded: labels × dim doubles, corpus-size-independent
    require(cents.nonEmpty, "classifyByCentroid: no labeled rows")
    // label values stay WHATEVER type labelCol carries (int in the
    // fixture, string/long in the wild): collected as literals, never
    // unboxed through a hardcoded getInt (r20 review finding)
    val labelLits = array(cents.map(r => lit(r.get(0))): _*)
    val table: Array[Array[Float]] =
      cents.map(_.getSeq[Double](1).map(_.toFloat).toArray)
    labeled
      .select(
        col(labelCol).as("label"),
        graft.functions.native.nearestCentroid(col(vecCol), table).as("__ix"))
      .select(col("label"), element_at(labelLits, col("__ix") + 1).as("predicted"))
      .groupBy(col("label"), col("predicted"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("label"), col("predicted"))
  }
}

/** The handle [[Similarity.ingestIndexStream]]
  * return: a pure delegate whose one behavior is releasing the index
  * root's producer lock the moment a successful `stop()` returns —
  * synchronous, so the operational stop-ingest-then-compact sequence
  * never races the async listener-bus release (which remains as the
  * failure-exit path). A `stop()` that THROWS does not release: the
  * stream may still be writing, and freeing the lock under it would
  * re-open exactly the flip-under-a-live-ingester loss the lock
  * exists to prevent. */
private[ops] final class LockedIngestQuery(
    underlying: org.apache.spark.sql.streaming.StreamingQuery,
    release: () => Unit)
    extends org.apache.spark.sql.streaming.StreamingQuery {
  override def name: String = underlying.name
  override def id: java.util.UUID = underlying.id
  override def runId: java.util.UUID = underlying.runId
  override def sparkSession: org.apache.spark.sql.SparkSession = underlying.sparkSession
  override def isActive: Boolean = underlying.isActive
  override def exception: Option[org.apache.spark.sql.streaming.StreamingQueryException] =
    underlying.exception
  override def status: org.apache.spark.sql.streaming.StreamingQueryStatus =
    underlying.status
  override def recentProgress: Array[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    underlying.recentProgress
  override def lastProgress: org.apache.spark.sql.streaming.StreamingQueryProgress =
    underlying.lastProgress
  override def awaitTermination(): Unit = underlying.awaitTermination()
  override def awaitTermination(timeoutMs: Long): Boolean =
    underlying.awaitTermination(timeoutMs)
  override def processAllAvailable(): Unit = underlying.processAllAvailable()
  override def stop(): Unit = { underlying.stop(); release() }
  override def explain(): Unit = underlying.explain()
  override def explain(extended: Boolean): Unit = underlying.explain(extended)
}
