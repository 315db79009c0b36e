package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale validation for the near-dup / ANN path (the first
  * empirical backing for the 100 TB shape claims in PLANS.md): tile the
  * sf0.1 `documents`/`embeddings` fixtures ×8 the same distributed way
  * the replay bench tiles its event log (cross-join with the copy
  * index — no driver-side array anywhere), run q_neardup_minhash /
  * q_neardup_simhash / q_sim_topk_ivf at ×1 and ×8, and check
  * near-linear wall-time growth plus a driver heap that does not grow
  * with the data.
  *
  * Tiled documents are MUTATED per copy (vowels translated through a
  * copy-specific alphabet) so copies of the same doc are NOT near-dups
  * of each other: the corpus behaves like 8 disjoint sub-corpora and
  * the true pair set grows ~linearly — without this, every doc forms a
  * 28-pair clique with its own copies and the OUTPUT (not the
  * algorithm) grows quadratically in the tile factor, which would make
  * a wall-time linearity check meaningless. Embeddings are tiled
  * unmutated (ANN probe cost is bucket-local, ties are harmless).
  *
  * Run: sbt "Test/runMain graft.ScaleProbe /root/testdata/sf0.1 32 8"
  */
object ScaleProbe {

  /** Per-copy vowel alphabets: copy 0 is the identity (the original
    * corpus embeds unchanged), others remap vowels so word shingles
    * differ across copies. */
  private val vowelMaps = Vector(
    "aeiou", "bcdfg", "hjklm", "npqrs", "tvwxz", "01234", "56789", "zyxwv",
    "qwert", "asdfg")

  def tileDocuments(spark: SparkSession, sfDir: String, outDir: String, copies: Int): Long = {
    require(copies <= vowelMaps.length, s"at most ${vowelMaps.length} copies")
    val base = Tables.documents(spark, sfDir)
    val span = base.agg(max(col("doc_id"))).head().getLong(0) + 1
    val mutated = vowelMaps.take(copies).zipWithIndex.drop(1)
      .foldLeft(when(col("copy") === 0, col("text"))) {
        case (acc, (m, i)) =>
          acc.when(col("copy") === i, translate(col("text"), "aeiou", m))
      }
    spark.range(copies).withColumnRenamed("id", "copy")
      .crossJoin(base)
      .select(
        (col("doc_id") + col("copy") * span).as("doc_id"),
        mutated.as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    spark.read.parquet(s"$outDir/documents.parquet").count()
  }

  def tileEmbeddings(spark: SparkSession, sfDir: String, outDir: String, copies: Int): Long = {
    val base = Tables.embeddings(spark, sfDir)
    val span = base.agg(max(col("vec_id"))).head().getLong(0) + 1
    spark.range(copies).withColumnRenamed("id", "copy")
      .crossJoin(base)
      .select(
        (col("vec_id") + col("copy") * span).as("vec_id"),
        col("embedding"), col("label"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    copies * base.count()
  }

  /** Tile events with disjoint per-copy key/sequence spaces (user_id and
    * event_id offset per copy, timestamps unchanged): keys grow with the
    * data, so per-key as-of/interval work stays constant and total work
    * should scale ~linearly. `ts` round-trips as the epoch-nanos Long the
    * nanosAsLong read produced — Tables.events renames it identically on
    * re-read. */
  def tileEvents(spark: SparkSession, sfDir: String, outDir: String, copies: Int): Long = {
    val base = Tables.events(spark, sfDir).withColumnRenamed("ts_ns", "ts")
    val spans = base.agg(max(col("user_id")), max(col("event_id"))).head()
    val uspan = spans.getLong(0) + 1
    val espan = spans.getLong(1) + 1
    spark.range(copies).withColumnRenamed("id", "copy")
      .crossJoin(base)
      .select(
        (col("event_id") + col("copy") * espan).as("event_id"),
        col("ts"),
        (col("user_id") + col("copy") * uspan).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    copies * base.count()
  }

  /** Hot-key tiling: like [[tileEvents]] but every even event_id lands on
    * ONE global user (id 0) AND inside ONE hour (timestamps compressed to
    * minTs + a sub-hour jitter), so ~50% of all events share a single
    * key — and, for the bucketed range join, a single (key, time-bucket)
    * composite key. Without the time compression the range join's
    * bucketing DISPERSES a hot key across its time buckets and no
    * partition is ever skewed (measured: ratio ≈ 1.0 at 50% key skew) —
    * the compressed variant is the true worst case. Remaining events
    * keep disjoint per-copy key spaces (shifted by 1 so none collide
    * with the hot key). */
  def tileEventsSkewed(spark: SparkSession, sfDir: String, outDir: String, copies: Int): Long = {
    val base = Tables.events(spark, sfDir).withColumnRenamed("ts_ns", "ts")
    val spans = base.agg(max(col("user_id")), max(col("event_id")), min(col("ts"))).head()
    val uspan = spans.getLong(0) + 1
    val espan = spans.getLong(1) + 1
    val minTs = spans.getLong(2)
    val hot = pmod(col("event_id"), lit(2)) === 0
    spark.range(copies).withColumnRenamed("id", "copy")
      .crossJoin(base)
      .select(
        (col("event_id") + col("copy") * espan).as("event_id"),
        // sub-hour jitter (nanos) keeps hot timestamps distinct but
        // inside one range-join bucket
        when(hot, lit(minTs) + pmod(col("event_id"), lit(1000000L)) * 1000L)
          .otherwise(col("ts")).as("ts"),
        when(hot, lit(0L))
          .otherwise(col("user_id") + col("copy") * uspan + 1).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    copies * base.count()
  }

  /** Plain row tiling for the fact table (q_profile's input): values
    * repeat per copy — distinct counts stay constant while row volume
    * (the Expand ×cols cost driver) grows ×copies, which is exactly the
    * scaling axis the profile probe measures. */
  def tileLineitem(spark: SparkSession, sfDir: String, outDir: String, copies: Int): Long = {
    val base = Tables.lineitem(spark, sfDir)
    spark.range(copies).withColumnRenamed("id", "copy")
      .crossJoin(base)
      .drop("copy")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    copies * base.count()
  }

  /** Plain row tiling for orders (q_pivot's input): same shape as
    * [[tileLineitem]] — groups/pivot values stay constant, row volume
    * grows ×copies, so the cross-tab's map-side-combine claim is what
    * the ratio measures. */
  def tileOrders(spark: SparkSession, sfDir: String, outDir: String, copies: Int): Long = {
    val base = Tables.orders(spark, sfDir)
    spark.range(copies).withColumnRenamed("id", "copy")
      .crossJoin(base)
      .drop("copy")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    copies * base.count()
  }

  /** Boilerplate-heavy corpus: the SAME ~250-char boilerplate block is
    * appended to every even-id doc (~50% of the corpus), so its winnow
    * fingerprints appear in half of all documents — the exact regime the
    * containment pipeline's doc-frequency stop-filter exists for.
    * Without the cap every boilerplate fingerprint forms an
    * O((corpus/2)²) self-join bucket; with it the shared block is
    * dropped from candidate generation and cost stays ∝ genuine
    * overlaps. */
  def tileDocumentsBoilerplate(
      spark: SparkSession, sfDir: String, outDir: String, copies: Int): Long = {
    val boiler = " Subscribe to our newsletter for updates and exclusive offers." +
      " All rights reserved worldwide; unauthorized reproduction prohibited." +
      " The views expressed are those of the author alone and not the publisher." +
      " See terms and conditions on our website for further details and policies."
    require(copies <= vowelMaps.length, s"at most ${vowelMaps.length} copies")
    val base = Tables.documents(spark, sfDir)
    val span = base.agg(max(col("doc_id"))).head().getLong(0) + 1
    val mutated = vowelMaps.take(copies).zipWithIndex.drop(1)
      .foldLeft(when(col("copy") === 0, col("text"))) {
        case (acc, (m, i)) =>
          acc.when(col("copy") === i, translate(col("text"), "aeiou", m))
      }
    spark.range(copies).withColumnRenamed("id", "copy")
      .crossJoin(base)
      .select(
        (col("doc_id") + col("copy") * span).as("doc_id"),
        when(pmod(col("doc_id"), lit(2)) === 0, concat(mutated, lit(boiler)))
          .otherwise(mutated).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    spark.read.parquet(s"$outDir/documents.parquet").count()
  }

  private def usedHeapMb(): Long = {
    System.gc(); System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory() - r.freeMemory()) / (1024 * 1024)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cores = args.drop(1).headOption.map(_.toInt).getOrElse(4)
    val copies = args.drop(2).headOption.map(_.toInt).getOrElse(8)
    // optional 4th arg: comma-separated query filter for a focused
    // re-probe of just-landed operators (full runs stay the per-round
    // record — the "every declared operator probed" invariant)
    val only = args.drop(3).headOption.map(_.split(",").toSet)
    val spark = GraftSession.local("graft-scale-probe", cores = cores)
    val allProbes = Seq(
      "q_neardup_jaccard", "q_neardup_minhash", "q_neardup_simhash", "q_sim_topk_ivf",
      // round-7 operators: keyed time joins scale with keys (tiled
      // user spaces), text/vector pipelines with rows
      "q_asof_join", "q_range_join", "q_decontaminate", "q_chunk", "q_embed_centroid",
      // round-7 batch 2: explode-heavy LM counts, per-shard packing
      // window, bounded-collect centroid classification
      "q_bigrams", "q_pack", "q_knn_label",
      // round-7 batch 3: df-join + per-doc window, pure-projection quantize
      "q_rare_terms", "q_quantize",
      // round-7 batch 4: fingerprint anti-join, multi-distinct profile
      "q_dedup_incr", "q_report",
      // round-9 operators: winnow-fingerprint self-joins, the secondary-
      // sort funnel fold, Expand-shaped profiling, BM25 scan + persisted
      // index probe, broadcast-LM scoring, the composed ingest facade
      "q_containment", "q_subsume", "q_funnel", "q_profile",
      "q_bm25", "q_bm25_indexed", "q_lm_score", "q_ingest",
      // round-10 operators: the GK-sketch quantile swap-in (plus its
      // exact yardstick join), the narrow-rank source quota, the
      // zero-shuffle phrase scan, and the two-model DSIR weighting
      "q_quantiles_approx", "q_source_cap", "q_phrase", "q_dsir",
      // round-10 batch 2: fingerprint full-outer diff, the Gopher rule
      // projection, and the union-of-heaps batched vector serving
      "q_corpus_diff", "q_gopher", "q_sim_topk_batch", "q_window_quantiles",
      // round-11 restore of the "every declared operator probed"
      // invariant: the O(sources) rebalance aggregate and the per-row
      // header-parse projection (both trivially-safe shapes, measured
      // anyway so the claim is a number, not an argument)
      "q_mix_rebalance", "q_media_dims",
      // round-11 operators: declared-value cross-tab, bucket histogram,
      // broadcast-stats z-outliers, per-key slot-spine gap fill, and the
      // explode+window TF-IDF keyword extractor
      "q_pivot", "q_histogram", "q_outliers", "q_gap_fill", "q_tfidf",
      // pre-bucketed co-located join (first run pays the layout write,
      // min-of-2 is the exchange-free steady state — bm25_indexed model)
      "q_colocated_join",
      // consecutive-gap lag window (the q_window_session sort axis)
      "q_gaps",
      // two kernel-explode count tables + broadcast joins + TakeOrdered
      "q_collocations",
      // distinct-value ECDF merge: exchanges ∝ metric cardinality
      "q_drift",
      // round-12 operators: tile-fingerprint paragraph dedup (min/count
      // canonical agg, never window-rank), k-means-bucketed semantic
      // dedup (pairs ∝ Σ bucket², k the scale lever), and the
      // bounded-sample NB quality gate (train ∝ sample, score one
      // zero-shuffle projection)
      "q_paradup", "q_semdedup", "q_quality_clf",
      // round-12 batch 2: bloom pre-gated history dedup (build is one
      // map pass + tree merge; tiled copies make most batch rows real
      // dups, so this probes the bloom-saturated WORST case where the
      // gate routes everything to the exact join), discrete-median MAD
      // outliers (two per-group window sorts over ~5 fixed groups — the
      // q_quantiles hot-group axis, measured), the key-share audit
      // (agg ∝ keys + K-row window), and the trailing RANGE-frame
      // window (per-key sort + moving frame, keys grow under tiling)
      "q_dedup_bloom", "q_outliers_mad", "q_heavy_hitters", "q_rolling",
      // persisted-signature incremental near-dup (first run pays the
      // index write per dir, min-of-2 is the pruned-probe steady state —
      // the bm25_indexed/colocated model)
      "q_neardup_incr",
      // per-row entropy kernel projection (trivially-safe shape,
      // measured anyway — the q_media_dims posture)
      "q_entropy",
      // two bounded-head trainings + one kernel-scoring projection
      "q_lm_score2",
      // per-(window x dims) rank — width-bounded sort cells
      "q_window_topk",
      // narrow-projection Gumbel rank + semi-join (the sourceCap shape)
      "q_sample_weighted",
      // round-12 batch 3: offset-axis SCD2 versioning (one per-key lead
      // window — the q_gaps sort axis), the |types|²-bound Markov
      // matrix, the cardinality-bound lang×source chi² grid, fixed-grid
      // smoothed PSI (exchange ∝ buckets), and the user-axis RFM ntile
      // labeling (single-partition over DISTINCT USERS, the ksDrift
      // cardinality posture — tiled user spaces grow that axis ×8)
      "q_scd2", "q_transitions", "q_chi2", "q_psi", "q_rfm",
      // round-12 batch 4: the scd2 interval filter (time travel), the
      // ∝-groups k-anonymity audit, and the per-key running-max
      // disorder window (the q_gaps sort axis)
      "q_state_at", "q_kanon", "q_disorder",
      // PassJoin segment blocking: constant ~27-key fan-out per doc,
      // Levenshtein verify on candidates only — the vowel-mutated tiled
      // copies are NOT edit-near their originals (32 chars ≫ 2 edits),
      // so true pairs grow ~linearly like the other near-dup probes
      "q_neardup_edit",
      // grouping-set union aggregate (output ∝ Σ set cardinalities) and
      // the four-decimal moment aggregate (exchange ∝ groups)
      "q_cube", "q_moments",
      // kernel-explode count + term-keyed self-join of the (class,
      // term, p) table — exchanges ∝ classes × vocab, never corpus
      // tokens (the vocab/tfidf posture)
      "q_jsd",
      // per-row regex scoring projection → (label, pred) cell count —
      // everything after the scan is ∝ classes (the chi2 posture)
      "q_eval_langid",
      // map-side array_distinct per doc → gram df agg (vocab posture)
      "q_boilerplate",
      // exact count agg (∝ keys) + ONE capacity-bounded MG sketch
      // partial per partition — the checked pairing, q_profile_approx's
      // exact+sketch verification posture
      "q_heavy_hitters_approx",
      // round-13: span-level exact-substring dedup — occurrence table
      // rows ∝ corpus TOKENS (the honest O(n) of ExactSubstr), min/count
      // canonical agg ∝ distinct window fingerprints, O(tokens+cuts)
      // kernel rebuild; tiled copies make every window a corpus-wide
      // repeat, the worst case for the dup table
      "q_substring_dedup",
      // round-13: trained char-n-gram NB language ID — bounded-sample
      // closed-form training + zero-shuffle literal-CASE scoring (the
      // q_quality_clf posture), eval report cells ∝ classes²
      "q_langid_clf")
    val probes = only.fold(allProbes)(f => allProbes.filter(f))

    val work = java.nio.file.Files.createTempDirectory("graft-scale")
    var failed = false
    try {
      val oneDir = s"$work/x1"
      val bigDir = s"$work/x$copies"
      val n1 = tileDocuments(spark, sfDir, oneDir, 1)
      tileEmbeddings(spark, sfDir, oneDir, 1)
      tileEvents(spark, sfDir, oneDir, 1)
      tileLineitem(spark, sfDir, oneDir, 1)
      tileOrders(spark, sfDir, oneDir, 1)
      val nBig = tileDocuments(spark, sfDir, bigDir, copies)
      tileEmbeddings(spark, sfDir, bigDir, copies)
      tileEvents(spark, sfDir, bigDir, copies)
      tileLineitem(spark, sfDir, bigDir, copies)
      tileOrders(spark, sfDir, bigDir, copies)
      println(s"SCALEPROBE docs x1=$n1 x$copies=$nBig")

      // q_media_dims' declared query reads a fixed generated
      // fixture (no binary media table exists in the driver set), so
      // probing it verbatim would measure nothing — the honest scale
      // measurement is the same header-parse kernel over the tiled
      // corpus's bytes (all-NULL dims, but the per-row parse runs on
      // every row, which is the cost that scales).
      val probeOverrides: Map[String, (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame] = Map(
        "q_media_dims" -> ((s, dir) =>
          graft.ops.MultiModal.withAvMeta(
            graft.ops.MultiModal.withDimensions(
              graft.ops.MultiModal.docBlobs(Tables.documents(s, dir)), "bytes"),
            "bytes")
            .select(col("doc_id"), col("width"), col("height"),
              col("av_container"), col("duration_ms"))),
        // q_semdedup's declared k=8 suits the 500-vector fixture; at a
        // growing corpus the operator's own scale lever is nClusters ∝
        // rows (bucket size constant → candidate pairs ∝ rows, the same
        // posture as the scaled-bucket colocated adjudication). Probing
        // the FIXED k at ×8 data would measure the N²/k candidate
        // quadratic the operator documents you must not run.
        "q_semdedup" -> ((s, dir) => {
          val emb = Tables.embeddings(s, dir)
          val k = math.max(8, (emb.count() / 250L).toInt)
          graft.ops.NearDup.semanticDedup(
            emb, "vec_id", "embedding",
            threshold = 0.5, nClusters = k, nAssign = 4)
        }))

      def run(dir: String, name: String): Double = {
        val t0 = System.nanoTime()
        probeOverrides.getOrElse(name, SparkEntry.queries(name))(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // one untimed warm pass at x1 (JIT, codegen cache)
      probes.foreach(run(oneDir, _))

      var failures = List.empty[String]
      probes.foreach { name =>
        val heap0 = usedHeapMb()
        val t1 = (1 to 2).map(_ => run(oneDir, name)).min
        val tBig = (1 to 2).map(_ => run(bigDir, name)).min
        val heap1 = usedHeapMb()
        val ratio = tBig / t1
        // "near-linear": ×copies data may cost up to 2× the linear
        // extrapolation (constant per-job overhead dominates the small
        // side, candidate/bucket growth the big side)
        val ok = ratio <= copies * 2.0
        // retained driver heap must not scale with the data: allow a
        // generous fixed slack for caches/metrics, never O(rows)
        val heapOk = heap1 - heap0 <= 1024
        if (!ok) failures ::= s"$name wall-time ratio $ratio > ${copies * 2.0}"
        if (!heapOk) failures ::= s"$name retained driver heap +${heap1 - heap0} MiB"
        println(f"SCALEPROBE $name%-20s x1=$t1%6.2f s  x$copies=$tBig%6.2f s  " +
          f"ratio=$ratio%5.2f (linear=$copies.0)  heap=$heap0%5d->$heap1%5d MiB")
      }
      // ---- adjudication 1: candidate-dedup placement in the embedding
      // near-dup pairs (post-verify distinct vs pre-verify distinct),
      // measured instead of argued — the winner is the operator default.
      def embPairs(dir: String, pre: Boolean): Double = {
        val t0 = System.nanoTime()
        graft.ops.NearDup.embeddingNearDupPairs(
          spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
          threshold = 0.9, dedupCandidates = pre)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      Seq(false, true).foreach(p => embPairs(oneDir, p)) // warm
      val post1 = (1 to 2).map(_ => embPairs(oneDir, pre = false)).min
      val pre1 = (1 to 2).map(_ => embPairs(oneDir, pre = true)).min
      val postB = (1 to 2).map(_ => embPairs(bigDir, pre = false)).min
      val preB = (1 to 2).map(_ => embPairs(bigDir, pre = true)).min
      println(f"SCALEPROBE embdedup post-verify x1=$post1%6.2f s x$copies=$postB%6.2f s | " +
        f"pre-verify x1=$pre1%6.2f s x$copies=$preB%6.2f s")

      // ---- adjudication 2: hot-key skew on the keyed time joins (one
      // user holds ~50% of events). Executes the df's own adaptive plan
      // so the FINAL plan can be inspected for AQE skew-splitting.
      def runPlan(dir: String, name: String): (Double, Boolean) = {
        val df = SparkEntry.queries(name)(spark, dir)
        val qe = df.queryExecution
        val t0 = System.nanoTime()
        qe.executedPlan.execute()
          .foreachPartition((it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
            it.foreach(_ => ()))
        val s = qe.executedPlan.toString
        // both AQE skew markers: the join node's flag and the shuffle read
        ((System.nanoTime() - t0) / 1e9, s.contains("skew=true") || s.contains("skewed"))
      }
      val skewDir = s"$work/skew$copies"
      tileEventsSkewed(spark, sfDir, skewDir, copies)
      Seq("q_asof_join", "q_range_join").foreach { name =>
        runPlan(skewDir, name) // warm
        val (tu, _) = runPlan(bigDir, name)
        val (ts, split) = runPlan(skewDir, name)
        println(f"SCALEPROBE skew $name%-14s uniform=$tu%6.2f s hotkey=$ts%6.2f s " +
          f"ratio=${ts / tu}%5.2f aqe_skew_split=$split")
      }
      // The salted as-of flavor is the documented hot-key escape hatch
      // (replicate-right/split-left, ops/AsOfJoin.asOfJoinSalted) —
      // measure it against the unsalted plan on the same hot-key data.
      def asofQuery(dir: String, salts: Int): org.apache.spark.sql.DataFrame = {
        val ev = Tables.withTsMicros(Tables.events(spark, dir))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts_us", "value")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts_us"),
            col("event_id").as("click_id"), col("ts_us").as("click_ts_us"))
        val joined =
          if (salts <= 1)
            graft.ops.AsOfJoin.asOfJoin(purchases, clicks,
              keys = Seq("user_id"), timeCol = "ts_us",
              rightTieBreak = "click_id", rightCols = Seq("click_id", "click_ts_us"))
          else
            graft.ops.AsOfJoin.asOfJoinSalted(purchases, clicks,
              keys = Seq("user_id"), timeCol = "ts_us",
              rightTieBreak = "click_id", rightCols = Seq("click_id", "click_ts_us"),
              salts = salts)
        joined.select("event_id", "user_id", "ts_us", "value", "click_id", "click_ts_us")
      }
      def timeDf(df: org.apache.spark.sql.DataFrame): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      timeDf(asofQuery(skewDir, 1)); timeDf(asofQuery(skewDir, 8)) // warm
      val tPlain = (1 to 2).map(_ => timeDf(asofQuery(skewDir, 1))).min
      val tSalt = (1 to 2).map(_ => timeDf(asofQuery(skewDir, 8))).min
      println(f"SCALEPROBE asof-salt hotkey unsalted=$tPlain%6.2f s salts8=$tSalt%6.2f s " +
        f"ratio=${tSalt / tPlain}%5.2f")

      // ---- adjudication 2b: hot-USER funnel (one user holds ~50% of all
      // events — the mapPartitions fold's skew axis). The fold streams a
      // user's run in O(1) memory, so the hot user costs one task TIME
      // (its secondary sort + linear scan), never aggregation-buffer
      // memory; the probe pins that the degradation is a small constant,
      // not a blow-up (and that no OOM/spill death occurs).
      run(skewDir, "q_funnel") // warm
      val fUniform = (1 to 2).map(_ => run(bigDir, "q_funnel")).min
      val fHot = (1 to 2).map(_ => run(skewDir, "q_funnel")).min
      val fRatio = fHot / fUniform
      println(f"SCALEPROBE skew q_funnel       uniform=$fUniform%6.2f s hotkey=$fHot%6.2f s " +
        f"ratio=$fRatio%5.2f")
      // one task serializes ~50% of events: bounded by ~(0.5·cores) in
      // theory; 10× flags a genuine blow-up (quadratic fold or buffer)
      if (fRatio > 10.0) failures ::= f"q_funnel hot-user ratio $fRatio%.1f > 10"

      // ---- adjudication 2c: boilerplate-heavy containment (the winnow
      // doc-frequency stop-filter's reason to exist: a shared block in
      // 50% of docs would otherwise form O((corpus/2)²) fingerprint
      // buckets). Same corpus size as x1 — the ratio isolates the
      // boilerplate's cost, and the stop-filter must keep it a small
      // constant instead of candidate-explosion quadratic.
      val boilDir = s"$work/boiler"
      tileDocumentsBoilerplate(spark, sfDir, boilDir, 1)
      // q_paradup joins the list: a block shared by 50% of docs is
      // paragraph dedup's OWN skew regime (hot tile fingerprints across
      // its 10 alignments) — the min/count canonical aggregate must
      // map-side-combine it, and AQE must split the occurrence join.
      // q_substring_dedup joins too: stride-1 windows make the shared
      // block ~40 hot fingerprints EACH present in 50% of docs — the
      // min/count canonical agg must map-side-combine them and AQE must
      // split the occurrence⋈dups join, same as the tile-grid flavor.
      Seq("q_containment", "q_subsume", "q_paradup", "q_substring_dedup").foreach { name =>
        run(boilDir, name) // warm
        val tClean = (1 to 2).map(_ => run(oneDir, name)).min
        val tBoil = (1 to 2).map(_ => run(boilDir, name)).min
        val bRatio = tBoil / tClean
        println(f"SCALEPROBE boiler $name%-14s clean=$tClean%6.2f s boiler=$tBoil%6.2f s " +
          f"ratio=$bRatio%5.2f")
        if (bRatio > 10.0)
          failures ::= f"$name boilerplate ratio $bRatio%.1f > 10 (stop-filter not capping?)"
      }

      // ---- adjudication 2d: bucket count scaling with data. The
      // declared q_colocated_join pins a FIXED 8-bucket layout, which is
      // honestly super-linear at ×8 (per-bucket sort is O(n log n) at
      // constant bucket count — measured 11× in r11); the production
      // lever is buckets ∝ table size (Bucketed.writeBucketedTable's
      // parameter). Build x1 at 8 buckets and x8 at 8×copies: per-bucket
      // volume constant, so the steady-state join (layout write NOT
      // timed — it is the amortized one-off) should grow ~linearly,
      // turning PLANS.md's flat-regime argument into a measurement.
      def colocated(dir: String, buckets: Int, tag: String): Double = {
        val li = s"probe_li_$tag"
        val ord = s"probe_ord_$tag"
        val root = s"$work/buck_$tag"
        graft.ops.Bucketed.writeBucketedTable(
          spark.read.parquet(s"$dir/lineitem.parquet")
            .select("l_orderkey", "l_extendedprice"),
          li, s"$root/lineitem", "l_orderkey", buckets)
        graft.ops.Bucketed.writeBucketedTable(
          spark.read.parquet(s"$dir/orders.parquet")
            .select("o_orderkey", "o_orderpriority"),
          ord, s"$root/orders", "o_orderkey", buckets)
        def once(): Double = {
          val t0 = System.nanoTime()
          graft.ops.Bucketed
            .colocatedJoin(spark, li, ord, "l_orderkey", "o_orderkey")
            .groupBy(col("o_orderpriority"))
            .agg(sum(col("l_extendedprice")).as("revenue"))
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        once() // warm
        (1 to 2).map(_ => once()).min
      }
      val cj1 = colocated(oneDir, 8, "x1")
      val cjBig = colocated(bigDir, 8 * copies, "xbig")
      val cjRatio = cjBig / cj1
      println(f"SCALEPROBE colocated-scaledbuckets x1(8)=$cj1%6.2f s " +
        f"x$copies(${8 * copies})=$cjBig%6.2f s ratio=$cjRatio%5.2f (linear=$copies.0)")
      if (cjRatio > copies * 2.0)
        failures ::= f"colocated scaled-bucket ratio $cjRatio%.1f > ${copies * 2.0} " +
          "(bucket scaling did not flatten the per-bucket sort)"

      // ---- adjudication 2e: compressed-rung probe volume-insensitivity.
      // The int8 index rides the IVF layout; its pruned probe cost must
      // track the probed buckets' VOLUME, not the corpus. Same lever as
      // 2d: x1 at 8 buckets, x8 at 8×copies (per-bucket volume constant —
      // buckets ∝ corpus is the production sizing), nProbe fixed, index
      // build NOT timed (the amortized one-off) — probe wall should stay
      // ~flat.
      def int8Probe(dir: String, kBuckets: Int, tag: String): Double = {
        val emb = Tables.embeddings(spark, dir)
        val cents = graft.ops.Similarity.trainCentroids(
          emb, "vec_id", "embedding", k = kBuckets)
        val layout = graft.ops.Similarity.IvfInt8("vec_id", "embedding", cents)
        val root = s"$work/int8_$tag"
        graft.ops.Similarity.writeIndex(emb, layout, root)
        val qv = emb.filter(col("vec_id") === 0L)
          .select(col("embedding")).head.getSeq[Float](0).toArray
        def once(): Double = {
          val t0 = System.nanoTime()
          graft.ops.Similarity.probeIndex(
            spark, root, layout, qv, 10, nProbe = 6, excludeId = Some(0L))
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        once() // warm
        (1 to 2).map(_ => once()).min
      }
      val i81 = int8Probe(oneDir, 8, "x1")
      val i8Big = int8Probe(bigDir, 8 * copies, "xbig")
      val i8Ratio = i8Big / i81
      println(f"SCALEPROBE int8-probe-scaledbuckets x1(8)=$i81%6.2f s " +
        f"x$copies(${8 * copies})=$i8Big%6.2f s ratio=$i8Ratio%5.2f (flat=1.0)")
      if (i8Ratio > 3.0)
        failures ::= f"int8 probe ratio $i8Ratio%.1f > 3.0 at constant probed volume " +
          "(the pruned probe cost is tracking the corpus, not the probed buckets)"

      // ---- adjudication 2f (r16): the HIER build as the probed flavor
      // (r15 verdict ask #7 — 2e and the q_sim_topk_ivf row ride flat
      // builds, so the √k-assignment claim had no standing per-round
      // measurement). Buckets ∝ corpus via the two-level trainer +
      // hierarchical kernel; BUILD wall (dominated by the assignment
      // pass at this scale) and pruned-probe wall timed separately.
      // Build model: per-row ~(side + probes·side)·dim with side = √k,
      // so ×8 rows at ×8 k is ≤ 8·√8 ≈ 22.6 if assignment alone
      // dominated (scan/write overhead amortizes it well below that);
      // probe must stay ~flat at constant per-bucket volume and fixed
      // nProbe — fine-bucket ids partition-prune exactly like the flat
      // layout's (probeIvfIndex reads the hier build unchanged,
      // SimilaritySpec pins the equality).
      def hierBuildProbe(dir: String, fineTarget: Int, tag: String): (Double, Double, Int) = {
        val emb = Tables.embeddings(spark, dir)
        val side = math.max(1, math.ceil(math.sqrt(fineTarget.toDouble)).toInt)
        val model = graft.ops.Similarity.trainCentroidsHier(
          emb, "vec_id", "embedding", side, side,
          sampleSize = math.min(4 * fineTarget, 32768))
        // the roster line + gate model must carry what RAN, not the
        // request: side² (529 at target 512) is only the PRESCRIPTION —
        // cells that attract no sample points train no fine centroids,
        // so the trained count is model.fine.length
        val cells = model.fine.length
        val root = s"$work/hier_$tag"
        def buildOnce(): Double = {
          val t0 = System.nanoTime()
          graft.ops.Similarity.writeIndex(
            emb, graft.ops.Similarity.IvfFloatHier("vec_id", "embedding", model), root)
          (System.nanoTime() - t0) / 1e9
        }
        buildOnce() // warm
        val build = (1 to 2).map(_ => buildOnce()).min
        val qv = emb.filter(col("vec_id") === 0L)
          .select(col("embedding")).head.getSeq[Float](0).toArray
        def probeOnce(): Double = {
          val t0 = System.nanoTime()
          graft.ops.Similarity.probeIndex(
            spark, root, graft.ops.Similarity.IvfFloat("vec_id", "embedding", model.fine), qv, 10,
            nProbe = 6, excludeId = Some(0L))
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        probeOnce() // warm
        val probe = (1 to 2).map(_ => probeOnce()).min
        (build, probe, cells)
      }
      val (hb1, hp1, cells1) = hierBuildProbe(oneDir, 64, "x1")
      val (hb8, hp8, cells8) = hierBuildProbe(bigDir, 64 * copies, "xbig")
      val hbRatio = hb8 / hb1
      val hpRatio = hp8 / hp1
      // model from the ACTUAL k ratio (cells are side², not the target)
      val hbModel = copies * math.sqrt(cells8.toDouble / cells1)
      println(f"SCALEPROBE hier-ivf-build x1($cells1)=$hb1%6.2f s " +
        f"x$copies($cells8)=$hb8%6.2f s ratio=$hbRatio%5.2f " +
        f"(rows·√k model=$hbModel%.1f)")
      println(f"SCALEPROBE hier-ivf-probe x1=$hp1%6.2f s x$copies=$hp8%6.2f s " +
        f"ratio=$hpRatio%5.2f (flat=1.0)")
      if (hbRatio > hbModel * 1.2)
        failures ::= f"hier IVF build ratio $hbRatio%.1f broke the rows·√k model " +
          f"($hbModel%.1f × 1.2 slack)"
      if (hpRatio > 3.0)
        failures ::= f"hier IVF probe ratio $hpRatio%.1f > 3.0 at constant probed " +
          "volume (the hier layout's pruning is tracking the corpus)"

      // ---- adjudication 2g (r17): the MinHash probe's partition-pruned
      // index read at growing nParts (the b9e6ff9 trade, kept measured).
      // nParts ∝ corpus is the production sizing; a FIXED-SIZE daily
      // batch's (band, bucket) keys hash into a bounded part set, so the
      // probe must stay ~flat as corpus and nParts grow ×8 together:
      // listing O(batch's parts), candidates O(batch's collisions),
      // history touched only by the candidate semi-join's scan. The
      // 5-doc batch stays under the dense threshold at BOTH tiers
      // (≤ 80 keys → <¾ of 128 parts) so this times the PRUNED path —
      // the dense root-read short-circuit a bulk batch takes instead is
      // pinned semantically in IndexLayoutSpec and by the q_neardup_incr
      // bench row (whose sf0.1 batch covers ~all 64 parts).
      def minhashProbe(dir: String, nParts: Int, tag: String): Double = {
        val docs = Tables.documents(spark, dir)
        val history = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        val root = s"$work/mh_$tag"
        graft.ops.NearDup.writeMinhashIndex(
          history, "doc_id", "text", root, nParts = nParts)
        val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
          .orderBy(col("doc_id")).limit(5).localCheckpoint()
        def once(): Double = {
          val t0 = System.nanoTime()
          graft.ops.NearDup.probeMinhashIndex(
            root, history, batch, "doc_id", "text", nParts = nParts)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        once() // warm
        (1 to 2).map(_ => once()).min
      }
      val mh1 = minhashProbe(oneDir, 128, "x1")
      val mhBig = minhashProbe(bigDir, 128 * copies, "xbig")
      val mhRatio = mhBig / mh1
      println(f"SCALEPROBE minhash-probe-scaledparts x1(128)=$mh1%6.2f s " +
        f"x$copies(${128 * copies})=$mhBig%6.2f s ratio=$mhRatio%5.2f (flat=1.0)")
      if (mhRatio > 3.0)
        failures ::= f"MinHash index probe ratio $mhRatio%.1f > 3.0 at fixed batch " +
          "size (the pruned read is tracking nParts or the corpus, not the batch)"

      // At probe scale no partition crosses AQE's skew thresholds (256 MiB
      // default) and small sides broadcast — so the split decision never
      // fires above. Force the 100 TB join shape for the range join (no
      // broadcast, thresholds scaled to the tier) to pin that the bucketed
      // equi-join IS skew-splittable when one (key, bucket) partition is
      // big relative to the rest. The as-of join is deliberately absent
      // here: its per-key window sort is not AQE-splittable by design
      // (the operator's Scaladoc says so — salting with boundary handoff
      // is the escape hatch a pathological key would need).
      val skewConf = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16384",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8192",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "4096",
        // the skew FACTOR (default 5× median) needs a cluster-like
        // partition count to be meaningful: at the session default
        // (partitions = probe cores, e.g. 4) a 50%-hot partition is only
        // ~3× the median of the other three and AQE correctly declines —
        // an artifact of the tiny-tier partitioning, not the operator.
        // 32 partitions model the many-partition cluster regime this
        // adjudication exists for (median ~1.6%, hot 50% → ≫5×).
        // Measured (r10): hot-key+single-bucket at 4 partitions runs
        // ~130 s unsplit; at 32, AQE splits unforced and the same work
        // spreads to ~31 s on 4 cores.
        "spark.sql.shuffle.partitions" -> "32")
      // note the Option(...): an unset conf whose get returns null must be
      // restored with unset, not set(null) (which throws)
      val saved = skewConf.map { case (k, _) =>
        k -> scala.util.Try(Option(spark.conf.get(k))).toOption.flatten }
      skewConf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val (tSplit, didSplit) = runPlan(skewDir, "q_range_join")
        println(f"SCALEPROBE skewsplit q_range_join hotkey=$tSplit%6.2f s " +
          f"aqe_skew_split=$didSplit (thresholds scaled to tier, broadcast off)")
        if (!didSplit) failures ::= "q_range_join did not skew-split under scaled thresholds"
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }

      if (failures.nonEmpty) failures.foreach(f => println(s"SCALEPROBE FAIL $f"))
      else println("SCALEPROBE OK — near-linear growth, bounded driver heap")
      failed = failures.nonEmpty
    } finally {
      // cleanup must run even on gate failure (the tiled work dirs are
      // gigabytes) — sys.exit does not unwind the stack, so the exit
      // code is decided AFTER the finally (the Scale64 discipline)
      try Replay.wipe(work) catch { case _: Exception => () }
      spark.stop()
    }
    if (failed) sys.exit(2)
  }
}
