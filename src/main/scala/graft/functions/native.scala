package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom codegen'd Catalyst expressions for the dedup/similarity hot
  * paths (the brief's escalation path (b): a native Expression with
  * doGenCode where built-ins can't express the computation efficiently).
  *
  * Why these exist: Spark's higher-order functions have no doGenCode —
  * they evaluate interpreted, per element, with no common-subexpression
  * elimination across sibling expressions. A 64-permutation MinHash
  * written with transform/aggregate re-runs the tokenize→shingle pipeline
  * 64× per document in the interpreter (profiled at minutes for 5000
  * docs). Each expression below is one compiled kernel call
  * ([[TextKernels]]/[[VectorKernels]]), and because they implement
  * doGenCode the enclosing projection stays inside whole-stage codegen.
  */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  require(k >= 1, "shingle size must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  protected override def nullSafeEval(input: Any): Any =
    TextKernels.shingles(input.asInstanceOf[UTF8String], k)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.shingles($c, $k)")
  protected override def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** ALL word k-gram windows with multiplicity (document order) — the
  * LM-count companion of [[WordShingles]], one compiled pass per doc
  * (the HOF transform/array_join formulation evaluates interpreted per
  * window and was the cost center of the n-gram count head). */
case class WordNgrams(child: Expression, k: Int) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  require(k >= 1, "ngram size must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"
  protected override def nullSafeEval(input: Any): Any =
    TextKernels.ngrams(input.asInstanceOf[UTF8String], k)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.ngrams($c, $k)")
  protected override def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

/** Sorted 64-bit hashes of the distinct word k-shingles in one compiled
  * pass — the per-row stage of the hash-ordered prefix-filter candidate
  * pipeline (see [[TextKernels.shingleHashes]]: any consistent hash is a
  * valid global order; collisions only add candidates). */
case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  require(k >= 1, "shingle size must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  protected override def nullSafeEval(input: Any): Any =
    TextKernels.shingleHashes(input.asInstanceOf[UTF8String], k)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.shingleHashes($c, $k)")
  protected override def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** All overlapping token-window chunk texts in one compiled pass — the
  * context-window chunking kernel (see [[TextKernels.chunks]]). */
case class WordChunks(child: Expression, window: Int, stride: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  require(window >= 1 && stride >= 1, s"window=$window stride=$stride must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_chunks"
  protected override def nullSafeEval(input: Any): Any =
    TextKernels.chunks(input.asInstanceOf[UTF8String], window, stride)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.chunks($c, $window, $stride)")
  protected override def withNewChildInternal(newChild: Expression): WordChunks =
    copy(child = newChild)
}

/** 16-byte MD5 fingerprints of every full `window`-token stride-1
  * window — span-level exact-substring dedup's per-row stage (see
  * [[TextKernels.windowFingerprints]]): only digests enter the plan,
  * never window text, so the downstream explode carries 16 bytes per
  * corpus token position instead of `window`× the corpus. */
case class WindowFingerprints(child: Expression, window: Int) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  require(window >= 1, s"window=$window must be >= 1")
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def prettyName: String = "window_fingerprints"
  protected override def nullSafeEval(input: Any): Any =
    TextKernels.windowFingerprints(input.asInstanceOf[UTF8String], window)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.windowFingerprints($c, $window)")
  protected override def withNewChildInternal(newChild: Expression): WindowFingerprints =
    copy(child = newChild)
}

/** Rebuild a document dropping every token covered by a cut window
  * (ascending starts, each covering [s, s+window)) — one O(tokens +
  * cuts) compiled pass (see [[TextKernels.removeSpans]]). NULL if
  * either the text or the cut list is NULL (callers guard the no-cuts
  * case with a passthrough). */
case class RemoveSpans(left: Expression, right: Expression, window: Int)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, ArrayType(IntegerType))
  require(window >= 1, s"window=$window must be >= 1")
  override def dataType: DataType = StringType
  override def prettyName: String = "remove_spans"
  protected override def nullSafeEval(text: Any, starts: Any): Any =
    TextKernels.removeSpans(
      text.asInstanceOf[UTF8String],
      starts.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], window)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, s) => s"graft.functions.TextKernels.removeSpans($t, $s, $window)")
  protected override def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RemoveSpans =
    copy(left = newLeft, right = newRight)
}

/** One-hash MinHash signature over a (non-empty) shingle array. */
case class MinHashSignature(child: Expression, perms: Int) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  require(perms >= 1, "need at least one permutation")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"
  // EMPTY input → NULL, not the all-Long.MaxValue degenerate signature:
  // the internal pipelines filter `size(shingles) > 0` before this
  // expression, but the SQL registration exposes it bare, and without
  // the guard every shingle-less (shorter-than-k) document would carry
  // the IDENTICAL max-sentinel signature — one LSH bucket holding all
  // short docs, each pair flagged near-dup (r20 review finding)
  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (arr.numElements() == 0) null else TextKernels.minhash(arr, perms)
  }
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |if ($c.numElements() == 0) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.TextKernels.minhash($c, $perms); }
       """.stripMargin
    })
  protected override def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** All hyperplane-LSH band signatures of a float vector in one pass; the
  * Gaussian planes are generated driver-side from (seed, band, bit) and
  * shipped as a codegen reference object. NULL when the vector length
  * differs from `dim` (same contract as [[CosineSim]] — ragged vectors
  * surface as NULL, never as garbage sign bits). */
case class HyperplaneSignatures(
    child: Expression, bands: Int, bits: Int, dim: Int, seed: Int)
    extends UnaryExpression {
  require(bands >= 1 && bits >= 1 && bits <= 64 && dim >= 1)
  @transient private lazy val planes: Array[Double] =
    VectorKernels.planes(dim, bands, bits, seed)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "hyperplane_signatures"
  protected override def nullSafeEval(input: Any): Any =
    VectorKernels.hyperplaneSigs(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      planes, bands, bits, dim)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("sigs")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $tmp =
         |  graft.functions.VectorKernels.hyperplaneSigs($c, $ref, $bands, $bits, $dim);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
       """.stripMargin
    })
  }
  protected override def withNewChildInternal(newChild: Expression): HyperplaneSignatures =
    copy(child = newChild)
}

/** First 8 bytes of MD5 as a big-endian signed Long — the
  * cross-engine-reproducible token hash under SimHash (see
  * [[TextKernels.md5Long]]; DuckDB computes the identical value from
  * `md5()` hex, which is what makes the SimHash operator fully
  * SQL-oracle-checkable). */
case class Md5Hash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_hash64"
  protected override def nullSafeEval(input: Any): Any =
    TextKernels.md5Long(input.asInstanceOf[UTF8String])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.md5Long($c)")
  protected override def withNewChildInternal(newChild: Expression): Md5Hash64 =
    copy(child = newChild)
}

/** One-pass character-class counts `[punct, upper, space, tokens]` for
  * quality scoring — see [[TextKernels.charClassCounts]]. */
case class CharClassCounts(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "char_class_counts"
  protected override def nullSafeEval(input: Any): Any =
    TextKernels.charClassCounts(input.asInstanceOf[UTF8String])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.charClassCounts($c)")
  protected override def withNewChildInternal(newChild: Expression): CharClassCounts =
    copy(child = newChild)
}

/** Shannon character entropy in nats — see [[TextKernels.charEntropy]]:
  * histogram + ordered summation in one compiled pass per document, NULL
  * for empty text. */
case class CharEntropy(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "char_entropy"
  protected override def nullSafeEval(input: Any): Any =
    TextKernels.charEntropy(input.asInstanceOf[UTF8String])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("ent")
      s"""
         |java.lang.Double $tmp = graft.functions.TextKernels.charEntropy($c);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })
  protected override def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

/** One-pass language-ID scores `[cjk, en, de, fr, es]` — see
  * [[TextKernels.langScores]]. */
case class LangScores(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lang_scores"
  protected override def nullSafeEval(input: Any): Any =
    TextKernels.langScores(input.asInstanceOf[UTF8String])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.langScores($c)")
  protected override def withNewChildInternal(newChild: Expression): LangScores =
    copy(child = newChild)
}

/** Whole-document 64-bit SimHash (md5-derived token hashes) in one
  * compiled pass — see [[TextKernels.simhash64]]. NULL for token-less
  * documents. */
case class SimHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash64"
  protected override def nullSafeEval(input: Any): Any =
    TextKernels.simhash64(input.asInstanceOf[UTF8String])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("sh")
      s"""
         |java.lang.Long $tmp = graft.functions.TextKernels.simhash64($c);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.longValue(); }
       """.stripMargin
    })
  protected override def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Winnowing rolling-hash document fingerprints (Schleimer et al.) — see
  * [[TextKernels.winnow]]. */
case class WinnowFingerprints(child: Expression, k: Int, window: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  require(k >= 2 && window >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"
  protected override def nullSafeEval(input: Any): Any =
    TextKernels.winnow(input.asInstanceOf[UTF8String], k, window)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.winnow($c, $k, $window)")
  protected override def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

/** IVF assignment: index of the nearest centroid by cosine similarity, in
  * one compiled pass over a centroid table shipped as a codegen reference
  * object — see [[VectorKernels.nearestCentroid]]. Centroids are held as
  * `Seq[Seq[Float]]` so the case-class equality Catalyst uses for plan
  * canonicalization is structural, not array-reference. NULL for ragged
  * vectors or when no centroid yields a similarity. */
case class NearestCentroid(child: Expression, centroids: Seq[Seq[Float]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  require(centroids.nonEmpty, "need at least one centroid")
  private val dim: Int = centroids.head.length
  @transient private lazy val table: Array[Array[Float]] =
    centroids.map(_.toArray).toArray
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"
  protected override def nullSafeEval(input: Any): Any =
    VectorKernels.nearestCentroid(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], table, dim)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", table, "float[][]")
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("bucket")
      s"""
         |java.lang.Integer $tmp =
         |  graft.functions.VectorKernels.nearestCentroid($c, $ref, $dim);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.intValue(); }
       """.stripMargin
    })
  }
  protected override def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** Multi-assignment: indices of the `n` nearest centroids by cosine, in
  * descending-similarity order — see [[VectorKernels.nearestCentroids]].
  * Same reference-object shipping and structural-equality posture as
  * [[NearestCentroid]]; element 0 always equals the single-assignment
  * result. */
case class NearestCentroids(child: Expression, centroids: Seq[Seq[Float]], n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  require(centroids.nonEmpty, "need at least one centroid")
  require(n >= 1, s"n=$n must be >= 1")
  private val dim: Int = centroids.head.length
  @transient private lazy val table: Array[Array[Float]] =
    centroids.map(_.toArray).toArray
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroids"
  protected override def nullSafeEval(input: Any): Any =
    VectorKernels.nearestCentroids(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], table, dim, n)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", table, "float[][]")
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("buckets")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $tmp =
         |  graft.functions.VectorKernels.nearestCentroids($c, $ref, $dim, $n);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
       """.stripMargin
    })
  }
  protected override def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

/** Hierarchical multi-assignment: top-`probes` coarse cells first, then
  * the flat top-`n` among their fine centroids only — see
  * [[VectorKernels.nearestCentroidsHier]] for the cost model and the
  * probes-all == flat equality that anchors it. Tables and the
  * fine→cell map ship as codegen reference objects; `Seq` fields keep
  * Catalyst's plan canonicalization structural, like the flat kernels. */
case class NearestCentroidsHier(
    child: Expression,
    coarse: Seq[Seq[Float]],
    fine: Seq[Seq[Float]],
    fineCell: Seq[Int],
    probes: Int,
    n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  require(coarse.nonEmpty && fine.nonEmpty, "need coarse and fine centroids")
  require(fineCell.length == fine.length,
    s"fineCell maps each fine centroid to its cell (${fineCell.length} != ${fine.length})")
  require(fineCell.forall(c => c >= 0 && c < coarse.length),
    "fineCell entries must index the coarse table")
  require(probes >= 1 && n >= 1, s"probes=$probes and n=$n must be >= 1")
  private val dim: Int = fine.head.length
  // every coarse cell must be SELECTABLE by pass 1, or its whole fine
  // subtree silently vanishes from probes < cells assignments (and a
  // dim mismatch would make every row NULL — dedup as a silent no-op);
  // degenerate FINE rows keep the flat kernel's skip semantics instead
  require(coarse.forall(c => c.length == dim && c.exists(_ != 0f)),
    s"every coarse centroid must have dim=$dim and nonzero norm — a zero-norm or " +
      "ragged cell could never be probed and its fine centroids would be unreachable")
  @transient private lazy val coarseTable: Array[Array[Float]] =
    coarse.map(_.toArray).toArray
  @transient private lazy val fineTable: Array[Array[Float]] =
    fine.map(_.toArray).toArray
  @transient private lazy val cellTable: Array[Int] = fineCell.toArray
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroids_hier"
  protected override def nullSafeEval(input: Any): Any =
    VectorKernels.nearestCentroidsHier(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      coarseTable, fineTable, cellTable, dim, probes, n)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val refCoarse = ctx.addReferenceObj("coarse", coarseTable, "float[][]")
    val refFine = ctx.addReferenceObj("fine", fineTable, "float[][]")
    val refCell = ctx.addReferenceObj("fineCell", cellTable, "int[]")
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("buckets")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $tmp =
         |  graft.functions.VectorKernels.nearestCentroidsHier(
         |    $c, $refCoarse, $refFine, $refCell, $dim, $probes, $n);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
       """.stripMargin
    })
  }
  protected override def withNewChildInternal(newChild: Expression): NearestCentroidsHier =
    copy(child = newChild)
}

/** Cosine similarity over float vectors — the exact re-rank/verify kernel
  * of the similarity and embedding-dedup operators. NULL when either norm
  * is zero (same contract as the HOF formulation in VectorOps, and the
  * same double-accumulation order, so results are bit-identical). */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("cos")
      s"""
         |java.lang.Double $tmp = graft.functions.VectorKernels.cosine($a, $b);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })
  protected override def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** True iff every element of a float vector is present and finite — the
  * compiled trainer-sample gate (see [[VectorKernels.isFiniteVec]]). */
case class IsFiniteVec(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "is_finite_vec"
  protected override def nullSafeEval(input: Any): Any =
    VectorKernels.isFiniteVec(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorKernels.isFiniteVec($c);")
  protected override def withNewChildInternal(newChild: Expression): IsFiniteVec =
    copy(child = newChild)
}

/** Cosine of an int8-quantized row (codes + per-row scale) against ONE
  * query vector, dequantizing inside the compiled loop — the quantized
  * probe's scan kernel (see [[VectorKernels.int8Cosine]]); replaced the
  * interpreted `transform` dequantization in the bucket-scan hot path,
  * bit-equal to it by construction. The query rides as a codegen
  * reference object; the `Seq` field keeps canonicalization structural,
  * like every centroid kernel here. */
case class Int8CosineSim(left: Expression, right: Expression, query: Seq[Float])
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(IntegerType), DoubleType)
  require(query.nonEmpty, "query vector must be non-empty")
  @transient private lazy val q: Array[Float] = query.toArray
  /** √(Σq²) in dimension order — constant per query, hoisted out of the
    * kernel's row loop (bit-identical denominator either way). */
  @transient private lazy val qNorm: Double = {
    var nb = 0.0
    var i = 0
    while (i < q.length) { val y = q(i).toDouble; nb += y * y; i += 1 }
    math.sqrt(nb)
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "int8_cosine_sim"
  protected override def nullSafeEval(codes: Any, scale: Any): Any =
    VectorKernels.int8Cosine(
      codes.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      scale.asInstanceOf[Double], q, qNorm)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("query", q, "float[]")
    val refN = ctx.addReferenceObj("queryNorm", java.lang.Double.valueOf(qNorm), "java.lang.Double")
    nullSafeCodeGen(ctx, ev, (c, s) => {
      val tmp = ctx.freshName("i8cos")
      s"""
         |java.lang.Double $tmp = graft.functions.VectorKernels.int8Cosine(
         |  $c, $s, $ref, $refN.doubleValue());
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })
  }
  protected override def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int8CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Int8 quantization of a float vector — struct(scale, codes) in one
  * compiled pass (see [[VectorKernels.quantizeInt8]]); replaced the
  * per-element-interpreted aggregate+transform HOF pipeline. */
case class QuantizeInt8(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("codes", ArrayType(IntegerType, containsNull = true), nullable = true)))
  override def prettyName: String = "quantize_int8"
  protected override def nullSafeEval(input: Any): Any =
    VectorKernels.quantizeInt8(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.quantizeInt8($c)")
  protected override def withNewChildInternal(newChild: Expression): QuantizeInt8 =
    copy(child = newChild)
}

/** All codepoint n-grams of the (caller-normalized) text in stream
  * order — the char-level feature extractor of the trained NB language
  * ID (see [[TextKernels.charNgrams]]). */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  require(n >= 1, s"n=$n must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"
  protected override def nullSafeEval(input: Any): Any =
    TextKernels.charNgrams(input.asInstanceOf[UTF8String], n)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.charNgrams($c, $n)")
  protected override def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}

/** Multinomial-NB class prediction over codepoint n-grams — the
  * trained language-ID scorer (see [[TextKernels.nbLangPredict]]).
  * The model (gram→index map, class-major term matrix, priors, labels)
  * ships as codegen reference objects hashed/built once per task; the
  * `Seq` constructor parameters keep Catalyst's case-class plan
  * canonicalization structural (the [[UnigramNll]] posture). Scoring
  * is ONE compiled pass per document — no model-table join, no
  * shuffle. */
case class NbLangPredict(
    child: Expression,
    labels: Seq[String],
    priors: Seq[Double],
    vocab: Seq[String],
    terms: Seq[Seq[Double]],
    n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  require(n >= 1, s"n=$n must be >= 1")
  // non-empty: defineCodeGen's null contract is input-null ⇒ output-null
  // ONLY — a zero-class model would need a kernel-side null the codegen
  // path cannot represent (callers guard the empty-corpus case)
  require(labels.nonEmpty, "nb_lang_predict needs at least one class")
  require(labels.size == priors.size && labels.size == terms.size,
    s"labels/priors/terms disagree: ${labels.size}/${priors.size}/${terms.size}")
  require(terms.forall(_.size == vocab.size),
    "every class needs one term per vocab gram")
  @transient private lazy val vocabMap: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](vocab.size * 2 + 16)
    vocab.zipWithIndex.foreach { case (g, i) => m.put(g, Integer.valueOf(i)) }
    m
  }
  @transient private lazy val termArr: Array[Array[Double]] = terms.map(_.toArray).toArray
  @transient private lazy val priorArr: Array[Double] = priors.toArray
  @transient private lazy val labelArr: Array[UTF8String] =
    labels.map(UTF8String.fromString).toArray
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "nb_lang_predict"
  protected override def nullSafeEval(input: Any): Any =
    TextKernels.nbLangPredict(
      input.asInstanceOf[UTF8String], vocabMap, termArr, priorArr, labelArr, n)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vRef = ctx.addReferenceObj("nbVocab", vocabMap, "java.util.HashMap")
    val tRef = ctx.addReferenceObj("nbTerms", termArr, "double[][]")
    val pRef = ctx.addReferenceObj("nbPriors", priorArr, "double[]")
    val lRef = ctx.addReferenceObj("nbLabels", labelArr,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextKernels.nbLangPredict($c, $vRef, $tRef, $pRef, $lRef, $n)")
  }
  protected override def withNewChildInternal(newChild: Expression): NbLangPredict =
    copy(child = newChild)
}

/** Unigram-LM negative log-likelihood — see [[TextKernels.unigramNll]].
  * The (term, count) vocab ships as a codegen reference object hashed
  * once per task (`Seq` so Catalyst's case-class canonicalization stays
  * structural); each term's contribution is precomputed with the exact
  * per-token IEEE ops, so results are bit-identical to the HOF fold the
  * kernel replaces while lookups drop from O(|V|) MapData scans to
  * O(1). */
case class UnigramNll(child: Expression, vocab: Seq[(String, Long)], total: Double, vsize: Double)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  @transient private lazy val table: java.util.HashMap[String, java.lang.Double] = {
    val denom = total + vsize + 1.0
    val m = new java.util.HashMap[String, java.lang.Double](vocab.size * 2 + 16)
    vocab.foreach { case (t, c) =>
      m.put(t, java.lang.Double.valueOf(-math.log((c + 1.0) / denom)))
    }
    m
  }
  private val oov: Double = -math.log(1.0 / (total + vsize + 1.0))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "unigram_nll"
  protected override def nullSafeEval(input: Any): Any =
    TextKernels.unigramNll(input.asInstanceOf[UTF8String], table, oov)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vocabTable", table, "java.util.HashMap")
    // exact-bits double literal — a decimal rendering could round
    val oovBits = java.lang.Double.doubleToLongBits(oov)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextKernels.unigramNll($c, $ref, java.lang.Double.longBitsToDouble(${oovBits}L))")
  }
  protected override def withNewChildInternal(newChild: Expression): UnigramNll =
    copy(child = newChild)
}

/** Interpolated-bigram negative log-likelihood — see
  * [[TextKernels.bigramNll]]. Both count tables ship as codegen
  * reference objects hashed once per task; `Seq` parameters keep plan
  * canonicalization structural (the [[UnigramNll]] posture). The
  * unigram probabilities are precomputed with the exact per-token IEEE
  * shape the oracle writes. */
case class BigramNll(
    child: Expression,
    uni: Seq[(String, Long)],
    bi: Seq[(String, Long)],
    totalU: Double,
    vU: Double,
    vB: Double,
    lambda: Double)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  require(lambda > 0.0 && lambda < 1.0, s"lambda=$lambda must be in (0, 1)")
  @transient private lazy val puMap: java.util.HashMap[String, java.lang.Double] = {
    val denom = (totalU + vU) + 1.0
    val m = new java.util.HashMap[String, java.lang.Double](uni.size * 2 + 16)
    uni.foreach { case (t, c) => m.put(t, java.lang.Double.valueOf((c + 1.0) / denom)) }
    m
  }
  @transient private lazy val cuMap: java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](uni.size * 2 + 16)
    uni.foreach { case (t, c) => m.put(t, java.lang.Double.valueOf(c.toDouble)) }
    m
  }
  @transient private lazy val cbMap: java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](bi.size * 2 + 16)
    bi.foreach { case (g, c) => m.put(g, java.lang.Double.valueOf(c.toDouble)) }
    m
  }
  private val puOov: Double = 1.0 / ((totalU + vU) + 1.0)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "bigram_nll"
  protected override def nullSafeEval(input: Any): Any =
    TextKernels.bigramNll(
      input.asInstanceOf[UTF8String], puMap, cuMap, cbMap, puOov, vB, lambda)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val puRef = ctx.addReferenceObj("puTable", puMap, "java.util.HashMap")
    val cuRef = ctx.addReferenceObj("cuTable", cuMap, "java.util.HashMap")
    val cbRef = ctx.addReferenceObj("cbTable", cbMap, "java.util.HashMap")
    val puOovBits = java.lang.Double.doubleToLongBits(puOov)
    val vBBits = java.lang.Double.doubleToLongBits(vB)
    val lamBits = java.lang.Double.doubleToLongBits(lambda)
    defineCodeGen(ctx, ev, c =>
      s"""graft.functions.TextKernels.bigramNll($c, $puRef, $cuRef, $cbRef,
         |  java.lang.Double.longBitsToDouble(${puOovBits}L),
         |  java.lang.Double.longBitsToDouble(${vBBits}L),
         |  java.lang.Double.longBitsToDouble(${lamBits}L))""".stripMargin)
  }
  protected override def withNewChildInternal(newChild: Expression): BigramNll =
    copy(child = newChild)
}

/** Codec-free media dimensions — see [[MediaKernels.mediaDims]]: parses
  * PNG/GIF/BMP fixed-offset headers, walks JPEG markers to the SOF
  * frame header, reads WEBP VP8/VP8L/VP8X bitstream headers, and walks
  * the TIFF first IFD in either byte order, returning `[width, height]`
  * or NULL for unrecognized or truncated payloads (corrupt media is
  * data, not an exception). */
case class MediaDims(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "media_dims"
  protected override def nullSafeEval(input: Any): Any =
    MediaKernels.mediaDims(input.asInstanceOf[Array[Byte]])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("dims")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $tmp =
         |  graft.functions.MediaKernels.mediaDims($c);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
       """.stripMargin
    })
  protected override def withNewChildInternal(newChild: Expression): MediaDims =
    copy(child = newChild)
}

/** Codec-free audio/video container metadata — see
  * [[MediaKernels.avMeta]]: WAV RIFF chunk walk (rates/channels/bits +
  * data-size duration) and MP4 ISO-BMFF box walk (mvhd duration, first
  * video trak's tkhd dims, both mvhd/tkhd versions), as a struct with
  * NULL fields where the container carries no figure and a NULL row for
  * anything else — corrupt or foreign payloads are data. */
case class AvMeta(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("container", StringType, nullable = false),
    StructField("duration_ms", LongType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("bit_depth", IntegerType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true)))
  override def nullable: Boolean = true
  override def prettyName: String = "av_meta"
  protected override def nullSafeEval(input: Any): Any =
    MediaKernels.avMeta(input.asInstanceOf[Array[Byte]])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("av")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $tmp =
         |  graft.functions.MediaKernels.avMeta($c);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
       """.stripMargin
    })
  protected override def withNewChildInternal(newChild: Expression): AvMeta =
    copy(child = newChild)
}

/** Structural value wrapper for a serialized bloom filter payload:
  * content equality with a CACHED hash, so Catalyst's repeated
  * canonicalized/semanticEquals/hashCode calls over the enclosing
  * expression cost O(1) after the first instead of a full boxed
  * traversal per call — a production filter sized for 10⁸ keys at 1%
  * FPP is ~120 MB, and the previous `Seq[Byte]` case field made every
  * optimizer pass re-hash it elementwise (r20 review finding). The
  * centroid kernels keep their plain `Seq` convention deliberately:
  * those tables are KBs, where a wrapper would be noise. */
final class BloomBytes(val bytes: Array[Byte]) extends Serializable {
  require(bytes.nonEmpty, "empty bloom filter payload")
  override lazy val hashCode: Int = java.util.Arrays.hashCode(bytes)
  override def equals(o: Any): Boolean = o match {
    case b: BloomBytes => (this eq b) ||
      (hashCode == b.hashCode && java.util.Arrays.equals(bytes, b.bytes))
    case _ => false
  }
  override def toString: String = s"BloomBytes(${bytes.length} bytes, #$hashCode)"
}

/** Bloom-filter membership probe over a string column — the pre-gate of
  * [[graft.ops.TextOps.dedupAgainstBloom]]. The serialized filter rides
  * the expression as [[BloomBytes]] so Catalyst's case-class plan
  * canonicalization stays structural (content equality) WITHOUT paying
  * an elementwise hash per optimizer pass; the deserialized
  * `BloomFilter` ships to executors as a codegen reference object
  * (`BloomFilterImpl` is `java.io.Serializable`) and each probe is one
  * `mightContainBinary` over the value's UTF-8 bytes — the SAME
  * put/probe byte convention the builder
  * ([[graft.ops.TextOps.buildBloomBytes]]) uses, pinned on both sides of
  * this module so a false NEGATIVE (the one failure that would corrupt
  * dedup) is impossible by construction. False positives only route
  * extra rows to the exact verify. */
case class BloomMightContain(child: Expression, bloomBytes: BloomBytes)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomBytes.bytes))
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bloom_might_contain"
  protected override def nullSafeEval(input: Any): Any =
    filter.mightContainBinary(input.asInstanceOf[UTF8String].getBytes)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(
      "bloom", filter, classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$ref.mightContainBinary($c.getBytes())")
  }
  protected override def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

/** Column-API entry points for the native expressions. */
/** Token count + per-term exact-match counts in one compiled tokenize
  * pass — the BM25 scoring projection's per-row stage (see
  * [[TextKernels.termFreqs]]): `result[0]` is the token count,
  * `result[i+1]` the count of `terms(i)`. The query-term list ships as
  * a codegen reference object. */
case class TermFrequencies(child: Expression, terms: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  require(terms.nonEmpty, "term_freqs needs at least one term")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "term_freqs"
  @transient private lazy val termArr: Array[String] = terms.toArray
  protected override def nullSafeEval(input: Any): Any =
    TextKernels.termFreqs(input.asInstanceOf[UTF8String], termArr)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("terms", termArr, "java.lang.String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.termFreqs($c, $ref)")
  }
  protected override def withNewChildInternal(newChild: Expression): TermFrequencies =
    copy(child = newChild)
}

/** Gopher-rule counts `[n_tokens, n_alpha_tokens, n_stopword_hits,
  * n_ws_chars]` in one compiled tokenize pass (see
  * [[TextKernels.gopherCounts]]); the stopword list is DEDUPED here so
  * the hit count keeps array_intersect's distinct-value semantics. */
case class GopherCounts(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  require(stopwords.nonEmpty, "gopher_counts needs at least one stopword")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gopher_counts"
  @transient private lazy val stopArr: Array[String] = stopwords.distinct.toArray
  protected override def nullSafeEval(input: Any): Any =
    TextKernels.gopherCounts(input.asInstanceOf[UTF8String], stopArr)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopwords", stopArr, "java.lang.String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.gopherCounts($c, $ref)")
  }
  protected override def withNewChildInternal(newChild: Expression): GopherCounts =
    copy(child = newChild)
}

/** Exact `CAST(double AS DECIMAL(38,6))` with the non-finite guard
  * folded in (NULL for NaN/±Inf) — the compiled per-row stage of
  * [[graft.ops.Relational.exactSum]]. See [[DecimalKernels]] for the
  * equality proof against Cast; DecimalKernelProps pins it. Declared
  * input is DOUBLE and the mixin is ImplicitCastInputTypes, so the
  * analyzer COERCES narrower numerics (int/float) to double — the
  * exactSum contract is "exact sum of double values" (a long column
  * wider than 2⁵³ should be cast to decimal directly, not summed via
  * this kernel). */
case class ExactDecimal6(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType)
  override def dataType: DataType = DecimalType(38, 6)
  override def nullable: Boolean = true
  override def prettyName: String = "exact_decimal6"
  protected override def nullSafeEval(input: Any): Any =
    DecimalKernels.doubleToDecimal6(input.asInstanceOf[Double])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // defineCodeGen assumes a non-null result; this kernel is NULL on
    // NaN/Inf, so emit the null re-check by hand
    val f = "graft.functions.DecimalKernels.doubleToDecimal6"
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $f($c);
      ${ev.isNull} = (${ev.value} == null);
    """)
  }
  protected override def withNewChildInternal(newChild: Expression): ExactDecimal6 =
    copy(child = newChild)
}

/** `round_half_even(exact_binary(x), 9)` as DECIMAL(38,9) — the
  * engine-portable double→decimal conversion for oracle-mirrored
  * decimal accumulation at scale 9 (see
  * [[DecimalKernels.doubleToDecimal9HalfEven]]: Spark's own Cast
  * rounds the shortest repr half-UP and diverges from DuckDB on
  * 9-decimal ties). Throws on NaN/±Inf like the ANSI cast.
  * ImplicitCastInputTypes (not plain ExpectsInputTypes) so a FLOAT
  * input — e.g. posexplode of an array<float> embedding — coerces to
  * double at analysis instead of failing; the widening is exact, so
  * the half-even tie semantics are preserved. */
case class Decimal9HalfEven(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType)
  override def dataType: DataType = DecimalType(38, 9)
  override def prettyName: String = "decimal9_even"
  protected override def nullSafeEval(input: Any): Any =
    DecimalKernels.doubleToDecimal9HalfEven(input.asInstanceOf[Double])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.DecimalKernels.doubleToDecimal9HalfEven($c)")
  protected override def withNewChildInternal(newChild: Expression): Decimal9HalfEven =
    copy(child = newChild)
}

object native {

  def exactDecimal6(c: Column): Column =
    ColumnBridge.column(ExactDecimal6(ColumnBridge.expression(c)))

  def decimal9HalfEven(c: Column): Column =
    ColumnBridge.column(Decimal9HalfEven(ColumnBridge.expression(c)))

  def termFreqs(text: Column, terms: Seq[String]): Column =
    ColumnBridge.column(TermFrequencies(ColumnBridge.expression(text), terms))

  def gopherCounts(text: Column, stopwords: Seq[String]): Column =
    ColumnBridge.column(GopherCounts(ColumnBridge.expression(text), stopwords))
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def wordShingles(text: Column, k: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), k))

  def wordNgrams(text: Column, k: Int): Column =
    ColumnBridge.column(WordNgrams(ColumnBridge.expression(text), k))

  def wordChunks(text: Column, window: Int, stride: Int): Column =
    ColumnBridge.column(WordChunks(ColumnBridge.expression(text), window, stride))

  def shingleHashes(text: Column, k: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(text), k))

  def windowFingerprints(text: Column, window: Int): Column =
    ColumnBridge.column(WindowFingerprints(ColumnBridge.expression(text), window))

  def removeSpans(text: Column, starts: Column, window: Int): Column =
    ColumnBridge.column(RemoveSpans(
      ColumnBridge.expression(text), ColumnBridge.expression(starts), window))

  def minhashSignature(shingles: Column, perms: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(shingles), perms))

  def winnowFingerprints(text: Column, k: Int, window: Int): Column =
    ColumnBridge.column(WinnowFingerprints(ColumnBridge.expression(text), k, window))

  def md5Hash64(s: Column): Column =
    ColumnBridge.column(Md5Hash64(ColumnBridge.expression(s)))

  def simhash64(text: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(text)))

  def charClassCounts(text: Column): Column =
    ColumnBridge.column(CharClassCounts(ColumnBridge.expression(text)))

  def charEntropy(text: Column): Column =
    ColumnBridge.column(CharEntropy(ColumnBridge.expression(text)))

  def langScores(text: Column): Column =
    ColumnBridge.column(LangScores(ColumnBridge.expression(text)))

  def hyperplaneSignatures(vec: Column, bands: Int, bits: Int, dim: Int, seed: Int = 42): Column =
    ColumnBridge.column(
      HyperplaneSignatures(ColumnBridge.expression(vec), bands, bits, dim, seed))

  def nearestCentroid(vec: Column, centroids: Array[Array[Float]]): Column =
    ColumnBridge.column(
      NearestCentroid(ColumnBridge.expression(vec), centroids.toSeq.map(_.toSeq)))

  def nearestCentroids(vec: Column, centroids: Array[Array[Float]], n: Int): Column =
    ColumnBridge.column(
      NearestCentroids(ColumnBridge.expression(vec), centroids.toSeq.map(_.toSeq), n))

  def nearestCentroidsHier(
      vec: Column,
      coarse: Array[Array[Float]],
      fine: Array[Array[Float]],
      fineCell: Array[Int],
      probes: Int,
      n: Int): Column =
    ColumnBridge.column(
      NearestCentroidsHier(
        ColumnBridge.expression(vec),
        coarse.toSeq.map(_.toSeq), fine.toSeq.map(_.toSeq), fineCell.toSeq,
        probes, n))

  def int8Cosine(codes: Column, scale: Column, query: Array[Float]): Column =
    ColumnBridge.column(Int8CosineSim(
      ColumnBridge.expression(codes), ColumnBridge.expression(scale), query.toSeq))

  def isFiniteVec(vec: Column): Column =
    ColumnBridge.column(IsFiniteVec(ColumnBridge.expression(vec)))

  def unigramNll(text: Column, vocab: Seq[(String, Long)], total: Double, vsize: Double): Column =
    ColumnBridge.column(UnigramNll(ColumnBridge.expression(text), vocab, total, vsize))

  def bigramNll(
      text: Column,
      uni: Seq[(String, Long)],
      bi: Seq[(String, Long)],
      totalU: Double,
      vU: Double,
      vB: Double,
      lambda: Double): Column =
    ColumnBridge.column(
      BigramNll(ColumnBridge.expression(text), uni, bi, totalU, vU, vB, lambda))

  def mediaDims(bytes: Column): Column =
    ColumnBridge.column(MediaDims(ColumnBridge.expression(bytes)))

  def avMeta(bytes: Column): Column =
    ColumnBridge.column(AvMeta(ColumnBridge.expression(bytes)))

  def charNgrams(text: Column, n: Int): Column =
    ColumnBridge.column(CharNgrams(ColumnBridge.expression(text), n))

  def quantizeInt8(vec: Column): Column =
    ColumnBridge.column(QuantizeInt8(ColumnBridge.expression(vec)))

  def nbLangPredict(
      text: Column,
      labels: Seq[String],
      priors: Seq[Double],
      vocab: Seq[String],
      terms: Seq[Seq[Double]],
      n: Int): Column =
    ColumnBridge.column(
      NbLangPredict(ColumnBridge.expression(text), labels, priors, vocab, terms, n))

  def bloomMightContain(c: Column, bloomBytes: Array[Byte]): Column =
    ColumnBridge.column(BloomMightContain(
      ColumnBridge.expression(c), new BloomBytes(bloomBytes)))
}
