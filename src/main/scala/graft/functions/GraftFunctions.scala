package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** SQL registration of the engine's native SCALAR expressions (plus the
  * `latest_row` aggregate), so every literal-parameterized kernel is
  * first-class in `spark.sql(...)` exactly like a built-in. Kernels
  * whose parameters are driver-computed runtime objects (centroid
  * tables, the int8 probe's query vector, vocab maps, bloom payloads,
  * `mg_sketch`'s typed aggregator) stay Column-API-only — SQL has no
  * literal syntax for them:
  *
  * {{{
  *   SELECT simhash64(text), cosine_sim(a, b), latest_row(struct(*), seq)
  * }}}
  *
  * Two entry points for the two session lifecycles:
  *  - [[GraftExtensions]]: `spark.sql.extensions=graft.GraftExtensions`
  *    at session build time (the standard SparkSessionExtensions path);
  *  - [[GraftFunctions.register]]: injection into a live session's
  *    function registry (tests, notebooks, sessions the caller doesn't
  *    construct).
  */
object GraftFunctions {

  private def intArg(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) =>
      // range-checked: a silent v.toInt would truncate e.g. 4294967297L
      // to 1 and quietly run with the wrong parameter
      if (v < Int.MinValue || v > Int.MaxValue)
        throw new IllegalArgumentException(
          s"$fn: argument '$arg' out of Int range: $v")
      else v.toInt
    case other =>
      throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be an integer literal, got $other")
  }

  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    require(args.length == n, s"$fn expects $n arguments, got ${args.length}")

  /** (name, builder) for every registered function. */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> { args =>
      arity("cosine_sim", args, 2); CosineSim(args(0), args(1))
    },
    "md5_hash64" -> { args =>
      arity("md5_hash64", args, 1); Md5Hash64(args(0))
    },
    "simhash64" -> { args =>
      arity("simhash64", args, 1); SimHash64(args(0))
    },
    "char_class_counts" -> { args =>
      arity("char_class_counts", args, 1); CharClassCounts(args(0))
    },
    "lang_scores" -> { args =>
      arity("lang_scores", args, 1); LangScores(args(0))
    },
    "char_entropy" -> { args =>
      arity("char_entropy", args, 1); CharEntropy(args(0))
    },
    "word_shingles" -> { args =>
      arity("word_shingles", args, 2)
      WordShingles(args(0), intArg(args(1), "word_shingles", "k"))
    },
    "word_ngrams" -> { args =>
      arity("word_ngrams", args, 2)
      WordNgrams(args(0), intArg(args(1), "word_ngrams", "k"))
    },
    "word_chunks" -> { args =>
      arity("word_chunks", args, 3)
      WordChunks(
        args(0),
        intArg(args(1), "word_chunks", "window"),
        intArg(args(2), "word_chunks", "stride"))
    },
    "shingle_hashes" -> { args =>
      arity("shingle_hashes", args, 2)
      ShingleHashes(args(0), intArg(args(1), "shingle_hashes", "k"))
    },
    "minhash_signature" -> { args =>
      arity("minhash_signature", args, 2)
      MinHashSignature(args(0), intArg(args(1), "minhash_signature", "perms"))
    },
    "winnow_fingerprints" -> { args =>
      arity("winnow_fingerprints", args, 3)
      WinnowFingerprints(
        args(0),
        intArg(args(1), "winnow_fingerprints", "k"),
        intArg(args(2), "winnow_fingerprints", "window"))
    },
    "media_dims" -> { args =>
      arity("media_dims", args, 1); MediaDims(args(0))
    },
    "av_meta" -> { args =>
      arity("av_meta", args, 1); AvMeta(args(0))
    },
    "hyperplane_signatures" -> { args =>
      arity("hyperplane_signatures", args, 5)
      HyperplaneSignatures(
        args(0),
        intArg(args(1), "hyperplane_signatures", "bands"),
        intArg(args(2), "hyperplane_signatures", "bits"),
        intArg(args(3), "hyperplane_signatures", "dim"),
        intArg(args(4), "hyperplane_signatures", "seed"))
    },
    "char_ngrams" -> { args =>
      arity("char_ngrams", args, 2)
      CharNgrams(args(0), intArg(args(1), "char_ngrams", "n"))
    },
    "quantize_int8" -> { args =>
      arity("quantize_int8", args, 1); QuantizeInt8(args(0))
    },
    "remove_spans" -> { args =>
      arity("remove_spans", args, 3)
      RemoveSpans(args(0), args(1), intArg(args(2), "remove_spans", "window"))
    },
    "window_fingerprints" -> { args =>
      arity("window_fingerprints", args, 2)
      WindowFingerprints(args(0), intArg(args(1), "window_fingerprints", "window"))
    },
    "latest_row" -> { args =>
      arity("latest_row", args, 2); LatestRow(args(0), args(1))
    },
    "exact_decimal6" -> { args =>
      arity("exact_decimal6", args, 1); ExactDecimal6(args(0))
    },
    "decimal9_even" -> { args =>
      arity("decimal9_even", args, 1); Decimal9HalfEven(args(0))
    },
    "term_freqs" -> { args =>
      require(args.length >= 2,
        s"term_freqs expects (text, term...), got ${args.length} arguments")
      TermFrequencies(args.head, args.tail.map(strArg(_, "term_freqs", "term")))
    })

  private def strArg(e: Expression, fn: String, arg: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) => v.toString
    case other =>
      throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be a string literal, got $other")
  }

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo("graft.functions.GraftFunctions", name)

  /** Register every native function into a live session. Idempotent
    * (re-registration overwrites with the identical builder). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), info(name), builder)
    }

  /** The SparkSessionExtensions hook body — shared by [[GraftExtensions]]. */
  def inject(ext: SparkSessionExtensions): Unit =
    all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name), builder))
    }
}

