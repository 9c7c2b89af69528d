package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.expressions.{CharGramHashes, CosineSimilarity, CountMinEstimate,
  CountMinSketchAgg, HyperplaneSignature, KMVSketch, LevenshteinWithin,
  Md5Prefix64, MisraGries, SquaredDistance, UnicodeNormalize,
  WinnowFingerprints, WordNGrams}

/** SparkSessionExtensions entry point: makes the library's custom
  * Catalyst expressions available to ANY session (SQL included) via
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * — the standard injection hook, so `SELECT cosine_similarity(a, b)`
  * works from pure SQL without programmatic registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("cosine_similarity"),
      info("cosine_similarity", "cosine_similarity(a, b) - cosine of two numeric arrays"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("squared_distance"),
      info("squared_distance", "squared_distance(a, b) - squared L2 distance"),
      (exprs: Seq[Expression]) => SquaredDistance(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("hyperplane_signature"),
      info("hyperplane_signature",
        "hyperplane_signature(vec, bits, dim) - packed LSH sign bits"),
      (exprs: Seq[Expression]) => new HyperplaneSignature(exprs(0),
        intArg(exprs(1), "bits"), intArg(exprs(2), "dim"))))
    ext.injectFunction((FunctionIdentifier("approx_distinct_kmv"),
      info("approx_distinct_kmv",
        "approx_distinct_kmv(col, k) - KMV sketch distinct estimate"),
      (exprs: Seq[Expression]) =>
        KMVSketch(exprs(0), intArg(exprs(1), "k")).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("word_ngrams"),
      info("word_ngrams",
        "word_ngrams(tokens, n, distinct) - space-joined word n-grams"),
      (exprs: Seq[Expression]) => WordNGrams(exprs(0),
        intArg(exprs(1), "n"), exprs(2) match {
          case Literal(b: Boolean, _) => b
          case other => throw new IllegalArgumentException(
            s"distinct must be a boolean literal, got $other")
        })))
    ext.injectFunction((FunctionIdentifier("winnow_fingerprints"),
      info("winnow_fingerprints",
        "winnow_fingerprints(text, k, w) - distinct winnowing fingerprints"),
      (exprs: Seq[Expression]) => WinnowFingerprints(exprs(0),
        intArg(exprs(1), "k"), intArg(exprs(2), "w"))))
    ext.injectFunction((FunctionIdentifier("char_gram_hashes"),
      info("char_gram_hashes",
        "char_gram_hashes(text, k) - md5-prefix of every k-char gram"),
      (exprs: Seq[Expression]) => CharGramHashes(exprs(0),
        intArg(exprs(1), "k"))))
    ext.injectFunction((FunctionIdentifier("levenshtein_within"),
      info("levenshtein_within",
        "levenshtein_within(l, r, k) - edit distance if <= k, else -1"),
      (exprs: Seq[Expression]) => LevenshteinWithin(exprs(0), exprs(1),
        intArg(exprs(2), "k"))))
    ext.injectFunction((FunctionIdentifier("md5_prefix64"),
      info("md5_prefix64",
        "md5_prefix64(s) - first 64 bits of md5(s) as a signed long"),
      (exprs: Seq[Expression]) => Md5Prefix64(exprs(0))))
    ext.injectFunction((FunctionIdentifier("unicode_normalize"),
      info("unicode_normalize",
        "unicode_normalize(s, form) - NFC/NFD/NFKC/NFKD normalization"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2) throw new IllegalArgumentException(
          s"unicode_normalize takes (string, form), got ${exprs.length} arguments")
        UnicodeNormalize(exprs(0),
          exprs(1) match {
            case Literal(f, _) if f != null => f.toString
            case other => throw new IllegalArgumentException(
              s"unicode_normalize form must be a string literal, got $other")
          })
      }))
    // NOTE: a Misra–Gries summary's tracked-item SET and weights depend
    // on partial-aggregate merge order — the guarantees (any item with
    // count > N/(k+1) is tracked; weights undercount by ≤ N/(k+1)) are
    // order-invariant, the raw map is NOT. Consume it as a candidate
    // set + bounds (as FrequentItems does, with an exact count-back);
    // never hash-compare the raw sketch output across runs.
    ext.injectFunction((FunctionIdentifier("frequent_items_sketch"),
      info("frequent_items_sketch",
        "frequent_items_sketch(col, k) - Misra-Gries heavy-hitter summary" +
          " (candidate set + bounds are order-invariant; the raw map is" +
          " merge-order-dependent - do not hash-compare it)"),
      (exprs: Seq[Expression]) =>
        MisraGries(exprs(0), intArg(exprs(1), "k")).toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("cms_sketch"),
      info("cms_sketch",
        "cms_sketch(col, depth, width) - count-min sketch counters"),
      (exprs: Seq[Expression]) => CountMinSketchAgg(exprs(0),
        intArg(exprs(1), "depth"), intArg(exprs(2), "width"))
        .toAggregateExpression()))
    ext.injectFunction((FunctionIdentifier("cms_estimate"),
      info("cms_estimate",
        "cms_estimate(sketch, item, depth, width) - min-over-rows estimate"),
      (exprs: Seq[Expression]) => CountMinEstimate(exprs(0), exprs(1),
        intArg(exprs(2), "depth"), intArg(exprs(3), "width"))))
  }
}
