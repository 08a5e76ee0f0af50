package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{ArgmaxCell, CappedStructList, CharEntropy, CosineSimilarity, DhashBits, DotProduct, HexWords, MinHashSig, MisraGries, MovingEnergy, NfcNormalize, OrderedPairs, PolyHash, RegexCount, SimHashWord, SquaredL2, TermCounts}

/** The SQL names of graft's native functions: one list of (identifier,
  * info, builder) tuples, and the only place those names are defined.
  *
  * Library code never uses these names. It builds each kernel directly as
  * a Column through the kernel companion's typed constructor
  * (`CosineSimilarity.of(a, b)`, ...), so it never writes a session's
  * function registry. The names exist for SQL and `expr(...)` users, who
  * get them one of two ways:
  *
  *  - [[GraftExtensions]] injects each tuple on every session built with
  *    `spark.sql.extensions=graft.GraftExtensions` (the shared-cluster
  *    deployment shape);
  *  - [[registerAll]] registers the same tuples into an existing
  *    session's registry (the embedded shape, and what specs use).
  *
  * Every builder constructs the same expression node its typed
  * constructor does, and every kernel's `prettyName` is its SQL name, so
  * plans, auto-aliases and outputs are the same on every route. */
object GraftFunctions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def fn(name: String, usage: String, arity: Int,
                 builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), info(name, usage), { args: Seq[Expression] =>
      require(args.length == arity, s"$name expects $arity argument(s)")
      builder(args)
    })

  /** The aggregates take their size parameter as a plain Int. */
  private def intLiteral(name: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects an integer literal, got $other")
  }

  /** All native functions, one tuple each. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("cosine_similarity",
      "cosine_similarity(a, b) - cosine similarity of two float/double arrays",
      2, args => CosineSimilarity(args.head, args(1))),
    fn("dot_product",
      "dot_product(a, b) - dot product of two float/double arrays",
      2, args => DotProduct(args.head, args(1))),
    fn("squared_l2",
      "squared_l2(a, b) - squared L2 distance of two float/double arrays",
      2, args => SquaredL2(args.head, args(1))),
    fn("poly_hash",
      "poly_hash(s) - 31-base polynomial rolling hash of a string mod 1e9+7",
      1, args => PolyHash(args.head)),
    fn("nfc_normalize",
      "nfc_normalize(s) - Unicode NFC (canonical composition) normalization",
      1, args => NfcNormalize(args.head)),
    fn("char_entropy",
      "char_entropy(s) - Shannon entropy (bits) over the string's Unicode code points",
      1, args => CharEntropy(args.head)),
    fn("regex_count",
      "regex_count(s, re) - non-overlapping Java-regex match count; equals size(regexp_extract_all(s, re, 0))",
      2, args => RegexCount(args.head, args(1))),
    fn("hex_words",
      "hex_words(h, width, n, signed) - n fixed-width hex words of h as array<int>; signed applies two's-complement at 4*width bits",
      4, args => HexWords(args.head, args(1), args(2), args(3))),
    fn("dhash_bits",
      "dhash_bits(arr, bits) - long with bit i set iff arr[i] > arr[i+1], i < min(bits, len)",
      2, args => DhashBits(args.head, args(1))),
    fn("moving_energy",
      "moving_energy(sm, window, frames) - moving-window sum of squares of an int array as array<bigint>",
      3, args => MovingEnergy(args.head, args(1), args(2))),
    fn("simhash_word",
      "simhash_word(shingles, word) - 60-bit SimHash of a string array; word picks the md5 hex slice (0 or 1)",
      2, args => SimHashWord(args.head, args(1))),
    fn("minhash_sig",
      "minhash_sig(shingles, k) - k-hash MinHash signature (array<bigint>) of a string array",
      2, args => MinHashSig(args.head, args(1))),
    fn("term_counts",
      "term_counts(arr) - per-row distinct-term occurrence counts: array<struct<term string, tf bigint>>, terms ascending",
      1, args => TermCounts(args.head)),
    fn("argmax_cell",
      "argmax_cell(ed, ids, centroids) - id of the max-cosine centroid (6dp rounding, ties to lowest id); ids/centroids must be foldable literals",
      3, args => ArgmaxCell(args.head, args(1), args(2))),
    fn("ordered_pairs",
      "ordered_pairs(xs) - every (xs[i], xs[j]) with i < j as array<struct<a, b>>, in index order",
      1, args => OrderedPairs(args.head)),
    fn("misra_gries",
      "misra_gries(col, k) - mergeable Misra-Gries heavy-hitters sketch (term -> estimate map)",
      2, args => MisraGries(args.head, intLiteral("misra_gries", args(1)))),
    fn("capped_list",
      "capped_list(struct, cap) - the group's structs as an array, or NULL once the group exceeds cap rows",
      2, args => CappedStructList(args.head, intLiteral("capped_list", args(1)))))

  /** Registers every native function into `spark`'s own registry —
    * idempotent (re-registration replaces with an identical builder). */
  def registerAll(spark: SparkSession): Unit =
    all.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
}
