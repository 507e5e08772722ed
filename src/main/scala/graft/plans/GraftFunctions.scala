package graft.plans

import graft.functions.{BloomAgg, BloomMightContain, BloomStats}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData

/** graft's native functions: ONE name → builder table ([[builders]]).
  *
  * The Column helpers below build their `Column` straight from the
  * table's `Expression`, so calling a helper never touches a session's
  * function registry. Constants go in as catalyst `Literal`s — the
  * builders' `foldable` checks run before analysis — and aggregates as
  * `.toAggregateExpression()`. SQL names are optional: [[register]]
  * installs the table on a running session, and [[GraftExtensions]]
  * injects it at session build. The helpers' `spark` argument is
  * unused; it stays for source compatibility. */
object GraftFunctions {
  val CosineName = "graft_cosine"
  val DotName = "graft_dot"
  val MinHashName = "graft_minhash_sig"
  val SimHashName = "graft_simhash64"
  val LshName = "graft_lsh_bucket"
  val ShinglesName = "graft_shingles"
  val GramKeysName = "graft_gram_keys"
  val Md5GramSetName = "graft_md5_gram_set"
  val WinHashesName = "graft_win_hashes"
  val HashEmbedCellsName = "graft_hash_embed_cells"
  val VecDigestName = "graft_vec_digest"
  val PHashName = "graft_phash60"
  val DHashName = "graft_dhash60"
  val GrayDecodeName = "graft_gray_decode"
  val PpmEncodeName = "graft_ppm_encode"
  val BmpEncodeName = "graft_bmp_encode"
  val JpegEncodeName = "graft_jpeg_encode"
  val NgramScoreName = "graft_ngram_score"
  val AudioFpName = "graft_audio_fp"
  val GramAggName = "graft_gram_agg"
  val CharEntropyName = "graft_char_entropy"

  type Builder = Seq[Expression] => Expression

  private def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  private def unary(name: String)(f: Expression => Expression): (String, Builder) =
    name -> { exprs =>
      require(exprs.length == 1, s"$name expects 1 argument")
      f(exprs.head)
    }

  private def binary(name: String)(f: (Expression, Expression) => Expression): (String, Builder) =
    name -> { exprs =>
      require(exprs.length == 2, s"$name expects 2 arguments")
      f(exprs.head, exprs(1))
    }

  /** (input, const int) functions; `sig` is the message's signature. */
  private def withInt(name: String, sig: String)(
      f: (Expression, Int) => Expression): (String, Builder) =
    name -> { exprs =>
      require(exprs.length == 2 && exprs(1).foldable, s"$name expects $sig")
      f(exprs.head, int(exprs(1)))
    }

  /** Every native function, by SQL name. */
  val builders: Seq[(String, Builder)] = Seq(
    binary(CosineName)(CosineSimilarity(_, _)),
    binary(DotName)(DotProduct(_, _)),
    withInt(MinHashName, "(array<string>, const int)")(MinHashSignature(_, _)),
    unary(SimHashName)(SimHash64(_)),
    withInt(LshName, "(array<double>, const int)")(LshBucket(_, _)),
    withInt(ShinglesName, "(array<string>, const int)")(WordShingles(_, _)),
    GramKeysName -> { exprs =>
      require(exprs.length == 3 && exprs(2).foldable,
        s"$GramKeysName expects (string, string, const int)")
      GramKeys(exprs.head, exprs(1), int(exprs(2)))
    },
    withInt(Md5GramSetName, "(string, const int)")(Md5GramSet(_, _)),
    withInt(WinHashesName, "(array<string>, const int)")(WinHashes(_, _)),
    withInt(HashEmbedCellsName, "(string, const int)")(HashEmbedCells(_, _)),
    unary(VecDigestName)(VecDigest(_)),
    unary(PHashName)(PHash60(_)),
    unary(DHashName)(DHash60(_)),
    unary(GrayDecodeName)(GrayDecode(_)),
    unary(PpmEncodeName)(PpmEncode(_)),
    unary(BmpEncodeName)(BmpEncode(_)),
    unary(JpegEncodeName)(JpegEncode(_)),
    NgramScoreName -> { exprs =>
      require(exprs.length == 2 && exprs(1).foldable,
        s"$NgramScoreName expects (string, const array<bigint>)")
      val w = exprs(1).eval().asInstanceOf[ArrayData].toLongArray().toSeq
      NgramScore(exprs.head, w)
    },
    AudioFpName -> { exprs =>
      require(exprs.length == 5 && exprs.tail.forall(_.foldable),
        s"$AudioFpName expects (binary, 4 const ints)")
      val Seq(fb, fo, dt, qd) = exprs.tail.map(int)
      AudioFp(exprs.head, fb, fo, dt, qd)
    },
    unary(GramAggName)(GramAgg(_).toAggregateExpression()),
    unary(CharEntropyName)(CharEntropyStats(_)),
    BloomStats.AggName -> { exprs =>
      require(exprs.length == 3 && exprs(1).foldable && exprs(2).foldable,
        s"${BloomStats.AggName} expects (double, const bits, const hashes)")
      BloomAgg(exprs.head, int(exprs(1)), int(exprs(2))).toAggregateExpression()
    },
    BloomStats.ContainsName -> { exprs =>
      require(exprs.length == 3,
        s"${BloomStats.ContainsName} expects (binary, double, int hashes)")
      BloomMightContain(exprs.head, exprs(1), exprs(2))
    })

  private val byName: Map[String, Builder] = builders.toMap

  /** The table's expression for `name` over `args`, then the constant
    * arguments, as a Column. */
  private[graft] def call(name: String, args: Column*)(consts: Any*): Column =
    column(byName(name)(args.map(expression) ++ consts.map(Literal(_))))

  /** Expose the table to SQL on a running session. Names already present
    * (an earlier call, or [[GraftExtensions]]) are left as they are. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Native dot product. */
  def dot(spark: SparkSession, a: Column, b: Column): Column =
    call(DotName, a, b)()

  /** Native 60-bit average-hash over a binary column. */
  def phash60(spark: SparkSession, payload: Column): Column =
    call(PHashName, payload)()

  /** Native 60-bit difference-hash over a binary column. */
  def dhash60(spark: SparkSession, payload: Column): Column =
    call(DHashName, payload)()

  /** Native image decode: PPM/BMP container → gray pixels, other
    * payloads pass through unchanged. */
  def grayDecode(spark: SparkSession, payload: Column): Column =
    call(GrayDecodeName, payload)()

  /** Native gray-buffer → binary P6 PPM encode. */
  def ppmEncode(spark: SparkSession, gray: Column): Column =
    call(PpmEncodeName, gray)()

  /** Native gray-buffer → binary 24-bit BMP encode. */
  def bmpEncode(spark: SparkSession, gray: Column): Column =
    call(BmpEncodeName, gray)()

  /** Native gray-buffer → baseline grayscale JPEG encode. */
  def jpegEncode(spark: SparkSession, gray: Column): Column =
    call(JpegEncodeName, gray)()

  /** Native packed-bytes vector value digest. */
  def vecDigest(spark: SparkSession, vec: Column): Column =
    call(VecDigestName, vec.cast("array<double>"))()

  /** Native hyperplane-LSH bucket column. */
  def lshBucket(spark: SparkSession, vec: Column, planes: Int = 16): Column =
    call(LshName, vec.cast("array<double>"))(planes)

  /** Native landmark audio fingerprints: binary → array<bigint>. */
  def audioFp(spark: SparkSession, payload: Column, frameBytes: Int,
      fanout: Int, maxDt: Int, qDiv: Int): Column =
    call(AudioFpName, payload)(frameBytes, fanout, maxDt, qDiv)

  /** Native hashed-trigram linear-model score: string →
    * array<bigint> [score_milli, n_grams]. `weights` is the model — a
    * milli-unit integer weight per hash bucket, shipped into the plan
    * as a constant (at cluster scale a broadcast-sized array, 8·|w|
    * bytes). */
  def ngramScore(spark: SparkSession, text: Column, weights: Seq[Long]): Column =
    call(NgramScoreName, text)(weights.toArray)

  /** Native distinct word k-grams column. */
  def shingles(spark: SparkSession, tokens: Column, k: Int): Column =
    call(ShinglesName, tokens)(k)

  /** Native fused posting-key column for the plain inverted-index
    * dedup forms: per row, the distinct word k-grams of `text` hashed
    * with the group column folded in — array<bigint> of
    * xxhash64("grp|gram"), value-identical to
    * `xxhash64(concat_ws("|", grp, gram))` over exploded
    * `graft_shingles(tokens(text), k)` (see [[Sketches.gramKeys]]).
    * The NULL-group fold mirrors concat_ws, which SKIPS nulls. */
  def gramKeys(spark: SparkSession, grp: Column, text: Column, k: Int): Column = {
    import org.apache.spark.sql.functions.{concat, lit, when}
    val prefix = when(grp.isNull, lit(""))
      .otherwise(concat(grp.cast("string"), lit("|")))
    call(GramKeysName, prefix, text)(k)
  }

  /** Native distinct md5 word n-gram digests; see
    * [[Sketches.md5GramSet]]. */
  def md5GramSet(spark: SparkSession, text: Column, n: Int): Column =
    call(Md5GramSetName, text)(n)

  /** Native 60-bit md5 window hashes in position order; see
    * [[Sketches.winHashes]]. */
  def winHashes(spark: SparkSession, tokens: Column, k: Int): Column =
    call(WinHashesName, tokens)(k)

  /** Native row-local feature-hash cells; see
    * [[Sketches.hashEmbedCells]]. */
  def hashEmbedCells(spark: SparkSession, text: Column, dim: Int): Column =
    call(HashEmbedCellsName, text)(dim)

  /** Native minhash signature column. */
  def minhashSig(spark: SparkSession, shingles: Column, perms: Int): Column =
    call(MinHashName, shingles)(perms)

  /** Native simhash column. */
  def simhash64(spark: SparkSession, tokens: Column): Column =
    call(SimHashName, tokens)()

  /** Fused native cosine. No implicit coercion on the raw expression,
    * so cast here — a no-op when the input is already array<double>. */
  def cosine(spark: SparkSession, a: Column, b: Column): Column =
    call(CosineName, a.cast("array<double>"), b.cast("array<double>"))()

  /** Native one-pass Gram-triangle aggregate: array<double> vectors →
    * one array<struct<i,j,n,s>> of d(d+1)/2 cells. See [[GramAgg]] for
    * the exactness contract. */
  def gramAgg(spark: SparkSession, vec: Column): Column =
    call(GramAggName, vec.cast("array<double>"))()

  /** Native row-local char-entropy statistics: string →
    * struct<n, nd, s> — see [[Sketches.charEntropyStats]] for the
    * exactness contract. */
  def charEntropyStats(spark: SparkSession, text: Column): Column =
    call(CharEntropyName, text)()
}

/** `spark.sql.extensions` entry point: every [[GraftFunctions]] table
  * entry as a SQL function, plus the TopKPerKey planner strategy and
  * rewrite rule. Optional — graft's own code builds its expressions
  * directly and needs no SQL names. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => TopKRewriteRule)
  }
}
