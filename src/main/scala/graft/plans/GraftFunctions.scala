package graft.plans

import graft.functions.{BloomAgg, BloomStats}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types._

/** graft's native functions: ONE name → builder table ([[builders]]).
  * A scalar function is a [[Kernel]] row (types, output type, constants,
  * static method), all served by the one [[NativeFn]] expression; the
  * two aggregates ([[GramAgg]], [[BloomAgg]]) have builders of their own.
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

  private val Sk = "graft.plans.Sketches"
  private val Img = "graft.plans.ImageCodec"
  private val Vec = "array<double>"
  private val Toks = "array<string>"
  private val LongArray = ArrayType(LongType, containsNull = false)

  /** Every scalar native function: one [[Kernel]] row each, all served
    * by [[NativeFn]]. */
  val kernels: Seq[Kernel] = Seq(
    Kernel(CosineName, Seq(Vec, Vec), DoubleType, s"$Sk.cosine"),
    Kernel(DotName, Seq(Vec, Vec), DoubleType, s"$Sk.dot"),
    Kernel(MinHashName, Seq(Toks), ArrayType(StringType), s"$Sk.minhashSig", Seq("int")),
    Kernel(SimHashName, Seq(Toks), LongType, s"$Sk.simhash64"),
    Kernel(LshName, Seq(Vec), LongType, s"$Sk.lshBucket", Seq("int")),
    Kernel(ShinglesName, Seq(Toks), ArrayType(StringType), s"$Sk.wordShingles", Seq("int")),
    // NULL text → NULL row; callers fold a NULL group into prefix ""
    Kernel(GramKeysName, Seq("string", "string"), LongArray, s"$Sk.gramKeys", Seq("int")),
    Kernel(Md5GramSetName, Seq("string"), ArrayType(BinaryType, containsNull = false),
      s"$Sk.md5GramSet", Seq("int")),
    Kernel(WinHashesName, Seq(Toks), LongArray, s"$Sk.winHashes", Seq("int")),
    Kernel(HashEmbedCellsName, Seq("string"), ArrayType(StructType(Seq(
      StructField("d", IntegerType, nullable = false),
      StructField("v", LongType, nullable = false))), containsNull = false),
      s"$Sk.hashEmbedCells", Seq("int")),
    Kernel(VecDigestName, Seq(Vec), BinaryType, s"$Sk.vecDigest"),
    Kernel(PHashName, Seq("binary"), LongType, s"$Sk.phash60"),
    Kernel(DHashName, Seq("binary"), LongType, s"$Sk.dhash60"),
    Kernel(GrayDecodeName, Seq("binary"), BinaryType, s"$Img.decodeGrayOrSelf"),
    Kernel(PpmEncodeName, Seq("binary"), BinaryType, s"$Img.encodePpmGray"),
    Kernel(BmpEncodeName, Seq("binary"), BinaryType, s"$Img.encodeBmpGray"),
    Kernel(JpegEncodeName, Seq("binary"), BinaryType, "graft.plans.JpegCodec.encodeJpegGray"),
    Kernel(NgramScoreName, Seq("string"), ArrayType(LongType), s"$Sk.ngramScoreMilli",
      Seq("array<bigint>"), c => require(c.head.asInstanceOf[Seq[_]].nonEmpty,
        s"$NgramScoreName: empty weight table")),
    Kernel(AudioFpName, Seq("binary"), ArrayType(LongType), s"$Sk.audioFp", Seq.fill(4)("int"),
      c => require(c.forall(_.asInstanceOf[Int] > 0),
        s"$AudioFpName: all parameters must be positive")),
    Kernel(CharEntropyName, Seq("string"), StructType(Seq(
      StructField("n", LongType, nullable = false),
      StructField("nd", LongType, nullable = false),
      StructField("s", DecimalType(38, 6), nullable = true))), s"$Sk.charEntropyStats"),
    Kernel(BloomStats.ContainsName, Seq("binary", "double|string", "int"), BooleanType,
      "graft.functions.Bloom.mightContain"))

  private val kernelByName: Map[String, Kernel] = kernels.map(k => k.name -> k).toMap

  private[plans] def kernel(name: String): Kernel = kernelByName(name)

  /** Every native function, by SQL name: the scalar rows, then the two
    * aggregates. */
  val builders: Seq[(String, Builder)] = kernels.map(k => k.name -> (k.build _)) ++ Seq(
    GramAggName -> { exprs =>
      require(exprs.length == 1, s"$GramAggName expects (array<double>)")
      GramAgg(exprs.head).toAggregateExpression()
    },
    BloomStats.AggName -> { exprs =>
      require(exprs.length == 3 && exprs(1).foldable && exprs(2).foldable,
        s"${BloomStats.AggName} expects (double, const bits, const hashes)")
      def int(e: Expression) = e.eval().asInstanceOf[Number].intValue()
      BloomAgg(exprs.head, int(exprs(1)), int(exprs(2))).toAggregateExpression()
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

  /** Native dot product. NULL contract (shared with [[cosine]] and
    * [[lshBucket]]): a NULL array gives NULL, but a NULL ELEMENT reads
    * as 0.0 and two arrays of different lengths are read up to the
    * shorter one — the result is a primitive double per row, so unlike
    * the `aggregate(zip_with(…))` SQL form neither case gives NULL:
    * `dot([1, 2, 3], [1, 2])` = 5.0. Filter or `coalesce` NULL elements
    * and check lengths upstream where that matters. */
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

  /** Native hyperplane-LSH bucket column. A NULL element projects as
    * 0.0 (the [[dot]] NULL contract); a NULL array gives NULL. */
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
    * so cast here — a no-op when the input is already array<double>.
    * NULL elements read as 0.0 and the shorter array bounds the sums
    * (the [[dot]] NULL contract): `cosine([1, NULL], [1, 2])` =
    * 1/√5 ≈ 0.4472, not NULL. */
  def cosine(spark: SparkSession, a: Column, b: Column): Column =
    call(CosineName, a.cast("array<double>"), b.cast("array<double>"))()

  /** Native one-pass Gram-triangle aggregate: array<double> vectors →
    * one array<struct<i,j,n,s>> of d(d+1)/2 cells. See [[GramAgg]] for
    * the exactness contract. A NULL element raises (`null element at
    * index k`), unlike the SQL form (`round(vi·vj, 9)` summed as
    * DECIMAL(38,9)), whose NULL products drop out of their sums. */
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
