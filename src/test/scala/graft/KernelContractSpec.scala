package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.functions.{BloomStats, TextAnalysis}
import graft.plans.{GraftFunctions, ImageCodec, Sketches}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, GraftSqlSpecBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The contract every scalar native function keeps, over generated
  * inputs: NULL elements, empty strings, runs of whitespace, non-ASCII
  * text, unpaired surrogates and long inputs.
  *  - interpreted eval (`NO_CODEGEN`, whole-stage off) equals generated
  *    code with no interpreted fallback (`CODEGEN_ONLY`, whole-stage
  *    on, `codegen.fallback` off), on nullable and non-nullable inputs;
  *  - a NULL argument gives NULL;
  *  - the native function equals its reference form where one exists.
  * Each function's cases (a fixed seed per function) run batched: one
  * frame per function and mode. */
class KernelContractSpec extends SparkSpec {
  import GraftFunctions._

  private val Cases = 240

  // ---- generators of catalyst values ----

  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** Lone high and low surrogates in their 3-byte CESU-8 form, as one
    * reaches a string column from a CESU-8 or WTF-8 producer (a Java
    * `String` would re-encode it as '?'). */
  private val surrogate: Gen[Array[Byte]] =
    Gen.oneOf(Seq(0xed, 0xa0, 0x80), Seq(0xed, 0xb0, 0x80)).map(_.map(_.toByte).toArray)

  private val word: Gen[Array[Byte]] = Gen.frequency(
    8 -> Gen.oneOf("the", "Quick", "brown", "FOX", "a", "b", "déjà", "vu",
      "Naïve", "日本語", "😀", "ÜBER", "İx").map(utf8),
    3 -> Gen.alphaNumStr.map(s => utf8(s.take(10))),
    1 -> surrogate,
    1 -> Gen.const(Array.emptyByteArray))

  private val gap: Gen[Array[Byte]] = Gen.frequency(
    6 -> Gen.const(utf8(" ")),
    2 -> Gen.choose(2, 6).map(n => utf8(" " * n)),
    1 -> Gen.oneOf("\t", "\n", " \t ").map(utf8))

  private def pieces(n: Int): Gen[Array[Byte]] =
    Gen.listOfN(n, Gen.frequency(3 -> word, 2 -> gap)).map(Array.concat(_: _*))

  private val text: Gen[Any] = Gen.frequency(
    1 -> Gen.const(Array.emptyByteArray),
    1 -> gap,
    14 -> Gen.choose(1, 24).flatMap(pieces),
    1 -> Gen.choose(400, 900).flatMap(pieces)).map(UTF8String.fromBytes)

  private val tokens: Gen[Any] = {
    val token = Gen.frequency(8 -> word.map(UTF8String.fromBytes), 1 -> Gen.const(null))
    Gen.frequency(
      12 -> Gen.choose(0, 12).flatMap(Gen.listOfN(_, token)),
      1 -> Gen.choose(150, 300).flatMap(Gen.listOfN(_, token)))
      .map(ts => new GenericArrayData(ts.toArray[Any]))
  }

  private val element: Gen[Any] = Gen.frequency(
    14 -> Gen.choose(-4.0, 4.0),
    1 -> Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity, 1e300,
      Double.MinPositiveValue),
    1 -> Gen.const(null))

  private def vectorOf(n: Int): Gen[Any] =
    Gen.listOfN(n, element).map(v => new GenericArrayData(v.toArray[Any]))

  private val vecLength: Gen[Int] =
    Gen.frequency(12 -> Gen.choose(0, 8), 1 -> Gen.choose(200, 600))

  private val vector: Gen[Any] = vecLength.flatMap(vectorOf)

  /** Vector pairs, most of one length. */
  private val vectorPair: Gen[Seq[Any]] = Gen.frequency(
    4 -> vecLength.flatMap(n => Gen.zip(vectorOf(n), vectorOf(n))),
    1 -> Gen.zip(vector, vector)).map { case (a, b) => Seq(a, b) }

  private def randomBytes(lo: Int, hi: Int): Gen[Array[Byte]] =
    Gen.zip(Gen.choose(lo, hi), Gen.long).map { case (n, s) =>
      val b = new Array[Byte](n); new scala.util.Random(s).nextBytes(b); b
    }

  private val binary: Gen[Any] = Gen.frequency(
    1 -> Gen.const(Array.emptyByteArray),
    10 -> randomBytes(1, 120),
    1 -> randomBytes(2000, 6000),
    2 -> randomBytes(0, 48).flatMap(g =>
      Gen.oneOf(ImageCodec.encodePpmGray(g), ImageCodec.encodeBmpGray(g))))

  /** A NULL argument one time in twelve. */
  private def orNull(g: Gen[Any]): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 11 -> g)

  private def args(gs: Gen[Any]*): Gen[Seq[Any]] =
    Gen.sequence[List[Any], Any](gs.map(orNull))

  // ---- the scalar rows ----

  /** One scalar function under test: its input columns, a generator of
    * one case's values for them, and the calls to it (one per constant
    * set), each with the inputs whose NULL must give NULL. */
  private case class Fn(name: String, inputs: Seq[(String, DataType)],
      gen: Gen[Seq[Any]], calls: Seq[(Column, Seq[String])], n: Int = Cases) {
    lazy val schema: StructType = StructType(
      StructField("id", LongType, nullable = false) +:
        inputs.map { case (n, t) => StructField(n, t) })
    lazy val cases: IndexedSeq[Seq[Any]] = Gen.listOfN(n, gen)
      .pureApply(Gen.Parameters.default, Seed(name.hashCode.toLong)).toIndexedSeq
  }

  private val S = spark
  private val Str = StringType
  private val Bin = BinaryType
  private val Toks = ArrayType(StringType)
  private val Vec = ArrayType(DoubleType)
  private def strict(c: Column, in: String*) = (c, in.toSeq)

  private val W512 = Sketches.lcgWeights(512).toSeq

  private val fns: Seq[Fn] = Seq(
    Fn(CosineName, Seq("a" -> Vec, "b" -> Vec),
      vectorPair.flatMap(p => args(p.map(Gen.const): _*)),
      Seq(strict(cosine(S, col("a"), col("b")), "a", "b")), n = 640),
    Fn(DotName, Seq("a" -> Vec, "b" -> Vec),
      vectorPair.flatMap(p => args(p.map(Gen.const): _*)),
      Seq(strict(dot(S, col("a"), col("b")), "a", "b")), n = 640),
    Fn(MinHashName, Seq("toks" -> Toks), args(tokens),
      Seq(1, 16).map(p => strict(minhashSig(S, col("toks"), p), "toks"))),
    Fn(SimHashName, Seq("toks" -> Toks), args(tokens),
      Seq(strict(simhash64(S, col("toks")), "toks"))),
    Fn(LshName, Seq("v" -> Vec), args(vector),
      Seq(1, 16, 63).map(p => strict(lshBucket(S, col("v"), p), "v")), n = 400),
    Fn(ShinglesName, Seq("toks" -> Toks), args(tokens),
      Seq(1, 2, 3).map(k => strict(shingles(S, col("toks"), k), "toks"))),
    // the helper folds a NULL group into an empty key prefix
    Fn(GramKeysName, Seq("grp" -> Str, "text" -> Str), args(text, text),
      Seq(1, 3).map(k => strict(gramKeys(S, col("grp"), col("text"), k), "text"))),
    Fn(Md5GramSetName, Seq("text" -> Str), args(text),
      Seq(1, 3).map(n => strict(md5GramSet(S, col("text"), n), "text"))),
    Fn(WinHashesName, Seq("toks" -> Toks), args(tokens),
      Seq(1, 3, 5).map(k => strict(winHashes(S, col("toks"), k), "toks"))),
    Fn(HashEmbedCellsName, Seq("text" -> Str), args(text),
      Seq(1, 64).map(d => strict(hashEmbedCells(S, col("text"), d), "text"))),
    Fn(VecDigestName, Seq("v" -> Vec), args(vector),
      Seq(strict(vecDigest(S, col("v")), "v"))),
    Fn(PHashName, Seq("bin" -> Bin), args(binary),
      Seq(strict(phash60(S, col("bin")), "bin"))),
    Fn(DHashName, Seq("bin" -> Bin), args(binary),
      Seq(strict(dhash60(S, col("bin")), "bin"))),
    Fn(GrayDecodeName, Seq("bin" -> Bin), args(binary),
      Seq(strict(grayDecode(S, col("bin")), "bin"))),
    Fn(PpmEncodeName, Seq("bin" -> Bin), args(binary),
      Seq(strict(ppmEncode(S, col("bin")), "bin"))),
    Fn(BmpEncodeName, Seq("bin" -> Bin), args(binary),
      Seq(strict(bmpEncode(S, col("bin")), "bin"))),
    Fn(JpegEncodeName, Seq("bin" -> Bin), args(binary),
      Seq(strict(jpegEncode(S, col("bin")), "bin"))),
    Fn(NgramScoreName, Seq("text" -> Str), args(text),
      Seq(W512, Seq(7L), Seq(-3L, 5L, 11L))
        .map(w => strict(ngramScore(S, col("text"), w), "text"))),
    Fn(AudioFpName, Seq("bin" -> Bin), args(binary),
      Seq((4, 2, 3, 1), (16, 3, 8, 5), (1, 1, 1, 1)).map { case (f, o, d, q) =>
        strict(audioFp(S, col("bin"), f, o, d, q), "bin")
      }),
    Fn(CharEntropyName, Seq("text" -> Str), args(text),
      Seq(strict(charEntropyStats(S, col("text")), "text"))),
    // a bloom buffer is never empty: BloomAgg writes mBits / 8 bytes
    Fn(BloomStats.ContainsName,
      Seq("bloom" -> Bin, "d" -> DoubleType, "s" -> Str, "k" -> IntegerType),
      args(randomBytes(1, 64), element.map(e => if (e == null) 1.0 else e), text,
        Gen.choose(0, 8)),
      Seq(strict(BloomStats.mightContain(S, col("bloom"), col("d"), col("k")),
          "bloom", "d", "k"),
        strict(BloomStats.mightContain(S, col("bloom"), col("s"), col("k")),
          "bloom", "s", "k"))))

  private def fn(name: String): Fn =
    fns.find(_.name == name).getOrElse(fail(s"no generator for $name"))

  // ---- evaluation ----

  private def session(factoryMode: String, wholeStage: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", factoryMode)
    s.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }

  private lazy val interpreted = session("NO_CODEGEN", wholeStage = false)
  private lazy val codegenOnly = session("CODEGEN_ONLY", wholeStage = true)

  private def frame(s: SparkSession, f: Fn, ids: Seq[Int],
      nullable: Boolean = true): DataFrame = {
    val schema = StructType(f.schema.map(x =>
      if (x.name == "id") x else x.copy(nullable = nullable)))
    GraftSqlSpecBridge.frame(s, ids.map(i =>
      new GenericInternalRow((i.toLong +: f.cases(i)).toArray)), schema, 2)
  }

  /** Values compared structurally: binary by content, doubles by bits. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case s: scala.collection.Seq[_] => s.map(norm)
    case r: Row => r.toSeq.map(norm)
    case other => other
  }

  private def results(df: DataFrame): Map[Int, Seq[Any]] =
    df.collect().map(r => r.getLong(0).toInt -> r.toSeq.tail.map(norm)).toMap

  private def nativeCalls(f: Fn): Seq[Column] = f.calls.map(_._1)

  private def describe(f: Fn, i: Int): String =
    s"${f.name} case $i (seed ${f.name.hashCode}): " + f.cases(i).map {
      case u: UTF8String => u.getBytes.map("%02x".format(_)).mkString("x'", "", "'")
      case b: Array[Byte] => s"binary[${b.length}]"
      case a: GenericArrayData => a.array.take(12).mkString("[", ", ", "]")
      case other => String.valueOf(other)
    }.mkString(", ")

  for (name <- GraftFunctions.kernels.map(_.name)) {
    test(s"$name: interpreted eval equals codegen-only, NULL in gives NULL out") {
      val f = fn(name)
      val all = f.cases.indices
      val df = frame(codegenOnly, f, all).select(col("id") +: nativeCalls(f): _*)
      // every call is a codegen'd expression inside a whole-stage project
      nativeCalls(f).foreach { c =>
        val e = GraftSqlBridge.expression(c)
        assert(e.find(_.isInstanceOf[CodegenFallback]).isEmpty, e)
      }
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case w: WholeStageCodegenExec => w }.exists(
        _.child.exists {
          case p: ProjectExec => p.projectList.exists(_.exists(_.prettyName == name))
          case _ => false
        }), plan)
      val viaInterp = frame(interpreted, f, all)
        .select(col("id") +: nativeCalls(f): _*)
      assert(viaInterp.queryExecution.executedPlan
        .collect { case w: WholeStageCodegenExec => w }.isEmpty)

      val cg = results(df)
      val interp = results(viaInterp)
      assert(cg.size == f.n && interp.size == f.n)
      all.foreach(i => assert(cg(i) == interp(i), describe(f, i)))

      // non-nullable inputs take the codegen path without null checks
      val dense = all.filter(i => !f.cases(i).contains(null))
      val cgDense = results(frame(codegenOnly, f, dense, nullable = false)
        .select(col("id") +: nativeCalls(f): _*))
      dense.foreach(i => assert(cgDense(i) == interp(i), describe(f, i)))

      val column = f.inputs.map(_._1).zipWithIndex.toMap
      var nullCases = 0
      all.foreach { i =>
        f.calls.zipWithIndex.foreach { case ((_, in), c) =>
          if (in.exists(n => f.cases(i)(column(n)) == null)) {
            nullCases += 1
            assert(cg(i)(c) == null, describe(f, i))
          }
        }
      }
      assert(nullCases > 0, s"$name: no NULL argument generated")
    }
  }

  // ---- native equals reference, over cases with no NULL argument ----

  /** (id, native, reference) over `f`'s NULL-free cases, one frame. */
  private def against(f: Fn, pairs: Seq[(Column, Column)],
      where: Column = lit(true)): Unit = {
    val ids = f.cases.indices.filter(i => !f.cases(i).contains(null))
    val out = frame(spark, f, ids).where(where)
      .select(col("id") +: pairs.flatMap { case (n, r) => Seq(n, r) }: _*)
      .collect()
    assert(out.length >= 200, s"${f.name}: only ${out.length} cases")
    out.foreach { r =>
      pairs.indices.foreach { p =>
        assert(norm(r.get(1 + 2 * p)) == norm(r.get(2 + 2 * p)),
          s"call $p: " + describe(f, r.getLong(0).toInt))
      }
    }
  }

  test("minhash equals the md5 HOF form, NULL elements and empty arrays included") {
    against(fn(MinHashName), Seq(1, 16).map(p =>
      minhashSig(S, col("toks"), p) -> SketchReferences.minhashSignature("toks", p)))
  }

  test("simhash equals the md5 HOF form, a NULL token counting as hash 0") {
    against(fn(SimHashName),
      Seq(simhash64(S, col("toks")) -> SketchReferences.simhash("toks")))
  }

  test("shingles equal the concat_ws HOF form on arrays of at least k tokens") {
    against(fn(ShinglesName), Seq(1, 2, 3).map { k =>
      val atLeastK = size(col("toks")) >= k
      when(atLeastK, shingles(S, col("toks"), k)) ->
        when(atLeastK, SketchReferences.shingles("toks", k))
    })
  }

  test("gram keys equal xxhash64(concat_ws('|', grp, gram)) over tokens → shingles") {
    against(fn(GramKeysName), Seq(1, 3).map { k =>
      gramKeys(S, col("grp"), col("text"), k) ->
        transform(shingles(S, TextAnalysis.tokens(col("text")), k),
          g => xxhash64(concat_ws("|", col("grp"), g)))
    })
  }

  test("md5 gram set equals the distinct md5(array_join(slice)) form") {
    against(fn(Md5GramSetName), Seq(1, 3).map { n =>
      val w = "filter(split(text, ' '), x -> x <> '')"
      transform(md5GramSet(S, col("text"), n), g => lower(hex(g))) ->
        expr(s"""CASE WHEN size($w) >= $n THEN array_distinct(transform(
          |  sequence(1, size($w) - ${n - 1}),
          |  i -> md5(array_join(slice($w, i, $n), ' ')))) ELSE array() END"""
          .stripMargin)
    })
  }

  test("window hashes equal the md5 + conv form in position order") {
    against(fn(WinHashesName), Seq(1, 3, 5).map { k =>
      winHashes(S, col("toks"), k) ->
        expr(s"""CASE WHEN size(toks) >= $k THEN transform(
          |  sequence(0, size(toks) - $k), i -> CAST(CONV(SUBSTRING(MD5(
          |    array_join(slice(toks, i + 1, $k), ' ')), 1, 15), 16, 10) AS BIGINT))
          |  ELSE CAST(array() AS array<bigint>) END""".stripMargin)
    })
  }

  test("hash-embed cells equal the per-token explode + groupBy fold") {
    val f = fn(HashEmbedCellsName)
    val ids = f.cases.indices.filter(i => !f.cases(i).contains(null))
    val docs = frame(spark, f, ids)
    for (dim <- Seq(1, 64)) {
      val ref = docs.select(col("id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .withColumn("h", expr("CAST(CONV(SUBSTRING(MD5(tok), 1, 15), 16, 10) AS BIGINT)"))
        .select(col("id"), pmod(col("h"), lit(dim)).cast("int").as("d"),
          expr("IF(((h >> 12) & 1) = 1, 1, -1)").as("sgn"))
        .groupBy("id", "d").agg(sum(col("sgn")).as("v"))
        .where(col("v") =!= 0)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
      val native = docs
        .select(col("id"), explode(hashEmbedCells(S, col("text"), dim)).as("c"))
        .select(col("id"), col("c.d"), col("c.v"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
      assert(ids.size >= 200 && native.toSeq == ref.toSeq, s"dim $dim")
    }
  }

  /** The vector forms agree where the HOF forms read the same
    * elements: no NULL element and, for pairs, equal lengths. Outside
    * that the two differ, an open contract question: the kernels read
    * a NULL element as 0.0 and stop at the shorter vector, where the
    * HOF forms give NULL. */
  private val denseVector = "NOT exists(v, x -> x IS NULL)"
  private val densePair = "size(a) = size(b) AND " +
    "NOT exists(a, x -> x IS NULL) AND NOT exists(b, x -> x IS NULL)"

  test("lsh bucket equals the HOF LCG form on non-empty vectors") {
    against(fn(LshName), Seq(1, 16, 63).map(p =>
      lshBucket(S, col("v"), p) -> graft.operators.Ann.lshBucket("v", p)),
      expr(s"size(v) > 0 AND $denseVector"))
  }

  test("cosine and dot are bit-identical to the zip_with/aggregate forms") {
    val f = fn(CosineName)
    against(f, Seq(
      cosine(S, col("a"), col("b")) -> SketchReferences.cosine(col("a"), col("b")),
      dot(S, col("a"), col("b")) -> SketchReferences.dot(col("a"), col("b"))),
      // ANSI division raises on a zero norm product, which the kernel
      // divides into NaN or an infinity
      expr(densePair) && SketchReferences.norm(col("a")) * SketchReferences.norm(col("b")) =!= 0)
  }

  test("pinned: NULL elements, NaN sums and invalid UTF-8 take the SQL forms' values") {
    val s = spark.newSession()
    GraftFunctions.register(s)
    def one(sql: String): Any = norm(s.sql(s"SELECT $sql").head().get(0))
    // NULL elements: skipped by minhash and shingles, hash 0 for simhash
    assert(one("graft_minhash_sig(array('a', NULL), 2)") ==
      one("graft_minhash_sig(array('a'), 2)"))
    assert(one("graft_minhash_sig(array(CAST(NULL AS STRING)), 1)") == Seq(null))
    assert(one("graft_shingles(array('a', NULL, '', 'b'), 2)") == Seq("a", "", " b"))
    assert(one("graft_simhash64(array(CAST(NULL AS STRING)))") == 0L)
    // a NaN projection sets the bit
    assert(one("graft_lsh_bucket(array(CAST('NaN' AS DOUBLE)), 3)") == 7L)
    // a lone surrogate (CESU-8 bytes) is U+FFFD to lower() and split()
    val bad = "CAST(X'EDA0802041' AS STRING)"
    assert(one(s"graft_gram_keys('', $bad, 1)") == one(
      s"transform(filter(split(lower($bad), ' '), t -> t <> ''), g -> xxhash64(g))"))
    assert(one(s"transform(graft_md5_gram_set($bad, 1), g -> lower(hex(g)))") ==
      one(s"transform(filter(split($bad, ' '), t -> t <> ''), g -> md5(g))"))
  }

  test("NULL contract: vector kernels read a NULL element as 0.0 and stop at the shorter vector") {
    val s = spark.newSession()
    GraftFunctions.register(s)
    def one(sql: String): Any = s.sql(s"SELECT $sql").head().get(0)
    assert(one("ROUND(graft_cosine(array(1.0d, NULL), array(1.0d, 2.0d)), 4)") == 0.4472)
    assert(one("graft_dot(array(1.0d, 2.0d, 3.0d), array(1.0d, 2.0d))") == 5.0)
    assert(one("graft_dot(array(1.0d, NULL), array(4.0d, 5.0d))") == 4.0)
    assert(one("graft_lsh_bucket(array(1.0d, NULL, -2.0d), 16)") ==
      one("graft_lsh_bucket(array(1.0d, 0.0d, -2.0d), 16)"))
    // only a NULL array gives NULL
    assert(one("graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d))") == null)
    assert(one("graft_cosine(array(1.0d), CAST(NULL AS ARRAY<DOUBLE>))") == null)
    assert(one("graft_lsh_bucket(CAST(NULL AS ARRAY<DOUBLE>), 4)") == null)
  }
}
