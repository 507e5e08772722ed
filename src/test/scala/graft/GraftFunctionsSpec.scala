package graft

import graft.functions.BloomStats
import graft.plans.{GraftExtensions, GraftFunctions}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlSpecBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.functions.col

/** The one name → builder table behind every native function: helpers
  * build expressions without touching the function registry, and the
  * SQL names (runtime `register`, or the `GraftExtensions` injection)
  * resolve to the same expressions. */
class GraftFunctionsSpec extends SparkSpec {

  /** (SQL name, helper column, SQL call) for every table entry. The SQL
    * call spells out what the helper adds (casts, the group-prefix
    * fold), so both build the same expression. */
  private def cases(s: SparkSession): Seq[(String, Column, String)] = {
    import GraftFunctions._
    Seq(
      (CosineName, cosine(s, col("v"), col("v")),
        "graft_cosine(CAST(v AS ARRAY<DOUBLE>), CAST(v AS ARRAY<DOUBLE>))"),
      (DotName, dot(s, col("v"), col("v")), "graft_dot(v, v)"),
      (MinHashName, minhashSig(s, col("toks"), 4), "graft_minhash_sig(toks, 4)"),
      (SimHashName, simhash64(s, col("toks")), "graft_simhash64(toks)"),
      (LshName, lshBucket(s, col("v"), 8),
        "graft_lsh_bucket(CAST(v AS ARRAY<DOUBLE>), 8)"),
      (ShinglesName, shingles(s, col("toks"), 2), "graft_shingles(toks, 2)"),
      (GramKeysName, gramKeys(s, col("grp"), col("text"), 2),
        "graft_gram_keys(CASE WHEN grp IS NULL THEN '' " +
          "ELSE concat(CAST(grp AS STRING), '|') END, text, 2)"),
      (Md5GramSetName, md5GramSet(s, col("text"), 2), "graft_md5_gram_set(text, 2)"),
      (WinHashesName, winHashes(s, col("toks"), 2), "graft_win_hashes(toks, 2)"),
      (HashEmbedCellsName, hashEmbedCells(s, col("text"), 8),
        "graft_hash_embed_cells(text, 8)"),
      (VecDigestName, vecDigest(s, col("v")),
        "graft_vec_digest(CAST(v AS ARRAY<DOUBLE>))"),
      (PHashName, phash60(s, col("bin")), "graft_phash60(bin)"),
      (DHashName, dhash60(s, col("bin")), "graft_dhash60(bin)"),
      (GrayDecodeName, grayDecode(s, col("bin")), "graft_gray_decode(bin)"),
      (PpmEncodeName, ppmEncode(s, col("bin")), "graft_ppm_encode(bin)"),
      (BmpEncodeName, bmpEncode(s, col("bin")), "graft_bmp_encode(bin)"),
      (JpegEncodeName, jpegEncode(s, col("bin")), "graft_jpeg_encode(bin)"),
      (NgramScoreName, ngramScore(s, col("text"), Seq(1L, -2L)),
        "graft_ngram_score(text, array(1L, -2L))"),
      (AudioFpName, audioFp(s, col("bin"), 4, 2, 3, 1),
        "graft_audio_fp(bin, 4, 2, 3, 1)"),
      (GramAggName, gramAgg(s, col("v")),
        "graft_gram_agg(CAST(v AS ARRAY<DOUBLE>))"),
      (CharEntropyName, charEntropyStats(s, col("text")), "graft_char_entropy(text)"),
      (BloomStats.AggName, BloomStats.agg(s, col("d"), 64, 3),
        "graft_bloom_agg(d, 64, 3)"),
      (BloomStats.ContainsName,
        BloomStats.mightContain(s, col("bloom"), col("d"), col("kk")),
        "graft_bloom_contains(bloom, d, kk)"))
  }

  private def input(s: SparkSession) = s.sql(
    """SELECT array(1.0d, 2.0d) AS v, array('a', 'b', 'c') AS toks,
      |  'the quick brown fox' AS text, 'g' AS grp, X'00010203' AS bin,
      |  1.5d AS d, X'0000000000000000' AS bloom, 3 AS kk""".stripMargin)

  /** The native expression a column or a plan holds. */
  private def native(e: Expression): Expression = e match {
    case a: AggregateExpression => a.aggregateFunction
    case other => other
  }

  private def registry(s: SparkSession) =
    s.sessionState.functionRegistry.listFunction().toSet

  test("the table covers 23 distinct names, one per helper") {
    val names = GraftFunctions.builders.map(_._1)
    assert(names.size == 23 && names.distinct == names)
    assert(cases(spark).map(_._1).toSet == names.toSet)
  }

  test("calling every helper leaves the function registry unchanged") {
    val s = spark.newSession()
    val before = registry(s)
    val df = input(s)
    cases(s).foreach { case (name, c, _) =>
      assert(df.select(c).queryExecution.analyzed.resolved, name)
    }
    assert(registry(s) == before)
  }

  test("register installs every name once; a second call changes nothing") {
    val s = spark.newSession()
    val before = registry(s)
    GraftFunctions.register(s)
    val after = registry(s).map(_.funcName) -- before.map(_.funcName)
    assert(after == GraftFunctions.builders.map(_._1).toSet)
    val once = registry(s)
    GraftFunctions.register(s)
    assert(registry(s) == once)
  }

  /** The native expression of a one-column frame's analyzed plan. */
  private def analyzedNative(df: DataFrame): Expression =
    df.queryExecution.analyzed.expressions.head match {
      case a: Alias => native(a.child)
      case e => native(e)
    }

  test("each SQL name builds the expression its helper builds") {
    val s = spark.newSession()
    GraftFunctions.register(s)
    val df = input(s)
    cases(s).foreach { case (name, c, sql) =>
      val viaHelper = analyzedNative(df.select(c))
      val viaSql = analyzedNative(df.selectExpr(sql))
      assert(viaHelper.prettyName == name, viaHelper)
      assert(viaHelper.semanticEquals(viaSql), s"$name:\n$viaHelper\n$viaSql")
    }
  }

  test("helpers name their columns as the per-function expressions did") {
    import GraftFunctions._
    val s = spark
    val df = input(s)
    val names = Seq(
      cosine(s, col("v"), col("v")) -> "graft_cosine(v, v)",
      dot(s, col("v"), col("v")) -> "graft_dot(v, v)",
      minhashSig(s, col("toks"), 4) -> "graft_minhash_sig(toks)",
      simhash64(s, col("toks")) -> "graft_simhash64(toks)",
      lshBucket(s, col("v"), 8) -> "graft_lsh_bucket(v)",
      shingles(s, col("toks"), 2) -> "graft_shingles(toks)",
      gramKeys(s, col("grp"), col("text"), 2) -> ("graft_gram_keys(CASE WHEN " +
        "(grp IS NULL) THEN  ELSE concat(CAST(grp AS STRING), |) END, text)"),
      md5GramSet(s, col("text"), 2) -> "graft_md5_gram_set(text)",
      winHashes(s, col("toks"), 2) -> "graft_win_hashes(toks)",
      hashEmbedCells(s, col("text"), 8) -> "graft_hash_embed_cells(text)",
      vecDigest(s, col("v")) -> "graft_vec_digest(v)",
      phash60(s, col("bin")) -> "graft_phash60(bin)",
      dhash60(s, col("bin")) -> "graft_dhash60(bin)",
      grayDecode(s, col("bin")) -> "graft_gray_decode(bin)",
      ppmEncode(s, col("bin")) -> "graft_ppm_encode(bin)",
      bmpEncode(s, col("bin")) -> "graft_bmp_encode(bin)",
      jpegEncode(s, col("bin")) -> "graft_jpeg_encode(bin)",
      ngramScore(s, col("text"), Seq(1L, -2L)) -> "graft_ngram_score(text)",
      audioFp(s, col("bin"), 4, 2, 3, 1) -> "graft_audio_fp(bin)",
      gramAgg(s, col("v")) -> "graft_gram_agg(v)",
      charEntropyStats(s, col("text")) -> "graft_char_entropy(text)",
      BloomStats.agg(s, col("d"), 64, 3) -> "graft_bloom_agg(d)",
      BloomStats.mightContain(s, col("bloom"), col("d"), col("kk")) ->
        "graft_bloom_contains(bloom, d, kk)")
    assert(names.size == GraftFunctions.builders.size)
    names.foreach { case (c, name) => assert(df.select(c).columns.toSeq == Seq(name)) }
    // plans print each call once, constants after the children
    assert(analyzedNative(df.select(audioFp(s, col("bin"), 4, 2, 3, 1)))
      .toString.matches("""graft_audio_fp\(bin#\d+, 4, 2, 3, 1\)"""))
  }

  test("two identical ngramScore calls are semanticEquals; other weights are not") {
    import GraftFunctions.ngramScore
    val df = input(spark)
    val w = Seq(3L, -1L, 4L)
    def score(ws: Seq[Long]) = analyzedNative(df.select(ngramScore(spark, col("text"), ws)))
    assert(score(w).semanticEquals(score(w.toList)))
    assert(!score(w).semanticEquals(score(Seq(3L, -1L, 5L))))
  }

  test("a wrong arity raises the builder's message") {
    GraftFunctions.builders.foreach { case (name, build) =>
      val e = intercept[IllegalArgumentException](build(Seq.empty))
      assert(e.getMessage.contains(s"$name expects"), e.getMessage)
    }
    val s = spark.newSession()
    GraftFunctions.register(s)
    val e = intercept[Exception](
      s.sql("SELECT graft_minhash_sig(array('a'))").queryExecution.analyzed)
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains(
      "graft_minhash_sig expects (array<string>, const int)")), e)
  }

  test("GraftExtensions injects every table entry") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    assert(GraftSqlSpecBridge.injectedFunctionNames(ext).toSet ==
      GraftFunctions.builders.map(_._1).toSet)
    assert(GraftFunctions.builders.size == 23)
  }
}
