package graft

import graft.functions.BloomStats
import graft.plans.{GraftExtensions, GraftFunctions}
import org.apache.spark.sql.{Column, GraftSqlBridge, GraftSqlSpecBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.functions.col

/** The one name → builder table behind every native function: helpers
  * build expressions without touching the function registry, and the
  * SQL names (runtime `register`, or the `GraftExtensions` injection)
  * resolve to the same expressions. */
class GraftFunctionsSpec extends SparkSpec {

  /** (SQL name, helper column, SQL call) for every table entry. */
  private def cases(s: SparkSession): Seq[(String, Column, String)] = {
    import GraftFunctions._
    Seq(
      (CosineName, cosine(s, col("v"), col("v")), "graft_cosine(v, v)"),
      (DotName, dot(s, col("v"), col("v")), "graft_dot(v, v)"),
      (MinHashName, minhashSig(s, col("toks"), 4), "graft_minhash_sig(toks, 4)"),
      (SimHashName, simhash64(s, col("toks")), "graft_simhash64(toks)"),
      (LshName, lshBucket(s, col("v"), 8), "graft_lsh_bucket(v, 8)"),
      (ShinglesName, shingles(s, col("toks"), 2), "graft_shingles(toks, 2)"),
      (GramKeysName, gramKeys(s, col("grp"), col("text"), 2),
        "graft_gram_keys(grp, text, 2)"),
      (Md5GramSetName, md5GramSet(s, col("text"), 2), "graft_md5_gram_set(text, 2)"),
      (WinHashesName, winHashes(s, col("toks"), 2), "graft_win_hashes(toks, 2)"),
      (HashEmbedCellsName, hashEmbedCells(s, col("text"), 8),
        "graft_hash_embed_cells(text, 8)"),
      (VecDigestName, vecDigest(s, col("v")), "graft_vec_digest(v)"),
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
      (GramAggName, gramAgg(s, col("v")), "graft_gram_agg(v)"),
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

  test("each SQL name resolves to the expression class its helper builds") {
    val s = spark.newSession()
    GraftFunctions.register(s)
    input(s).createOrReplaceTempView("graft_fn_input")
    cases(s).foreach { case (name, c, sql) =>
      val cls = native(GraftSqlBridge.expression(c)).getClass
      val plan = s.sql(s"SELECT $sql AS r FROM graft_fn_input")
        .queryExecution.analyzed
      assert(plan.expressions.exists(_.exists(native(_).getClass == cls)),
        s"$name: no ${cls.getSimpleName} in\n$plan")
    }
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
