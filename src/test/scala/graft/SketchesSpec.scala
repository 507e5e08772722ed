package graft

import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions

/** Native sketch expressions must reproduce the HOF reference forms
  * byte-for-byte — that equality is what keeps the DuckDB oracle valid. */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private def toks = Seq(
    Seq("the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog"),
    Seq("a", "b", "c"),
    Seq("solo", "pair", "trio", "quad")
  ).toDF("w")

  test("native minhash equals the HOF md5 formulation exactly") {
    val both = toks
      .select(SketchReferences.shingles("w", 3).as("sh"))
      .select(SketchReferences.minhashSignature("sh", 16).as("hof"),
        GraftFunctions.minhashSig(spark, col("sh"), 16).as("native"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }

  test("native simhash equals the HOF xxhash64 formulation exactly") {
    val both = toks
      .select(SketchReferences.simhash("w").as("hof"),
        GraftFunctions.simhash64(spark, col("w")).as("native"))
      .collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native gram-keys equal the tokens→shingles→concat_ws→xxhash64 chain exactly") {
    // multi-space runs, leading/trailing spaces, uppercase, non-ASCII,
    // repeated grams (dedup), a doc below the k-token floor, NULL group
    // and NULL text — every edge the SQL chain defines behavior for
    val docs = Seq(
      ("en", "The quick  brown FOX the quick brown fox"),
      ("en", "  a b  "),
      ("fr", "déjà vu déjà vu déjà"),
      (null.asInstanceOf[String], "x y z"),
      ("en", "single"),
      ("en", null.asInstanceOf[String])
    ).toDF("grp", "text")
    for (k <- Seq(2, 3)) {
      val ref = docs.select(col("grp"),
          graft.functions.TextAnalysis.tokens(col("text")).as("w"))
        .where(size(col("w")) >= k)
        .select(col("grp"),
          GraftFunctions.shingles(spark, col("w"), k).as("g"))
        .select(col("grp"), size(col("g")).as("n_g"),
          explode(col("g")).as("gram"))
        .select(col("grp"), col("n_g"),
          xxhash64(concat_ws("|", col("grp"), col("gram"))).as("gk"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      val native = docs.select(col("grp"),
          GraftFunctions.gramKeys(spark, col("grp"), col("text"), k).as("gh"))
        .where(size(col("gh")) >= 1)
        .select(col("grp"), size(col("gh")).as("n_g"),
          explode(col("gh")).as("gk"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      assert(native.sortBy(t => (Option(t._1).getOrElse(""), t._3)).toSeq ==
        ref.sortBy(t => (Option(t._1).getOrElse(""), t._3)).toSeq, s"k=$k")
    }
  }

  test("native md5 gram set equals the transform+md5 chain with per-doc distinct") {
    val docs = Seq(
      ("d1", "a b c a b c a b"),     // repeated grams → dedup
      ("d2", "  Mixed CASE  kept "), // NO lowercase in this form
      ("d3", "one two"),
      ("d4", "short"),               // below the 3-token floor
      ("d5", null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val n = 3
    val ref = docs
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x <> '')").as("w"))
      .where(size(col("w")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w) - ${n - 1}), " +
          s"i -> md5(array_join(slice(w, i, $n), ' ')))")).as("g"))
      .distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    val native = docs
      .select(col("doc_id"),
        explode(GraftFunctions.md5GramSet(spark, col("text"), n)).as("g"))
      .select(col("doc_id"), hex(col("g")).as("g"))
      .collect().map(r => (r.getString(0), r.getString(1).toLowerCase)).sorted
    assert(native.toSeq == ref.toSeq)
  }

  test("native window hashes equal the transform+md5+conv chain in position order") {
    val docs = Seq(
      ("d1", "The quick brown fox jumps over the lazy dog the quick brown fox"),
      ("d2", "a a a a a a"),
      ("d3", "just four tokens here")
    ).toDF("doc_id", "text")
    val k = 5
    def toks = graft.functions.TextAnalysis.tokens(col("text"))
    val ref = docs.select(col("doc_id"), toks.as("w"))
      .where(size(col("w")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(w) - $k), " +
          s"i -> array_join(slice(w, i + 1, $k), ' '))"))
        .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        expr("CAST(CONV(SUBSTRING(MD5(gram), 1, 15), 16, 10) AS BIGINT)")
          .as("gh"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sorted
    val native = docs.select(col("doc_id"), toks.as("w"))
      .where(size(col("w")) >= k)
      .select(col("doc_id"),
        posexplode(GraftFunctions.winHashes(spark, col("w"), k))
          .as(Seq("pos", "gh")))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sorted
    assert(native.toSeq == ref.toSeq)
  }

  test("native window hashes skip NULL tokens as array_join does") {
    val k = 3
    val arrays = spark.sql("""SELECT * FROM VALUES
      (1, array('a', NULL, 'b', 'c', NULL, 'd')),
      (2, array(NULL, NULL, NULL, 'x', 'y')),
      (3, array(CAST(NULL AS STRING), NULL, NULL)),
      (4, array('', NULL, 'ü', 'naïve', '', 'z')),
      (5, array('solo', NULL))
      AS t(id, w)""")
    val ref = arrays.where(size(col("w")) >= k)
      .select(col("id"), posexplode(expr(
        s"transform(sequence(0, size(w) - $k), " +
          s"i -> array_join(slice(w, i + 1, $k), ' '))"))
        .as(Seq("pos", "gram")))
      .select(col("id"), col("pos"),
        expr("CAST(CONV(SUBSTRING(MD5(gram), 1, 15), 16, 10) AS BIGINT)")
          .as("gh"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted
    val native = arrays.where(size(col("w")) >= k)
      .select(col("id"),
        posexplode(GraftFunctions.winHashes(spark, col("w"), k))
          .as(Seq("pos", "gh")))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted
    assert(ref.length == 4 + 3 + 1 + 4)
    assert(native.toSeq == ref.toSeq)
  }

  test("native hash-embed cells equal the per-token explode + groupBy fold") {
    val docs = Seq(
      ("d1", "the quick brown fox the quick sign flip sign flip"),
      ("d2", "Solo"),
      ("d3", ""),
      ("d4", null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val dim = 64
    val ref = docs.select(col("doc_id"),
        explode(graft.functions.TextAnalysis.tokens(col("text"))).as("tok"))
      .withColumn("h",
        expr("CAST(CONV(SUBSTRING(MD5(tok), 1, 15), 16, 10) AS BIGINT)"))
      .select(col("doc_id"), pmod(col("h"), lit(dim)).cast("int").as("dim"),
        expr("IF(((h >> 12) & 1) = 1, 1, -1)").as("sgn"))
      .groupBy("doc_id", "dim")
      .agg(sum(col("sgn")).as("v"))
      .where(col("v") =!= 0)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sorted
    val native = docs.select(col("doc_id"),
        explode(GraftFunctions.hashEmbedCells(spark, col("text"), dim)).as("c"))
      .select(col("doc_id"), col("c.d"), col("c.v"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sorted
    assert(native.toSeq == ref.toSeq)
  }

  test("native lsh bucket equals the HOF LCG formulation exactly") {
    val vecs = Seq(
      Seq(1.0, 0.0, 0.5, -0.25), Seq(-0.3, 0.7, 0.1, 0.9)
    ).toDF("x")
    val both = vecs.select(
      graft.operators.Ann.lshBucket("x").as("hof"),
      GraftFunctions.lshBucket(spark, col("x")).as("native")).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native sketches stay inside the codegen stage") {
    val arrs = spark.range(50)
      .selectExpr("array(cast(id as string), 'x', 'y', 'z') AS w")
    val plan = arrs.select(
      GraftFunctions.minhashSig(spark, col("w"), 4).as("sig"),
      GraftFunctions.simhash64(spark, col("w")).as("sh"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_minhash_sig") && plan.contains("graft_simhash64"), plan)
    assert(plan.contains("*(1)"), plan)
  }

  private val W = graft.plans.Sketches.lcgWeights(512).toIndexedSeq

  private def scoreOf(texts: String*): Seq[(Long, Long)] = {
    val df = texts.toDF("text")
    df.select(GraftFunctions.ngramScore(spark, col("text"), W).as("r"))
      .collect().map(r => {
        val a = r.getSeq[Long](0); (a(0), a(1))
      }).toSeq
  }

  test("ngram score: hand-computed trigram weights, exact integers") {
    def w(h: Long): Long = (h * 69069L + 362437L) % 2001L - 1000L
    def h3(a: Char, b: Char, c: Char): Long = (a * 961 + b * 31 + c) % 512
    val Seq((m1, n1)) = scoreOf("abc")
    assert(n1 == 1L && m1 == w(h3('a', 'b', 'c')))
    val Seq((m2, n2)) = scoreOf("abcd")
    assert(n2 == 2L && m2 == w(h3('a', 'b', 'c')) + w(h3('b', 'c', 'd')))
    // multiplicity counts: "abcabc" has 'abc' twice among its 4 grams
    val Seq((m3, n3)) = scoreOf("abcabc")
    assert(n3 == 4L && m3 == 2 * w(h3('a', 'b', 'c')) +
      w(h3('b', 'c', 'a')) + w(h3('c', 'a', 'b')))
  }

  test("ngram score: byte normalization matches the oracle's regex") {
    // uppercase folds, digits/punct/newlines drop, spaces survive
    assert(scoreOf("A!b,\nC d9") == scoreOf("abc d"))
    // multibyte UTF-8 drops out entirely (bytes >= 0x80)
    assert(scoreOf("aébc") == scoreOf("abc"))
    // under-length and empty normalized text -> [0, 0]
    assert(scoreOf("", "zz", "1234!?") == Seq((0L, 0L), (0L, 0L), (0L, 0L)))
  }

  test("ngram score: codegen'd plan, one kernel per row under CSE") {
    val df = spark.range(20).selectExpr("repeat('word ', id + 3) AS text")
    val sc = GraftFunctions.ngramScore(spark, col("text"), W)
    val out = df.select(sc.getItem(0).as("m"), sc.getItem(1).as("n"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("graft_ngram_score"), plan)
    assert(plan.contains("*(1)"), plan)
    // interpreted path agrees with codegen
    val rows = out.collect()
    val expected = df.collect().map { r =>
      val a = graft.plans.Sketches.ngramScoreMilli(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)),
        W.toArray)
      (a.getLong(0), a.getLong(1))
    }
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      expected.toSeq)
  }
}
