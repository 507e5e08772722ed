package graft

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog today", "en"),
    (1L, "the quick brown fox jumps over the lazy cat today", "en"),  // near-dup of 0
    (2L, "completely different text about spark query engines here", "en"),
    (3L, "the quick brown fox jumps over the lazy dog today", "en"),  // exact dup of 0
    (4L, "texto totalmente distinto sobre motores de consultas", "es")
  ).toDF("doc_id", "text", "lang")

  test("exact dedup groups identical texts under min id") {
    val out = Dedup.exact(corpus, "doc_id", "text").collect()
    assert(out.length == 4)
    val dupGroup = out.find(_.getLong(2) == 2L).get
    assert(dupGroup.getLong(1) == 0L) // keep_id is the min
  }

  test("minhash LSH finds planted near-dups, not unrelated docs") {
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L))) // exact dup: est 1.0
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 3L))) // near-dups
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash estimate is 1.0 for identical docs") {
    val est = Dedup.minhashPairs(corpus, "doc_id", "text")
      .where("doc_a = 0 AND doc_b = 3").head().getDouble(2)
    assert(est == 1.0)
  }

  test("simhash: identical docs hamming 0, near-dups closer than unrelated") {
    val sigs = Dedup.simhashSignatures(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(hamming(0L, 3L) == 0)                   // identical docs
    assert(hamming(0L, 1L) < hamming(0L, 2L))      // near-dup beats unrelated
    // banded pair join surfaces the exact-dup pair
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)))
  }

  test("ngram jaccard computes the exact value") {
    val out = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", "lang",
        n = 2, minJaccard = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((0L, 3L)) == 1.0)
    // docs 0/1 differ in 1 of 9 distinct bigrams: |A∩B|=7, |A∪B|=11
    assert(out((0L, 1L)) == math.rint(7.0 / 11.0 * 10000) / 10000)
    assert(!out.contains((0L, 2L)))
  }

  test("prefix-filtered jaccard equals the inverted-index result") {
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = norm(Dedup.ngramJaccardPairs(corpus, "doc_id", "text", "lang"))
    val b = norm(Dedup.ngramJaccardPairsPrefix(corpus, "doc_id", "text", "lang"))
    assert(a == b && a.nonEmpty)
    // and on real data
    val docs = Tables.documents(spark, sf0001)
    val a2 = norm(Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang"))
    val b2 = norm(Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", "lang"))
    assert(a2 == b2)
  }

  test("embedding cosine pairs above threshold only") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),   // close to 1
      (3L, Array(0.0f, 0.0f, 1.0f))    // orthogonal
    ).toDF("vec_id", "embedding")
    val out = Dedup.embeddingPairs(vecs, "vec_id", "embedding", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L)))
  }

  test("minhash hot bucket: N identical docs produce zero rep candidates") {
    // the classic corpus pathology — one boilerplate text duplicated en
    // masse. Pre-collapse means the band join sees ONE representative per
    // distinct text, so candidate pairs are bounded by distinct texts
    // (here: 3 texts -> at most 3 rep pairs), not by N².
    val n = 200
    val hot = (0L until n.toLong).map(i =>
      (i, "the quick brown fox jumps over the lazy dog today")) ++
      Seq((n + 0L, "the quick brown fox jumps over the lazy cat today"),
        (n + 1L, "completely different text about spark query engines"))
    val df = hot.toDF("doc_id", "text")
    val stages = Dedup.minhashStages(df, "doc_id", "text",
      shingleK = 3, perms = 16, bands = 4)
    assert(stages.reps.count() == 3)          // one rep per distinct text
    assert(stages.candidates.count() <= 3)    // never the ~20k of N²/2
    // and the full operator still reports every duplicate pair
    val pairs = Dedup.minhashPairs(df, "doc_id", "text")
    assert(pairs.where("est_jaccard = 1.0").count() == n.toLong * (n - 1) / 2)
  }

  test("embedding LSH plan is an equi-join, never a nested-loop product") {
    val vecs = (0L until 50L).map(i =>
      (i, Array.tabulate(8)(d => (((i * 31 + d * 7) % 13) - 6).toFloat)))
      .toDF("vec_id", "embedding")
    val plan = Dedup.embeddingPairs(vecs, "vec_id", "embedding", 0.3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop"))
    assert(!plan.contains("CartesianProduct"))
    // the exact verifier, by contrast, IS the nested-loop form
    val exact = Dedup.embeddingPairsExact(vecs, "vec_id", "embedding", 0.3)
      .queryExecution.executedPlan.toString
    assert(exact.contains("BroadcastNestedLoop") || exact.contains("CartesianProduct"))
  }

  test("embedding LSH recall on planted near-duplicates") {
    // planted pairs at cos ~0.99: band collision probability per band is
    // (1 - theta/pi)^bandBits, miss-all-4-bands odds ~1e-3 per pair —
    // deterministic here because the vectors are fixed.
    val rnd = new scala.util.Random(42)
    val base = Array.fill(32)(rnd.nextGaussian())
    val rows = (0 until 40).flatMap { i =>
      val v = Array.fill(32)(rnd.nextGaussian())
      val dup = v.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat)
      Seq((i * 2L, v.map(_.toFloat)), (i * 2L + 1L, dup))
    } :+ (1000L, base.map(_.toFloat))
    val df = rows.toDF("vec_id", "embedding")
    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.where("cos_sim >= 0.95").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Dedup.embeddingPairsExact(df, "vec_id", "embedding", 0.9))
    val lsh = pairSet(Dedup.embeddingPairs(df, "vec_id", "embedding", 0.9))
    assert(exact.nonEmpty)
    val recall = (lsh & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall over ${exact.size} true pairs")
  }

  test("duplicateClusters: transitive closure to canonical min ids") {
    import graft.operators.Dedup
    // two components: a 6-node chain (needs multiple propagation rounds)
    // and a triangle; node 100 is isolated (no pairs → no row)
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (20L, 21L), (21L, 22L), (20L, 22L)
    ).toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClusters(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 6L).forall(out(_) == 1L))
    assert((20L to 22L).forall(out(_) == 20L))
    assert(out.size == 9)
  }

  test("keepCanonical drops cluster losers, keeps unpaired docs") {
    import graft.operators.Dedup
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.duplicateClusters(pairs, "doc_a", "doc_b")
    val corpus = Seq((1L, "a"), (2L, "b"), (3L, "c"), (9L, "solo"))
      .toDF("doc_id", "text")
    val kept = Dedup.keepCanonical(corpus, "doc_id", clusters)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 9L))
  }

  test("ngram prefix maxDf guard: generous cap exact, tight cap sound") {
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val uncapped = norm(Dedup.ngramJaccardPairsPrefix(
      corpus, "doc_id", "text", "lang"))
    // a cap above every df changes nothing
    val generous = norm(Dedup.ngramJaccardPairsPrefix(
      corpus, "doc_id", "text", "lang", maxDf = Some(1000L)))
    assert(generous == uncapped)
    // a tight cap may drop pairs but never fabricates or mis-scores one:
    // survivors carry the exact verified jaccard
    val tight = norm(Dedup.ngramJaccardPairsPrefix(
      corpus, "doc_id", "text", "lang", maxDf = Some(2L)))
    assert(tight.keySet.subsetOf(uncapped.keySet))
    tight.foreach { case (k, v) => assert(v == uncapped(k)) }
  }

  test("ngram pair packing is type-safe: int ids beyond 2^11 stay exact") {
    import spark.implicits._
    // IntegerType ids past the 20-bit shift boundary: without the
    // explicit long cast, shiftleft wraps in int space and pairs garble
    val base = "alpha beta gamma delta"
    val corpus = Seq(
      (100000, "en", base), (200000, "en", base + " extra"),
      (300000, "en", "unrelated words entirely here")
    ).toDF("doc_id", "lang", "text")
    val out = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", "lang",
        n = 2, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((100000L, 200000L)))
  }

  test("pack: the guard names its caller; in-range keys round-trip through packHi/packLo") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def packed(rows: Seq[(java.lang.Long, Long)]) = rows.toDF("id", "lo")
      .select(Dedup.pack(col("id"), col("lo"), "packSpec: id/lo").as("k"))
      .select(col("k"), Dedup.packHi(col("k")), Dedup.packLo(col("k")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    Seq[(java.lang.Long, Long)]((null, 0L), (-1L, 0L), (1L << 43, 0L),
        (5L, 1L << 20)).foreach { bad =>
      val ex = intercept[Exception](packed(Seq(bad)))
      assert(ex.getMessage.contains("packSpec: id/lo out of packable range"),
        s"$bad: ${ex.getMessage}")
    }
    val good = for {
      id <- Seq(0L, 1L, 2047L, 123456789L, (1L << 43) - 1)
      lo <- Seq(0L, 1L, (1L << 20) - 1)
    } yield (id, lo)
    val keys = packed(good.map { case (id, lo) => (Long.box(id), lo) })
    assert(keys.map(k => (k._2, k._3)).toSeq == good)
    // the key orders like (id, lo)
    assert(keys.map(_._1).toSeq.sorted == keys.map(_._1).toSeq)
  }

  test("pack guard: every packing operator raises on an unpackable id, naming itself") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog"
    def docs(id: java.lang.Long) = Seq[(java.lang.Long, String, String)](
      (1L, text, "en"), (id, text, "en")).toDF("doc_id", "text", "lang")
    def raises(what: String)(run: => Any): Unit = {
      val ex = intercept[Exception](run)
      assert(ex.getMessage.contains(s"$what out of packable range"), ex.getMessage)
    }
    raises("ngramJaccardPairs: id/n_g")(Dedup.ngramJaccardPairs(docs(-1L),
      "doc_id", "text", "lang").collect())
    raises("ngramJaccardPairsPrefix: id/n_g")(Dedup.ngramJaccardPairsPrefix(
      docs(1L << 43), "doc_id", "text", "lang").collect())
    raises("ngramContainmentPairs: id/n_g")(Dedup.ngramContainmentPairs(
      docs(null), "doc_id", "text", "lang").collect())
    raises("ngramContainmentPairsPrefix: id/n_g")(
      Dedup.ngramContainmentPairsPrefix(docs(-1L), "doc_id", "text", "lang")
        .collect())
    raises("chunkDupPairs: doc_id/chunk_idx")(Dedup.chunkDupPairs(docs(-1L),
      "doc_id", "text").collect())
    val media = graft.operators.Multimodal.attachBinary(
      Seq((1L, text), (-1L, text)).toDF("doc_id", "text"), "doc_id", "text")
    raises("frameNearDupPairs: id/frame_idx")(
      graft.operators.Multimodal.frameNearDupPairs(media).collect())
  }

  test("four n-gram pair forms equal an in-memory set computation; capped runs are sound") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test}
    // a tiny mixed-case vocabulary (the forms lowercase) makes shared and
    // repeated tokens, equal gram-set sizes and exact ratio boundaries
    // common; a group's copies are identical docs (jac = C = 1.0, the
    // size ratio exactly 1); texts below n tokens yield no grams
    val text = for {
      k <- Gen.choose(0, 6)
      ws <- Gen.listOfN(k, Gen.oneOf("a", "b", "c", "d", "A", "e"))
      sep <- Gen.oneOf(" ", "  ")
    } yield ws.mkString(sep)
    val group = for {
      texts <- Gen.choose(2, 5).flatMap(Gen.listOfN(_, text))
      copies <- Gen.someOf(texts)
    } yield texts ++ copies
    // pairs never cross groups, so one run checks 12 independent corpora
    // of 2-4 groups each, stacked under distinct group names
    val stacked = for {
      corpora <- Gen.listOfN(12, Gen.choose(2, 4).flatMap(Gen.listOfN(_, group)))
      seed <- Gen.long
    } yield {
      val rows = for {
        (groups, c) <- corpora.zipWithIndex
        (texts, g) <- groups.zipWithIndex
        t <- texts
      } yield (s"c$c-g$g", t)
      // unique ids spread over the whole packable range, in random order
      val rnd = new scala.util.Random(seed)
      val ids = Iterator.continually(rnd.nextLong() & ((1L << 43) - 1))
        .distinct.take(rows.size - 1).toSeq :+ ((1L << 43) - 1)
      rnd.shuffle(ids).zip(rows).map { case (id, (grp, t)) => (id, grp, t) }
    }
    def grams(t: String, n: Int): Set[String] = {
      val w = t.toLowerCase.split(" ").filter(_.nonEmpty)
      if (w.length < n) Set.empty else w.sliding(n).map(_.mkString(" ")).toSet
    }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def same(label: String, got: Set[(Long, Long, Double)],
        want: Set[(Long, Long, Double)]): Prop =
      Prop(got == want) :| s"$label: missing ${want -- got}, extra ${got -- want}"
    // exact boundaries: at t = 0.5 a 1-of-2 or 2-of-4 overlap, at 0.75
    // 3-of-4, at 1.0 identical gram sets
    for ((n, t) <- Seq((2, 0.5), (3, 0.5), (2, 1.0), (3, 0.75))) {
      val prop = Prop.forAllNoShrink(stacked) { docs =>
        val g = docs.map { case (id, grp, txt) => (id, grp, grams(txt, n)) }
          .filter(_._3.nonEmpty)
        val overlaps = for {
          (a, ga, sa) <- g; (b, gb, sb) <- g
          if ga == gb && a != b && (sa & sb).nonEmpty
        } yield (a, b, (sa & sb).size, sa.size, sb.size)
        val jac = overlaps.collect { case (a, b, i, na, nb)
          if a < b && i.toDouble / (na + nb - i) >= t =>
            (a, b, r4(i.toDouble / (na + nb - i))) }.toSet
        val con = overlaps.collect { case (a, b, i, na, _)
          if i.toDouble / na >= t => (a, b, r4(i.toDouble / na)) }.toSet
        val df = docs.toDF("doc_id", "lang", "text")
        val cappedJ = rows(Dedup.ngramJaccardPairsPrefix(df, "doc_id", "text",
          "lang", n, t, maxDf = Some(2L)))
        val cappedC = rows(Dedup.ngramContainmentPairsPrefix(df, "doc_id",
          "text", "lang", n, t, maxDf = Some(2L)))
        same("jaccard", rows(Dedup.ngramJaccardPairs(df, "doc_id", "text",
            "lang", n, t)), jac) &&
          same("jaccard prefix", rows(Dedup.ngramJaccardPairsPrefix(df,
            "doc_id", "text", "lang", n, t)), jac) &&
          same("containment", rows(Dedup.ngramContainmentPairs(df, "doc_id",
            "text", "lang", n, t)), con) &&
          same("containment prefix", rows(Dedup.ngramContainmentPairsPrefix(df,
            "doc_id", "text", "lang", n, t)), con) &&
          Prop(cappedJ.subsetOf(jac)) :| s"capped jaccard extra ${cappedJ -- jac}" &&
          Prop(cappedC.subsetOf(con)) :| s"capped containment extra ${cappedC -- con}"
      }
      val result = Test.check(
        Test.Parameters.default.withMinSuccessfulTests(1).withWorkers(1), prop)
      assert(result.passed,
        s"n=$n t=$t: " + org.scalacheck.util.Pretty.pretty(result))
    }
  }

  test("deltaMinhash crosses sides only and agrees with the full pairing") {
    import spark.implicits._
    val mk = (id: Long, base: String) => (id, base)
    val existing = Seq(
      mk(1L, "the quick brown fox jumps over the lazy dog"),
      mk(2L, "completely unrelated text about spark joins here"),
      mk(3L, "another corpus document with its own words entirely")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      mk(10L, "the quick brown fox jumps over the lazy dog"),   // dup of 1
      mk(11L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
      mk(12L, "fresh text sharing nothing with the corpus docs"),
      mk(13L, "the quick brown fox jumps over the lazy dog")    // dup of 1 AND 10
    ).toDF("doc_id", "text")
    val out = Dedup.deltaMinhash(existing, fresh, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every hit is fresh → existing; fresh×fresh (10,13) must NOT appear
    assert(out.forall { case (a, b, _) => a >= 10L && b < 10L })
    assert(out.count { case (a, b, _) => (a == 10L || a == 13L) && b == 1L } == 2)
    assert(out.forall { case (a, _, est) => est >= 4 / 16.0 })
    // exact dups carry a full-agreement estimate
    assert(out.filter(t => t._1 == 10L && t._2 == 1L).head._3 == 1.0)
    // agreement with minhashPairs on the union, restricted to cross pairs
    val full = Dedup.minhashPairs(existing.unionByName(fresh), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a < 10L) != (b < 10L) }
      .map { case (a, b, e) => (math.max(a, b), math.min(a, b), e) }.toSet
    assert(out.toSet == full)
  }

  test("DedupIndex: probe equals deltaMinhash; only touched buckets read") {
    import spark.implicits._
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated text about spark joins here"),
      (3L, "another corpus document with its own words entirely")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox jumps over the lazy cat"),
      (12L, "fresh text sharing nothing with the corpus docs"),
      (13L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft-dedup-idx").toString + "/idx"
    graft.operators.DedupIndex.buildMinhash(existing, "doc_id", "text", root)
    val probe = graft.operators.DedupIndex
      .probeMinhash(spark, root, fresh, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val adhoc = Dedup.deltaMinhash(existing, fresh, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probe == adhoc, "index probe diverged from the ad-hoc probe")
    // the index is partitioned by band-hash bucket on disk
    val dirs = new java.io.File(root).listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("graft_ib=")))
    // and the probe plan PRUNES those buckets: the index scan carries a
    // partition filter on the batch's touched bucket set
    val plan = graft.operators.DedupIndex
      .probeMinhash(spark, root, fresh, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cast(graft_ib") ||
      plan.contains("PartitionFilters: [graft_ib"), plan.take(600))
    // a probe of unrelated text still returns cleanly (possibly empty)
    val none = graft.operators.DedupIndex.probeMinhash(spark, root,
      Seq((99L, "zzz yyy xxx www vvv uuu")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(none.columns.toSeq ==
      Seq("doc_id", "dup_of", "est_jaccard"))
  }

  test("DedupIndex lifecycle: additive append, layout-only compact, torn-swap repair") {
    import spark.implicits._
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated text about spark joins here")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (3L, "another corpus document with its own words entirely")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "another corpus document with its own words entirely")
    ).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft-dedup-idxu").toString + "/idx"
    graft.operators.DedupIndex.buildMinhash(base, "doc_id", "text", root)
    // append is purely ADDITIVE: every pre-append posting file survives
    // byte-identical (name + length), only new files appear
    def files() = {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      val out = scala.collection.mutable.Map[String, Long]()
      while (it.hasNext) {
        val st = it.next()
        if (!st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          out += st.getPath.toString -> st.getLen
      }
      out.toMap
    }
    val before = files()
    graft.operators.DedupIndex.appendMinhash(spark, root, delta,
      "doc_id", "text")
    val after = files()
    assert(before.forall { case (p, len) => after.get(p).contains(len) },
      "append rewrote an existing posting file")
    assert(after.size > before.size)
    // probe over base ∪ delta equals the from-scratch probe
    def probe() = graft.operators.DedupIndex
      .probeMinhash(spark, root, fresh, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = Dedup.deltaMinhash(base.unionByName(delta), fresh,
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probe() == want && want.nonEmpty)
    // compact: file count drops to one per bucket, probe invariant
    val (nb, na) = graft.operators.DedupIndex.compactMinhash(spark, root)
    assert(na < nb, s"no file-count drop: $nb -> $na")
    val buckets = spark.read.parquet(root)
      .select("graft_ib").distinct().count().toInt
    assert(na == buckets, s"expected one file per bucket ($buckets), got $na")
    assert(probe() == want)
    // torn swap (crash between the two renames): root gone, _old holds
    // the data — the next probe repairs and answers identically
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.rename(new org.apache.hadoop.fs.Path(root),
      new org.apache.hadoop.fs.Path(s"${root}_old")))
    assert(probe() == want)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root)))
  }

  test("semantic dedup end-to-end: pairs → CC → min-id survivors") {
    // two identical pairs (guaranteed LSH collisions, cos 1.0) and one
    // unpaired vector: survivors are each pair's min id + the loner
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (5L, Array(0.0f, 1.0f)), (9L, Array(0.0f, 1.0f)),
      (7L, Array(-1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val clusters = Dedup.duplicateClusters(
      Dedup.embeddingPairs(vecs, "vec_id", "embedding", minCosine = 0.9),
      "id_a", "id_b")
    val kept = Dedup.keepCanonical(vecs, "vec_id", clusters)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L, 7L))
  }

  test("simhash hot bucket: banding is rep-collapsed under 100x duplication") {
    // a text duplicated N times contributes ONE row per band bucket —
    // candidate pairs stay bounded by distinct texts, never N²/2
    val n = 100
    val rows = (0 until n).flatMap(i => Seq(
      (i * 2 + 0L, "mass duplicated boilerplate text block shared across the crawl"),
      (i * 2 + 1L, "the quick brown fox jumps over the lazy dog today"))) :+
      ((9999L, "one unique little document unlike any other in this corpus"))
    val df = rows.toDF("doc_id", "text")
    val st = Dedup.simhashStages(df, "doc_id", "text", maxHamming = 12)
    assert(st.reps.count() == 3)    // one rep per distinct text
    assert(st.gidPairs.count() <= 3) // bounded by distinct-text pairs
    // the expanded contract still reports every exact-dup pair
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 12)
    assert(pairs.where("hamming = 0").count() >= 2L * n * (n - 1) / 2)
  }

  test("gid-level clusters equal member-expanded clusters (simhash/minhash/embedding)") {
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = Tables.documents(spark, sf0001)
    // simhash: gid-level CC + one membership join == doc-level CC
    val simExpanded = Dedup.duplicateClusters(
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 12),
      "doc_a", "doc_b")
    assert(norm(Dedup.simhashClusters(docs, "doc_id", "text", maxHamming = 12))
      == norm(simExpanded))
    // minhash
    val mhExpanded = Dedup.duplicateClusters(
      Dedup.minhashPairs(docs, "doc_id", "text"), "doc_a", "doc_b")
    assert(norm(Dedup.minhashClusters(docs, "doc_id", "text"))
      == norm(mhExpanded))
    // embedding (with planted exact-duplicate vectors)
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(1.0f, 0.05f)), (5L, Array(0.0f, 1.0f)),
      (9L, Array(0.0f, 1.0f)), (7L, Array(-1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val emExpanded = Dedup.duplicateClusters(
      Dedup.embeddingPairs(vecs, "vec_id", "embedding", minCosine = 0.9),
      "id_a", "id_b")
    assert(norm(Dedup.embeddingClusters(vecs, "vec_id", "embedding",
      minCosine = 0.9)) == norm(emExpanded))
  }

  test("embedding stages rep-collapse duplicated vectors before banding") {
    val n = 100
    val dupVec = Array(0.5f, 1.0f, -0.25f)
    val rows = (0L until n.toLong).map(i => (i, dupVec)) :+
      ((999L, Array(1.0f, 0.0f, 0.0f)))
    val df = rows.toDF("vec_id", "embedding")
    val st = Dedup.embeddingStages(df, "vec_id", "embedding",
      minCosine = 0.3, bands = 4, bandBits = 8)
    assert(st.reps.count() == 2)   // one rep per distinct vector VALUE
    // gid pairs carry no member expansion: at most 1 cross pair here
    assert(st.gidPairs.count() <= 1)
    // while the expanded API still reports all N²/2 exact-dup pairs
    assert(Dedup.embeddingPairs(df, "vec_id", "embedding", 0.99)
      .where("cos_sim >= 0.999").count() == n.toLong * (n - 1) / 2)
    // and gid-level pairs API agrees with membership expansion
    val gidPairs = Dedup.embeddingPairsByGroup(df, "vec_id", "embedding", 0.3)
    assert(gidPairs.count() == st.gidPairs.count())
  }

  test("containment: embedded doc found at 1.0, Jaccard misses it") {
    // doc 2's bigrams are a strict subset of doc 1's much larger set
    val big = (1 to 40).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, big, "en"),
      (2L, "w10 w11 w12 w13", "en"),  // 3 bigrams, all inside doc 1
      (3L, "zz yy xx", "en")          // unrelated
    ).toDF("doc_id", "text", "lang")
    val cont = Dedup.ngramContainmentPairs(df, "doc_id", "text", "lang",
        n = 2, minContainment = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cont.contains((2L, 1L, 1.0)))          // 2 fully inside 1
    assert(!cont.exists(t => t._1 == 1L))          // 1 not inside 2
    assert(!cont.exists(t => t._1 == 3L || t._2 == 3L))
    // the symmetric form misses the pair entirely at any usable cutoff
    val jac = Dedup.ngramJaccardPairs(df, "doc_id", "text", "lang",
      n = 2, minJaccard = 0.3).collect()
    assert(jac.isEmpty)
  }

  test("containment prefix form: lossless equality with the inverted-index form") {
    // the PPJoin prefix prune must stay lossless for C >= t — a fully-
    // contained SMALL doc (the worst case for any size-based cut) and
    // every boundary shape on the sf fixture must survive
    val big = (1 to 40).map(i => s"w$i").mkString(" ")
    val fixture = Seq(
      (1L, big, "en"),
      (2L, "w10 w11 w12 w13", "en"),   // strict subset of doc 1
      (3L, "zz yy xx", "en"),
      (4L, big + " extra tail", "en"), // near-superset of doc 1
      (5L, "w10 w11 w12 w13", "fr")    // same text, other group
    ).toDF("doc_id", "text", "lang")
    def run(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      f(fixture).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = run(Dedup.ngramContainmentPairs(_, "doc_id", "text", "lang",
      n = 2, minContainment = 0.8))
    val pref = run(Dedup.ngramContainmentPairsPrefix(_, "doc_id", "text",
      "lang", n = 2, minContainment = 0.8))
    assert(pref == plain)
    assert(pref.contains((2L, 1L, 1.0)), "fully-contained small doc must pair")
    // and on real corpus text at both a tight and a loose threshold
    val docs = Tables.documents(spark, sf0001)
    Seq(0.8, 0.5).foreach { t =>
      val a = Dedup.ngramContainmentPairs(docs, "doc_id", "text", "lang",
        n = 2, minContainment = t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val b = Dedup.ngramContainmentPairsPrefix(docs, "doc_id", "text",
        "lang", n = 2, minContainment = t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(a == b, s"prefix form diverged at t=$t")
    }
    // maxDf cap: found pairs still carry TRUE containment values
    val capped = run(Dedup.ngramContainmentPairsPrefix(_, "doc_id", "text",
      "lang", n = 2, minContainment = 0.8, maxDf = Some(2L)))
    assert(capped.subsetOf(plain))
  }

  test("deltaEmbedding crosses sides only and agrees with exact cross pairs") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (10L, Array(1.0f, 0.0f, 0.0f)),   // fresh: dup of corpus 1
      (11L, Array(1.0f, 0.02f, 0.0f)),  // fresh: near-dup of 1 and 2
      (12L, Array(0.0f, 0.0f, 1.0f))    // fresh: novel
    ).toDF("vec_id", "embedding")
    val corpus = vecs.where("vec_id < 10")
    val fresh = vecs.where("vec_id >= 10")
    val out = Dedup.deltaEmbedding(corpus, fresh, "vec_id", "embedding",
        minCosine = 0.9, bands = 4, bandBits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // strictly cross-side: fresh ids left, corpus ids right
    assert(out.forall { case (f, c, _) => f >= 10L && c < 10L })
    // the exact duplicate must surface at cos 1.0 (same LSH buckets)
    assert(out.exists { case (f, c, cos) => f == 10L && c == 1L && cos == 1.0 })
    // novel vector pairs with nothing above the threshold
    assert(!out.exists(_._1 == 12L))
  }

  test("duplicateClusters: string ids give the clusters of the same integral graph") {
    // the same graph with integral and with string ids: string ids are
    // numbered first, and each cluster takes its min string id
    val pairsL = Seq((1L, 2L), (2L, 3L), (4L, 5L), (7L, 7L))
      .toDF("doc_a", "doc_b")
    val pairsS = Seq(("1", "2"), ("2", "3"), ("4", "5"), ("7", "7"))
      .toDF("doc_a", "doc_b")
    val viaContract = Dedup.duplicateClusters(pairsL, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0).toString, r.getLong(1).toString)).toSet
    val viaPropagate = Dedup.duplicateClusters(pairsS, "doc_a", "doc_b")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(viaContract == viaPropagate)
    assert(viaContract == Set(("1","1"), ("2","1"), ("3","1"),
      ("4","4"), ("5","4"), ("7","7")))
    // a 120-node chain over shuffled string ids: pointer-jumping
    // propagation alone needed more than the default 25 rounds here
    val ids = new scala.util.Random(3).shuffle((1000 until 1120).toList)
    val chain = ids.zip(ids.tail).map { case (a, b) => (a.toString, b.toString) }
    val labels = Dedup.duplicateClusters(chain.toDF("doc_a", "doc_b"),
        "doc_a", "doc_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels == ids.map(i => i.toString -> "1000").toMap)
  }

  test("duplicateClusters: contraction is partition-count independent on a long chain") {
    // a 40-node chain forces cross-partition structure at any split
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    def labels(df: org.apache.spark.sql.DataFrame) =
      Dedup.duplicateClusters(df, "doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = labels(chain)
    val b = labels(chain.repartition(13))
    assert(a == b)
    assert(a.forall(_._2 == 1L)) // one component, min id 1
    assert(a.size == 40)
    // a 20-edge budget splits the 78 directed edges over 4 partitions:
    // per-partition contraction, star rebuild and propagation rounds
    val budget = 20L
    assert(Dedup.edgePartitions(spark, 78L, budget) >= 3)
    val (multi, multiJobs) = jobsOf(
      Dedup.duplicateClusters(chain.repartition(13), "doc_a", "doc_b", 25,
        budget))
    info(s"$multiJobs Spark jobs over " +
      s"${Dedup.edgePartitions(spark, 78L, budget)} partitions")
    assert(multiJobs > maxSinglePartitionJobs) // the propagation rounds ran
    assert(multi.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == a)
  }

  /** (result, Spark jobs it ran) of `body`, counted by a listener under
    * a job group of its own. */
  private def jobsOf(body: => org.apache.spark.sql.DataFrame) = {
    val sc = spark.sparkContext
    val group = s"dedup-spec-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsOf")
    try {
      val out = body
      org.apache.spark.GraftSpecBridge.drainListeners(spark)
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private val maxSinglePartitionJobs = 5

  test("duplicateClusters: a graph in one partition runs at most 5 Spark jobs") {
    // 300 edges, well under one partition's budget: the union-find over
    // the single partition is the whole answer, no propagation rounds
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(300)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
    val (out, nJobs) = jobsOf(
      Dedup.duplicateClusters(pairs.toDF("doc_a", "doc_b"), "doc_a", "doc_b"))
    info(s"$nJobs Spark jobs")
    assert(nJobs <= maxSinglePartitionJobs, s"$nJobs jobs")
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == DedupSpec.components(pairs))
  }

  test("duplicateClusters: integral ids equal an in-memory union-find and the string-id path") {
    import org.scalacheck.{Gen, Prop, Test}
    val id = Gen.choose(0L, 300L)
    // random edges (self-loops when both ends agree), explicit self-loops,
    // a long chain over shuffled ids, then duplicates and reversed copies
    val genPairs = for {
      random <- Gen.listOf(Gen.zip(id, id))
      loops <- Gen.listOf(id.map(n => (n, n)))
      chainIds <- Gen.choose(0, 60).flatMap(Gen.listOfN(_, id))
      seed <- Gen.long
    } yield {
      val base = random ++ loops ++ chainIds.zip(chainIds.drop(1))
      val rnd = new scala.util.Random(seed)
      val dups = base.filter(_ => rnd.nextInt(4) == 0)
      val flipped = base.filter(_ => rnd.nextInt(4) == 0).map(_.swap)
      rnd.shuffle(base ++ dups ++ flipped)
    }
    val prop = Prop.forAllNoShrink(genPairs) { pairs =>
      val want = DedupSpec.components(pairs)
      val got = Dedup.duplicateClusters(pairs.toDF("doc_a", "doc_b"),
          "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaStrings = Dedup.duplicateClusters(
          pairs.map { case (a, b) => (f"$a%04d", f"$b%04d") }
            .toDF("doc_a", "doc_b"), "doc_a", "doc_b")
        .collect().map(r => r.getString(0).toLong -> r.getString(1).toLong)
        .toMap
      got == want && viaStrings == want
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(20).withWorkers(1), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("dedup_eval: hits bound both sides; exact dups are always found") {
    import spark.implicits._
    // 2 exact-dup pairs (Jaccard 1.0 — minhash MUST catch them) plus
    // unrelated docs; all same language
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en"),
      (2L, "alpha beta gamma delta epsilon zeta", "en"),
      (3L, "one two three four five six seven", "en"),
      (4L, "one two three four five six seven", "en"),
      (5L, "completely different words here entirely now", "en"),
      (6L, "nothing shared with any other doc text", "en")
    ).toDF("doc_id", "text", "lang")
    val cand = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleK = 3, perms = 16, bands = 4, minMatches = 4)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang",
      n = 3, minJaccard = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth == Set((1L, 2L), (3L, 4L)))
    // identical shingle sets → identical signatures → all bands match
    assert(truth.subsetOf(cand), s"minhash missed exact dups: $cand")
    val hits = cand.intersect(truth)
    assert(hits.size <= cand.size && hits.size <= truth.size)
  }

  test("dedup_report reconciles with the kept corpus") {
    val docs = Tables.documents(spark, sf0001)
    val report = SparkEntry.queries("dedup_report")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    report.values.foreach { case (n, k, d) => assert(n == k + d && k >= 1) }
    val totalKept = report.values.map(_._2).sum
    assert(totalKept ==
      SparkEntry.queries("dedup_keep")(spark, sf0001).count())
    assert(report.values.map(_._1).sum == docs.count())
  }

  test("minhashVerifiedPairs: exact Jaccard on candidates, confirm rule") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four five six"),
      (2L, "one two three four five six"),          // exact dup of 1
      (3L, "one two three four five seven"),        // near-dup of 1
      (4L, "totally different text goes right here")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashVerifiedPairs(docs, "doc_id", "text",
      shingleK = 3, perms = 16, bands = 4, minMatches = 4,
      minJaccard = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getBoolean(4))).toMap
    // exact dup: est = exact = 1.0, confirmed
    assert(out((1L, 2L)) == ((1.0, 1.0, true)))
    // the near-dup pair, if banded together, verifies to the true
    // Jaccard: shingles(1) = 4, shingles(3) = 4, shared = 3 → 3/5
    out.get((1L, 3L)).foreach { case (_, exact, confirmed) =>
      assert(exact == 0.6 && confirmed)
    }
    // every confirmed flag equals the exact-jaccard threshold rule
    assert(out.values.forall { case (_, ex, c) => c == (ex >= 0.5) })
    // doc 4 shares no shingles — it never verifies as confirmed
    assert(!out.exists { case (p, v) => (p._1 == 4L || p._2 == 4L) && v._3 })
  }

  // substringDedup behavioral contracts (Lee et al. 2022 ExactSubstr):
  // the oracle gate pins end-to-end bytes at one fixture; these pin the
  // semantics against refactors on hand-built cases.
  private val substrCorpus = Seq(
    (1L, "alpha beta gamma delta epsilon"),                          // quoted source
    (2L, "intro words here alpha beta gamma delta epsilon closing words"), // quotes doc 1
    (3L, "x1 x2 x3 mid x1 x2 x3"),                                   // within-doc repeat
    (4L, "tiny doc"),                                                // shorter than k
    (5L, "unrelated content entirely separate tokens")               // no dup spans
  )

  private def substrOut(parts: Int) = {
    import spark.implicits._
    Dedup.substringDedup(
        substrCorpus.toDF("doc_id", "text").repartition(parts),
        "doc_id", "text", k = 3)
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3)))
      .toMap
  }

  test("substringDedup: a doc quoting another loses exactly the quote, both sides excised") {
    val out = substrOut(4)
    // every 3-window of doc 1 also appears in doc 2 → the whole doc is
    // one duplicated span; the paper removes ALL occurrences, so the
    // quoted source goes empty too
    assert(out(1L) == ((5, 5, "")))
    // doc 2 loses only the 5-token quote; its own framing text — whose
    // windows occur once — survives byte-for-byte
    assert(out(2L) == ((10, 5, "intro words here closing words")))
  }

  test("substringDedup: a WITHIN-doc repeated span is a duplicate; the unique middle survives") {
    // "x1 x2 x3" occurs twice inside doc 3 — global count 2 without any
    // second document; both occurrences are excised, "mid" survives
    assert(substrOut(4)(3L) == ((7, 6, "mid")))
  }

  test("substringDedup: docs shorter than k and docs with no dup span pass through untouched") {
    val out = substrOut(4)
    assert(out(4L) == ((2, 0, "tiny doc")))
    assert(out(5L) == ((5, 0, "unrelated content entirely separate tokens")))
  }

  test("substringDedup is partition-count independent") {
    assert(substrOut(1) == substrOut(13))
  }

  // chunk-level partial overlap: two long docs share one 64-token
  // section buried in unrelated filler — the chunk sketches must find
  // it at full strength (identical in-section chunks → est 1.0)
  private val chunkCorpus = {
    val shared = (0 until 64).map("sh" + _)
    Seq(
      (1L, ((0 until 144).map("fa" + _) ++ shared).mkString(" ")),
      (2L, (shared ++ (0 until 144).map("fb" + _)).mkString(" ")),
      (3L, (0 until 100).map("zz" + _).mkString(" "))
    )
  }

  private def chunkOut(parts: Int) = {
    import spark.implicits._
    Dedup.chunkDupPairs(chunkCorpus.toDF("doc_id", "text").repartition(parts),
        "doc_id", "text", chunkSize = 32, stride = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
  }

  test("chunkDupPairs finds a shared section buried in long documents") {
    val out = chunkOut(4)
    val (nPairs, maxEst) = out((1L, 2L))
    // both docs start their shared section on a stride boundary, so the
    // three full 32-token in-section windows are byte-identical across
    // docs: at least 3 chunk pairs, best estimate exactly 1.0
    assert(nPairs >= 3L, s"expected >= 3 matching chunk pairs, got $nPairs")
    assert(maxEst == 1.0)
    // the unrelated doc never pairs
    assert(!out.keys.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("chunkDupPairs is partition-count independent") {
    assert(chunkOut(1) == chunkOut(13))
  }

  test("keepBest keeps the highest-score member per cluster, ties to min id; unpaired pass") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa", 10L), (2L, "bb", 30L), (3L, "cc", 30L), // one cluster
      (4L, "dd", 5L)                                     // never paired
    ).toDF("doc_id", "text", "score")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L))
      .toDF("doc_id", "cluster_id")
    val kept = Dedup.keepBest(docs, "doc_id", clusters, "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // doc 2 wins its cluster (score 30, id tie-break beats 3); the
    // min-ID rule would have kept doc 1 — the two keep rules genuinely
    // diverge on this fixture
    assert(kept == Set(2L, 4L))
  }

  test("plain Σdf² forms: the df budget fails loudly on Zipf input, naming the capped path") {
    import spark.implicits._
    // BenchZipf's deterministic heavy-tail fixture, small: rank-1
    // tokens repeat across most docs, so head bigrams' df ≈ corpus
    // size — exactly the posting blowup the guard exists for
    val docs = spark.range(600L).select(
      org.apache.spark.sql.functions.col("id").as("doc_id"),
      org.apache.spark.sql.functions.lit("en").as("lang"),
      org.apache.spark.sql.functions.expr(
        """array_join(transform(sequence(1, 40), j ->
          |  concat('w', cast(cast(exp((pmod(xxhash64(id, j), 1000000)
          |    / 1000000.0D) * ln(30000.0D)) as bigint) as string))), ' ')"""
          .stripMargin).as("text"))
    val exJ = intercept[Exception] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang",
        dfBudget = 50L).collect()
    }
    assert(exJ.getMessage.contains("dfBudget=50") &&
      exJ.getMessage.contains("ngramJaccardPairsPrefix"), exJ.getMessage)
    val exC = intercept[Exception] {
      Dedup.ngramContainmentPairs(docs, "doc_id", "text", "lang",
        dfBudget = 50L).collect()
    }
    assert(exC.getMessage.contains("ngramContainmentPairsPrefix"))
    // under the budget the guard is invisible: the gate fixtures (and
    // BenchZipf at its measured sizes) sit below the default, and the
    // guarded plan returns the identical pair set
    val under = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang",
        dfBudget = 100000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val reference = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text",
        "lang")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(under == reference, "guarded plan changed the result set")
  }

  test("plain core: one gram-kernel pass, the second join side reuses the posting exchange, df = 1 postings never reach the join") {
    import org.apache.spark.sql.execution.{FilterExec, GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.HashJoin
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.functions.{col, explode}
    import graft.plans.GraftFunctions
    // a range-backed corpus: a local Seq would fold the gram kernel
    // into the LocalTableScan at optimization time
    val docs = spark.range(60L).selectExpr("id AS doc_id", "'en' AS lang",
      "concat_ws(' ', 'w' || (id % 7), 'w' || (id % 5), 'w' || (id % 3), " +
        "'w' || id) AS text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang")
    val (cp, nJobs) = jobsOf(pairs.localCheckpoint())
    info(s"$nJobs Spark jobs")
    assert(nJobs <= 5, s"$nJobs jobs")
    val got = cp.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty && got == Dedup.ngramJaccardPairsPrefix(docs,
      "doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    object stages extends AdaptiveSparkPlanHelper
    val plan = pairs.queryExecution.executedPlan
    val generates = stages.collect(plan) { case g: GenerateExec => g }
    assert(generates.size == 1 &&
      generates.head.child.toString.contains("graft_gram_keys"), plan)
    val buildSides = stages.collect(plan) {
      case j: HashJoin => j.right
      case j: SortMergeJoinExec => j.right
    }
    assert(buildSides.size == 1, plan)
    def reused(p: SparkPlan) =
      stages.collect(p) { case r: ReusedExchangeExec => r }.nonEmpty
    assert(reused(buildSides.head), plan)
    // each join side reads only the postings of grams with df >= 2
    val gramDf = docs.select(explode(GraftFunctions.gramKeys(spark,
      col("lang"), col("text"), 2)).as("gk"))
      .groupBy("gk").count().collect().map(_.getLong(1))
    val kept = gramDf.filter(_ >= 2).sum
    assert(kept > 0 && kept < gramDf.sum, gramDf.toSeq)
    val dfFilters = stages.collect(plan) {
      case f: FilterExec if f.condition.references.exists(_.name == "__df") =>
        f.metrics("numOutputRows").value
    }
    assert(dfFilters.nonEmpty && dfFilters.forall(_ == kept),
      s"$dfFilters rows out of the df filters, $kept postings with df >= 2")
  }

  test("prefix core: no optimized Filter calls the shingle kernel") {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import graft.plans.{GraftFunctions, NativeFn}
    // range-backed, so the kernels stay in the plan; docs 0 and 1 hold
    // fewer than 3 tokens and must drop out without a size filter
    val docs = spark.range(40L).selectExpr("id AS doc_id", "'en' AS lang",
      "CASE WHEN id < 2 THEN 'w' || id ELSE concat_ws(' ', 'w' || (id % 3), " +
        "'w' || (id % 2), 'w' || (id % 5), 'x') END AS text")
    val forms = Seq(
      Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", "lang", 3, 0.5),
      Dedup.ngramContainmentPairsPrefix(docs, "doc_id", "text", "lang", 3, 0.5,
        maxDf = Some(8L)))
    for (pairs <- forms) {
      val plan = pairs.queryExecution.optimizedPlan
      val calls = plan.collect { case f: Filter if f.condition.exists {
        case n: NativeFn => n.name == GraftFunctions.ShinglesName
        case _ => false
      } => f.condition }
      assert(calls.isEmpty, plan)
      assert(!pairs.collect().exists(r => r.getLong(0) < 2 || r.getLong(1) < 2))
    }
    val plain = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", 3, 0.5)
      .collect().toSet
    assert(plain.nonEmpty && plain == forms.head.collect().toSet)
  }

  test("plain forms: the df guard passes df = dfBudget and raises at dfBudget + 1; an all-unique corpus gives no pairs") {
    def docs(texts: String*) =
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en") }
        .toDF("doc_id", "text", "lang")
    // "aa bb" has df = 3; every other bigram of these docs has df = 1
    val atBudget = Seq("aa bb x0 y0", "aa bb x1 y1", "aa bb x2 y2")
    def jac(d: org.apache.spark.sql.DataFrame, budget: Long) =
      Dedup.ngramJaccardPairs(d, "doc_id", "text", "lang", minJaccard = 0.1,
        dfBudget = budget).collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2))).toSet
    def con(d: org.apache.spark.sql.DataFrame, budget: Long) =
      Dedup.ngramContainmentPairs(d, "doc_id", "text", "lang",
        minContainment = 0.3, dfBudget = budget).collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(jac(docs(atBudget: _*), 3L) ==
      Set((0L, 1L, 0.2), (0L, 2L, 0.2), (1L, 2L, 0.2)))
    assert(con(docs(atBudget: _*), 3L) == (for {
      a <- 0L to 2L; b <- 0L to 2L if a != b } yield (a, b, 0.3333)).toSet)
    // "cc dd" at df = 4 beside "aa bb" at df = 3
    val overBudget = docs(atBudget ++ (3 to 6).map(i => s"cc dd z$i w$i"): _*)
    for ((who, run) <- Seq[(String, () => Any)](
        "ngramJaccardPairs" -> (() => jac(overBudget, 3L)),
        "ngramContainmentPairs" -> (() => con(overBudget, 3L)))) {
      val ex = intercept[Exception](run())
      assert(ex.getMessage.contains(s"$who: a gram posting list has df=4, " +
        "over the dfBudget=3 guard"), ex.getMessage)
    }
    // every gram at df = 1: no pairs and no raise, even at the
    // smallest budget
    val unique = docs("p0 q0 r0", "p1 q1 r1", "p2 q2", "p0")
    assert(jac(unique, 1L).isEmpty && con(unique, 1L).isEmpty)
  }
}

object DedupSpec {
  /** In-memory union-find reference: node → min id of its component,
    * for every node of `pairs`. */
  def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // keys copied first: an update may resize the map mid-iteration
    parent.keys.toList.map(n => n -> find(n)).toMap
  }
}
