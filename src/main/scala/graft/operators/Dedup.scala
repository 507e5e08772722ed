package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Hashes, TextAnalysis, Vectors}
import graft.plans.GraftFunctions

/** Deduplication operators for training-data pipelines.
  *
  * Scale design (the point of every choice here):
  *  - Exact dedup groups on `md5(text)` — a 32-byte shuffle key — never
  *    on the document body, so shuffle bytes are O(rows), not O(corpus).
  *  - MinHash: signatures are computed row-locally (native codegen'd
  *    [[graft.plans.Sketches.wordShingles]] + [[graft.plans.Sketches.minhashSig]]);
  *    exact duplicates are collapsed to one representative per distinct
  *    text BEFORE banding, so a hot text (the classic mass-duplicated
  *    boilerplate doc) contributes ONE row to every band bucket instead
  *    of N — the candidate join stays key-equality and never goes
  *    quadratic in duplicate multiplicity. The post-join `distinct`
  *    carries only 16-byte id pairs; signatures re-attach afterwards by
  *    key join.
  *  - SimHash: 64-bit sketch per doc; banding on 4×15-bit chunks makes
  *    the candidate join key-equality too, and (like minhash) bands run
  *    over one representative per distinct text — duplicate multiplicity
  *    never reaches a band bucket.
  *  - N-gram Jaccard and containment: inverted-index join (explode
  *    n-grams → join on the gram), so cost is Σ posting-list², not N².
  *    The posting self-join carries no hint — AQE picks shuffled-hash
  *    or sort-merge from runtime sizes — and the per-pair count is
  *    partial-aggregated map-side. For Zipfian corpora use the
  *    `…Prefix` forms: the rarest-first PPJoin prefix keeps
  *    stopword-gram posting lists out of candidate generation, with an
  *    optional hard `maxDf` guard. All four forms are one of two cores
  *    ([[plainPairCounts]], [[prefixPairCounts]]) plus one of two
  *    result rules, over [[pack]]ed (doc id, gram count) keys.
  *  - Embedding pairs: banded hyperplane-LSH candidate generation (band
  *    equi-join, never all-pairs) + exact-cosine rerank; the all-pairs
  *    form survives only as a spec-level recall verifier
  *    ([[embeddingPairsExact]]).
  */
object Dedup {

  /** Exact dedup: one row per distinct text with the canonical (min) id
    * and the multiplicity. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash+LSH near-duplicate pairs.
    *
    * Identical texts have identical signatures, so the sketch/band/join
    * pipeline runs once per DISTINCT text (collapse on `md5(text)`, a
    * 32-byte key) and pairs expand back to member ids at the end:
    * intra-group pairs are exact duplicates (est_jaccard 1.0 by
    * construction) and cross-group pairs inherit their representatives'
    * signature agreement. Output is identical to sketching every row —
    * verified by DedupSpec — but hot buckets stay linear in distinct
    * texts.
    *
    * @return (doc_a, doc_b, est_jaccard) for candidate pairs sharing an
    *         LSH band whose signature agreement is >= minMatches/perms. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, perms: Int = 16, bands: Int = 4,
      minMatches: Int = 4): DataFrame = {
    val st = minhashStages(df, idCol, textCol, shingleK, perms, bands)
    val repPairs = minhashGidPairsFrom(st, perms, minMatches)
    // expand representatives back to member ids
    val cross = repPairs
      .join(st.members.as("ma"), col("gid_a") === col("ma.gid"))
      .join(st.members.as("mb"), col("gid_b") === col("mb.gid"))
      .select(least(col("ma.id"), col("mb.id")).as("doc_a"),
        greatest(col("ma.id"), col("mb.id")).as("doc_b"), col("est_jaccard"))
    // exact duplicates: every within-group pair, est = 1.0 (sketchable
    // groups only — texts with >= shingleK tokens, mirroring the sketch)
    val sketchable = st.sigs.select(col("id"), col("gid"))
    val intra = sketchable.as("x")
      .join(sketchable.as("y"),
        col("x.gid") === col("y.gid") && col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        lit(1.0).as("est_jaccard"))
    cross.unionByName(intra)
  }

  /** Generate-then-VERIFY dedup (the production LSH shape): banded
    * minhash proposes candidates, then the EXACT shingle-Jaccard is
    * computed per candidate pair by re-attaching each side's distinct
    * shingle set — a row-local array intersection, never a corpus-wide
    * join. Verification cost is |candidates| × shingle-set size; the
    * sketch's false positives get `confirmed = false` instead of
    * polluting downstream merges, and its estimation error is visible
    * as (est_jaccard − exact_jaccard).
    *
    * The confirm threshold compares round(jaccard, 6) (boundary pairs
    * must not flip on a last-ulp engine difference).
    *
    * Output: (doc_a, doc_b, est_jaccard, exact_jaccard, confirmed). */
  def minhashVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, perms: Int = 16, bands: Int = 4,
      minMatches: Int = 4, minJaccard: Double = 0.5): DataFrame = {
    val cand = minhashPairs(df, idCol, textCol, shingleK, perms, bands,
      minMatches)
    val sh = df
      .select(col(idCol).as("vid"),
        TextAnalysis.tokens(col(textCol)).as("w"))
      .where(size(col("w")) >= shingleK)
      .select(col("vid"), expr(
        s"""array_distinct(transform(sequence(1, size(w) - ${shingleK - 1}),
           |  i -> array_join(slice(w, i, $shingleK), ' ')))""".stripMargin)
        .as("g"))
    cand
      .join(sh.select(col("vid").as("doc_a"), col("g").as("ga")), Seq("doc_a"))
      .join(sh.select(col("vid").as("doc_b"), col("g").as("gb")), Seq("doc_b"))
      .withColumn("inter", expr("size(array_intersect(ga, gb))"))
      .withColumn("jac", expr(
        "CAST(inter AS DOUBLE) / (size(ga) + size(gb) - inter)"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        expr("CAST(ROUND(jac, 4) + 0.0 AS DOUBLE)").as("exact_jaccard"),
        (round(col("jac"), 6) >= minJaccard).as("confirmed"))
  }

  /** CHUNK-level partial-overlap detection: sliding-window chunks
    * ([[Corpus.chunkTokens]]) sketch independently through the banded
    * minhash pipeline, and chunk pairs from DIFFERENT docs aggregate to
    * one (doc_a, doc_b) row carrying the matching-chunk count and the
    * best estimate. This is the length-robust middle ground the other
    * dedup ops miss: two LONG documents sharing one section dilute
    * whole-doc minhash/Jaccard below any usable threshold, containment
    * only fires when one doc is mostly inside the other, and
    * [[substringDedup]] needs byte-exact spans — chunk sketches localize
    * the comparison so a shared section matches at full strength no
    * matter how much unrelated text surrounds it (the RefinedWeb/Dolma
    * partial-dup shape).
    *
    * Scale: chunking multiplies rows by ~len/stride but each chunk
    * sketch is O(chunkSize); everything downstream is the gid-collapsed
    * banded pipeline — never all-pairs. The chunk id [[pack]]s
    * (doc_id, chunk_idx) into one long.
    *
    * @return (doc_a, doc_b, n_chunk_pairs, max_est) with doc_a < doc_b. */
  def chunkDupPairs(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 32, stride: Int = 16, shingleK: Int = 3,
      perms: Int = 16, bands: Int = 4, minMatches: Int = 4): DataFrame = {
    val chunks = Corpus.chunkTokens(df, idCol, textCol, chunkSize, stride)
      .select(pack(col("doc_id"), col("chunk_idx"),
          "chunkDupPairs: doc_id/chunk_idx").as("ck"),
        col("chunk_text"))
    val pairs = minhashPairs(chunks, "ck", "chunk_text",
      shingleK, perms, bands, minMatches)
    val da = packHi(col("doc_a"))
    val db = packHi(col("doc_b"))
    pairs
      .where(da =!= db)
      .select(least(da, db).as("doc_a"), greatest(da, db).as("doc_b"),
        col("est_jaccard"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_chunk_pairs"),
        max(col("est_jaccard")).as("max_est"))
  }

  /** Gid-level MinHash near-dup pairs: one row per pair of DISTINCT
    * texts — (gid_a, gid_b, est_jaccard) with gid = md5(text) — plus
    * no expansion at all. Pair-consuming pipelines that only need
    * clusters (pairs → CC → keep) should consume THIS together with
    * [[minhashMembership]] and expand once after clustering:
    * member-level pairs are intra-group N²/2 and cross-group Na×Nb
    * rows, which at web-crawl duplicate multiplicities (10⁵-10⁶×) is
    * the quadratic [[minhashPairs]]' expansion contract re-introduces.
    * Use [[minhashClusters]] for the full gid-level pipeline. */
  def minhashPairsByGroup(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, perms: Int = 16, bands: Int = 4,
      minMatches: Int = 4): DataFrame =
    minhashGidPairsFrom(
      minhashStages(df, idCol, textCol, shingleK, perms, bands),
      perms, minMatches)
      .select("gid_a", "gid_b", "est_jaccard")

  /** The (doc id → text-group id) membership map paired with
    * [[minhashPairsByGroup]] — row-local, no text bytes shuffled. */
  def minhashMembership(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("id"), md5(col(textCol)).as("gid"))

  /** (gid_a, gid_b, rid_a, rid_b, est_jaccard) rep-level pairs from
    * staged internals: signatures re-attach by key join (they are
    * ~512-byte arrays — too wide to ride the candidate distinct). */
  private def minhashGidPairsFrom(st: MinhashStages, perms: Int,
      minMatches: Int): DataFrame = {
    val sigOf = st.reps.select(col("gid"), col("sig"))
    st.candidates
      .join(sigOf.as("sa"), col("gid_a") === col("sa.gid"))
      .join(sigOf.as("sb"), col("gid_b") === col("sb.gid"))
      .withColumn("m", Hashes.sigMatches("sa.sig", "sb.sig"))
      .where(col("m") >= minMatches)
      .select(col("gid_a"), col("gid_b"), col("rid_a"), col("rid_b"),
        expr(s"CAST(ROUND(m / $perms.0, 4) AS DOUBLE)").as("est_jaccard"))
  }

  /** MinHash duplicate clusters WITHOUT member expansion: connected
    * components over one representative node per distinct text (cross
    * pairs + one self-edge per multi-member sketchable gid — exact
    * duplicates always qualify, their signatures agree on all perms),
    * membership joined back exactly once. Identical output to
    * `duplicateClusters(minhashPairs(...))`. */
  def minhashClusters(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, perms: Int = 16, bands: Int = 4,
      minMatches: Int = 4): DataFrame = {
    require(minMatches <= perms, "minMatches must be <= perms")
    val st = minhashStages(df, idCol, textCol, shingleK, perms, bands)
    val cross = minhashGidPairsFrom(st, perms, minMatches)
      .select(col("rid_a").as("a"), col("rid_b").as("b"))
    val self = st.sigs.groupBy("gid").agg(min(col("id")).as("rid"),
        count(lit(1)).as("n_members"))
      .where(col("n_members") > 1)
      .select(col("rid").as("a"), col("rid").as("b"))
    val repClusters = duplicateClusters(cross.unionByName(self), "a", "b")
    st.sigs.select(col("id"), col("gid"))
      .join(st.reps.select(col("gid"), col("rid")), "gid")
      .join(repClusters, col("rid") === repClusters("doc_id"))
      .select(col("id").as("doc_id"), col("cluster_id"))
  }

  /** Incremental (delta) near-dup: candidate pairs between a FRESH
    * batch and an EXISTING corpus — the nightly-ingest shape, where
    * re-pairing the whole corpus (minhashPairs over existing ∪ fresh)
    * would redo almost all its work to answer a question only about the
    * delta. The band join crosses sides only: never fresh×fresh (run
    * [[minhashPairs]] on the batch for that) and never
    * existing×existing.
    *
    * Scale: the existing side's sketch+banding is the part a production
    * pipeline persists between runs; per run the probe side is only the
    * delta, the join is the same key-equality (band, hash) join as
    * [[minhashPairs]], and the candidate `distinct` carries id pairs
    * only. Returns (doc_id ∈ fresh, dup_of ∈ existing, est_jaccard ≥
    * minMatches/perms). */
  /** The (id, sig) minhash sketch frame shared by [[deltaMinhash]] and
    * the persistent index ([[DedupIndex]]) — one definition so the
    * index and the ad-hoc probe cannot drift. */
  private[graft] def minhashSketch(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int, perms: Int): DataFrame = {
    val spark = df.sparkSession
    df.select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("w"))
      .where(size(col("w")) >= shingleK)
      .select(col("id"), GraftFunctions.minhashSig(spark,
        GraftFunctions.shingles(spark, col("w"), shingleK), perms).as("sig"))
  }

  def deltaMinhash(existing: DataFrame, fresh: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 3, perms: Int = 16, bands: Int = 4,
      minMatches: Int = 4): DataFrame = {
    val rows = perms / bands
    def sketch(df: DataFrame): DataFrame =
      minhashSketch(df, idCol, textCol, shingleK, perms)
    def banded(df: DataFrame): DataFrame = df.select(col("id"),
      posexplode(Hashes.lshBands("sig", bands, rows)).as(Seq("b", "bh")))
    val e = sketch(existing)
    val f = sketch(fresh)
    val cand = banded(f).as("a")
      .join(banded(e).as("b"),
        col("a.b") === col("b.b") && col("a.bh") === col("b.bh"))
      .select(col("a.id").as("doc_id"), col("b.id").as("dup_of"))
      .distinct()
    cand
      .join(f.as("sa"), col("doc_id") === col("sa.id"))
      .join(e.as("sb"), col("dup_of") === col("sb.id"))
      .withColumn("m", Hashes.sigMatches("sa.sig", "sb.sig"))
      .where(col("m") >= minMatches)
      .select(col("doc_id"), col("dup_of"),
        expr(s"CAST(ROUND(m / $perms.0, 4) AS DOUBLE)").as("est_jaccard"))
  }

  /** The staged internals of [[minhashPairs]], exposed so specs can bound
    * intermediate cardinalities (e.g. hot-bucket candidate counts). */
  private[graft] final case class MinhashStages(
      members: DataFrame, sigs: DataFrame, reps: DataFrame,
      candidates: DataFrame)

  private[graft] def minhashStages(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int, perms: Int, bands: Int): MinhashStages = {
    val spark = df.sparkSession
    val rows = perms / bands
    // membership map: doc id -> text-group id (row-local, no text shuffled)
    val members = df.select(col(idCol).as("id"), md5(col(textCol)).as("gid"))
    // one signature per distinct text: sketch row-locally, collapse by gid
    // (first(sig) is deterministic — all sigs in a group are equal)
    val sigsAll = df
      .select(col(idCol).as("id"), md5(col(textCol)).as("gid"),
        TextAnalysis.tokens(col(textCol)).as("w"))
      .where(size(col("w")) >= shingleK)
      .select(col("id"), col("gid"),
        GraftFunctions.minhashSig(spark,
          GraftFunctions.shingles(spark, col("w"), shingleK), perms).as("sig"))
    val reps = sigsAll.groupBy("gid")
      .agg(min(col("id")).as("rid"), first(col("sig")).as("sig"))
    val banded = reps.select(col("gid"), col("rid"), col("sig"),
      posexplode(Hashes.lshBands("sig", bands, rows)).as(Seq("b", "bh")))
    // candidate pairs: key-equality band join; distinct over ids only —
    // the shuffle carries (gid, rid) pairs, not kilobyte signature rows
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.b") === col("b.b") && col("a.bh") === col("b.bh") &&
          col("a.rid") < col("b.rid"))
      .select(col("a.gid").as("gid_a"), col("b.gid").as("gid_b"),
        col("a.rid").as("rid_a"), col("b.rid").as("rid_b"))
      .distinct()
    MinhashStages(members, sigsAll, reps, cand)
  }

  /** Per-doc SimHash signature + its 4 LSH band keys. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("w"))
      .where(size(col("w")) > 0)
      .select(col("doc_id"),
        GraftFunctions.simhash64(df.sparkSession, col("w")).as("simhash"))
      .select(col("doc_id"), col("simhash"),
        Hashes.simhashBand("simhash", 0).as("b0"),
        Hashes.simhashBand("simhash", 1).as("b1"),
        Hashes.simhashBand("simhash", 2).as("b2"),
        Hashes.simhashBand("simhash", 3).as("b3"))

  /** The staged internals of the simhash family — the [[minhashStages]]
    * discipline applied to the 64-bit sketch path: exact duplicates
    * collapse to one representative per distinct text (`gid =
    * md5(text)`) BEFORE banding, so a text duplicated N times (web
    * boilerplate at 10⁵-10⁶×) contributes ONE row per band bucket and
    * the candidate join stays linear in DISTINCT texts, never N²/2 in
    * duplicate multiplicity. Identical texts have identical token
    * streams, hence identical simhashes, so collapsing loses nothing.
    * Exposed to specs for intermediate-cardinality bounds. */
  private[graft] final case class SimhashStages(
      members: DataFrame, // (id, gid) per sketchable doc — the membership map
      reps: DataFrame,    // (gid, rid = min member id, simhash, n_members)
      gidPairs: DataFrame // (gid_a, gid_b, rid_a, rid_b, hamming) cross-gid
  )

  private[graft] def simhashStages(df: DataFrame, idCol: String,
      textCol: String, maxHamming: Int): SimhashStages = {
    val spark = df.sparkSession
    val sigs = df
      .select(col(idCol).as("id"), md5(col(textCol)).as("gid"),
        TextAnalysis.tokens(col(textCol)).as("w"))
      .where(size(col("w")) > 0)
      .select(col("id"), col("gid"),
        GraftFunctions.simhash64(spark, col("w")).as("simhash"))
    bandedSketchStages(sigs, maxHamming)
  }

  /** The sketch-agnostic half of [[simhashStages]]: rep-collapse +
    * 4×15-bit banding + hamming filter over ANY (id, gid, simhash)
    * frame where gid keys exact-duplicate inputs and simhash is a
    * ≤60-bit sketch. Shared by the text simhash family and the
    * binary-payload perceptual-hash family
    * ([[Multimodal.phashPairs]]). */
  private[graft] def bandedSketchStages(sigs: DataFrame,
      maxHamming: Int): SimhashStages = {
    val members = sigs.select(col("id"), col("gid"))
    // first(simhash) is deterministic: all sketches in a gid are equal
    val reps = sigs.groupBy("gid")
      .agg(min(col("id")).as("rid"), first(col("simhash")).as("simhash"),
        count(lit(1)).as("n_members"))
    val banded = reps.select(col("gid"), col("rid"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        Hashes.simhashBand("simhash", b)): _*)).as(Seq("b", "bv")))
    // candidate join is key-equality on (band, value) over REPRESENTATIVES;
    // the 8-byte simhash rides through the distinct (cheaper than two
    // re-attach joins — contrast the ~512-byte minhash signatures, which
    // re-join instead)
    val gidPairs = banded.as("a")
      .join(banded.as("b"),
        col("a.b") === col("b.b") && col("a.bv") === col("b.bv") &&
          col("a.rid") < col("b.rid"))
      .select(col("a.gid").as("gid_a"), col("b.gid").as("gid_b"),
        col("a.rid").as("rid_a"), col("b.rid").as("rid_b"),
        col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
      .distinct()
      .withColumn("hamming", Hashes.hamming("sim_a", "sim_b").cast("int"))
      .where(col("hamming") <= maxHamming)
      .select("gid_a", "gid_b", "rid_a", "rid_b", "hamming")
    SimhashStages(members, reps, gidPairs)
  }

  /** SimHash near-dup pairs: share >=1 of 4 bands AND hamming <=
    * maxHamming. Candidate generation is rep-collapsed per distinct
    * text ([[simhashStages]]); the output contract re-expands to all
    * member-id pairs — intra-group pairs (exact duplicates, hamming 0
    * by construction) plus cross-group pairs inheriting their
    * representatives' hamming. The expansion is inherently O(members²)
    * per duplicate group: it is the documented small-multiplicity API.
    * Cluster-level consumers should stay on gids via
    * [[simhashClusters]], which expands exactly once at the end. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 12): DataFrame =
    expandSketchPairs(simhashStages(df, idCol, textCol, maxHamming))

  /** Member expansion for any [[SimhashStages]]: cross-gid pairs
    * inherit their representatives' hamming, intra-gid pairs (exact
    * duplicates) get hamming 0 — the documented small-multiplicity
    * API shared by the simhash and phash families. */
  private[graft] def expandSketchPairs(st: SimhashStages): DataFrame = {
    val cross = st.gidPairs
      .join(st.members.as("ma"), col("gid_a") === col("ma.gid"))
      .join(st.members.as("mb"), col("gid_b") === col("mb.gid"))
      .select(least(col("ma.id"), col("mb.id")).as("doc_a"),
        greatest(col("ma.id"), col("mb.id")).as("doc_b"), col("hamming"))
    val intra = st.members.as("x")
      .join(st.members.as("y"),
        col("x.gid") === col("y.gid") && col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        lit(0).cast("int").as("hamming"))
    cross.unionByName(intra)
  }

  /** Duplicate clusters from the simhash pair graph WITHOUT member
    * expansion: connected components run over representative ids (one
    * node per distinct text — cross-gid candidate pairs plus one
    * self-edge per multi-member gid), and doc-level membership joins
    * back exactly ONCE at the end. Identical output to
    * `duplicateClusters(simhashPairs(...))` — the component structure
    * over docs is the gid-component structure expanded, and the
    * cluster label (min member id) equals the min representative id —
    * but a text duplicated N times costs N rows only in the final
    * join, never in the iterative CC rounds. */
  def simhashClusters(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 12): DataFrame =
    sketchClusters(simhashStages(df, idCol, textCol, maxHamming))

  /** Gid-level CC + single member expansion over ANY banded-sketch
    * stages — ONE cluster path shared by the text simhash family and
    * the binary perceptual-hash family ([[Multimodal.phashClusters]]):
    * duplicate multiplicity never enters the iterative CC rounds. */
  private[graft] def sketchClusters(st: SimhashStages): DataFrame = {
    val cross = st.gidPairs.select(col("rid_a").as("a"), col("rid_b").as("b"))
    // multi-member gids must enter the node set even with no cross-gid
    // pair: their members pair with each other (hamming 0)
    val self = st.reps.where(col("n_members") > 1)
      .select(col("rid").as("a"), col("rid").as("b"))
    val repClusters = duplicateClusters(cross.unionByName(self), "a", "b")
    st.members
      .join(st.reps.select(col("gid"), col("rid")), "gid")
      .join(repClusters, col("rid") === repClusters("doc_id"))
      .select(col("id").as("doc_id"), col("cluster_id"))
  }

  /** The packed key codec: every (id, low) pair graft folds into one
    * long — an n-gram posting's (doc id, distinct-gram count), a
    * chunk's (doc id, chunk index), a frame's (media id, frame index) —
    * is `id << 20 | lo` with 0 ≤ id < 2^43 and lo < 2^20, so the key
    * orders like (id, lo) and one long carries both halves through a
    * shuffle or an aggregate key. `hi` casts to LONG before the guard
    * and the shift (an IntegerType id would otherwise wrap inside
    * shiftleft at 2^11 with the 2^43 guard never firing). A NULL,
    * negative or too-large id, or a `lo` ≥ 2^20, raises
    * "`what` out of packable range", `what` naming the caller. */
  private[graft] def pack(hi: Column, lo: Column, what: String): Column = {
    val id = hi.cast("long")
    val low = lo.cast("long")
    when(id.isNull || id < 0L || id >= (1L << 43) || low >= (1L << 20),
      expr(s"raise_error('$what out of packable range')").cast("long"))
      .otherwise(shiftleft(id, 20).bitwiseOR(low))
  }

  /** `c`, marked non-null for the optimizer: for a value a filter
    * below has already proved non-null. */
  private def knownNotNull(c: Column): Column =
    GraftSqlBridge.column(KnownNotNull(GraftSqlBridge.expression(c)))

  /** The id half of a [[pack]]ed key. */
  private[graft] def packHi(key: Column): Column = shiftrightunsigned(key, 20)

  /** The low 20 bits of a [[pack]]ed key. */
  private[graft] def packLo(key: Column): Column =
    key.bitwiseAND(lit((1L << 20) - 1))

  /** n_g of a posting join side's packed key (`a.pk` / `b.pk`). */
  private def sideLo(side: String): Column = packLo(col(s"$side.pk"))

  /** Default per-gram document-frequency BUDGET for the plain Σdf²
    * forms ([[ngramJaccardPairs]]/[[ngramContainmentPairs]]): at
    * df = 10⁵ one gram alone feeds ~5·10⁹ rows into the pair
    * aggregate — already a cluster-burner, and far past anything the
    * gate fixtures or BenchZipf (df ≤ corpus size ≤ 2·10⁴) produce. */
  private[graft] val plainFormDfBudget = 100000L

  /** RUNTIME guard against Zipfian blowup: the plain forms' pair stream
    * is Σ df(gram)² rows, so one gram past the budget dominates the job
    * (BenchZipf measures the superlinear slope). Rather than complete at
    * 100 TB, fail LOUDLY naming the df and the PPJoin `…Prefix` variant
    * (the oracle-pinned scale path): [[Er.fuzzyMatchPairs]]'s maxBlock
    * discipline on posting lists. The same df drops df = 1 grams
    * losslessly (a lone posting pairs only with itself, which
    * `a.pk < b.pk` discards). It is one window count over the gk
    * exchange both join sides reuse, sorted as a sort-merge join needs,
    * and raises before any pair exists. */
  private def guardPostings(part: DataFrame, dfBudget: Long,
      who: String): DataFrame = {
    require(dfBudget > 0, s"$who: dfBudget must be positive")
    part.withColumn("__df", count(lit(1)).over(Window.partitionBy("gk")))
      .where(col("__df") >= 2)
      .select(
        when(col("__df") > dfBudget,
          expr(s"raise_error(concat('$who: a gram posting list has df=', " +
            s"CAST(__df AS STRING), ', over the dfBudget=$dfBudget guard " +
            s"— Zipfian corpus; use ${who}Prefix with maxDf (the capped, " +
            s"oracle-pinned scale path) or raise dfBudget'))")
            .cast("long"))
          .otherwise(col("pk")).as("pk"),
        col("gk"))
  }

  /** The inverted-index core of the plain n-gram forms: per-doc
    * distinct gram keys → one (pk, gk) posting row per gram → df guard
    * and df ≥ 2 prune → posting self-join on `gk` with `a.pk < b.pk`
    * (plus `prune`, an extra predicate over the `a`/`b` sides) → one
    * count per pair. Returns (pa, pb, inter) over packed keys
    * `pk = id << 20 | n_g`.
    *
    * The pair stream is Σdf² rows, so every byte per row and every
    * post-aggregate join is paid millions of times. Two compactions:
    * (1) the join key is one 64-bit hash of (group, gram) from
    * [[graft.plans.Sketches.gramKeys]] — one native call per doc that
    * tokenizes, shingles, dedupes and hashes — and a collision altering
    * an intersection count is ~1e-16; (2) each posting row carries
    * (id, n_g) in ONE [[pack]]ed long, so the pair aggregate's group
    * keys hold both gram-set sizes and no result rule needs a re-join
    * against a per-doc counts table. The kernel runs once per doc: a
    * plain explode lets Catalyst push its inferred `size(gh) > 0` below
    * the projection, calling the kernel again, so explode_outer's null
    * gk is filtered instead. a.pk < b.pk ⟺ a.id < b.id: the id occupies
    * the high bits, and a doc's own rows compare equal, which < excludes.
    *
    * The self-join carries NO join hint: a forced non-spillable hash
    * build on an unbounded posting self-join is an OOM at Zipf scale.
    * Explode keeps its child's byte estimate, so the static plan is a
    * broadcast hash join over the gk exchange. AQE re-plans from RUNTIME
    * sizes: it keeps the broadcast only while the build side is under
    * spark.sql.autoBroadcastJoinThreshold, else joins the gk partitions
    * as shuffled-hash when every build partition fits
    * (maxShuffledHashJoinLocalMapThreshold, GraftSession config) and as
    * spillable sort-merge otherwise. */
  private def plainPairCounts(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, n: Int, dfBudget: Long, who: String,
      prune: Option[Column]): DataFrame = {
    val posting = df
      .select(col(idCol).cast("long").as("id"),
        GraftFunctions.gramKeys(df.sparkSession, col(groupCol), col(textCol),
          n).as("gh"))
      .select(col("id"), col("gh"), explode_outer(col("gh")).as("gk"))
      .where(col("gk").isNotNull)
      .select(pack(col("id"), size(col("gh")), s"$who: id/n_g").as("pk"),
        col("gk"))
    val part = guardPostings(posting.repartition(col("gk")), dfBudget, who)
    val on = col("a.gk") === col("b.gk") && col("a.pk") < col("b.pk")
    part.as("a").join(part.as("b"), prune.fold(on)(on && _))
      .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
      .agg(count(lit(1)).as("inter"))
  }

  /** The PPJoin prefix core of the `…Prefix` forms: string shingle
    * postings keyed by (grp, gram) → the (grp, gram) df table, capped
    * at `maxDf` when given → each doc's grams ranked rarest-first by
    * (gdf, gram) → the prefix rnk ≤ n_g − ⌈t·n_g⌉ + 1 → `candidates`,
    * the caller's join of the prefix (`a`) against the prefix or the
    * full ranked posting (`b`) → exact verification. Returns
    * (pa, pb, inter) over packed keys, one row per distinct candidate.
    *
    * The (gdf, gram) string order and the ceil over a round-9 guard
    * (an exactly-integer t·n must not straddle an ulp between the
    * prune and the final ratio filter) are what the `_capped` gate
    * keys' DuckDB oracles mirror verbatim, pinning the candidate set.
    * pk order is id order, so `a.pk < b.pk` pins the same pairs as the
    * oracles' `a.doc_id < b.doc_id`.
    *
    * Verification is exact, COUNT-shaped and CANDIDATE-proportional:
    * the full UNCAPPED posting (a capped gram still counts toward a
    * generated candidate's true intersection) is semi-join-trimmed to
    * candidate docs, each pair's a-side grams equi-join b's on the
    * composite (doc, gram) key, and one count per pair is |A∩B|. Cost
    * is Σ_cand n_a — never a posting self-join, never a gram-array
    * re-attach (an array_intersect verify builds unspillable hash
    * relations; it OOM'd at sf0.1 on an 8 GiB heap). No join hints:
    * AQE picks shuffle-hash only when a build side genuinely fits, and
    * sort-merge spills otherwise. Intersections count equal
    * xxhash64(grp|gram) keys, as the plain core does. */
  private def prefixPairCounts(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, n: Int, t: Double, maxDf: Option[Long], who: String)(
      candidates: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    // The kernels run once per doc only if no filter is pushed below
    // their projection: a doc of fewer than n tokens has no shingle, so
    // explode_outer's null gram drops it (a size filter or a plain
    // explode's inferred size(g) > 0 would be pushed down), and pk is
    // packed past that filter and known non-null there (the joins'
    // inferred isnotnull(pk) would be pushed down otherwise).
    val posting = df
      .select(col(idCol).cast("long").as("id"), col(groupCol).as("grp"),
        GraftFunctions.shingles(df.sparkSession,
          TextAnalysis.tokens(col(textCol)), n).as("g"))
      .select(col("id"), col("grp"), size(col("g")).as("ng"),
        explode_outer(col("g")).as("gram"))
      .where(col("gram").isNotNull)
      .select(knownNotNull(pack(col("id"), col("ng"), s"$who: id/n_g")).as("pk"),
        col("grp"), col("gram"))
    val gramDf = posting.groupBy("grp", "gram").agg(count(lit(1)).as("gdf"))
    val capped = maxDf.fold(gramDf)(m => gramDf.where(col("gdf") <= m))
    val w = Window.partitionBy("pk").orderBy(col("gdf").asc, col("gram").asc)
    def gk = xxhash64(concat_ws("|", col("grp"), col("gram"))).as("gk")
    // ONE ranked posting feeds both join sides, so they can never
    // disagree on gram order
    val ranked = posting
      .join(capped, Seq("grp", "gram"))
      .withColumn("rnk", row_number().over(w))
      .select(col("pk"), col("rnk"), gk)
    val prefix = ranked.where(col("rnk") <=
      packLo(col("pk")) - ceil(round(packLo(col("pk")) * t, 9)) + 1)
    val cand = candidates(prefix, ranked)
      .select(col("a.pk").as("pa"), col("b.pk").as("pb"))
      .distinct()
    val vposting = posting.select(col("pk"), gk)
    val vpA = vposting.join(
      cand.select(col("pa").as("pk")).distinct(), Seq("pk"), "left_semi")
    val vpB = vposting.join(
      cand.select(col("pb").as("pk")).distinct(), Seq("pk"), "left_semi")
    cand
      .join(vpA.as("a"), col("pa") === col("a.pk"))
      .select(col("pa"), col("pb"), col("a.gk").as("agk"))
      .join(vpB.as("b"),
        col("pb") === col("b.pk") && col("agk") === col("b.gk"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("inter"))
  }

  /** PPJoin's positional bound on a candidate collision at prefix
    * ranks (a.rnk, b.rnk): the grams the two docs can still share from
    * there on cannot exceed min(n_a − rnk_a, n_b − rnk_b) + 1, so the
    * pair survives only if that covers the `required` overlap. */
  private def positionalBound(required: Column): Column =
    least(sideLo("a") - col("a.rnk"), sideLo("b") - col("b.rnk")) + 1 >=
      required

  /** The lossless Jaccard size-ratio prune: jac ≥ t implies
    * inter ≥ t·union, and inter ≤ min(n_a, n_b), union ≥ max(n_a, n_b),
    * so min/max ≥ t. Dropping pairs that fail it loses no pair with
    * jac ≥ t, but cuts the pair stream feeding the count. */
  private def sizeRatioPrune(t: Double): Column =
    least(sideLo("a"), sideLo("b")).cast("double") /
      greatest(sideLo("a"), sideLo("b")) >= t

  /** The Jaccard result rule over (pa, pb, inter) pair counts:
    * jac = inter / (n_a + n_b − inter) from the packed sizes, kept at
    * ≥ t and rounded to 4 places. */
  private def jaccardRows(inter: DataFrame, t: Double): DataFrame =
    inter
      .select(packHi(col("pa")).as("doc_a"), packHi(col("pb")).as("doc_b"),
        (col("inter").cast("double") /
          (packLo(col("pa")) + packLo(col("pb")) - col("inter"))).as("jac"))
      .where(col("jac") >= t)
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(ROUND(jac, 4) AS DOUBLE)").as("jaccard"))

  /** The directed containment result rule over (pa, pb, inter) pair
    * counts: both directions C = inter / n_src explode out of the ONE
    * undirected count (a union of two projections would plan the join
    * and the count twice), kept at ≥ t and rounded to 4 places. */
  private def containmentRows(inter: DataFrame, t: Double): DataFrame = {
    def directed(src: String, dst: String): Column =
      struct(col(src).as("src"), col(dst).as("dst"),
        (col("inter").cast("double") / packLo(col(src))).as("c"))
    inter.select(explode(array(directed("pa", "pb"), directed("pb", "pa")))
        .as("d"))
      .select(col("d.src").as("src"), col("d.dst").as("dst"),
        col("d.c").as("c"))
      .where(col("c") >= t)
      .select(packHi(col("src")).as("src_doc"),
        packHi(col("dst")).as("dst_doc"),
        expr("CAST(ROUND(c, 4) AS DOUBLE)").as("containment"))
  }

  /** Exact n-gram Jaccard via AllPairs/PPJoin prefix filtering: order
    * every doc's grams rarest-first (global doc-frequency), keep only
    * the prefix of length n_g − ceil(t·n_g) + 1 for candidate
    * generation — any pair with jac ≥ t must collide inside both
    * prefixes. A positional bound tightens generation further (PPJoin):
    * a collision at prefix ranks (i, j) can still reach overlap
    * ⌈t/(1+t)·(na+nb)⌉ only if min(na−i, nb−j)+1 covers it; the
    * size-ratio prune of the plain form applies too. Same result set
    * as [[ngramJaccardPairs]] (property spec in DedupSpec), with one
    * shared caveat: BOTH forms count |A∩B| by equality of
    * xxhash64(grp|gram) keys, so a 64-bit collision between distinct
    * grams in one group could inflate an intersection (P ≈ pairs·2⁻⁶⁴
    * — negligible, but "exact" here means exact-over-hashed-grams).
    * Verification and the packing contract: [[prefixPairCounts]],
    * [[ngramJaccardPairs]].
    *
    * `maxDf` is the document-frequency guard for Zipfian corpora: grams
    * with df > maxDf never enter candidate generation. The rarest-first
    * prefix already keeps head grams out of prefixes when docs carry
    * enough rare grams; the hard cap bounds the worst case (a doc made
    * entirely of stopword grams). With the cap a qualifying pair is
    * missed only if EVERY gram its two prefixes share is capped —
    * verification stays exact for every generated candidate, so found
    * pairs always carry true Jaccard values.
    *
    * When to use which (measured, see PLANS.md): prefix filtering wins
    * on natural corpora where gram frequency is Zipfian (rare-gram
    * prefixes have short posting lists); on the synthetic tiny-vocab
    * testdata frequencies are near-uniform (sf0.1: vocab 4617, df
    * p50=43 / max=152), the prefix prunes only ~40% of Σdf², and its
    * extra df-join makes [[ngramJaccardPairs]] faster — which is why
    * the query entry uses the inverted-index form. */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, n: Int = 2, minJaccard: Double = 0.3,
      maxDf: Option[Long] = None): DataFrame =
    jaccardRows(prefixPairCounts(df, idCol, textCol, groupCol, n, minJaccard,
      maxDf, "ngramJaccardPairsPrefix") { (prefix, _) =>
      prefix.as("a").join(prefix.as("b"),
        col("a.gk") === col("b.gk") && col("a.pk") < col("b.pk") &&
          sizeRatioPrune(minJaccard) &&
          positionalBound(ceil(round((sideLo("a") + sideLo("b")) *
            (minJaccard / (1 + minJaccard)), 9))))
    }, minJaccard)

  /** Exact n-gram Jaccard similarity via inverted-index join: the
    * plain core ([[plainPairCounts]]) with the lossless size-ratio
    * prune as its extra join predicate, then the Jaccard rule.
    *
    * Requires a numeric id with 0 <= id < 2^43 and n_g < 2^20 (the
    * [[pack]] contract). `doc_a`/`doc_b` are always BIGINT — the ids
    * are unpacked from the packed key, NOT carried in the input id
    * type — and non-numeric or negative ids raise. Callers needing the
    * original id type re-join on the BIGINT ids or cast; string ids
    * first map through a dense numeric id (zipWithIndex-style
    * dictionary), which at corpus scale they should already have. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, n: Int = 2, minJaccard: Double = 0.3,
      dfBudget: Long = plainFormDfBudget): DataFrame =
    jaccardRows(plainPairCounts(df, idCol, textCol, groupCol, n, dfBudget,
      "ngramJaccardPairs", Some(sizeRatioPrune(minJaccard))), minJaccard)

  /** Embedding-cosine near-dup pairs via banded hyperplane LSH.
    *
    * Candidate generation: `bands × bandBits` deterministic hyperplanes
    * (the [[graft.plans.Sketches.lshBucket]] LCG family) hash every vector to a
    * `planes`-bit bucket; band b is the b-th `bandBits`-bit slice. Two
    * vectors are candidates iff they agree on at least one band — a
    * key-equality join on (band, value), never an all-pairs product.
    * Exact cosine then reranks candidates and applies `minCosine`.
    *
    * The LSH stage makes this a DEFINED estimator, not an approximation
    * of convenience: the band family is deterministic arithmetic, so any
    * engine reproduces the exact candidate set (the DuckDB oracle does).
    * Recall against the exact all-pairs form rises with pair cosine —
    * band-collision probability is (1−θ/π)^bandBits per band — so true
    * near-duplicates (cos ≥ ~0.9) are found with high probability while
    * unrelated pairs rarely generate candidates; DedupSpec measures
    * recall vs [[embeddingPairsExact]].
    *
    * Scale: shuffle keys are (band, bandValue) ints; the distinct
    * candidate shuffle carries 16-byte id pairs; vectors re-attach by id
    * join for the rerank. At 100 TB widen `bandBits` (bucket count 2^bits
    * per band) to keep bucket occupancy bounded. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, bands: Int = 4, bandBits: Int = 8): DataFrame = {
    val st = embeddingStages(df, idCol, vecCol, minCosine, bands, bandBits)
    val cross = st.gidPairs
      .join(st.members.as("ma"), col("gid_a") === col("ma.gid"))
      .join(st.members.as("mb"), col("gid_b") === col("mb.gid"))
      .select(least(col("ma.id"), col("mb.id")).as("id_a"),
        greatest(col("ma.id"), col("mb.id")).as("id_b"), col("cos"))
    // exact-duplicate vectors: every within-group pair; cos is the
    // rep's self-cosine (identical member vectors → identical value,
    // and sqrt(s)·sqrt(s) ≠ s in IEEE, so it is computed, not lit(1.0))
    val selfCos = st.reps.where(col("n_members") > 1)
      .withColumn("cos",
        GraftFunctions.cosine(df.sparkSession, col("x"), col("x")))
      .where(col("cos") >= minCosine) // guards the zero vector (NaN cos)
      .select(col("gid"), col("cos"))
    val intra = selfCos
      .join(st.members.as("x"), "gid")
      .join(st.members.as("y"),
        col("x.gid") === col("y.gid") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"), col("cos"))
    cross.unionByName(intra)
      .select(col("id_a"), col("id_b"),
        expr("CAST(ROUND(cos, 4) AS DOUBLE)").as("cos_sim"))
  }

  /** The staged internals of the embedding-LSH family: exact-duplicate
    * VECTORS collapse to one representative per distinct value (gid =
    * md5 of the packed IEEE-754 bytes, [[graft.plans.Sketches.vecDigest]]
    * — 128-bit, no birthday collisions at corpus scale, null-element
    * safe) before banding, the [[simhashStages]] discipline on the
    * vector side. `reps` — the distinct-vector corpus that every
    * downstream stage (banding self-join, cosine re-attach joins,
    * cluster self-edges, final membership join) scans — is
    * `localCheckpoint`ed once, so the scan+digest+shuffle pipeline runs
    * one time instead of once per consumer. */
  private[graft] final case class EmbedStages(
      members: DataFrame, // (id, gid) — membership map
      reps: DataFrame,    // (gid, rid, x, n_members)
      gidPairs: DataFrame // (gid_a, gid_b, rid_a, rid_b, cos >= minCosine)
  )

  private[graft] def embeddingStages(df: DataFrame, idCol: String,
      vecCol: String, minCosine: Double, bands: Int,
      bandBits: Int): EmbedStages = {
    val spark = df.sparkSession
    val planes = bands * bandBits
    require(planes <= 63, s"bands*bandBits must fit a long, got $planes")
    val v = df
      .select(col(idCol).as("id"), Vectors.toDouble(col(vecCol)).as("x"))
      .withColumn("gid", GraftFunctions.vecDigest(spark, col("x")))
    val members = v.select(col("id"), col("gid"))
    val reps = v.groupBy("gid").agg(min(col("id")).as("rid"),
      first(col("x")).as("x"), count(lit(1)).as("n_members"))
      .localCheckpoint()
    val mask = (1L << bandBits) - 1
    val banded = reps
      .withColumn("bkt", GraftFunctions.lshBucket(spark, col("x"), planes))
      .select(col("gid"), col("rid"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("bkt"), b * bandBits).bitwiseAND(lit(mask))): _*))
          .as(Seq("b", "bv")))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.b") === col("b.b") && col("a.bv") === col("b.bv") &&
          col("a.rid") < col("b.rid"))
      .select(col("a.gid").as("gid_a"), col("b.gid").as("gid_b"),
        col("a.rid").as("rid_a"), col("b.rid").as("rid_b"))
      .distinct()
    val vg = reps.select(col("gid"), col("x"))
    val gidPairs = cand
      .join(vg.as("va"), col("gid_a") === col("va.gid"))
      .join(vg.as("vb"), col("gid_b") === col("vb.gid"))
      .select(col("gid_a"), col("gid_b"), col("rid_a"), col("rid_b"),
        GraftFunctions.cosine(spark, col("va.x"), col("vb.x")).as("cos"))
      .where(col("cos") >= minCosine)
    EmbedStages(members, reps, gidPairs)
  }

  /** Gid-level embedding near-dup pairs — the no-expansion contract
    * ([[minhashPairsByGroup]]'s sibling): (gid_a, gid_b, cos_sim) per
    * pair of distinct vector VALUES. Pair with [[embeddingMembership]]
    * or go straight to [[embeddingClusters]]. */
  def embeddingPairsByGroup(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, bands: Int = 4, bandBits: Int = 8): DataFrame =
    embeddingStages(df, idCol, vecCol, minCosine, bands, bandBits).gidPairs
      .select(col("gid_a"), col("gid_b"),
        expr("CAST(ROUND(cos, 4) AS DOUBLE)").as("cos_sim"))

  /** The (id → vector-value group id) membership map for
    * [[embeddingPairsByGroup]] — row-local. */
  def embeddingMembership(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        Vectors.toDouble(col(vecCol)).as("x"))
      .select(col("id"),
        GraftFunctions.vecDigest(df.sparkSession, col("x")).as("gid"))

  /** Embedding (SemDeDup-style) duplicate clusters WITHOUT member
    * expansion: CC over representative ids of distinct vector values,
    * one membership join at the end. Identical output to
    * `duplicateClusters(embeddingPairs(...))`. */
  def embeddingClusters(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, bands: Int = 4, bandBits: Int = 8): DataFrame = {
    val st = embeddingStages(df, idCol, vecCol, minCosine, bands, bandBits)
    val cross = st.gidPairs.select(col("rid_a").as("a"), col("rid_b").as("b"))
    // duplicated vectors pair with themselves iff their self-cosine
    // clears the threshold (it always does except the NaN zero vector,
    // which the expanded form also drops)
    val self = st.reps.where(col("n_members") > 1)
      .where(GraftFunctions.cosine(df.sparkSession, col("x"), col("x"))
        >= minCosine)
      .select(col("rid").as("a"), col("rid").as("b"))
    val repClusters = duplicateClusters(cross.unionByName(self), "a", "b")
    st.members
      .join(st.reps.select(col("gid"), col("rid")), "gid")
      .join(repClusters, col("rid") === repClusters("doc_id"))
      .select(col("id").as("doc_id"), col("cluster_id"))
  }

  /** Connected components over a near-duplicate pair stream: every doc
    * in the pair graph gets its cluster's canonical (min) id — the step
    * that turns pairwise near-dup detection into "keep one per cluster"
    * (pairs alone over-delete: a~b and b~c must not drop both b and c
    * independently of a).
    *
    * Sizing: the distinct bidirectional edges are checkpointed once, and
    * the edge count observed on that job picks the partition count, one
    * per [[edgesPerPartition]] edges (capped at
    * spark.sql.shuffle.partitions).
    *
    * Integral ids, one partition (under 2M edges): a union-find over
    * the whole edge table in one task IS the answer. A union always
    * hangs the larger root under the smaller one, so every set's root
    * is its minimum id; with every edge in the one partition, every set
    * is a whole component, and each node's root is its cluster id. The
    * (node, root) rows are checkpointed and returned: two checkpoints,
    * no repartition and no propagation rounds.
    *
    * Integral ids, several partitions: the same union-find runs per
    * partition (phase 1), collapsing the structure local to each; its
    * (node → local min-id root) rows form a star graph with exactly the
    * original components, so the propagation below runs over stars
    * instead of raw chains and dense neighborhoods contract before any
    * round pays a shuffle. Non-integral ids cannot enter the primitive
    * union-find maps: the distinct ids are numbered, the numbered graph
    * takes the integral path, and each cluster's min original id
    * becomes its cluster id.
    *
    * Propagation: min-label propagation with pointer jumping, as
    * iterative DataFrame joins. Each round does (a) one-hop neighbor
    * propagation (edges⋈labels, min-aggregate by destination) and
    * (b) path halving — label := min(label, label(label)) via a
    * self-join of the label table. The jumps shorten dense and
    * id-ordered components, but a chain-like component with arbitrary
    * ids still takes O(diameter) rounds (a 60-node chain up to ~30),
    * which is why only the per-partition stars come here. Every
    * round's result is `localCheckpoint`ed: iterative plans otherwise
    * accumulate lineage and the driver's plan/codegen work grows without
    * bound (observed: heap exhaustion within a few rounds). The only
    * driver-side value per round is the exact label sum used for the
    * convergence test, collected as an `observe()` metric on the
    * checkpoint job itself (one Spark job per round, not two) — the
    * graph never leaves the executors (contrast a driver union-find,
    * which dies at corpus scale).
    *
    * @return (doc_id, cluster_id) for every doc appearing in `pairs`. */
  def duplicateClusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 25): DataFrame =
    duplicateClusters(pairs, aCol, bCol, maxIters, edgesPerPartition)

  /** [[duplicateClusters]] with the per-partition edge budget as an
    * argument, so a spec can reach the multi-partition path on a small
    * graph. */
  private[graft] def duplicateClusters(pairs: DataFrame, aCol: String,
      bCol: String, maxIters: Int, edgeBudget: Long): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    import org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint
    val idType = pairs.schema(aCol).dataType
    val (e0, nEdges) = ccDistinctEdges(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst"))))
    val nParts = edgePartitions(pairs.sparkSession, nEdges, edgeBudget)
    def asClusters(df: DataFrame, node: String, label: String) =
      df.select(col(node).cast(idType).as("doc_id"),
        col(label).cast(idType).as("cluster_id"))
    idType match {
      case LongType | IntegerType | ShortType | ByteType if nParts == 1 =>
        val out = asClusters(ccLocalRoots(e0.coalesce(1)), "node", "lroot")
          .localCheckpoint()
        unpersistCheckpoint(e0)
        out
      case LongType | IntegerType | ShortType | ByteType =>
        val edges = ccPartition(e0, nParts)
        val mapping = ccLocalRoots(edges)
        val (star0, nStar) = ccDistinctEdges(
          mapping.select(col("node").as("src"), col("lroot").as("dst"))
            .unionByName(
              mapping.select(col("lroot").as("src"), col("node").as("dst"))))
        val starEdges = ccPartition(star0,
          edgePartitions(pairs.sparkSession, nStar, edgeBudget))
        unpersistCheckpoint(edges)
        asClusters(ccPropagate(starEdges, maxIters), "node", "label")
      case _ =>
        // ids the union-find maps cannot hold: number the distinct
        // nodes, cluster the numbered graph, and give each cluster its
        // min original id (label propagation alone would need
        // O(diameter) rounds on a chain)
        val ids = e0.select(col("src").as("node")).distinct()
          .withColumn("nid", monotonically_increasing_id())
          .localCheckpoint() // pins the numbering: the id is not stable
        val numbered = e0
          .join(ids.select(col("node").as("src"), col("nid").as("a")), "src")
          .join(ids.select(col("node").as("dst"), col("nid").as("b")), "dst")
        val byNid = duplicateClusters(numbered, "a", "b", maxIters, edgeBudget)
        val out = byNid.join(ids, col("doc_id") === col("nid"))
          .select(col("node").as("doc_id"), min(col("node")).over(
            Window.partitionBy(byNid("cluster_id"))).as("cluster_id"))
          .localCheckpoint()
        Seq(e0, ids, byNid).foreach(unpersistCheckpoint)
        out
    }
  }

  /** Edges per partition of the size-partitioned edge tables of
    * [[duplicateClusters]] and [[Graph]]'s PageRank kernel. */
  private[graft] val edgesPerPartition = 2000000L

  /** Partition count for an edge table of `nEdges` rows: one per
    * `budget` edges, at least 1, at most spark.sql.shuffle.partitions.
    * A fixed shuffle-partition count would pin EVERY per-round join to
    * that task count — hundreds of near-empty tasks per round on a
    * small graph — while at corpus scale partitions stay size-bound. */
  private[graft] def edgePartitions(spark: org.apache.spark.sql.SparkSession,
      nEdges: Long, budget: Long = edgesPerPartition): Int = {
    val maxParts = spark.sessionState.conf.numShufflePartitions.toLong
    math.max(1L, math.min(maxParts, nEdges / budget + 1)).toInt
  }

  /** Distinct + checkpoint an edge stream (input must already contain
    * both directions); the edge count rides the checkpoint job as an
    * observe metric. */
  private def ccDistinctEdges(bidir: DataFrame): (DataFrame, Long) = {
    val obs0 = org.apache.spark.sql.Observation()
    val e0 = bidir.distinct()
      .observe(obs0, count(lit(1)).as("n"))
      .localCheckpoint()
    (e0, obs0.get("n").asInstanceOf[Long])
  }

  /** Hash-partition a [[ccDistinctEdges]] table by `src` into `nParts`
    * and checkpoint it, freeing the input. localCheckpoint preserves
    * the hash partitioning, so the edge table — the BIG side, constant
    * across rounds — shuffles once here instead of once per round. */
  private def ccPartition(e0: DataFrame, nParts: Int): DataFrame = {
    val edges = e0.repartition(nParts, col("src")).localCheckpoint()
    org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(e0)
    edges
  }

  /** Union-find per partition of an integral (src, dst) edge table
    * (executor-side; memory bounded by the partition's node count):
    * (node, lroot) for every node of the partition, lroot the min id of
    * its set among the partition's edges. Self-loop inputs (a
    * duplicated rep pairing with itself) survive as (n, n) rows, so
    * singleton components keep their label row. */
  private def ccLocalRoots(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x0: Long): Long = {
          var x = x0
          while (parent.getOrElse(x, x) != x) x = parent(x)
          var y = x0 // path compression
          while (y != x) { val nxt = parent(y); parent(y) = x; y = nxt }
          x
        }
        it.foreach { case (s, d) =>
          parent.getOrElseUpdate(s, s)
          parent.getOrElseUpdate(d, d)
          val rs = find(s); val rd = find(d)
          if (rs < rd) parent(rd) = rs
          else if (rd < rs) parent(rs) = rd
        }
        parent.keys.toArray.iterator.map(n => (n, find(n)))
      }
      .toDF("node", "lroot")
  }

  /** Min-label propagation with pointer jumping over a prepared
    * ([[ccPartition]]) edge table; returns (node, label) for every
    * node appearing as `src` (with bidirectional input: every node).
    * Unpersists `edges` before returning; the returned labels are a
    * self-contained checkpoint. */
  private def ccPropagate(edges: DataFrame, maxIters: Int): DataFrame = {
    // convergence via the label-sum invariant: every round takes a MIN
    // over a superset of each node's current label, so labels are
    // per-node non-increasing — the (exact, decimal) sum is unchanged
    // iff every label is. The sum rides the checkpoint materialization
    // job as an observe() metric, so each round runs exactly ONE job
    // (previously checkpoint + a separate aggregate action per round).
    var obsId = 0
    def checkpointWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      obsId += 1
      val obs = org.apache.spark.sql.Observation(s"cc_labelsum_$obsId")
      val ck = df
        .observe(obs, sum(col("label").cast("decimal(38,0)")).as("lsum"))
        .localCheckpoint() // eager: runs the job, so obs.get is ready
      val s = Option(obs.get("lsum").asInstanceOf[java.math.BigDecimal])
        .getOrElse(java.math.BigDecimal.ZERO)
      (ck, s)
    }
    var (labels, prevSum) = checkpointWithSum(
      edges.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")))
    // one propagation round, as pure transformations: one-hop neighbor
    // min, then pointer jumping — chase TWO indirections (labels are
    // node ids, so every label has a row in `hop`) keeping the min at
    // each step; the second jump join reuses the first's `jump`-side
    // exchange (same subplan), so it costs one extra join inside the
    // same job rather than a whole extra round
    def round(labels: DataFrame): DataFrame = {
      val fromNbr = edges.join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("label"))
      val hop = labels.unionByName(fromNbr)
        .groupBy("node").agg(min("label").as("label"))
      val jump = hop.select(col("node").as("pnode"), col("label").as("plabel"))
      val j1 = hop.join(jump, col("label") === col("pnode"))
        .select(col("node"), least(col("label"), col("plabel")).as("label"))
      j1.join(jump, col("label") === col("pnode"))
        .select(col("node"), least(col("label"), col("plabel")).as("label"))
    }
    var iter = 0
    var changed = true
    while (changed && iter < maxIters) {
      // ONE round per checkpoint + convergence check. (Measured
      // alternatives at sf0.1: unrolling round(round(_)) per
      // checkpoint halves the job count but the inner round's `hop`
      // subtree has three consumers, and without guaranteed exchange
      // reuse the doubled-depth plan re-executes it — net slower; a
      // two-edge-hop round similarly paid more in extra shuffles than
      // it saved in rounds.)
      val (next, nextSum) = checkpointWithSum(round(labels))
      changed = nextSum.compareTo(prevSum) != 0
      prevSum = nextSum
      // free the superseded generation's checkpoint blocks — otherwise
      // executor storage grows by one full label-table copy per round
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(labels)
      labels = next
      iter += 1
    }
    org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(edges)
    // an unconverged exit would silently split one true component into
    // several clusters (keepCanonical then under-deletes) — fail instead
    // (after freeing the edge checkpoint, so a same-session retry does
    // not accumulate leaked generations)
    if (changed) {
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(labels)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIters rounds — " +
          "raise maxIters")
    }
    labels.select(col("node"), col("label"))
  }

  /** Apply [[duplicateClusters]] output to a corpus: drop every doc
    * that belongs to a cluster but is not its canonical id. Docs in no
    * cluster (never paired) pass through untouched — a left-anti join
    * against the non-canonical members, key-partitioned on the id. */
  def keepCanonical(df: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame = {
    val losers = clusters
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    df.join(losers, df(idCol) === losers("doc_id"), "left_anti")
  }

  /** [[keepCanonical]]'s QUALITY-aware sibling: within each duplicate
    * cluster keep the highest-`scoreCol` member (ties → min id), not
    * the min id — production dedup keeps the BEST copy of a page (the
    * longest extraction, the highest quality score), and min-id keep
    * silently biases the corpus toward whichever copy was crawled
    * first. One window over the cluster table joined to the scores
    * (state bounded by cluster sizes, never corpus-wide), then the
    * same left-anti losers join; docs in no cluster pass untouched. */
  def keepBest(df: DataFrame, idCol: String, clusters: DataFrame,
      scoreCol: String): DataFrame = {
    val w = Window.partitionBy("cluster_id")
      .orderBy(col(scoreCol).desc, col("doc_id").asc)
    val losers = clusters
      .join(df.select(col(idCol).as("doc_id"), col(scoreCol)), "doc_id")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") =!= 1)
      .select(col("doc_id"))
    df.join(losers, df(idCol) === losers("doc_id"), "left_anti")
  }

  /** Directed n-gram CONTAINMENT near-dup pairs: C(a→b) = |A∩B| / |A|
    * — the asymmetric sibling of [[ngramJaccardPairs]] that catches a
    * document EMBEDDED in a larger one (quotes, scraped inclusions,
    * boilerplate-wrapped copies), which symmetric Jaccard misses
    * because the union term punishes the size gap.
    *
    * The same inverted-index core as the Jaccard form
    * ([[plainPairCounts]]); both directed containments then derive from
    * the one undirected count ([[containmentRows]]). No size-ratio
    * prune exists here ON PURPOSE: for any sizes the smaller side can
    * still be fully contained, so a Jaccard-style min/max cut would
    * drop true pairs. Packing contract as [[ngramJaccardPairs]]. */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, n: Int = 2, minContainment: Double = 0.8,
      dfBudget: Long = plainFormDfBudget): DataFrame =
    containmentRows(plainPairCounts(df, idCol, textCol, groupCol, n,
      dfBudget, "ngramContainmentPairs", None), minContainment)

  /** EXACT SUBSTRING dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", ExactSubstr): remove every
    * ≥k-token span that occurs more than once ANYWHERE in the corpus,
    * keeping the rest of each document — the curation step between
    * whole-doc exact dedup and fuzzy near-dedup. The paper removes all
    * occurrences of a duplicated span (not all-but-one); this does too.
    *
    * Where the paper builds one giant suffix array, the distributed
    * equivalent rides a k-token sliding-window posting table: a span of
    * length ≥ k is duplicated iff each of its k-windows is duplicated,
    * so marking every token covered by a dup k-window excises exactly
    * the maximal duplicated spans (plus nothing else — a window that
    * appears once covers nothing). Costs: one posexplode (n_tokens
    * windows per doc), one count per 60-bit window hash (the only
    * shuffle, keyed on the hash), one per-doc sorted start-list
    * (bounded by doc length), and a row-local coverage filter. Nothing
    * all-pairs, nothing driver-side; the md5-60-bit window hash is the
    * repo's engine-portable family, so the DuckDB oracle reproduces
    * the kept text byte-for-byte.
    *
    * Output: (doc_id, n_tokens, n_removed, kept_text) — kept_text is
    * the doc's surviving tokens space-joined (tokenization is
    * [[TextAnalysis.tokens]]: lowercase, whitespace-split). Docs
    * shorter than k tokens pass through untouched. */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    require(k >= 2, s"substringDedup: k must be >= 2, got $k")
    // r17: the per-window md5-60-bit hashes come from ONE native
    // kernel call per doc (position order, so posexplode yields the
    // identical (pos, gh) rows) — replacing the interpreted
    // transform+array_join+MD5+CONV chain and the per-window STRING
    // rows feeding the explode. See Sketches.winHashes.
    val toks = df.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("w"))
    val wins = toks
      .where(size(col("w")) >= k)
      .select(col("doc_id"),
        posexplode(graft.plans.GraftFunctions.winHashes(df.sparkSession,
          col("w"), k)).as(Seq("pos", "gh")))
    // global occurrence count ≥ 2 — a within-doc repeat is a duplicate
    // too (the paper's semantics); the count's group key is the 60-bit
    // hash, never the window text
    val dupStarts = wins
      .join(wins.groupBy("gh").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 2L).select("gh"), "gh")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    toks.join(dupStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("w")).as("n_tokens"),
        expr(
          s"""CASE WHEN starts IS NULL THEN w ELSE
             |  filter(transform(w, (t, p) ->
             |    IF(exists(starts, s -> s <= p AND p < s + $k), NULL, t)),
             |    t -> t IS NOT NULL)
             |END""".stripMargin).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("int").as("n_removed"),
        array_join(col("kept"), " ").as("kept_text"))
  }

  /** [[ngramContainmentPairs]] with PPJoin-style prefix filtering — the
    * scale-safe form. The plain inverted-index join streams Σdf² pairs,
    * which a single df=1M stopword bigram turns into 10¹² rows; this
    * form probes with only the SMALLER doc's rarest-gram prefix.
    *
    * Why a prefix works here even though the Jaccard SIZE-RATIO prune
    * provably can't (a contained doc can be any size): C(a→b) ≥ t with
    * n_a ≤ n_b needs inter ≥ ⌈t·n_a⌉ shared grams, so by pigeonhole at
    * least one of them sits inside a's rarest n_a − ⌈t·n_a⌉ + 1 grams
    * (at t = 0.8 that prefix is ~20% of the doc). The reverse direction
    * rides along free: C(b→a) ≥ t from the larger side forces
    * inter ≥ t·n_b ≥ t·n_a, so every qualifying pair — either
    * direction — collides inside the smaller side's prefix. Candidate
    * generation therefore joins prefix(smaller) × full ranked posting,
    * keyed smaller-side (ties on the packed key), with the positional
    * bound min(n_a − rnk_a, n_b − rnk_b) + 1 ≥ ⌈t·n_a⌉: ranks are
    * positions in the shared rarest-first (df, gram) order, so grams
    * common from (rnk_a, rnk_b) onward cannot exceed that min
    * (capped-out hot grams are ≤ n − capped_rank by construction,
    * keeping the bound valid under maxDf). Verification is the exact
    * count of [[prefixPairCounts]]; every emitted pair carries true
    * values and, with `maxDf = None`, the result set EQUALS
    * [[ngramContainmentPairs]] (property spec in DedupSpec).
    *
    * `maxDf` is the same lossy opt-in dial as on
    * [[ngramJaccardPairsPrefix]]: grams with df > maxDf never generate
    * candidates, bounding the worst-case posting list; a qualifying
    * pair is missed only if every gram the prefix shares with the
    * partner is capped. At 100 TB this is the switch that keeps the
    * head of the gram distribution out of the join entirely. */
  def ngramContainmentPairsPrefix(df: DataFrame, idCol: String,
      textCol: String, groupCol: String, n: Int = 2,
      minContainment: Double = 0.8, maxDf: Option[Long] = None): DataFrame =
    containmentRows(prefixPairCounts(df, idCol, textCol, groupCol, n,
      minContainment, maxDf, "ngramContainmentPairsPrefix") { (prefix, ranked) =>
      prefix.as("a").join(ranked.as("b"),
        col("a.gk") === col("b.gk") &&
          (sideLo("a") < sideLo("b") ||
            (sideLo("a") === sideLo("b") && col("a.pk") < col("b.pk"))) &&
          positionalBound(ceil(round(sideLo("a") * lit(minContainment), 9))))
    }, minContainment)

  /** Incremental embedding near-dup: probe a FRESH ingest batch against
    * the existing corpus — banded hyperplane LSH candidates strictly
    * ACROSS sides (never fresh×fresh or corpus×corpus), exact-cosine
    * rerank. The embedding sibling of [[deltaMinhash]]: per ingest run
    * the corpus is scanned once for banding, the join keys are (band,
    * bucket) ints, and with a small batch AQE broadcasts the fresh
    * side's band table — no corpus shuffle at all. Same deterministic
    * band family as [[embeddingPairs]], so the candidate set is
    * engine-portable (the DuckDB oracle reproduces it). */
  def deltaEmbedding(corpus: DataFrame, fresh: DataFrame, idCol: String,
      vecCol: String, minCosine: Double, bands: Int = 4,
      bandBits: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    val planes = bands * bandBits
    require(planes <= 63, s"bands*bandBits must fit a long, got $planes")
    val mask = (1L << bandBits) - 1
    // band tables carry ONLY (id, band, bucket) — vectors re-attach
    // after the candidate distinct, so corpus vectors are never
    // inflated ×bands through the band shuffle; with a small fresh
    // batch AQE broadcasts both the fresh band table and the candidate
    // set, leaving the corpus scanned (twice) but never shuffled
    def banded(df: DataFrame, side: String) = df
      .select(col(idCol).as(s"id_$side"),
        GraftFunctions.lshBucket(spark,
          Vectors.toDouble(col(vecCol)), planes).as("bkt"))
      .select(col(s"id_$side"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("bkt"), b * bandBits).bitwiseAND(lit(mask))): _*))
          .as(Seq("b", "bv")))
    val cand = banded(corpus, "corpus")
      .join(banded(fresh, "fresh"), Seq("b", "bv"))
      .select(col("id_fresh"), col("id_corpus")).distinct()
    val cx = corpus.select(col(idCol).as("id_corpus"),
      Vectors.toDouble(col(vecCol)).as("x_corpus"))
    val fx = fresh.select(col(idCol).as("id_fresh"),
      Vectors.toDouble(col(vecCol)).as("x_fresh"))
    cand.join(cx, "id_corpus").join(fx, "id_fresh")
      .select(col("id_fresh"), col("id_corpus"),
        GraftFunctions.cosine(spark, col("x_fresh"), col("x_corpus")).as("cos"))
      .where(col("cos") >= minCosine)
      .select(col("id_fresh"), col("id_corpus"),
        expr("CAST(ROUND(cos, 4) AS DOUBLE)").as("cos_sim"))
  }

  /** Exact all-pairs embedding-cosine (O(N²) nested-loop join): the
    * recall oracle for [[embeddingPairs]] in specs. Never run this on a
    * corpus — the plan is a BroadcastNestedLoopJoin by construction. */
  def embeddingPairsExact(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      Vectors.toDouble(col(vecCol)).as("x"))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        GraftFunctions.cosine(df.sparkSession, col("a.x"), col("b.x")).as("cos"))
      .where(col("cos") >= minCosine)
      .select(col("id_a"), col("id_b"),
        expr("CAST(ROUND(cos, 4) AS DOUBLE)").as("cos_sim"))
  }
}
