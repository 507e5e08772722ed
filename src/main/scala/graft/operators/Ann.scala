package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Vectors
import graft.plans.GraftFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - [[bruteForceTopK]]: exact baseline. The query side is broadcast
  *    (Q rows), the candidate side streams per-partition — no shuffle of
  *    the big side; the only shuffled data is Q·N (id, cos) pairs pruned
  *    by the per-query top-k window. Good to ~10⁴ queries × any N.
  *  - [[lshTopK]]: the scale path — 16 deterministic hyperplanes hash
  *    every vector to a bucket; candidates meet queries via a bucket
  *    equi-join (key-partitioned), then exact cosine reranks inside the
  *    bucket. Recall is tunable by planes/probes; the point is the join
  *    is O(bucket²·buckets), never Q·N.
  *
  * Hyperplane weights are a deterministic LCG of (plane, dim) — pure
  * arithmetic reproducible on any engine, no seed table to ship.
  */
object Ann {

  /** bucket id from 16 deterministic hyperplane signs (dimension-agnostic:
    * plane weights are seeded by p*1024+d, so any vector length < 1024
    * gets a consistent plane family). */
  def lshBucket(vecCol: String, planes: Int = 16): Column =
    expr(
      s"""aggregate(sequence(0, ${planes - 1}), CAST(0 AS BIGINT), (acc, p) ->
         |  acc + IF(
         |    aggregate(sequence(0, size($vecCol) - 1), CAST(0.0 AS DOUBLE), (s, d) ->
         |      s + element_at($vecCol, d + 1) *
         |        ((CAST((CAST(1103515245 AS BIGINT) * (p * 1024 + d) + 12345) % 2147483648 AS DOUBLE)
         |          / 2147483648.0) * 2.0 - 1.0)) >= 0.0,
         |    shiftleft(CAST(1 AS BIGINT), p), CAST(0 AS BIGINT)))""".stripMargin)

  private def ranked(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("cos"), 6).desc, col("neighbor_id").asc)
    pairs
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        // + 0.0 normalizes IEEE negative zero: ROUND of a tiny negative
        // cosine yields -0.0, which hash-compares unequal to the
        // oracle's 0.0 (shows up only at larger SFs)
        expr("CAST(ROUND(cos, 4) + 0.0 AS DOUBLE)").as("cos_r"))
  }

  /** Exact top-k: for each query vector, the k candidates with highest
    * cosine (ties by id). Queries are broadcast; the Q·N similarity loop
    * runs as the native codegen'd graft_cosine expression. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    def prep(df: DataFrame, id: String) =
      df.select(col(idCol).as(id), Vectors.toDouble(col(vecCol)).as(s"x_$id"))
    val q = prep(queries, "query_id")
    val c = prep(candidates, "neighbor_id")
    val pairs = c.join(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        GraftFunctions.cosine(candidates.sparkSession,
          col("x_query_id"), col("x_neighbor_id")).as("cos"))
    ranked(pairs, k)
  }

  /** RADIUS (range) search: every (query, candidate) pair whose cosine
    * similarity clears `minCosine` — the "find everything near this
    * centroid / probe" primitive that backs threshold-based near-dup
    * sweeps, where top-k's fixed cutoff is the wrong contract (a dup
    * cluster of 200 needs 200 hits, not 10).
    *
    * Same scale shape as [[bruteForceTopK]]: only the (small) query set
    * broadcasts; the corpus side streams through the codegen'd cosine
    * and the threshold filter without ever shuffling. The filter
    * compares the cosine ROUNDED to 6 decimals against the threshold —
    * a raw-double compare would let a last-ulp engine difference flip
    * membership for a pair sitting exactly on the boundary. */
  def rangeSearch(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, minCosine: Double): DataFrame = {
    def prep(df: DataFrame, id: String) =
      df.select(col(idCol).as(id), Vectors.toDouble(col(vecCol)).as(s"x_$id"))
    val q = prep(queries, "query_id")
    prep(candidates, "neighbor_id").join(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        GraftFunctions.cosine(candidates.sparkSession,
          col("x_query_id"), col("x_neighbor_id")).as("cos"))
      .where(round(col("cos"), 6) >= minCosine)
      .select(col("query_id"), col("neighbor_id"),
        expr("CAST(ROUND(cos, 4) + 0.0 AS DOUBLE)").as("cos_r"))
  }

  /** Spherical k-means (Lloyd's) centroid training, as DataFrame ops:
    * assignment is a broadcast join + per-vector argmax window, the
    * update is a per-(cell, dimension) mean. Everything is deterministic
    * so any engine reproduces the centroids bit-for-bit:
    *  - seeds are the `k` lowest-id vectors (TakeOrderedAndProject — a
    *    per-partition top-k merge, no global sort; at corpus scale seed
    *    from a sample instead);
    *  - assignment ties break on rounded cosine then cell id;
    *  - the mean rounds each component to 9 decimals and sums as
    *    DECIMAL(38,9) — exact integer arithmetic, so the result is
    *    independent of partial-aggregate tree shape AND identical to
    *    any other engine applying the same round-then-decimal-sum.
    * The update is a plain two-phase aggregate over (cid, dim) rows:
    * posexplode is row-local, every aggregation buffer holds one
    * (count, decimal-sum) pair — cell population never materializes in
    * memory, so the step survives cells of any size (the previous
    * collect_list-per-cell fold held ~N/k vectors in one buffer).
    * Cosine assignment + unnormalized mean = spherical k-means (cosine
    * ignores the mean's norm), monotone in the usual Lloyd sense.
    * Cells that lose all members drop out (both engines identically).
    * The ROUND(·, 9) perturbs each summand by <5e-10 — far inside the
    * round(cos, 6) assignment/ranking granularity downstream.
    *
    * @return (idCol = cell id 0..k-1, vecCol = centroid) — directly
    *         usable as [[ivfTopK]]'s `centroids` input. */
  def trainCentroids(candidates: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 2): DataFrame = {
    val spark = candidates.sparkSession
    val v = candidates.select(col(idCol).as("id"),
      Vectors.toDouble(col(vecCol)).as("x"))
    var cent = v.orderBy(col("id")).limit(k)
      .withColumn("cid",
        (row_number().over(Window.orderBy(col("id"))) - 1).cast("int"))
      .select(col("cid"), col("x").as("cx"))
    for (_ <- 1 to iters) {
      val wAssign = Window.partitionBy("id")
        .orderBy(round(col("ccos"), 6).desc, col("cid").asc)
      val assigned = v.join(broadcast(cent))
        .withColumn("ccos", GraftFunctions.cosine(spark, col("x"), col("cx")))
        .withColumn("crn", row_number().over(wAssign))
        .where(col("crn") === 1)
        .select(col("cid"), col("id"), col("x"))
      // per-(cid, dim) two-phase mean; the only shuffle keys are
      // (cid, dim) and the final per-cell reassembly collects at most
      // `dim` (count, mean) pairs — bounded by vector width, not N.
      cent = assigned
        .select(col("cid"), posexplode(col("x")).as(Seq("d", "v")))
        .groupBy("cid", "d")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(v, 9) AS DECIMAL(38,9))")).as("s"))
        .withColumn("m", expr("CAST(s AS DOUBLE) / n"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("dm"))
        .select(col("cid"), expr("transform(dm, p -> p.m)").as("cx"))
    }
    cent.select(col("cid").as(idCol), col("cx").as(vecCol))
  }

  /** IVF (inverted-file) ANN: candidates are partitioned into coarse
    * cells by nearest centroid; a query probes its `nprobe` nearest
    * cells and searches only those lists — the index-build is one
    * broadcast-join pass, the search cost drops from N to
    * N·nprobe/cells. Pass [[trainCentroids]] output (or any centroid
    * table) as `centroids`.
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 2): DataFrame = {
    val spark = candidates.sparkSession
    def prep(df: DataFrame, id: String) =
      df.select(col(idCol).as(id), Vectors.toDouble(col(vecCol)).as(s"x_$id"))
    val cent = prep(centroids, "cid")
    def assign(df: DataFrame, id: String, keep: Int) = {
      val w = Window.partitionBy(id)
        .orderBy(round(col("ccos"), 6).desc, col("cid").asc)
      df.join(broadcast(cent))
        .withColumn("ccos",
          GraftFunctions.cosine(spark, col(s"x_$id"), col("x_cid")))
        .withColumn("crn", row_number().over(w))
        .where(col("crn") <= keep)
        .select(col(id), col(s"x_$id"), col("cid"))
    }
    val lists = assign(prep(candidates, "neighbor_id"), "neighbor_id", 1)
    val probes = assign(prep(queries, "query_id"), "query_id", nprobe)
    val pairs = lists.join(probes, "cid")
      .select(col("query_id"), col("neighbor_id"),
        GraftFunctions.cosine(spark, col("x_query_id"), col("x_neighbor_id"))
          .as("cos"))
    ranked(pairs, k)
  }

  /** LSH-bucketed ANN: candidates restricted to the query's bucket(s),
    * then exact rerank.
    *
    * `probes` > 0 enables multi-probe: each query additionally searches
    * the buckets at Hamming distance 1 on the first `probes` planes
    * (classic multi-probe LSH — near neighbors that straddle one
    * hyperplane land one bit-flip away). Recall rises with probes while
    * the join stays a key-partitioned equi-join: the QUERY side fans
    * out ×(probes+1) (queries are the small side and broadcast), the
    * candidate side — the 100 TB side — is never replicated. Probe
    * buckets are distinct values, so no pair dedup is needed before the
    * rerank. */
  /** kNN GRAPH over one table: every vector's k nearest neighbors
    * among all the others — the input to embedding-space clustering,
    * label propagation, and graph-based dedup. Same multi-probe LSH
    * candidate generation as [[lshTopK]], but as a bucket SELF-join:
    * with queries == corpus there is no small side to broadcast, so
    * both sides shuffle by bucket key once and meet co-partitioned —
    * the shape that survives a corpus-sized query set (broadcasting
    * the probe side here would be the classic 100 TB OOM). The probe
    * side fans out ×(probes+1) before its shuffle; the candidate side
    * is never replicated. Self-pairs are excluded; rank/cos follow the
    * [[lshTopK]] contract, so results are deterministic (rounded-cos,
    * id tie-break). */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int,
      probes: Int = 2): DataFrame = {
    require(probes >= 0 && probes <= 16,
      s"probes must be 0..16 (one per hyperplane): $probes")
    val spark = df.sparkSession
    val base = df
      .select(col(idCol).as("nid"), Vectors.toDouble(col(vecCol)).as("x"))
      .withColumn("bkt", GraftFunctions.lshBucket(spark, col("x")))
    val probed = base.select(col("nid").as("query_id"), col("x").as("xq"),
      explode(probeBuckets("bkt", probes)).as("probe_bkt"))
    val pairs = base
      .join(probed,
        col("probe_bkt") === col("bkt") && col("query_id") =!= col("nid"))
      .select(col("query_id"), col("nid").as("neighbor_id"),
        GraftFunctions.cosine(spark, col("xq"), col("x")).as("cos"))
    ranked(pairs, k)
  }

  /** Home bucket + single-bit-flip probe buckets as ONE array column —
    * the probe scheme shared by [[lshTopK]] and [[knnGraph]] (and
    * mirrored by their oracles); keeping it in one place means a future
    * probe-scheme change cannot desynchronize the two ANN surfaces.
    * `sequence(0, -1)` DESCENDS in Spark, so probes = 0 takes its own
    * branch rather than an empty transform. */
  private def probeBuckets(bktCol: String, probes: Int): Column =
    if (probes == 0) array(col(bktCol))
    else expr(
      s"""concat(array($bktCol),
         |  transform(sequence(0, ${probes - 1}),
         |    p -> $bktCol ^ shiftleft(CAST(1 AS BIGINT), p)))""".stripMargin)

  def lshTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, probes: Int = 0): DataFrame = {
    require(probes >= 0 && probes <= 16,
      s"probes must be 0..16 (one per hyperplane): $probes")
    def prep(df: DataFrame, id: String) =
      df.select(col(idCol).as(id), Vectors.toDouble(col(vecCol)).as(s"x_$id"))
        .withColumn(s"bkt_$id",
          GraftFunctions.lshBucket(df.sparkSession, col(s"x_$id")))
    val q0 = prep(queries, "query_id")
    val q = q0.withColumn("probe_bkt",
      explode(probeBuckets("bkt_query_id", probes)))
    val c = prep(candidates, "neighbor_id")
    val pairs = c.join(broadcast(q), col("probe_bkt") === col("bkt_neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        GraftFunctions.cosine(candidates.sparkSession,
          col("x_query_id"), col("x_neighbor_id")).as("cos"))
    ranked(pairs, k)
  }

  /** Scalar quantization (SQ8): compress each vector to one byte per
    * dimension against per-dimension [min, max] ranges learned from the
    * corpus — the standard 4× memory cut (float32 → uint8) that lets an
    * in-memory ANN index hold 4× more vectors before sharding.
    *
    * Returns the input plus `sq_code` (array<int>, the byte codes) and
    * `sq_dq` (array<double>, the dequantized reconstruction used for
    * scoring). Plan shape: the range stats are ONE posexplode aggregate
    * whose buffer is a (min, max) pair per dimension — never a vector
    * set — collapsed to a single broadcastable param row; quantization
    * itself is a row-local codegen'd transform. Nothing here is bounded
    * by corpus size except the one dim-keyed stats aggregate.
    *
    * Dims where max == min carry zero information and encode as 0. */
  def sqQuantize(df: DataFrame, vecCol: String): DataFrame = {
    val spark = df.sparkSession
    val stats = df
      .select(posexplode(Vectors.toDouble(col(vecCol))).as(Seq("d", "v")))
      .groupBy("d").agg(min("v").as("mn"), max("v").as("mx"))
      .agg(
        expr("transform(array_sort(collect_list(struct(d, mn))), s -> s.mn)")
          .as("sq_mns"),
        expr("transform(array_sort(collect_list(struct(d, mx))), s -> s.mx)")
          .as("sq_mxs"))
    // ONE transform computes (code, dq) pairs; sq_code/sq_dq project out
    // of it. Deriving sq_dq FROM a separate sq_code column looks natural
    // but is quadratic: Catalyst inlines the referenced column, so every
    // sq_dq element re-evaluates the whole 64-element code transform
    // (64× per row — measured 6.9s for 5k rows; this shape is ~0.1s).
    val t = s"""IF(sq_mxs[d] = sq_mns[d], 0.0D,
               |  (CAST($vecCol[d] AS DOUBLE) - sq_mns[d])
               |    / (sq_mxs[d] - sq_mns[d]) * 255.0D)""".stripMargin
    df.crossJoin(broadcast(stats))
      .withColumn("sq_pair", expr(
        s"""transform(sequence(0, size($vecCol) - 1), d -> named_struct(
           |  'code', CAST(ROUND($t, 0) AS INT),
           |  'dq', sq_mns[d] + ROUND($t, 0)
           |          * (sq_mxs[d] - sq_mns[d]) / 255.0D))""".stripMargin))
      .withColumn("sq_code", expr("transform(sq_pair, s -> s.code)"))
      .withColumn("sq_dq", expr("transform(sq_pair, s -> s.dq)"))
      .drop("sq_pair", "sq_mns", "sq_mxs")
  }

  /** Asymmetric top-k over SQ8 codes: exact (full-precision) queries
    * scored against dequantized candidates — the ADC setup. Same
    * broadcast/stream shape as [[bruteForceTopK]].
    *
    * The quantized corpus is MATERIALIZED before the search
    * (localCheckpoint): it is the stored index — quantize once, search
    * many — and without the barrier Catalyst collapses the dequantize
    * transform into the join projection, re-deriving the 64-element
    * chain for every (query, candidate) PAIR instead of once per
    * candidate (measured 9.0s → ~1s at sf0.1). In production the
    * encoded table is a persisted artifact and this cost is off the
    * query path entirely. */
  def sqTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val dq = sqQuantize(candidates, vecCol)
      .select(col(idCol), col("sq_dq").as(vecCol))
      .localCheckpoint()
    bruteForceTopK(queries, dq, idCol, vecCol, k)
  }

  /** Product quantization (PQ) + asymmetric-distance (ADC) search: the
    * vector splits into `m` subspaces, each quantized to one of
    * `codebookK` learned codewords — a vector compresses to m small
    * codes (m bytes at codebookK ≤ 256: 64× less memory than 64
    * float32 dims), and search reads ONLY codes plus a per-query
    * lookup table, never corpus vectors.
    *
    * Codebooks: per-subspace Lloyd k-means (init = the first
    * `codebookK` vectors by id, one update round), assignment by the
    * L2 identity argmin |x−c|² = argmin (c·c − 2x·c) — both terms are
    * native [[graft.plans.Sketches.dot]] dots, so assignment is exact
    * deterministic arithmetic any engine reproduces (round(·,9) +
    * cid tiebreak). Codeword means use exact DECIMAL(38,9) sums, the
    * [[trainCentroids]] discipline, so they are order-independent.
    *
    * ADC: cos(q, x̂) = Σ_s q_s·ĉ_s / (|q|·|x̂|). The per-(query,
    * subspace, codeword) dot table (Q·m·codebookK rows) broadcasts;
    * the codes table joins it map-side and one two-phase aggregate
    * sums the m partials per (query, vector) — partial sums are
    * ROUND(·,9) DECIMAL-exact, so the float result is identical under
    * any aggregation order/partitioning. Like all PQ-ADC, the scan is
    * still O(N·Q) over CODES — the win is memory traffic (m ints vs
    * the full vector), and the production composition is IVF cells ×
    * PQ codes ([[ivfTopK]] supplies the cell pruning).
    *
    * Contract matches the other ANN surfaces: (query_id, neighbor_id,
    * rank, cos_r), rounded-cos rank with id tiebreak. */
  /** IVF-PQ + ADC: the billion-scale composition — coarse IVF cells
    * prune the search to `nprobe` inverted lists, and within a list the
    * candidate is represented by PQ codes of its RESIDUAL (x − cell
    * centroid), so search touches only (cell, m codes) per candidate
    * plus broadcast lookup tables. This is the standard large-index
    * layout (IVFADC): memory per vector is m small ints + one cell id,
    * and recall beats plain PQ at equal code budget because residuals
    * have far less variance than raw vectors.
    *
    * Determinism contract (both engines reproduce bit-for-bit):
    *  - coarse centroids = [[trainCentroids]] (seeded by lowest ids,
    *    round(cos,6) assignment, DECIMAL(38,9) means);
    *  - candidate→cell and query→nprobe-cells assignment by
    *    round(cos,6) desc, cid asc;
    *  - PQ codebooks are SHARED across cells, trained on residuals:
    *    init = the `codebookK` lowest-id residuals' slices, one Lloyd
    *    round with the L2 identity argmin (c·c − 2r·c), round(d2,9) +
    *    cid tiebreak, DECIMAL-exact means ([[pqTopK]]'s discipline);
    *  - ADC scores the RECONSTRUCTION x̂_s = cx_s + ĉ_s per subspace:
    *    cos(q, x̂) = Σ_s q_s·x̂_s / (|q|·sqrt(Σ_s |x̂_s|²)); both sums
    *    fold ROUND(·,9) DECIMAL partials, so the result is independent
    *    of aggregation order and partitioning.
    *
    * Plan shape: everything query-side and codebook-side broadcasts —
    * the (query, cell, s, cid) lookup table is Q·nprobe·m·codebookK
    * rows, bounded by the query set, never the corpus. The corpus-side
    * cost is one coarse-assign pass, one residual-encode pass (both
    * row-local after a broadcast join), and the search join reads ONLY
    * the codes table: a broadcast hash join on (cell, s, cid) followed
    * by one two-phase aggregate keyed (query_id, nid). No corpus
    * vector survives into the search stage. */
  /** The trained IVF-PQ model: coarse centroids, shared residual
    * codebooks, and the encoded corpus — what [[ivfpqTopK]] trains
    * in-flight and [[AnnIndex]] persists. */
  private[graft] final case class IvfPqModel(
      cent: DataFrame,  // (cell, cx)
      cb: DataFrame,    // (s, cid, cs)
      codes: DataFrame) // (nid, cell, s, cid)

  def ivfpqTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, k: Int, cells: Int = 4, nprobe: Int = 2,
      m: Int = 8, codebookK: Int = 8, dim: Int = 64): DataFrame = {
    val model = ivfpqTrain(candidates, idCol, vecCol, cells, m, codebookK, dim)
    ivfpqSearch(queries, model, idCol, vecCol, k, nprobe, m, dim)
  }

  private[graft] def ivfpqTrain(candidates: DataFrame, idCol: String,
      vecCol: String, cells: Int, m: Int, codebookK: Int,
      dim: Int): IvfPqModel = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    val spark = candidates.sparkSession
    def dot(a: Column, b: Column) = GraftFunctions.dot(spark, a, b)
    def slices(x: Column) =
      array((0 until m).map(s => slice(x, s * sub + 1, sub)): _*)

    val cand = candidates.select(col(idCol).as("nid"),
      Vectors.toDouble(col(vecCol)).as("x"))
    // coarse quantizer: spherical k-means, one update round (seeds =
    // lowest-id vectors) — the trainCentroids arithmetic inline so the
    // oracle unrolls the identical steps
    val cent = trainCentroids(candidates, idCol, vecCol, cells, iters = 1)
      .select(col(idCol).cast("int").as("cell"),
        Vectors.toDouble(col(vecCol)).as("cx"))
      .localCheckpoint()
    def assignCell(df: DataFrame, id: String, keep: Int) = {
      val w = Window.partitionBy(id)
        .orderBy(round(col("ccos"), 6).desc, col("cell").asc)
      df.join(broadcast(cent))
        .withColumn("ccos",
          GraftFunctions.cosine(spark, col(s"x_$id"), col("cx")))
        .withColumn("crn", row_number().over(w))
        .where(col("crn") <= keep)
        .select(col(id), col(s"x_$id"), col("cell"), col("cx"))
    }
    // candidates: home cell + residual r = x − cx, sliced per subspace
    val listed = assignCell(cand.select(col("nid"), col("x").as("x_nid")),
        "nid", 1)
      .withColumn("r", expr("zip_with(x_nid, cx, (a, b) -> a - b)"))
      .select(col("nid"), col("cell"), col("r"))
    val rsub = listed.select(col("nid"), col("cell"),
      posexplode(slices(col("r"))).as(Seq("s", "rs")))
    // shared-across-cells PQ codebooks on residuals: init = lowest-id
    // residuals' slices, one L2 Lloyd round, DECIMAL-exact means
    val cb0 = listed.orderBy("nid").limit(codebookK)
      .withColumn("cid",
        (row_number().over(Window.orderBy(col("nid"))) - 1).cast("int"))
      .select(col("cid"), posexplode(slices(col("r"))).as(Seq("s", "cs")))
    def assignCode(cb: DataFrame) = {
      val w = Window.partitionBy("nid", "s")
        .orderBy(round(col("d2"), 9).asc, col("cid").asc)
      rsub.join(broadcast(cb), "s")
        .withColumn("d2",
          dot(col("cs"), col("cs")) - lit(2.0) * dot(col("rs"), col("cs")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("nid"), col("cell"), col("s"), col("rs"), col("cid"))
    }
    val cb1 = assignCode(cb0)
      .select(col("s"), col("cid"), posexplode(col("rs")).as(Seq("d", "v")))
      .groupBy("s", "cid", "d")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(ROUND(v, 9) AS DECIMAL(38,9))")).as("sv"))
      .withColumn("mv", expr("CAST(sv AS DOUBLE) / n"))
      .groupBy("s", "cid")
      .agg(array_sort(collect_list(struct(col("d"), col("mv")))).as("dm"))
      .select(col("s"), col("cid"), expr("transform(dm, p -> p.mv)").as("cs"))
      .localCheckpoint()
    // the stored index: (nid, cell, s → cid). The ONLY corpus-derived
    // table the search reads.
    val codes = assignCode(cb1).select(col("nid"), col("cell"), col("s"),
      col("cid")).localCheckpoint()
    IvfPqModel(cent, cb1, codes)
  }

  /** Encode vectors against an EXISTING IVF-PQ model (centroids and
    * codebooks immutable): nearest cell by cosine, residual per
    * subspace, nearest codeword by squared-L2 — identical arithmetic
    * to the encode stage inside [[ivfpqTrain]], so a row encodes to
    * the same (cell, s → cid) whether it was in the training batch or
    * arrives later. This is the append path of incremental index
    * maintenance: model tables broadcast, per-row work is local, and
    * the output is the only thing that shuffles. */
  private[graft] def ivfpqEncode(vectors: DataFrame, cent: DataFrame,
      cb: DataFrame, idCol: String, vecCol: String, m: Int,
      dim: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    val spark = vectors.sparkSession
    def dot(a: Column, b: Column) = GraftFunctions.dot(spark, a, b)
    def slices(x: Column) =
      array((0 until m).map(s => slice(x, s * sub + 1, sub)): _*)
    val cand = vectors.select(col(idCol).as("nid"),
      Vectors.toDouble(col(vecCol)).as("x_nid"))
    val wc = Window.partitionBy("nid")
      .orderBy(round(col("ccos"), 6).desc, col("cell").asc)
    val listed = cand.join(broadcast(cent))
      .withColumn("ccos",
        GraftFunctions.cosine(spark, col("x_nid"), col("cx")))
      .withColumn("crn", row_number().over(wc))
      .where(col("crn") === 1)
      .withColumn("r", expr("zip_with(x_nid, cx, (a, b) -> a - b)"))
      .select(col("nid"), col("cell"), col("r"))
    val rsub = listed.select(col("nid"), col("cell"),
      posexplode(slices(col("r"))).as(Seq("s", "rs")))
    val wp = Window.partitionBy("nid", "s")
      .orderBy(round(col("d2"), 9).asc, col("cid").asc)
    rsub.join(broadcast(cb), "s")
      .withColumn("d2",
        dot(col("cs"), col("cs")) - lit(2.0) * dot(col("rs"), col("cs")))
      .withColumn("rn", row_number().over(wp))
      .where(col("rn") === 1)
      .select(col("nid"), col("cell"), col("s"), col("cid"))
  }

  private[graft] def ivfpqSearch(queries: DataFrame, model: IvfPqModel,
      idCol: String, vecCol: String, k: Int, nprobe: Int, m: Int,
      dim: Int): DataFrame = {
    val sub = dim / m
    val spark = queries.sparkSession
    def dot(a: Column, b: Column) = GraftFunctions.dot(spark, a, b)
    def slices(x: Column) =
      array((0 until m).map(s => slice(x, s * sub + 1, sub)): _*)
    val cent = model.cent
    val cb1 = model.cb
    val codes = model.codes

    // reconstruction table x̂_s = cx_s + ĉ_s per (cell, s, cid):
    // cells·m·codebookK rows, candidate-independent, broadcastable
    val centSub = cent.select(col("cell"),
      posexplode(slices(col("cx"))).as(Seq("s", "cxs")))
    val recon = centSub.join(cb1, "s")
      .select(col("cell"), col("s"), col("cid"),
        expr("zip_with(cxs, cs, (a, b) -> a + b)").as("xs_hat"))

    // query side: nprobe cells, then the per-(query, cell, s, cid) ADC
    // lookup — qd = q_s·x̂_s, t2 = |x̂_s|²
    val q = queries.select(col(idCol).as("query_id"),
      Vectors.toDouble(col(vecCol)).as("x_query_id"))
    def assignCell(df: DataFrame, id: String, keep: Int) = {
      val w = Window.partitionBy(id)
        .orderBy(round(col("ccos"), 6).desc, col("cell").asc)
      df.join(broadcast(cent))
        .withColumn("ccos",
          GraftFunctions.cosine(spark, col(s"x_$id"), col("cx")))
        .withColumn("crn", row_number().over(w))
        .where(col("crn") <= keep)
        .select(col(id), col(s"x_$id"), col("cell"), col("cx"))
    }
    val probes = assignCell(q, "query_id", nprobe)
      .select(col("query_id"), col("x_query_id").as("xq"), col("cell"))
    val qsub = probes
      .withColumn("qn", sqrt(dot(col("xq"), col("xq"))))
      .select(col("query_id"), col("qn"), col("cell"),
        posexplode(slices(col("xq"))).as(Seq("s", "qs")))
    val lut = qsub.join(recon, Seq("cell", "s"))
      .select(col("query_id"), col("qn"), col("cell"), col("s"), col("cid"),
        dot(col("qs"), col("xs_hat")).as("qd"),
        dot(col("xs_hat"), col("xs_hat")).as("t2"))

    val pairs = codes.join(broadcast(lut), Seq("cell", "s", "cid"))
      .groupBy("query_id", "nid")
      .agg(first(col("qn")).as("qn"),
        sum(expr("CAST(ROUND(qd, 9) AS DECIMAL(38,9))")).as("dq"),
        sum(expr("CAST(ROUND(t2, 9) AS DECIMAL(38,9))")).as("x2"))
      // a candidate scores only if the query probed its cell AND all m
      // subspace partials arrived (the join keyed (cell,s,cid) yields
      // exactly m rows per probed candidate)
      .select(col("query_id"), col("nid").as("neighbor_id"),
        (col("dq").cast("double") /
          (col("qn") * sqrt(col("x2").cast("double")))).as("cos"))
    ranked(pairs, k)
  }

  /** Two-stage RETRIEVE-then-REFINE: [[ivfpqTopK]] generates a cheap
    * candidate shortlist of `k·refineFactor` per query from codes
    * alone, then ONLY those candidates re-attach their full vectors
    * (a key-equality join on neighbor id) for an exact-cosine rerank
    * to the final top-k — the standard production ANN serving shape:
    * the quantized index bounds how many full vectors are ever read,
    * so the refine stage touches k·refineFactor·Q vectors regardless
    * of corpus size. Output contract matches the other ANN surfaces
    * (exact rounded-cos rank, id tiebreak), so refined results are
    * directly comparable against [[bruteForceTopK]]. */
  def refineTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, k: Int, refineFactor: Int = 4, cells: Int = 4,
      nprobe: Int = 2, m: Int = 8, codebookK: Int = 8,
      dim: Int = 64): DataFrame = {
    require(refineFactor >= 1, "refineFactor must be >= 1")
    val spark = candidates.sparkSession
    val shortlist = ivfpqTopK(queries, candidates, idCol, vecCol,
        k * refineFactor, cells, nprobe, m, codebookK, dim)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"),
      Vectors.toDouble(col(vecCol)).as("xq"))
    val c = candidates.select(col(idCol).as("neighbor_id"),
      Vectors.toDouble(col(vecCol)).as("xc"))
    val pairs = shortlist
      .join(c, "neighbor_id")          // only shortlisted vectors load
      .join(broadcast(q), "query_id")  // query set is the bounded side
      .select(col("query_id"), col("neighbor_id"),
        GraftFunctions.cosine(spark, col("xq"), col("xc")).as("cos"))
    ranked(pairs, k)
  }

  def pqTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 4, codebookK: Int = 4,
      dim: Int = 64): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    val spark = candidates.sparkSession
    def dot(a: Column, b: Column) = GraftFunctions.dot(spark, a, b)
    def slices(x: Column) =
      array((0 until m).map(s => slice(x, s * sub + 1, sub)): _*)

    val cand = candidates.select(col(idCol).as("nid"),
      Vectors.toDouble(col(vecCol)).as("x"))
    val candSub = cand.select(col("nid"),
      posexplode(slices(col("x"))).as(Seq("s", "xs")))
    val cent0 = cand.orderBy("nid").limit(codebookK)
      .withColumn("cid",
        (row_number().over(Window.orderBy(col("nid"))) - 1).cast("int"))
      .select(col("cid"), posexplode(slices(col("x"))).as(Seq("s", "cs")))
    def assign(cent: DataFrame) = {
      val w = Window.partitionBy("nid", "s")
        .orderBy(round(col("d2"), 9).asc, col("cid").asc)
      candSub.join(broadcast(cent), "s")
        .withColumn("d2", dot(col("cs"), col("cs")) - lit(2.0) * dot(col("xs"), col("cs")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("nid"), col("s"), col("xs"), col("cid"))
    }
    val cent1 = assign(cent0)
      .select(col("s"), col("cid"), posexplode(col("xs")).as(Seq("d", "v")))
      .groupBy("s", "cid", "d")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(ROUND(v, 9) AS DECIMAL(38,9))")).as("sv"))
      .withColumn("mv", expr("CAST(sv AS DOUBLE) / n"))
      .groupBy("s", "cid")
      .agg(array_sort(collect_list(struct(col("d"), col("mv")))).as("dm"))
      .select(col("s"), col("cid"), expr("transform(dm, p -> p.mv)").as("cs"))
    val codes = assign(cent1).select(col("nid"), col("s"), col("cid"))

    val q = queries.select(col(idCol).as("query_id"),
      Vectors.toDouble(col(vecCol)).as("xq"))
    val qSub = q
      .withColumn("qn", sqrt(dot(col("xq"), col("xq"))))
      .select(col("query_id"), col("qn"),
        posexplode(slices(col("xq"))).as(Seq("s", "qs")))
    val partial = qSub.join(broadcast(cent1), "s")
      .select(col("query_id"), col("qn"), col("s"), col("cid"),
        dot(col("qs"), col("cs")).as("pd"),
        dot(col("cs"), col("cs")).as("c2"))
    val pairs = codes.join(broadcast(partial), Seq("s", "cid"))
      .groupBy("query_id", "nid")
      // DECIMAL-exact partial sums: the m summands land in any order
      // across partitions; rounding each to 9dp and summing exactly
      // makes the double result partitioning-independent (and equal to
      // the oracle's)
      .agg(first(col("qn")).as("qn"),
        sum(expr("CAST(ROUND(pd, 9) AS DECIMAL(38,9))")).as("dq"),
        sum(expr("CAST(ROUND(c2, 9) AS DECIMAL(38,9))")).as("x2"))
      .select(col("query_id"), col("nid").as("neighbor_id"),
        (col("dq").cast("double") /
          (col("qn") * sqrt(col("x2").cast("double")))).as("cos"))
    ranked(pairs, k)
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most-cosine-similar candidates whose label
    * DIFFERS from the query's — the "near but wrong" examples a
    * retrieval/embedding trainer wants in its negatives pool.
    *
    * Same scale shape as [[bruteForceTopK]]: queries broadcast, the
    * corpus side streams through the codegen'd cosine; the label
    * inequality is a scan-stage filter on the joined pair, so only
    * cross-label pairs reach the per-query top-k window. */
  def hardNegatives(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    def prep(df: DataFrame, id: String) =
      df.select(col(idCol).as(id), Vectors.toDouble(col(vecCol)).as(s"x_$id"),
        col(labelCol).as(s"l_$id"))
    val q = prep(queries, "query_id")
    val c = prep(candidates, "neighbor_id")
    val pairs = c.join(broadcast(q))
      .where(col("l_neighbor_id") =!= col("l_query_id"))
      .select(col("query_id"), col("neighbor_id"),
        col("l_neighbor_id").as("neg_label"),
        GraftFunctions.cosine(candidates.sparkSession,
          col("x_query_id"), col("x_neighbor_id")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("cos"), 6).desc, col("neighbor_id").asc)
    pairs
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        col("rank"), expr("CAST(ROUND(cos, 4) + 0.0 AS DOUBLE)").as("cos_r"))
  }

  /** Metadata-FILTERED top-k ("filtered vector search"): each query
    * retrieves only among candidates whose `filterCol` value equals its
    * own — tenant-, class- or language-scoped retrieval, the filter
    * every production vector store bolts onto ANN. The filter value is
    * the JOIN KEY, not a post-filter: candidates hash-partition by the
    * value and meet only their own queries, so with a selective filter
    * each query's search space is its partition, never the corpus —
    * the pre-filter strategy — and unlike post-filtering a top-k
    * shortlist, the result can never starve below `k` while matching
    * candidates exist. Exact within the partition (cosine + the repo's
    * deterministic (round(cos,6) desc, id) rank); compose with the IVF
    * cells per partition when single partitions outgrow brute force. */
  def filteredTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, filterCol: String, k: Int): DataFrame = {
    def prep(df: DataFrame, id: String) =
      df.select(col(idCol).as(id), Vectors.toDouble(col(vecCol)).as(s"x_$id"),
        col(filterCol).as("fv"))
    val q = prep(queries, "query_id")
    val c = prep(candidates, "neighbor_id")
    val pairs = c.join(broadcast(q), "fv")
      .select(col("query_id"), col("neighbor_id"), col("fv"),
        GraftFunctions.cosine(candidates.sparkSession,
          col("x_query_id"), col("x_neighbor_id")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("cos"), 6).desc, col("neighbor_id").asc)
    pairs
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("fv"), col("rank"),
        expr("CAST(ROUND(cos, 4) + 0.0 AS DOUBLE)").as("cos_r"))
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    * 1998): greedily select `k` results per query maximizing
    * λ·sim(q, d) − (1−λ)·max_{s ∈ selected} sim(d, s) — relevance
    * traded against redundancy, the re-rank behind "diverse retrieval"
    * in RAG/training-mix pipelines.
    *
    * Execution: an exact cosine shortlist (`shortlistK` per query — the
    * [[bruteForceTopK]] broadcast shape) bounds the working set, then
    * the ENTIRE greedy selection runs row-local in one grouped kernel
    * (the typed-sessionization precedent): a query's shortlist is ≤
    * shortlistK (vector, cos6) rows — constant-bounded state, exactly
    * the rollingMedian contract — so the k steps are a per-group loop
    * over ≤ shortlistK·k cosine evaluations, and the whole operator is
    * ONE shuffle (the groupByKey on query_id). The r9 form instead
    * unrolled the k steps as DataFrame ops — k anti-join/join/agg
    * rounds whose plan and job count grew with k (5.1s in the r10
    * bench vs 1.3s for this kernel, same results). The kernel's
    * arithmetic mirrors the expression form exactly: cosine folds
    * left-to-right like [[graft.plans.Sketches.cosine]], every
    * rounding is java BigDecimal.valueOf(·).setScale(HALF_UP) — the
    * same path Spark's ROUND takes on doubles — and all selection
    * happens on round(·, 6) values so any engine reproduces it.
    *
    * CONTRACT (r10, with the kernel): ids must be numeric —
    * `query_id`/`neighbor_id` are emitted as BIGINT (the
    * [[Dedup.ngramJaccardPairs]] id discipline).
    *
    * Output: (query_id, neighbor_id, rank 1..k, mmr_r). */
  def mmrTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, shortlistK: Int,
      lambda: Double): DataFrame = {
    require(k >= 1 && shortlistK >= k,
      s"need 1 <= k <= shortlistK, got k=$k shortlistK=$shortlistK")
    require(lambda > 0.0 && lambda <= 1.0,
      s"lambda must be in (0, 1], got $lambda")
    val spark = candidates.sparkSession
    import spark.implicits._
    def prep(df: DataFrame, id: String) =
      df.select(col(idCol).cast("long").as(id),
        Vectors.toDouble(col(vecCol)).as(s"x_$id"))
    val q = prep(queries, "query_id")
    val c = prep(candidates, "neighbor_id")
    val wSl = Window.partitionBy("query_id")
      .orderBy(round(col("cos"), 6).desc, col("neighbor_id").asc)
    // shortlist keeps candidate vectors: the greedy penalty needs
    // pairwise candidate-candidate cosines inside the shortlist
    val shortlist = c.join(broadcast(q))
      .select(col("query_id"), col("neighbor_id"), col("x_neighbor_id"),
        GraftFunctions.cosine(spark,
          col("x_query_id"), col("x_neighbor_id")).as("cos"))
      .withColumn("slrank", row_number().over(wSl))
      .where(col("slrank") <= shortlistK)
      .select(col("query_id"), col("neighbor_id"), col("x_neighbor_id"),
        round(col("cos"), 6).as("cos6"))

    def r(v: Double, s: Int): Double =
      java.math.BigDecimal.valueOf(v)
        .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()
    // identical accumulation order to Sketches.cosine —
    // bit-identical doubles, so the round-6 values cannot diverge
    def cos(xs: Array[Double], ys: Array[Double]): Double = {
      val n = math.min(xs.length, ys.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        dot += xs(i) * ys(i); na += xs(i) * xs(i); nb += ys(i) * ys(i)
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byCosDesc = Ordering.Tuple2(Ordering[Double].reverse, Ordering[Long])
    shortlist.toDF("_1", "_2", "_3", "_4")
      .as[(Long, Long, Array[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cands = it.toArray
          .sortBy(t => (t._4, t._2))(byCosDesc)
        val selected =
          scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
        val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
        while (selected.length < math.min(k, cands.length)) {
          val pick =
            if (selected.isEmpty) (remaining.head._2, remaining.head._3,
              r(lambda * remaining.head._4, 6))
            else remaining.iterator.map { cnd =>
              val maxsim = selected.iterator.map(s => r(cos(cnd._3, s._2), 6)).max
              (cnd._2, cnd._3, r(lambda * cnd._4 - (1 - lambda) * maxsim, 6))
            }.minBy(t => (t._3, t._1))(byCosDesc) // mmr desc, id asc
          selected += pick
          val idx = remaining.indexWhere(_._2 == pick._1)
          remaining.remove(idx)
        }
        selected.iterator.zipWithIndex.map { case ((nid, _, mmr), i) =>
          (qid, nid, i + 1, r(mmr, 4) + 0.0)
        }
      }
      .toDF("query_id", "neighbor_id", "rank", "mmr_r")
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("int").as("rank"),
        col("mmr_r").cast("double").as("mmr_r"))
  }
}
