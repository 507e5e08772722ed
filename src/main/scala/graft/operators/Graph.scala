package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph centrality over an edge list — PageRank with a
  * fixed iteration count. The natural consumer here is the dedup
  * family's pair graph ([[Dedup.simhashPairs]] etc.): rank inside a
  * near-duplicate cluster identifies the "center" template document
  * that spawned the variants, vs leaf one-off edits.
  *
  * Every iteration is two keyed shuffles (join contributions to edges,
  * aggregate by destination) — the standard BSP PageRank shape that
  * scales to billions of edges; nothing graph-shaped ever reaches the
  * driver (only the node COUNT, one scalar). Iterations unroll into
  * one declarative plan, each truncated with `localCheckpoint` so plan
  * depth and lineage stay O(1) per round (the [[Dedup.duplicateClusters]]
  * discipline).
  *
  * Determinism is FIXED-POINT, not decimal: mass is carried as BIGINT
  * nano-units (1 pr = 1e9). Per-edge contributions round once to an
  * integer, the per-destination reduction is an exact integer sum
  * (order-independent under any partitioning), and the damped update
  * is one IEEE expression rounded back to an integer. Rounding a
  * double to an INTEGER is the one rounding both engines perform
  * identically (halves at integer scale are exactly representable, and
  * both round them away from zero) — unlike round(x, 9), whose
  * internal algorithms differ at decimal half-ties (measured: 1-ulp
  * disagreements every ~20th value when 0.85·(k·1e-9) lands on an
  * exact decimal half). The r5 fix; the earlier decimal-at-scale-9
  * variant is gone.
  */
object Graph {
  /** `edges`: directed (src, dst) pairs, pre-deduplicated; pass both
    * directions for an undirected graph. Nodes = distinct src ∪ dst —
    * sinks (nodes with no out-edges) are first-class: each iteration
    * their total mass redistributes uniformly over all nodes (the
    * standard dangling-node formulation), so rank is conserved up to
    * rounding and a sink-heavy graph (every crawl/citation graph) gets
    * correct ranks instead of leaking mass. The dangling sum is an
    * exact integer aggregate that rides the iteration's plan as a
    * broadcast scalar — no extra driver action per round; the per-node
    * share rounds once to an integer (`ds`), identically in any
    * engine. On a symmetric graph every node has out-edges, the
    * dangling sum is 0 and this reduces exactly to the non-dangling
    * update. BEHAVIOR CHANGE vs the pre-dangling version: the node
    * universe was formerly distinct src only — on a directed graph
    * callers now also get rows for pure-sink nodes, and every rank
    * shifts because n (hence the teleport term) grows; symmetric-graph
    * callers are unaffected (src ∪ dst = src there). Returns
    * (node, pr_nano BIGINT, pr DOUBLE = pr_nano/1e9). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, damping: Double = 0.85): DataFrame =
    // uniform PageRank IS personalized PageRank whose teleport set is
    // the whole node universe: same init (1/n each), same teleport
    // term ((1−d)/n to every node), same dangling redistribution
    // (round(dang/n) to every node). ErGraphSpec pins the bit-equality
    // of the two paths, so there is exactly ONE fixed-point kernel to
    // keep correct (the r5 integer-rounding fix and the r7
    // co-partitioning work previously had to be hand-mirrored in two
    // copies). seedsOpt = None derives the seed set from the
    // kernel-internal CHECKPOINTED edge table — passing the seeds as a
    // DataFrame here would re-execute the (possibly expensive,
    // uncached) edge upstream a second time.
    prKernel(edges, srcCol, dstCol, None, iterations, damping)

  /** PERSONALIZED PageRank: teleport lands only on `seeds`, so rank
    * measures proximity to the seed set rather than global centrality —
    * the corpus-curation primitive behind seed-based data selection
    * ("find documents in the link/dup graph near these trusted docs")
    * and graph-expansion of a labeled set.
    *
    * Differences from [[pageRank]], all standard PPR formulation:
    * node universe = src ∪ dst ∪ seeds (an isolated seed still holds
    * teleport mass); initial mass is 1/|S| on each seed, 0 elsewhere;
    * the (1−d) teleport term and each round's dangling mass go
    * uniformly to the SEEDS (dangling redistribution follows the
    * teleport distribution, the convention that keeps ‖pr‖ conserved).
    * Same BIGINT nano-unit fixed-point contract — per-edge and
    * per-seed shares round once to an integer, sums are exact — so any
    * engine reproduces the ranks bit-for-bit. Same per-round
    * plan shape and checkpoint discipline as [[pageRank]]; the seed
    * flag is one boolean riding the pre-partitioned nodes table.
    *
    * Returns (node, pr_nano BIGINT, pr DOUBLE). Rank mass ≈ 1 over all
    * nodes (up to integer rounding); nodes unreachable from the seeds
    * get 0. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      iterations: Int = 3, damping: Double = 0.85): DataFrame =
    prKernel(edges, srcCol, dstCol,
      Some(seeds.select(col(seedCol).as("node"))), iterations, damping)

  private def prKernel(edges: DataFrame, srcCol: String, dstCol: String,
      seedsOpt: Option[DataFrame],
      iterations: Int, damping: Double): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      "iterations must be in [1, 20]")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    // THE fixed-point kernel ([[pageRank]] delegates here). Plan
    // discipline: materialize the edge list once — e joins into EVERY
    // iteration, and an uncached upstream (e.g. an LSH band join
    // producing the pairs) would re-execute per round (measured
    // 4.2s → 2.4s on the simhash pair graph at sf0.1). Pre-partition
    // ALL round inputs consistently (e and deg by src, nodes by node,
    // same size-derived count — the duplicateClusters sizing
    // discipline): each round's pr table comes off its checkpoint
    // partitioned by node, so pr⋈deg, (pr⋈deg)⋈e and nodes⋈sums meet
    // co-partitioned and the EDGE table (the big side at corpus
    // scale) never re-shuffles inside the loop; the one unavoidable
    // per-round exchange is the contribution transpose (groupBy dst).
    val obs0 = org.apache.spark.sql.Observation()
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .observe(obs0, count(lit(1)).as("n"))
      .localCheckpoint()
    val nParts = Dedup.edgePartitions(edges.sparkSession,
      obs0.get("n").asInstanceOf[Long])
    val e = e0.repartition(nParts, col("src")).localCheckpoint()
    org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(e0)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    // is_seed rides the node table: computed once, co-partitioned with
    // every round's rank join — the seed set never re-shuffles. The
    // uniform case (seedsOpt = None) marks every node a seed from the
    // CHECKPOINTED edge table, paying no extra join and never
    // re-deriving the edge upstream.
    val base = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
    val nodes = (seedsOpt match {
      case None => base.distinct().withColumn("is_seed", lit(true))
      case Some(sd) =>
        val s = sd.distinct()
        base.unionAll(s).distinct()
          .join(s.withColumn("is_seed", lit(true)), Seq("node"), "left")
          .select(col("node"),
            coalesce(col("is_seed"), lit(false)).as("is_seed"))
    }).repartition(nParts, col("node")).localCheckpoint()
    val nS = nodes.where(col("is_seed")).count()
    require(nS > 0, "pageRank: empty seed set / empty graph")
    var pr = nodes.withColumn("pr_n",
      when(col("is_seed"), round(lit(1.0e9 / nS)).cast("long"))
        .otherwise(lit(0L)))
    for (_ <- 1 to iterations) {
      val contrib = pr
        .join(deg, pr("node") === deg("src"))
        .join(e, "src")
        .select(col("dst"),
          round(col("pr_n").cast("double") / col("outdeg"))
            .cast("long").as("c"))
      val sums = contrib.groupBy("dst").agg(sum(col("c")).as("sv"))
      val dang = pr.join(deg, pr("node") === deg("src"), "left_anti")
        .agg(coalesce(sum(col("pr_n")), lit(0L)).as("dang_n"))
      pr = nodes.join(sums, nodes("node") === sums("dst"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"), col("is_seed"),
          round(
            when(col("is_seed"), lit((1.0 - damping) * 1.0e9 / nS))
              .otherwise(lit(0.0)) +
            lit(damping) * (coalesce(col("sv"), lit(0L)) +
              when(col("is_seed"),
                round(col("dang_n").cast("double") / lit(nS.toDouble))
                  .cast("long")).otherwise(lit(0L))).cast("double"))
            .cast("long").as("pr_n"))
        .localCheckpoint()
    }
    pr.select(col("node"), col("pr_n").as("pr_nano"),
      (col("pr_n").cast("double") / 1.0e9).as("pr"))
  }

  /** Hop distance (BFS levels) from a seed set over an undirected
    * graph, bounded at `maxHops` — "how many near-dup/link hops from a
    * curated document is this row", the provenance-radius companion to
    * [[personalizedPageRank]] (exact hop counts vs mass). Each round
    * is one keyed join + a min-aggregate — the BSP frontier expansion —
    * with the usual per-round `localCheckpoint`; unreached nodes carry
    * no row. Exact integer arithmetic end to end: any engine
    * reproduces it bit-for-bit. */
  def shortestHops(pairs: DataFrame, aCol: String, bCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int = 3): DataFrame = {
    require(maxHops >= 1 && maxHops <= 20, "maxHops must be in [1, 20]")
    val e = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct().localCheckpoint()
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("hops", lit(0))
    for (_ <- 1 to maxHops) {
      val next = dist.join(e, dist("node") === e("src"))
        .select(col("dst").as("node"), (col("hops") + 1).as("hops"))
      dist = dist.unionByName(next)
        .groupBy("node").agg(min(col("hops")).cast("int").as("hops"))
        .localCheckpoint()
    }
    dist
  }

  /** Semi-supervised LABEL PROPAGATION with seed clamping: spread known
    * labels (language, topic, quality class) from a labeled seed set
    * over an undirected similarity graph — the standard cheap
    * auto-labeling pass over a kNN/near-dup graph before training a
    * classifier. Synchronous update: each round every NON-seed node
    * takes the majority label among its currently-labeled neighbors
    * (exact integer votes; ties by label ascending — deterministic on
    * any engine); seed nodes never change. Unreached nodes carry no
    * row. Fixed `iterations` keeps the plan bounded; labels can flow
    * at most `iterations` hops from a seed.
    *
    * Scale shape: one keyed shuffle pair per round (vote join +
    * per-(node, label) count), the [[pageRank]] BSP class; per-round
    * `localCheckpoint` truncates lineage. The label table is one row
    * per labeled node — never wider than the node set.
    *
    * @return (node, label, is_seed) for every seed or reached node. */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
      seeds: DataFrame, nodeCol: String, labelCol: String,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      "iterations must be in [1, 20]")
    import org.apache.spark.sql.expressions.Window
    val e = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct().localCheckpoint()
    // one label per seed node (min label on conflict — deterministic)
    val seedLab = seeds
      .select(col(nodeCol).as("node"), col(labelCol).as("label"))
      .groupBy("node").agg(min(col("label")).as("label"))
      .localCheckpoint()
    var lab = seedLab.withColumn("is_seed", lit(true))
    for (_ <- 1 to iterations) {
      val votes = lab.join(e, lab("node") === e("src"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("dst")
        .orderBy(col("n").desc, col("label").asc)
      val propagated = votes
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("dst").as("node"), col("label"))
        .join(seedLab.select("node"), Seq("node"), "left_anti")
        .withColumn("is_seed", lit(false))
      lab = seedLab.withColumn("is_seed", lit(true))
        .unionByName(propagated)
        .localCheckpoint()
    }
    lab
  }

  /** Triangle count + local clustering coefficient per node over an
    * undirected edge list (any (u,v) orientation; self-loops and
    * duplicates are dropped). On the near-dup pair graph this separates
    * tight template clusters (clustering → 1) from chains of pairwise
    * borderline matches (clustering → 0) — a cheap cluster-quality
    * signal before committing to a dedup keep-rule.
    *
    * Scale: the naive a<b wedge join is O(Σ deg²) — one viral hub
    * vertex generates quadratic wedges. This uses DEGREE ORIENTATION
    * (the standard compact-forward algorithm): each undirected edge is
    * directed from its lower-(degree, id) endpoint to the higher, so
    * every out-degree is O(√m)-bounded and total wedge count is
    * O(m^1.5) regardless of skew; each triangle is generated exactly
    * once, at its minimum-(degree, id) vertex. All three joins are
    * key-equality shuffles (src; then the (y, z) closing-edge probe);
    * the (deg, id) tuple rides along as a struct so orientation needs
    * no extra shuffle. Integer outputs; the coefficient rounds to 4. */
  def triangles(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // materialized once: the canonical edge set feeds five consumers
    // (deg, both orientation joins, the closing-edge probe, the final
    // degree join) and Catalyst does not dedupe shared uncached subplans
    val und = pairs
      .select(col(aCol).as("pu"), col(bCol).as("pv"))
      .where(col("pu") =!= col("pv"))
      .select(least(col("pu"), col("pv")).as("u"),
        greatest(col("pu"), col("pv")).as("v"))
      .distinct()
      .localCheckpoint()
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val du = deg.select(col("node").as("u"), col("degree").as("du"))
    val dv = deg.select(col("node").as("v"), col("degree").as("dv"))
    // field names must match for the CASE branches to share a type
    val ordU = struct(col("du").as("d"), col("u").as("i"))
    val ordV = struct(col("dv").as("d"), col("v").as("i"))
    val uLower = ordU < ordV
    val d = und.join(du, "u").join(dv, "v").select(
      when(uLower, col("u")).otherwise(col("v")).as("src"),
      when(uLower, col("v")).otherwise(col("u")).as("dst"),
      // the destination's (degree, id) — orders out-neighbor pairs
      when(uLower, ordV).otherwise(ordU).as("dord"))
    val e2 = d.select(col("src"), col("dst").as("z"), col("dord").as("zord"))
    val wedges = d.select(col("src"), col("dst").as("y"), col("dord").as("yord"))
      .join(e2, Seq("src"))
      .where(col("yord") < col("zord"))
      .select(col("src").as("a"), col("y"), col("z"))
    val tri = wedges
      .join(d.select(col("src").as("y"), col("dst").as("z")), Seq("y", "z"))
    val perNode = tri
      .select(explode(array(col("a"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        expr("""CAST(ROUND(CASE WHEN degree < 2 THEN 0.0
            ELSE 2.0 * COALESCE(n_triangles, 0) /
                 (CAST(degree AS DOUBLE) * (degree - 1)) END,
          4) AS DOUBLE)""").as("clustering"))
  }

  /** Hierarchy closure: every node's ROOT ancestor and DEPTH over a
    * parent-pointer forest — the recursive-CTE workload (org rollups,
    * BOM explosion, category trees) on an engine without recursive SQL.
    *
    * Pointer DOUBLING, not step-by-step walking: each round rewrites
    * every node's ancestor pointer to its ancestor's ancestor and adds
    * the two distances, so a depth-D tree converges in ⌈log₂ D⌉ rounds
    * (a recursive CTE takes D passes — at a 20-deep BOM that is 5
    * rounds vs 20). Each round is ONE self-join keyed on the ancestor
    * id (key-partitioned shuffle), localCheckpoint-truncated like
    * [[pageRank]]'s rounds; nothing reaches the driver but the
    * convergence counter. Roots self-point at distance 0, so converged
    * rows are fixpoints of the doubling step — no separate
    * "done" bookkeeping.
    *
    * `edges`: (childCol, parentCol), one row per NON-root node; roots
    * appear only as parents. Cycles fail loudly, via one of two shapes
    * depending on the cycle's length: a cycle whose length divides
    * some 2^r pointer-doubles into STABLE self-pointers at nonzero
    * distance (anc == node, dist > 0 — a shape no true root can have,
    * since roots enter at dist 0), caught by the post-loop check; any
    * other length (e.g. an odd cycle) never stabilizes — pointers
    * orbit the cycle forever — so the loop exhausts maxRounds and the
    * non-convergence error fires. Both paths throw; neither silently
    * mislabels cycle members, but only the first can NAME the cycle
    * nodes, which is why the non-convergence message also points at
    * cycles as a likely cause. */
  /** Neighbor-set Jaccard similarity (common-neighbors link prediction):
    * for every unordered node pair sharing at least `minCommon`
    * neighbors, |N(a)∩N(b)| / |N(a)∪N(b)| over the undirected graph.
    * Pairs need NOT be directly connected — that's the point: a high
    * score between non-adjacent nodes is a predicted link.
    *
    * Common-neighbor counting is the wedge-enumeration shape of
    * [[triangles]]: the adjacency list joins itself ON THE SHARED
    * NEIGHBOR (key-partitioned, Σ deg(w)² pairs — bounded by the hub
    * degree, never all-pairs across nodes). At crawl scale cap hub
    * degree upstream (drop w with deg(w) > D) — the classic
    * common-neighbor sampling trade; here the gate's graph is the
    * near-dup band graph whose hubs are already collapsed by the
    * rep-collapse discipline.
    *
    * Output: (node_a, node_b, common, jac_r) with node_a < node_b;
    * jac_r = ROUND(common / (deg_a + deg_b − common), 4). */
  def neighborJaccard(pairs: DataFrame, aCol: String, bCol: String,
      minCommon: Int = 2): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    // canonical undirected edge set, materialized once: it feeds the
    // adjacency (twice) and the degree table
    val und = pairs
      .select(col(aCol).as("pu"), col(bCol).as("pv"))
      .where(col("pu") =!= col("pv"))
      .select(least(col("pu"), col("pv")).as("u"),
        greatest(col("pu"), col("pv")).as("v"))
      .distinct()
      .localCheckpoint()
    val adj = und.select(col("u").as("node"), col("v").as("w"))
      .unionAll(und.select(col("v").as("node"), col("u").as("w")))
    val deg = adj.groupBy("node").agg(count(lit(1)).as("degree"))
    val cn = adj.select(col("node").as("node_a"), col("w"))
      .join(adj.select(col("node").as("node_b"), col("w")), Seq("w"))
      .where(col("node_a") < col("node_b"))
      .groupBy("node_a", "node_b")
      .agg(count(lit(1)).as("common"))
      .where(col("common") >= minCommon)
    cn.join(deg.select(col("node").as("node_a"), col("degree").as("da")),
        Seq("node_a"))
      .join(deg.select(col("node").as("node_b"), col("degree").as("db")),
        Seq("node_b"))
      .select(col("node_a"), col("node_b"), col("common"),
        expr("CAST(ROUND(CAST(common AS DOUBLE) / (da + db - common), 4) + 0.0 AS DOUBLE)")
          .as("jac_r"))
  }

  /** [[neighborJaccard]] computed on a GROUP-collapsed graph — same
    * doc-level output, wedge work bounded by the DISTINCT-text graph.
    *
    * Contract (what rep-collapsed sketch families guarantee): nodes of
    * one group are pairwise adjacent (exact duplicates band together at
    * hamming 0) and share all external adjacency (identical sketches ⇒
    * identical candidate sets). Then for a ∈ A, b ∈ B:
    *   common(a,b) = Σ_{W adj A ∧ W adj B, W∉{A,B}} |W|
    *                 + adj(A,B)·(|A|−1 + |B|−1)          (A ≠ B)
    *   common(a,b) = D(A) − 1                            (A = B)
    *   deg(a∈A) = D(A) = |A|−1 + Σ_{W adj A} |W|
    * so every doc pair inside a (A,B) group pair shares one (common,
    * jaccard) value, computed ONCE. The wedge join runs over gid
    * adjacency with |W| as a weight — Σ deg_gid(W)² work instead of
    * Σ deg_doc(w)² (duplicate multiplicity never enters a join key);
    * member expansion happens exactly once, sized by the OUTPUT.
    *
    * Same output schema as [[neighborJaccard]]; equality is
    * spec-pinned and the gate shares the doc-level oracle. */
  def neighborJaccardGrouped(gidPairs: DataFrame, aCol: String,
      bCol: String, members: DataFrame, idCol: String, gidCol: String,
      minCommon: Int = 2): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    val w = members.groupBy(col(gidCol).as("g")).agg(count(lit(1)).as("wt"))
    val undg = gidPairs.select(col(aCol).as("ga"), col(bCol).as("gb"))
      .where(col("ga") =!= col("gb"))
      .select(least(col("ga"), col("gb")).as("ga"),
        greatest(col("ga"), col("gb")).as("gb"))
      .distinct()
      .localCheckpoint()
    val adjg = undg.select(col("ga").as("g"), col("gb").as("ng"))
      .unionAll(undg.select(col("gb").as("g"), col("ga").as("ng")))
    val nbrW = adjg
      .join(w.select(col("g").as("ng"), col("wt").as("nw")), Seq("ng"))
      .groupBy("g").agg(sum(col("nw")).as("extw"))
    // graph nodes: multi-member groups (internal clique) or any group
    // with external adjacency; D = per-member degree
    val nodes = w.join(nbrW, Seq("g"), "left")
      .where(col("wt") >= 2 || col("extw").isNotNull)
      .select(col("g"), col("wt"),
        (col("wt") - 1 + coalesce(col("extw"), lit(0L))).as("dd"))
      .localCheckpoint()
    val ext = adjg.select(col("g").as("pa"), col("ng"))
      .join(adjg.select(col("g").as("pb"), col("ng")), Seq("ng"))
      .where(col("pa") < col("pb"))
      .join(w.select(col("g").as("ng"), col("wt").as("nw")), Seq("ng"))
      .groupBy("pa", "pb").agg(sum(col("nw")).as("ext"))
    val adjFlag = undg.select(col("ga").as("pa"), col("gb").as("pb"))
      .withColumn("adj", lit(1L))
    val cross = ext.join(adjFlag, Seq("pa", "pb"), "full")
      .select(col("pa"), col("pb"),
        coalesce(col("ext"), lit(0L)).as("ext"),
        coalesce(col("adj"), lit(0L)).as("adj"))
      .join(nodes.select(col("g").as("pa"), col("wt").as("wa"),
        col("dd").as("da")), Seq("pa"))
      .join(nodes.select(col("g").as("pb"), col("wt").as("wb"),
        col("dd").as("db")), Seq("pb"))
      .withColumn("common",
        col("ext") + col("adj") * (col("wa") + col("wb") - 2))
      .where(col("common") >= minCommon)
      .withColumn("jac", col("common").cast("double") /
        (col("da") + col("db") - col("common")))
    val intra = nodes.where(col("wt") >= 2)
      .withColumn("common", col("dd") - 1)
      .where(col("common") >= minCommon)
      .withColumn("jac", col("common").cast("double") /
        (col("dd") * 2 - col("common")))
    val m = members.select(col(gidCol).as("g"), col(idCol).as("id"))
    val crossDocs = cross
      .join(m.select(col("g").as("pa"), col("id").as("ia")), Seq("pa"))
      .join(m.select(col("g").as("pb"), col("id").as("ib")), Seq("pb"))
      .select(least(col("ia"), col("ib")).as("node_a"),
        greatest(col("ia"), col("ib")).as("node_b"),
        col("common"), col("jac"))
    val intraDocs = intra
      .join(m.select(col("g"), col("id").as("ia")), Seq("g"))
      .join(m.select(col("g"), col("id").as("ib")), Seq("g"))
      .where(col("ia") < col("ib"))
      .select(col("ia").as("node_a"), col("ib").as("node_b"),
        col("common"), col("jac"))
    crossDocs.unionByName(intraDocs)
      .select(col("node_a"), col("node_b"), col("common"),
        expr("CAST(ROUND(jac, 4) + 0.0 AS DOUBLE)").as("jac_r"))
  }

  def hierarchyClosure(edges: DataFrame, childCol: String,
      parentCol: String, maxRounds: Int = 20): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 40, "maxRounds must be in [1,40]")
    val e = edges.select(col(childCol).as("node"), col(parentCol).as("anc"))
      .localCheckpoint()
    // roots = parents that are nobody's child; they enter at dist 0
    val roots = e.select(col("anc").as("node"))
      .except(e.select("node"))
      .select(col("node"), col("node").as("anc"), lit(0L).as("dist"))
    var state = e.select(col("node"), col("anc"), lit(1L).as("dist"))
      .unionByName(roots).localCheckpoint()
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val a = state.select(col("node").as("j_node"), col("anc").as("j_anc"),
        col("dist").as("j_dist"))
      val next = state.join(a, state("anc") === a("j_node"))
        .select(col("node"), col("j_anc").as("anc"),
          (col("dist") + col("j_dist")).as("dist"),
          (col("anc") =!= col("j_anc")).as("graft_moved"))
      val stepped = next.localCheckpoint()
      changed = stepped.where(col("graft_moved")).count()
      state = stepped.drop("graft_moved")
      round += 1
    }
    require(changed == 0,
      s"hierarchyClosure: no convergence after $maxRounds doubling rounds — " +
        "either the hierarchy is deeper than 2^maxRounds (raise maxRounds) " +
        "or the parent edges contain a cycle (cycles whose length divides " +
        "no 2^r never stabilize under pointer doubling)")
    val cyclic = state.where(col("anc") === col("node") && col("dist") > 0)
      .count()
    require(cyclic == 0,
      s"hierarchyClosure: $cyclic node(s) sit on a cycle in the parent " +
        "edges (converged self-pointing at nonzero distance)")
    state.select(col("node"), col("anc").as("root"),
      col("dist").cast("int").as("depth"))
  }

  /** k-CORE peeling (fixed rounds): repeatedly drop nodes with degree
    * < `k` and the edges touching them — after convergence the
    * remaining subgraph is the k-core, the standard link-graph quality
    * signal (spam/boilerplate clusters live outside deep cores; a
    * near-dup cluster's core exposes its densely-duplicated heart).
    * `rounds` is FIXED, not run-to-fixpoint: peeling is monotone, so
    * extra rounds after convergence are no-ops, and a fixed count
    * makes the result reproducible verbatim on any engine (the gate's
    * DuckDB oracle unrolls the same rounds) — callers size `rounds`
    * like PageRank iterations; GraphSpec pins that another peel is a
    * no-op on the gate configuration. Output: nodes still in the
    * subgraph with their WITHIN-SUBGRAPH degree.
    *
    * Scale: each round is one degree aggregate (key-partitioned) and
    * two semi-joins on the surviving node set; edges only shrink.
    * `localCheckpoint` per round truncates the growing lineage — the
    * CC/PageRank kernel discipline. Never all-pairs; O(rounds·m). */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1 && rounds <= 20, s"rounds must be in [1,20]: $rounds")
    // canonical orientation BEFORE distinct (the modularityParts/
    // triangles discipline): an undirected edge listed both ways must
    // collapse to one row, or each endpoint double-counts degree and a
    // lone bidirectional edge masquerades as a 2-core (r10 review)
    var e = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b")).distinct()
    for (_ <- 1 to rounds) {
      val deg = e.select(col("a").as("n"))
        .unionAll(e.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val keep = deg.where(col("deg") >= k).select("n")
      e = e
        .join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
        .localCheckpoint()
    }
    e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .select(col("n").as("node_id"), col("deg").cast("long").as("deg"))
  }

  /** Newman modularity of a node partition, as EXACT RATIONAL PARTS per
    * community: Q = Σ_c [e_c/m − (d_c/2m)²] = Σ_c q_num_c / q_den with
    * q_num_c = 4m·e_c − d_c² and q_den = 4m² — every quantity an
    * integer count, so the community-quality report carries zero float
    * surface and the caller divides at whatever precision it wants
    * ("how assortative is the near-dup graph under this labeling").
    * The parts are DECIMAL(38,0) (r9 advice): 4m² clears 2⁶³ past
    * ~1.5e9 edges — well inside a 100 TB near-dup graph — and Long
    * arithmetic would silently wrap there; decimal keeps the rational
    * parts exact to 10³⁸ (a 10¹⁸-edge graph).
    * Undirected simple edges expected (a<b rows); self-loops dropped,
    * duplicate rows collapsed. Unlabeled nodes contribute to m and to
    * their neighbors' degrees but to no community (the standard
    * treatment). One distinct + one degree aggregate + two keyed
    * label joins + a 1-row m broadcast — nothing quadratic. */
  def modularityParts(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, idCol: String, labelCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val m = e.agg(count(lit(1)).as("m"))
    val deg = e.select(col("a").as("n"))
      .unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val lab = labels.select(col(idCol).as("n"), col(labelCol).as("c"))
      .where(col("c").isNotNull).distinct()
    val eWithin = e
      .join(lab.select(col("n").as("a"), col("c").as("ca")), "a")
      .join(lab.select(col("n").as("b"), col("c").as("cb")), "b")
      .where(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("e_within"))
    val dSum = deg.join(lab, "n")
      .groupBy("c").agg(sum(col("deg")).as("d_sum"))
    dSum.join(eWithin, Seq("c"), "left")
      .crossJoin(broadcast(m))
      .select(col("c").as(labelCol),
        coalesce(col("e_within"), lit(0L)).as("n_edges_within"),
        col("d_sum").cast("long").as("d_sum"),
        (lit(4L).cast("decimal(38,0)") * col("m") *
            coalesce(col("e_within"), lit(0L)) -
          col("d_sum").cast("decimal(38,0)") * col("d_sum"))
          .cast("decimal(38,0)").as("q_num"),
        (lit(4L).cast("decimal(38,0)") * col("m") * col("m"))
          .cast("decimal(38,0)").as("q_den"))
  }
}
