package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Zipf-fixture instrument for the posting-join discipline: times the
  * plain Σdf² n-gram forms ([[graft.operators.Dedup.ngramJaccardPairs]]
  * / [[graft.operators.Dedup.ngramContainmentPairs]]) on a synthetic
  * HEAVY-TAILED corpus — the distribution the sf gate fixture's
  * near-uniform vocabulary cannot exercise, and the one where a forced
  * non-spillable hash build on the posting self-join OOM'd in r8.
  *
  * Fixture (reproduces the r10 scratch A/B): 40-token docs over a 30k
  * vocab with log-uniform token RANKS, i.e. P(rank r) ∝ 1/r — Zipf(1)
  * to first order. Fully deterministic (xxhash64 of (doc_id, position),
  * no RNG), so runs A/B across commits measure the same bytes.
  *
  * Usage: runMain graft.BenchZipf [nDocs ...]   (default: 10000 20000)
  * Prints one line per (n, form) with best-of-2 wall seconds; the two
  * doc counts expose the quadratic-vs-linear scaling slope PLANS.md
  * tracks (plain Σdf² grows ~4× per doubling on Zipf data).
  */
object BenchZipf {
  def main(args: Array[String]): Unit = {
    val counts = if (args.nonEmpty) args.toSeq.map(_.toInt)
      else Seq(10000, 20000)
    val spark = GraftSession.build(GraftSession.envCpus)

    def fixture(n: Int): DataFrame = spark.range(n.toLong).select(
      col("id").as("doc_id"), lit("en").as("lang"),
      expr("""array_join(transform(sequence(1, 40), j ->
        concat('w', cast(cast(exp((pmod(xxhash64(id, j), 1000000) / 1000000.0D)
          * ln(30000.0D)) as bigint) as string))), ' ')""").as("text"))

    def run(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())
    def time(f: => DataFrame): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); run(f); (System.nanoTime() - t0) / 1e9
    }.min

    counts.foreach { n =>
      // materialize the fixture once so generation cost stays out of
      // the timed region (localCheckpoint: executor-local, no lineage)
      val docs = fixture(n).localCheckpoint()
      val jac = time(graft.operators.Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", "lang", n = 2, minJaccard = 0.3))
      val con = time(graft.operators.Dedup.ngramContainmentPairs(
        docs, "doc_id", "text", "lang", n = 2, minContainment = 0.8))
      // the PPJoin siblings on the SAME fixture — the oracle-pinned
      // 100-TB path; their slope vs the plain forms' is the whole
      // argument for the dfBudget guard pointing at them
      val jacC = time(graft.operators.Dedup.ngramJaccardPairsPrefix(
        docs, "doc_id", "text", "lang", n = 2, minJaccard = 0.3,
        maxDf = Some(64L)))
      val conC = time(graft.operators.Dedup.ngramContainmentPairsPrefix(
        docs, "doc_id", "text", "lang", n = 2, minContainment = 0.8,
        maxDf = Some(64L)))
      println(f"ZIPF n=$n%d jaccard=$jac%.3f s containment=$con%.3f s " +
        f"jaccard_capped=$jacC%.3f s containment_capped=$conC%.3f s")
    }
    spark.stop()
  }
}
