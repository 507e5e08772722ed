package graft

import org.apache.spark.sql.DataFrame

/** Profiling main: run ONE named SparkEntry query with Bench's exact
  * session config and timing action, printing per-iteration wall times
  * and (optionally) the formatted plan.
  *
  * Usage: runMain graft.RunOne <queryName> [sfDir] [iters] [--explain]
  *
  * Bench times the whole inventory, which makes isolating a single
  * query's regression noisy (page cache, JIT, neighbors); this gives the
  * same measurement — warm-up at sf0.001, then timed passes — for one
  * key, so a plan change can be A/B'd in seconds.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--")) // flags are positionless
    val name = pos.headOption.getOrElse(
      sys.error("usage: RunOne <queryName> [sfDir] [iters] [--explain]"))
    val sfDir = pos.lift(1).getOrElse("/root/testdata/sf0.1")
    val iters = pos.lift(2).map(_.toInt).getOrElse(3)
    val explain = args.contains("--explain")

    // fresh staged state, exactly like Bench.main — without this, txn
    // gates APPEND to a previous invocation's log roots and each run
    // measures an ever-longer history (observed: etl_txn_merge
    // 4.7s → 22s across repeated RunOne invocations)
    Seq("/tmp/graft_rt", "/tmp/graft_bench_stream")
      .foreach(Bench.resetScratch)
    val spark = GraftSession.build(GraftSession.envCpus)
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'; keys: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))

    def run(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())

    run(fn(spark, "/root/testdata/sf0.001")) // warm-up: JIT + codegen cache
    if (explain) fn(spark, sfDir).explain("formatted")
    (1 to iters).foreach { i =>
      val t0 = System.nanoTime()
      run(fn(spark, sfDir))
      println(f"RUN $name%s iter=$i%d ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
