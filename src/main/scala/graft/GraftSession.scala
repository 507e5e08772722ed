package graft

import org.apache.spark.sql.SparkSession

/** The one session config: every main ([[Bench]], [[RunOne]],
  * [[Verify]], [[Explain]], ...) and the spec fixture build through it,
  * so the plan `Verify` checks and `Explain` dumps is the plan `Bench`
  * times. Only the core count differs between them. */
object GraftSession {
  /** Task threads and shuffle partitions for a main: `SPARK_GRAFT_CPUS`,
    * default 32. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Shuffle/spill scratch directory override (`SPARK_GRAFT_LOCAL_DIR`;
    * unset = Spark default). An operator knob only — r16 MEASURED both
    * candidate placements on an ext4-on-virtio VM and neither earned a
    * default: /dev/shm looked attractive (that ext4 did ~3 MB/s on
    * sync-heavy small writes, and event logs showed 10.9s of cumulative
    * shuffle-write time for 331 KB across one 32-task stage), but a
    * controlled A/B with scratch AND spark.local.dir on tmpfs made the
    * txn/stream gates 1.6-2× SLOWER (etl_txn_merge 6.1/4.5s ext4 vs
    * 12.8/7.4s tmpfs, fresh scratch both sides) — so the default stays
    * the default, and the knob exists for boxes where fast local disks
    * actually are faster. */
  private[graft] def localDir: Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR")

  def build(cpus: Int): SparkSession = {
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
    val spark = localDir.fold(b0)(d => b0.config("spark.local.dir", d))
      // testdata files are small; cap split size so scans parallelize
      .config("spark.sql.files.maxPartitionBytes", "16m")
      // coalesce post-shuffle partitions by SIZE, not parallelism:
      // with the default (true), AQE keeps >= defaultParallelism
      // near-empty reduce tasks on small shuffles — for iterative
      // plans (CC label propagation, pageRank: one shuffle-heavy job
      // per round) the 32x task-scheduling overhead dominates wall
      // time. False is also the setting Spark's own docs recommend
      // once advisoryPartitionSize is tuned; at real scale partitions
      // are size-bound either way, so this only removes toy-scale
      // latency, it does not change the 100 TB plan shape.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // runtime SMJ→shuffled-hash conversion, SIZE-GATED per partition:
      // the sanctioned replacement for forced shuffle_hash hints (the
      // unbounded posting self-joins in Dedup dropped theirs in r12).
      // AQE converts only when every build partition fits under the
      // threshold — at test SF the narrow posting tables qualify and
      // keep the ~2× hash-build win; at 100 TB they exceed it and
      // sort-merge (spillable) is chosen. 64m = the advisory partition
      // size, the largest value the conversion rule accepts.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
