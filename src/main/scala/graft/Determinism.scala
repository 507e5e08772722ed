package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Mechanical determinism sweep — the permanent form of the r13
  * q_interval_merge audit. That bug (a window sorted on a non-unique
  * key, so tie order — and the result hash — depended on partitioning)
  * was caught only because regenerated testdata happened to introduce
  * ties; auditing "every other window" by hand doesn't stay done. This
  * harness re-runs gates under DIFFERENT physical execution — another
  * `spark.sql.shuffle.partitions` and smaller scan splits, the two
  * knobs that reorder rows without changing semantics — and compares
  * order-free canonical result hashes. A gate whose result depends on
  * partitioning is exactly a gate whose driver hash-match is a coin
  * flip, so zero mismatches is a release invariant.
  *
  * Excluded BY CONTRACT (documented, not silently): the `approx_*`
  * sketch keys — mergeable-sketch estimates are legitimately
  * merge-order-dependent, which is why their gates are rows-only with
  * quality pinned by the oracle-checked `approx_eval`.
  *
  * Wiring: `graft.DeterminismCheck` (a main) sweeps the full inventory
  * at a given SF and prints one JSON line (the selfcheck-loop
  * artifact); DeterminismSpec keeps the window family + a
  * ties-everywhere fixture under the per-run test suite and proves the
  * harness FIRES on a deliberately partition-dependent query. */
object Determinism {
  /** Keys whose results are legitimately execution-order dependent. */
  val excluded: Set[String] =
    Set("approx_distinct", "approx_quantiles", "approx_freq",
      "approx_mergeable")

  /** Order-free canonical hash of a frame: every row rendered with a
    * field separator, sorted, md5'd — the driver comparator's shape,
    * so "same hash both runs" means "the driver would see the same
    * table either run". */
  def hashOf(df: DataFrame): String = {
    // fields join on \u0001 with an explicit NULL sentinel: Row.mkString
    // renders null as "null", so a null field and the literal string
    // "null" hashed identically — exactly the kind of mismatch the
    // sweep exists to catch (r14 advice)
    val rows = df.collect().map(_.toSeq.map {
      case null => "\u0000N"
      case v => v.toString
    }.mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("md5")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Run `f` under temporary session-conf overrides, restoring the
    * previous values (or unsetting) afterwards. */
  def withConf[T](spark: SparkSession, pairs: Map[String, String])(
      f: => T): T = {
    val old = pairs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** The altered-execution profile for run B: a co-prime shuffle
    * width, small scan splits, and no AQE partition coalescing — rows
    * arrive at every exchange and sort in a different order (and a
    * different partition count) than run A's defaults. */
  val alternate: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "7",
    "spark.sql.files.maxPartitionBytes" -> (1024 * 1024).toString,
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  /** Sweep `keys` at `sfDir`: each gate runs once under the session
    * defaults and once under [[alternate]]; returns the keys whose
    * canonical hashes differ, with both hashes. */
  def sweep(spark: SparkSession, keys: Seq[String],
      sfDir: String): Seq[(String, String, String)] =
    keys.filterNot(excluded).flatMap { name =>
      val fn = SparkEntry.queries(name)
      val a = hashOf(fn(spark, sfDir))
      val b = withConf(spark, alternate)(hashOf(fn(spark, sfDir)))
      if (a == b) None else Some((name, a, b))
    }
}

/** Selfcheck-loop main: sweep the FULL gate inventory (or a substring
  * filter) for partitioning-dependent results.
  *
  * Usage: runMain graft.DeterminismCheck [sfDir] [substr[,substr...]]
  * (comma-separated substrings OR together — r15: the selfcheck loop
  * runs the window/interval/asof/sessionize families at sf0.1 in
  * addition to the full sf0.001 sweep, because larger data exercises
  * more partition boundaries and spill paths than the toy SF does).
  * Prints one JSON line: {"checked":N,"mismatches":["k", ...]}. */
object DeterminismCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val subs = args.lift(1).map(_.split(',').map(_.trim).toSeq)
    val keys = SparkEntry.queries.keys.toSeq.sorted
      .filter(k => subs.forall(_.exists(k.contains)))
    val spark = GraftSession.build(GraftSession.envCpus)
    val bad = Determinism.sweep(spark, keys, sfDir)
    bad.foreach { case (k, a, b) =>
      System.err.println(s"[determinism] $k: $a != $b") }
    println(s"""{"checked":${keys.count(!Determinism.excluded(_))},""" +
      s""""mismatches":[${bad.map(t => s"\"${t._1}\"").mkString(",")}]}""")
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
