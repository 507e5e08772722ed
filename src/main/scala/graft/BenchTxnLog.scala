package graft

import org.apache.spark.sql.functions._

/** Measured-claim main for the r14 delta-log manifest format: "commit
  * metadata cost is O(touched files), not O(table files)" is a design
  * statement until the bytes are counted. This stages a table, drives
  * N small appends (the streaming-publish cadence shape), and reports
  * the RAW manifest size written per commit across the run — flat
  * under the delta log, linear in table size under the pre-r14 full
  * rewrite — plus where the sidecar checkpoints landed, the cost of a
  * head resolution at the end of the run, and a CDF read over the
  * tail. One JSON line, the BenchZipf discipline.
  *
  * Usage: runMain graft.BenchTxnLog [nCommits] [rowsPerCommit] */
object BenchTxnLog {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200)
    val rows = args.lift(1).map(_.toInt).getOrElse(100)
    val root = "/tmp/graft_rt/bench_txnlog"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val spark = GraftSession.build(GraftSession.envCpus)
    import graft.operators.Txn
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    def manifestBytes(v: Int): Long =
      f.getFileStatus(new org.apache.hadoop.fs.Path(
        f"$root/_manifests/v$v%05d.manifest")).getLen

    Txn.commitOverwrite(spark, root,
      spark.range(rows.toLong).select(col("id").as("k"),
        (col("id") % 7).as("x")), statsCol = Some("k"))
    val t0 = System.nanoTime()
    (1 to n).foreach { i =>
      Txn.commitAppend(spark, root,
        spark.range(i * 1000L, i * 1000L + rows).coalesce(1)
          .select(col("id").as("k"), (col("id") % 7).as("x")),
        statsCol = Some("k"))
    }
    val appendSec = (System.nanoTime() - t0) / 1e9
    val sizes = (2 to n + 1).map(manifestBytes)
    val checkpoints = f.listStatus(new org.apache.hadoop.fs.Path(
        s"$root/_manifests")).map(_.getPath.getName)
      .count(_.endsWith(".checkpoint"))
    // head resolution + a snapshot read + a tail CDF read on the deep log
    val t1 = System.nanoTime()
    val head = Txn.currentVersion(spark, root)
    val headSec = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val nRows = Txn.read(spark, root).count()
    val readSec = (System.nanoTime() - t2) / 1e9
    val t3 = System.nanoTime()
    val tail = Txn.readChangesCdf(spark, root, head - 5).count()
    val cdfSec = (System.nanoTime() - t3) / 1e9

    // ---- PARTITIONED twin (r15): the hive-layout case the r14 flat
    // fast path did NOT cover — with partition dirs nested inside
    // batch dirs a 200-append table read one scan relation per commit
    // (the verdict's remaining O(commits) read). The re-rooted
    // data/k=v/b<v>-* staging must keep the snapshot read FLAT in
    // commit count: report the relation count alongside the time so
    // the claim is a measurement.
    val proot = "/tmp/graft_rt/bench_txnlog_part"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(proot))
    Txn.commitOverwrite(spark, proot,
      spark.range(rows.toLong).select(col("id").as("k"),
        (col("id") % 4).cast("string").as("p")),
      partitionBy = Seq("p"), statsCol = Some("k"))
    val pt0 = System.nanoTime()
    (1 to n).foreach { i =>
      Txn.commitAppend(spark, proot,
        spark.range(i * 1000L, i * 1000L + rows).coalesce(1)
          .select(col("id").as("k"), (col("id") % 4).cast("string").as("p")),
        partitionBy = Seq("p"), statsCol = Some("k"))
    }
    val pAppendSec = (System.nanoTime() - pt0) / 1e9
    val pt1 = System.nanoTime()
    val pdf = Txn.read(spark, proot)
    val pRows = pdf.count()
    val pReadSec = (System.nanoTime() - pt1) / 1e9
    val pRels = pdf.queryExecution.optimizedPlan.collectLeaves().size
    def fmt(v: Double) = f"$v%.3f"
    val sorted = sizes.sorted
    // flatness check: last-decile median vs first-decile median — the
    // pre-r14 format grows this ratio linearly with n
    val d = math.max(1, n / 10)
    val firstMed = sizes.take(d).sorted.apply(d / 2)
    val lastMed = sizes.takeRight(d).sorted.apply(d / 2)
    println(s"""{"commits":$n,"rows_per_commit":$rows,""" +
      s""""append_sec_total":${fmt(appendSec)},""" +
      s""""manifest_bytes_p50":${sorted(n / 2)},""" +
      s""""manifest_bytes_max":${sorted.last},""" +
      s""""first_decile_median":$firstMed,"last_decile_median":$lastMed,""" +
      s""""growth_ratio":${fmt(lastMed.toDouble / firstMed)},""" +
      s""""checkpoints":$checkpoints,"head":$head,""" +
      s""""head_resolve_sec":${fmt(headSec)},""" +
      s""""snapshot_rows":$nRows,"snapshot_read_sec":${fmt(readSec)},""" +
      s""""cdf_tail_rows":$tail,"cdf_tail_sec":${fmt(cdfSec)},""" +
      s""""part_append_sec_total":${fmt(pAppendSec)},""" +
      s""""part_snapshot_rows":$pRows,""" +
      s""""part_snapshot_read_sec":${fmt(pReadSec)},""" +
      s""""part_scan_relations":$pRels}""")

    // ---- HIGH-FILE-COUNT prune twin (r16): the measured claim behind
    // the parquet checkpoint sidecar — "prune cost and driver bytes
    // stay flat-ish in file count". Stage a bloom-recorded table whose
    // file count crosses 10k (every file's [min,max] interleaved so
    // the 8 KiB/file bloom is what prunes), roll a checkpoint, then
    // time a point-key prune: pre-r16 this parsed ~(files × 8 KiB) of
    // base64 onto the driver per prune; now the text checkpoint (the
    // only per-prune driver read) carries no bloom bytes and the bloom
    // probe runs as a Spark job over the cpq sidecar.
    val bigN = args.lift(2).map(_.toInt).getOrElse(graft.operators.Txn
      .checkpointEvery + 1)
    val filesPer = args.lift(3).map(_.toInt).getOrElse(600)
    val broot = "/tmp/graft_rt/bench_txnlog_files"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(broot))
    def batch(i: Int) = spark.range(i * 100000L, i * 100000L + 20000L)
      .select(col("id").as("k"), (col("id") % 7).as("x"))
      .repartition(filesPer) // round-robin: every file spans the range
    Txn.commitOverwrite(spark, broot, batch(0),
      statsCol = Some("k"), bloomCols = Seq("k"))
    val bt0 = System.nanoTime()
    (1 to bigN).foreach { i =>
      Txn.commitAppend(spark, broot, batch(i),
        statsCol = Some("k"), bloomCols = Seq("k"))
    }
    val bAppendSec = (System.nanoTime() - bt0) / 1e9
    val bHead = Txn.currentVersion(spark, broot)
    val nFiles = Txn.snapshotFiles(spark, broot, bHead).size
    val mdir = new org.apache.hadoop.fs.Path(s"$broot/_manifests")
    val textBytes = f.listStatus(mdir)
      .filter(s => s.getPath.getName.endsWith(".checkpoint"))
      .map(_.getLen).maxOption.getOrElse(0L)
    val cpqBytes = f.listStatus(mdir)
      .filter(_.getPath.getName.endsWith(".cpq"))
      .map(s => f.getContentSummary(s.getPath).getLength)
      .maxOption.getOrElse(0L)
    import spark.implicits._
    val keys = Seq(7L, 100007L, 500009L).toDF("k")
    val bt1 = System.nanoTime()
    val cand = Txn.filesForKeys(spark, broot, keys, "k")
    val pruneSec = (System.nanoTime() - bt1) / 1e9
    val bt2 = System.nanoTime()
    val pointRows = Txn.readKeys(spark, broot, keys, "k").count()
    val pointSec = (System.nanoTime() - bt2) / 1e9
    println(s"""{"files_total":$nFiles,"files_commits":${bigN + 1},""" +
      s""""files_append_sec_total":${fmt(bAppendSec)},""" +
      s""""text_checkpoint_bytes":$textBytes,""" +
      s""""cpq_checkpoint_bytes":$cpqBytes,""" +
      s""""prune_candidates":${cand.size},""" +
      s""""prune_sec":${fmt(pruneSec)},""" +
      s""""point_rows":$pointRows,"point_read_sec":${fmt(pointSec)}}""")
    spark.stop()
  }
}
