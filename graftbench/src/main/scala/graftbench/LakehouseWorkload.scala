package graftbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Txn

/** lakehouse: one Txn table under a write/read mix. Each cycle commits
  * one merge changeset (upserts through `commitMerge`, deletes through
  * `commitDeleteDv`: op), then runs pruned range reads (op2) and one
  * point-key lookup. Maintenance runs before each measured phase. Reads
  * and writes hit the Txn layer in different ways, so a change that
  * buys merge speed with more files or a longer log shows up in op2 and
  * space_amp. Bypasses functions and Dedup. */
final class LakehouseWorkload(b: Bench, nRows: Int = 60000,
    changes: Int = 4000, readsPerCycle: Int = 2) extends Workload {
  import LakehouseWorkload._
  private val spark = b.spark
  private var root = ""
  private var cycleNo = 0
  /** The in-process model of the table: key → row. */
  private val model = new java.util.TreeMap[java.lang.Long, Gen.Row]()
  private lazy val zipf = new Gen.Zipf(nRows, 1.2)
  private val stats = scala.collection.mutable.Map.empty[String, Double]
  private def add(k: String, v: Double): Unit = stats(k) = stats.getOrElse(k, 0.0) + v


  def stage(dir: String): Unit = {
    root = s"$dir/table"
    cycleNo = 0
    model.clear()
    val rows = Gen.baseTable(b.seed, nRows)
    rows.foreach(r => model.put(r.key, r))
    b.tracer.span("txn.create") {
      Txn.commitOverwrite(spark, root,
        frame(rows).repartitionByRange(16, col("key")), statsCol = Some("key"))
    }
  }

  private def frame(rows: Seq[Gen.Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => Row(r.key, r.v, r.ts, r.grp, r.payload)), 3), Schema)

  def cycle(): Unit = {
    cycleNo += 1
    val live = model.keySet().asScala.map(_.longValue).toArray
    val (ups, dels) = Gen.changeset(b.seed, cycleNo, live, model.lastKey(),
      changes, zipf)
    val before = if (b.tracing) snapshot() else Map.empty[String, Long]
    b.timed("op", changes.toLong) {
      b.tracer.span("txn.merge") {
        Txn.commitMerge(spark, root, frame(ups), "key", statsCol = Some("key"))
      }
      b.tracer.span("txn.delete_dv") {
        Txn.commitDeleteDv(spark, root,
          spark.createDataFrame(dels.toSeq.map(Tuple1(_))).toDF("key"), "key")
      }
    } { _ =>
      ups.foreach(r => model.put(r.key, r))
      dels.foreach(k => model.remove(k))
      true
    }
    if (b.tracing) {
      val after = snapshot()
      val gone = before.keySet -- after.keySet
      add("merges", 1); add("files_rewritten", gone.size)
      add("mb_rewritten", gone.toSeq.map(before).sum / 1048576.0)
    }
    val r = new java.util.SplittableRandom(b.seed * 7919 + cycleNo)
    (0 until readsPerCycle).foreach(_ => rangeRead(r))
    keyRead(r)
    if (b.measuring && afterFirst == 0L) afterFirst = EtlWorkload.dirBytes(root)
  }

  /** Bytes under the table root after the first measured cycle: one
    * merge cycle after maintenance, a fixed point of the saw-tooth that
    * maintenance cuts. */
  private var afterFirst = 0L

  /** Maintenance runs before each measured phase, outside its wall time:
    * a phase holds about three cycles, so whether a maintenance run fell
    * inside it would decide the phase's throughput. */
  override def reset(): Unit = {
    afterFirst = 0L
    maintain()
  }

  /** A pruned range read of about 0.5% of the key space. */
  private def rangeRead(r: java.util.SplittableRandom): Unit = {
    val maxKey = model.lastKey().longValue
    val width = math.max(2L, maxKey / 200)
    val lo = r.nextLong(math.max(1L, maxKey - width))
    val hi = lo + width
    if (b.tracing) traceRead(lo.toDouble, hi.toDouble)
    b.timed("op2", 0L) {
      b.tracer.span("txn.read_where") {
        Txn.readWhere(spark, root, "key", lo.toDouble, hi.toDouble)
          .select(Schema.fieldNames.map(col): _*).collect()
      }
    } { rows =>
      val want = model.subMap(lo, true, hi, true).values().asScala.toSeq
      sameRows(rows, want)
    }
  }

  /** A point lookup of 32 keys: most live, some deleted or never used.
    * Timed as its own op kind, so op2 holds range reads only. */
  private def keyRead(r: java.util.SplittableRandom): Unit = {
    val maxKey = model.lastKey().longValue
    val keys = Seq.fill(32)(r.nextLong(maxKey + 1)).distinct
    b.timed("lookup", 0L) {
      b.tracer.span("txn.read_keys") {
        Txn.readKeys(spark, root,
          spark.createDataFrame(keys.map(Tuple1(_))).toDF("key"), "key")
          .select(Schema.fieldNames.map(col): _*).collect()
      }
    } { rows =>
      sameRows(rows, keys.flatMap(k => Option(model.get(k))))
    }
  }

  /** Traced only: the log read and the prune a range read starts with,
    * timed on their own so their share of the read is known. */
  private def traceRead(lo: Double, hi: Double): Unit = {
    val (v, logS) = b.probe("txn.log") {
      val v = Txn.currentVersion(spark, root)
      (v, Txn.snapshotEntries(spark, root, v).size)
    }
    val (kept, pruneS) = b.probe("txn.prune") {
      Txn.filesForPreds(spark, root, Seq(("key", lo, hi)), Some(v._1)).size
    }
    add("reads", 1); add("log_s", logS); add("prune_s", pruneS)
    add("considered", v._2); add("kept", kept)
  }

  private def maintain(): Unit = {
    val before = if (b.tracing) snapshot() else Map.empty[String, Long]
    b.timed("maint", 0L) {
      b.tracer.span("txn.maint") {
        Txn.optimize(spark, root, numFiles = 16, zorderByCols = Seq("key", "ts"),
          statsCol = Some("key"), keepLast = 4, retentionMs = 0L)
      }
    }(_ => true)
    if (b.tracing) {
      add("maints", 1); add("maint_mb", before.values.sum / 1048576.0)
    }
  }

  /** Live data files of the head snapshot → their bytes. */
  private def snapshot(): Map[String, Long] = {
    val v = Txn.currentVersion(spark, root)
    Txn.snapshotEntries(spark, root, v).map { e =>
      e.path -> new java.io.File(s"$root/data/${e.path}").length()
    }.toMap
  }

  private def sameRows(got: Array[Row], want: Seq[Gen.Row]): Boolean = {
    def norm(r: Gen.Row) = (r.key, r.v, r.ts, r.grp, r.payload)
    got.map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3),
      x.getString(4))).sortBy(_._1).toSeq == want.map(norm).sortBy(_._1)
  }

  def finalCheck(): Boolean =
    sameRows(Txn.read(spark, root).select(Schema.fieldNames.map(col): _*).collect(),
      model.values().asScala.toSeq)

  def spaceAmp(): Double = {
    val c = s"$root-compact"
    Txn.read(spark, root).coalesce(1).write.mode("overwrite").parquet(c)
    afterFirst.toDouble / EtlWorkload.dirBytes(c)
  }

  def layerMetrics(): Map[String, Double] = {
    val spans = b.tracer.all
    def mean(name: String) = Metrics.mean(spans.filter(_.name == name).map(_.seconds))
    val reads = math.max(1.0, stats.getOrElse("reads", 0.0))
    val merges = math.max(1.0, stats.getOrElse("merges", 0.0))
    val maints = math.max(1.0, stats.getOrElse("maints", 0.0))
    val readS = mean("txn.read_where")
    val logS = stats.getOrElse("log_s", 0.0) / reads
    val pruneS = stats.getOrElse("prune_s", 0.0) / reads
    val v = Txn.currentVersion(spark, root)
    Map(
      "txn.log_ms" -> logS * 1e3,
      "txn.prune_ms" -> pruneS * 1e3,
      "txn.files_considered" -> stats.getOrElse("considered", 0.0) / reads,
      "txn.files_kept" -> stats.getOrElse("kept", 0.0) / reads,
      "txn.scan_s" -> (readS - logS - pruneS),
      "txn.merge_s" -> mean("txn.merge"),
      "txn.delete_dv_s" -> mean("txn.delete_dv"),
      "txn.files_rewritten" -> stats.getOrElse("files_rewritten", 0.0) / merges,
      "txn.mb_rewritten" -> stats.getOrElse("mb_rewritten", 0.0) / merges,
      "txn.maint_s" -> mean("txn.maint"),
      "txn.maint_mb_rewritten" -> stats.getOrElse("maint_mb", 0.0) / maints,
      "txn.versions" -> Txn.history(spark, root).size.toDouble,
      "txn.live_files" -> Txn.snapshotEntries(spark, root, v).size.toDouble)
  }
}

object LakehouseWorkload {
  val Schema: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("v", LongType), StructField("ts", LongType),
    StructField("grp", StringType), StructField("payload", StringType)))
}
