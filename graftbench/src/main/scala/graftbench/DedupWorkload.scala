package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.operators.{Dedup, DedupIndex}
import graft.plans.GraftFunctions
import graft.sinks.ParquetSink

/** dedup: corpus curation. The loop alternates a full pass
  * (`ngramJaccardPairs` → `duplicateClusters` → `keepCanonical` →
  * `ParquetSink`: op) with probes of fresh batches against a
  * `DedupIndex` built during set-up (op2). The pass is dominated by the
  * posting self-join and the native gram kernels; the probe uses the
  * same layer as "build once, probe many". Bypasses Txn and JSON
  * parsing. */
final class DedupWorkload(b: Bench, nDocs: Int = 3000, batchDocs: Int = 1000,
    nBatches: Int = 2) extends Workload {
  import DedupWorkload._
  private val spark = b.spark
  private var dir = ""
  private var docs: Array[Gen.Doc] = Array.empty
  private var batches: Array[Array[Gen.Doc]] = Array.empty
  private var next = 0
  private var buildS = 0.0
  private lazy val reference = exactPairs(docs, N, Threshold)
  private lazy val referenceKept = keptIds(docs.map(_.id), reference.keys)
  private val stats = scala.collection.mutable.Map.empty[String, Double]
  private def add(k: String, v: Double): Unit = stats(k) = stats.getOrElse(k, 0.0) + v


  def stage(d: String): Unit = {
    dir = d
    docs = Gen.corpus(b.seed, nDocs, 0L, 0.25)
    batches = Array.tabulate(nBatches)(i =>
      Gen.corpus(b.seed + 101 * (i + 1), batchDocs, 1000000L * (i + 1), 0.30, docs))
    write(docs, s"$d/corpus")
    batches.zipWithIndex.foreach { case (bt, i) => write(bt, s"$d/batch-$i") }
    val t0 = System.nanoTime()
    DedupIndex.buildMinhash(corpus, "id", "text", s"$d/index")
    buildS = (System.nanoTime() - t0) / 1e9
  }

  private def write(ds: Array[Gen.Doc], path: String): Unit =
    spark.createDataFrame(ds.toSeq.map(x => (x.id, x.text))).toDF("id", "text")
      .withColumn("grp", lit("en")).coalesce(2).write.mode("overwrite").parquet(path)

  private def corpus: DataFrame = spark.read.parquet(s"$dir/corpus")

  def cycle(): Unit = {
    var pairs: Array[Row] = Array.empty
    b.timed("op", nDocs.toLong) {
      val p = b.tracer.span("dedup.pairs") {
        Dedup.ngramJaccardPairs(corpus, "id", "text", "grp", N, Threshold)
          .localCheckpoint()
      }
      val clusters = b.tracer.span("dedup.cluster") {
        Dedup.duplicateClusters(p, "doc_a", "doc_b").localCheckpoint()
      }
      val n = b.tracer.span("dedup.keep") {
        ParquetSink(s"$dir/kept").write(Dedup.keepCanonical(corpus, "id", clusters))
      }
      pairs = p.collect()
      Seq(p, clusters).foreach(org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint)
      n
    } { n =>
      n == referenceKept.size && checkPairs(pairs) &&
        spark.read.parquet(s"$dir/kept").select("id").collect().map(_.getLong(0))
          .toSet == referenceKept
    }
    if (b.tracing) traceKernels()
    probe()
  }

  /** Reported pairs equal the exact pairs at the threshold. */
  private def checkPairs(pairs: Array[Row]): Boolean = {
    val got = pairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    if (b.tracing) {
      val planted = reference.keys.filter { case (a, c) => clusterOf(a) >= 0 &&
        clusterOf(a) == clusterOf(c) }
      add("passes", 1); add("pairs", got.size)
      add("precision", if (got.isEmpty) 1.0 else
        got.keys.count(reference.contains).toDouble / got.size)
      add("recall", if (planted.isEmpty) 1.0 else
        planted.count(got.contains).toDouble / planted.size)
    }
    got.keySet == reference.keySet &&
      got.forall { case (k, j) => math.abs(reference(k) - j) <= 1e-4 }
  }

  private lazy val clusterOf: Map[Long, Long] = docs.map(d => d.id -> d.cluster).toMap

  private def probe(): Unit = {
    val i = next % batches.length
    next += 1
    val batch = batches(i)
    b.timed("op2", batchDocs.toLong) {
      b.tracer.span("index.probe") {
        DedupIndex.probeMinhash(spark, s"$dir/index",
          spark.read.parquet(s"$dir/batch-$i"), "id", "text").collect()
      }
    } { rows =>
      if (b.tracing) { add("probes", 1); add("candidates", rows.length) }
      checkProbe(batch, rows)
    }
  }

  /** Every match links a batch doc to a corpus doc with a plausible
    * estimate, and at least half of the planted copies with exact
    * shingle Jaccard ≥ 0.7 are found (minhash LSH is a sampled
    * estimator; the expected share at 4 bands × 4 rows is above 0.8). */
  private def checkProbe(batch: Array[Gen.Doc], rows: Array[Row]): Boolean = {
    val batchIds = batch.map(_.id).toSet
    val corpusIds = clusterOf.keySet
    val found = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val valid = rows.forall(r => batchIds(r.getLong(0)) && corpusIds(r.getLong(1)) &&
      r.getDouble(2) >= 0.25 && r.getDouble(2) <= 1.0)
    val byId = docs.map(d => d.id -> d).toMap
    val planted = batch.filter(_.cluster >= 0).filter(d =>
      jaccard(grams(d.text, N), grams(byId(d.cluster).text, N)) >= 0.7)
    val hit = planted.count(d => found((d.id, d.cluster)))
    valid && (planted.isEmpty || hit >= planted.length / 2)
  }

  /** Traced only: the native kernels alone over the corpus, minus a
    * scan-only pass over the same columns. */
  private def traceKernels(): Unit = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val (_, scan) = b.probe("plans.scan") { noop(corpus.select("id", "grp", "text")) }
    val (_, gk) = b.probe("plans.gram_keys") {
      noop(corpus.select(GraftFunctions.gramKeys(spark, col("grp"), col("text"), N)))
    }
    val (_, mh) = b.probe("plans.minhash_sig") {
      noop(corpus.select(GraftFunctions.minhashSig(spark,
        GraftFunctions.shingles(spark, TextAnalysis.tokens(col("text")), 3), 16)))
    }
    add("kernels", 1); add("gram_keys_s", gk - scan); add("minhash_sig_s", mh - scan)
  }

  /** Each pass already checked its pairs and its kept set; the kept
    * output on disk is the last pass's. */
  def finalCheck(): Boolean =
    spark.read.parquet(s"$dir/kept").count() == referenceKept.size

  def spaceAmp(): Double = {
    val c = s"$dir/kept-compact"
    spark.read.parquet(s"$dir/kept").coalesce(1).write.mode("overwrite").parquet(c)
    (EtlWorkload.dirBytes(s"$dir/kept") + EtlWorkload.dirBytes(s"$dir/index")).toDouble /
      EtlWorkload.dirBytes(c)
  }

  def layerMetrics(): Map[String, Double] = {
    val spans = b.tracer.all
    def mean(name: String) = Metrics.mean(spans.filter(_.name == name).map(_.seconds))
    val passes = math.max(1.0, stats.getOrElse("passes", 0.0))
    val probes = math.max(1.0, stats.getOrElse("probes", 0.0))
    val kernels = math.max(1.0, stats.getOrElse("kernels", 0.0))
    val probeSpans = spans.filter(_.name == "index.probe")
    val filesRead = b.tracer.scans.filter { case (t, _) =>
      probeSpans.exists(s => t >= s.startMs && t <= s.endMs) }.map(_._2).sum
    val clusterJobs = spans.filter(_.name == "dedup.cluster")
      .map(s => b.tracer.engineOf(s).jobs.toDouble).sum
    Map(
      "dedup.pairs_s" -> mean("dedup.pairs"),
      "dedup.pairs" -> stats.getOrElse("pairs", 0.0) / passes,
      "dedup.cluster_s" -> mean("dedup.cluster"),
      "dedup.cluster_jobs" -> clusterJobs / passes,
      "dedup.keep_s" -> mean("dedup.keep"),
      "dedup.precision" -> stats.getOrElse("precision", 0.0) / passes,
      "dedup.recall" -> stats.getOrElse("recall", 0.0) / passes,
      "index.build_s" -> buildS,
      "index.probe_s" -> mean("index.probe"),
      "index.candidates" -> stats.getOrElse("candidates", 0.0) / probes,
      "index.files_read" -> filesRead / probes,
      "plans.gram_keys_s" -> stats.getOrElse("gram_keys_s", 0.0) / kernels,
      "plans.minhash_sig_s" -> stats.getOrElse("minhash_sig_s", 0.0) / kernels)
  }
}

object DedupWorkload {
  /** n-gram width and Jaccard threshold of the curation pass. */
  val N = 3
  val Threshold = 0.5

  /** Distinct token n-grams of a text (lower-cased, split on spaces). */
  def grams(text: String, n: Int): Set[String] = {
    val t = text.toLowerCase.split(" ").filter(_.nonEmpty)
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else a.intersect(b).size.toDouble / (a.size + b.size - a.intersect(b).size)

  /** Every doc pair (lower id first) whose exact n-gram Jaccard is at
    * least `t`, with that Jaccard: an inverted index over gram ids,
    * counting intersections per candidate. */
  def exactPairs(docs: Array[Gen.Doc], n: Int, t: Double): Map[(Long, Long), Double] = {
    val sorted = docs.sortBy(_.id)
    val dict = scala.collection.mutable.HashMap.empty[String, Int]
    val gs = sorted.map(d => grams(d.text, n).toArray.map(g => dict.getOrElseUpdate(g, dict.size)))
    val postings = Array.fill(dict.size)(scala.collection.mutable.ArrayBuffer.empty[Int])
    gs.zipWithIndex.foreach { case (g, i) => g.foreach(x => postings(x) += i) }
    val cnt = new Array[Int](sorted.length)
    val out = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
    gs.indices.foreach { i =>
      val touched = scala.collection.mutable.ArrayBuffer.empty[Int]
      gs(i).foreach { g => postings(g).foreach { j =>
        if (j > i) { if (cnt(j) == 0) touched += j; cnt(j) += 1 }
      } }
      touched.foreach { j =>
        val inter = cnt(j)
        val jac = inter.toDouble / (gs(i).length + gs(j).length - inter)
        if (jac >= t) out((sorted(i).id, sorted(j).id)) = BigDecimal(jac)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        cnt(j) = 0
      }
    }
    out.toMap
  }

  /** Ids kept by canonical-keep: every doc outside the pair graph, plus
    * the minimum id of each connected component. */
  def keptIds(ids: Array[Long], pairs: Iterable[(Long, Long)]): Set[Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, c) =>
      val (ra, rc) = (find(a), find(c))
      if (ra != rc) parent(math.max(ra, rc)) = math.min(ra, rc)
    }
    ids.filter(i => find(i) == i).toSet
  }
}
