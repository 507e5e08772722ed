package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work = {
    val d = new java.io.File("target/spec-work")
    Main.deleteTree(d)
    d.mkdirs()
    d.getAbsolutePath
  }
  private lazy val spark: SparkSession = Main.session(work)

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(new java.io.File(work))
  }

  private def bench(): Bench = new Bench(spark, 7L, new Tracer(spark, false))

  test("the same seed gives identical inputs, another seed different ones") {
    def inputs(seed: Long) = (
      Gen.jsonl(seed, 400).toSeq, Gen.hl7(seed, 50).toSeq,
      Gen.baseTable(seed, 300).toSeq,
      Gen.corpus(seed, 200, 0L, 0.25).toSeq, Gen.events(seed, 500, 4, 50).toSeq)
    assert(inputs(1L) == inputs(1L))
    val (a, b) = (inputs(1L), inputs(2L))
    assert(a._1 != b._1 && a._2 != b._2 && a._3 != b._3 && a._4 != b._4 && a._5 != b._5)
    val live = Gen.baseTable(1L, 300).map(_.key)
    val zipf = new Gen.Zipf(300, 1.2)
    def cs(seed: Long) = {
      val (u, d) = Gen.changeset(seed, 1, live, live.max, 50, zipf)
      (u.toSeq, d.toSeq)
    }
    assert(cs(1L) == cs(1L) && cs(1L) != cs(2L))
  }

  test("generated inputs have the planted properties") {
    val json = Gen.jsonl(3L, 5000)
    val bad = json.count(!_.ok)
    assert(bad > 50 && bad < 150) // about 2%
    val docs = Gen.corpus(3L, 1000, 0L, 0.25)
    assert(docs.map(_.id).distinct.length == 1000)
    assert(docs.count(_.cluster >= 0) == 250)
    val (ups, dels) = Gen.changeset(3L, 1, Gen.baseTable(3L, 1000).map(_.key),
      1998L, 100, new Gen.Zipf(1000, 1.2))
    assert(ups.length == 95 && dels.length == 5)
    assert(ups.map(_.key).distinct.length == 95)
    assert(ups.map(_.key).toSet.intersect(dels.toSet).isEmpty)
    // each backlog file holds its own span of event time
    val ev = Gen.events(3L, 2000, 4, 100)
    val spans = ev.groupBy(_.file).toSeq.sortBy(_._1).map { case (_, g) =>
      (g.map(_.tsMs).min, g.map(_.tsMs).max) }
    assert(spans.size == 4 && spans.sliding(2).forall(p => p(0)._2 < p(1)._1))
    assert(ev.count(_.tsMs % 1000 != 0) == 1)
  }

  test("exact pairs equal a brute-force Jaccard over every pair") {
    val docs = Gen.corpus(5L, 120, 0L, 0.4)
    val fast = DedupWorkload.exactPairs(docs, 3, 0.5)
    val slow = (for {
      a <- docs; b <- docs if a.id < b.id
      j = DedupWorkload.jaccard(DedupWorkload.grams(a.text, 3), DedupWorkload.grams(b.text, 3))
      if j >= 0.5
    } yield (a.id, b.id)).toSet
    assert(fast.keySet == slow && slow.nonEmpty)
    assert(DedupWorkload.keptIds(Array(1L, 2L, 3L, 4L, 5L), Seq((2L, 4L), (4L, 5L))) ==
      Set(1L, 2L, 3L))
  }

  test("etl reference agrees with graft's flows on a tiny input") {
    val b = bench()
    val w = new EtlWorkload(b, nJson = 400, nHl7 = 40)
    w.stage(s"$work/etl")
    w.cycle()
    assert(b.attempted == 2 && b.failed == 0)
    assert(w.finalCheck())
  }

  test("lakehouse model agrees with graft's Txn table through merges and maintenance") {
    val b = bench()
    val w = new LakehouseWorkload(b, nRows = 2000, changes = 100, readsPerCycle = 3)
    w.stage(s"$work/lakehouse")
    (1 to 2).foreach(_ => w.cycle())
    w.reset()
    (1 to 2).foreach(_ => w.cycle())
    assert(b.failed == 0 && b.samples("maint").size == 1)
    assert(b.samples("op2").size == 12 && b.samples("lookup").size == 4)
    assert(w.finalCheck())
  }

  test("lakehouse traced phase measures its maintenance") {
    val t = new Tracer(spark, true)
    val b = new Bench(spark, 7L, t)
    val w = new LakehouseWorkload(b, nRows = 2000, changes = 100, readsPerCycle = 1)
    w.stage(s"$work/lakehouse-traced")
    w.cycle()
    b.setTracing(true)
    Main.startPhase(b, w)
    w.cycle()
    b.setTracing(false)
    t.drain()
    val m = w.layerMetrics()
    assert(b.failed == 0)
    assert(m("txn.maint_mb_rewritten") > 0 && m("txn.maint_s") > 0)
    assert(m("txn.merge_s") > 0 && m("txn.files_considered") >= m("txn.files_kept"))
  }

  test("etl traced cycle splits both flows and counts from their outputs") {
    val t = new Tracer(spark, true)
    val b = new Bench(spark, 7L, t)
    val w = new EtlWorkload(b, nJson = 400, nHl7 = 40)
    w.stage(s"$work/etl-traced")
    w.cycle()
    b.setTracing(true)
    Main.startPhase(b, w)
    w.cycle()
    b.setTracing(false)
    t.drain()
    val m = w.layerMetrics()
    assert(b.failed == 0)
    assert(m("sources.input_rows") == 440)
    assert(m("functions.error_rows") == Gen.jsonl(7L, 400).count(!_.ok))
    assert(m("sources.scan_s") > 0 && m("sinks.files") > 0)
    assert(t.all.count(_.name == "sinks.write") == 2)
  }

  test("stream reference agrees with graft's stream and batch operators") {
    val b = bench()
    val w = new StreamWorkload(b, nEvents = 3000, nFiles = 4, nUsers = 100)
    w.stage(s"$work/stream")
    w.cycle()
    assert(b.attempted == 2 && b.failed == 0)
    assert(w.finalCheck())
    // the model's sessions are graft's batch sessionization
    val events = Gen.events(7L, 3000, 4, 100)
    val batch = graft.streaming.Streaming.sessionizeBatch(
      spark.read.schema(StreamWorkload.Schema).parquet(s"$work/stream/backlog"))
      .collect().map(x => (x.user_id, x.start_us, x.end_us, x.n_events)).toSet
    assert(batch == StreamWorkload.sessions(events).toSet)
    assert(StreamWorkload.streamSessions(events).size < batch.size)
  }

  test("dedup reference agrees with graft's pass and probes on a tiny corpus") {
    val b = bench()
    val w = new DedupWorkload(b, nDocs = 300, batchDocs = 100, nBatches = 1)
    w.stage(s"$work/dedup")
    w.cycle()
    assert(b.attempted == 2 && b.failed == 0)
    assert(w.finalCheck())
  }

  test("a throwing op or a failed check counts as failed, not as a sample") {
    val b = bench()
    b.timed("op", 1L)(throw new IllegalStateException("boom"))(_ => true)
    b.timed("op", 1L)(1)(_ == 2)
    b.timed("op", 1L)(1)(_ == 1)
    assert(b.attempted == 3 && b.failed == 2 && b.samples("op").size == 1)
  }

  test("emitted metric names and units match BENCHMARK.json exactly") {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def pairs(key: String): Seq[(String, String)] = {
      val it = root.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(n => n.get("name").asText() -> n.get("unit").asText()).toSeq
    }
    assert(pairs("end_to_end") == Metrics.endToEnd)
    assert(pairs("per_layer") == Metrics.perLayer)
    val wl = root.get("workloads").elements()
    assert(Iterator.continually(wl).takeWhile(_.hasNext).map(_.next().get("name").asText())
      .toSeq == Main.Workloads)
  }
}
