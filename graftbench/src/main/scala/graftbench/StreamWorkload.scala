package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._
import graft.streaming.Streaming

/** stream: a staged backlog of events drained with `AvailableNow`, one
  * file per micro-batch. Each cycle drains it twice, each time from a
  * fresh checkpoint: through `Streaming.windowedCounts` in complete mode
  * (op kind `stream`), then through `sessionizeStream` in append mode
  * (`stream2`). Their latencies are the micro-batch `triggerExecution`
  * times the queries report. It loads
  * `graft.streaming` (micro-batch planning, state-store commits) and
  * bypasses Txn, Dedup and the connector. It runs inside traced etl runs
  * only (see [[WithStream]]). */
final class StreamWorkload(b: Bench, nEvents: Int = 90000, nFiles: Int = 6,
    filesPerTrigger: Int = 1, nUsers: Int = 20000) extends Workload {
  import StreamWorkload._
  private val spark = b.spark
  private var dir = ""
  private var events: Array[Gen.Event] = Array.empty

  /** Every query progress, in arrival order. The listener only records
    * what the engine posts; it starts no thread of its own. */
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private lazy val listener: StreamingQueryListener = {
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += e.progress }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    l
  }
  /** Micro-batch times of each slot's drains in the measured phase. */
  private val batchS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  /** Traced only: per drain, (slot, op wall seconds, its batches). */
  private val traced = mutable.ArrayBuffer.empty[(String, Double, Seq[StreamingQueryProgress])]

  def stage(d: String): Unit = {
    dir = d
    listener
    events = Gen.events(b.seed, nEvents, nFiles, nUsers)
    val backlog = new java.io.File(s"$d/backlog")
    backlog.mkdirs()
    val t0 = System.currentTimeMillis() - nFiles * 1000L
    events.groupBy(_.file).toSeq.sortBy(_._1).foreach { case (f, evs) =>
      val tmp = s"$d/staging-$f"
      spark.createDataFrame(spark.sparkContext.parallelize(evs.toSeq.map(e =>
        Row(e.userId, e.eventId, new java.sql.Timestamp(e.tsMs), e.eventType,
          e.valueCents / 100.0)), 1), Schema)
        .write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(backlog, f"ev-$f%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      // the file source takes files oldest first: order them by mtime
      dst.setLastModified(t0 + f * 1000L)
      Main.deleteTree(new java.io.File(tmp))
    }
    spark.conf.set("spark.sql.streaming.checkpointLocation", s"$d/ckpt")
  }

  private def backlog(): DataFrame = spark.readStream.schema(Schema)
    .option("maxFilesPerTrigger", filesPerTrigger.toString)
    .parquet(s"$dir/backlog")

  def cycle(): Unit = {
    drain("stream", WindowQuery, OutputMode.Complete())(
      Streaming.windowedCounts(backlog()))(checkCounts)
    drain("stream2", SessionQuery, OutputMode.Append())(
      Streaming.sessionizeStream(backlog()).toDF())(checkSessions)
  }

  /** One drain of the whole backlog from a fresh checkpoint, timed from
    * query start to termination; its output is checked afterwards. */
  private def drain(slot: String, name: String, mode: OutputMode)(
      query: => DataFrame)(check: Array[Row] => Boolean): Unit = {
    Main.deleteTree(new java.io.File(s"$dir/ckpt/$name"))
    val seen = progress.synchronized(progress.size)
    var wallS = 0.0
    b.timed(slot, nEvents.toLong) {
      val t0 = System.nanoTime()
      val out = b.tracer.span("stream.drain")(Streaming.runToMemory(spark, query, name, mode))
      wallS = (System.nanoTime() - t0) / 1e9
      out
    } { out =>
      org.apache.spark.GraftBenchBridge.drainListeners(spark)
      val batches = progress.synchronized(progress.drop(seen).filter(_.name == name).toSeq)
      if (b.measuring) batchS.getOrElseUpdate(slot, mutable.ArrayBuffer.empty) ++=
        batches.map(_.durationMs.get("triggerExecution").doubleValue / 1e3)
      if (b.tracing) traced += ((slot, wallS, batches))
      batches.nonEmpty && check(out.collect())
    }
  }

  /** Windowed counts equal the batch group-by of the events. */
  private def checkCounts(rows: Array[Row]): Boolean =
    rows.map { r =>
      val start = r.getAs[java.time.LocalDateTime](0).toEpochSecond(java.time.ZoneOffset.UTC)
      (start, r.getString(1)) -> ((r.getLong(2), math.round(r.getDouble(3) * 100)))
    }.toMap == referenceCounts

  /** Emitted sessions equal the batch sessionization of the events, less
    * each user's open session that the final watermark has not closed.
    * Session ordinals are not compared: the stream numbers a user's
    * sessions afresh after a gap timeout drops its state. */
  private def checkSessions(rows: Array[Row]): Boolean = {
    val got = rows.map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    got.length == referenceSessions.size && got.toSet == referenceSessions
  }

  private lazy val referenceCounts = windowCounts(events)
  private lazy val referenceSessions = streamSessions(events)

  override def latencies(slot: String): Option[Seq[Double]] =
    Some(batchS.getOrElse(slot, Nil).toSeq)

  override def reset(): Unit = batchS.clear()

  def finalCheck(): Boolean =
    checkCounts(spark.table(WindowQuery).collect()) &&
      checkSessions(spark.table(SessionQuery).collect())

  /** Checkpoints of the last drains (offset and commit logs, state
    * store files) ÷ their outputs written once as compacted parquet. */
  def spaceAmp(): Double = {
    val kept = Seq(WindowQuery, SessionQuery).map(q => EtlWorkload.dirBytes(s"$dir/ckpt/$q")).sum
    val compact = Seq(WindowQuery, SessionQuery).map { q =>
      val c = s"$dir/compact-$q"
      spark.table(q).coalesce(1).write.mode("overwrite").parquet(c)
      EtlWorkload.dirBytes(c)
    }.sum
    kept.toDouble / compact
  }

  def layerMetrics(): Map[String, Double] = {
    val batches = traced.flatMap(_._3)
    val nb = math.max(1, batches.size).toDouble
    val drains = math.max(1, traced.size).toDouble
    def ms(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def perBatch(f: StreamingQueryProgress => Double) = batches.map(f).sum / nb
    def lastOfDrain(f: StreamingQueryProgress => Double) =
      traced.map { case (_, _, bs) => bs.lastOption.map(f).getOrElse(0.0) }.sum / drains
    Map(
      "stream.batches" -> batches.size / drains,
      "stream.add_batch_ms" -> perBatch(ms(_, "addBatch")),
      "stream.query_planning_ms" -> perBatch(ms(_, "queryPlanning")),
      "stream.wal_commit_ms" -> perBatch(p => ms(p, "walCommit") + ms(p, "commitOffsets")),
      "stream.state_commit_ms" -> perBatch(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
      "stream.state_rows" -> lastOfDrain(_.stateOperators.map(_.numRowsTotal).sum.toDouble),
      "stream.state_mb" -> lastOfDrain(
        _.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0))
  }
}

object StreamWorkload {
  val Schema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("event_type", StringType),
    StructField("value", DoubleType)))
  val WindowQuery = "graftbench_window_counts"
  val SessionQuery = "graftbench_sessions"
  /** `Streaming.sessionizeStream`'s defaults: a one-hour watermark and a
    * 30-minute session gap. */
  val WatermarkMs: Long = 3600L * 1000
  val GapMs: Long = 1800L * 1000

  /** (hour window start, event type) → (events, value in cents). */
  def windowCounts(evs: Array[Gen.Event]): Map[(Long, String), (Long, Long)] =
    evs.groupBy(e => (Math.floorDiv(e.tsMs, 3600000L) * 3600L, e.eventType))
      .view.mapValues(g => (g.length.toLong, g.map(_.valueCents).sum)).toMap

  /** Gap sessions per user as (user, start µs, end µs, events). */
  def sessions(evs: Array[Gen.Event]): Seq[(Long, Long, Long, Long)] =
    evs.groupBy(_.userId).toSeq.flatMap { case (u, g) =>
      val out = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var start = 0L; var end = 0L; var n = 0L
      g.sortBy(e => (e.tsMs, e.eventId)).foreach { e =>
        if (n > 0 && e.tsMs - end > GapMs) { out += ((u, start * 1000, end * 1000, n)); n = 0 }
        if (n == 0) start = e.tsMs
        end = e.tsMs; n += 1
      }
      out += ((u, start * 1000, end * 1000, n))
      out
    }

  /** The sessions an append-mode drain emits: every session a later
    * event closed, and each open one whose gap timeout the final
    * watermark (latest event time − one hour) has passed. */
  def streamSessions(evs: Array[Gen.Event]): Set[(Long, Long, Long, Long)] = {
    val watermark = evs.map(_.tsMs).max - WatermarkMs
    val lastEnd = evs.groupBy(_.userId).view.mapValues(_.map(_.tsMs).max * 1000).toMap
    sessions(evs).filter { case (u, _, end, _) =>
      end < lastEnd(u) || end / 1000 + GapMs < watermark
    }.toSet
  }
}

/** A traced etl run: each etl cycle followed by one stream cycle, so the
  * run's per-layer metrics cover `graft.streaming` too. The stream's
  * drains are their own op kinds (`stream`, `stream2`); the op figures,
  * checks and space of the run stay the etl workload's. */
final class WithStream(main: Workload, stream: Workload) extends Workload {
  def stage(dir: String): Unit = { main.stage(dir); stream.stage(s"$dir/stream") }
  def cycle(): Unit = { main.cycle(); stream.cycle() }
  def finalCheck(): Boolean = main.finalCheck() && stream.finalCheck()
  def spaceAmp(): Double = main.spaceAmp()
  def layerMetrics(): Map[String, Double] = stream.layerMetrics() ++ main.layerMetrics()
  override def reset(): Unit = { main.reset(); stream.reset() }
  override def latencies(slot: String): Option[Seq[Double]] = main.latencies(slot)
}
