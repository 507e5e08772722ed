package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming operators — the Spark-first re-expression of the
  * reference's CSP/channel pipelines (core.async `pipeline` with
  * transducer xforms, /root/reference/src/etlp/connector/core.clj:52-57).
  * A channel becomes an unbounded DataFrame; backpressure, retries and
  * state live in the engine instead of hand-rolled go-loops.
  *
  * Scale notes: watermarks bound all state below; windowed aggs keep one
  * row per (window × key); sessionization state is per-key and dropped on
  * gap timeout. `Trigger.AvailableNow` gives exactly-once batch-parity
  * runs of the same code that serves live streams.
  */
object Streaming {

  /** Executed-plan registry for PlanHygieneSpec's STREAMING sweep (r9
    * verdict #4): streaming frames cannot be explained before a query
    * starts, so every harness records the started query's executed plan
    * (`StreamingQuery.explain()`, which renders the last
    * IncrementalExecution) here after termination, keyed by query/sink
    * label. foreachBatch harnesses record only the stream side — the
    * batch work INSIDE the batch function runs as separate batch query
    * executions (covered by the batch sweep shapes they reuse). */
  val lastPlans = scala.collection.concurrent.TrieMap.empty[String, String]

  private[graft] def recordPlan(label: String,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try {
      val baos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(baos, true, "UTF-8")) {
        q.explain()
      }
      lastPlans.put(label, baos.toString("UTF-8"))
    } catch { case _: Throwable => () } // diagnostics never fail a gate

  /** File-stream over the events table (same timestamp normalization as
    * Tables: LONG epoch-nanos → timestamp_micros, TIMESTAMP_NTZ → cast to
    * session-zoned TIMESTAMP — watermarks require TimestampType). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () }
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // file-stream sources take a directory; scope to the one table file
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", expr("CAST(ts AS TIMESTAMP)"))
      case _ => raw
    }
  }

  /** Watermarked tumbling-window aggregation per event_type. */
  def windowedCounts(stream: DataFrame, watermark: String = "1 hour",
      window: String = "1 hour"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)").as("sum_val"))
      // ntz output: the oracle's date_trunc yields naive timestamps, and a
      // tz-aware column would diverge under a tz-sensitive comparator
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n"), col("sum_val"))

  /** Watermarked SLIDING-window aggregation: each event contributes to
    * window/slide overlapping windows (here 2h/30m → 4). State cost is
    * window/slide live aggregate buffers per (window, key) — still
    * bounded by the watermark horizon, NOT by input size; the fan-out
    * happens inside the stateful aggregate's window assignment, never
    * as a materialized row explosion. Complete-mode output matches the
    * batch oracle's per-offset window reconstruction exactly (windows
    * align to epoch 0, Spark's default startTime). */
  def slidingCounts(stream: DataFrame, watermark: String = "1 hour",
      window: String = "2 hours", slide: String = "30 minutes"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col("ts"), window, slide),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)").as("sum_val"))
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n"), col("sum_val"))

  /** Stream-static enrichment: join the event stream against a static
    * dimension (broadcast per micro-batch — the dim is re-resolvable, so
    * slowly-changing dims pick up updates batch to batch), then a
    * watermarked aggregate over the enriched stream. */
  def enrichedSegmentCounts(stream: DataFrame, dim: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "1 hour")
      .join(broadcast(dim), stream("user_id") === dim("c_custkey"))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 day"),
        col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)").as("sum_val"))
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col("c_mktsegment"), col("event_type"), col("n"), col("sum_val"))

  /** Streaming dedup on keys within the watermark horizon. */
  def dedupKeys(stream: DataFrame, watermark: String, keys: String*): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .dropDuplicates(keys)
      .select(keys.map(col): _*)

  /** Streaming dedup whose STATE is watermark-bounded even though event
    * time is not part of the key: `dropDuplicatesWithinWatermark` holds
    * a key's fingerprint only until the watermark passes its first-seen
    * time + horizon. Plain `dropDuplicates(keys)` (above) keeps the
    * ALL-TIME key universe in the state store — unbounded on an
    * infinite stream; this variant's state is one horizon of keys, the
    * shape that actually runs forever at ingest scale. Contract: a
    * duplicate inside the horizon drops; one arriving after it may
    * re-emit (the standard at-least-once ingestion trade). */
  def dedupKeysWithinWatermark(stream: DataFrame, watermark: String,
      keys: String*): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
      .select(keys.map(col): _*)

  /** Stream-stream interval join (purchase attribution): every event
    * landing within `windowHours` after a purchase by the same user.
    * Both sides carry watermarks and the join condition bounds event
    * time on both ends, so the engine evicts buffered state as the
    * watermark passes — the state store holds only `windowHours` +
    * watermark of history per side, regardless of stream length. Inner
    * join results emit as soon as both sides arrive (no watermark wait).
    *
    * Pass two INDEPENDENT source frames over the same stream (each gets
    * its own file-source offsets); the caller aggregates the bounded
    * result batch-side. */
  def purchaseAttribution(events: DataFrame, purchases: DataFrame,
      windowHours: Int = 2, watermark: String = "1 hour"): DataFrame = {
    val p = purchases.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val e = events
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .withWatermark("ts", watermark)
    e.join(p,
      col("user_id") === col("p_user") &&
        col("ts") >= col("p_ts") &&
        col("ts") <= col("p_ts") + expr(s"INTERVAL $windowHours HOURS"))
  }

  /** Watermarked stream-stream LEFT OUTER interval join: every click
    * row emits — matched pairs as soon as both sides meet, unmatched
    * clicks null-padded only once the watermark PROVES no qualifying
    * purchase can still arrive (outer-join state semantics inner joins
    * never exercise). Both sides carry watermarks and the join
    * condition time-bounds both event times, so per-key state is
    * evicted as the watermark passes — the state never grows with
    * stream length.
    *
    * Bounded-run cutoff (AvailableNow, trailing no-data batch): a
    * matched pair always emits; an unmatched click emits null-padded
    * iff the FINAL watermark (global max ts − delay) has passed the
    * click's own timestamp — until then a matching purchase (p_ts ≤
    * ts) could still arrive. The gate's oracle applies exactly this
    * rule; the boundary is pinned by StreamingSpec. */
  def clickAttributionLeft(events: DataFrame, purchases: DataFrame,
      windowHours: Int = 2, watermark: String = "1 hour"): DataFrame = {
    val p = purchases.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val c = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      .withWatermark("ts", watermark)
    c.join(p,
      col("user_id") === col("p_user") &&
        col("ts") >= col("p_ts") &&
        col("ts") <= col("p_ts") + expr(s"INTERVAL $windowHours HOURS"),
      "leftOuter")
  }

  /** Gate harness for [[clickAttributionLeft]]: a LIVE left-outer
    * stream never proves "the tail is unmatched" — null emission near
    * the final watermark depends on which micro-batch's operating
    * watermark performed the eviction, i.e. on the batch split (we
    * measured single boundary rows flip between runs). So the harness
    * CLOSES the stream deterministically, the sessionWindowNative
    * trick: the events are staged as batch 0 and one sentinel
    * click+purchase (ids at Long.MinValue, year 2030) as batch 1 — the sentinel
    * advances BOTH sides' watermarks years past every real row + the
    * join window, so the trailing no-data batch must evict and
    * null-pad every unmatched real click under any eviction
    * formulation. Sentinels are filtered back out batch-side; the
    * oracle is then the plain batch LEFT JOIN with no cutoff. */
  def leftJoinCounts(spark: SparkSession, dir: String,
      root: String): DataFrame = {
    val stage = stageClosedEvents(spark, dir, root)
    val schema = spark.read.parquet(stage).schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val joined = clickAttributionLeft(stream, stream)
    runToMemory(spark, joined, "graft_stream_join_left",
        OutputMode.Append())
      // drop exactly the sentinel rows staged above (Long.MinValue ids,
      // staging-time clash assert) — an exact-id filter, not a sign
      // test, so any real event id, negative included, passes through
      .where(col("click_id") =!= Long.MinValue &&
        col("user_id") =!= Long.MinValue)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_rows"),
        count(col("purchase_id")).as("n_matched"))
  }

  /** Stage the events table plus one far-future sentinel click+purchase
    * pair as two fixed-mtime parquet batch files — the deterministic
    * stream-CLOSING harness shared by the outer-join gates (see
    * [[leftJoinCounts]] for why a live outer stream can't prove its
    * tail unmatched). Returns the stage directory. */
  private def stageClosedEvents(spark: SparkSession, dir: String,
      root: String): String = {
    val stage = s"$root/stage"
    // staging from an older run must carry THIS code's sentinel
    // convention, or the batch-side filter would let foreign sentinels
    // leak into the result — restage rather than trust a stale dir
    if (new java.io.File(stage).exists() &&
        spark.read.parquet(stage)
          .where(col("event_id") === Long.MinValue).isEmpty) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
    if (!new java.io.File(stage).exists()) {
      val ev = graft.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"))
      // sentinel ids live at Long.MinValue — outside any generator's id
      // domain — and staging FAILS LOUDLY if a real event ever carries
      // one, so a sentinel can never be conflated with (or joined to) a
      // real row; the batch-side filter below then removes exactly these
      // ids and nothing else
      val sentId = Long.MinValue
      val clash = ev.where(col("event_id").isin(sentId, sentId + 1) ||
        col("user_id") === sentId).count()
      require(clash == 0L,
        s"leftJoinCounts: $clash real event(s) collide with sentinel ids")
      val sentinels = spark.range(1)
        .select(
          explode(array(
            struct(lit(sentId).as("event_id"), lit(sentId).as("user_id"),
              lit("click").as("event_type"),
              lit("2030-01-01 00:00:00").cast("timestamp").as("ts")),
            struct(lit(sentId + 1).as("event_id"), lit(sentId).as("user_id"),
              lit("purchase").as("event_type"),
              lit("2030-01-01 00:00:00").cast("timestamp").as("ts"))))
            .as("r"))
        .select(col("r.*"))
      Seq(ev -> 0, sentinels -> 1).foreach { case (df, b) =>
        val tmp = s"$root/tmp_b$b"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$stage/b$b.parquet")
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(1700000000000L + b * 60000L)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
    }
    stage
  }

  /** Watermarked stream-stream FULL OUTER interval join — the one join
    * type [[clickAttributionLeft]] leaves uncovered: BOTH sides
    * null-pad, so unmatched purchases (no click within the trailing
    * window) emit too, once the watermark proves no qualifying click
    * can still arrive. The condition time-bounds each side's event
    * time against the other (p_ts ∈ [ts − window, ts]), so state on
    * both sides is watermark-evicted — bounded by the horizon, never
    * by stream length. */
  def clickAttributionFull(events: DataFrame, purchases: DataFrame,
      windowHours: Int = 2, watermark: String = "1 hour"): DataFrame = {
    val p = purchases.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val c = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      .withWatermark("ts", watermark)
    c.join(p,
      col("user_id") === col("p_user") &&
        col("ts") >= col("p_ts") &&
        col("ts") <= col("p_ts") + expr(s"INTERVAL $windowHours HOURS"),
      "fullOuter")
  }

  /** Gate harness for [[clickAttributionFull]]: sentinel-closed (the
    * [[stageClosedEvents]] discipline — outer-null timing near the live
    * tail is batch-split-dependent on BOTH sides here), so the bounded
    * result equals the plain batch FULL JOIN. The sentinel click and
    * purchase match each other (same user, same instant) and are
    * removed by ONE key filter on the coalesced user — never a
    * null-killing filter on a side-specific column, which would silently
    * drop every legitimately null-padded row. */
  def fullJoinCounts(spark: SparkSession, dir: String,
      root: String): DataFrame = {
    val stage = stageClosedEvents(spark, dir, root)
    val schema = spark.read.parquet(stage).schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val joined = clickAttributionFull(stream, stream)
    runToMemory(spark, joined, "graft_stream_join_full",
        OutputMode.Append())
      // exactly one side is non-null on padded rows; matched rows agree
      .withColumn("u", coalesce(col("user_id"), col("p_user")))
      .where(col("u") =!= Long.MinValue)
      .groupBy(col("u").as("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("click_id").isNotNull &&
          col("purchase_id").isNotNull, 1)).as("n_matched"),
        count(when(col("click_id").isNotNull &&
          col("purchase_id").isNull, 1)).as("n_click_only"),
        count(when(col("click_id").isNull, 1)).as("n_purchase_only"))
  }

  /** Run a (bounded) streaming frame to completion into a memory table
    * and return the result. AvailableNow processes everything currently
    * in the source, then stops — batch-parity semantics for testing the
    * exact code that would run live.
    *
    * Stateful micro-batches pay per-partition state-store open/commit
    * every batch; at the small-batch sizes these bounded runs see, the
    * batch-side shuffle.partitions setting leaves stores under-filled
    * (measured ~2× on 500k-row batches). The query runs under the
    * session's `graft.stream.shufflePartitions` (default 8) — results
    * are partition-count-invariant, only the state-store fan-out
    * changes. StreamExecution clones the session conf synchronously
    * inside start(), so the set→restore window pins the stream's
    * partitioning for its whole life — but the session-level mutation IS
    * briefly visible to other threads on the same session, hence the
    * `synchronized` (serializes concurrent runToMemory calls); batch
    * work that must plan concurrently should run on its own
    * `newSession()`. */
  /** Streaming drift monitor: per event-time window, the PSI of the
    * live `value` distribution against a static BASELINE period — the
    * continuous version of [[graft.operators.Profile.psiDrift]]
    * ("alert when today's traffic stops looking like the reference
    * window"). The STREAM side is one watermarked (window, bin) count
    * aggregate — state is windows × bins counters, bounded by the
    * watermark horizon, never by input size; bin edges are two
    * baseline scalars (the [[graft.operators.Graph.pageRank]]
    * n-count class of driver value) folded into the scan-stage bin
    * expression. The PSI arithmetic runs BATCH-side on the bounded
    * (windows × bins) result: dense frame fill-in, add-1 smoothing in
    * DOUBLE (a `1.0` literal would make the LN argument a rounded
    * decimal(38,6) quotient, off the oracle in the 6th digit),
    * ROUND(·,6) terms, exact DECIMAL per-window sums — the psiDrift
    * cross-engine discipline. Returns (window_start ntz, n_events,
    * psi). */
  def driftPerWindow(spark: SparkSession, dir: String,
      cutoff: String = "2024-01-16", bins: Int = 10): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
    val base = ev.where(col("ts") < lit(cutoff).cast("timestamp"))
      .where(col("value").isNotNull)
    val st = base.agg(min(col("value").cast("double")),
      max(col("value").cast("double"))).head()
    val (mn, mx) = (st.getDouble(0), st.getDouble(1))
    def binExpr(c: String) = expr(
      s"""CAST(LEAST(GREATEST(
         |  IF($mx = $mn, 0.0, FLOOR((CAST($c AS DOUBLE) - $mn)
         |    / (($mx - $mn) / $bins))),
         |0.0), $bins - 1.0) AS INT)""".stripMargin)
    val baseCounts = base.select(binExpr("value").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_base"))
    val cur = runToMemory(spark,
      eventsStream(spark, dir)
        .where(col("ts") >= lit(cutoff).cast("timestamp"))
        .where(col("value").isNotNull)
        .withWatermark("ts", "1 hour")
        .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 day"),
          binExpr("value").as("bin"))
        .agg(count(lit(1)).as("n_cur"))
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("bin"), col("n_cur")),
      "graft_stream_drift", OutputMode.Complete())
      // the frame below self-joins this result (windows × bins vs the
      // counts); the memory-sink VIEW carries fixed attribute ids on
      // both sides and fails analysis — checkpointing re-keys them
      .localCheckpoint()
    // batch post-process over the bounded (windows × bins) frame
    val frame = cur.select(col("window_start")).distinct()
      .crossJoin(spark.range(bins).select(col("id").cast("int").as("bin")))
      .join(cur, Seq("window_start", "bin"), "left")
      .join(baseCounts, Seq("bin"), "left")
      .select(col("window_start"), col("bin"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = frame.groupBy("window_start")
      .agg(sum(col("n_cur")).as("tc"))
    val tbase = frame.select(col("bin"), col("n_base")).distinct()
      .agg(sum(col("n_base")).as("tb"))
    frame.join(totals, "window_start").crossJoin(broadcast(tbase))
      .select(col("window_start"), col("n_cur"), expr(
        s"""CAST(ROUND(
           |  ((n_base + 1.0D) / (tb + $bins) - (n_cur + 1.0D) / (tc + $bins))
           |  * LN(((n_base + 1.0D) / (tb + $bins))
           |      / ((n_cur + 1.0D) / (tc + $bins))),
           |6) AS DOUBLE)""".stripMargin).as("term"))
      .groupBy("window_start")
      .agg(sum(col("n_cur")).as("n_events"),
        sum(expr("CAST(term AS DECIMAL(38,6))")).as("s"))
      .select(col("window_start"), col("n_events"),
        expr("CAST(s AS DOUBLE)").as("psi"))
  }

  /** Watermark late-data semantics on a REAL multi-batch stream: the
    * events stage into 3 single-file micro-batches — batch = time
    * tertile (fixed cutoffs) except every 10th event arrives one batch
    * LATE — then a watermarked tumbling aggregation runs in APPEND
    * mode over them (`maxFilesPerTrigger=1`; file mtimes + names
    * strictly increasing, and FileStreamSource's (timestamp, path)
    * order makes file order = batch order). What the oracle pins:
    *
    *  - watermark progression: wm during batch b = max event time seen
    *    through batch b−1, minus the delay (advances at batch
    *    boundaries) — measured empirically on this exact staging;
    *  - in-state late MERGE: a one-batch-late row arrives while its
    *    window's state is still live (eviction of a batch's windows
    *    happens at the END of the batch whose OPERATING watermark
    *    passes them — one batch later than the watermark itself), so
    *    it still counts: per-window totals equal the batch GROUP BY;
    *  - append-mode emission: a window emits iff its end <= the FINAL
    *    watermark (AvailableNow runs the trailing no-data batch that
    *    advances it to global max − delay); later windows are
    *    withheld.
    * The evicted-window DROP path (a ≥2-batches-late row whose window
    * was already emitted is discarded, `numRowsDroppedByWatermark`) is
    * pinned by StreamingSpec's crafted fixture — its boundary depends
    * on state-eviction timing, which a cross-engine SQL oracle should
    * not re-guess. */
  def lateDataCounts(spark: SparkSession, dir: String, root: String,
      wmDelay: String = "24 hours"): DataFrame = {
    val stage = s"$root/stage"
    val cuts = Seq("2024-01-11", "2024-01-21")
    if (!new java.io.File(stage).exists()) {
      val ev = graft.Tables.events(spark, dir)
        .select(col("event_id"), col("event_type"), col("ts"))
        .withColumn("b", least(
          when(col("ts") < lit(cuts(0)).cast("timestamp"), 0)
            .when(col("ts") < lit(cuts(1)).cast("timestamp"), 1)
            .otherwise(2) +
            when(col("event_id") % 10 === 0, 1).otherwise(0),
          lit(2)))
      (0 until 3).foreach { b =>
        val tmp = s"$root/tmp_b$b"
        ev.where(col("b") === b).drop("b").coalesce(1)
          .write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$stage/b$b.parquet")
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(1700000000000L + b * 60000L)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
    }
    val schema = spark.read.parquet(stage).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    runToMemory(spark,
      stream.withWatermark("ts", wmDelay)
        .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n")),
      "graft_stream_late", OutputMode.Append())
  }

  /** Checkpoint-RECOVERY harness: one windowed aggregation
    * ([[windowedCounts]]) run as TWO StreamingQuery lifetimes over ONE
    * checkpoint — the restart property a production stream actually
    * relies on, which no single-lifetime gate can pin. Phase 1 stages
    * half the events as 2 files, drains them (AvailableNow commits its
    * batches to the checkpoint) and STOPS. Phase 2 adds the remaining
    * 2 files and starts a NEW query on the SAME checkpoint: the
    * restored state store must CONTINUE — if restart replayed committed
    * files, first-half counts would double; if it lost state, they
    * would vanish — so the final Complete-mode table equals the batch
    * GROUP BY over all events (stream_window's oracle, shared).
    * Batch-id continuity and no-reprocessing are returned as
    * measurements for the spec to pin. The per-run state (stage dir +
    * checkpoint) is rebuilt fresh on every call — a recovery gate must
    * own its checkpoint lifecycle — while the deterministic batch files
    * stage once and hard-link in.
    *
    * Returns (p1 last batchId, p2 first batchId, p2 total input rows,
    * final table). */
  def recoverPhases(spark: SparkSession, dir: String,
      root: String): (Long, Long, Long, DataFrame) = {
    val name = "graft_stream_recover"
    // the four batch FILES are deterministic — staged once per
    // (JVM, sfDir); the per-run state (stage dir, checkpoint) is
    // rebuilt fresh each call from hard links, so repeated invocations
    // (Bench best-of-2) time the recovery machinery, not 4 coalesced
    // parquet writes
    val files = s"$root/files"
    if (!new java.io.File(files).exists()) {
      val ev = graft.Tables.events(spark, dir)
        .select(col("event_id"), col("event_type"), col("value"), col("ts"))
        .withColumn("b", pmod(col("event_id"), lit(4)).cast("int"))
      (0 until 4).foreach { b =>
        val tmp = s"$root/tmp_b$b"
        ev.where(col("b") === b).drop("b").coalesce(1)
          .write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$files/b$b.parquet")
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(1700000000000L + b * 60000L)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
    }
    val run = s"$root/run"
    val stage = s"$run/stage"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(run))
    new java.io.File(stage).mkdirs()
    def link(b: Int): Unit = java.nio.file.Files.createLink(
      java.nio.file.Paths.get(s"$stage/b$b.parquet"),
      java.nio.file.Paths.get(s"$files/b$b.parquet"))
    (0 until 2).foreach(link)
    val schema = spark.read.parquet(stage).schema
    def runPhase(): org.apache.spark.sql.streaming.StreamingQuery = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      val q = spark.synchronized {
        val parts = spark.conf.getOption("graft.stream.shufflePartitions")
          .getOrElse("8")
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.streams.active.filter(_.name == name).foreach(_.stop())
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try windowedCounts(stream).writeStream
          .format("memory").queryName(name)
          .outputMode(OutputMode.Complete())
          .option("checkpointLocation", s"$run/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      }
      q.awaitTermination()
      recordPlan(name, q)
      q
    }
    val q1 = runPhase()
    val p1Last = q1.recentProgress.map(_.batchId).max
    (2 until 4).foreach(link)
    val q2 = runPhase()
    val p2 = q2.recentProgress.filter(_.numInputRows > 0)
    (p1Last, p2.map(_.batchId).min, p2.map(_.numInputRows).sum,
      spark.table(name))
  }

  /** Gate wrapper for [[recoverPhases]] — returns the recovered table. */
  def recoverWindowCounts(spark: SparkSession, dir: String,
      root: String): DataFrame =
    recoverPhases(spark, dir, root)._4

  /** CHAINED stateful operators in ONE streaming query (Spark 4's
    * multiple-stateful-operator support): dropDuplicatesWithinWatermark
    * feeding a tumbling-window aggregate — the curation shape "dedup
    * the firehose, then count what survived" without materializing the
    * deduped stream. Two stateful stages means two state stores in one
    * query: bounded dedup keys (one watermark horizon) upstream,
    * (window × key) aggregate buffers downstream.
    *
    * Harness determinism: the dedup key set includes `ts`, so WHICH
    * row survives never depends on arrival order and the batch oracle
    * is a plain DISTINCT. The real events are staged as two files
    * (cross-batch dedup state is exercised) with a watermark delay
    * longer than the whole data span — no real row can be dropped as
    * late, whatever the batch split — and a year-2030 sentinel batch
    * closes the stream ([[leftJoinCounts]] discipline): it advances the
    * final watermark past every real window's end so Append mode must
    * flush them all; the sentinel's own 2030 window is filtered
    * batch-side. */
  def chainedDedupCounts(spark: SparkSession, dir: String, root: String,
      wmDelay: String = "1080 hours"): DataFrame = {
    val stage = s"$root/stage"
    if (!new java.io.File(stage).exists()) {
      val ev = graft.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"))
      val sentId = Long.MinValue
      require(ev.where(col("event_id") === sentId).isEmpty,
        "chainedDedupCounts: a real event collides with the sentinel id")
      val sentinel = spark.range(1)
        .select(lit(sentId).as("event_id"), lit(sentId).as("user_id"),
          lit("click").as("event_type"),
          lit("2030-01-01 00:00:00").cast("timestamp").as("ts"))
      // the synthetic events carry no natural (user, type, ts) dups, so
      // PLANT them: every 10th batch-0 event re-arrives in batch 1 as a
      // CROSS-BATCH duplicate (fresh surrogate event_id, same dedup
      // key). The dedup stage must drop ~10% of the stream or the
      // window counts overshoot the oracle — the gate fails without the
      // operator, which is what makes it non-vacuous; the oracle over
      // the REAL events table is untouched because DISTINCT absorbs
      // planted copies of existing rows by construction.
      val planted = ev.where(pmod(col("event_id"), lit(2)) === 0 &&
          pmod(col("event_id"), lit(10)) === 0)
        .withColumn("event_id", -col("event_id") - 1000000L)
      Seq(ev.where(pmod(col("event_id"), lit(2)) === 0) -> 0,
          ev.where(pmod(col("event_id"), lit(2)) === 1)
            .unionByName(planted) -> 1,
          sentinel -> 2).foreach { case (df, b) =>
        val tmp = s"$root/tmp_b$b"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$stage/b$b.parquet")
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(1700000000000L + b * 60000L)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
    }
    val schema = spark.read.parquet(stage).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val chained = stream
      .withWatermark("ts", wmDelay)
      .dropDuplicatesWithinWatermark("user_id", "event_type", "ts")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n"))
    runToMemory(spark, chained, "graft_stream_chained", OutputMode.Append())
      .where(col("window_start") < lit("2029-01-01").cast("timestamp_ntz"))
  }

  /** CONTINUOUS-ingest dedup: a stream of fresh documents probed per
    * micro-batch against the persistent minhash LSH index
    * ([[graft.operators.DedupIndex]]) — the production shape where the
    * corpus is sketched ONCE and each arriving batch pays only its own
    * sketch plus the touched bucket directories. foreachBatch runs the
    * SAME `probeMinhash` the batch gate uses; every fresh doc's matches
    * are independent of the batch split (the probe crosses sides only,
    * never fresh×fresh), so the accumulated output equals the one-shot
    * batch probe and shares dedup_index_probe's oracle string. The
    * index + staged fresh files build once per (JVM, sfDir); the output
    * dir is cleared per run. */
  def streamIndexProbe(spark: SparkSession, dir: String,
      root: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val isFresh =
      graft.operators.Corpus.hashBucket(col("doc_id"), "delta", 5) === 0
    val idx = s"$root/idx"
    val stage = s"$root/stage"
    if (!new java.io.File(stage).exists()) {
      graft.operators.DedupIndex.buildMinhash(
        docs.where(!isFresh), "doc_id", "text", idx)
      docs.where(isFresh).select(col("doc_id"), col("text"))
        .repartition(3).write.mode("overwrite").parquet(stage)
    }
    val out = s"$root/out"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val schema = spark.read.parquet(stage).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val probeBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        Long) => Unit = (batch, _) =>
      graft.operators.DedupIndex.probeMinhash(
          spark, idx, batch, "doc_id", "text")
        .write.mode("append").parquet(out)
    val q = spark.synchronized {
      val parts = spark.conf.getOption("graft.stream.shufflePartitions")
        .getOrElse("8")
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try stream.writeStream.foreachBatch(probeBatch)
        .trigger(Trigger.AvailableNow()).start()
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    q.awaitTermination()
    recordPlan("graft_stream_dedup_probe_fb", q)
    spark.read.parquet(out)
  }

  /** Streaming row-quarantine SPLIT SINK: one bounded stream routed to
    * TWO parquet sinks per micro-batch — clean rows continue to the
    * "good" table, rule violators land in "bad" with WHY attached.
    * The verdict expression is
    * [[graft.operators.Quality.violationArray]] — literally the one
    * the batch etl_quarantine gate runs, so stream and batch verdicts
    * cannot drift. The routing is stateless row-local, so the result
    * is batch-split-independent by construction; sink + checkpoint
    * dirs are derived outputs wiped per run, the staged input builds
    * once. Returns the quarantined side (oracle = the batch quarantine
    * over the same table); the good/bad-partition property is pinned
    * in StreamingSpec. */
  def quarantineSplit(spark: SparkSession, dir: String, root: String,
      nFiles: Int = 4): DataFrame = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val rules = Seq(
      "value_le_300" -> "value <= 300",
      "type_no_error" -> "event_type <> 'error'")
    val stage = s"$root/stage"
    if (!new java.io.File(stage).exists()) {
      graft.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), col("value"))
        .repartition(nFiles).write.mode("overwrite").parquet(stage)
    }
    val good = s"$root/good"
    val bad = s"$root/bad"
    val ckpt = s"$root/ckpt"
    Seq(good, bad, ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val schema = spark.read.parquet(stage).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val route: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        val flagged = batch.withColumn("__fr",
          graft.operators.Quality.violationArray(rules))
        flagged.where(size(col("__fr")) > 0)
          .select(col("event_id"),
            size(col("__fr")).cast("int").as("n_failed"),
            array_join(col("__fr"), ",").as("failed_rules"))
          .write.mode("append").parquet(bad)
        flagged.where(size(col("__fr")) === 0)
          .select("event_id").write.mode("append").parquet(good)
      }
    val q = spark.synchronized {
      val parts = spark.conf.getOption("graft.stream.shufflePartitions")
        .getOrElse("8")
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try stream.writeStream.foreachBatch(route)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    q.awaitTermination()
    recordPlan("graft_stream_quarantine_fb", q)
    spark.read.parquet(bad)
  }

  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      mode: OutputMode): DataFrame = {
    val q = spark.synchronized {
      val parts = spark.conf.getOption("graft.stream.shufflePartitions")
        .getOrElse("8")
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.streams.active.filter(_.name == name).foreach(_.stop())
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        df.writeStream
          .format("memory").queryName(name)
          .outputMode(mode)
          .trigger(Trigger.AvailableNow())
          .start()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    q.awaitTermination()
    recordPlan(name, q)
    spark.table(name)
  }

  // ---- sessionization ----------------------------------------------------

  /** `ts` rides along untouched so the stream's watermark column survives
    * the typed projection (flatMapGroupsWithState requires it); session
    * math uses the exact-microsecond `ts_us`. */
  final case class Ev(user_id: Long, ts: java.sql.Timestamp, ts_us: Long,
      event_id: Long)
  final case class Session(user_id: Long, session_id: Int,
      start_us: Long, end_us: Long, n_events: Long)

  private def toSessions(userId: Long, evs: Seq[Ev], gapUs: Long): Seq[Session] = {
    val sorted = evs.sortBy(e => (e.ts_us, e.event_id))
    val out = scala.collection.mutable.ArrayBuffer[Session]()
    var sid = 0; var start = 0L; var end = 0L; var n = 0L
    sorted.foreach { e =>
      if (n == 0L || e.ts_us - end > gapUs) {
        if (n > 0L) out += Session(userId, sid, start, end, n)
        sid += 1; start = e.ts_us; n = 0L
      }
      end = e.ts_us; n += 1
    }
    if (n > 0L) out += Session(userId, sid, start, end, n)
    out.toSeq
  }

  /** Batch sessionization via the typed API: per-user in-memory sort +
    * gap split (deterministic ties by event_id). At cluster scale the
    * shuffle is by user_id and per-user history must fit one task —
    * which is what the streaming variant below avoids by keeping only
    * O(1) state per user. */
  def sessionizeBatch(events: DataFrame, gapUs: Long = 1800L * 1000000): Dataset[Session] = {
    implicit val encEv = Encoders.product[Ev]
    implicit val encS  = Encoders.product[Session]
    implicit val encL  = Encoders.scalaLong
    events
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroups((uid, it) => toSessions(uid, it.toSeq, gapUs).iterator)
  }

  /** public: Janino-generated encoder code must reach the accessors. */
  final case class SessState(sid: Int, startUs: Long, endUs: Long, cnt: Long)

  /** Streaming sessionization with flatMapGroupsWithState: emits a
    * session when the gap passes (event-time timeout), keeping O(1)
    * state per user. Event-time order within a batch is enforced by
    * sorting the batch's group iterator; late data beyond the watermark
    * is dropped by the engine. */
  def sessionizeStream(events: DataFrame, watermark: String = "1 hour",
      gapUs: Long = 1800L * 1000000): Dataset[Session] = {
    implicit val encEv = Encoders.product[Ev]
    implicit val encS  = Encoders.product[Session]
    implicit val encSt = Encoders.product[SessState]
    implicit val encL  = Encoders.scalaLong
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[Ev], state: GroupState[SessState]) =>
          val out = scala.collection.mutable.ArrayBuffer[Session]()
          if (state.hasTimedOut) {
            val st = state.get
            out += Session(uid, st.sid, st.startUs, st.endUs, st.cnt)
            state.remove()
          } else {
            var st = state.getOption.getOrElse(SessState(0, 0L, 0L, 0L))
            it.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
              if (st.cnt == 0L || e.ts_us - st.endUs > gapUs) {
                if (st.cnt > 0L) out += Session(uid, st.sid, st.startUs, st.endUs, st.cnt)
                st = SessState(st.sid + 1, e.ts_us, e.ts_us, 1L)
              } else st = st.copy(endUs = e.ts_us, cnt = st.cnt + 1)
            }
            state.update(st)
            state.setTimeoutTimestamp(st.endUs / 1000 + gapUs / 1000)
          }
          out.iterator
      }
  }

  /** [[sessionizeStream]] on Spark 4's `transformWithState`: the same
    * gap-sessionization contract driven by EVENT-TIME TIMERS — the
    * session state is a named ValueState, and the gap timeout is an
    * explicit registered timer (deleted and re-registered as the
    * session extends; TWS timers accumulate rather than overwrite, so
    * a stale timer would close a still-open session early). Closed
    * sessions emit inline; the open session emits from
    * handleExpiredTimer when the watermark passes end + gap.
    * Semantics pinned equal to the flatMapGroupsWithState form in
    * StreamingSpec. */
  final class SessionProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, Session] {
    @transient private var sess:
      org.apache.spark.sql.streaming.ValueState[SessState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sess = getHandle.getValueState[SessState]("sess",
        Encoders.product[SessState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, it: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[Session] = {
      val out = scala.collection.mutable.ArrayBuffer[Session]()
      var st = if (sess.exists()) sess.get() else SessState(0, 0L, 0L, 0L)
      it.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        if (st.cnt == 0L || e.ts_us - st.endUs > gapUs) {
          if (st.cnt > 0L)
            out += Session(uid, st.sid, st.startUs, st.endUs, st.cnt)
          st = SessState(st.sid + 1, e.ts_us, e.ts_us, 1L)
        } else st = st.copy(endUs = e.ts_us, cnt = st.cnt + 1)
      }
      sess.update(st)
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(st.endUs / 1000 + gapUs / 1000)
      out.iterator
    }
    override def handleExpiredTimer(uid: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[Session] = {
      if (!sess.exists()) Iterator.empty
      else {
        val st = sess.get()
        sess.clear()
        if (st.cnt > 0L)
          Iterator.single(Session(uid, st.sid, st.startUs, st.endUs, st.cnt))
        else Iterator.empty
      }
    }
  }

  def sessionizeTwsStream(events: DataFrame, watermark: String = "1 hour",
      gapUs: Long = 1800L * 1000000): Dataset[Session] = {
    implicit val encEv = Encoders.product[Ev]
    implicit val encS = Encoders.product[Session]
    implicit val encL = Encoders.scalaLong
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapUs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  // ---- running per-key totals (mapGroupsWithState, Update mode) ---------

  final case class RunIn(user_id: Long, micros: Long)
  final case class RunState(n: Long, sumMicros: Long)
  final case class RunTotal(user_id: Long, n_events: Long, sum_micros: Long)

  /** Per-key running totals as a REAL multi-batch stateful stream:
    * mapGroupsWithState in Update mode emits each key's cumulative
    * (count, sum) after every micro-batch that touches it — the
    * "live per-user counter" serving shape. State is O(1) per key (two
    * longs); no watermark needed because the state never grows with
    * events, only with keys.
    *
    * Determinism: the monetary sum rides as exact integer micros
    * (value → DECIMAL(18,6) → ×1e6 BIGINT, the stream_window oracle's
    * discipline) so cross-batch accumulation order can't perturb a
    * float. The stream is staged as `nFiles` files read one per
    * trigger, so the state really accumulates across batches. */
  def runningTotalsStream(events: DataFrame): Dataset[RunTotal] = {
    implicit val encIn = Encoders.product[RunIn]
    implicit val encSt = Encoders.product[RunState]
    implicit val encOut = Encoders.product[RunTotal]
    implicit val encL = Encoders.scalaLong
    events
      .select(col("user_id"),
        // NULL value contributes 0 to the sum (matching SQL SUM's
        // null-skipping) while the row still counts
        expr("COALESCE(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT), 0)")
          .as("micros"))
      .as[RunIn]
      .groupByKey(_.user_id)
      .mapGroupsWithState[RunState, RunTotal](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[RunIn], state: GroupState[RunState]) =>
          var st = state.getOption.getOrElse(RunState(0L, 0L))
          it.foreach { e => st = RunState(st.n + 1, st.sumMicros + e.micros) }
          state.update(st)
          RunTotal(uid, st.n, st.sumMicros)
      }
  }

  /** [[runningTotalsStream]] on Spark 4's `transformWithState` —
    * the arbitrary-state API that supersedes mapGroupsWithState: named
    * typed state variables on the RocksDB state store (changelog
    * checkpointing, state TTL, composable value/list/map states).
    * Same contract as the mapGroupsWithState form — identical output
    * is the gate's shared-oracle claim; the engine difference is the
    * state backend and the per-variable state schema. */
  final class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, RunIn, RunTotal] {
    @transient private var totals:
      org.apache.spark.sql.streaming.ValueState[RunState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[RunState]("totals",
        Encoders.product[RunState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[RunIn],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[RunTotal] = {
      var st = if (totals.exists()) totals.get() else RunState(0L, 0L)
      rows.foreach(e => st = RunState(st.n + 1, st.sumMicros + e.micros))
      totals.update(st)
      Iterator.single(RunTotal(key, st.n, st.sumMicros))
    }
  }

  final case class TypeIn(user_id: Long, event_type: String)
  final case class TypeCount(user_id: Long, event_type: String,
      n_events: Long)

  /** transformWithState's MAP state surface: one `MapState[type, count]`
    * per user — the keyed sub-dictionary shape (per-entity per-category
    * counters) that ValueState would force into a serialized blob
    * rewritten whole every batch. With MapState each micro-batch
    * touches only the sub-keys it saw (RocksDB point reads/writes), so
    * per-batch state IO scales with the batch's category locality, not
    * the per-user category universe — the point of the API. Emits each
    * touched (user, type)'s cumulative count per batch (Update mode);
    * the final state must equal the batch GROUP BY user, type. */
  final class TypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TypeIn, TypeCount] {
    @transient private var counts:
      org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TypeIn],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashSet[String]()
      rows.foreach { e =>
        val cur = if (counts.containsKey(e.event_type))
          counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, cur + 1L)
        touched += e.event_type
      }
      touched.iterator.map(t => TypeCount(key, t, counts.getValue(t)))
    }
  }

  def typeCountsTwsStream(events: DataFrame): Dataset[TypeCount] = {
    implicit val encIn = Encoders.product[TypeIn]
    implicit val encOut = Encoders.product[TypeCount]
    implicit val encL = Encoders.scalaLong
    events
      .select(col("user_id"), col("event_type"))
      .as[TypeIn]
      .groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Gate harness: [[runningTotalsTws]]'s staging + RocksDB discipline
    * over the MapState pipeline; reduces to each (user, type)'s final
    * count, which must equal the batch GROUP BY however the rows split
    * into micro-batches. */
  def typeCountsTws(spark: SparkSession, dir: String, root: String,
      nFiles: Int = 4): DataFrame = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val stage = s"$root/stage"
    if (!new java.io.File(stage).exists()) {
      graft.Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), col("event_id"))
        .repartition(nFiles).write.mode("overwrite").parquet(stage)
    }
    val schema = spark.read.parquet(stage).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val raw =
      try runToMemory(spark, typeCountsTwsStream(stream).toDF(),
        "graft_stream_typecounts_tws", OutputMode.Update())
      finally prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    raw.groupBy("user_id", "event_type")
      .agg(max(col("n_events")).as("n_events"))
  }

  final case class EvIn(user_id: Long, ts_us: Long, event_id: Long)
  final case class LastN(user_id: Long, n_seen: Long, rn: Int,
      event_id: Long)

  /** transformWithState's LIST state surface: a bounded per-user
    * "most recent N events by event time" buffer — ListState holds the
    * current top-N (merge batch rows, resort, truncate: O(N) state per
    * user forever), and a ValueState row-counter stamps every emission.
    * The counter is the harness's TAMPER SEAL: each batch's emission
    * carries the cumulative rows seen, so the gate reduces to the
    * max-n_seen emission per user — if ListState LOST state between
    * batches, the union of batch-local top-Ns could still happen to
    * contain the right answer, but the final stamped emission would
    * hold only the last batch's rows and the oracle compare fails. */
  final class LastNProcessor(n: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EvIn, LastN] {
    @transient private var buf:
      org.apache.spark.sql.streaming.ListState[EvIn] = _
    @transient private var seen:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      buf = getHandle.getListState[EvIn]("buf", Encoders.product[EvIn],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[EvIn],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[LastN] = {
      val fresh = rows.toSeq
      val merged = (buf.get().toSeq ++ fresh)
        .sortBy(e => (-e.ts_us, -e.event_id)).take(n)
      buf.clear()
      merged.foreach(buf.appendValue)
      val ns = (if (seen.exists()) seen.get() else 0L) + fresh.size
      seen.update(ns)
      merged.iterator.zipWithIndex.map { case (e, i) =>
        LastN(key, ns, i + 1, e.event_id) }
    }
  }

  def lastNTwsStream(events: DataFrame, n: Int): Dataset[LastN] = {
    implicit val encIn = Encoders.product[EvIn]
    implicit val encOut = Encoders.product[LastN]
    implicit val encL = Encoders.scalaLong
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
      .as[EvIn]
      .groupByKey(_.user_id)
      .transformWithState(new LastNProcessor(n),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Gate harness: each user's FINAL stamped emission (max n_seen) is
    * the recent-N buffer after all batches — must equal the batch
    * window top-N by (ts desc, event_id desc) however rows split. */
  def lastNTws(spark: SparkSession, dir: String, root: String,
      n: Int = 3, nFiles: Int = 4): DataFrame = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val stage = s"$root/stage"
    if (!new java.io.File(stage).exists()) {
      graft.Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .repartition(nFiles).write.mode("overwrite").parquet(stage)
    }
    val schema = spark.read.parquet(stage).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val raw =
      try runToMemory(spark, lastNTwsStream(stream, n).toDF(),
        "graft_stream_lastn_tws", OutputMode.Update())
      finally prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    val wMax = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    raw
      .withColumn("mx", max(col("n_seen")).over(wMax))
      .where(col("n_seen") === col("mx"))
      .select(col("user_id"), col("rn"), col("event_id"))
  }

  def runningTotalsTwsStream(events: DataFrame): Dataset[RunTotal] = {
    implicit val encIn = Encoders.product[RunIn]
    implicit val encOut = Encoders.product[RunTotal]
    implicit val encL = Encoders.scalaLong
    events
      .select(col("user_id"),
        expr("COALESCE(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT), 0)")
          .as("micros"))
      .as[RunIn]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Gate harness: [[runningTotals]]'s staging + final-state reduction
    * over the transformWithState pipeline. transformWithState requires
    * the RocksDB state store provider — set for this stream only (the
    * stream clones the session conf at start) and restored after. */
  def runningTotalsTws(spark: SparkSession, dir: String, root: String,
      nFiles: Int = 4): DataFrame = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val stage = s"$root/stage"
    if (!new java.io.File(stage).exists()) {
      graft.Tables.events(spark, dir)
        .select(col("user_id"), col("value"), col("event_id"))
        .repartition(nFiles).write.mode("overwrite").parquet(stage)
    }
    val schema = spark.read.parquet(stage).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val raw =
      try runToMemory(spark, runningTotalsTwsStream(stream).toDF(),
        "graft_stream_running_tws", OutputMode.Update())
      finally prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    raw.groupBy("user_id")
      .agg(max(struct(col("n_events"), col("sum_micros"))).as("fin"))
      .select(col("user_id"), col("fin.n_events").as("n_events"),
        expr("CAST(ROUND(fin.sum_micros / 1000000.0, 4) + 0.0 AS DOUBLE)")
          .as("sum_r"))
  }

  /** Gate harness for [[runningTotalsStream]]: stage the events table as
    * `nFiles` files, stream one file per micro-batch (Update mode to a
    * memory sink collects every per-batch emission), then reduce to each
    * key's FINAL state — the row with the highest n_events, which is
    * strictly increasing per emission. The result must equal the batch
    * GROUP BY regardless of how rows were split across batches. */
  def runningTotals(spark: SparkSession, dir: String, root: String,
      nFiles: Int = 4): DataFrame = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val stage = s"$root/stage"
    if (!new java.io.File(stage).exists()) {
      graft.Tables.events(spark, dir)
        .select(col("user_id"), col("value"), col("event_id"))
        .repartition(nFiles).write.mode("overwrite").parquet(stage)
    }
    val schema = spark.read.parquet(stage).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    runToMemory(spark, runningTotalsStream(stream).toDF(),
        "graft_stream_running", OutputMode.Update())
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("sum_micros"))).as("fin"))
      .select(col("user_id"), col("fin.n_events").as("n_events"),
        expr("CAST(ROUND(fin.sum_micros / 1000000.0, 4) + 0.0 AS DOUBLE)")
          .as("sum_r"))
  }

  /** Sessionization via the engine-native `session_window` aggregate —
    * the declarative sibling of [[sessionizeStream]]'s
    * flatMapGroupsWithState loop. Output: one row per (user, session)
    * with start, end (= last event + gap, session_window's exclusive
    * upper bound) and event count.
    *
    * State-size comparison (PLANS.md): session_window keeps ONE
    * aggregation buffer per open session — (start, end, count) — and
    * the engine merges windows on ingest; fMGWS keeps one user-defined
    * state object per KEY plus the group-sort pass per micro-batch.
    * Same asymptotics, but session_window's buffer is engine-managed
    * (RocksDB-spillable, no Encoder round-trip) and the merge is
    * codegen'd — prefer it whenever the session logic is "gap rule +
    * aggregates"; fMGWS remains for session logic a window merge can't
    * express (e.g. per-session event sequences, custom eviction).
    *
    * Boundary semantics (spec-pinned): an event at exactly `gap` after
    * the previous one MERGES into the session — the engine merges when
    * the next window's start <= the previous window's end — which is
    * the same `diff > gap` split rule [[sessionizeStream]] applies, so
    * both sessionizers share one oracle shape (ends differ: here
    * end = last event + gap; fMGWS reports the last event itself). */
  def sessionWindowNative(events: DataFrame, watermark: String = "1 hour",
      gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").cast("timestamp_ntz").as("session_start"),
        col("session_window.end").cast("timestamp_ntz").as("session_end"),
        col("n_events"))

  /** Exactly-once STREAMING PUBLISH through the Txn manifest: each
    * micro-batch lands as one idempotent tagged append
    * ([[graft.operators.Txn.commitAppendIdempotent]], tag = the batch
    * id) — so a replayed batch (checkpoint recovery, driver retry)
    * cannot double-commit, and a reader at ANY instant sees a complete
    * committed prefix of the stream, never a torn batch. The harness
    * stages the events table as 3 files (maxFilesPerTrigger=1 → 3 real
    * micro-batches), runs the stream, then REPLAYS batch 0's commit
    * with the same tag and asserts the head version did not move —
    * idempotence is load-bearing in the gate, not just claimed.
    * Returns the published table read from the final snapshot. */
  def txnPublishStream(spark: SparkSession, dir: String,
      root: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val table = s"$root/table"
    val stage = s"$root/in"
    graft.Tables.events(spark, dir).repartition(3)
      .write.mode("overwrite").parquet(stage)
    val schema = spark.read.parquet(stage).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty)
          graft.operators.Txn.commitAppendIdempotent(
            spark, table, batch.toDF(), s"sb$id")
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    recordPlan("graft_stream_txn_publish_fb", q)
    val head = graft.operators.Txn.currentVersion(spark, table)
    // replay: same tag, arbitrary payload — must short-circuit BEFORE
    // staging and leave the head untouched
    val replay = graft.operators.Txn.commitAppendIdempotent(
      spark, table, spark.read.parquet(stage).limit(1), "sb0")
    require(replay.isEmpty &&
      graft.operators.Txn.currentVersion(spark, table) == head,
      "replayed micro-batch commit was not idempotent")
    graft.operators.Txn.read(spark, table)
  }

  // ---- streaming upsert materialization ----------------------------------

  /** The partition column every upsert target is bucketed by. */
  private[graft] val UpsertBucketCol = "graft_kb"

  /** MERGE one batch into a key-bucketed parquet target, rewriting ONLY
    * the buckets the batch touches.
    *
    * The target is partitioned by `graft_kb = pmod(xxhash64(keys), n)`;
    * a batch (a) computes its touched bucket set (≤ nBuckets ints to
    * the driver — never key values), (b) reads back just those buckets
    * (partition pruning: untouched buckets contribute zero input
    * splits), (c) re-compacts state ∪ batch per key
    * ([[graft.operators.Changelog.latestByKey]] — one window,
    * WindowGroupLimit), and (d) dynamic-partition-overwrites only the
    * touched bucket directories ([[graft.sinks.PartitionOverwriteSink]]
    * — the same machinery as the etl_partition_overwrite daily
    * recompute). Untouched bucket files are not read, not rewritten,
    * not even listed by the write — per-batch cost is
    * O(|touched-bucket state| + |batch|), not O(|state|). Size
    * nBuckets so one bucket ≈ a few HDFS blocks: 100 TB of state at
    * nBuckets = 2¹⁴ puts ~6 GB behind each bucket, so a batch touching
    * 1% of keys rewrites ~1% of the table.
    *
    * Durability: dynamic partition overwrite commits per partition via
    * the Hadoop committer (task temp dirs + rename), the
    * plain-filesystem analogue of MERGE INTO; on a production lake
    * this sink becomes a transactional table format commit and the
    * bucketing column becomes its clustering key.
    *
    * INVARIANT this read-then-overwrite depends on
    * (`partitionOverwriteMode=dynamic` + the default FileOutputCommitter):
    * the new bucket contents are fully staged under the job's temp dir
    * BEFORE any old bucket directory is deleted at commit, so reading a
    * bucket and overwriting the same path in one job never reads its
    * own output. The crash window is the commit itself: a JVM death
    * MID-commit (after a bucket's delete, before its rename) loses that
    * bucket's prior state with no recovery copy — acceptable for a
    * re-drivable batch/stream (re-run the batch), but a lake deployment
    * should swap this sink for a transactional table format whose
    * commit is atomic. */
  private[graft] def upsertBatch(spark: SparkSession, batch: DataFrame,
      keyCols: Seq[String], orderCols: Seq[String], targetRoot: String,
      nBuckets: Int = 16): Unit = {
    import graft.operators.Changelog
    require(!batch.columns.contains(UpsertBucketCol),
      s"upsert: column name '$UpsertBucketCol' is reserved for the " +
        "target's bucketing partition column — rename it in the input")
    val kb = pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets))
    val withKb = batch.withColumn(UpsertBucketCol, kb)
    val touched = withKb.select(UpsertBucketCol).distinct()
      .collect().map(_.getLong(0)) // bounded by nBuckets, never key data
    val fs = new org.apache.hadoop.fs.Path(targetRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev =
      if (fs.exists(new org.apache.hadoop.fs.Path(targetRoot)))
        Some(spark.read.parquet(targetRoot)
          .where(col(UpsertBucketCol).isin(touched: _*))
          // partition col reads back as INT; restore the LONG the
          // batch side computes so unionByName keeps one type
          .withColumn(UpsertBucketCol, col(UpsertBucketCol).cast("long"))
          .select(withKb.columns.map(col): _*))
      else None
    val all = prev.map(_.unionByName(withKb)).getOrElse(withKb)
    val merged = Changelog.latestByKey(all, keyCols, orderCols.map(col(_).desc))
    graft.sinks.PartitionOverwriteSink(targetRoot, Seq(UpsertBucketCol))
      .write(merged)
  }

  /** Streaming upsert: every micro-batch MERGEs into a keyed parquet
    * target via foreachBatch — after the stream drains, the target
    * holds exactly the latest record per key across all batches
    * ([[graft.operators.Changelog.latestByKey]] semantics). The merge
    * is associative (max-by-ordering), so the result is independent of
    * how rows split into micro-batches.
    *
    * State maintenance is PARTITION-PRUNED ([[upsertBatch]]): the
    * target is bucketed by a key hash and each batch rewrites only the
    * buckets it touches — per-batch cost scales with the batch's key
    * locality, not the accumulated state size. An empty stream yields
    * an empty DataFrame of the stream's schema — no target directory
    * is created, and no error.
    */
  def upsertStream(spark: SparkSession, stream: DataFrame,
      keyCols: Seq[String], orderCols: Seq[String],
      targetRoot: String, nBuckets: Int = 16): DataFrame = {
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty)
          upsertBatch(spark, batch.toDF(), keyCols, orderCols, targetRoot,
            nBuckets)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    recordPlan("graft_stream_upsert_fb", q)
    val fs = new org.apache.hadoop.fs.Path(targetRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(targetRoot)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stream.schema)
    else
      spark.read.parquet(targetRoot)
        .drop(UpsertBucketCol)
  }
}
