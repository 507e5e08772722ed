package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // offset from epoch 0: an event exactly at the engine's initial
  // watermark (0) is treated as late and dropped
  private def ts(min: Long): Timestamp = new Timestamp((1440 + min) * 60000L)

  private lazy val eventsDf = Seq(
    // user 1: two sessions (gap at 40 min > 30 min)
    (1L, ts(0), 100L), (1L, ts(10), 101L), (1L, ts(50), 102L),
    // user 2: one session
    (2L, ts(5), 200L), (2L, ts(20), 201L),
    // sentinel far in the future advances the watermark
    (9L, ts(600), 900L)
  ).toDF("user_id", "ts", "event_id")

  test("sessionizeBatch splits on gap with deterministic ordering") {
    val out = Streaming.sessionizeBatch(eventsDf).collect()
      .map(s => (s.user_id, s.session_id) -> s.n_events).toMap
    assert(out((1L, 1)) == 2L && out((1L, 2)) == 1L)
    assert(out((2L, 1)) == 2L)
    assert(out((9L, 1)) == 1L)
  }

  test("sessionizeStream emits closed sessions with O(1) state") {
    val dir = Files.createTempDirectory("graft-stream").toString
    // one file → one micro-batch: events can't arrive "late" behind a
    // watermark advanced by an earlier batch of the same bounded write
    eventsDf.coalesce(1).write.mode("overwrite").parquet(s"$dir/ev")
    val stream = spark.readStream
      .schema(eventsDf.schema).parquet(s"$dir/ev")
    val sessions = Streaming.sessionizeStream(stream, watermark = "1 minute")
    val rows = Streaming.runToMemory(spark, sessions.toDF(),
      "graft_sess_stream", OutputMode.Append()).collect()
    val out = rows.map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(4)).toMap
    withClue(rows.mkString("; ")) {
      // users 1 and 2 are fully before the watermark → flushed by timeout
      assert(out((1L, 1)) == 2L && out((1L, 2)) == 1L)
      assert(out((2L, 1)) == 2L)
    }
  }

  test("windowedCounts over a bounded stream matches the batch aggregate") {
    val dir = Files.createTempDirectory("graft-stream2").toString
    val ev = Seq(
      (ts(0), "click", 1.0), (ts(10), "click", 2.0), (ts(70), "view", 3.0)
    ).toDF("ts", "event_type", "value")
    ev.write.mode("overwrite").parquet(s"$dir/ev")
    val stream = spark.readStream.schema(ev.schema).parquet(s"$dir/ev")
    val out = Streaming.runToMemory(spark,
      Streaming.windowedCounts(stream), "graft_win_stream",
      OutputMode.Complete()).collect()
      .map { r =>
        // window_start is TIMESTAMP_NTZ → LocalDateTime
        val mins = r.getAs[java.time.LocalDateTime](0)
          .toEpochSecond(java.time.ZoneOffset.UTC) / 60
        (mins, r.getString(1)) -> r.getLong(2)
      }.toMap
    assert(out((1440L, "click")) == 2L)
    assert(out((1500L, "view")) == 1L)
  }

  test("slidingCounts: each event lands in exactly window/slide windows") {
    val dir = Files.createTempDirectory("graft-stream-sl").toString
    // one event: with 2h windows sliding 30m it must appear in 4
    // windows, the latest starting at its own 30m-aligned slot
    val ev = Seq((ts(65), "click", 2.0)).toDF("ts", "event_type", "value")
    ev.write.mode("overwrite").parquet(s"$dir/ev")
    val stream = spark.readStream.schema(ev.schema).parquet(s"$dir/ev")
    val out = Streaming.runToMemory(spark,
      Streaming.slidingCounts(stream), "graft_sliding_stream",
      OutputMode.Complete()).collect()
      .map { r =>
        val mins = r.getAs[java.time.LocalDateTime](0)
          .toEpochSecond(java.time.ZoneOffset.UTC) / 60
        (mins, r.getString(1), r.getLong(2))
      }
    // event at minute 1505 (day 1 + 65 min) → 30m-aligned window
    // starts 1410, 1440, 1470, 1500
    assert(out.length == 4)
    assert(out.forall { case (_, t, n) => t == "click" && n == 1L })
    val starts = out.map(_._1).sorted
    assert(starts.zip(starts.tail).forall { case (a, b) => b - a == 30 })
    assert(starts.last <= 1505 && starts.last > 1505 - 30)
  }

  test("purchaseAttribution stream-stream join matches the batch join") {
    val dir = Files.createTempDirectory("graft-stream4").toString
    val ev = Seq(
      (ts(0), 1L, "purchase", 10L),
      (ts(30), 1L, "click", 11L),    // within 2 h of purchase 10
      (ts(200), 1L, "view", 12L),    // beyond 2 h
      (ts(30), 2L, "click", 20L),    // other user — no purchase
      (ts(5), 1L, "purchase", 13L)   // second window for user 1
    ).toDF("ts", "user_id", "event_type", "event_id")
    ev.write.mode("overwrite").parquet(s"$dir/ev")
    def stream = spark.readStream.schema(ev.schema).parquet(s"$dir/ev")
    val out = Streaming.runToMemory(spark,
      Streaming.purchaseAttribution(stream, stream),
      "graft_join_stream", OutputMode.Append())
    val batch = ev.as("e").join(ev.as("p"),
      col("e.user_id") === col("p.user_id") &&
        col("p.event_type") === "purchase" &&
        col("e.ts") >= col("p.ts") &&
        col("e.ts") <= col("p.ts") + expr("INTERVAL 2 HOURS"))
      .select(col("e.event_id"), col("p.event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = out.select("event_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // p10 catches {e10,e11,e13}; p13 catches {e11,e13} (e10 precedes it)
    assert(got == batch && got.size == 5)
  }

  test("dedupKeys emits each key once") {
    val dir = Files.createTempDirectory("graft-stream3").toString
    val ev = Seq(
      (ts(0), 1L, "click"), (ts(1), 1L, "click"), (ts(2), 2L, "view")
    ).toDF("ts", "user_id", "event_type")
    ev.write.mode("overwrite").parquet(s"$dir/ev")
    val stream = spark.readStream.schema(ev.schema).parquet(s"$dir/ev")
    val out = Streaming.runToMemory(spark,
      Streaming.dedupKeys(stream, "1 hour", "user_id", "event_type"),
      "graft_dedup_stream", OutputMode.Append()).collect()
    assert(out.length == 2)
  }

  test("driftPerWindow: one row per live day, PSI >= 0, counts conserved") {
    val out = Streaming.driftPerWindow(spark, sf0001,
      cutoff = "2024-01-16", bins = 10).collect()
    val ev = graft.Tables.events(spark, sf0001)
      .where(col("ts") >= lit("2024-01-16").cast("timestamp"))
      .where(col("value").isNotNull)
    val days = ev.select(date_trunc("day", col("ts"))).distinct().count()
    assert(out.length == days, s"${out.length} rows for $days live days")
    // every PSI term (p-q)·ln(p/q) is >= 0, so the sum must be too
    assert(out.forall(_.getAs[Double]("psi") >= 0.0))
    // window event counts partition the live rows exactly
    assert(out.map(_.getAs[Long]("n_events")).sum == ev.count())
  }

  test("driftPerWindow: PSI equals a driver-side double evaluation of its formula") {
    val (cutoff, bins) = ("2024-01-16", 10)
    val out = Streaming.driftPerWindow(spark, sf0001, cutoff, bins).collect()
      .map(r => r.getAs[java.time.LocalDateTime]("window_start") ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("psi"))).toMap
    // per-(window, bin) counts over the operator's bin edges, in batch
    val ev = graft.Tables.events(spark, sf0001).where(col("value").isNotNull)
    val base = ev.where(col("ts") < lit(cutoff).cast("timestamp"))
    val st = base.agg(min(col("value").cast("double")),
      max(col("value").cast("double"))).head()
    val (mn, mx) = (st.getDouble(0), st.getDouble(1))
    val bin = expr(
      s"""CAST(LEAST(GREATEST(
         |  IF($mx = $mn, 0.0, FLOOR((CAST(value AS DOUBLE) - $mn)
         |    / (($mx - $mn) / $bins))),
         |0.0), $bins - 1.0) AS INT)""".stripMargin)
    val nBase = base.groupBy(bin).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cur = ev.where(col("ts") >= lit(cutoff).cast("timestamp"))
      .groupBy(date_trunc("day", col("ts")).cast("timestamp_ntz"), bin)
      .count().collect()
      .groupBy(_.getAs[java.time.LocalDateTime](0))
      .map { case (w, rs) => w -> rs.map(r => r.getInt(1) -> r.getLong(2)).toMap }
    // the formula in doubles: add-1 smoothing, Spark's LN (StrictMath)
    // and ROUND(·,6) (HALF_UP over the double's decimal form), exact
    // decimal sums per window
    val tb = nBase.values.sum
    def round6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val expected = cur.map { case (w, nCur) =>
      val tc = nCur.values.sum
      val psi = (0 until bins).map { b =>
        val p = (nBase.getOrElse(b, 0L) + 1.0) / (tb + bins)
        val q = (nCur.getOrElse(b, 0L) + 1.0) / (tc + bins)
        round6((p - q) * StrictMath.log(p / q))
      }.sum.toDouble
      w -> (tc, psi)
    }
    assert(out.nonEmpty && out == expected)
  }

  test("upsertStream: merged target is independent of micro-batch split") {
    val dir = Files.createTempDirectory("graft-upsert").toString
    val changelog = Seq(
      ("a", ts(0), 1L, 1.0), ("a", ts(10), 2L, 2.0), ("a", ts(10), 3L, 3.0),
      ("b", ts(5), 4L, 4.0), ("b", ts(50), 5L, 5.0), ("c", ts(1), 6L, 6.0)
    ).toDF("k", "ts", "id", "v")
    val expect = graft.operators.Changelog
      .latestByKey(changelog, Seq("k"), Seq(col("ts").desc, col("id").desc))
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3))).toSet
    assert(expect == Set(("a", 3L, 3.0), ("b", 5L, 5.0), ("c", 6L, 6.0)))
    for ((files, tag) <- Seq((1, "one"), (3, "many"))) {
      changelog.repartition(files)
        .write.mode("overwrite").parquet(s"$dir/$tag/stage")
      val stream = spark.readStream.schema(changelog.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/$tag/stage")
      val got = Streaming.upsertStream(spark, stream,
          Seq("k"), Seq("ts", "id"), s"$dir/$tag/target")
        .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3))).toSet
      assert(got == expect, s"split=$tag")
    }
  }

  test("sessionWindowNative: gap split, boundary merge, end = last + gap") {
    val dir = Files.createTempDirectory("graft-sessnat").toString
    // user 3 probes the boundary: an event exactly 30 min after its
    // predecessor MERGES (session_window merges when the next window's
    // start <= the previous window's end) — the same `diff > gap` split
    // the fMGWS sessionizer applies
    val ev = eventsDf.unionByName(
      Seq((3L, ts(100), 300L), (3L, ts(130), 301L))
        .toDF("user_id", "ts", "event_id"))
    ev.coalesce(1).write.mode("overwrite").parquet(s"$dir/ev")
    val stream = spark.readStream.schema(ev.schema).parquet(s"$dir/ev")
    val rows = Streaming.runToMemory(spark,
        Streaming.sessionWindowNative(stream, watermark = "1 minute"),
        "graft_sessnat_stream", OutputMode.Append()).collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1)) ->
        ((r.getAs[java.time.LocalDateTime](2), r.getLong(3))))
      .toMap
    def t(min: Long) = java.time.LocalDateTime
      .ofEpochSecond((1440 + min) * 60, 0, java.time.ZoneOffset.UTC)
    withClue(rows.mkString("; ")) {
      // user 1: sessions [0,10] (2 events) and [50] — ends carry +30min
      assert(rows((1L, t(0))) == ((t(40), 2L)))
      assert(rows((1L, t(50))) == ((t(80), 1L)))
      assert(rows((2L, t(5))) == ((t(50), 2L)))
      // the 30-min boundary merges: one 2-event session ending 130+30
      assert(rows((3L, t(100))) == ((t(160), 2L)))
    }
  }

  test("upsertBatch rewrites only touched buckets; others survive byte-identically") {
    val dir = Files.createTempDirectory("graft-upsert-buckets").toString
    val target = s"$dir/target"
    // seed state across many buckets
    val b1 = (0L until 64L).map(i => (s"k$i", ts(0), i, i.toDouble))
      .toDF("k", "ts", "id", "v")
    Streaming.upsertBatch(spark, b1, Seq("k"), Seq("ts", "id"), target,
      nBuckets = 16)
    def snapshot(): Map[String, (Long, Long)] = {
      val root = java.nio.file.Paths.get(target)
      val it = java.nio.file.Files.walk(root).iterator()
      val m = scala.collection.mutable.Map[String, (Long, Long)]()
      while (it.hasNext) {
        val p = it.next()
        if (p.toString.endsWith(".parquet")) {
          val bytes = java.nio.file.Files.readAllBytes(p)
          m(root.relativize(p).toString) =
            (bytes.length.toLong, java.util.Arrays.hashCode(bytes).toLong)
        }
      }
      m.toMap
    }
    val before = snapshot()
    assert(before.nonEmpty)
    // one-key batch → exactly one touched bucket
    val touched = spark.range(1)
      .select(pmod(xxhash64(lit("k3")), lit(16))).head().getLong(0)
    val b2 = Seq(("k3", ts(10), 999L, 9.0)).toDF("k", "ts", "id", "v")
    Streaming.upsertBatch(spark, b2, Seq("k"), Seq("ts", "id"), target,
      nBuckets = 16)
    val after = snapshot()
    // every file outside the touched bucket dir survives byte-identical
    val untouchedBefore = before.filter(!_._1.contains(s"graft_kb=$touched"))
    val untouchedAfter = after.filter(!_._1.contains(s"graft_kb=$touched"))
    assert(untouchedBefore == untouchedAfter)
    // the touched bucket WAS rewritten
    assert(before.filter(_._1.contains(s"graft_kb=$touched")) !=
      after.filter(_._1.contains(s"graft_kb=$touched")))
    // and the merged state is correct
    val state = spark.read.parquet(target)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3))).toSet
    assert(state.contains(("k3", 999L, 9.0)))
    assert(state.size == 64)
  }

  test("ttlSweep: expired day dirs vanish, survivors byte-identical, no-op cases") {
    import graft.operators.Retention
    val dir = Files.createTempDirectory("graft-ttl").toString
    val target = s"$dir/t"
    Seq((1L, "2024-01-05"), (2L, "2024-01-09"), (3L, "2024-01-10"),
      (4L, "2024-02-01"))
      .toDF("id", "day")
      .write.partitionBy("day").parquet(target)
    def files(): Map[String, Long] = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(target)).iterator()
      val m = scala.collection.mutable.Map[String, Long]()
      while (it.hasNext) { val p = it.next()
        if (p.toString.endsWith(".parquet"))
          m(p.toString) = java.nio.file.Files.size(p) }
      m.toMap
    }
    val before = files()
    val dropped = Retention.ttlSweep(spark, target, "day", "2024-01-10")
    // strictly-older partitions drop; the cutoff day itself survives
    assert(dropped == Seq("2024-01-05", "2024-01-09"))
    assert(!new java.io.File(s"$target/day=2024-01-05").exists())
    assert(new java.io.File(s"$target/day=2024-01-10").exists())
    // surviving files untouched on disk
    val after = files()
    assert(after == before.filter(!_._1.contains("day=2024-01-0")))
    assert(spark.read.parquet(target).select("id")
      .collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    // idempotent re-sweep and missing-target sweep are silent no-ops
    assert(Retention.ttlSweep(spark, target, "day", "2024-01-10").isEmpty)
    assert(Retention.ttlSweep(spark, s"$dir/none", "day", "2024-01-10").isEmpty)
  }

  test("forgetKeys erases only target keys; untouched buckets byte-identical; empty bucket dirs vanish") {
    import graft.operators.Retention
    val dir = Files.createTempDirectory("graft-forget").toString
    val target = s"$dir/target"
    val b1 = (0L until 64L).map(i => (s"k$i", ts(0), i, i.toDouble))
      .toDF("k", "ts", "id", "v")
    Streaming.upsertBatch(spark, b1, Seq("k"), Seq("ts", "id"), target,
      nBuckets = 16)
    def snapshot(): Map[String, (Long, Long)] = {
      val root = java.nio.file.Paths.get(target)
      val it = java.nio.file.Files.walk(root).iterator()
      val m = scala.collection.mutable.Map[String, (Long, Long)]()
      while (it.hasNext) {
        val p = it.next()
        if (p.toString.endsWith(".parquet")) {
          val bytes = java.nio.file.Files.readAllBytes(p)
          m(root.relativize(p).toString) =
            (bytes.length.toLong, java.util.Arrays.hashCode(bytes).toLong)
        }
      }
      m.toMap
    }
    val before = snapshot()
    val touched = spark.range(1)
      .select(pmod(xxhash64(lit("k3")), lit(16))).head().getLong(0)
    Retention.forgetKeys(spark, target, Seq("k"),
      Seq(Tuple1("k3")).toDF("k"), nBuckets = 16)
    val after = snapshot()
    // k3 is gone, all 63 other keys survive
    val keys = spark.read.parquet(target)
      .select("k").collect().map(_.getString(0)).toSet
    assert(!keys.contains("k3") && keys.size == 63)
    // untouched buckets were not even rewritten
    assert(before.filter(!_._1.contains(s"graft_kb=$touched")) ==
      after.filter(!_._1.contains(s"graft_kb=$touched")))
    // an all-deleted bucket's directory disappears entirely (dynamic
    // overwrite alone would silently keep its old files)
    val loneKey = "solo"
    val loneTarget = s"$dir/lone"
    Streaming.upsertBatch(spark,
      Seq((loneKey, ts(0), 1L, 1.0)).toDF("k", "ts", "id", "v"),
      Seq("k"), Seq("ts", "id"), loneTarget, nBuckets = 4)
    Retention.forgetKeys(spark, loneTarget, Seq("k"),
      Seq(Tuple1(loneKey)).toDF("k"), nBuckets = 4)
    val loneBucket = spark.range(1)
      .select(pmod(xxhash64(lit(loneKey)), lit(4))).head().getLong(0)
    assert(!new java.io.File(s"$loneTarget/graft_kb=$loneBucket").exists())
    // deleting keys from a non-existent store is a silent no-op
    Retention.forgetKeys(spark, s"$dir/nope", Seq("k"),
      Seq(Tuple1("x")).toDF("k"))
  }

  test("upsertBatch refuses a batch that already has the reserved bucket column") {
    val dir = Files.createTempDirectory("graft-upsert-reserved").toString
    val bad = Seq(("k1", ts(0), 1L, 0L)).toDF("k", "ts", "id", "graft_kb")
    val err = intercept[IllegalArgumentException](
      Streaming.upsertBatch(spark, bad, Seq("k"), Seq("ts", "id"),
        s"$dir/target", nBuckets = 4))
    assert(err.getMessage.contains("graft_kb") &&
      err.getMessage.contains("reserved"))
  }

  test("upsertStream over an empty stream yields empty state, not an error") {
    val dir = Files.createTempDirectory("graft-upsert-empty").toString
    val changelog = Seq(("a", ts(0), 1L, 1.0)).toDF("k", "ts", "id", "v")
    // stage dir exists but holds no files matching the schema write
    changelog.where(lit(false))
      .write.mode("overwrite").parquet(s"$dir/stage")
    val stream = spark.readStream.schema(changelog.schema)
      .parquet(s"$dir/stage")
    val state = Streaming.upsertStream(spark, stream,
      Seq("k"), Seq("ts", "id"), s"$dir/target")
    // names+types match the stream schema (nullability differs: the
    // parquet-backed stream schema is all-nullable)
    assert(state.isEmpty)
    assert(state.schema.map(f => (f.name, f.dataType)) ==
      changelog.schema.map(f => (f.name, f.dataType)))
  }

  test("upsertStream replay is idempotent: re-merging all input converges") {
    // the MERGE is latestByKey, which is idempotent across replays: an
    // at-least-once restart re-feeds already-merged rows, and
    // compact(finalState ∪ anyReplayedInput) must equal finalState
    val dir = Files.createTempDirectory("graft-upsert-replay").toString
    val changelog = Seq(
      ("a", ts(0), 1L, 1.0), ("a", ts(9), 2L, 2.0), ("b", ts(3), 3L, 3.0)
    ).toDF("k", "ts", "id", "v")
    changelog.repartition(2).write.mode("overwrite").parquet(s"$dir/stage")
    val stream = spark.readStream.schema(changelog.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/stage")
    val state = Streaming.upsertStream(spark, stream,
      Seq("k"), Seq("ts", "id"), s"$dir/target")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3))).toSet
    val replayed = graft.operators.Changelog.latestByKey(
      state.unionByName(changelog),
      Seq("k"), Seq(col("ts").desc, col("id").desc))
    assert(rows(replayed) == rows(state))
    assert(rows(state) == Set(("a", 2L, 2.0), ("b", 3L, 3.0)))
  }

  test("late data: in-state merge, evicted-window drop, append cutoff") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-late").toString
    def hhmm(h: Int, m: Int) = Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
    // batch 0: window W00 gets 2 on-time rows; a 10:00 row pushes
    //   wm_1 to 09:00 (delay 1h)
    // batch 1: 20:00 row pushes wm_2 to 19:00. At END of batch 1 the
    //   operating wm (09:00) passes W00 (end 01:00) -> emitted n=2,
    //   state evicted
    // batch 2: a 00:30 row for the EVICTED W00 must be DROPPED (not
    //   re-created, not merged); 20:30 row merges into live W20
    val batches = Seq(
      Seq((1L, hhmm(0, 10)), (2L, hhmm(0, 20)), (3L, hhmm(10, 0))),
      Seq((4L, hhmm(20, 0))),
      Seq((5L, hhmm(0, 30)), (6L, hhmm(20, 30))))
    batches.zipWithIndex.foreach { case (rows2, b) =>
      val tmp = s"$root/tmp$b"
      rows2.toDF("id", "ts").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$root/stage/b$b.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + b * 60000L)
    }
    val schema = spark.read.parquet(s"$root/stage").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/stage")
    val q = stream.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("timestamp_ntz").as("ws"), col("n"))
      .writeStream.format("memory").queryName("graft_late_spec")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // wm progression matches the batch-boundary formula
    val wms = q.recentProgress.toSeq.sortBy(_.batchId)
      .map(p => p.eventTime.get("watermark")).filter(_ != null)
    assert(wms.containsSlice(Seq("1970-01-01T00:00:00.000Z",
      "2024-03-01T09:00:00.000Z", "2024-03-01T19:00:00.000Z")), wms)
    // exactly one row (the 2-batch-late 00:30 one) dropped
    assert(q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum == 1L)
    val out = spark.table("graft_late_spec").collect()
      .map(r => r.getAs[java.time.LocalDateTime](0).toString -> r.getLong(1))
      .toMap
    // W00 emitted with its 2 on-time rows only; W10 emitted once the
    // final wm (19:30) passed it; W20 (end 21:00 > 19:30) withheld
    assert(out == Map("2024-03-01T00:00" -> 2L, "2024-03-01T10:00" -> 1L))
  }

  test("leftJoinCounts: sentinel-closed left-outer equals batch left join") {
    val root = Files.createTempDirectory("graft-leftjoin").toString
    val out = Streaming.leftJoinCounts(spark, sf0001, root)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val ev = Tables.events(spark, sf0001)
    val c = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val want = c.join(p,
        col("user_id") === col("p_user") &&
          col("ts") >= col("p_ts") &&
          col("ts") <= col("p_ts") + expr("INTERVAL 2 HOURS"),
        "left")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_rows"), count(col("purchase_id")).as("nm"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out == want)
    // and the null-padded tail really is present (unmatched clicks
    // emitted despite sitting inside the live-tail ambiguity zone —
    // the sentinel batch is what forces them out)
    assert(out.values.exists { case (n, m) => n > m })
  }

  test("fullJoinCounts: sentinel-closed full-outer equals batch full join") {
    val root = Files.createTempDirectory("graft-fulljoin").toString
    val out = Streaming.fullJoinCounts(spark, sf0001, root)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    val ev = Tables.events(spark, sf0001)
    val c = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val want = c.join(p,
        col("user_id") === col("p_user") &&
          col("ts") >= col("p_ts") &&
          col("ts") <= col("p_ts") + expr("INTERVAL 2 HOURS"),
        "full")
      .groupBy(coalesce(col("user_id"), col("p_user")).as("u"))
      .agg(count(lit(1)).as("n"),
        count(when(col("click_id").isNotNull &&
          col("purchase_id").isNotNull, 1)).as("nm"),
        count(when(col("click_id").isNotNull &&
          col("purchase_id").isNull, 1)).as("nc"),
        count(when(col("click_id").isNull, 1)).as("np"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(out == want)
    // both padded tails are really present: unmatched clicks AND
    // unmatched purchases survived the live-tail ambiguity zone
    assert(out.values.exists(_._3 > 0))
    assert(out.values.exists(_._4 > 0))
  }

  test("quarantineSplit: good and bad sinks partition the input exactly") {
    val root = Files.createTempDirectory("graft-quarantine").toString
    val bad = Streaming.quarantineSplit(spark, sf0001, root)
    val nBad = bad.count()
    val good = spark.read.parquet(s"$root/good")
    val total = spark.read.parquet(s"$root/stage")
    assert(nBad + good.count() == total.count())
    // disjoint: no event id appears in both channels
    assert(good.join(bad, Seq("event_id")).count() == 0)
    // the stream's verdicts ARE the batch quarantine's
    val batch = graft.operators.Quality.quarantine(
      Tables.events(spark, sf0001), Seq("event_id"), Seq(
        "value_le_300" -> "value <= 300",
        "type_no_error" -> "event_type <> 'error'"))
    assert(bad.exceptAll(batch).isEmpty && batch.exceptAll(bad).isEmpty)
    // a second run is idempotent (derived sinks wiped per run)
    assert(Streaming.quarantineSplit(spark, sf0001, root).count() == nBad)
  }

  test("transformWithState sessionizer == flatMapGroupsWithState form") {
    val dir = Files.createTempDirectory("graft-tws-sess").toString
    eventsDf.coalesce(1).write.mode("overwrite").parquet(s"$dir/ev")
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val tws =
      try Streaming.runToMemory(spark,
        Streaming.sessionizeTwsStream(
          spark.readStream.schema(eventsDf.schema).parquet(s"$dir/ev"),
          watermark = "1 minute").toDF(),
        "graft_sess_tws", OutputMode.Append()).collect()
      finally spark.conf.set(providerKey, prev)
    val mgws = Streaming.runToMemory(spark,
      Streaming.sessionizeStream(
        spark.readStream.schema(eventsDf.schema).parquet(s"$dir/ev"),
        watermark = "1 minute").toDF(),
      "graft_sess_fmgws", OutputMode.Append()).collect()
    def norm(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(norm(tws) == norm(mgws),
      "timer-driven TWS sessions must equal the flatMapGroupsWithState form")
    assert(tws.nonEmpty)
  }

  test("transformWithState running totals == mapGroupsWithState form") {
    val r1 = Files.createTempDirectory("graft-tws1").toString
    val r2 = Files.createTempDirectory("graft-tws2").toString
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
    val tws = m(Streaming.runningTotalsTws(spark, sf0001, r1, nFiles = 3))
    val mgws = m(Streaming.runningTotals(spark, sf0001, r2, nFiles = 3))
    assert(tws == mgws, "the two state APIs must agree exactly")
    // the RocksDB override did not leak into the session (getOption
    // surfaces the conf's default, so assert on the value)
    assert(!spark.conf.get(
      "spark.sql.streaming.stateStore.providerClass").contains("RocksDB"))
  }

  test("runningTotals accumulates state across real micro-batches") {
    val root = Files.createTempDirectory("graft-running").toString
    val out = Streaming.runningTotals(spark, sf0001, root, nFiles = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // final state per user == the batch GROUP BY
    val want = Tables.events(spark, sf0001)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        expr("CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS DOUBLE)")
          .as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out == want)
    // Update mode really emitted intermediate states: the raw memory
    // sink holds one row per (touched user × batch) — strictly more
    // rows than users, since 4 file-batches split most users' events
    val raw = spark.table("graft_stream_running")
    assert(raw.count() > out.size,
      "expected multiple per-user emissions across micro-batches")
    // and every intermediate emission is a prefix of the final state
    assert(raw.groupBy("user_id").agg(max("n_events").as("m")).collect()
      .forall(r => out(r.getLong(0))._1 == r.getLong(1)))
  }

  test("typeCountsTws: MapState final counts equal the batch GROUP BY; emissions span batches") {
    val root = Files.createTempDirectory("graft-tctws").toString
    val out = Streaming.typeCountsTws(spark, sf0001, root, nFiles = 4)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = Tables.events(spark, sf0001)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == want)
    // Update mode really emitted per-batch cumulative states: the raw
    // memory sink holds more rows than final (user, type) pairs — the
    // 4-file split re-touches most sub-keys across batches
    val raw = spark.table("graft_stream_typecounts_tws")
    assert(raw.count() > out.size,
      "expected multiple per-(user,type) emissions across micro-batches")
    // and every emission is a prefix of the final count
    assert(raw.groupBy("user_id", "event_type")
      .agg(max("n_events").as("m")).collect()
      .forall(r => out((r.getLong(0), r.getString(1))) == r.getLong(2)))
  }

  test("lastNTws: ListState recent-N equals batch top-N; the n_seen seal counts every row") {
    val root = Files.createTempDirectory("graft-lastn").toString
    val out = Streaming.lastNTws(spark, sf0001, root, n = 3, nFiles = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val want = Tables.events(spark, sf0001)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .where(col("rn") <= 3)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("rn")) ->
        r.getAs[Long]("event_id")).toMap
    assert(out == want)
    // the tamper seal really accumulated across batches: each user's
    // final n_seen equals their total event count
    val sealOk = spark.table("graft_stream_lastn_tws")
      .groupBy("user_id").agg(max("n_seen").as("m"))
      .join(Tables.events(spark, sf0001).groupBy("user_id")
        .agg(count(lit(1)).as("n")), "user_id")
      .where(col("m") =!= col("n")).count()
    assert(sealOk == 0L, "n_seen diverged from per-user event totals")
  }

  test("recoverPhases: restart continues the checkpoint — no replay, no state loss") {
    val root = Files.createTempDirectory("graft-recover").toString
    val (p1Last, p2First, p2Rows, table) =
      Streaming.recoverPhases(spark, sf0001, root)
    // phase 2 CONTINUED the batch numbering — a fresh start (state
    // loss) would restart at 0, a replay would re-run committed ids
    assert(p2First > p1Last,
      s"phase 2 first batch $p2First must follow phase 1 last $p1Last")
    // phase 2 read EXACTLY the two pending files' rows — committed
    // batches were not reprocessed
    val phase2Want = Tables.events(spark, sf0001)
      .where(pmod(col("event_id"), lit(4)) >= 2).count()
    assert(p2Rows == phase2Want,
      s"phase 2 input rows $p2Rows != staged second half $phase2Want")
    // and the recovered Complete-mode table equals the batch aggregate
    // over ALL events — restored state + new batches, nothing doubled
    val got = table.collect()
      .map(r => (r.get(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // batch reconstruction: same agg over the static frame
    val wantRows = Tables.events(spark, sf0001)
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)")
          .as("s"))
      .collect().map(r => (r.get(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got == wantRows)
  }

  test("transformWithState recovers ValueState from the checkpoint across query restarts") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val root = Files.createTempDirectory("graft-tws-recover").toString
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), col("value"), col("event_id"))
    val files = s"$root/files"; val stage = s"$root/stage"
    (0 until 4).foreach { b =>
      val tmp = s"$root/tmp$b"
      ev.where(pmod(col("event_id"), lit(4)) === b).coalesce(1)
        .write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$files/b$b.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dst.toPath)
    }
    new java.io.File(stage).mkdirs()
    def link(b: Int): Unit = java.nio.file.Files.createLink(
      java.nio.file.Paths.get(s"$stage/b$b.parquet"),
      java.nio.file.Paths.get(s"$files/b$b.parquet"))
    (0 until 2).foreach(link)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // Update-mode memory sinks refuse checkpoint recovery (only
      // Complete can rebuild the table from state); the recovery-safe
      // shape is foreachBatch appending each batch's emissions to
      // parquet — which is also the production serving shape
      val out = s"$root/out"
      val writeBatch: (org.apache.spark.sql.Dataset[
        org.apache.spark.sql.Row], Long) => Unit =
        (df, _) => df.write.mode("append").parquet(out)
      def runPhase() = {
        val schema = spark.read.parquet(stage).schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
        val q = Streaming.runningTotalsTwsStream(stream).toDF()
          .writeStream.foreachBatch(writeBatch)
          .outputMode(OutputMode.Update())
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(); q
      }
      val q1 = runPhase()
      val p1Last = q1.recentProgress.map(_.batchId).max
      (2 until 4).foreach(link)
      val q2 = runPhase()
      // the restarted query CONTINUED the checkpoint's numbering — a
      // fresh RocksDB store would restart at 0 and reprocess
      assert(q2.recentProgress.filter(_.numInputRows > 0)
        .map(_.batchId).min > p1Last)
      // n_events strictly increases per emission, so the max-struct per
      // user is its FINAL ValueState — which must equal the batch
      // GROUP BY over both halves: the phase-1 state survived the
      // restart in RocksDB
      val got = spark.read.parquet(out)
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("sum_micros"))).as("f"))
        .select(col("user_id"), col("f.n_events"), col("f.sum_micros"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = ev
        .select(col("user_id"), expr(
          "COALESCE(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT), 0)")
          .as("m"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(col("m")).as("s"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got.nonEmpty)
      assert(got == want, "final per-user states diverge from the batch GROUP BY")
      // non-vacuity: at least one phase-2 user also had phase-1 events,
      // so the equality above genuinely crossed the restart boundary
      val p1Users = ev.where(pmod(col("event_id"), lit(4)) < 2)
        .select("user_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(got.keys.exists(p1Users), "no user spanned both phases")
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None    => spark.conf.unset(providerKey)
    }
  }

  test("streamIndexProbe: accumulated micro-batch probes equal the one-shot batch probe") {
    val root = Files.createTempDirectory("graft-sprobe").toString
    val got = Streaming.streamIndexProbe(spark, sf0001, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // probe the SAME stored index with the whole fresh side at once —
    // per-doc independence (cross-side-only candidates) means the
    // 3-batch stream must accumulate exactly this set; non-vacuity at
    // scale is the sf0.01 oracle gate's job
    val docs = Tables.documents(spark, sf0001)
    val isFresh =
      graft.operators.Corpus.hashBucket(col("doc_id"), "delta", 5) === 0
    val want = graft.operators.DedupIndex.probeMinhash(
        spark, s"$root/idx", docs.where(isFresh), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
  }

  test("chainedDedupCounts: dedup→window chain equals batch DISTINCT + GROUP BY") {
    val root = Files.createTempDirectory("graft-chained").toString
    val got = Streaming.chainedDedupCounts(spark, sf0001, root)
      .collect().map(r => (r.get(0), r.getString(1)) -> r.getLong(2)).toMap
    // non-vacuity: the staged stream carries MORE rows than the events
    // table (planted cross-batch duplicates + sentinel) — without the
    // dedup stage the window counts would overshoot the oracle
    val staged = spark.read.parquet(s"$root/stage").count()
    val real = Tables.events(spark, sf0001).count()
    assert(staged > real + 1,
      s"no planted duplicates: staged $staged vs events $real")
    val want = Tables.events(spark, sf0001)
      .select("user_id", "event_type", "ts").distinct()
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.get(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want)
    // the sentinel's 2030 window never leaks into the result
    assert(got.keys.forall(_._1.asInstanceOf[java.time.LocalDateTime]
      .getYear < 2029))
  }
}
