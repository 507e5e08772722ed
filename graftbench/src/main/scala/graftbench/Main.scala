package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What every workload implements. A workload drives graft only through
  * its public API, from one client thread, in a closed loop: the next op
  * starts when the previous one has finished. */
trait Workload {
  /** Generate the inputs from the seed and stage them under `dir`. */
  def stage(dir: String): Unit
  /** One closed-loop cycle of ops, each through [[Bench.timed]]. */
  def cycle(): Unit
  /** Final output checks at run end; false fails the run. */
  def finalCheck(): Boolean
  /** Bytes on disk the workload keeps ÷ bytes of its live output rows
    * written once as compacted parquet. */
  def spaceAmp(): Double
  /** Layer metrics of the traced phase (names from [[Metrics.perLayer]]). */
  def layerMetrics(): Map[String, Double]
  /** A measured phase starts. */
  def reset(): Unit = ()
  /** The latency samples of one op kind, if not the times of its ops. */
  def latencies(slot: String): Option[Seq[Double]] = None
}

/** One benchmark process: session, closed loop, measurements. */
final class Bench(val spark: SparkSession, val seed: Long, val tracer: Tracer) {
  val times: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map.empty
  /** Process CPU seconds of each op, by slot, as `times` holds its wall
    * seconds. */
  val cpuTimes: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map.empty
  var attempted = 0L
  var failed = 0L
  var units = 0L
  /** Heap in use right after each forced GC of the measured phase. */
  val heapLive: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  private var measuringNow = false
  def measuring: Boolean = measuringNow
  private val memory = ManagementFactory.getMemoryMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds this process has used since the JVM started. */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  def tracing: Boolean = tracer.enabled && measuring && tracerOn
  private var tracerOn = false
  def setTracing(b: Boolean): Unit = { tracerOn = b; tracer.recording(b) }
  def setMeasuring(b: Boolean): Unit = measuringNow = b

  def samples(slot: String): Seq[Double] = times.getOrElse(slot, Nil).toSeq
  def cpuSamples(slot: String): Seq[Double] = cpuTimes.getOrElse(slot, Nil).toSeq

  /** Run one op: time `work`, then check its output outside the timed
    * region. A throw or a failed check counts the op as failed. Between
    * ops the cache is cleared and a GC is forced, also untimed. */
  def timed[T](slot: String, opUnits: Long)(work: => T)(check: T => Boolean): Unit = {
    attempted += 1
    val c0 = cpuSeconds
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(s"op.$slot")(work))
      catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    val dc = cpuSeconds - c0
    val ok = res match {
      case Right(r) =>
        try check(r) catch { case e: Throwable => report(slot, e); false }
      case Left(e) => report(slot, e); false
    }
    if (ok) {
      times.getOrElseUpdate(slot, mutable.ArrayBuffer.empty) += dt
      cpuTimes.getOrElseUpdate(slot, mutable.ArrayBuffer.empty) += dc
      if (measuring) units += opUnits
    } else {
      failed += 1
      System.err.println(s"[graftbench] op $slot failed its check")
    }
    settle()
  }

  /** A traced-only measurement (prefix plans, layer probes): timed as a
    * span, never counted as an op. */
  def probe[T](name: String)(work: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = tracer.span(name)(work)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def report(slot: String, e: Throwable): Unit = {
    System.err.println(s"[graftbench] op $slot threw: $e")
    e.printStackTrace(System.err)
  }

  def settle(): Unit = {
    spark.catalog.clearCache()
    System.gc()
    if (measuring) {
      heapLive += memory.getHeapMemoryUsage.getUsed.toDouble
      // on the collected heap, so no collection falls inside the kernel
      calibration += Calibration.run()
    }
  }

  /** CPU seconds of the calibration kernel, once after each op of the
    * measured phase. */
  val calibration: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  /** How much slower this processor runs now than the reference speed
    * (the kernel's median time ÷ [[Calibration.ReferenceS]]). */
  def slowdown: Double = Metrics.median(calibration.toSeq) / Calibration.ReferenceS

  def reset(): Unit = {
    times.clear(); cpuTimes.clear(); units = 0L; heapLive.clear(); calibration.clear()
  }
}

/** A fixed piece of single-threaded work that measures how fast the
  * processor runs at the moment. On a shared host the same op takes
  * 20-30% more CPU time when the host is busy (slower clocks, shared
  * caches); the kernel slows with it, so CPU times divided by its
  * slowdown read the same whether the host is busy or quiet. */
object Calibration {
  /** The speed figures are scaled to: CPU times are reported as if the
    * kernel took this long. On a 4-vCPU Xeon VM with the client compiler
    * it takes 0.24–0.31 s, so the figures read about 20% below raw CPU
    * seconds there. */
  val ReferenceS = 0.2
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** Dependent random reads over 16 MB of random longs, more than a
    * core's caches hold (memory latency), a sort (compute, streaming
    * memory) and a boxed hash map (allocation, pointer chasing), roughly
    * the mix of a Spark task. It keeps nothing, so the live heap the
    * benchmark reports stays graft's. */
  def kernel(): Long = {
    val rt = new java.util.SplittableRandom(7L)
    val t = Array.fill(1 << 21)(rt.nextLong())
    var x = 1L; var acc = 0L; var i = 0
    while (i < 1000000) {
      x = x * 6364136223846793005L + 1442695040888963407L + acc
      acc += t(((x >>> 40) & (t.length - 1)).toInt) & 1L
      i += 1
    }
    val r = new java.util.SplittableRandom(11L)
    val a = Array.fill(300000)(r.nextLong())
    java.util.Arrays.sort(a)
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    i = 0
    while (i < 100000) { m.merge(a(i) & 0x3fffL, 1L, (p, q) => p + q); i += 1 }
    acc + a(a.length / 2) + m.size
  }

  /** CPU seconds of one run of [[kernel]] on the calling thread. */
  def run(): Double = {
    val c0 = threads.getCurrentThreadCpuTime
    val k = kernel()
    val dt = (threads.getCurrentThreadCpuTime - c0) / 1e9
    if (k == 42L) System.err.println("")
    dt
  }
}

object Main {
  val Workloads: Seq[String] = Seq("etl", "lakehouse", "dedup")
  /** Whole cycles of warm-up: the cold one. With the client compiler
    * only (see run.py) the next cycle already runs at its steady time. */
  val WarmUpCycles = 1

  /** The workload a run drives. A traced etl run also drains the event
    * backlog of [[StreamWorkload]] each cycle, the only load on
    * `graft.streaming`: stream drains spread too much from run to run to
    * carry end-to-end metrics of their own (see README). */
  def make(name: String, b: Bench, trace: Boolean): Workload = name match {
    case "etl" if trace =>
      new WithStream(new EtlWorkload(b), new StreamWorkload(b))
    case "etl" => new EtlWorkload(b)
    case "lakehouse" => new LakehouseWorkload(b)
    case "dedup" => new DedupWorkload(b)
  }

  /** The benchmark's own session: one local JVM with nproc−2 task
    * threads (at least one), a fixed shuffle width, no UI. The two
    * processors left over take the client thread, GC and compilation,
    * and give the guest scheduler room to move a task thread off a
    * processor the host is taking time from: with two of four
    * processors kept busy by other work an etl flow slowed by about a
    * third under nproc−1 task threads and not at all under nproc−2. */
  def session(work: String): SparkSession = {
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() - 2)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      // graft's stateful streaming width: one state-store partition per
      // task thread
      .config("graft.stream.shufflePartitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      // keep Spark's own status history small, so live heap after GC
      // shows graft's state rather than how many jobs the run managed
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  /** The class-sharing training pass (`--train`): every workload at a
    * tiny size, staged and cycled in one JVM, so that the archive the JVM
    * writes at exit holds the classes a run of any workload loads. */
  def train(work: String): Unit = {
    val spark = session(work)
    val b = new Bench(spark, 1L, new Tracer(spark, false))
    Seq(new EtlWorkload(b, nJson = 2000, nHl7 = 200),
      new LakehouseWorkload(b, nRows = 4000, changes = 200, readsPerCycle = 1),
      new DedupWorkload(b, nDocs = 300, batchDocs = 100, nBatches = 1),
      new StreamWorkload(b, nEvents = 4000, nFiles = 4, nUsers = 200))
      .zipWithIndex.foreach { case (w, i) =>
        w.stage(s"$work/train-$i")
        startPhase(b, w)
        w.cycle(); w.cycle()
        if (!w.finalCheck()) b.failed += 1
        w.spaceAmp()
      }
    spark.stop()
    require(b.failed == 0, s"training pass: ${b.failed} ops failed")
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--train")) {
      train(arg(args, "--work").getOrElse(sys.error("--work <dir> is required")))
      return
    }
    val workload = arg(args, "--workload").getOrElse("")
    require(Workloads.contains(workload),
      s"--workload must be one of ${Workloads.mkString(", ")}: '$workload'")
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    require(seconds > 0, s"--seconds must be positive: $seconds")
    val trace = arg(args, "--trace").getOrElse("0") == "1"
    val work = arg(args, "--work").getOrElse(sys.error("--work <dir> is required"))

    val spark = session(work)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer(spark, trace)
    val b = new Bench(spark, seed, tracer)
    val w = make(workload, b, trace)
    // compile the calibration kernel before it is timed
    (1 to 5).foreach(_ => Calibration.run())

    // set-up: stage the inputs once, into a fresh dir
    val ts = System.nanoTime()
    w.stage(s"$work/stage")
    b.settle()
    val stageS = (System.nanoTime() - ts) / 1e9
    val tw = System.nanoTime()
    (1 to WarmUpCycles).foreach(_ => w.cycle())
    val warmS = (System.nanoTime() - tw) / 1e9
    val warmOps = b.samples("op")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    // set-up, JVM start to the first measured op: its wall time, and the
    // CPU time the process spent in it
    var setupS = 0.0
    var setupCpuS = 0.0

    def latencies(slot: String): Seq[Double] = w.latencies(slot).getOrElse(b.samples(slot))
    def loop(limitS: Double): (Double, Double) = {
      if (setupS == 0.0) {
        setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
        setupCpuS = b.cpuSeconds
      }
      startPhase(b, w)
      val c0 = b.cpuSeconds
      val t0 = System.nanoTime()
      // whole cycles, the first one always: every op kind has a sample,
      // and each kind as many as the phase has cycles (skipping the ops
      // that would start after the deadline left a run's last cycle
      // short by a flow or a read, and whether it did decided medians)
      do w.cycle() while (System.nanoTime() - t0 < limitS * 1e9)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpuMs = (b.cpuSeconds - c0) * 1e3
      b.setMeasuring(false)
      (wall, cpuMs)
    }

    val metrics: Seq[(String, Double)] = if (!trace) {
      val (_, cpuMs) = loop(seconds)
      val ok = w.finalCheck()
      if (!ok) b.failed += 1
      // times are CPU seconds: the process's CPU time leaves out the time
      // the host takes the processors away, which its wall time does not
      // (see README, "Why CPU time")
      val k = b.slowdown
      Seq(
        "setup_s" -> setupCpuS / k,
        "cpu_ms_per_krow" -> cpuMs / (b.units / 1000.0) / k,
        // the median, not the largest: the largest read 10-20% higher in
        // a quarter of the runs, as Spark's asynchronous cleanup fell
        "heap_live_mb" -> Metrics.median(b.heapLive.toSeq) / 1048576.0,
        "op_cpu_p50_s" -> Metrics.median(b.cpuSamples("op")) / k,
        "op2_cpu_p50_s" -> Metrics.median(b.cpuSamples("op2")) / k,
        "space_amp" -> w.spaceAmp())
    } else {
      // half the time untraced, half traced: the ratio of the main op's
      // medians is the tracing overhead. The untraced half also gives the
      // wall-clock figures.
      val (wall, _) = loop(seconds / 2)
      val untraced = Metrics.median(latencies("op"))
      val wallFigures = Map(
        "wall.setup_s" -> setupS,
        "wall.rows_per_s" -> b.units / wall,
        "wall.op2_p50_s" -> Metrics.median(latencies("op2")))
      tracer.drain()
      b.setTracing(true)
      loop(seconds / 2)
      b.setTracing(false)
      tracer.drain()
      val traced = Metrics.median(latencies("op"))
      if (!w.finalCheck()) b.failed += 1
      tracer.write(s"$work/../spans-$workload-$seed.jsonl")
      val common = opMetrics(b, "op") ++ opMetrics(b, "op2") ++ Map(
        "op2.p90_s" -> Metrics.percentile(latencies("op2"), 0.9),
        "trace.untraced_op_p50_s" -> untraced,
        "trace.traced_op_p50_s" -> traced,
        "trace.overhead_pct" -> 100.0 * (traced / untraced - 1),
        "setup.session_s" -> sessionS,
        "setup.stage_s" -> stageS,
        "setup.warmup_s" -> warmS) ++ wallFigures ++ planningMetrics(b)
      val layers = w.layerMetrics()
      Metrics.perLayer.map { case (name, _) =>
        name -> layers.getOrElse(name, common.getOrElse(name, 0.0))
      }
    }

    val units = (if (trace) Metrics.perLayer else Metrics.endToEnd).toMap
    val missing = units.keySet -- metrics.map(_._1)
    require(missing.isEmpty, s"metrics not measured: $missing")
    val result = Json.obj(Seq(
      "correct" -> (b.failed == 0),
      "attempted" -> b.attempted,
      "failed" -> b.failed,
      "metrics" -> metrics.map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> units(k)) }.toMap))
    val samples = (b.times.toSeq ++ Seq("op", "op2").flatMap(k =>
      w.latencies(k).map(s"$k.latency" -> _))).sortBy(_._1).map { case (k, xs) =>
      s"$k=" + xs.map(x => f"$x%.2f").mkString(",") }
    val cpuSamples = b.cpuTimes.toSeq.sortBy(_._1).map { case (k, xs) =>
      s"$k.cpu=" + xs.map(x => f"$x%.2f").mkString(",") }
    System.err.println(f"[graftbench] session $sessionS%.1fs, staging $stageS%.1fs, " +
      f"warm-up $warmS%.1fs (op " + warmOps.map(x => f"$x%.2f").mkString(",") +
      f"), set-up $setupS%.1fs ($setupCpuS%.1f CPU s); measured ${samples.mkString(" ")} " +
      cpuSamples.mkString(" ") + " calib=" + b.calibration.map(x => f"${x * 1e3}%.1f").mkString(","))
    spark.stop()
    println(result)
  }

  /** A measured phase starts: the workload's phase work (lakehouse
    * maintenance) already counts as measured, so a traced phase traces
    * it. */
  def startPhase(b: Bench, w: Workload): Unit = {
    b.reset()
    b.setMeasuring(true)
    w.reset()
  }

  /** Engine totals per op of one slot (root spans named `op.<slot>`). */
  private def opMetrics(b: Bench, slot: String): Map[String, Double] = {
    val roots = b.tracer.all.filter(s => s.name == s"op.$slot" && s.parent == 0L)
    val n = math.max(1, roots.size).toDouble
    val engines = roots.map(b.tracer.engineOf)
    val self = b.tracer.selfSeconds
    Map(
      s"$slot.wall_s" -> roots.map(_.seconds).sum / n,
      s"$slot.cpu_s" -> engines.map(_.cpuNs / 1e9).sum / n,
      s"$slot.gc_s" -> engines.map(_.gcMs / 1e3).sum / n,
      s"$slot.run_s" -> engines.map(_.runMs / 1e3).sum / n,
      s"$slot.jobs" -> engines.map(_.jobs.toDouble).sum / n,
      s"$slot.tasks" -> engines.map(_.tasks.toDouble).sum / n,
      s"$slot.shuffle_mb" -> engines.map(_.shuffleBytes / 1048576.0).sum / n,
      s"$slot.spill_mb" -> engines.map(_.spillBytes / 1048576.0).sum / n,
      s"$slot.unattributed_s" -> roots.map(r => self(r.id)).sum / n,
      s"$slot.samples" -> roots.size.toDouble)
  }

  /** Catalyst phase times per op over the traced phase. */
  private def planningMetrics(b: Bench): Map[String, Double] = {
    val ops = math.max(1, b.tracer.all.count(_.parent == 0L)).toDouble
    val p = b.tracer.phasesMs
    Map(
      "pipeline.analysis_ms" -> p.getOrElse("analysis", 0.0) / ops,
      "pipeline.optimizer_ms" -> p.getOrElse("optimization", 0.0) / ops,
      "pipeline.planning_ms" -> p.getOrElse("planning", 0.0) / ops)
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
