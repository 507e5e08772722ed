package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark task metrics summed over the jobs of one span's job group. */
final class Engine {
  var jobs = 0L; var tasks = 0L
  var cpuNs = 0L; var gcMs = 0L; var runMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
  def add(o: Engine): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    runMs += o.runMs; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/** One timed call from the benchmark into a graft module. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    startNs: Long, startMs: Long, var endNs: Long = 0L) {
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory tracer. When disabled, [[span]] only runs its body: the
  * untraced run installs no listener and records nothing.
  *
  * When enabled, every span sets its id as the Spark job group, so a
  * `SparkListener` can sum task metrics per span; a
  * `QueryExecutionListener` sums the analysis/optimizer/planning
  * phases of every executed query and the files its scans read. Spans and listener totals stay in
  * memory until [[write]] at the end of the run. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var on = false

  private val stageGroup = mutable.Map.empty[Int, String]
  val engineByGroup: mutable.Map[String, Engine] = mutable.Map.empty
  val phasesMs: mutable.Map[String, Double] = mutable.Map.empty
  /** (executed query start ms, scan files read) per query. */
  val scans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      e.stageIds.foreach(s => stageGroup(s) = g)
      engineByGroup.getOrElseUpdate(g, new Engine).jobs += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val g = stageGroup.getOrElse(e.stageId, "")
      val en = engineByGroup.getOrElseUpdate(g, new Engine)
      en.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        en.cpuNs += m.executorCpuTime; en.gcMs += m.jvmGCTime
        en.runMs += m.executorRunTime
        en.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        en.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = if (on) synchronized {
      qe.tracker.phases.foreach { case (phase, s) =>
        phasesMs(phase) = phasesMs.getOrElse(phase, 0.0) + (s.endTimeMs - s.startTimeMs)
      }
      val files = qe.executedPlan.collectWithSubqueries { case p => p }
        .flatMap(_.metrics.get("numFiles")).map(_.value).sum
      val start = qe.tracker.phases.values.map(_.startTimeMs)
        .reduceOption(_ min _).getOrElse(System.currentTimeMillis())
      scans += ((start, files))
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
  }

  /** Turn recording on or off. Recording starts off: set-up is not
    * traced, and the traced run first measures a phase with recording
    * off, to report the tracing overhead. */
  def recording(b: Boolean): Unit = on = enabled && b

  /** Time `body` as one span named `<layer>.<what>`. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = Span(nextId, name, parent.map(_.id).getOrElse(0L),
        parent.map(_.op).getOrElse(nextId), System.nanoTime(),
        System.currentTimeMillis())
      nextId += 1
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until every listener event posted so far is delivered. */
  def drain(): Unit = if (enabled) org.apache.spark.GraftBenchBridge.drainListeners(spark)

  def all: Seq[Span] = spans.toSeq

  /** Engine totals of a span and every span under it. */
  def engineOf(root: Span): Engine = {
    val kids = spans.groupBy(_.parent)
    val out = new Engine
    def walk(s: Span): Unit = {
      engineByGroup.get(s.id.toString).foreach(out.add)
      kids.getOrElse(s.id, Nil).foreach(walk)
    }
    synchronized(walk(root))
    out
  }

  /** Self time of each span: its duration minus its children's. */
  def selfSeconds: Map[Long, Double] = {
    val childSum = spans.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    spans.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }

  /** Spans with their engine totals as JSON lines. */
  def write(path: String): Unit = if (enabled) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val e = engineByGroup.getOrElse(s.id.toString, new Engine)
      w.println(Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> e.jobs,
        "tasks" -> e.tasks, "cpu_s" -> e.cpuNs / 1e9, "gc_s" -> e.gcMs / 1e3,
        "run_s" -> e.runMs / 1e3, "shuffle_mb" -> e.shuffleBytes / 1048576.0,
        "spill_mb" -> e.spillBytes / 1048576.0)))
    } finally w.close()
  }
}
