package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.connector.{CheckResult, Connection, DagTopology, EtlpApp, EtlpSink, ProcessorDef}
import graft.functions.{Envelope, ErrorChannel, Hl7, Jute, MappingSpec}
import graft.pipeline.Xf
import graft.sinks.{CountingSink, FanOutSink, ParquetSink}
import graft.sources.{JsonlSource, TextLineSource}

/** etl: the paper's core use, a source → transducers → sink flow run by
  * name through a registered processor. Two processors run back to
  * back each cycle: a JSONL flow (op) and an HL7 flow (op2). Loads
  * sources, functions, pipeline and sinks; bypasses Txn and Dedup. */
final class EtlWorkload(b: Bench, nJson: Int = 60000, nHl7: Int = 6000)
    extends Workload {
  import EtlWorkload._
  private val spark = b.spark
  private var dir = ""
  private var json: Array[Gen.JsonRec] = Array.empty
  private var hl7: Array[Gen.Hl7Msg] = Array.empty
  private lazy val app = EtlpApp.init(Seq(
    ProcessorDef("jsonl", opts => traced(b.tracer.span("connector.build") {
      jsonlConnection(spark, opts("in"), opts("out"),
        t => b.tracer.span("functions.jute_compile")(t))
    })),
    ProcessorDef("hl7", opts => traced(b.tracer.span("connector.build") {
      hl7Connection(spark, opts("in"), opts("out"),
        t => b.tracer.span("functions.jute_compile")(t))
    }))))

  /** The flow's sink, timed as its own span: the sink's write is the
    * action that runs the whole fused plan. */
  private def traced(c: Connection): Connection =
    c.copy(sink = new TracedSink(c.sink, b.tracer))

  def stage(d: String): Unit = {
    dir = d
    json = Gen.jsonl(b.seed, nJson)
    hl7 = Gen.hl7(b.seed, nHl7)
    writeLines(s"$d/jsonl", json.iterator.map(_.line), 6)
    writeLines(s"$d/hl7", hl7.iterator.map(_.line), 3)
  }

  private val flowStats = scala.collection.mutable.Map.empty[String, Double]
  private def add(k: String, v: Double): Unit =
    flowStats(k) = flowStats.getOrElse(k, 0.0) + v

  def cycle(): Unit = {
    val jin = s"$dir/jsonl"; val jout = s"$dir/out-jsonl"
    b.timed("op", nJson.toLong) {
      app.exec(spark, "jsonl", "start", Map("in" -> jin, "out" -> jout))
    }(r => r.ok && r.records == nJson)
    if (b.tracing) {
      traceFlow("jsonl", jsonlConnection(spark, jin, jout, t => t), jin, jout)
      add("jsonl.error_rows", spark.read.parquet(jout).where(col("channel") === "error").count())
    }
    val hin = s"$dir/hl7"; val hout = s"$dir/out-hl7"
    b.timed("op2", nHl7.toLong) {
      app.exec(spark, "hl7", "start", Map("in" -> hin, "out" -> hout))
    }(r => r.ok && r.records == segments)
    if (b.tracing) traceFlow("hl7", hl7Connection(spark, hin, hout, t => t), hin, hout)
  }

  /** Traced only: prefix plans of one flow, each run to a no-op sink:
    * the source alone, then source + transforms. With the sink's span
    * inside the flow they split the flow into the self times of
    * sources, functions and sinks. Counts come from the flow's source
    * and output. */
  private def traceFlow(kind: String, conn: Connection, in: String, out: String): Unit = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val (_, scan) = b.probe("sources.scan")(noop(conn.source.read(spark)))
    val (_, xf) = b.probe("functions.xform_prefix")(noop(conn.xform(conn.source.read(spark))))
    b.settle()
    add(s"$kind.n", 1); add(s"$kind.scan", scan); add(s"$kind.xf", xf)
    add(s"$kind.input_rows", conn.source.read(spark).count())
    add(s"$kind.input_mb", dirBytes(in) / 1048576.0)
    add(s"$kind.output_mb", dirBytes(out) / 1048576.0)
    add(s"$kind.files", dataFiles(out).toDouble)
  }

  private def checkJsonl(out: String): Boolean = {
    val df = spark.read.parquet(out)
    val r = df.where(col("channel") === "record").agg(count(lit(1)),
      sum("id"), sum("amount_cents"), sum("n_tags"), sum("score")).head()
    val good = json.filter(_.ok)
    val errors = df.where(col("channel") === "error").count()
    r.getLong(0) == good.length && r.getLong(1) == good.map(_.id).sum &&
      r.getLong(2) == good.map(_.amountCents).sum &&
      r.getLong(3) == good.map(_.nTags.toLong).sum &&
      r.getLong(4) == good.map(_.k * 2L).sum &&
      errors == json.length - good.length
  }

  private def checkHl7(out: String): Boolean = {
    val r = spark.read.parquet(out).agg(count(lit(1)),
      count(when(col("kind") === "OBX", 1)),
      sum(round(col("obs.value") * 1000).cast("long")),
      count(when(col("patient.id").isNotNull, 1))).head()
    r.getLong(0) == hl7.map(_.segments.toLong).sum &&
      r.getLong(1) == hl7.map(_.obx.toLong).sum &&
      r.getLong(2) == hl7.map(_.obxMilli).sum && r.getLong(3) == hl7.length
  }

  private lazy val segments = hl7.map(_.segments.toLong).sum

  /** Each op checks its record count; the outputs' contents are checked
    * in full once, at run end (each flow overwrites its output). */
  def finalCheck(): Boolean =
    checkJsonl(s"$dir/out-jsonl") && checkHl7(s"$dir/out-hl7")

  def spaceAmp(): Double = {
    val outs = Seq(s"$dir/out-jsonl", s"$dir/out-hl7")
    val compact = outs.zipWithIndex.map { case (o, i) =>
      val c = s"$dir/compact-$i"
      spark.read.parquet(o).coalesce(1).write.mode("overwrite").parquet(c)
      dirBytes(c)
    }.sum
    outs.map(dirBytes).sum.toDouble / compact
  }

  /** Per cycle, that is one JSONL flow plus one HL7 flow: each flow's
    * layer figures are averaged over its traced runs, then the two
    * flows are added. The flows' own remainders (dispatch and glue
    * outside the build and sink spans) are `op*.unattributed_s`. */
  def layerMetrics(): Map[String, Double] = {
    val spans = b.tracer.all
    val rootName = spans.filter(_.parent == 0L).map(s => s.id -> s.name).toMap
    val execs = math.max(1, spans.count(s => s.name.startsWith("op.op") && s.parent == 0L))
    def perExecS(name: String) = spans.filter(_.name == name).map(_.seconds).sum / execs
    def perFlow(kind: String, k: String) =
      flowStats.getOrElse(s"$kind.$k", 0.0) / math.max(1.0, flowStats.getOrElse(s"$kind.n", 0.0))
    def both(k: String) = perFlow("jsonl", k) + perFlow("hl7", k)
    def sinkS(root: String) = Metrics.mean(spans.filter(s =>
      s.name == "sinks.write" && rootName.get(s.op).contains(root)).map(_.seconds))
    Map(
      "connector.build_ms" -> perExecS("connector.build") * 1e3,
      "functions.jute_compile_ms" -> perExecS("functions.jute_compile") * 1e3,
      "sources.scan_s" -> both("scan"),
      "sources.input_mb" -> both("input_mb"),
      "sources.input_rows" -> both("input_rows"),
      "functions.xform_s" -> (both("xf") - both("scan")),
      "functions.error_rows" -> perFlow("jsonl", "error_rows"),
      "sinks.write_s" -> (sinkS("op.op") + sinkS("op.op2") - both("xf")),
      "sinks.output_mb" -> both("output_mb"),
      "sinks.files" -> both("files"))
  }
}

/** A sink that times its own write as a span. */
final class TracedSink(inner: EtlpSink, @transient tracer: Tracer) extends EtlpSink {
  def spec: Map[String, String] = inner.spec
  def check(spark: SparkSession): CheckResult = inner.check(spark)
  def write(df: DataFrame): Long = tracer.span("sinks.write")(inner.write(df))
}

object EtlWorkload {
  val JsonSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("user", StringType),
    StructField("ts", LongType), StructField("country", StringType),
    StructField("tags", ArrayType(StringType)),
    StructField("props", StructType(Seq(StructField("k", IntegerType),
      StructField("src", StringType)))),
    StructField("note", StringType), StructField("amount", StringType)))

  val Mapping: String =
    """# JSONL record → curated record
      |id = col: id
      |user_id = expr: CAST(substring(user, 2) AS INT)
      |country = col: country
      |n_tags = expr: size(tags)
      |src = expr: props.src
      |score = expr: CAST(props.k * 2 AS BIGINT)
      |day = expr: to_date(timestamp_millis(ts))
      |""".stripMargin

  /** JsonlSource → parse + MappingSpec + Envelope + ErrorChannel.split
    * → ParquetSink, with records and errors as two partitions of one
    * output. */
  def jsonlConnection(spark: SparkSession, in: String, out: String,
      compile: (=> Seq[Column]) => Seq[Column]): Connection = {
    val mapped = compile(MappingSpec.parse(Mapping).compile)
    val xf = Xf { df =>
      val split = ErrorChannel.split(df,
        expr("try_cast(amount AS DECIMAL(12,2))"), "amount_dec",
        ok = mapped :+ col("ts"), timestampMs = col("ts"),
        sourceStream = "jsonl",
        errJson = to_json(struct(col("id"), col("amount"), col("file"))))
      val records = split.ok.select(lit("record").as("channel"),
        col("id"), col("user_id"), col("country"), col("n_tags"),
        col("src"), col("score"), col("day"),
        (col("amount_dec") * 100).cast("long").as("amount_cents"),
        Envelope.wrapRecord(col("ts"), "jsonl",
          struct(col("id"), col("country"), col("amount_dec"))).as("envelope"))
      val errors = split.errors.select(lit("error").as("channel"),
        lit(null).cast("long").as("id"), lit(null).cast("int").as("user_id"),
        lit(null).cast("string").as("country"), lit(null).cast("int").as("n_tags"),
        lit(null).cast("string").as("src"), lit(null).cast("long").as("score"),
        lit(null).cast("date").as("day"), lit(null).cast("long").as("amount_cents"),
        col("envelope"))
      records.unionByName(errors)
    }
    Connection(JsonlSource(in, Some(JsonSchema)), xf,
      ParquetSink(out, partitionBy = Seq("channel")))
  }

  /** Per-segment nested JUTE template: a patient struct on PID
    * segments, an observation struct on OBX segments. */
  val Hl7Template: String =
    """kind: "$ split_part(seg, '|', 1)"
      |patient:
      |  $if: "split_part(seg, '|', 1) = 'PID'"
      |  $then:
      |    id: "$ split_part(seg, '|', 4)"
      |    name:
      |      family: "$ split_part(split_part(seg, '|', 6), '^', 1)"
      |      given: "$ split_part(split_part(seg, '|', 6), '^', 2)"
      |obs:
      |  $if: "split_part(seg, '|', 1) = 'OBX'"
      |  $then:
      |    code: "$ split_part(split_part(seg, '|', 4), '^', 1)"
      |    value: "$ CAST(split_part(seg, '|', 6) AS DOUBLE)"
      |    unit: "$ split_part(seg, '|', 7)"
      |""".stripMargin

  /** TextLineSource → Hl7.explodeSegments + nested Jute template →
    * FanOutSink(ParquetSink, CountingSink), wired as a DAG. */
  def hl7Connection(spark: SparkSession, in: String, out: String,
      compile: (=> Seq[Column]) => Seq[Column]): Connection = {
    val fields = compile(Jute.columns(Hl7Template))
    val unescape = Xf(_.select(regexp_replace(col("line"), "\\\\r", "\r").as("msg")))
    val explode = Xf(df => Hl7.explodeSegments(df, col("msg")))
    val project = Xf(_.select((Seq(
      Hl7.field(element_at(Hl7.segments(col("msg")), 1), 9).as("msg_id"),
      col("seg_idx")) ++ fields): _*))
    val src = TextLineSource(in)
    // the DAG compiles to one plan; the connection carries it as a
    // single transform from the source's frame
    val xf = Xf { df =>
      DagTopology.empty.withSource("lines", df)
        .withXform("unescape", unescape).withXform("explode", explode)
        .withXform("project", project)
        .withWorkflow("lines" -> "unescape", "unescape" -> "explode",
          "explode" -> "project")
        .output("project")
    }
    Connection(src, xf, FanOutSink(Seq(ParquetSink(out), CountingSink())))
  }

  def writeLines(dir: String, lines: Iterator[String], files: Int): Unit = {
    new java.io.File(dir).mkdirs()
    val ws = (0 until files).map(i => new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(new java.io.FileOutputStream(
        f"$dir/part-$i%02d.txt"), "UTF-8"), 1 << 16))
    try {
      var i = 0
      lines.foreach { l => val w = ws(i % files); w.write(l); w.write('\n'); i += 1 }
    } finally ws.foreach(_.close())
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }

  def dataFiles(path: String): Int = {
    val f = new java.io.File(path)
    if (f.isFile) { if (f.getName.startsWith("part-")) 1 else 0 }
    else Option(f.listFiles()).map(_.map(c => dataFiles(c.getPath)).sum).getOrElse(0)
  }
}
