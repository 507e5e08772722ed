package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.connector.{CheckResult, Connection, DagTopology, EtlpApp, EtlpSink, ProcessorDef}
import graft.pipeline.Xf
import graft.sinks.{CountingSink, MemorySink, ParquetSink}
import graft.sources.{CsvSource, FnSource, JsonlSource, ParquetSource, TextLineSource}

class ConnectorSpec extends SparkSpec {
  import spark.implicits._

  test("Connection: csv source -> xform -> parquet sink end-to-end") {
    val dir = Files.createTempDirectory("graft-conn").toString
    Seq("id,v", "1,10", "2,-3", "3,7").toDF("line")
      .coalesce(1).write.mode("overwrite").text(s"$dir/in")
    val conn = Connection(
      CsvSource(s"$dir/in", header = true, inferSchema = true),
      Xf.filter(col("v") > 0) >> Xf.map(col("id"), (col("v") * 2).as("v2")),
      ParquetSink(s"$dir/out"))
    assert(conn.check(spark).valid)
    assert(conn.start(spark) == 2L)
    val back = spark.read.parquet(s"$dir/out").collect()
    assert(back.map(r => (r.getInt(0), r.getInt(1))).toSet == Set((1, 20), (3, 14)))
  }

  test("Connection: source -> xform -> TxnSink lands atomic versioned commits") {
    import org.apache.spark.sql.SaveMode
    val dir = Files.createTempDirectory("graft-conn-txn").toString
    Seq("id,v", "1,10", "2,-3", "3,7").toDF("line")
      .coalesce(1).write.mode("overwrite").text(s"$dir/in")
    val src = CsvSource(s"$dir/in", header = true, inferSchema = true)
    val xf = Xf.filter(col("v") > 0)
    val table = s"$dir/table"
    assert(Connection(src, xf,
      graft.sinks.TxnSink(table)).start(spark) == 2L)
    // a second run in Append mode lands as version 2 — same schema, so
    // the commit-point gate passes; the table now holds both runs
    assert(Connection(src, xf,
      graft.sinks.TxnSink(table, SaveMode.Append)).start(spark) == 2L)
    assert(graft.operators.Txn.currentVersion(spark, table) == 2)
    assert(graft.operators.Txn.read(spark, table).count() == 4L)
    // and version 1 stays time-travelable
    assert(graft.operators.Txn.read(spark, table, Some(1)).count() == 2L)
  }

  test("source spec/check/discover protocol") {
    val src = ParquetSource(s"$sf0001/region.parquet")
    assert(src.spec("type") == "parquet")
    assert(src.check(spark).valid)
    assert(src.discover(spark).fieldNames.contains("r_name"))
    assert(!ParquetSource("/nonexistent/path").check(spark).valid)
  }

  test("CountingSink batch semantics mirror the stdout destination") {
    val (records, batches) = CountingSink(100).writeAndCount(spark.range(250).toDF())
    assert(records == 250L && batches == 3L)
  }

  test("DagTopology fan-out + fan-in builds one result") {
    val out = DagTopology.empty
      .withSource("src", spark.range(10).toDF("n"))
      .withXform("evens", Xf.filter(col("n") % 2 === 0))
      .withXform("big", Xf.filter(col("n") > 6))
      .withXform("merged", Xf(identity))
      .withWorkflow("src" -> "evens", "src" -> "big",
                    "evens" -> "merged", "big" -> "merged")
      .output("merged")
    // evens: 0,2,4,6,8; big: 7,8,9 — union keeps duplicates like a/merge
    assert(out.count() == 8)
  }

  test("DagTopology rejects cycles and dangling nodes") {
    val cyclic = DagTopology.empty
      .withSource("a", spark.range(1).toDF())
      .withXform("b", Xf(identity))
      .withXform("c", Xf(identity))
      .withWorkflow("a" -> "b", "b" -> "c", "c" -> "b")
    intercept[IllegalArgumentException](cyclic.build())
    val dangling = DagTopology.empty
      .withSource("a", spark.range(1).toDF())
      .withWorkflow("a" -> "ghost")
    intercept[IllegalArgumentException](dangling.build())
  }

  test("TextLineSource keeps the originating file per line") {
    val dir = Files.createTempDirectory("graft-lines").toString
    Seq("x", "y").toDF("line").coalesce(1).write.mode("overwrite").text(dir)
    val out = TextLineSource(dir).read(spark)
    assert(out.columns.toSeq == Seq("line", "file"))
    assert(out.count() == 2)
    assert(out.where(col("file").contains(dir.split("/").last)).count() == 2)
  }

  test("MemorySink registers a queryable view") {
    MemorySink("graft_mem_test").write(spark.range(5).toDF("n"))
    assert(spark.table("graft_mem_test").count() == 5)
  }

  test("JdbcSink validates its configuration surface") {
    import graft.sinks.JdbcSink
    assert(JdbcSink("jdbc:postgresql://db/x", "t").check(spark).valid)
    assert(!JdbcSink("http://not-jdbc", "t").check(spark).valid)
    assert(!JdbcSink("jdbc:postgresql://db/x", "").check(spark).valid)
    assert(JdbcSink("jdbc:postgresql://db/x", "t").spec("type") == "jdbc")
  }

  test("JdbcSink writes end-to-end against embedded Derby") {
    // Derby ships with Spark (hive-metastore dependency), so the real
    // df.write.jdbc path — create table, batched inserts, observe()-
    // metric row count — runs against an actual JDBC engine
    import graft.sinks.JdbcSink
    import org.apache.spark.sql.SaveMode
    val url = "jdbc:derby:memory:graftdb;create=true"
    val df = spark.range(100).toDF("id").withColumn("v", col("id") * 2)
    val n = JdbcSink(url, "GRAFT_T", mode = SaveMode.Overwrite,
      batchSize = 32).write(df)
    assert(n == 100L)
    val back = spark.read.jdbc(url, "GRAFT_T", new java.util.Properties())
    assert(back.count() == 100L)
    assert(back.agg(sum("v")).head().getLong(0) == 9900L)
    // append doubles the rows — the mode reaches the writer
    JdbcSink(url, "GRAFT_T", mode = SaveMode.Append).write(df)
    assert(spark.read.jdbc(url, "GRAFT_T", new java.util.Properties())
      .count() == 200L)
  }

  test("EtlpApp registry: register two processors, dispatch by name") {
    def rangeSrc(n: Int) =
      FnSource(Map("type" -> "range"), _.range(n).toDF("n"))
    val app = EtlpApp.init(Seq(
      ProcessorDef("evens", _ => Connection(
        rangeSrc(10), Xf.filter(col("n") % 2 === 0), CountingSink())),
      ProcessorDef("top", opts => Connection(
        rangeSrc(10),
        Xf.filter(col("n") >= opts.getOrElse("min", "0").toInt),
        CountingSink()))))
    assert(app.processors == Set("evens", "top"))
    // check command: config-level validation, no data read
    assert(app.exec(spark, "evens", "check").ok)
    // start command: runs the flow, reports records through the sink
    assert(app.exec(spark, "evens", "start").records == 5L)
    // per-invocation options reach the processor's build fn
    assert(app.exec(spark, "top", "start", Map("min" -> "7")).records == 3L)
    // discover command surfaces the source schema
    assert(app.exec(spark, "top", "discover").detail.contains("n"))
  }

  test("EtlpApp rejects unknown processors, commands, duplicate names") {
    val app = EtlpApp.init(Seq(ProcessorDef("p", _ => Connection(
      FnSource(Map.empty, _.range(1).toDF("n")), Xf(identity), CountingSink()))))
    intercept[IllegalArgumentException](app.exec(spark, "ghost", "start"))
    intercept[IllegalArgumentException](app.exec(spark, "p", "explode"))
    intercept[IllegalArgumentException](EtlpApp.init(Seq(
      ProcessorDef("p", _ => null), ProcessorDef("p", _ => null))))
  }

  test("FanOutSink writes one cached frame to every sink (mult/tap)") {
    import graft.sinks.FanOutSink
    val dir = Files.createTempDirectory("graft-fan").toString
    val fan = FanOutSink(Seq(
      ParquetSink(s"$dir/a"), ParquetSink(s"$dir/b"), CountingSink(10)))
    assert(fan.check(spark).valid)
    assert(fan.write(spark.range(25).toDF("n")) == 25L)
    assert(spark.read.parquet(s"$dir/a").count() == 25)
    assert(spark.read.parquet(s"$dir/b").count() == 25)
  }

  /** A sink that collects the flow and keeps the frame it ran, so a
    * test can read the executed plan and its metrics afterwards. */
  private final class PlanSink extends EtlpSink {
    var ran: DataFrame = _
    var rows: Seq[Row] = Nil
    def spec: Map[String, String] = Map("type" -> "plan")
    def check(s: SparkSession) = CheckResult(valid = true, "ok")
    def write(df: DataFrame): Long = {
      rows = df.collect().toSeq; ran = df; rows.size.toLong
    }
  }

  private object plans extends AdaptiveSparkPlanHelper
  private def scans(df: DataFrame) =
    plans.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
  private def bag(rows: Seq[Row]) =
    rows.groupBy(identity).view.mapValues(_.size).toMap

  test("Connection.start runs an error-channel flow in one scan and one JSON parse per line") {
    import org.apache.spark.sql.types._
    import graft.functions.ErrorChannel
    val dir = Files.createTempDirectory("graft-onepass-jsonl").toString
    val lines = (0 until 40).map { i =>
      if (i % 9 == 4) s"""{"id": $i, "amount": "n/a"}"""
      else if (i % 13 == 6) s"""{"id": $i, "amou"""
      else s"""{"id": $i, "amount": "${i * 1.5}"}"""
    }
    lines.toDF("line").coalesce(2).write.mode("overwrite").text(s"$dir/in")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("amount", StringType)))
    val xf = Xf { df =>
      val split = ErrorChannel.split(df,
        expr("try_cast(amount AS DECIMAL(12,2))"), "amount_dec",
        ok = Seq(col("id")), timestampMs = col("id"), sourceStream = "jsonl",
        errJson = to_json(struct(col("id"), col("amount"), col("file"))))
      split.ok.select(lit("record").as("channel"), col("id"),
          col("amount_dec").cast("string").as("body"))
        .unionByName(split.errors.select(lit("error").as("channel"),
          lit(null).cast("long").as("id"), col("envelope").as("body")))
    }
    val src = JsonlSource(s"$dir/in", Some(schema))
    val sink = new PlanSink
    assert(Connection(src, xf, sink).start(spark) == lines.size)
    val plan = sink.ran.queryExecution.executedPlan
    val fileScans = scans(sink.ran)
    assert(fileScans.size == 1, plan)
    assert(fileScans.head.metrics("numOutputRows").value == lines.size, plan)
    def parses(df: DataFrame) = plans.flatMap(df.queryExecution.executedPlan)(
      _.expressions.flatMap(_.collect { case j: JsonToStructs => j })).size
    assert(parses(sink.ran) == 1, plan)
    // the same flow outside a Connection: one scan per branch
    val plain = xf(src.read(spark))
    val plainRows = plain.collect().toSeq
    assert(scans(plain).size == 2)
    info(s"from_json calls: ${parses(plain)} unfused, 1 fused")
    assert(bag(sink.rows) == bag(plainRows))
    assert(sink.rows.count(_.getString(0) == "error") ==
      lines.indices.count(i => i % 9 == 4 || i % 13 == 6))
  }

  test("Connection.start reads a diamond DagTopology's source once") {
    val dir = Files.createTempDirectory("graft-onepass-dag").toString
    spark.range(50).selectExpr("id AS n", "id % 7 AS m").coalesce(2)
      .write.mode("overwrite").parquet(s"$dir/in")
    val xf = Xf { df =>
      DagTopology.empty.withSource("src", df)
        .withXform("odd", Xf.filter(col("m") % 2 === 1) >>
          Xf.map(col("n"), (col("m") * 10).as("v")))
        .withXform("low", Xf.filter(col("n") < 20) >>
          Xf.map(col("n"), col("m").as("v")))
        .withXform("merged", Xf(identity))
        .withWorkflow("src" -> "odd", "src" -> "low",
          "odd" -> "merged", "low" -> "merged")
        .output("merged")
    }
    val src = ParquetSource(s"$dir/in")
    val sink = new PlanSink
    Connection(src, xf, sink).start(spark)
    val fileScans = scans(sink.ran)
    assert(fileScans.size == 1, sink.ran.queryExecution.executedPlan)
    assert(fileScans.head.metrics("numOutputRows").value == 50)
    val plain = xf(src.read(spark))
    assert(scans(plain).size == 2)
    assert(bag(sink.rows) == bag(plain.collect().toSeq))
    assert(sink.rows.size == (0 until 50).count(n => n % 7 % 2 == 1) + 20)
  }
}
