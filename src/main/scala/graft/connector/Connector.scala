package graft.connector

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.Xf
import graft.plans.OnePassUnion

/** Airbyte-flavored connector protocol, re-expressed for Spark.
  *
  * Mirrors the reference's `EtlpSource`/`EtlpDestination` protocols
  * (/root/reference/src/etlp/connector/protocols.clj:4-13) and the
  * spec/check/discover/read!/write! verbs documented in
  * /root/reference/doc/intro.md. A source produces a DataFrame (the
  * Spark analogue of "a channel of records"); a sink consumes one.
  * Parallelism is partitions — there is no thread knob, because on a
  * cluster the scheduler owns placement.
  */
final case class CheckResult(valid: Boolean, message: String)

trait EtlpSource extends Serializable {
  /** Human/machine-readable description of the source. */
  def spec: Map[String, String]
  /** Validity of this source's configuration (cheap, no data read). */
  def check(spark: SparkSession): CheckResult
  /** Discover the schema without reading data (footer/sample only). */
  def discover(spark: SparkSession): org.apache.spark.sql.types.StructType
  /** Produce the records as a DataFrame. Lazy: nothing runs until an
    * action — the analogue of the reference's unconsumed channel. */
  def read(spark: SparkSession): DataFrame
}

trait EtlpSink extends Serializable {
  def spec: Map[String, String]
  def check(spark: SparkSession): CheckResult
  /** Consume the DataFrame (an action). Returns rows written. */
  def write(df: DataFrame): Long
}

/** source →(xform)→ sink — the reference's `EtlpConnect`
  * (/root/reference/src/etlp/connector/core.clj:40-62). `xform` is an
  * [[Xf]] pipeline; the whole flow is one Spark job, so "threads" and
  * "partitions" collapse into the DataFrame's partitioning.
  */
final case class Connection(source: EtlpSource, xform: Xf, sink: EtlpSink) {
  def check(spark: SparkSession): CheckResult = {
    val s = source.check(spark)
    if (!s.valid) s else sink.check(spark)
  }
  /** Run the flow; returns records written (the reference's
    * start-job drains the pipeline channel to completion). The flow's
    * plan goes through [[OnePassUnion]] first, so union branches over a
    * shared base (an `ErrorChannel` split, a `DagTopology` fan-in) read
    * and parse each record once. */
  def start(spark: SparkSession): Long =
    sink.write(OnePassUnion.onePass(xform(source.read(spark))))
}
