package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Error-channel semantics — the reference runs every pipeline with an
  * error channel beside the record channel (core.async pipeline's error
  * handler wraps failures with `wrap-error` and streams them out,
  * /root/reference/src/etlp/utils/async.clj:36-49; stdout/log/error all
  * share the Airbyte-ish envelope, utils/core.clj).
  *
  * Spark-first: a "channel" is a DataFrame, so the error channel is a
  * second DataFrame carved from the same plan. [[split]] evaluates the
  * success expression ONCE (deterministic, codegen'd) and routes rows:
  * failures get the error envelope, successes flow on. The two sides
  * are two plans over one base: a flow run through
  * `Connection.start` recombines them (`records.unionByName(errors)`)
  * in one pass, one scan and one parse per record, because
  * [[graft.plans.OnePassUnion]] fuses the union's branches over that
  * base. A bare `unionByName` outside a Connection, or two separate
  * actions on `ok` and `errors`, still scans and parses the base once
  * per side. Use Spark's `try_*` functions (try_cast,
  * try_divide, try_to_timestamp...) as the attempt expression: they
  * yield NULL on failure instead of killing the task, which is exactly
  * the per-record error capture the reference's channels provide.
  */
object ErrorChannel {
  final case class Split(ok: DataFrame, errors: DataFrame)

  /** Route rows by whether `attempt` (e.g. a `try_cast`) succeeded.
    * @param ok        columns emitted on the record channel
    * @param timestampMs event-time column for the error envelope
    * @param errJson   JSON fragment describing the failed record */
  def split(df: DataFrame, attempt: Column, resultName: String,
      ok: Seq[Column], timestampMs: Column, sourceStream: String,
      errJson: Column): Split = {
    val attempted = df.withColumn(resultName, attempt)
    Split(
      ok = attempted.where(col(resultName).isNotNull)
        .select(ok :+ col(resultName): _*),
      errors = attempted.where(col(resultName).isNull)
        .select(Envelope.canonicalJson("error", timestampMs, sourceStream,
          errJson).as("envelope")))
  }
}
