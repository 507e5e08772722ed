package graft.functions

import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, StringType}

/** Per-file BLOOM FILTER stats for the Txn manifest — the point-key
  * pruning Delta/Iceberg add for exactly the shape min/max cannot
  * answer: on a high-cardinality roughly-uniform key (user ids — the
  * GDPR-delete shape) every file's [min, max] spans the whole domain,
  * so a targeted [[graft.operators.Txn.commitDelete]] range-matches
  * and rewrites EVERYTHING. A few KB of bloom bits per file turn that
  * into "open only the files that might hold the key": false
  * positives cost one extra file rewrite, false negatives are
  * impossible by construction, so pruning stays an optimization —
  * never a filter (and the oracle gates would catch a broken filter
  * as missed deletes).
  *
  * Implementation: a [[TypedImperativeAggregate]] ([[BloomAgg]]) ORs
  * `k` XXH64-derived bit positions per value into a fixed byte-array
  * buffer — it rides the SAME one-pass `groupBy(input_file_name)`
  * stats aggregation the min/max/nulls collection uses, with
  * partial-merge = byte-wise OR (map-side combinable, buffer size
  * constant). The probe ([[BloomStats.mightContain]]) is a codegen'd
  * expression used inside the touched-file candidate join, so the
  * keys frame is never collected. Both sides hash
  * `XXH64(doubleToLongBits(value), seed = hash index)` — one
  * deterministic function, no seed tables to drift.
  *
  * NUMERIC values hash AFTER the stats surface's TRY_CAST-to-double,
  * matching every other stats consumer's semantics (cast-null values
  * are never added and never probed — NULL keys don't match row
  * predicates). STRING values (r15) hash their raw UTF-8 bytes
  * (`XXH64.hashUTF8String`) — the realistic GDPR key is a UUID/string
  * user id, which TRY_CAST sends to NULL, so a double-only bloom
  * records nothing and every point read/delete on such a table falls
  * back to opening EVERY file. Both [[BloomAgg]] and the probe
  * dispatch on the child's type, so one function pair serves both
  * shapes without a seed table to drift.
  *
  * Sizing: `mBits` is a per-table knob (the manifest line grows by
  * ~mBits/6 base64 chars per file). ~10 bits per expected distinct
  * key in a file gives ~1% fpp with k = 7 hashes; the default
  * [[Bloom.DefaultBits]] (64 Ki bits = 8 KiB) covers ~65k keys/file
  * at 1% — size up for bigger files, exactly like Delta's
  * numItems/fpp bloom index options. */
object Bloom {
  /** Default filter width in bits (8 KiB buffer). */
  val DefaultBits: Int = 1 << 16

  /** Default hash count — optimal for ~10 bits/key. */
  val DefaultHashes: Int = 7

  private def pos(v: Double, seed: Int, mBits: Int): Int =
    Math.floorMod(
      XXH64.hashLong(java.lang.Double.doubleToLongBits(v), seed.toLong),
      mBits.toLong).toInt

  /** OR value `v`'s k bit positions into `buf` (mBits = 8 × length). */
  def add(buf: Array[Byte], v: Double, k: Int): Unit = {
    val m = buf.length * 8
    var i = 0
    while (i < k) {
      val p = pos(v, i, m)
      buf(p >> 3) = (buf(p >> 3) | (1 << (p & 7))).toByte
      i += 1
    }
  }

  /** Membership probe: false = DEFINITELY absent (safe to skip the
    * file); true = maybe present. Called from codegen'd expressions —
    * keep it static-shaped and allocation-free. */
  def mightContain(buf: Array[Byte], v: Double, k: Int): Boolean = {
    val m = buf.length * 8
    var i = 0
    while (i < k) {
      val p = pos(v, i, m)
      if ((buf(p >> 3) & (1 << (p & 7))) == 0) return false
      i += 1
    }
    true
  }

  private def posUtf8(v: org.apache.spark.unsafe.types.UTF8String,
      seed: Int, mBits: Int): Int =
    Math.floorMod(XXH64.hashUTF8String(v, seed.toLong),
      mBits.toLong).toInt

  /** String-key add: OR `v`'s k positions (raw UTF-8 byte hash) into
    * `buf` — the shape TRY_CAST-to-double cannot serve (UUID/string
    * ids cast to NULL and would never be recorded). */
  def add(buf: Array[Byte],
      v: org.apache.spark.unsafe.types.UTF8String, k: Int): Unit = {
    val m = buf.length * 8
    var i = 0
    while (i < k) {
      val p = posUtf8(v, i, m)
      buf(p >> 3) = (buf(p >> 3) | (1 << (p & 7))).toByte
      i += 1
    }
  }

  /** String-key membership probe — the double probe's UTF-8 twin,
    * same codegen-callable shape. */
  def mightContain(buf: Array[Byte],
      v: org.apache.spark.unsafe.types.UTF8String, k: Int): Boolean = {
    val m = buf.length * 8
    var i = 0
    while (i < k) {
      val p = posUtf8(v, i, m)
      if ((buf(p >> 3) & (1 << (p & 7))) == 0) return false
      i += 1
    }
    true
  }
}

/** One-pass bloom aggregate: `bloom_agg(value)` → binary buffer.
  * NULL inputs are skipped (a NULL key never matches a point
  * predicate, mirroring the min/max convention). Buffers merge by
  * byte-wise OR, so partial aggregation is exact and map-side
  * combinable. A DOUBLE child hashes `doubleToLongBits`; a STRING
  * child hashes raw UTF-8 bytes (r15 — the GDPR string-id shape). */
final case class BloomAgg(child: Expression, mBits: Int, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] {
  require(mBits >= 64 && mBits % 8 == 0, s"bad bloom width: $mBits")
  require(k >= 1 && k <= 16, s"bad bloom hash count: $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_bloom_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType || child.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a double or string child, got " +
        child.dataType.simpleString)

  private lazy val isString = child.dataType == StringType

  override def createAggregationBuffer(): Array[Byte] =
    new Array[Byte](mBits / 8)

  override def update(buf: Array[Byte], row: InternalRow): Array[Byte] = {
    val v = child.eval(row)
    if (v != null) {
      if (isString)
        Bloom.add(buf,
          v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)
      else Bloom.add(buf, v.asInstanceOf[Double], k)
    }
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
    a
  }

  override def eval(buf: Array[Byte]): Any = buf
  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(o: Int): BloomAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): BloomAgg = copy(child = c.head)
}

/** Column wrappers; the builders live in the
  * [[graft.plans.GraftFunctions]] table. */
object BloomStats {
  val AggName = "graft_bloom_agg"
  val ContainsName = "graft_bloom_contains"

  /** Bloom aggregate column. */
  def agg(spark: SparkSession, value: Column,
      mBits: Int = Bloom.DefaultBits,
      k: Int = Bloom.DefaultHashes): Column =
    GraftFunctions.call(AggName, value)(mBits, k)

  /** Membership-probe column: `(bloom binary, value double|string,
    * k int) → boolean`, codegen'd, so it stays in the stage of the
    * touched-file candidate join instead of round-tripping an
    * interpreted lambda per (key, file) pair. `k` is a column because
    * each manifest entry carries its own hash count. The value's type
    * picks the [[Bloom.mightContain]] overload (double bits or raw
    * UTF-8 bytes) at analysis time, matching [[BloomAgg]]'s build-side
    * dispatch. */
  def mightContain(spark: SparkSession, bloom: Column, value: Column,
      k: Column): Column =
    GraftFunctions.call(ContainsName, bloom, value, k)()
}
