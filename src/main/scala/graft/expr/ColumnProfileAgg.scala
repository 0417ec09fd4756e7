package graft.expr

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass column profile as ONE custom aggregate: row count, null
  * count, min/max length, and an HLL distinct estimate share one
  * mutable buffer — the "single aggregation pass per partition" the
  * north star names, without the Expand plan that per-column
  * COUNT(DISTINCT) needs or the five separate buffers of a
  * multi-expression agg. The reference surfaces none of this (counters
  * logged at Close, transform/object_validate.go:86); this is the
  * engine-native metrics primitive.
  *
  * HLL: 2^p registers, xxhash64 of the value bytes, standard
  * bias-corrected estimator with linear-counting fallback — ~1.04/√m
  * relative error (p=11 → ~2.3%).
  */
case class ColumnProfileAgg(
    child: Expression,
    p: Int = 11,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ColumnProfileAgg.Buf] {

  import ColumnProfileAgg._

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n_rows", LongType),
    StructField("n_null", LongType),
    StructField("n_distinct_est", LongType),
    StructField("min_len", LongType),
    StructField("max_len", LongType)))

  /** Strings and binary only: other values' lengths depend on how they
    * are formatted, so callers cast them to string first
    * ([[graft.validate.ProfileSinglePass]] does), and arrays, maps and
    * structs are profiled as `to_json(col)`. */
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"col_profile takes string or binary, not ${t.simpleString}: " +
        "cast atomic values to string, profile to_json(col) for arrays, maps and structs")
  }

  @transient private lazy val binary = child.dataType == BinaryType

  override def createAggregationBuffer(): Buf = new Buf(1 << p)

  override def update(b: Buf, input: InternalRow): Buf = {
    b.n += 1
    val v = child.eval(input)
    if (v == null) b.nulls += 1
    else {
      val u = v match {
        case s: UTF8String => s
        case b: Array[Byte] => UTF8String.fromBytes(b)
      }
      // length(binary) counts bytes, length(string) characters
      val len = (if (binary) u.numBytes else u.numChars).toLong
      if (len < b.minLen) b.minLen = len
      if (len > b.maxLen) b.maxLen = len
      val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      val idx = (h >>> (64 - p)).toInt
      val rank = (java.lang.Long.numberOfLeadingZeros(h << p | (1L << (p - 1))) + 1).toByte
      if (rank > b.regs(idx)) b.regs(idx) = rank
    }
    b
  }

  override def merge(b: Buf, o: Buf): Buf = {
    b.n += o.n
    b.nulls += o.nulls
    if (o.minLen < b.minLen) b.minLen = o.minLen
    if (o.maxLen > b.maxLen) b.maxLen = o.maxLen
    var i = 0
    while (i < b.regs.length) {
      if (o.regs(i) > b.regs(i)) b.regs(i) = o.regs(i)
      i += 1
    }
    b
  }

  override def eval(b: Buf): Any = {
    val nonNull = b.n - b.nulls
    // all-null column: min/max length are NULL (no length observed),
    // matching Profile.columns' min/max-over-no-rows — 0 would claim an
    // empty string was seen and trip any cross-check of the two forms
    InternalRow(b.n, b.nulls, estimate(b, nonNull),
      if (nonNull == 0) null else b.minLen,
      if (nonNull == 0) null else b.maxLen)
  }

  private def estimate(b: Buf, nonNull: Long): Long = {
    if (nonNull == 0) return 0L
    val m = b.regs.length.toDouble
    var invSum = 0.0
    var zeros = 0
    var i = 0
    while (i < b.regs.length) {
      invSum += java.lang.Math.pow(2.0, -b.regs(i).toDouble)
      if (b.regs(i) == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    var e = alpha * m * m / invSum
    if (e <= 2.5 * m && zeros > 0) e = m * math.log(m / zeros) // linear counting
    math.min(math.round(e), nonNull)
  }

  override def serialize(b: Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * 4 + b.regs.length)
    bb.putLong(b.n).putLong(b.nulls).putLong(b.minLen).putLong(b.maxLen)
    bb.put(b.regs)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val b = new Buf(bytes.length - 32)
    b.n = bb.getLong; b.nulls = bb.getLong
    b.minLen = bb.getLong; b.maxLen = bb.getLong
    bb.get(b.regs)
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): ColumnProfileAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ColumnProfileAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): ColumnProfileAgg =
    copy(child = cs.head)
  override def prettyName: String = "col_profile"
}

object ColumnProfileAgg {
  final class Buf(m: Int) {
    var n: Long = 0L
    var nulls: Long = 0L
    var minLen: Long = Long.MaxValue
    var maxLen: Long = Long.MinValue
    val regs: Array[Byte] = new Array[Byte](m)
  }
}
