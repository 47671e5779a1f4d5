package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** PER-GROUP BLOOM FILTER aggregate over pre-hashed longs — the build
  * side of a SET SKIPPING INDEX (ClickHouse's `tokenbf_v1`/`bloom_filter`
  * data-skipping indexes, the reference's warehouse): one filter per
  * group (typically per FILE, `sink/SnapshotSink.SetIndex`)
  * answering "might this group contain hash h?" with no false negatives.
  *
  * Scale shape: a TypedImperativeAggregate participates in map-side
  * partial aggregation, so each partition contributes ONE serialized
  * filter per group to the shuffle (bits ~ `expectedItems`, never
  * row-proportional) and partials merge by bitwise OR — the same
  * mergeable-state discipline as the KMV/CM sketches. The element
  * universe is the portable 64-bit hash space, so the build input is
  * `portableHash64(tokens)`-style columns shared with the dedup family.
  *
  * Accepts LongType (one element per row) or ArrayType(LongType) (a
  * row's whole element set, e.g. its token hashes — saves the explode
  * shuffle). Nulls and null array slots contribute nothing. The bit
  * array is insertion-ORDER-free (set-bit union), so a group's filter is
  * deterministic given its content regardless of partitioning.
  */
case class BloomSetAgg(
    child: Expression,
    expectedItems: Long,
    fpp: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[BloomFilter] {

  require(expectedItems > 0, "expectedItems must be positive")
  require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")

  override def prettyName: String = "graft_bloom_set"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs BIGINT or ARRAY<BIGINT> input (pre-hashed), got ${t.sql}")
  }
  override def children: Seq[Expression] = child :: Nil
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def withNewMutableAggBufferOffset(o: Int): BloomSetAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomSetAgg =
    copy(inputAggBufferOffset = o)

  override def createAggregationBuffer(): BloomFilter =
    BloomFilter.create(expectedItems, fpp)

  // lazy: child.dataType is illegal before resolution (copy() runs on
  // unresolved trees during analysis)
  @transient private lazy val isArray = child.dataType.isInstanceOf[ArrayType]

  override def update(buf: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) {
      if (isArray) {
        val arr = v.asInstanceOf[ArrayData]
        var i = 0
        while (i < arr.numElements()) {
          if (!arr.isNullAt(i)) buf.putLong(arr.getLong(i))
          i += 1
        }
      } else buf.putLong(v.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: BloomFilter, other: BloomFilter): BloomFilter = {
    buf.mergeInPlace(other) // bitwise OR — same (expectedItems, fpp) by construction
    buf
  }

  override def eval(buf: BloomFilter): Any = serialize(buf)

  override def serialize(buf: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    buf.writeTo(out)
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
}

object BloomSetAgg {
  /** `bloomSetAgg(hashes, n, fpp)`: aggregate a BIGINT or ARRAY<BIGINT>
    * column into one serialized Bloom filter per group (`binary`). */
  def bloomSetAgg(hashes: Column, expectedItems: Long, fpp: Double = 0.01): Column =
    EU.column(BloomSetAgg(EU.expression(hashes), expectedItems, fpp)
      .toAggregateExpression())

  /** Driver-side probe of a serialized filter (the read side of the
    * skipping index — metadata-scale, one probe per file). */
  def mightContain(bloomBytes: Array[Byte], h: Long): Boolean =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bloomBytes))
      .mightContainLong(h)

  /** Multi-probe: might the filter contain ANY of `hs`? Deserializes
    * once — the per-file test of a batch-keyed operation (upsert). */
  def mightContainAny(bloomBytes: Array[Byte], hs: Array[Long]): Boolean = {
    val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(bloomBytes))
    hs.exists(bf.mightContainLong)
  }
}
