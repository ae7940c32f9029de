package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Split block Bloom filter, bit-compatible with the reference's runtime
  * filter (`be/src/util/bloom-filter.h:143-177`): the directory is an
  * array of 64-byte buckets; an insert picks ONE bucket via
  * `Rehash32to32(hash) & directory_mask` and sets one bit in each of the
  * bucket's eight 64-bit words, the bit indices coming from six-bit
  * slices of `Rehash32to64(hash)` (Putze et al.'s cache-efficient split
  * Bloom filter; Dietzfelbinger multiply-shift rehash constants from
  * `be/src/util/hash-util.h:219-238`).
  *
  * Scale role (the reference uses it for partitioned-join runtime
  * filters, `be/src/runtime/runtime-filter.h`): the directory merges by
  * bitwise OR, so `BloomBuildAgg` is a proper partial-aggregate — each
  * task fills a local directory from its rows, merges are
  * `O(directory)` — and the finished filter is a few hundred KB of
  * binary that `broadcast()` ships to every executor for a map-side
  * membership prefilter. No false negatives ever; false positives are
  * bounded by bits-per-distinct-value (~0.1% at 15 b/ndv, header
  * comment in bloom-filter.h) and must be cleaned up by an exact verify
  * join over the survivors only.
  */
object BlockBloom {

  // hash-util.h:221 — uuidgen'd multiply-shift constants.
  private val M32 = 0x7850f11ec6d14889L
  private val A32 = 0x6773610597ca4c63L
  private val M1 = 0x47b6137a44974d91L
  private val A1 = 0x705495c62df1424aL
  private val M2 = 0x8824ad5ba2b7289cL
  private val A2 = 0x9efc49475c6bfb31L

  private val BucketWords = 8 // one 64-byte cache line
  private val WordMask = 63L
  private val LogWordBits = 6
  /** log2(bucket bytes): a bucket is 8 longs. */
  val LogBucketByteSize = 6

  /** 32 more bits of randomness from a 32-bit hash (hash-util.h:220). */
  def rehash32to32(hash: Int): Int =
    (((hash & 0xffffffffL) * M32 + A32) >>> 32).toInt

  /** 64 bits from a 32-bit hash (hash-util.h:232). */
  def rehash32to64(hash: Int): Long = {
    val h = hash & 0xffffffffL
    val h1 = (h * M1 + A1) >>> 32
    val h2 = (h * M2 + A2) >>> 32
    h1 | (h2 << 32)
  }

  /** Directory longs for a heap budget of `1 << logHeapSpace` bytes. */
  def directoryLongs(logHeapSpace: Int): Int =
    1 << (logHeapSpace - 3)

  private def logNumBuckets(logHeapSpace: Int): Int =
    logHeapSpace - LogBucketByteSize

  def insert(dir: Array[Long], logHeapSpace: Int, hash: Int): Unit = {
    val mask = (1L << logNumBuckets(logHeapSpace)) - 1
    val bucket = ((rehash32to32(hash) & 0xffffffffL) & mask).toInt
    var bits = rehash32to64(hash)
    var i = 0
    while (i < BucketWords) {
      dir(bucket * BucketWords + i) |= 1L << (bits & WordMask)
      bits >>>= LogWordBits
      i += 1
    }
  }

  def find(dir: Array[Long], logHeapSpace: Int, hash: Int): Boolean = {
    val mask = (1L << logNumBuckets(logHeapSpace)) - 1
    val bucket = ((rehash32to32(hash) & 0xffffffffL) & mask).toInt
    var bits = rehash32to64(hash)
    var i = 0
    while (i < BucketWords) {
      if ((dir(bucket * BucketWords + i) & (1L << (bits & WordMask))) == 0L)
        return false
      bits >>>= LogWordBits
      i += 1
    }
    true
  }

  /** Wire format (the ToThrift analog): 1 header byte = logHeapSpace,
    * then the directory longs little-endian.
    */
  def serialize(dir: Array[Long], logHeapSpace: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(1 + dir.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(logHeapSpace.toByte)
    var i = 0
    while (i < dir.length) { bb.putLong(1 + i * 8, dir(i)); i += 1 }
    bb.array()
  }

  def deserializeDir(bytes: Array[Byte]): Array[Long] = {
    val n = (bytes.length - 1) / 8
    val out = new Array[Long](n)
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) { out(i) = bb.getLong(1 + i * 8); i += 1 }
    out
  }

  /** Membership probe over the serialized form without materializing the
    * long array — called from both interpreted eval and generated code;
    * reads the probed bucket's 64 bytes only.
    */
  def findBytes(bytes: Array[Byte], hash: Int): Boolean = {
    val logHeap = bytes(0).toInt
    val mask = (1L << logNumBuckets(logHeap)) - 1
    val bucket = ((rehash32to32(hash) & 0xffffffffL) & mask).toInt
    var bits = rehash32to64(hash)
    var i = 0
    while (i < BucketWords) {
      val off = 1 + (bucket * BucketWords + i) * 8
      var word = 0L
      var b = 0
      while (b < 8) { // little-endian long
        word |= (bytes(off + b) & 0xffL) << (8 * b)
        b += 1
      }
      if ((word & (1L << (bits & WordMask))) == 0L) return false
      bits >>>= LogWordBits
      i += 1
    }
    true
  }
}

/** `bloom_build(hash32, log_heap_space)`: aggregates 32-bit hashes into a
  * serialized split block Bloom filter of `1 << log_heap_space` bytes
  * (BloomFilter::Insert, bloom-filter.h:143). Merge is bitwise OR
  * (BloomFilter::Or, bloom-filter.cc:83) — associative and
  * commutative, so map-side partial aggregation is safe and each merge
  * step is O(directory), independent of row count.
  */
case class BloomBuildAgg(
    child: Expression,
    logHeapSpace: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(logHeapSpace >= BlockBloom.LogBucketByteSize && logHeapSpace <= 27,
    s"bloom_build log_heap_space must be in [6, 27], got $logHeapSpace")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case IntegerType | LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bloom_build expects a 32-bit hash as INT (or BIGINT low bits), " +
        s"got ${t.sql}")
  }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](BlockBloom.directoryLongs(logHeapSpace))

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v match {
        case i: java.lang.Integer => i.intValue()
        case l: java.lang.Long => l.intValue() // low 32 bits
      }
      BlockBloom.insert(buf, logHeapSpace, h)
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any =
    BlockBloom.serialize(buf, logHeapSpace)

  override def serialize(buf: Array[Long]): Array[Byte] =
    BlockBloom.serialize(buf, logHeapSpace)

  override def deserialize(bytes: Array[Byte]): Array[Long] =
    BlockBloom.deserializeDir(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): BloomBuildAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BloomBuildAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomBuildAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "bloom_build"
}

/** `bloom_find(bloom, hash32)`: membership probe
  * (BloomFilter::Find, bloom-filter.h:165). Codegen'd so the map-side
  * prefilter stays inside whole-stage codegen; false positives possible,
  * false negatives never.
  */
case class BloomFind(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, IntegerType | LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bloom_find expects (BINARY, INT hash), got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = BooleanType

  override def nullSafeEval(bloom: Any, hash: Any): Any = {
    val h = hash match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long => l.intValue()
    }
    BlockBloom.findBytes(bloom.asInstanceOf[Array[Byte]], h)
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, h) =>
      s"graft.functions.BlockBloom.findBytes($b, (int) $h)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomFind =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "bloom_find"
}
