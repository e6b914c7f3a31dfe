package graft.exprs

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-min sketch kernel shared by the aggregate (build) and the scalar
  * estimate (probe) — 4 rows × 256 buckets of Long counts (8 KiB state).
  *
  * The hash family is deliberately DuckDB-replayable integer arithmetic
  * (the same design rule as the simhash oracle): row j's bucket is the TOP
  * byte of `(fnv1a(key) + j·golden) · FNV_PRIME mod 2^64` — one wrapping
  * add for the seed, one wrapping multiply for avalanche. Every operation
  * is exact HUGEINT arithmetic in SQL, so the sketch's cell values and the
  * min-over-rows estimate can be recomputed by an oracle from the exact
  * key counts alone.
  *
  * CMS contract: estimate(k) >= true(k) always (counts only ever add);
  * overestimation happens only when k collides with other keys in ALL d
  * rows. With d=4, w=256 the collision term is bounded by N·(1/256) per
  * row in expectation, min over 4 independent rows — the standard
  * Cormode-Muthukrishnan bound. Width/depth are compile-time constants so
  * partial buffers are fixed-size arrays that merge by vector add. */
object CmsKernel {
  val Depth = 4
  val Width = 256
  val Cells: Int = Depth * Width

  private val Golden = 0x9e3779b97f4a7c15L
  private val FnvPrime = 0x100000001b3L

  /** Bucket of `key` in sketch row `j` (0-based): top byte of the mixed
    * 64-bit hash — identical to `((h + j·golden)·prime mod 2^64) div 2^56`
    * on the unsigned value, which is how the oracle replays it. */
  def bucket(h: Long, j: Int): Int =
    (((h + j * Golden) * FnvPrime) >>> 56).toInt

  /** Key hash of the replayable family (see [[TextHash.fnv1a]]'s BMP
    * contract). Keys are short categorical strings, so the surrogate scan
    * is a handful of compares per row; a supplementary character would
    * make the engine's sketch silently disagree with the oracle's HUGEINT
    * replay, so it is rejected loudly instead. */
  def keyHash(s: String): Long = {
    var i = 0
    while (i < s.length) {
      if (Character.isSurrogate(s.charAt(i)))
        throw new org.apache.spark.SparkException(
          "USER_RAISED_EXCEPTION",
          Map("errorMessage" ->
            ("cms_agg/cms_estimate keys must contain only Basic-Multilingual-" +
              "Plane characters (the oracle-replayable FNV-1a contract); got a " +
              s"supplementary character at index $i of ${s.take(40)}")),
          null)
      i += 1
    }
    TextHash.fnv1a(s, 0, s.length)
  }
}

/** `cms_agg(key)` — build a count-min sketch over a STRING key stream;
  * returns the 1024-cell count array (row-major, row j at [j·256,
  * (j+1)·256)). Map-side partials each hold one fixed 8 KiB array and
  * merge by elementwise add, so the shuffle ships O(1) state per group
  * regardless of input size — the sketch exists precisely to replace a
  * |keys|-sized exact count at 100 TB. */
case class CmsAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def prettyName: String = "cms_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a STRING key, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](CmsKernel.Cells)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = CmsKernel.keyHash(v.asInstanceOf[UTF8String].toString)
      var j = 0
      while (j < CmsKernel.Depth) {
        buf(j * CmsKernel.Width + CmsKernel.bucket(h, j)) += 1L
        j += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < CmsKernel.Cells) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * CmsKernel.Cells)
    var i = 0
    while (i < CmsKernel.Cells) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](CmsKernel.Cells)
    var i = 0
    while (i < CmsKernel.Cells) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsAgg =
    copy(child = newChild)
}

/** `cms_estimate(sketch, key)` — point frequency estimate: min over the
  * sketch's rows of the key's cell. Pure projection (the sketch usually
  * arrives as a scalar subquery / broadcast constant), never shuffles.
  * CodegenFallback: one probe per ROW GROUP of output in the intended
  * shape (|distinct keys| rows), never in a per-event hot path. */
case class CmsEstimate(left: Expression, right: Expression)
  extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def prettyName: String = "cms_estimate"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType.isInstanceOf[ArrayType] &&
        left.dataType.asInstanceOf[ArrayType].elementType == LongType &&
        right.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (ARRAY<BIGINT> sketch, STRING key), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")

  override def dataType: DataType = LongType

  override protected def nullSafeEval(sketch: Any, key: Any): Any = {
    val arr = sketch.asInstanceOf[ArrayData]
    // wrong-sized sketches are reachable from the injected SQL surface
    // (any ARRAY<BIGINT> type-checks), so misuse must surface as a clear
    // SparkThrowable query error — the same discipline raise_error() uses —
    // not a bare IllegalArgumentException retried inside the task loop
    if (arr.numElements() != CmsKernel.Cells)
      throw new org.apache.spark.SparkException(
        "USER_RAISED_EXCEPTION",
        Map("errorMessage" ->
          (s"$prettyName: sketch must be the ${CmsKernel.Cells}-cell array " +
            s"produced by cms_agg (${CmsKernel.Depth} rows x ${CmsKernel.Width} " +
            s"buckets, row-major); got ${arr.numElements()} cells")),
        null)
    val h = CmsKernel.keyHash(key.asInstanceOf[UTF8String].toString)
    var min = Long.MaxValue
    var j = 0
    while (j < CmsKernel.Depth) {
      val c = arr.getLong(j * CmsKernel.Width + CmsKernel.bucket(h, j))
      if (c < min) min = c
      j += 1
    }
    min
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}
