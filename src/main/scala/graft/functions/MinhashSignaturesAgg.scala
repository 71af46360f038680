package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** One-buffer minhash signature aggregate: `minhash_sigs(h, a, b)`
  * computes ALL `n` signature components `min((h·a_i + b_i) mod P)`
  * (P = 2^31 − 1) over a group in a single primitive `long[n]`
  * buffer — the alternative formulation to `n` separate `MIN`
  * aggregate expressions.
  *
  * Why: the 500k-doc per-job costs put ~46% of post-cut q31 task-sec
  * in the signature jobs (SCALING.md "replaces 128 MIN expressions"),
  * and the measured signature-reduction ladder
  * (BENCHNOTES round-13) showed the cost is NOT the modulo (C2
  * strength-reduces the constant divisor) but the per-row update
  * machinery — 128 aggregate-expression evaluations + UnsafeRow
  * buffer-slot updates per shingle occurrence. This aggregate updates
  * a plain JVM long[] in one tight JIT'd loop per row.
  *
  * Trade-offs: a TypedImperativeAggregate runs under
  * ObjectHashAggregateExec, which does NOT join whole-stage codegen
  * (the upstream projection feeds it row-by-row), and its in-memory
  * map falls back to sort-based aggregation past
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * distinct keys per partition (Spark default 128 — far below a
  * shingle corpus' per-partition doc count; the minhash operators
  * raise it for their own run through `OperatorScope.ObjectAggThreshold`,
  * and the buffers are ~8·n bytes each so a million keys is ~1 GB per
  * partition worst case).
  *
  * Value contract: byte-identical to the `n` separate
  * `min(pmod(h * a_i + b_i, P))` columns for h in [0, P) and
  * a, b in [0, 2^31) — the division-free Mersenne fold in `update`
  * is exact on that domain (PropertySpec pins it against `pmod` on a
  * boundary-and-random panel). A group whose every h is NULL
  * evaluates to a NULL array, matching `MIN`'s all-null semantics per
  * component.
  *
  * Arguments: h (bigint), a (constant array<bigint>), b (constant
  * array<bigint>, same length).
  */
case class MinhashSignaturesAgg(
    first: Expression, second: Expression, third: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  private val M = 2147483647L // 2^31 - 1, Mersenne prime

  override def children: Seq[Expression] = Seq(first, second, third)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val arrOk = Seq(second, third).forall(e =>
      e.dataType.isInstanceOf[ArrayType] &&
        e.dataType.asInstanceOf[ArrayType].elementType == LongType)
    if (first.dataType != LongType || !arrOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(
          s"$prettyName requires (bigint, array<bigint>, " +
            "array<bigint>), got " +
            children.map(_.dataType.simpleString).mkString(", "))
    else if (!second.foldable || !third.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(
          s"$prettyName requires constant (foldable) a and b arrays")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess
  }

  @transient private lazy val as: Array[Long] = constArray(second, "a")
  @transient private lazy val bs: Array[Long] = constArray(third, "b")
  @transient private lazy val n: Int = {
    if (as.length != bs.length || as.isEmpty)
      throw graft.exceptions.InvalidArgumentValue(
        s"$prettyName: a and b must be equal-length non-empty " +
          s"constant arrays, got ${as.length} and ${bs.length}")
    as.length
  }

  private def constArray(e: Expression, name: String): Array[Long] = {
    val data = e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toLongArray()
      case other => throw graft.exceptions.InvalidArgumentValue(
        s"$prettyName: $name must be a non-null array<bigint> " +
          s"constant, got $other")
    }
    data.foreach { v =>
      if (v < 0 || v >= (1L << 31))
        throw graft.exceptions.InvalidArgumentValue(
          s"$prettyName: $name values must sit in [0, 2^31), got $v")
    }
    data
  }

  override def dataType: DataType = ArrayType(LongType, false)
  override def nullable: Boolean = true

  // buffer slot n holds the seen-a-row flag so an all-null group
  // evals to NULL (MIN semantics), not an array of Long.MaxValue
  override def createAggregationBuffer(): Array[Long] = {
    val buf = new Array[Long](n + 1)
    java.util.Arrays.fill(buf, 0, n, Long.MaxValue)
    buf
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val hv = first.eval(input)
    if (hv != null) {
      val h = hv.asInstanceOf[Long]
      buf(n) = 1L
      var i = 0
      while (i < n) {
        val x = h * as(i) + bs(i)
        val y = (x >>> 31) + (x & M)
        val z = (y >>> 31) + (y & M)
        val v = if (z >= M) z - M else z
        if (v < buf(i)) buf(i) = v
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < n) {
      if (b2(i) < b1(i)) b1(i) = b2(i)
      i += 1
    }
    b1(n) |= b2(n)
    b1
  }

  override def eval(buf: Array[Long]): Any =
    if (buf(n) == 0L) null
    else new GenericArrayData(java.util.Arrays.copyOf(buf, n))

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * (n + 1))
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](n + 1)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(
      newOffset: Int): MinhashSignaturesAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(
      newOffset: Int): MinhashSignaturesAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinhashSignaturesAgg =
    copy(first = newChildren(0), second = newChildren(1),
      third = newChildren(2))

  override def prettyName: String = "minhash_sigs"
}
