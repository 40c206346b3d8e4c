package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** The k-family MinHash sketch as ONE native aggregate (r12 optimization,
  * guide §1.2 per-task work + §4 codegen; the VERDICT-ranked LshSigs
  * sibling for the dedup_minhash_lsh plan constant).
  *
  * The relational form this replaces built k = 128 SEPARATE aggregate
  * expressions `min(xxhash64(lit(i), h))` plus a 128-arm `array(...)`
  * projection — every fresh plan paid analysis, optimization and Janino
  * compilation of ~700 expression nodes and a HashAggregate update body
  * wide enough to defeat JIT inlining. Here the whole sketch is one
  * buffer object and one compiled loop; plan size and codegen cost are
  * O(1) in k.
  *
  * BIT-IDENTITY with the composed form (MinHashSketchSpec proves it on
  * the fixture corpus and pins the degenerate paths):
  *   - Spark evaluates `xxhash64(lit(i), h)` as
  *     `hashLong(h, hashInt(i, 42))`, skipping null children — this
  *     aggregate calls the SAME `XXH64.hashInt` / `XXH64.hashLong`
  *     statics, with the per-slot inner seeds `hashInt(i, 42)` hoisted
  *     (they are constants the composed form re-derived per row).
  *   - A null input hash is SKIPPED by xxhash64, so the composed row
  *     value was the bare seed `hashInt(i, 42)` — never SQL NULL — and
  *     participated in the min. The update path mirrors that exactly.
  *   - `min` over never-null longs on a non-empty group is total, so the
  *     MaxValue-initialized buffer is the identity element, and merge is
  *     elementwise min (associative + commutative — partial aggregation
  *     safe).
  *
  * At 100 TB the per-row work is unchanged (k seeded hashes + k compares,
  * map-side partial aggregation intact via ObjectHashAggregate); what
  * collapses is the per-plan constant every short-lived job pays.
  */
case class MinHashSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(k > 0, s"minhash_sketch requires k > 0, got $k")

  override def children: Seq[Expression] = Seq(child)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashSketch =
    copy(child = newChildren(0))

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_sketch requires bigint input, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_sketch"

  // the composed form's inner constant: xxhash64's running hash after the
  // IntegerType literal child i, i.e. hashInt(i, seed=42). Recomputed once
  // per task (transient — not shipped with the serialized expression).
  @transient private lazy val seeds: Array[Long] =
    Array.tabulate(k)(i => XXH64.hashInt(i, 42L))

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(k)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val hv = child.eval(input)
    var i = 0
    if (hv == null) {
      // xxhash64 SKIPS null children: the composed row value was seeds(i)
      while (i < k) {
        val s = seeds(i)
        if (s < buf(i)) buf(i) = s
        i += 1
      }
    } else {
      val h = hv.asInstanceOf[Long]
      while (i < k) {
        val v = XXH64.hashLong(h, seeds(i))
        if (v < buf(i)) buf(i) = v
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) {
      if (other(i) < buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  // a copy, so the result never aliases the live aggregation buffer (a
  // window frame may evaluate a TypedImperativeAggregate repeatedly)
  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * k)
    var i = 0
    while (i < k) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](k)
    var i = 0
    while (i < k) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSketch =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSketch =
    copy(inputAggBufferOffset = newOffset)
}

object MinHashSketch {

  /** Column wrapper: the k-slot MinHash signature
    * `[min(xxhash64(0, h)), ..., min(xxhash64(k-1, h))]` per group. */
  def minhash_sketch(h: Column, k: Int): Column =
    GraftSqlBridge.column(
      MinHashSketch(GraftSqlBridge.expression(h), k).toAggregateExpression())
}
