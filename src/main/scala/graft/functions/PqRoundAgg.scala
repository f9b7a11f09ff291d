package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** One Lloyd round's per-centroid member sums and counts for a PQ
  * codebook, as ONE partial aggregate over the training scan.
  *
  * The declarative form of the round update exploded every vector into
  * m·ds rows (posexplode of the codes, then posexplode of each
  * subvector) and shuffled them through two keyed aggregations — at
  * m=4, ds=16 that is 64 shuffle rows per training vector per round,
  * per codebook. But the round's entire result is bounded by the
  * codebook, not the corpus: m·k centroids × (ds component sums + one
  * count) of exact integers. This aggregate carries that fixed-size
  * state in each partial buffer (the [[MisraGriesAgg]] ship-the-sketch
  * pattern): the scan side assigns codes with the same codegen'd
  * [[PqKernels.pqEncode]] kernel and accumulates locally; only
  * m·k·(ds+1) longs per task cross the exchange; zero explode rows ever
  * exist.
  *
  * Integer sums are exactly order-independent, so the result is
  * bit-identical to the explode/groupBy plan — the train-replay oracles
  * (q_ann_persist / q_ann_ivfpq / q_stream_ann replay training
  * symbolically) hold unchanged.
  *
  * Buffer layout: centroid (sub j, cid c) owns the slots
  * `(j·k + c − 1)·(ds+1) .. +ds`: ds milli-unit component sums, then
  * the member count.
  */
case class PqRoundAgg(
    child: Expression, centers: Array[Long], m: Int, k: Int, ds: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(m > 0 && k > 0 && ds > 0, "PqRoundAgg needs positive m/k/ds")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_round"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](m * k * (ds + 1))

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    // a vector of the wrong length has no subvector layout to assign:
    // skip it (reading it would run past its element region)
    if (v != null && v.asInstanceOf[ArrayData].numElements() == m * ds) {
      val e = v.asInstanceOf[ArrayData]
      // same assignment kernel as the encode path (exact integer
      // distances, smallest-cid tie-break) — determinism is shared, not
      // re-implemented
      val codes = PqKernels.pqEncode(e, centers, m, k, ds)
      var j = 0
      while (j < m) {
        val base = (j * k + codes.getInt(j) - 1) * (ds + 1)
        var p = 0
        while (p < ds) {
          buf(base + p) += e.getLong(j * ds + p)
          p += 1
        }
        buf(base + ds) += 1L
        j += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(buf.length * 8)
    val out = new DataOutputStream(bos)
    var i = 0
    while (i < buf.length) { out.writeLong(buf(i)); i += 1 }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < buf.length) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): PqRoundAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): PqRoundAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

object PqRound {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  /** Aggregate column: flat (sums, count) per centroid —
    * `(j·k + c − 1)·(ds+1) + pos` / `… + ds`. */
  def roundAgg(e: Column, centers: Array[Long], m: Int, k: Int, ds: Int): Column =
    column(PqRoundAgg(expression(e), centers, m, k, ds).toAggregateExpression())
}
