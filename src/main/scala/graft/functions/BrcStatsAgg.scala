package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** brc_stats(double) -> struct<min_measure, mean_measure, max_measure>:
  * the reference's 4-field aggregation state as a native SQL aggregate
  * (TypedImperativeAggregate — SURVEY §7.4's "single-buffer parity in SQL").
  *
  * The buffer is exactly `Records{count,min,max,sum}`
  * (rust_1brc/src/main.rs:29-35) in integer cents; update/merge/eval map
  * 1:1 onto Records::update/merge/mean (main.rs:38-66). serialize/
  * deserialize is the explicit form of what the reference's mutex-guarded
  * map merge ships between threads — here it crosses executors in the
  * partial->final exchange, 32 bytes per group.
  */
case class BrcStatsAgg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BrcStatsAgg.Buf] {
  import BrcStatsAgg.Buf

  override def prettyName: String = "brc_stats"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("min_measure", DoubleType), StructField("mean_measure", DoubleType),
    StructField("max_measure", DoubleType)))

  override def createAggregationBuffer(): Buf =
    new Buf(0L, Long.MaxValue, Long.MinValue, 0L)

  override def update(b: Buf, row: InternalRow): Buf = {
    val v = child.eval(row)
    if (v != null) {
      val c = math.round(v.asInstanceOf[Double] * 100)
      b.count += 1; b.sumC += c
      if (c < b.minC) b.minC = c
      if (c > b.maxC) b.maxC = c
    }
    b
  }

  override def merge(a: Buf, b: Buf): Buf = {
    a.count += b.count; a.sumC += b.sumC
    if (b.minC < a.minC) a.minC = b.minC
    if (b.maxC > a.maxC) a.maxC = b.maxC
    a
  }

  override def eval(b: Buf): Any = {
    if (b.count == 0L) return null
    val mean = (b.sumC.toDouble / 100.0) / b.count
    val mean1 = (if (mean >= 0) math.floor(mean * 10 + 0.5)
                 else math.ceil(mean * 10 - 0.5)) / 10.0
    InternalRow(b.minC.toDouble / 100.0, mean1, b.maxC.toDouble / 100.0)
  }

  override def serialize(b: Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(32)
    bb.putLong(b.count).putLong(b.minC).putLong(b.maxC).putLong(b.sumC)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    new Buf(bb.getLong, bb.getLong, bb.getLong, bb.getLong)
  }

  override def withNewMutableAggBufferOffset(o: Int): BrcStatsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BrcStatsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object BrcStatsAgg {
  /** Records{count,min,max,sum} (rust_1brc/src/main.rs:29-35), cents. */
  final class Buf(var count: Long, var minC: Long, var maxC: Long, var sumC: Long)
}
