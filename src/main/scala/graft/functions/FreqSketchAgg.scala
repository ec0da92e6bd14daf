package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** freq_sketch(string) -> map<string,bigint>: bounded-state Misra-Gries
  * frequent-items (heavy hitters) sketch with K = 32 counters — the
  * second sketch family next to kmv_sketch, for "which tokens dominate
  * this corpus" at a scale where an exact groupBy's distinct-key shuffle
  * is the cost being avoided.
  *
  * State is at most K (key, counter) pairs per group. Update is the
  * textbook Misra-Gries step: increment a present key, insert at 1 under
  * capacity, otherwise decrement every counter (dropping zeros) — each
  * decrement pass amortizes against prior increments. Merge is the
  * mergeable-summaries rule (Agarwal, Cormode, Huang, Phillips, Wei, Yi:
  * "Mergeable Summaries", PODS 2012): sum counters pointwise, then
  * subtract the (K+1)-th largest counter value from all and keep the
  * positive ones — associativity-safe across any partial/final tree.
  *
  * Guarantees (any input order, any merge tree; n = group row count):
  *  - undercount only: est(x) <= exact(x) for every x;
  *  - bounded error: exact(x) - est(x) <= n/(K+1);
  *  - therefore any x with exact(x) > n/(K+1) is IN the sketch.
  * The estimates themselves depend on evaluation order (like every HLL /
  * approx sketch), so q106 emits exact counts + the guarantee booleans —
  * the q22/q103 bounded-error-contract pattern.
  */
case class FreqSketchAgg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[FreqSketchAgg.Buf] {
  import FreqSketchAgg.{Buf, K}

  override def prettyName: String = "freq_sketch"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"freq_sketch requires a STRING argument (got ${child.dataType.sql}); " +
        "CAST the key explicitly so item identity is well-defined")

  override def createAggregationBuffer(): Buf = new Buf

  override def update(b: Buf, row: InternalRow): Buf = {
    val v = child.eval(row)
    if (v != null) b.add(v.toString)
    b
  }

  override def merge(a: Buf, b: Buf): Buf = { a.mergeIn(b); a }

  override def eval(b: Buf): Any = {
    // deterministic key order inside the map value (sorted): map equality
    // is order-insensitive in Spark, but a stable layout keeps serialized
    // plans/explains reproducible
    val entries = b.counters.toSeq.sortBy(_._1)
    ArrayBasedMapData(
      entries.map(e => UTF8String.fromString(e._1)).toArray[Any],
      entries.map(_._2).toArray[Any])
  }

  override def serialize(b: Buf): Array[Byte] = {
    val items = b.counters.toSeq
    val keys = items.map(_._1.getBytes(StandardCharsets.UTF_8))
    val bb = ByteBuffer.allocate(4 + keys.map(_.length + 12).sum)
    bb.putInt(items.size)
    items.zip(keys).foreach { case ((_, n), kb) =>
      bb.putInt(kb.length); bb.put(kb); bb.putLong(n)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new Buf
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](bb.getInt)
      bb.get(kb)
      b.counters.put(new String(kb, StandardCharsets.UTF_8), bb.getLong)
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): FreqSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object FreqSketchAgg {
  val K = 32

  final class Buf {
    val counters = scala.collection.mutable.HashMap.empty[String, Long]

    /** One Misra-Gries update step. */
    def add(key: String): Unit =
      counters.get(key) match {
        case Some(n) => counters.put(key, n + 1); ()
        case None if counters.size < K => counters.put(key, 1L); ()
        case None => decrementAll(1L)
      }

    /** Mergeable-summaries combine: pointwise sum, then shrink back to K
      * by subtracting the (K+1)-th largest counter from everything. */
    def mergeIn(other: Buf): Unit = {
      other.counters.foreach { case (k, n) =>
        counters.put(k, counters.getOrElse(k, 0L) + n)
      }
      if (counters.size > K) {
        val kth = counters.values.toArray.sorted(Ordering[Long].reverse)(K)
        decrementAll(kth)
      }
    }

    private def decrementAll(by: Long): Unit = {
      val dead = scala.collection.mutable.ArrayBuffer.empty[String]
      counters.mapValuesInPlace((_, n) => n - by)
      counters.foreach { case (k, n) => if (n <= 0) dead += k }
      dead.foreach(counters.remove)
    }
  }
}
