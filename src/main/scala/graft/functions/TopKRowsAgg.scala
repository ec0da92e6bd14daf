package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** topk_rows(struct(score, tiebreak, ...), k) -> array<struct> — bounded-
  * state top-k per group: the O(k)-state replacement for the window-rank
  * idiom `row_number() OVER (PARTITION BY g ORDER BY score DESC, tb) <= k`.
  *
  * The window form buffers EVERY row of a partition in the sort (Spark's
  * WindowExec materializes the whole partition buffer, spilling when a
  * group is hot — the q88 skew discussion); this aggregate keeps exactly k
  * rows per group at all times, merges associatively across partials
  * (map-side combine works, so a hot group's millions of rows collapse to
  * k per input partition BEFORE the shuffle), and never sorts anything
  * larger than k. q157 proves the equivalence by sharing q85's window-rank
  * oracle verbatim.
  *
  * Ordering contract: descending by the struct's FIRST field (DOUBLE
  * score), ties ascending by the SECOND field (STRING tie-break) — binary
  * UTF8 order, same as Spark/DuckDB string comparison. The (score,
  * tiebreak) pair must be UNIQUE within a group: the state is a TreeSet
  * keyed by exactly that pair, so full-key duplicates collapse (top-k with
  * duplicated full sort keys is order-nondeterministic in the window form
  * too — the contract just makes it explicit). Remaining struct fields are
  * free payload, carried through untouched. The result array is sorted
  * best-first, so element index i is rank i+1.
  */
case class TopKRowsAgg(child: Expression, kExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKRowsAgg.Buf] {

  override def prettyName: String = "topk_rows"
  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if !kExpr.foldable ||
        !Seq[DataType](IntegerType, LongType, ShortType).contains(kExpr.dataType) =>
      TypeCheckResult.TypeCheckFailure("topk_rows k must be an integer literal")
    case s: StructType if s.length >= 2 &&
        s(0).dataType == DoubleType && s(1).dataType == StringType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "topk_rows requires struct(score: double, tiebreak: string, ...) " +
        s"(got ${other.sql})")
  }

  private val structType = child.dataType.asInstanceOf[StructType]
  private val nFields = structType.length

  // executor-side only; UnsafeProjection is not serializable
  @transient private lazy val proj =
    UnsafeProjection.create(structType.fields.map(_.dataType))

  override def createAggregationBuffer(): TopKRowsAgg.Buf =
    new TopKRowsAgg.Buf(k)

  override def update(b: TopKRowsAgg.Buf, row: InternalRow): TopKRowsAgg.Buf = {
    val v = child.eval(row)
    if (v != null) b.add(proj(v.asInstanceOf[InternalRow]).copy())
    b
  }

  override def merge(a: TopKRowsAgg.Buf, b: TopKRowsAgg.Buf): TopKRowsAgg.Buf = {
    val it = b.set.iterator()
    while (it.hasNext) a.add(it.next())
    a
  }

  override def eval(b: TopKRowsAgg.Buf): Any = {
    val out = new Array[Any](b.set.size())
    val it = b.set.iterator() // comparator order == best-first
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(b: TopKRowsAgg.Buf): Array[Byte] = {
    var total = 4
    val it0 = b.set.iterator()
    while (it0.hasNext) total += 4 + it0.next().getSizeInBytes
    val bb = ByteBuffer.allocate(total)
    bb.putInt(b.set.size())
    val it = b.set.iterator()
    while (it.hasNext) {
      val bytes = it.next().getBytes
      bb.putInt(bytes.length).put(bytes)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKRowsAgg.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new TopKRowsAgg.Buf(k)
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val arr = new Array[Byte](len)
      bb.get(arr)
      val row = new UnsafeRow(nFields)
      row.pointTo(arr, len)
      b.add(row)
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKRowsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKRowsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

object TopKRowsAgg {

  /** Best-first order: score (field 0) descending, tie-break (field 1)
    * ascending in UTF8 binary order. */
  private val cmp = new java.util.Comparator[UnsafeRow] {
    override def compare(a: UnsafeRow, b: UnsafeRow): Int = {
      val byScore = java.lang.Double.compare(b.getDouble(0), a.getDouble(0))
      if (byScore != 0) byScore
      else a.getUTF8String(1).compareTo(b.getUTF8String(1))
    }
  }

  /** k best rows; the TreeSet's iteration order is best-first, so the
    * worst element is `last()` and capping is one pollLast. */
  final class Buf(k: Int) {
    val set = new java.util.TreeSet[UnsafeRow](cmp)
    def add(r: UnsafeRow): Unit = {
      if (set.size() < k) { set.add(r); () }
      else if (cmp.compare(r, set.last()) < 0) {
        if (set.add(r)) { set.pollLast(); () }
      }
    }
  }
}
