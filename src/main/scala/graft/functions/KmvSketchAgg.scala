package graft.functions

import java.nio.ByteBuffer
import java.security.MessageDigest
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** kmv_sketch(string) -> double: bounded-state KMV distinct-count
  * estimator — the production form of q56's window formulation.
  *
  * Keeps the k smallest DISTINCT 48-bit md5-prefix hashes of the input
  * keys (a sorted set capped at k = 64), so the state is O(k) per group
  * and merges associatively across partials — one pass over the RAW rows,
  * no pre-distinct shuffle, unlike the window formulation which must
  * first materialize the distinct key set. Estimate: (k-1)/U with U the
  * k-th smallest hash mapped to (0,1); below k distinct hashes the set IS
  * the exact count.
  *
  * Hashing is the same md5-prefix arithmetic as q56 (first 6 digest bytes
  * == first 12 hex chars, big-endian unsigned), so the aggregate's
  * estimate equals the window formulation's and shares its DuckDB oracle
  * verbatim. (The one theoretical divergence: the set dedups by HASH
  * while q56's row_number ranks per distinct KEY, so a 48-bit collision
  * among a group's k smallest would shift the estimate — probability
  * ~k²/2^49 per group, far below any operational concern, and the
  * hash-exact oracle would surface it.)
  */
case class KmvSketchAgg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KmvSketchAgg.Buf] {
  import KmvSketchAgg.{Buf, K}

  override def prettyName: String = "kmv_sketch"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = DoubleType

  // STRING only — hashing an internal value's toString (days-since-epoch
  // for DATE, raw micros for TIMESTAMP) would silently disagree with any
  // md5(CAST(x AS STRING)) oracle; force the caller to cast explicitly
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_sketch requires a STRING argument (got ${child.dataType.sql}); " +
        "CAST the key explicitly so the hash input is well-defined")

  override def createAggregationBuffer(): Buf = new Buf

  override def update(b: Buf, row: InternalRow): Buf = {
    val v = child.eval(row)
    if (v != null) b.add(KmvSketchAgg.hash48(v.toString))
    b
  }

  override def merge(a: Buf, b: Buf): Buf = {
    val it = b.set.iterator()
    while (it.hasNext) a.add(it.next())
    a
  }

  override def eval(b: Buf): Any =
    if (b.set.size() < K) b.set.size().toDouble
    else (K - 1).toDouble / (b.set.last().toDouble / 281474976710656.0)

  override def serialize(b: Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * b.set.size())
    bb.putInt(b.set.size())
    val it = b.set.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new Buf
    var i = 0
    while (i < n) { b.add(bb.getLong); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object KmvSketchAgg {
  val K = 64

  /** k-smallest distinct hashes: TreeSet caps insertion at K by evicting
    * the largest once full (skip values already above the cap). */
  final class Buf {
    val set = new java.util.TreeSet[java.lang.Long]()
    def add(h: Long): Unit = {
      if (set.size() < K) { set.add(h); () }
      else if (h < set.last()) {
        if (set.add(h)) { set.pollLast(); () }
      }
    }
  }

  // per-thread digest: getInstance per row would pay a synchronized JCA
  // provider lookup + allocation in the aggregate's hot path
  private val localMd = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 6 md5 digest bytes as an unsigned big-endian 48-bit value —
    * identical to decoding the first 12 hex chars of md5's hex form
    * (what q56's SQL and the DuckDB oracle both do). */
  def hash48(s: String): Long = {
    val md = localMd.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 6) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }
}
