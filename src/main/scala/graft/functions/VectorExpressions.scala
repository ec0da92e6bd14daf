package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot paths Spark's built-ins don't
  * cover well (SURVEY §7: preference order (b) — a native `Expression` with
  * `doGenCode` beats a Scala UDF: no serialization, stays inside
  * whole-stage codegen, no boxing per row).
  */

/** cosine_sim(array<float>, array<float>) -> double.
  *
  * Single fused pass: dot product and both norms in one loop over the
  * packed float arrays — the inner kernel of brute-force ANN search. A
  * `zip_with`/`aggregate` higher-order-function formulation allocates an
  * intermediate array per row; at 100 TB of embeddings that's the
  * difference between memory-bandwidth-bound and GC-bound.
  * Floats are widened to double before multiply (parity with the DuckDB
  * oracle formulation). Zero-norm inputs yield 0.0.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  // input type contract: both children array<float> (AbstractDataType is
  // private[sql] in Spark 4, so no ExpectsInputTypes here; the registry
  // wrappers below are the only construction path)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble; val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv; i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny"); val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv"); val den = ctx.freshName("den")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |double $den = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |${ev.value} = ($den == 0.0) ? 0.0 : $dot / $den;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** rolling_hash(string) -> long: Karp-Rabin polynomial hash over UTF-8
  * bytes, h = h*31 + byte in wrapping 64-bit arithmetic — the document
  * fingerprint primitive (content-defined chunking / winnowing use the same
  * kernel). Deterministic across JVMs and cluster layouts. */
case class RollingHash(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    var h = 0L; var i = 0
    while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xffL); i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bytes = ctx.freshName("bytes"); val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $s.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = $h * 31L + ($bytes[$i] & 0xffL);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** lsh_bands(array<float>) -> array<int>: all band keys of a
  * sign-random-projection LSH in ONE fused pass over the vector.
  *
  * `planes` is the flattened hyperplane matrix (nPlanes x dim), attached as
  * a codegen reference object; bit k = (dot(v, plane_k) > 0), band b's key
  * packs its `bitsPerBand` bits MSB-first. The higher-order-function
  * formulation (zip_with + aggregate per plane) is interpreted per element
  * and re-evaluated on both sides of the candidate self-join — two orders
  * of magnitude slower at scale.
  */
case class LshBands(child: Expression, planes: Array[Double],
    nBands: Int, bitsPerBand: Int)
    extends UnaryExpression {
  private val nPlanes = nBands * bitsPerBand
  private val dim = planes.length / nPlanes
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "lsh_bands"

  private def bandsOf(v: ArrayData): Array[Int] = {
    val n = math.min(dim, v.numElements())
    val keys = new Array[Int](nBands)
    var k = 0
    while (k < nPlanes) {
      var dot = 0.0; var i = 0
      while (i < n) { dot += v.getFloat(i).toDouble * planes(k * dim + i); i += 1 }
      if (dot > 0) {
        val b = k / bitsPerBand; val p = k % bitsPerBand
        keys(b) |= (1 << (bitsPerBand - 1 - p))
      }
      k += 1
    }
    keys
  }

  override def nullSafeEval(v: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      bandsOf(v.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val keys = ctx.freshName("keys"); val k = ctx.freshName("k")
      val i = ctx.freshName("i"); val dot = ctx.freshName("dot")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($dim, $v.numElements());
         |int[] $keys = new int[$nBands];
         |for (int $k = 0; $k < $nPlanes; $k++) {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += (double) $v.getFloat($i) * $planesRef[$k * $dim + $i];
         |  }
         |  if ($dot > 0) {
         |    $keys[$k / $bitsPerBand] |=
         |      (1 << ($bitsPerBand - 1 - ($k % $bitsPerBand)));
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** rolling_window_hashes(text, W) -> array<long>: the hash of EVERY
  * W-token window of `text` (stride 1, tokens = single-space split with
  * trailing empties kept, matching `split(text, ' ')`), in ONE O(bytes +
  * windows) pass — the Rabin-Karp move the substring-dedup literature
  * builds on. The declarative spelling (transform + md5(concat_ws(slice)))
  * re-reads every token W times: O(tokens × W) hash work, a 10× constant
  * at the default window. Here each token is byte-hashed once (h*31+b, the
  * rolling_hash recurrence) and windows advance by the token-level
  * recurrence wh' = (wh - th_out * B^(W-1)) * B + th_in over base
  * B = 0x100000001b3 (FNV-1a prime; token hashes are effectively random
  * 64-bit values, so window collisions sit at the 2^-64 birthday floor —
  * far below any dedup threshold's noise, and the span output never
  * exposes the hash values). Codegen delegates to the same compute method
  * eval uses: one implementation, no interpreted/generated drift. */
case class RollingWindowHashes(child: Expression, w: Int)
    extends UnaryExpression {
  require(w >= 1, s"window length must be >= 1, got $w")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rolling_window_hashes"

  override def nullSafeEval(v: Any): Any =
    RollingWindowHashes.compute(v.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = graft.functions.RollingWindowHashes.compute($s, $w);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingWindowHashes {
  /** Token-level rolling base (FNV-1a 64-bit prime — odd, so multiplication
    * mod 2^64 is a bijection and no hash state is ever "lost"). */
  val Base = 0x100000001b3L

  /** Shared by interpreted eval AND generated code (called statically from
    * the codegen template above). */
  def compute(text: UTF8String, w: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bytes = text.getBytes
    // pass 1: per-token byte hashes (h*31 + b, the rolling_hash formula),
    // split on single 0x20 bytes with trailing empties kept
    val toks = new java.util.ArrayList[java.lang.Long]()
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) { toks.add(h); h = 0L }
      else h = h * 31L + (bytes(i) & 0xffL)
      i += 1
    }
    toks.add(h) // final token (split keeps trailing empties)
    val n = toks.size
    if (n < w)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.emptyLongArray)
    // B^(W-1) mod 2^64 for the remove-token step
    var bw = 1L
    var k = 0
    while (k < w - 1) { bw *= Base; k += 1 }
    // pass 2: first window from scratch, the rest by the O(1) recurrence
    val out = new Array[Long](n - w + 1)
    var wh = 0L
    k = 0
    while (k < w) { wh = wh * Base + toks.get(k); k += 1 }
    out(0) = wh
    k = 1
    while (k <= n - w) {
      wh = (wh - toks.get(k - 1) * bw) * Base + toks.get(k + w - 1)
      out(k) = wh
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** nfc_normalize(string) -> string: Unicode NFC normalization — Spark has
  * no built-in for it, yet text dedup REQUIRES it ("Zürich" composed vs
  * decomposed are different byte strings that md5/groupBy treat as distinct
  * documents). Matches DuckDB's nfc_normalize for oracle parity. */
case class NfcNormalize(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      v.asInstanceOf[UTF8String].toString, java.text.Normalizer.Form.NFC))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  java.text.Normalizer.normalize($s.toString(),
         |    java.text.Normalizer.Form.NFC));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
