package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Native MinHash signature: for each permutation p, min over the input
  * hash array of (a_p*h + b_p) mod prime. One tight primitive loop instead
  * of numPerm interpreted `transform`/`array_min` passes (50-100× faster on
  * corpus-dedup workloads, and keeps the operator inside whole-stage
  * codegen).
  */
case class MinHashSig(child: Expression, as: Array[Long], bs: Array[Long], prime: Long)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val sig = new Array[Long](as.length)
    var p = 0
    while (p < as.length) {
      var best = Long.MaxValue
      var i = 0
      while (i < n) {
        val v = (as(p) * hs.getLong(i) + bs(p)) % prime
        val vp = if (v < 0) v + prime else v
        if (vp < best) best = vp
        i += 1
      }
      sig(p) = if (n == 0) 0L else best
      p += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("as", as, "long[]")
    val bsRef = ctx.addReferenceObj("bs", bs, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val (n, sig, p, best, i, v) = (ctx.freshName("n"), ctx.freshName("sig"),
        ctx.freshName("p"), ctx.freshName("best"), ctx.freshName("i"), ctx.freshName("v"))
      s"""
         |int $n = $c.numElements();
         |long[] $sig = new long[$asRef.length];
         |for (int $p = 0; $p < $asRef.length; $p++) {
         |  long $best = Long.MAX_VALUE;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $v = ($asRef[$p] * $c.getLong($i) + $bsRef[$p]) % ${prime}L;
         |    if ($v < 0) $v += ${prime}L;
         |    if ($v < $best) $best = $v;
         |  }
         |  $sig[$p] = ($n == 0) ? 0L : $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native 64-bit SimHash over an array of token hashes: per-bit majority
  * vote, computed with primitive bit twiddling (vs 64-wide interpreted
  * zip_with array allocations per token). */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val (n, votes, i, h, j, out) = (ctx.freshName("n"), ctx.freshName("votes"),
        ctx.freshName("i"), ctx.freshName("h"), ctx.freshName("j"), ctx.freshName("out"))
      s"""
         |int $n = $c.numElements();
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $j = 0; $j < 64; $j++) {
         |    if ((($h >>> $j) & 1L) == 1L) $votes[$j]++; else $votes[$j]--;
         |  }
         |}
         |long $out = 0L;
         |for (int $j = 0; $j < 64; $j++) { if ($votes[$j] > 0) $out |= (1L << $j); }
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** LSH band keys of a MinHash signature in one native pass:
  * `array<struct<band:int,bkey:bigint>>`, one entry per band, where bkey
  * is Spark's `xxhash64(b, array_join(slice(sig, b*r + 1, r), ","))` —
  * the seed-42 hash of the band number chained into the hash of the
  * UTF-8 comma-joined decimal slice. A null signature keys every band
  * on its number alone, as `xxhash64` skips a null argument.
  *
  * Replaces one `transform` lambda per band, which Spark evaluates on
  * its interpreted higher-order-function path. */
case class LshBandKeys(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LshBandKeys.Type
  override def nullable: Boolean = false
  override def prettyName: String = "lsh_band_keys"

  override def eval(input: InternalRow): Any =
    LshBandKeys.compute(child.eval(input).asInstanceOf[ArrayData], bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |final ArrayData ${ev.value} = org.apache.spark.sql.graft.LshBandKeys.compute(
      |  ${c.isNull} ? null : ${c.value}, $bands, $rowsPerBand);
    """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBandKeys {
  private final val Seed = 42L

  val Type: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bkey", LongType, nullable = false))), containsNull = false)

  /** Shared by eval and codegen. Mirrors `slice` (a band past the end is
    * an empty slice) and `array_join` (null elements are skipped). */
  def compute(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val out = new Array[Any](bands)
    val buf = new java.lang.StringBuilder
    var b = 0
    while (b < bands) {
      var h = XXH64.hashInt(b, Seed)
      if (sig != null) {
        buf.setLength(0)
        val end = math.min(sig.numElements().toLong, b.toLong * rowsPerBand + rowsPerBand).toInt
        var i = b * rowsPerBand
        while (i < end) {
          if (!sig.isNullAt(i)) {
            if (buf.length > 0) buf.append(',')
            buf.append(sig.getLong(i))
          }
          i += 1
        }
        val bytes = buf.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        h = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, h)
      }
      out(b) = InternalRow(b, h)
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Column wrappers for the hash kernels. */
object HashFunctions {
  import org.apache.spark.sql.Column
  def minHashSig(hashes: Column, as: Array[Long], bs: Array[Long], prime: Long): Column =
    bridge.column(MinHashSig(bridge.expression(hashes), as, bs, prime))
  def simHash64(hashes: Column): Column =
    bridge.column(SimHash64(bridge.expression(hashes)))
  def wordShingleHash(text: Column, k: Int, prime: Long): Column =
    bridge.column(WordShingleHash(bridge.expression(text), k, prime))
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    bridge.column(LshBandKeys(bridge.expression(sig), bands, rowsPerBand))
}
