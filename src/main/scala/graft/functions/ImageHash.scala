package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Perceptual 64-bit image hash of a decoded RGB thumbnail as a native
  * Catalyst expression — the image-side analog of [[SimHash64]]: trails
  * of near-identical images (re-encodes, tiny edits, thumbnails of each
  * other) land within a small Hamming distance, so the text-dedup
  * band-blocking machinery applies unchanged.
  *
  * Input: the `array<float>` thumbnail
  * [[graft.ops.Multimodal.decodeAnyImages]] emits — side²·3
  * interleaved RGB floats in [0,1], nearest-neighbor downsampled from
  * the raster. Luma is the BT.601 weighting
  * (0.299 R + 0.587 G + 0.114 B). Two public modes:
  *
  *  - `dhash` (difference hash): bit (y·side+x) is 1 iff
  *    luma(y,x) < luma(y,(x+1) mod side) — gradient-direction bits,
  *    invariant to global brightness/contrast shifts. The standard
  *    9×8-grid dHash writeups drop the last column; this wraps the row
  *    instead so a side² grid yields exactly side² bits (side 8 → 64).
  *  - `ahash` (average hash): bit i is 1 iff luma(i) > mean luma.
  *
  * Thumbnails with more than 64 pixels hash their first 64 (pass
  * thumbSide = 8 at decode time — the canonical perceptual-hash grid).
  * One imperative pass per row, zero allocation beyond the luma buffer;
  * doGenCode is a static call so the surrounding whole-stage span stays
  * intact. Deterministic: IEEE float ops only.
  */
case class ImageHash64(child: Expression, dhash: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = if (dhash) "dhash64" else "ahash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> input (a decode thumbnail), " +
      s"got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      ImageHash64.compute(input.asInstanceOf[ArrayData], dhash))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ImageHash64.compute($c, $dhash)")

  override protected def withNewChildInternal(newChild: Expression): ImageHash64 =
    copy(child = newChild)
}

object ImageHash64 {

  /** Scala-side entry for per-partition callers — the streaming video
    * decode hashes frames INSIDE its mapPartitions (a stream cannot
    * stage per-frame rows through a distinct), and routing through the
    * same `compute` keeps stream and batch hashes identical by
    * construction, not by parallel implementation. */
  def computeFloats(thumb: Array[Float], dhash: Boolean): Long =
    compute(org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(thumb), dhash)

  /** One-pass perceptual hash over an interleaved-RGB float thumbnail;
    * called from generated code. Throws on a non-square or non-RGB array
    * length (a decode-contract violation, not data noise). */
  def compute(arr: ArrayData, dhash: Boolean): Long = {
    val n = arr.numElements()
    require(n % 3 == 0, s"thumbnail length $n is not interleaved RGB")
    val px = n / 3
    val side = math.sqrt(px.toDouble).toInt
    require(side * side == px, s"thumbnail of $px pixels is not square")
    val bits = math.min(px, 64)
    val luma = new Array[Float](px)
    var i = 0
    while (i < px) {
      luma(i) = 0.299f * arr.getFloat(3 * i) +
        0.587f * arr.getFloat(3 * i + 1) + 0.114f * arr.getFloat(3 * i + 2)
      i += 1
    }
    var sig = 0L
    if (dhash) {
      var b = 0
      while (b < bits) {
        val y = b / side
        val x = b % side
        val next = y * side + ((x + 1) % side)
        if (luma(b) < luma(next)) sig |= (1L << b)
        b += 1
      }
    } else {
      var sum = 0.0
      i = 0
      while (i < px) { sum += luma(i); i += 1 }
      val mean = sum / px
      var b = 0
      while (b < bits) {
        if (luma(b) > mean) sig |= (1L << b)
        b += 1
      }
    }
    sig
  }
}
