package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** 64-bit perceptual average-hash (aHash — the standard public
  * downsample-and-threshold fingerprint) over a binary P6 (netpbm) image
  * payload: luminance box-averaged onto an 8×8 grid, each cell emitting
  * one bit (above/below the grid mean). Visually-identical content
  * hashes identically regardless of resolution or byte-level
  * re-encoding — the property that joins the multimodal decode tier to
  * the hash-based dedup tier: phash(resize(img)) is within a few bits
  * of phash(img), so the SimHash-style 16-bit-chunk pigeonhole bucketing
  * ([[graft.operators.Multimodal.imageNearDups]]) finds re-encoded /
  * resized copies without any pairwise pixel comparison.
  *
  * Why native: the hash is a pure per-row function of the payload bytes
  * — as a codegen'd expression it runs inside the scan stage with no
  * mapPartitions boundary, no Dataset encoder round-trip of the payload,
  * and no shuffle. The box-average (not point-sampling) is what makes it
  * stable under nearest-neighbor resize. */
case class ImageAverageHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "image_avg_hash"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"image_avg_hash expects binary, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    ImageAverageHash.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = graft.functions.ImageAverageHash.compute($b);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ImageAverageHash {

  /** (width, height, maxval, pixelOffset) of a binary P6 header at
    * `start` — token whitespace and `#` comments per the netpbm spec.
    * Values are bounded (≤ 10^8) so `3·w·h` arithmetic stays safely in
    * Long. This is the canonical parser; the richer decode path
    * ([[graft.operators.Multimodal.PpmDecoder]]) delegates here. */
  def parseP6Header(bytes: Array[Byte], start: Int): (Int, Int, Int, Int) = {
    require(bytes.length - start >= 2 &&
      bytes(start) == 'P' && bytes(start + 1) == '6',
      "not a P6 ppm payload")
    var i = start + 2
    def nextInt(): Int = {
      var done = false
      while (!done) {
        while (i < bytes.length && bytes(i).toChar.isWhitespace) i += 1
        if (i < bytes.length && bytes(i) == '#') {
          while (i < bytes.length && bytes(i) != '\n') i += 1
        } else done = true
      }
      var v = 0L
      require(i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9',
        s"malformed ppm header at byte $i")
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        v = v * 10 + (bytes(i) - '0')
        require(v <= 100000000L, s"ppm header value too large at byte $i")
        i += 1
      }
      v.toInt
    }
    val (w, h, maxVal) = (nextInt(), nextInt(), nextInt())
    require(maxVal > 0 && maxVal < 65536, s"bad maxval $maxVal")
    i += 1 // exactly one whitespace byte separates header from pixels
    (w, h, maxVal, i)
  }

  /** The aHash kernel: 8×8 luminance box-average → mean threshold →
    * bit i set iff cell i is brighter than the mean. One pass over the
    * pixel bytes, 64 doubles of state. */
  def compute(bytes: Array[Byte]): Long = {
    val (w, h, maxVal, off) = parseP6Header(bytes, 0)
    require(maxVal < 256, "only 1-byte-per-sample ppm supported")
    require(bytes.length.toLong - off >= 3L * w * h,
      s"truncated ppm: ${bytes.length - off} pixel bytes for ${w}x$h")
    val cells = new Array[Double](64)
    var gy = 0
    while (gy < 8) {
      val y0 = gy * h / 8
      val y1 = math.max(y0 + 1, (gy + 1) * h / 8)
      var gx = 0
      while (gx < 8) {
        val x0 = gx * w / 8
        val x1 = math.max(x0 + 1, (gx + 1) * w / 8)
        var s = 0.0
        var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = off + 3 * (y * w + x)
            s += 0.299 * (bytes(p) & 0xff) + 0.587 * (bytes(p + 1) & 0xff) +
              0.114 * (bytes(p + 2) & 0xff)
            n += 1
            x += 1
          }
          y += 1
        }
        cells(gy * 8 + gx) = s / n
        gx += 1
      }
      gy += 1
    }
    var mean = 0.0
    var i = 0
    while (i < 64) { mean += cells(i); i += 1 }
    mean /= 64.0
    var bits = 0L
    i = 0
    while (i < 64) {
      if (cells(i) > mean) bits |= (1L << i)
      i += 1
    }
    bits
  }

  def imageAvgHash(payload: Column): Column =
    ColumnBridge.column(ImageAverageHash(ColumnBridge.expression(payload)))
}
