package graft.raster

import java.nio.{ByteBuffer, ByteOrder}
import scala.annotation.switch

/** The non-nodata cells of a row-major grid as parallel arrays: cell
  * index (row * width + col, ascending) and value.
  */
final class SparseCells(val index: Array[Int], val value: Array[Double]) {
  def size: Int = index.length
}

/** Raster sample codec shared by [[TileStore]] regions and [[Tiff]]
  * strips: the dtype names of the store's ladder (Constants.DtypeOrder,
  * plus int8), each decoded in one `while` loop whose per-cell dispatch is
  * an Int switch resolved once per call, not a string match per cell.
  */
private[raster] object Samples {
  private final val U8 = 0
  private final val I8 = 1
  private final val U16 = 2
  private final val I16 = 3
  private final val U32 = 4
  private final val I32 = 5
  private final val I64 = 6
  private final val F32 = 7
  private final val F64 = 8

  private[raster] def code(dtype: String): Int = dtype match {
    case "uint8" => U8
    case "int8" => I8
    case "uint16" => U16
    case "int16" => I16
    case "uint32" => U32
    case "int32" => I32
    case "int64" | "uint64" => I64
    case "float32" => F32
    case "float64" => F64
    case other => throw new IllegalArgumentException(s"unsupported raster dtype $other")
  }

  def bytesPer(dtype: String): Int = (code(dtype): @switch) match {
    case U8 | I8 => 1
    case U16 | I16 => 2
    case U32 | I32 | F32 => 4
    case _ => 8
  }

  /** `v` narrowed to the dtype of [[code]] `c`: the sample's bits, in the
    * low bytes of a Long.
    */
  @inline private[raster] def bits(c: Int, v: Double): Long = (c: @switch) match {
    case U8 | I8 => v.toByte & 0xffL
    case U16 | I16 => v.toInt.toShort & 0xffffL
    case U32 | I32 => v.toLong.toInt & 0xffffffffL
    case I64 => if (v.isNaN) 0L else if (v >= Long.MaxValue.toDouble) Long.MaxValue else v.toLong
    case F32 => java.lang.Float.floatToRawIntBits(v.toFloat) & 0xffffffffL
    case _ => java.lang.Double.doubleToRawLongBits(v)
  }

  /** Writes sample `i` of `width` bytes ([[bytesPer]]) from its [[bits]]. */
  @inline private[raster] def put(bb: ByteBuffer, width: Int, i: Int, bits: Long): Unit =
    (width: @switch) match {
      case 1 => bb.put(i, bits.toByte)
      case 2 => bb.putShort(i * 2, bits.toShort)
      case 4 => bb.putInt(i * 4, bits.toInt)
      case _ => bb.putLong(i * 8, bits)
    }

  /** The [[bits]] of sample `i` of `width` bytes. */
  @inline private[raster] def get(bb: ByteBuffer, width: Int, i: Int): Long =
    (width: @switch) match {
      case 1 => bb.get(i) & 0xffL
      case 2 => bb.getShort(i * 2) & 0xffffL
      case 4 => bb.getInt(i * 4) & 0xffffffffL
      case _ => bb.getLong(i * 8)
    }

  /** `data` narrowed to `dtype` as little-endian bytes, and the number of
    * cells that are not `nodata` (counted in the same pass).
    */
  def encode(data: Array[Double], dtype: String, nodata: Double): (Array[Byte], Long) = {
    val c = code(dtype)
    val width = bytesPer(dtype)
    val bb = ByteBuffer.allocate(data.length * width).order(ByteOrder.LITTLE_ENDIAN)
    // the NaN-safe nodata test of nonNodata with the sentinel's NaN check
    // hoisted: the same cells, one compare per cell (measured 2.7 -> 1.8
    // ms per 1M-cell uint8 region with a NaN sentinel, JDK 17 on a
    // 4-vCPU VM)
    val nanNodata = nodata.isNaN
    var burned = 0L
    var i = 0
    while (i < data.length) {
      val v = data(i)
      if (if (nanNodata) !v.isNaN else v != nodata) burned += 1
      put(bb, width, i, bits(c, v))
      i += 1
    }
    (bb.array(), burned)
  }

  @inline private def sample(bb: ByteBuffer, c: Int, i: Int): Double = (c: @switch) match {
    case U8 => (bb.get(i) & 0xff).toDouble
    case I8 => bb.get(i).toDouble
    case U16 => (bb.getShort(i * 2) & 0xffff).toDouble
    case I16 => bb.getShort(i * 2).toDouble
    case U32 => (bb.getInt(i * 4).toLong & 0xffffffffL).toDouble
    case I32 => bb.getInt(i * 4).toDouble
    case I64 => bb.getLong(i * 8).toDouble
    case F32 => bb.getFloat(i * 4).toDouble
    case _ => bb.getDouble(i * 8)
  }

  /** The first `n` samples of `bb` (in its byte order) as doubles. */
  def decode(bb: ByteBuffer, dtype: String, n: Int): Array[Double] = {
    val c = code(dtype)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = sample(bb, c, i)
      i += 1
    }
    out
  }

  /** Only the non-nodata cells among the first `n` samples of `bb`, with
    * no per-cell allocation: cost scales with the burned cells kept, not
    * with boxing every cell of the grid.
    */
  def nonNodata(bb: ByteBuffer, dtype: String, n: Int, nodata: Double): SparseCells = {
    val c = code(dtype)
    var index = new Array[Int](64)
    var value = new Array[Double](64)
    var k = 0
    var i = 0
    while (i < n) {
      val v = sample(bb, c, i)
      // NaN-safe: a NaN sentinel matches NaN cells
      if (!(v == nodata || (v.isNaN && nodata.isNaN))) {
        if (k == index.length) {
          index = java.util.Arrays.copyOf(index, k * 2)
          value = java.util.Arrays.copyOf(value, k * 2)
        }
        index(k) = i
        value(k) = v
        k += 1
      }
      i += 1
    }
    new SparseCells(java.util.Arrays.copyOf(index, k), java.util.Arrays.copyOf(value, k))
  }

  /** One row per cell of `cells`, the raster->vector emitter of both
    * cell readers. Cell index `idx` sits at grid row
    * `r = rowOffset + idx / width`, column `c = idx % width`; its box is
    * x in [originX + c * cellX, + cellX], y in [maxy - cellY, maxy] with
    * `maxy = originY - r * cellY`. `row` gets r, c, the value and the
    * box as WKB.
    */
  def cellBoxes[T](cells: SparseCells, width: Int, rowOffset: Int,
      originX: Double, originY: Double, cellX: Double, cellY: Double)(
      row: (Int, Int, Double, Array[Byte]) => T): Iterator[T] =
    Iterator.range(0, cells.size).map { k =>
      val idx = cells.index(k)
      val r = rowOffset + idx / width
      val c = idx % width
      val minx = originX + c * cellX
      val maxy = originY - r * cellY
      row(r, c, cells.value(k),
        graft.geo.Wkb.boxWkb(minx, maxy - cellY, minx + cellX, maxy))
    }
}

/** One tile region being burned: `cells` samples of `dtype` as the
  * little-endian bytes a region file stores ([[Samples.encode]]'s
  * layout). [[reset]] fills it with the nodata sample by block copies,
  * and [[fill]] writes a span of cells, so a tile costs one memory fill
  * plus its burned cells. [[burnedCells]] is kept exact as spans land,
  * overwrites included: it counts the cells whose sample is not the
  * sentinel.
  */
private[raster] final class RegionBytes(dtype: String, nodata: Double, cells: Int) {
  private val code = Samples.code(dtype)
  private val width = Samples.bytesPer(dtype)
  val bytes = new Array[Byte](cells * width)
  private val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
  private val nodataBits = Samples.bits(code, nodata)
  private var burned = 0L

  def burnedCells: Long = burned

  /** Every cell to nodata: one sample, then copies of the filled prefix
    * that double it.
    */
  def reset(): Unit = {
    if (cells > 0) Samples.put(bb, width, 0, nodataBits)
    var n = width
    while (n < bytes.length) {
      val len = math.min(n, bytes.length - n)
      System.arraycopy(bytes, 0, bytes, n, len)
      n += len
    }
    burned = 0L
  }

  /** The bits [[fill]] stores for `value`. A nodata value (NaN-safe, so
    * any NaN under a NaN sentinel) stores the sentinel's own bits, so a
    * cell counts as burned exactly when it reads back as not nodata.
    */
  def bitsOf(value: Double): Long =
    if (value == nodata || (value.isNaN && nodata.isNaN)) nodataBits
    else Samples.bits(code, value)

  /** Sets cells `from until until` to `bits` (from [[bitsOf]]). */
  def fill(from: Int, until: Int, bits: Long): Unit = {
    val data = bits != nodataBits
    var i = from
    while (i < until) {
      if ((Samples.get(bb, width, i) == nodataBits) == data) burned += (if (data) 1 else -1)
      Samples.put(bb, width, i, bits)
      i += 1
    }
  }
}
