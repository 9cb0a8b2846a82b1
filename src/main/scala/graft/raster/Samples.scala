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

  private def code(dtype: String): Int = dtype match {
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

  /** `data` narrowed to `dtype` as little-endian bytes, and the number of
    * cells that are not `nodata` (counted in the same pass).
    */
  def encode(data: Array[Double], dtype: String, nodata: Double): (Array[Byte], Long) = {
    val c = code(dtype)
    val bb = ByteBuffer.allocate(data.length * bytesPer(dtype))
      .order(ByteOrder.LITTLE_ENDIAN)
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
      (c: @switch) match {
        case U8 | I8 => bb.put(i, v.toByte)
        case U16 | I16 => bb.putShort(i * 2, v.toInt.toShort)
        case U32 | I32 => bb.putInt(i * 4, v.toLong.toInt)
        case I64 => bb.putLong(i * 8,
          if (v.isNaN) 0L else if (v >= Long.MaxValue.toDouble) Long.MaxValue else v.toLong)
        case F32 => bb.putFloat(i * 4, v.toFloat)
        case _ => bb.putDouble(i * 8, v)
      }
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
