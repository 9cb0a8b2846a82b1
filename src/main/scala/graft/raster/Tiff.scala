package graft.raster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{Deflater, Inflater}
import scala.collection.mutable

/** GeoTIFF raster source (reference S7: `open_dataset` dispatches
  * rasterio-driver extensions — `.tif` — via engine inference,
  * `_raster.py:444-453`; the repo's raster goldens are "tiny tif"
  * fixtures, `tests/data/`). No GDAL/rasterio ships in this image, so
  * the container is parsed from scratch against the PUBLIC TIFF 6.0
  * specification (Adobe, 1992) + the OGC GeoTIFF 1.1 georeferencing
  * tags: classic TIFF in either byte order (II/MM), the first IFD's
  * 12-byte entries, strip-organised single-band sample data
  * (uncompressed or DEFLATE, decoded with `java.util.zip.Inflater` —
  * the JDK's zlib), sample formats uint/int 8/16/32 and float 32/64,
  * and ModelPixelScale (33550) / ModelTiepoint (33922) for the
  * geotransform.
  *
  * Scale shape: the IFD + strip table parse on the driver (bytes, not
  * pixels); pixel decode runs on the executors, the strips read as the
  * input partitions of the same [[CellScan]] as
  * [[RasterPipeline.fromTileStore]], so a large raster decompresses in
  * parallel and the cells enter the engine's (row, col, value,
  * geometry-WKB) contract with no driver materialization.
  */
object Tiff {

  final case class Info(
      width: Int, height: Int, bits: Int, sampleFormat: Int,
      compression: Int, rowsPerStrip: Int,
      stripOffsets: Seq[Long], stripCounts: Seq[Long],
      cellSizeX: Double, cellSizeY: Double,
      originX: Double, originY: Double, littleEndian: Boolean) {
    def dtype: String = (sampleFormat, bits) match {
      case (3, 32) => "float32"
      case (3, 64) => "float64"
      case (2, b) => s"int$b"
      case (_, b) => s"uint$b"
    }
  }

  // ------------------------------------------------------------------
  // header / IFD parse (driver-side; bytes not pixels)
  // ------------------------------------------------------------------

  def info(path: String): Info = {
    val head = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val little = (head(0), head(1)) match {
      case ('I', 'I') => true
      case ('M', 'M') => false
      case _ => throw new IllegalArgumentException(s"$path: not a TIFF")
    }
    val order = if (little) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
    val b = ByteBuffer.wrap(head).order(order)
    require((b.getShort(2) & 0xffff) == 42, s"$path: bad TIFF magic")
    val ifdOff = b.getInt(4)
    val nEntries = b.getShort(ifdOff) & 0xffff
    // tag -> (type, count, valueFieldOffset)
    val entries = (0 until nEntries).map { i =>
      val eo = ifdOff + 2 + i * 12
      val tag = b.getShort(eo) & 0xffff
      val typ = b.getShort(eo + 2) & 0xffff
      val count = b.getInt(eo + 4)
      (tag, (typ, count, eo + 8))
    }.toMap

    def typeSize(t: Int): Int = t match {
      case 1 | 2 | 6 | 7 => 1; case 3 | 8 => 2; case 4 | 9 | 11 => 4
      case 5 | 10 | 12 => 8
      case other => throw new IllegalArgumentException(s"TIFF type $other")
    }
    def valueBase(typ: Int, count: Int, vo: Int): Int =
      if (typeSize(typ) * count <= 4) vo else b.getInt(vo)
    def longs(tag: Int): Seq[Long] = entries.get(tag) match {
      case None => Seq.empty
      case Some((typ, count, vo)) =>
        val base = valueBase(typ, count, vo)
        (0 until count).map { k =>
          typ match {
            case 3 => (b.getShort(base + k * 2) & 0xffff).toLong
            case 4 => b.getInt(base + k * 4) & 0xffffffffL
            case 1 => (b.get(base + k) & 0xff).toLong
            case other =>
              throw new IllegalArgumentException(s"tag $tag: TIFF type $other")
          }
        }
    }
    def doubles(tag: Int): Seq[Double] = entries.get(tag) match {
      case None => Seq.empty
      case Some((typ, count, vo)) =>
        require(typ == 12, s"tag $tag: expected DOUBLE, got type $typ")
        val base = valueBase(typ, count, vo)
        (0 until count).map(k => b.getDouble(base + k * 8))
    }
    def long1(tag: Int, default: Long): Long = longs(tag).headOption.getOrElse(default)

    val width = long1(256, -1).toInt
    val height = long1(257, -1).toInt
    require(width > 0 && height > 0, s"$path: missing ImageWidth/Length")
    require(long1(277, 1) == 1,
      s"$path: only single-band rasters supported (SamplesPerPixel != 1)")
    require(!entries.contains(322),
      s"$path: tile-organised TIFF not supported (strip layout only)")
    val compression = long1(259, 1).toInt
    require(compression == 1 || compression == 8 || compression == 32946,
      s"$path: unsupported compression $compression (none/DEFLATE only)")
    val bits = long1(258, 1).toInt
    val sampleFormat = long1(339, 1).toInt
    val rps = long1(278, height.toLong).toInt
    val scale = doubles(33550)
    val tie = doubles(33922)
    val (csx, csy) = if (scale.length >= 2) (scale(0), scale(1)) else (1.0, 1.0)
    // tiepoint (i,j,k, x,y,z): raster (i,j) pins model (x,y); i=j=0 at
    // the top-left corner in the common case
    val (ox, oy) =
      if (tie.length >= 5) (tie(3) - tie(0) * csx, tie(4) + tie(1) * csy)
      else (0.0, height * csy)
    Info(width, height, bits, sampleFormat, compression, rps,
      longs(273), longs(279), csx, csy, ox, oy, little)
  }

  // ------------------------------------------------------------------
  // strip decode
  // ------------------------------------------------------------------

  private def inflate(data: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new Array[Byte](expected)
    var off = 0
    while (off < expected && !inf.finished()) {
      val n = inf.inflate(out, off, expected - off)
      if (n == 0 && inf.needsInput())
        throw new IllegalArgumentException("truncated DEFLATE strip")
      off += n
    }
    inf.end()
    require(off == expected, s"strip inflated to $off of $expected bytes")
    out
  }

  /** One strip's raw (possibly compressed) bytes as its samples,
    * row-major within the strip, in the file's byte order.
    */
  private def stripSamples(raw: Array[Byte], inf: Info, stripRows: Int): ByteBuffer = {
    require(Decodable.contains(inf.dtype),
      s"sample format ${inf.sampleFormat}/${inf.bits}")
    val expected = stripRows * inf.width * (inf.bits / 8)
    val data =
      if (inf.compression == 1) raw
      else inflate(raw, expected)
    require(data.length >= expected, "short strip")
    ByteBuffer.wrap(data)
      .order(if (inf.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
  }

  private val Decodable =
    Set("uint8", "int8", "uint16", "int16", "uint32", "int32", "float32", "float64")

  /** Full driver-side decode (specs + tiny goldens): row-major pixels. */
  def readPixels(path: String): (Info, Array[Double]) = {
    val inf = info(path)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val out = new Array[Double](inf.width * inf.height)
    inf.stripOffsets.indices.foreach { s =>
      val rows = math.min(inf.rowsPerStrip, inf.height - s * inf.rowsPerStrip)
      val raw = java.util.Arrays.copyOfRange(bytes,
        inf.stripOffsets(s).toInt,
        (inf.stripOffsets(s) + inf.stripCounts(s)).toInt)
      System.arraycopy(Samples.decode(stripSamples(raw, inf, rows), inf.dtype, rows * inf.width),
        0, out, s * inf.rowsPerStrip * inf.width, rows * inf.width)
    }
    (inf, out)
  }

  /** Distributed read, a [[CellScan]] over the strips (one job, no
    * exchange), same cell contract as [[RasterPipeline.fromTileStore]]:
    * (row, col, value, cell box as WKB). `nodata` cells are dropped
    * (NaN-safe).
    */
  def cells(spark: org.apache.spark.sql.SparkSession, path: String,
      nodata: Double = Double.NaN): DataFrame = {
    val inf = info(path) // driver-side header parse (bytes, not pixels)
    CellScan.frame(spark, inf.stripOffsets.indices, CellsSchema) { strips =>
      val out = new CellRows(4)
      strips.flatMap { s =>
        val rows = math.min(inf.rowsPerStrip, inf.height - s * inf.rowsPerStrip)
        val raf = new java.io.RandomAccessFile(path, "r")
        val raw = new Array[Byte](inf.stripCounts(s).toInt)
        try { raf.seek(inf.stripOffsets(s)); raf.readFully(raw) }
        finally raf.close()
        val cells = Samples.nonNodata(stripSamples(raw, inf, rows), inf.dtype,
          rows * inf.width, nodata)
        out.rows(cells.size) { k =>
          val r = s * inf.rowsPerStrip + cells.index(k) / inf.width
          val c = cells.index(k) % inf.width
          out.row.write(0, r.toLong)
          out.row.write(1, c.toLong)
          out.row.write(2, cells.value(k))
          out.box(3, inf.originX + c * inf.cellSizeX, inf.originY - r * inf.cellSizeY,
            inf.cellSizeX, inf.cellSizeY)
          true
        }
      }
    }
  }

  private val CellsSchema =
    StructType.fromDDL("row BIGINT NOT NULL, col BIGINT NOT NULL, value DOUBLE NOT NULL, geometry BINARY")

  // ------------------------------------------------------------------
  // writer (test fixtures + golden generation): single band, strips
  // ------------------------------------------------------------------

  /** Write a single-band GeoTIFF. `dtype`: uint8 | int16 | uint16 |
    * int32 | float32 | float64. Little-endian, strip-organised,
    * optionally DEFLATE-compressed, with ModelPixelScale/Tiepoint
    * georeferencing (top-left origin).
    */
  def write(path: String, width: Int, height: Int, data: Array[Double],
      dtype: String = "uint8", cellSize: Double = 10.0,
      originX: Double = 0.0, originY: Double = 0.0,
      deflate: Boolean = true, rowsPerStrip: Int = 64): Unit = {
    require(data.length == width * height, "data length != width*height")
    val (bits, sampleFormat) = dtype match {
      case "uint8" => (8, 1); case "uint16" => (16, 1); case "uint32" => (32, 1)
      case "int16" => (16, 2); case "int32" => (32, 2)
      case "float32" => (32, 3); case "float64" => (64, 3)
      case other => throw new IllegalArgumentException(s"dtype $other")
    }
    val bytesPer = bits / 8
    val oy = if (originY == 0.0) height * cellSize else originY

    def encodeRows(r0: Int, rows: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(rows * width * bytesPer)
        .order(ByteOrder.LITTLE_ENDIAN)
      (0 until rows * width).foreach { i =>
        val v = data(r0 * width + i)
        dtype match {
          case "uint8" => b.put(i, (v.toLong & 0xff).toByte)
          case "uint16" => b.putShort(i * 2, (v.toLong & 0xffff).toShort)
          case "uint32" => b.putInt(i * 4, (v.toLong & 0xffffffffL).toInt)
          case "int16" => b.putShort(i * 2, v.toInt.toShort)
          case "int32" => b.putInt(i * 4, v.toInt)
          case "float32" => b.putFloat(i * 4, v.toFloat)
          case "float64" => b.putDouble(i * 8, v)
        }
      }
      b.array()
    }
    def compress(raw: Array[Byte]): Array[Byte] =
      if (!deflate) raw
      else {
        val d = new Deflater(Deflater.BEST_SPEED)
        d.setInput(raw); d.finish()
        val out = new ByteArrayOutputStream(raw.length / 2 + 64)
        val buf = new Array[Byte](8192)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        d.end()
        out.toByteArray
      }

    val nStrips = (height + rowsPerStrip - 1) / rowsPerStrip
    val stripData = (0 until nStrips).map { s =>
      val r0 = s * rowsPerStrip
      compress(encodeRows(r0, math.min(rowsPerStrip, height - r0)))
    }

    // layout: 8-byte header | IFD | external arrays | strips
    val tags = mutable.ArrayBuffer.empty[(Int, Int, Int, Either[Long, Int])]
    // (tag, type, count, Left(inline value) | Right(external slot idx))
    val external = mutable.ArrayBuffer.empty[Array[Byte]]
    def extSlot(bytes: Array[Byte]): Int = { external += bytes; external.length - 1 }
    def leBytes(vs: Seq[Long], size: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(vs.length * size).order(ByteOrder.LITTLE_ENDIAN)
      vs.zipWithIndex.foreach { case (v, i) =>
        size match {
          case 2 => b.putShort(i * 2, v.toShort); case 4 => b.putInt(i * 4, v.toInt)
        }
      }
      b.array()
    }
    def dblBytes(vs: Seq[Double]): Array[Byte] = {
      val b = ByteBuffer.allocate(vs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      vs.zipWithIndex.foreach { case (v, i) => b.putDouble(i * 8, v) }
      b.array()
    }

    tags += ((256, 4, 1, Left(width.toLong)))
    tags += ((257, 4, 1, Left(height.toLong)))
    tags += ((258, 3, 1, Left(bits.toLong)))
    tags += ((259, 3, 1, Left(if (deflate) 8L else 1L)))
    tags += ((262, 3, 1, Left(1L))) // BlackIsZero
    // 273 StripOffsets patched after layout
    tags += ((277, 3, 1, Left(1L)))
    tags += ((278, 4, 1, Left(rowsPerStrip.toLong)))
    // 279 StripByteCounts
    tags += ((339, 3, 1, Left(sampleFormat.toLong)))
    tags += ((33550, 12, 3, Right(extSlot(dblBytes(Seq(cellSize, cellSize, 0.0))))))
    tags += ((33922, 12, 6, Right(extSlot(dblBytes(Seq(0.0, 0.0, 0.0, originX, oy, 0.0))))))

    val stripCounts = stripData.map(_.length.toLong)
    val offsetsSlot =
      if (nStrips == 1) -1 else extSlot(new Array[Byte](nStrips * 4)) // patched
    val countsSlot =
      if (nStrips == 1) -1 else extSlot(leBytes(stripCounts, 4))

    val allTags = (tags.toSeq ++ Seq(
      (273, 4, nStrips, if (nStrips == 1) Left(0L) else Right(offsetsSlot)),
      (279, 4, nStrips, if (nStrips == 1) Left(stripCounts.head) else Right(countsSlot))
    )).sortBy(_._1)

    val ifdOff = 8
    val ifdSize = 2 + allTags.length * 12 + 4
    var extOff = ifdOff + ifdSize
    val extOffsets = external.map { e =>
      val o = extOff; extOff += e.length + (e.length & 1); o
    }
    var stripOff = extOff
    val stripOffsets = stripData.map { s =>
      val o = stripOff; stripOff += s.length + (s.length & 1); o.toLong
    }
    // patch strip-offset array into its external slot
    if (offsetsSlot >= 0) external(offsetsSlot) = leBytes(stripOffsets, 4)

    val out = ByteBuffer.allocate(stripOff).order(ByteOrder.LITTLE_ENDIAN)
    out.put(0, 'I'.toByte); out.put(1, 'I'.toByte); out.putShort(2, 42)
    out.putInt(4, ifdOff)
    out.putShort(ifdOff, allTags.length.toShort)
    allTags.zipWithIndex.foreach { case ((tag, typ, count, v), i) =>
      val eo = ifdOff + 2 + i * 12
      out.putShort(eo, tag.toShort)
      out.putShort(eo + 2, typ.toShort)
      out.putInt(eo + 4, count)
      val value: Long = v match {
        case Left(x) =>
          if (tag == 273 && nStrips == 1) stripOffsets.head else x
        case Right(slot) => extOffsets(slot).toLong
      }
      if (typ == 3 && count == 1) out.putShort(eo + 8, value.toShort)
      else out.putInt(eo + 8, value.toInt)
    }
    out.putInt(ifdOff + 2 + allTags.length * 12, 0) // next-IFD = none
    external.zip(extOffsets).foreach { case (e, o) =>
      e.zipWithIndex.foreach { case (x, i) => out.put(o + i, x) }
    }
    stripData.zip(stripOffsets).foreach { case (s, o) =>
      s.zipWithIndex.foreach { case (x, i) => out.put(o.toInt + i, x) }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), out.array())
  }
}
